package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ml.TextClustering
import graft.sources.Tables
import graft.streaming.{FileTweetSource, StreamingCollector}
import graft.tweets.Tweet

/** The paper's pipeline over a fixed archive of JSON statuses: replay the
  * archive through the collector (one file per trigger), serve the README's
  * SQL transcript over the collected table, then featurize the texts and
  * fit K-Means (k = 10, 20 iterations) and assign every text. */
final class TweetPipeline(spark: SparkSession, dir: String, rec: Recorder)
    extends Main.Workload {
  import spark.implicits._

  private val archive = s"$dir/in/tweets"
  private val archiveFiles = new java.io.File(archive).list().count(_.endsWith(".json"))
  private val archiveRows = Files.readAllLines(Paths.get(s"$dir/in/tweets.count")).get(0).trim.toLong

  private val collectS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val passFacts = scala.collection.mutable.ArrayBuffer.empty[String]
  private var iterations = 0

  private def work(pass: Int) = s"$dir/work/pass$pass"

  override def prepare(pass: Int): Unit = {
    if (pass > 0) Util.deleteTree(work(pass - 1))
  }

  def run(pass: Int, check: Boolean): Unit = {
    val lines = s"${work(pass)}/lines"
    val t0 = System.nanoTime()
    val collected = rec.span("collector") {
      val c = new StreamingCollector(lines, Long.MaxValue,
        checkpointDir = Some(s"${work(pass)}/checkpoint"),
        trigger = Some(Trigger.AvailableNow()))
      val q = c.start(new FileTweetSource(archive, Some(1)).stream(spark))
      rec.nameQuery(q.id, "collector")
      q.awaitTermination()
      c.collected
    }
    if (!check) collectS += (System.nanoTime() - t0) / 1e9

    val (nRows, nNotNull, groups, typed) = rec.span("sql") {
      Tables.registerTwitterPresi(spark, s"$lines/batch_*")
      val n = spark.sql("select count(*) from twitter_presi").head().getLong(0)
      val nn = spark.sql(
        "select text from twitter_presi where text is not null").count()
      val lim = spark.sql("select text from twitter_presi limit 2").count()
      val star = spark.sql("select * from twitter_presi").limit(2).count()
      require(lim == 2 && star == 2, s"LIMIT 2 returned $lim and $star rows")
      val g = spark.sql(
        "select text, count(*) as n from twitter_presi group by text")
        .as[(String, Long)].collect()
      val t = spark.sql("select * from twitter_presi").as[Tweet].collect()
      (n, nn, g, t)
    }
    val feats = rec.span("featurize") {
      val f = TextClustering.featurize(spark.sql(
          "select text from twitter_presi where text is not null"))
        .persist()
      f.count()
      f
    }
    try {
      val model = rec.span("kmeans")(TextClustering.fitKMeans(feats))
      iterations = model.summary.numIter
      val assigned = model.transform(feats)
      val sizes = rec.span("assign") {
        assigned.groupBy($"prediction").count().as[(Int, Long)].collect()
      }
      passFacts += s"[$collected,$nRows,$nNotNull,${typed.length},${sizes.map(_._2).sum}]"
      if (check) {
        val out = s"$dir/out"
        Files.createDirectories(Paths.get(out))
        spark.read.text(s"$lines/batch_*").write.mode("overwrite").text(s"$out/lines")
        groups.toSeq.toDF("text", "n").write.mode("overwrite").parquet(s"$out/group_by_text")
        assigned.select(vector_to_array($"features").as("x"), $"prediction")
          .write.mode("overwrite").parquet(s"$out/assignments")
        val centers = model.clusterCenters.map(_.toArray.map(Json.num).mkString("[", ",", "]"))
        Util.write(s"$out/centers.json", centers.mkString("[", ",\n", "]"))
        Util.write(s"$out/sql.json", Json.obj(Seq(
          "collected" -> collected.toString, "count" -> nRows.toString,
          "not_null" -> nNotNull.toString, "typed_rows" -> typed.length.toString,
          "typed_null_text" -> typed.count(_.text == null).toString,
          "cluster_sizes" -> sizes.map(_._2).sum.toString)))
      }
    } finally { val _ = feats.unpersist() }
  }

  def opMs(rec: Recorder): Seq[Double] =
    rec.triggersOf("collector").map(_.durationMs("triggerExecution").toDouble)

  def layers(rec: Recorder, passes: Int): Seq[(String, Double)] = {
    val trig = rec.triggersOf("collector")
    val l = rec.layers
    def per(name: String)(f: Recorder.LayerTotals => Double): Double =
      l.get(name).map(f).getOrElse(0.0) / passes
    Util.TriggerParts.map { p =>
      s"collector.trigger.${p}_p50_ms" ->
        Recorder.median(trig.map(_.durationMs.getOrElse(p, 0L).toDouble))
    } ++ Seq(
      "collector.rows_per_s" -> archiveRows * collectS.size / collectS.sum,
      "collector.jobs_per_trigger" ->
        l("collector").jobs.toDouble / math.max(1, trig.size),
      "collector.task_s" -> per("collector")(_.taskMs / 1e3),
      "sql.wall_s" -> per("sql")(_.wallNs / 1e9),
      "sql.jobs" -> per("sql")(_.jobs.toDouble),
      "featurize.wall_s" -> per("featurize")(_.wallNs / 1e9),
      "featurize.task_s" -> per("featurize")(_.taskMs / 1e3),
      "kmeans.wall_s" -> per("kmeans")(_.wallNs / 1e9),
      "kmeans.jobs" -> per("kmeans")(_.jobs.toDouble),
      "kmeans.iterations" -> iterations.toDouble)
  }

  def summary: Seq[(String, String)] = Seq(
    "archive_files" -> archiveFiles.toString,
    "archive_rows" -> archiveRows.toString,
    "collector_triggers" -> rec.triggersOf("collector").size.toString,
    "passes" -> passFacts.drop(1).mkString("[", ",", "]"))
}
