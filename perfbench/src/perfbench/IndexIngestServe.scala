package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Bm25, Pq, Similarity}
import graft.streaming.{AnnStream, LexStream}
import graft.util.Compaction

/** Standing IVF (64 cells), PQ and BM25 indexes, built in set-up. Each pass
  * restores the built indexes, then
  *  1. ingests: a fixed archive of vectors through
  *     `AnnStream.autoRetrainIngestQuery`, with a file ceiling that the
  *     append crosses, so the loop compacts the whole corpus directory
  *     once per pass; then a fixed archive of documents through
  *     `LexStream.bm25IngestQuery`;
  *  2. serves: fixed query files through `AnnStream.ivfSearchQuery`,
  *     `AnnStream.pqSearchQuery` and `LexStream.bm25SearchQuery`, one file
  *     per trigger: every file in a timed pass, the first one in the checked
  *     warm pass.
  * The streams run one after another, never at the same time. The unit
  * operation is one serving round: the IVF, PQ and BM25 triggers over one
  * query file. */
final class IndexIngestServe(spark: SparkSession, dir: String, rec: Recorder)
    extends Main.Workload {

  private val in = s"$dir/in"
  private val built = s"$dir/built"
  private def work(pass: Int) = s"$dir/work/pass$pass"

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val queryTextSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("text", StringType)))


  // File ceiling for the vector loop's compaction watch: the built
  // layout's data-file count (one file per cell). The pass's one append
  // adds files, crosses it, and the loop compacts the whole corpus
  // directory once per pass.
  private var annCeiling = 0L
  private val ingestS = mutable.ArrayBuffer.empty[Double]
  private var ingestRows = 0L
  private var annCompactions = 0L
  private var corpusFiles = 0L

  override def setup(): Unit = {
    val corpus = spark.read.parquet(s"$in/corpus.parquet")
    rec.span("build.ivf") {
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, nlist = 64), s"$built/ivf")
    }
    rec.span("build.pq")(Pq.writePqIndex(corpus, Pq.train(corpus), s"$built/pq"))
    rec.span("build.bm25") {
      Bm25.writeBm25Index(spark.read.parquet(s"$in/docs.parquet"), s"$built/bm25")
    }
    annCeiling = Compaction.dataFileCount(spark, s"$built/ivf/corpus")
    ingestRows = spark.read.parquet(s"$in/append_vec").count() +
      spark.read.parquet(s"$in/append_docs").count()
  }

  override def prepare(pass: Int): Unit = {
    if (pass > 0) Util.deleteTree(work(pass - 1))
    Util.copyTree(s"$built/ivf", s"${work(pass)}/ivf")
    Util.copyTree(s"$built/bm25", s"${work(pass)}/bm25")
  }

  private def fileStream(d: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$in/$d")

  /** A query archive: its first file when checking, else all of them. */
  private def queryStream(d: String, schema: StructType, check: Boolean): DataFrame =
    fileStream(if (check) s"$d/${IndexIngestServe.CheckedQueries}" else d, schema)

  /** Configures (by name, so the span covers it), starts and drains one
    * stream. */
  private def runStream(name: String, pass: Int, w: => DataStreamWriter[Row]): Unit =
    rec.span(name) {
      val q = w.option("checkpointLocation", s"${work(pass)}/checkpoint/$name")
        .trigger(Trigger.AvailableNow()).start()
      rec.nameQuery(q.id, name)
      q.awaitTermination()
    }

  def run(pass: Int, check: Boolean): Unit = {
    val w = work(pass)
    val t0 = System.nanoTime()
    runStream("ann_ingest", pass,
      AnnStream.autoRetrainIngestQuery(fileStream("append_vec", vecSchema),
        AnnStream.prepareRetrainMonitor(spark, s"$w/ivf",
          healthFloorMicros = Long.MinValue, stateDir = Some(s"$w/ann_state"),
          autoCompactMaxFiles = Some(annCeiling))) {
        (row, _) =>
          val _ = row.collect()
          if (rec.tracing && Compaction.dataFileCount(spark, s"$w/ivf/corpus") <= annCeiling)
            annCompactions += 1
      })
    runStream("bm25_ingest", pass,
      LexStream.bm25IngestQuery(fileStream("append_docs", docSchema), s"$w/bm25") {
        (row, _) => val _ = row.collect()
      })
    if (!check) ingestS += (System.nanoTime() - t0) / 1e9

    val results = mutable.Map.empty[String, mutable.ArrayBuffer[Row]]
    def collecting(name: String)(topk: DataFrame, id: Long): Unit = {
      val rows = topk.collect()
      if (check) results.getOrElseUpdate(name, mutable.ArrayBuffer.empty) ++= rows
    }
    runStream("ivf", pass, AnnStream.ivfSearchQuery(
      queryStream("q_vec", vecSchema, check), s"$w/ivf", k = 10, nprobe = 4)(collecting("ivf")))
    runStream("pq", pass, AnnStream.pqSearchQuery(
      queryStream("q_vec", vecSchema, check), s"$built/pq", k = 10)(collecting("pq")))
    runStream("bm25", pass, LexStream.bm25SearchQuery(
      queryStream("q_text", queryTextSchema, check), s"$w/bm25", k = 10)(collecting("bm25")))

    if (check) {
      val out = s"$dir/out"
      results.foreach { case (name, rows) =>
        Util.write(s"$out/$name.json", rows.map { r =>
          Json.obj(r.schema.fieldNames.toSeq.map { f =>
            f -> (r.getAs[Any](f) match {
              case d: Double => Json.num(d)
              case v => v.toString
            })
          })
        }.mkString("[", ",\n", "]"))
      }
      spark.read.parquet(s"$w/ivf/corpus").select("vec_id", "cell")
        .write.mode("overwrite").parquet(s"$out/ivf_corpus_ids")
      // the probe-cell choice's inputs: centroids and the coarse tier
      Seq("centers", "coarse").foreach(m => Util.copyTree(s"$w/ivf/$m", s"$out/ivf_$m"))
      // data files per cell directory, after the last compaction
      val cells = new java.io.File(s"$w/ivf/corpus").listFiles().filter(_.isDirectory)
        .map(c => c.getName -> c.list().count(f => !f.startsWith(".") && !f.startsWith("_")))
      Util.write(s"$out/ivf_cells.json",
        Json.obj(cells.toSeq.sorted.map { case (c, n) => c -> n.toString }))
    }
    corpusFiles = Compaction.dataFileCount(spark, s"$w/ivf/corpus")
  }

  private val Serving = Seq("ivf", "pq", "bm25")

  /** Serving rounds: the i-th IVF, PQ and BM25 trigger times, summed. */
  def opMs(rec: Recorder): Seq[Double] =
    Serving.map(rec.triggersOf(_).map(_.durationMs("triggerExecution").toDouble))
      .transpose.map(_.sum)

  def layers(rec: Recorder, passes: Int): Seq[(String, Double)] = {
    def streamLayer(name: String): Seq[(String, Double)] = {
      val trig = rec.triggersOf(name)
      Util.TriggerParts.map { p =>
        s"$name.trigger.${p}_p50_ms" ->
          Recorder.median(trig.map(_.durationMs.getOrElse(p, 0L).toDouble))
      } ++ Seq(
        s"$name.trigger_p50_ms" ->
          Recorder.median(trig.map(_.durationMs("triggerExecution").toDouble)),
        s"$name.jobs_per_trigger" ->
          rec.layers(name).jobs.toDouble / math.max(1, trig.size))
    }
    Seq("ann_ingest", "bm25_ingest").flatMap(streamLayer) ++
      Serving.flatMap(streamLayer) ++ Seq(
        "ingest.rows_per_s" -> ingestRows * ingestS.size / ingestS.sum,
        "compaction.count" -> annCompactions.toDouble / (passes + 1),
        "index.corpus_files" -> corpusFiles.toDouble)
  }

  /** `Compaction.compactDir` on its own, as the ingest loop calls it on the
    * vector corpus: a copy of the built index takes the append archive
    * through `Similarity.appendToIvfIndex` (untimed; one more file per cell
    * it touches), and the span times the rewrite of the whole corpus
    * directory. Repeated `CompactionReps` times; medians reported. */
  override def traceOnly(rec: Recorder): Seq[(String, Double)] = {
    val filesIn = (1 to IndexIngestServe.CompactionReps).map { i =>
      val root = s"$dir/work/compaction$i"
      Util.copyTree(s"$built/ivf", root)
      Similarity.appendToIvfIndex(spark.read.parquet(s"$in/append_vec"), root)
      val n = Compaction.dataFileCount(spark, s"$root/corpus")
      rec.span("compaction") {
        Compaction.compactDir(spark, root, "corpus", partitionCol = Some("cell"))
      }
      Util.deleteTree(root)
      n.toDouble
    }
    val spans = rec.spans.filter(_.name == "compaction")
    Seq(
      "compaction.wall_s" -> Recorder.median(spans.map(s => (s.endNs - s.startNs) / 1e9).toSeq),
      "compaction.jobs" -> rec.layers("compaction").jobs.toDouble / filesIn.size,
      "compaction.files_in" -> Recorder.median(filesIn))
  }

  def summary: Seq[(String, String)] = Seq(
    "ann_ceiling" -> annCeiling.toString,
    "ann_compactions" -> annCompactions.toString,
    "serve_triggers" -> Json.obj(Serving.map(s => s -> rec.triggersOf(s).size.toString)))
}

object IndexIngestServe {
  val CompactionReps = 3
  /** The query file the checked warm pass serves (gen.CHECKED_QUERIES), as
    * a glob: the file stream source takes a directory or a glob, not a file. */
  val CheckedQueries = "part-00000*"
}
