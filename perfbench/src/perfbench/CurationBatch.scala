package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Dedup
import graft.sources.Tables

/** A fixed set of LLM-curation entries from `SparkEntry.queries` over a
  * generated `documents` + `embeddings` pair, each written to the `noop`
  * sink. The warm pass writes parquet instead, for the DuckDB comparison
  * against the `SparkEntry.oracleSql` twins. The unit operation is one
  * `near_dup_clusters` entry, the dedup ladder end to end. A pass is short
  * (about 5 s), so a run times three and reports medians. */
final class CurationBatch(spark: SparkSession, dir: String, rec: Recorder)
    extends Main.Workload {

  private val sfDir = s"$dir/in/sf"

  private val entryMs = mutable.ArrayBuffer.empty[Double]

  override def minPasses: Int = 3

  def run(pass: Int, check: Boolean): Unit =
    CurationBatch.Entries.foreach { name =>
      val t0 = System.nanoTime()
      rec.span(name) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (check) df.write.mode("overwrite").parquet(s"$dir/out/$name")
        else df.write.format("noop").mode("overwrite").save()
      }
      if (!check && name == CurationBatch.OpEntry)
        entryMs += (System.nanoTime() - t0) / 1e6
      else Util.write(s"$dir/out/$name.sql", SparkEntry.oracleSql(name))
    }

  def opMs(rec: Recorder): Seq[Double] = entryMs.toSeq

  def layers(rec: Recorder, passes: Int): Seq[(String, Double)] =
    CurationBatch.Entries.flatMap { name =>
      val t = rec.layers(name)
      Seq(s"$name.wall_s" -> t.wallNs / 1e9 / passes,
        s"$name.jobs" -> t.jobs.toDouble / passes,
        s"$name.task_s" -> t.taskMs / 1e3 / passes,
        s"$name.shuffle_mb" -> t.shuffleBytes / 1048576.0 / passes)
    }

  /** The near-dup ladder's three layers, timed one by one on the same
    * documents: MinHash band signatures, the verified pair set, and the
    * connected-components loop over those pairs. */
  override def traceOnly(rec: Recorder): Seq[(String, Double)] = {
    val docs = Tables.documents(spark, sfDir)
    rec.span("dedup.signatures") {
      docs.select(Dedup.bandKeys(col("text"), 5, 128, 8).as("bands"))
        .write.format("noop").mode("overwrite").save()
    }
    val pairs = rec.span("dedup.pairs")(Dedup.nearDupPairsOf(docs).localCheckpoint())
    val rounds = rec.span("dedup.clusters") {
      val (clusters, r) = Dedup.dupClustersWithRounds(pairs)
      clusters.write.format("noop").mode("overwrite").save()
      r
    }
    Seq("signatures", "pairs", "clusters").flatMap { l =>
      val t = rec.layers(s"dedup.$l")
      Seq(s"dedup.$l.wall_s" -> t.wallNs / 1e9, s"dedup.$l.jobs" -> t.jobs.toDouble)
    } :+ ("dedup.clusters.rounds" -> rounds.toDouble)
  }

  def summary: Seq[(String, String)] =
    Seq("entries" -> CurationBatch.Entries.map(Json.str).mkString("[", ",", "]"))
}

object CurationBatch {
  val Entries: Seq[String] = Seq("near_dup_clusters", "doc_curation_decisions")
  val OpEntry = "near_dup_clusters"
}
