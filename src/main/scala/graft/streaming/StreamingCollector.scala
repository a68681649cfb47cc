package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.Sanitize
import graft.tweets.TweetSchema

/** Structured Streaming rebuild of the reference's collection pipeline
  * (TwitterStreamingCollector.scala:71-105): source → track filter → language
  * filter → sanitize/project to pipe-delimited lines → per-batch text sink,
  * with a running counter and stop-after-N termination.
  *
  * The transforms are plain column expressions shared verbatim between
  * streaming and batch (the specs assert byte-equality), so Catalyst plans and
  * codegens them identically in both modes. Per micro-batch the only action
  * is the write, and the batch's row count is observed on it
  * (`Dataset.observe`) instead of costing a job of its own (the reference
  * computed `rdd.count()` twice — quirk Q2, fixed here).
  *
  * Scale notes: the filters and projection are narrow, stateless, and
  * shuffle-free — at firehose rates the pipeline is bounded by source
  * ingestion, not compute. The sink writes each batch to its own directory
  * (`batch_<id>`) with overwrite, making replays idempotent; the reference
  * wrote one fixed path every batch, which collides after the first non-empty
  * batch (quirk Q3 — conscious divergence, SURVEY.md §2.6 T5).
  */
object StreamingCollector {

  /** S2 — track filter: keep statuses whose text contains any track keyword
    * (server-side `track` semantics of TwitterStreamingCollector.scala:33,71
    * re-expressed as a post-source predicate). */
  def trackFilter(statuses: DataFrame,
      keywords: Seq[String] = TweetSchema.trackKeywords): DataFrame =
    statuses.filter(
      keywords.map(k => col("text").contains(k)).reduce(_ || _))

  /** P1 — language filter, null-safe through user/lang
    * (TwitterStreamingCollector.scala:73-77). */
  def frenchOnly(statuses: DataFrame): DataFrame =
    statuses.filter(coalesce(col("user.lang"), lit("")).startsWith("fr"))

  /** P7+P2-P6 — `formatStatus` as a streaming projection: sanitize the text,
    * render null-safe geo and the legacy timestamp, pipe-join to one line
    * (TwitterStreamingCollector.scala:56-69,80). */
  def toLines(statuses: DataFrame): DataFrame =
    statuses.select(Sanitize.encodePipe(
      col("text"),
      col("geo.latitude").cast("float"),
      col("geo.longitude").cast("float"),
      col("created_at")).as("line"))

  /** The full collection transform: source statuses → interchange lines. */
  def pipeline(statuses: DataFrame,
      keywords: Seq[String] = TweetSchema.trackKeywords): DataFrame =
    toLines(frenchOnly(trackFilter(statuses, keywords)))
}

/** One collection run: owns the running counter (A4) and the stop flag (L4).
  *
  * `foreachBatch` closures execute on the driver — the same guarantee the
  * reference's `foreachRDD` relied on for its mutable total
  * (TwitterStreamingCollector.scala:12,88) — so plain volatile state works.
  *
  * Each batch is counted by its write, through a fresh `Observation` per
  * batch (an instance serves one action). It is read only after the write
  * returned, so a failed write throws instead of blocking the read. An empty
  * batch's `batch_<id>` directory is removed after its write.
  *
  * @param outputDir   text-sink root; each batch lands in `batch_<id>/`
  * @param numTweetsToCollect stop threshold; termination keeps the
  *                    reference's quirk-Q4 semantics: stop only when the
  *                    running total is strictly GREATER than N, checked at
  *                    batch granularity, so collection overshoots by up to
  *                    one batch (TwitterStreamingCollector.scala:91-93)
  * @param partitions  T6 — output partition count per batch
  *                    (TwitterStreamingCollector.scala:30,89; documented
  *                    default 1): an upper bound — a batch with more
  *                    partitions is shuffled down to it, one with fewer is
  *                    written as it is
  * @param checkpointDir T4 — enables exactly-once restart, fixing the
  *                    reference's disabled-checkpointing TODO
  *                    (TwitterStreamingCollector.scala:99)
  * @param trigger     T1 — e.g. `Trigger.ProcessingTime("10 seconds")` for
  *                    the reference's documented interval; None = as fast as
  *                    the source delivers (right for tests and replays)
  */
final class StreamingCollector(
    outputDir: String,
    numTweetsToCollect: Long,
    partitions: Int = 1,
    checkpointDir: Option[String] = None,
    trigger: Option[Trigger] = None,
    keywords: Seq[String] = TweetSchema.trackKeywords) {

  @volatile private var total = 0L
  @volatile private var stopRequested = false

  /** A4 — running global count of collected lines (driver-side). */
  def collected: Long = total

  /** L4 — true once the quirk-Q4 threshold (`total > N`) has been crossed. */
  def thresholdCrossed: Boolean = stopRequested

  private def writeBatch(batch: Dataset[Row], batchId: Long): Unit = {
    val dir = s"$outputDir/batch_$batchId"
    val rows = Observation()
    val observed = batch.observe(rows, count(lit(1)).as("n"))
    // a shuffle only to merge partitions: `coalesce` would also pull the
    // read and the filters of a many-partition batch into `partitions` tasks
    val out =
      if (batch.rdd.getNumPartitions > partitions) observed.repartition(partitions)
      else observed
    out.write.mode("overwrite").text(dir)
    val n = rows.get("n").asInstanceOf[Long] // A3 — counted by the write (Q2 fixed)
    if (n == 0) {
      val p = new Path(dir)
      p.getFileSystem(batch.sparkSession.sessionState.newHadoopConf()).delete(p, true)
    }
    total += n
    if (total > numTweetsToCollect) stopRequested = true // Q4: strict >
  }

  /** Build and start the streaming query over a source's status stream. */
  def start(statuses: DataFrame): StreamingQuery = {
    val lines = StreamingCollector.pipeline(statuses, keywords)
    var writer = lines.writeStream
      .outputMode("append")
      .foreachBatch(writeBatch _)
    checkpointDir.foreach(d => writer = writer.option("checkpointLocation", d))
    trigger.foreach(t => writer = writer.trigger(t))
    writer.start()
  }

  /** Block until the stop threshold is crossed (or the query dies), then stop
    * the query gracefully — never `System.exit` inside the engine (the
    * reference killed the JVM from inside foreachRDD,
    * TwitterStreamingCollector.scala:92).
    */
  def awaitCollected(query: StreamingQuery, pollMs: Long = 100): Unit = {
    while (!stopRequested && query.isActive) query.awaitTermination(pollMs)
    if (query.isActive) query.stop()
  }
}
