package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming throughput soak harness — shared by the CI floor gate
  * (StreamingSoakSpec, 4-core test session) and the artifact main
  * ([[graft.StreamSoak]], which records BOTH the 4-core and the bench-box
  * 32-core geometry into STREAMBENCH.json).
  */
object Soak {

  final case class Result(totalRows: Long, batches: Int, rowsPerSec: Long,
      meanBatchMs: Long, maxBatchMs: Long, p50BatchMs: Long = 0L,
      p95BatchMs: Long = 0L, p99BatchMs: Long = 0L)

  /** Nearest-rank percentile over trigger durations — the serving-SLO
    * latency summary (a mean hides the stall a p95/p99 shows; max alone
    * can't tell one outlier from a tail). */
  private def pct(sorted: IndexedSeq[Long], q: Double): Long =
    if (sorted.isEmpty) 0L
    else sorted(math.min(sorted.length - 1,
      math.ceil(q * sorted.length).toInt - 1).max(0))

  /** Let the query soak, then summarize its non-empty micro-batches:
    * processing throughput (rows over trigger-execution time, idle waits
    * excluded) and batch latency — mean, max, and p50/p95/p99 trigger
    * percentiles. The query is stopped BEFORE the progress snapshot — a
    * micro-batch completing between a snapshot and stop() would be sunk
    * but unreported, breaking rows-accounting at the sink.
    */
  def soak(q: StreamingQuery, soakMs: Long): Result = {
    Thread.sleep(soakMs)
    q.stop()
    q.awaitTermination()
    summarize(q)
  }

  /** The progress rollup of [[soak]], on an already-stopped query — split
    * out so multi-phase soaks (e.g. [[annRetrainRun]]'s mid-soak swap) can
    * sleep/act on their own schedule and still report identically. */
  def summarize(q: StreamingQuery): Result = summarizeAll(Seq(q))

  /** [[summarize]] across SEVERAL (stopped) queries' lifetimes — the
    * restart-under-load soak reports one number spanning both
    * incarnations, crash window included. */
  def summarizeAll(qs: Seq[StreamingQuery]): Result = {
    val progress = qs.flatMap(_.recentProgress.toSeq)
    val busy = progress.filter(_.numInputRows > 0)
    val durs = busy.map(_.durationMs.get("triggerExecution").toLong)
    val rows = busy.map(_.numInputRows).sum
    val durMs = math.max(durs.sum, 1L)
    val sorted = durs.sorted.toIndexedSeq
    Result(rows, busy.size, rows * 1000L / durMs,
      if (busy.isEmpty) 0L else durs.sum / busy.size, (0L +: durs).max,
      pct(sorted, 0.50), pct(sorted, 0.95), pct(sorted, 0.99))
  }

  def json(s: Result): String =
    s"""{"total_rows":${s.totalRows},"batches":${s.batches},""" +
      s""""rows_per_sec":${s.rowsPerSec},"mean_batch_ms":${s.meanBatchMs},""" +
      s""""max_batch_ms":${s.maxBatchMs},"p50_batch_ms":${s.p50BatchMs},""" +
      s""""p95_batch_ms":${s.p95BatchMs},"p99_batch_ms":${s.p99BatchMs}}"""

  /** Deterministic pseudo-document text from a numeric seed column: 12
    * "words" per doc, enough length to shingle — the per-row cost of a real
    * probe (shingle → 128-slot minhash → banding) without fixture I/O. */
  private def synthText(seed: org.apache.spark.sql.Column) =
    concat_ws(" ",
      (0 until 12).map(i => pmod(seed * (31 + i) + i, lit(9973)).cast("string")): _*)

  /** [[synthText]] with every word shifted by one — same per-row cost and
    * length profile, but never an exact or near duplicate of any
    * [[synthText]] output: for any seed pair at most one of the 12 word
    * positions can coincide (the match condition fixes (31+i)⁻¹ mod 9973,
    * distinct per position), so shingle overlap stays far below threshold. */
  private def synthTextNovel(seed: org.apache.spark.sql.Column) =
    concat_ws(" ",
      (0 until 12).map(i => pmod(seed * (31 + i) + i + 1, lit(9973)).cast("string")): _*)

  /** The soaks' synthetic 64-d corpus vectors with ids in [lo, hi), from
    * integer hashing — deterministic, so disjoint id ranges are slices of
    * one corpus (a build plus fragmenting appends). */
  private def synthVecs(spark: SparkSession, lo: Int, hi: Int) =
    spark.range(lo.toLong, hi.toLong)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(pmod(id * 31 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))

  /** Streaming incremental dedup against the persisted standing indexes —
    * the ingest loop's throughput number. Synthesizes a standing corpus,
    * persists its band index AND exact-hash index bucketed (builds
    * untimed: they are the standing artifacts), then soaks a rate-source
    * document stream whose micro-batches probe TIERED via [[DedupStream]]
    * (exact tier first, band tier for the rest); the sink counts the
    * emitted pairs so every batch pays the full probe + verify.
    *
    * The feed is the firehose shape: half the docs are byte-identical
    * re-fetches of standing corpus texts (each colliding with ~8 standing
    * twins — they resolve in the exact tier), half are novel texts that
    * fall through to the full band probe. All-novel and all-dup are both
    * easier than this mix for the tiered probe: all-dup skips every band
    * explode, all-novel skips the tier-2 carve's anti-join work.
    */
  def dedupRun(spark: SparkSession, corpusDocs: Int, docsRate: Int,
      tag: String, soakMs: Long = 20000): Result = {
    // longer soak than the row-shaped pipelines: a probe micro-batch is a
    // multi-join query (banding + index join + verify), so the first batch
    // alone costs seconds of plan/codegen warmup before steady state
    val corpus = spark.range(corpusDocs.toLong)
      .select(col("id").as("doc_id"), synthText(col("id")).as("text"))
    val table = s"graft_soak_band_index_$tag"
    val exact = s"graft_soak_exact_index_$tag"
    graft.operators.Dedup.writeBandIndex(corpus, table, location = Some(
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_bandidx")}/$tag"))
    graft.operators.Dedup.writeExactIndex(corpus, exact, location = Some(
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_exactidx")}/$tag"))
    // even values re-fetch standing texts (seed space mod 9973 collides
    // with ~8 corpus docs each); odd values shift every word by one (+1
    // inside the pmod) — never byte-equal to any standing text
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", docsRate.toString).load()
      .select((col("value") + corpusDocs).as("doc_id"),
        when(col("value") % 2 === 0, synthText(col("value") * 7 + 3))
          .otherwise(synthTextNovel(col("value") * 7 + 3)).as("text"))
    val q = DedupStream.incrementalDedupQuery(docs, corpus, table,
      exactTable = Some(exact)) {
      (pairs, _) => val _ = pairs.count()
    }.start()
    try soak(q, soakMs)
    finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $exact")
    }
  }

  /** SKEW-ADVERSARIAL [[dedupRun]]: the feed and the standing corpus both
    * carry a planted HOT KEY — one text standing at 2× the hot-bucket cap
    * (so the build DROPPED its band and hash buckets; without the cap,
    * every hot re-fetch would fan out against every standing copy and the
    * probe would go quadratic in the skew) and 40% of the offered stream
    * re-fetches it. A WARM text stands below the cap (50 copies), so real
    * pairing still flows at full fan-out for its 10% of the feed. The row
    * exists to show the capped paths HOLD offered throughput under the
    * skew a crawl firehose actually has (boilerplate pages, error stubs),
    * not just on the uniform fixture. */
  def skewedDedupRun(spark: SparkSession, corpusDocs: Int, docsRate: Int,
      tag: String, soakMs: Long = 30000): Result = {
    val hotText = "server error page not found please try again later soon"
    val warmText = "cookie consent banner accept all reject all manage choices"
    val normal = spark.range(corpusDocs.toLong)
      .select(col("id").as("doc_id"), synthText(col("id")).as("text"))
    val hot = spark.range(2000L)
      .select((col("id") + corpusDocs).as("doc_id"), lit(hotText).as("text"))
    val warm = spark.range(50L)
      .select((col("id") + corpusDocs + 2000L).as("doc_id"),
        lit(warmText).as("text"))
    val corpus = normal.unionAll(hot).unionAll(warm)
    val table = s"graft_soak_skew_band_$tag"
    val exact = s"graft_soak_skew_exact_$tag"
    graft.operators.Dedup.writeBandIndex(corpus, table, location = Some(
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_skewband")}/$tag"))
    graft.operators.Dedup.writeExactIndex(corpus, exact, location = Some(
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_skewexact")}/$tag"))
    // 40% hot (capped-out: must cost banding only), 10% warm (pairs with
    // all 50 standing twins), 20% standing re-fetches, 30% novel
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", docsRate.toString).load()
      .select((col("value") + corpusDocs + 3000L).as("doc_id"),
        when(col("value") % 10 < 4, lit(hotText))
          .when(col("value") % 10 === 4, lit(warmText))
          .when(col("value") % 10 < 7, synthText(col("value") * 7 + 3))
          .otherwise(synthTextNovel(col("value") * 7 + 3)).as("text"))
    val q = DedupStream.incrementalDedupQuery(docs, corpus, table,
      exactTable = Some(exact)) {
      (pairs, _) => val _ = pairs.count()
    }.start()
    try soak(q, soakMs)
    finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $exact")
    }
  }

  /** Streaming PERCEPTUAL dedup throughput — the media-firehose twin of
    * [[dedupRun]]: a standing corpus of synthesized images is hashed
    * (decode → 8×8 aHash, [[graft.multimodal.Media.imageAHash]]) into a
    * persisted multi-index Hamming table (build untimed), then a
    * rate-source media stream runs the full decode → hash → probe chain
    * per micro-batch via [[DedupStream.hashDedupQuery]]. Half the streamed
    * items are re-encode VARIANTS of standing images (1-3 payload bytes
    * XOR-flipped, the [[graft.multimodal.Media.synthesizeVariants]] drift —
    * they land within the Hamming budget and must pair), half are novel
    * payloads that must miss. */
  def hashDedupRun(spark: SparkSession, corpusItems: Int, itemsRate: Int,
      tag: String, soakMs: Long = 20000): Result = {
    import spark.implicits._
    import graft.multimodal.Media
    val corpus = Media.synthesize(spark, corpusItems)
    val table = s"graft_soak_hash_index_$tag"
    graft.operators.Dedup.writeHashIndex(
      Media.imageAHash(corpus).toDF(), "media_id", "ahash", table,
      numChunks = 8, location = Some(
        s"${graft.util.TmpDirs.perProcessDir("graft_soak_hashidx")}/$tag"))
    val nItems = corpusItems.toLong
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", itemsRate.toString).load()
      .select(col("value")).as[Long]
      .map { v =>
        val dup = v % 2 == 0
        val baseId = if (dup) v % nItems else nItems + v
        val rnd = new scala.util.Random(baseId) // variant shares base payload
        val payload = new Array[Byte](256)
        rnd.nextBytes(payload)
        if (dup) { // synthesizeVariants' re-encode drift
          val edits = 1 + (v % 3).toInt
          var e = 0
          while (e < edits) {
            val pos = ((v * 31 + e * 97) % 256).toInt
            payload(pos) = (payload(pos) ^ 0x5a).toByte
            e += 1
          }
        }
        Media.MediaRow(nItems + v, v % 100,
          Media.MediaMeta("image", width = 16, height = 16,
            sampleRateHz = 0, durationMs = 0L, codec = "fake"),
          payload)
      }
    val hashes = Media.imageAHash(stream).toDF()
      .select($"media_id".as("id"), $"ahash".as("sig"))
    val q = DedupStream.hashDedupQuery(hashes, table) {
      (pairs, _) => val _ = pairs.count()
    }.start()
    try soak(q, soakMs)
    finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  /** Streaming DECONTAMINATION throughput — the benchmark-hygiene row: a
    * synthesized benchmark suite is exploded/keyed/cached ONCE
    * ([[graft.operators.Decontamination.prepareBenchmark]], untimed — it is
    * the standing artifact), then a rate-source document stream sweeps
    * against it per micro-batch via [[DedupStream.decontaminationQuery]].
    * Half the streamed docs are verbatim benchmark texts (every 8-gram
    * hits — the worst case for the match-side group-by), half are novel
    * (explode + broadcast probe, zero matches). The sink counts pairs so
    * every batch pays the full sweep. */
  def decontamRun(spark: SparkSession, benchDocs: Int, docsRate: Int,
      soakMs: Long = 20000): Result = {
    val bench = spark.range(benchDocs.toLong)
      .select(col("id").as("doc_id"), synthText(col("id")).as("text"))
    val prepared = graft.operators.Decontamination.prepareBenchmark(bench)
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", docsRate.toString).load()
      .select((col("value") + benchDocs).as("doc_id"),
        when(col("value") % 2 === 0, synthText(col("value") % benchDocs))
          .otherwise(synthTextNovel(col("value") * 7 + 3)).as("text"))
    val q = DedupStream.decontaminationQuery(docs, prepared) {
      (pairs, _) => val _ = pairs.count()
    }.start()
    try soak(q, soakMs)
    finally prepared.unpersist()
  }

  /** Streaming ANNEALED-MIXTURE throughput — the corpus-composition row:
    * a standing mixture profile is prepared from a synthesized corpus
    * (untimed — the standing artifact), then a rate-source document stream
    * (four languages, round-robin) folds each micro-batch's exact token
    * counts into the standing totals and gates its rows at the re-derived
    * keep-rates ([[SampleStream.annealedMixtureQuery]]). Budgets sit below
    * the standing supply, so every batch runs the full anneal path: totals
    * update, sub-1 rates, md5 gate. The sink counts kept rows so every
    * batch pays tokenize + agg + gate. */
  def mixtureRun(spark: SparkSession, corpusDocs: Int, docsRate: Int,
      soakMs: Long = 20000): Result = {
    val langs = array(Seq("en", "fr", "de", "ja").map(lit): _*)
    def withLang(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("lang", element_at(langs, (col("doc_id") % 4 + 1).cast("int")))
    val corpus = withLang(spark.range(corpusDocs.toLong)
      .select(col("id").as("doc_id"), synthText(col("id")).as("text")))
    val standing = SampleStream.prepareMixture(corpus,
      budgets = Map("en" -> 1000L, "fr" -> 1000L, "de" -> 1000L, "ja" -> 1000L))
    val docs = withLang(spark.readStream.format("rate")
      .option("rowsPerSecond", docsRate.toString).load()
      .select((col("value") + corpusDocs).as("doc_id"),
        synthText(col("value")).as("text")))
    val q = SampleStream.annealedMixtureQuery(docs, standing) {
      (kept, _) => val _ = kept.count()
    }.start()
    soak(q, soakMs)
  }

  /** Streaming ANN-SERVING throughput — the query-side row: a synthetic
    * embedding corpus is IVF-fitted and persisted cell-partitioned ONCE
    * (untimed — the standing index), then a rate-source query-vector
    * stream probes it per micro-batch via [[AnnStream.ivfSearchQuery]]
    * (driver-side probe-cell choice, directory-pruned scan, broadcast
    * query scoring). The sink counts top-k rows so every batch pays the
    * full probe. Queries are synthetic 64-d vectors from integer hashing —
    * deterministic, uniformly spread over the cells. */
  def annRun(spark: SparkSession, corpusVecs: Int, queriesRate: Int,
      tag: String, soakMs: Long = 20000): Result = {
    import graft.operators.Similarity
    val corpus = synthVecs(spark, 0, corpusVecs)
    val path =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_annidx")}/$tag"
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, nlist = 64), path)
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", queriesRate.toString).load()
      .select((col("value") + corpusVecs).as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(pmod((value + 7) * 43 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))
    // 4 s trigger: a probe batch pays ~1 s of fixed plan/codegen cost
    // (fresh cell-IN literals + broadcast per batch); larger batches
    // amortize it so sustained throughput reflects the probe, not the
    // per-trigger setup
    val q = AnnStream.ivfSearchQuery(queries, path) {
      (topk, _) => val _ = topk.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
      .start()
    soak(q, soakMs)
  }

  /** [[annRun]] with a RETRAIN SWAPPED UNDER the live serving stream at
    * mid-soak — the ops-hardening row: the driver grows the corpus (an
    * append of drifted vectors, so the refit materially moves the
    * centers), fires [[graft.operators.Similarity.retrainIvfIndex]], and
    * the stream must keep sustaining the offered query rate THROUGH the
    * swap window — the signature re-prepare and the probe retry-once are
    * what it exercises ([[AnnStream.ivfSearchQuery]]). Reported over the
    * WHOLE soak, retrain window included. */
  def annRetrainRun(spark: SparkSession, corpusVecs: Int, queriesRate: Int,
      tag: String, soakMs: Long = 20000): Result = {
    import graft.operators.Similarity
    def vecs(offset: Int, reversed: Boolean) = {
      val e = s"transform(sequence(0, 63), j -> cast(pmod((id + $offset) * 31 + j * 17, 997) / 997.0 as float))"
      spark.range(corpusVecs.toLong)
        .select((col("id") + offset).as("vec_id"),
          expr(if (reversed) s"reverse($e)" else e).as("embedding"))
    }
    val path =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_annretrain")}/$tag"
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(vecs(0, reversed = false), nlist = 64), path)
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", queriesRate.toString).load()
      .select((col("value") + 2L * corpusVecs).as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(pmod((value + 7) * 43 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))
    val q = AnnStream.ivfSearchQuery(queries, path) {
      (topk, _) => val _ = topk.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
      .start()
    Thread.sleep(soakMs / 2)
    // the drift mode arrives and the index retrains mid-serve: append the
    // reversed twin corpus (frozen-center encode), then refit-and-swap
    Similarity.appendToIvfIndex(vecs(corpusVecs, reversed = true), path)
    Similarity.retrainIvfIndex(spark, path)
    Thread.sleep(soakMs - soakMs / 2)
    q.stop()
    q.awaitTermination()
    summarize(q)
  }

  /** [[annRun]] with a fragmented corpus COMPACTED UNDER the live serving
    * stream at mid-soak — the maintenance-ops row: the standing index is
    * deliberately left the way a long ingest leaves it (the initial build
    * plus fragmenting appends — many small files per cell), the stream
    * serves against that layout for the first half, then
    * [[graft.util.Compaction.compactDir]] rewrites the cell directories
    * to one sized file each and staged-swaps them in place. The serving
    * loop never re-prepares (centers are untouched — compaction changes
    * no signature); its per-trigger cell-directory listing simply sees
    * the new files, and a probe racing the swap window retries once — the
    * same contract retrains already exercise, now priced for the
    * maintenance op every 100 TB index needs routinely. Reported over the
    * WHOLE soak, swap included; the run REQUIRES the compaction to have
    * reduced the file count. */
  def annCompactRun(spark: SparkSession, corpusVecs: Int, queriesRate: Int,
      tag: String, soakMs: Long = 20000): Result = {
    import graft.operators.Similarity
    val path =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_anncompact")}/$tag"
    // build on the first quarter, fragment with six frozen-center appends
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(synthVecs(spark, 0, corpusVecs / 4), nlist = 64),
      path)
    val slice = corpusVecs / 8
    (0 until 6).foreach { b =>
      Similarity.appendToIvfIndex(
        synthVecs(spark, corpusVecs / 4 + b * slice,
          corpusVecs / 4 + (b + 1) * slice),
        path)
    }
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", queriesRate.toString).load()
      .select((col("value") + 2L * corpusVecs).as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(pmod((value + 7) * 43 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))
    val q = AnnStream.ivfSearchQuery(queries, path) {
      (topk, _) => val _ = topk.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
      .start()
    Thread.sleep(soakMs / 2)
    val stats = graft.util.Compaction.compactDir(spark, path, "corpus",
      partitionCol = Some("cell"))
    require(stats.filesAfter < stats.filesBefore,
      s"compaction soak: the rewrite did not reduce the layout: $stats")
    Thread.sleep(soakMs - soakMs / 2)
    q.stop()
    q.awaitTermination()
    summarize(q)
  }

  /** The auto-retrain INGEST loop killed and restarted mid-soak — the
    * MEASURED form of MonitorDurabilitySpec's contract: the first
    * incarnation is stopped cold halfway (stop() interrupts any in-flight
    * trigger, so the checkpoint can sit a batch behind the published
    * appends — a genuine crash shape), then a FRESH monitor re-seeds from
    * the persisted stateDir and the SAME checkpoint resumes the rate
    * source, replaying the uncommitted batch through the durable fence +
    * idempotent append ([[graft.util.BatchAppend]]). Reported over BOTH
    * incarnations, restart window included; the run REQUIRES the final
    * index to hold zero duplicate vec_ids — the spec's no-double-append
    * claim, held under load. The alarm floor is -∞: this row prices
    * ingest (cell-partitioned append + health fold + state persist), not
    * the retrain ([[annRetrainRun]]'s job). */
  def annIngestRestartRun(spark: SparkSession, corpusVecs: Int,
      vecsRate: Int, tag: String, soakMs: Long = 20000): Result = {
    import graft.operators.Similarity
    val corpus = synthVecs(spark, 0, corpusVecs)
    val root =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_ingestrestart")}/$tag"
    val path = s"$root/index"
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, nlist = 64), path)
    def vecStream = spark.readStream.format("rate")
      .option("rowsPerSecond", vecsRate.toString).load()
      .select((col("value") + corpusVecs).as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(pmod((value + 7) * 43 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))
    def incarnation(): StreamingQuery = {
      val monitor = AnnStream.prepareRetrainMonitor(spark, path,
        healthFloorMicros = Long.MinValue, minVecsForAlarm = 0L,
        stateDir = Some(s"$root/monitor_state"))
      AnnStream.autoRetrainIngestQuery(vecStream, monitor) { (row, _) =>
        val _ = row.count()
      }.option("checkpointLocation", s"$root/checkpoint")
        // 4 s trigger, the serving rows' precedent: each ingest trigger
        // pays a fixed stage→clean→publish + fold-job + state-persist cost
        // regardless of rows; 2 s triggers left <0 headroom at wide
        // geometries (measured 0.99× offered at local[32])
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
        .start()
    }
    def stopHard(q: StreamingQuery): Unit = {
      q.stop()
      // an interrupted in-flight foreachBatch can surface as a failed
      // query — that IS the crash this soak plants; the restart's replay
      // is the behavior under test
      try q.awaitTermination()
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      }
    }
    val q1 = incarnation()
    Thread.sleep(soakMs / 2)
    stopHard(q1)
    val q2 = incarnation()
    Thread.sleep(soakMs - soakMs / 2)
    stopHard(q2)
    val appended = spark.read.parquet(s"$path/corpus")
      .filter(col("vec_id") >= corpusVecs.toLong)
    val (total, distinct) =
      (appended.count(), appended.select(col("vec_id")).distinct().count())
    require(total == distinct && total > 0L,
      s"restart soak integrity: $total appended rows, $distinct distinct " +
        "vec_ids — the durable fence / idempotent append failed under load")
    summarizeAll(Seq(q1, q2))
  }

  /** Streaming PQ-ADC serving throughput — the memory-bound twin of
    * [[annRun]]: the same synthetic corpus is PQ-trained and persisted as
    * codes + codebooks ONCE (untimed), then the rate-source query stream
    * ADC-probes it per micro-batch via [[AnnStream.pqSearchQuery]]
    * (in-plan distance tables, broadcast queries × full codes scan, the
    * ascending bounded top-k aggregate). Unlike the IVF row this scans
    * 100% of the (32× smaller) index per query — the compressed-tier
    * trade the row exists to price. */
  def pqRun(spark: SparkSession, corpusVecs: Int, queriesRate: Int,
      tag: String, soakMs: Long = 20000): Result = {
    import graft.operators.Pq
    val corpus = synthVecs(spark, 0, corpusVecs)
    val path =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_pqidx")}/$tag"
    Pq.writePqIndex(corpus, Pq.train(corpus), path)
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", queriesRate.toString).load()
      .select((col("value") + corpusVecs).as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(pmod((value + 7) * 43 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))
    val q = AnnStream.pqSearchQuery(queries, path) {
      (topk, _) => val _ = topk.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
      .start()
    soak(q, soakMs)
  }

  /** Streaming IVF×PQ serving throughput — BOTH memory levers composed
    * (prune to the probed cells, ADC-score only their codes): the same
    * synthetic corpus is coarse-fitted AND PQ-trained, persisted in the
    * [[graft.operators.Pq.writeIvfPqIndex]] layout once (untimed), then
    * the rate-source query stream probes it per micro-batch via
    * [[AnnStream.ivfPqSearchQuery]]. Per query batch this reads
    * nprobe/nlist of a ~32×-compressed artifact — the layout a
    * billion-vector deployment actually serves from, and the row that
    * prices it. */
  def ivfPqRun(spark: SparkSession, corpusVecs: Int, queriesRate: Int,
      tag: String, soakMs: Long = 30000): Result = {
    // 30 s, the dedup-row precedent: the composed probe's first trigger
    // pays scan + fold JIT + broadcast warmup that the 1-query configure
    // warm-up can't fully absorb; enough steady-state batches make the
    // row a sustained number instead of one warmup-dominated mean
    import graft.operators.{Pq, Similarity}
    val corpus = synthVecs(spark, 0, corpusVecs)
    val path =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_ivfpqidx")}/$tag"
    // nlist=16: the ivf_pq_topk batch entry's geometry. At this corpus
    // size a wider nlist only fragments the (tiny) codes into more
    // per-file fixed costs — the pruning ratio a production corpus gets
    // from nlist=1024 is demonstrated by the layout, priced by the scan
    val index = Similarity.buildIvfIndex(corpus, nlist = 16)
    Pq.writeIvfPqIndex(index.bucketed, Pq.train(corpus), index.centers, path)
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", queriesRate.toString).load()
      .select((col("value") + corpusVecs).as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(pmod((value + 7) * 43 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))
    val q = AnnStream.ivfPqSearchQuery(queries, path) {
      (topk, _) => val _ = topk.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
      .start()
    soak(q, soakMs)
  }

  /** Streaming RESIDUAL IVF×PQ serving throughput — [[ivfPqRun]]'s
    * geometry with the FAISS-IVFADC encode: residual codes persisted
    * cell-partitioned (untimed build), probes through
    * [[AnnStream.ivfPqResidualSearchQuery]]'s in-fold per-(query, cell)
    * table build. The row prices what the residual tier ADDS over
    * ivf_pq_probe: nprobe table builds per query (m·k·dsub each,
    * amortized over the cell runs) bought with ~10% lower distortion at
    * the same code budget. */
  def ivfPqResidualRun(spark: SparkSession, corpusVecs: Int,
      queriesRate: Int, tag: String, soakMs: Long = 30000): Result = {
    import graft.operators.{Pq, Similarity}
    val corpus = synthVecs(spark, 0, corpusVecs)
    val path =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_ivfpqres")}/$tag"
    val index = Similarity.buildIvfIndex(corpus, nlist = 16)
    Pq.writeIvfPqResidualIndex(index, Pq.trainResidual(index), path)
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", queriesRate.toString).load()
      .select((col("value") + corpusVecs).as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(pmod((value + 7) * 43 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))
    val q = AnnStream.ivfPqResidualSearchQuery(queries, path) {
      (topk, _) => val _ = topk.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
      .start()
    soak(q, soakMs)
  }

  /** Streaming LEXICAL serving throughput — the BM25 standing index probed
    * per micro-batch via [[LexStream.bm25SearchQuery]]: the synthetic
    * corpus ([[synthText]] — 12 integer "words"/doc) is written once into
    * the term-bucket-partitioned segment layout (untimed — the standing
    * artifact), then a rate-source query stream whose texts REUSE corpus
    * docs (every query has real postings matches, the expensive case)
    * probes it. Per trigger this reads only the query terms' bucket
    * directories and folds segment stats from the handle — the row that
    * prices the retrieval tier next to the vector tiers' ann/pq rows. */
  def bm25Run(spark: SparkSession, corpusDocs: Int, queriesRate: Int,
      tag: String, soakMs: Long = 30000): Result = {
    // 30 s, the ivfPqRun precedent: the first trigger pays scan + join
    // JIT the 1-query warm-up can't fully absorb; enough steady-state
    // batches make the row a sustained number, not a warmup mean
    import graft.operators.Bm25
    val corpus = spark.range(corpusDocs.toLong)
      .select(col("id").as("doc_id"), synthText(col("id")).as("text"))
    val path =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_bm25idx")}/$tag"
    Bm25.writeBm25Index(corpus, path)
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", queriesRate.toString).load()
      .select((col("value") + corpusDocs).as("query_id"),
        synthText(pmod(col("value"), lit(corpusDocs.toLong))).as("text"))
    val q = LexStream.bm25SearchQuery(queries, path) {
      (topk, _) => val _ = topk.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
      .start()
    soak(q, soakMs)
  }

  /** Streaming HYBRID retrieval throughput — the two-tower serving row
    * ([[LexStream.hybridSearchQuery]]): a synthetic corpus stands behind
    * BOTH indexes (BM25 term-bucket segments over its texts, a
    * cell-partitioned IVF over its 64-d embeddings — builds untimed), then
    * a rate-source query stream carrying text AND embedding probes both
    * legs per micro-batch and fuses them through the shared RRF core.
    * Query texts REUSE corpus docs (real postings matches — the expensive
    * lexical case) and query vectors spread uniformly over the cells; per
    * trigger this pays one bucket-pruned lexical probe + one cell-pruned
    * vector probe + a queries×2k fusion. */
  def hybridRun(spark: SparkSession, corpusDocs: Int, queriesRate: Int,
      tag: String, soakMs: Long = 30000): Result = {
    import graft.operators.{Bm25, Similarity}
    val corpus = spark.range(corpusDocs.toLong)
      .select(col("id").as("doc_id"), synthText(col("id")).as("text"))
    val emb = synthVecs(spark, 0, corpusDocs)
    val lexPath =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_hyblex")}/$tag"
    val semPath =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_hybsem")}/$tag"
    Bm25.writeBm25Index(corpus, lexPath)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(emb, nlist = 64),
      semPath)
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", queriesRate.toString).load()
      .select((col("value") + corpusDocs).as("query_id"),
        synthText(pmod(col("value"), lit(corpusDocs.toLong))).as("text"),
        expr("transform(sequence(0, 63), j -> cast(pmod((value + 7) * 43 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))
    val q = LexStream.hybridSearchQuery(queries, lexPath, semPath) {
      (topk, _) => val _ = topk.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
      .start()
    soak(q, soakMs)
  }

  /** The auto-retrain ingest loop with the fragmentation watch ARMED and a
    * live serving stream on the same index — [[annCompactRun]]'s manual
    * mid-soak trigger made AUTOMATIC (round-15 headline): the monitor
    * watches the corpus's data-file count per trigger and fires
    * [[graft.util.Compaction.compactDir]] from its own maintenance slot
    * (durable fence = the just-persisted fold) whenever appends push past
    * the ceiling, while [[AnnStream.ivfSearchQuery]] keeps serving
    * queries through every rewrite window (per-trigger listings + the
    * retry-once contract — no re-prepare needed, centers are untouched).
    * The index starts fragmented on purpose (one build plus three appends,
    * exactly at the ceiling), so the first non-empty trigger's append
    * crosses it and the rewrite covers stream-appended rows under live
    * serving; the ceiling (4× the 64-cell floor) then re-fires every few
    * triggers — the routine cadence a real ingest runs at, priced here.
    *
    * Returns (ingest result, serving result, compactions fired). The run
    * itself REQUIRES ≥1 automatic compaction, zero duplicate appended
    * vec_ids, and no row lost across the rewrites (appended rows ≥ the
    * sum of folded batch sizes). */
  def annIngestAutoCompactRun(spark: SparkSession, corpusVecs: Int,
      vecsRate: Int, queriesRate: Int, tag: String,
      soakMs: Long = 20000): (Result, Result, Long) = {
    import graft.operators.Similarity
    val root =
      s"${graft.util.TmpDirs.perProcessDir("graft_soak_autocompact")}/$tag"
    val path = s"$root/index"
    // the fragmented start a long ingest leaves ([[annCompactRun]]'s
    // set-up): build on the first quarter, then three frozen-center
    // appends of a quarter each. Every write lands one file per cell, so
    // the corpus starts at 4 writes × 64 cells = 256 files at any core
    // count — at the ceiling whatever the writers' task geometry. All ids
    // stay below corpusVecs, so the integrity check counts stream rows
    // only.
    val nlist = 64
    val slice = corpusVecs / 4
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(synthVecs(spark, 0, slice), nlist = nlist),
      path)
    (1 until 4).foreach { b =>
      Similarity.appendToIvfIndex(synthVecs(spark, b * slice, (b + 1) * slice),
        path)
    }
    val vecStream = spark.readStream.format("rate")
      .option("rowsPerSecond", vecsRate.toString).load()
      .select((col("value") + corpusVecs).as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(pmod((value + 7) * 43 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))
    val queryStream = spark.readStream.format("rate")
      .option("rowsPerSecond", queriesRate.toString).load()
      .select((col("value") + 2L * corpusVecs).as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(pmod((value + 11) * 43 + j * 17, 997) / 997.0 as float))")
          .as("embedding"))
    // ceiling at 4× the 64-cell compacted floor: the fragmented start
    // (writes × cells = 256 files) sits at it, so an empty trigger never
    // compacts pre-soak rows alone, and the first non-empty append (≤64
    // files) crosses it: the first rewrite always includes folded stream
    // rows, which the integrity check below counts. Steady-state appends
    // then re-cross every ~4 triggers — a routine maintenance cadence.
    // Both neighbors were measured and rejected: 3× rewrote every other
    // trigger and pushed 32-core ingest under offered (0.88×); 8× sat
    // above the 4-core build's file count (measured before index writes
    // clustered by cell) and never fired there.
    val ceiling = 256L
    val startFiles =
      graft.util.Compaction.dataFileCount(spark, s"$path/corpus")
    require(startFiles <= ceiling && startFiles + nlist > ceiling,
      s"auto-compaction soak: the fragmented start holds $startFiles " +
        s"corpus files, outside (${ceiling - nlist}, $ceiling] — the " +
        "first rewrite must be the first stream append's (did a writer's " +
        "file layout change?)")
    val monitor = AnnStream.prepareRetrainMonitor(spark, path,
      healthFloorMicros = Long.MinValue, minVecsForAlarm = 0L,
      stateDir = Some(s"$root/monitor_state"),
      autoCompactMaxFiles = Some(ceiling))
    var folded = 0L // foreachBatch runs serially on the stream thread
    val iq = AnnStream.autoRetrainIngestQuery(vecStream, monitor) {
      (row, _) => folded += row.agg(sum(col("batch_vecs"))).head().getLong(0)
    }.option("checkpointLocation", s"$root/checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
      .start()
    val sq = AnnStream.ivfSearchQuery(queryStream, path) {
      (topk, _) => val _ = topk.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("4 seconds"))
      .start()
    Thread.sleep(soakMs)
    iq.stop(); iq.awaitTermination()
    sq.stop(); sq.awaitTermination()
    require(monitor.compactions >= 1L,
      "auto-compaction soak: the fragmentation ceiling never fired " +
        s"(compactions=${monitor.compactions})")
    val appended = spark.read.parquet(s"$path/corpus")
      .filter(col("vec_id") >= corpusVecs.toLong)
    val (total, distinct) =
      (appended.count(), appended.select(col("vec_id")).distinct().count())
    require(total == distinct && total >= folded && folded > 0L,
      s"auto-compaction integrity: $total appended, $distinct distinct, " +
        s"$folded folded — a rewrite lost or duplicated rows")
    (summarize(iq), summarize(sq), monitor.compactions)
  }

  /** Drive the two always-on pipelines — the collection sink (track filter →
    * sanitize → per-batch text sink) and the watermarked tumbling-window
    * aggregation — each for `soakMs` against the rate source at the given
    * rates. Returns (collector result, rows actually sunk, hourly result).
    */
  def run(spark: SparkSession, collectorRate: Int, eventsRate: Int,
      outDir: String, soakMs: Long = 8000): (Result, Long, Result) = {
    val collector = new StreamingCollector(outDir, Long.MaxValue)
    val cq = collector.start(new RateTweetSource(collectorRate).stream(spark))
    val cSoak = soak(cq, soakMs)

    // event-shaped stream for the stateful hourly aggregate (update mode:
    // windows stay open while event time is near now, but every input row
    // still flows through the stateful hash aggregate)
    val types = array(Seq("view", "click", "purchase", "signup", "error").map(lit): _*)
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", eventsRate.toString).load()
      .select(col("value").as("event_id"),
        element_at(types, (col("value") % 5 + 1).cast("int")).as("event_type"),
        col("timestamp").as("ts"),
        (col("value") % 100).cast("double").as("value"))
    // size the STATE partitioning to the key space, not the session
    // default: this agg holds ~active-windows × 5 types groups (dozens),
    // and every state partition pays a per-batch store commit whether it
    // holds a group or not — at 32 session partitions that fixed cost was
    // the throughput ceiling (measured 1.8M → 3.9M rows/s at 8; the
    // per-query knob a production job sets from its key cardinality).
    // The conf is read at query START, so it is restored only after the
    // soak completes.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val hSoak =
      try {
        spark.conf.set("spark.sql.shuffle.partitions",
          math.min(8, prevParts.toInt).toString)
        val hq = EventStreams.hourlyTypeCounts(events).writeStream
          .outputMode("update").format("noop").start()
        soak(hq, soakMs)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    (cSoak, collector.collected, hSoak)
  }
}
