package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Similarity

/** Online vector search — the SERVING twin of the IVF family: a stream of
  * query vectors probes a PERSISTED cell-partitioned IVF index per
  * micro-batch ([[Similarity.loadIvfIndex]] / [[Similarity.queryIvfIndex]])
  * and the per-query top-k goes to `sink`. This is the other half of the
  * index lifecycle the batch entries already pin — build → persist →
  * append ([[Similarity.appendToIvfIndex]]) → PROBE CONTINUOUSLY.
  *
  * Topology per trigger: each query row picks its probe cells IN-PLAN
  * (codegen [[graft.functions.ProbeCellsExpr]] against the once-prepared
  * centroid matrix — query embeddings never pass through the driver, so
  * the query batch need not be driver-small), the candidate scan is built
  * over exactly the probed cell DIRECTORIES — each micro-batch lists and
  * reads only nprobe/nlist of the corpus, exactly like the batch probe's
  * partition pruning (PlanShapeSpec pins that plan) — and ranking folds
  * map-side through the bounded top-k aggregate
  * ([[graft.functions.TopKScoredAgg]]) instead of sort-exchanging every
  * scored candidate. The index side never shuffles; only per-cell
  * candidates × broadcast queries are scored.
  *
  * The STANDING side is a [[Similarity.prepareIvfIndex]] handle resolved
  * once at configure time: centers (FROZEN by the append contract —
  * [[Similarity.appendToIvfIndex]] assigns to existing centroids, never
  * moves them), corpus schema, and filesystem handle. Per trigger the only
  * metadata work is a fresh listing of the probed cell directories — which
  * is precisely what keeps probe-while-ingest alive: vectors appended by a
  * concurrent ingest loop land as new files (or new cell directories) and
  * the next probe's listing sees them. Before r12 each trigger re-resolved
  * the WHOLE corpus (`spark.read.parquet` = full directory listing + schema
  * inference) and compiled a fresh `cell IN (...)` literal plan; the
  * prepared handle removes all three per-trigger costs without freezing
  * the corpus. */
object AnnStream {

  /** The ONE drift-monitor lifecycle shared by the IVF and PQ ops loops —
    * the standing driver state of an auto-retrain ingest stream, written
    * once so durability, replay fencing, and the alarm protocol cannot
    * drift apart between the two tiers. A monitor holds: the highest
    * FOLDED batch id (the at-least-once fence), the retrain ops counter,
    * bounded health totals since the last retrain, and the frozen geometry
    * (centers / codebooks) the totals were scored against. Subclasses
    * supply the tier-specific pieces: how a batch appends (idempotently),
    * how its health folds, which direction of the threshold is "drifted",
    * and how a retrain fires.
    *
    * DURABILITY: with a `stateDir` (production passes a directory next to
    * the query checkpoint), every fold persists the monitor's state as one
    * small generation-named JSON ([[graft.util.AtomicState]]) and
    * [[seedState]] restores it at prepare time — so a crash-RESTART keeps
    * the batch fence (no double fold), the retrain counter, and (when the
    * index geometry is unchanged) the accumulated health totals, i.e. the
    * alarm decision sequence continues exactly where the dead process
    * left it. One window is narrower than it looks: the retrain COUNTER is
    * persisted only after [[fireRetrain]] returns, so a crash between the
    * completed index swap and that second persist restarts with the swap
    * live on disk (the signature mismatch retires the stale totals
    * correctly) but the counter one low — the ops counter is
    * at-most-once across crashes, never the index itself. Persisting the
    * increment BEFORE the swap would trade this for over-counting on a
    * crash before the swap, which misleads in the other direction; the
    * index's own retained geometry history is the authoritative record. Appends are replay-safe independently of the state file:
    * every side-effecting write goes through [[graft.util.BatchAppend]]'s
    * stage → clean → publish protocol keyed by the batch id, so the
    * replayed batch that a crash forces through foreachBatch re-publishes
    * the SAME files instead of duplicating rows (MonitorDurabilitySpec
    * pins both loops). Without a `stateDir` the monitor degrades to the
    * r13 in-memory contract: same-process replays are fenced, a full
    * restart starts fresh (appends are still idempotent per batch id).
    *
    * State is bounded by construction: nlist-sized maps (IVF) or two longs
    * (PQ) plus one listing-sized signature — the JSON is KBs at production
    * geometry, written once per trigger next to a checkpoint that already
    * takes a per-trigger write. */
  sealed abstract class DriftMonitor private[streaming] (
      val indexPath: String,
      val minVecsForAlarm: Long,
      val stateDir: Option[String]) {
    private[graft] var lastFoldedBatch: Long = -1L
    /** Retrains fired by this monitor since prepare — the ops counter
      * (persisted, so it survives a restart). */
    private[graft] var retrains: Long = 0L
    /** Fragmentation ceiling for the AUTO-COMPACTION watch: when any
      * [[compactTargets]] directory's data-file count exceeds this, the
      * loop fires [[graft.util.Compaction.compactDir]] from the
      * driver-sequenced maintenance slot the foreachBatch IS (set by the
      * prepare functions; None = manual compaction only, the r14
      * contract). */
    private[graft] var autoCompactMaxFiles: Option[Long] = None
    /** Tombstone-pressure ceiling for the same maintenance slot: when the
      * index's tombstone DATA-FILE count exceeds this, the slot fires the
      * tier's all-media absorb ([[graft.util.Tombstones.absorbAll]] over
      * [[compactTargets]]) even though no target crossed the
      * fragmentation ceiling — a delete-heavy stream with few appends
      * otherwise accumulates tombstones (and probe-time anti-join cost)
      * indefinitely below it. None = absorbs stay explicit (the r16
      * contract). */
    private[graft] var autoCompactMaxTombstones: Option[Long] = None
    /** Compactions fired by this monitor since prepare — persisted like
      * the retrain counter (same at-most-once-across-crashes caveat: the
      * counter persists after the rewrite, the swapped layout is its own
      * authoritative record). */
    private[graft] var compactions: Long = 0L
    /** True once THIS incarnation has folded any batch — separates a
      * same-process redelivery (benign, fenced) from a fresh incarnation
      * whose first delivered id is already below the disk-seeded fence
      * (a checkpoint reset with a surviving stateDir — fail loudly, see
      * [[processDriftIngestBatch]]). */
    private[streaming] var foldedThisIncarnation: Boolean = false

    def totalVecs: Long
    /** The cumulative decision metric in integer micros (weighted mean
      * cosine for IVF, mean reconstruction error for PQ); None until any
      * vector has been scored against the current geometry. */
    private[streaming] def decisionMetric: Option[Long]
    /** True when `metric` is past the threshold in the DRIFT direction
      * (strictly below the floor for IVF health, strictly above the
      * ceiling for PQ reconstruction error). */
    private[streaming] def crossed(metric: Long): Boolean
    /** The emitted monitor-row column name for the metric. */
    private[streaming] def metricName: String
    /** Reload geometry + drop totals if the on-disk signature changed. */
    private[streaming] def resync(spark: org.apache.spark.sql.SparkSession): Unit
    /** The signature of the geometry the current totals were scored
      * against (set by [[resync]]). */
    private[streaming] def storedSig: Seq[(String, Long, Long)]
    /** Idempotently publish one batch's index side effects under the tag
      * ([[graft.util.BatchAppend]]); must use the monitor's OWN resynced
      * geometry so append and fold can never see different centers. */
    private[graft] def appendBatch(vecs: org.apache.spark.sql.DataFrame,
        batchTag: String): Unit
    /** Score the batch's health against the monitor's geometry and fold it
      * into the totals; returns the batch's vector count. */
    private[streaming] def foldBatch(vecs: org.apache.spark.sql.DataFrame): Long
    /** Full refit + staged swap over everything ingested so far. */
    private[streaming] def fireRetrain(spark: org.apache.spark.sql.SparkSession): Unit
    /** Tier-specific totals as a JSON fragment (longs as strings). */
    private[streaming] def totalsJson: String
    /** Restore tier-specific totals from a parsed [[totalsJson]]. */
    private[streaming] def restoreTotals(m: Map[String, Any]): Unit
    /** The standing directories this monitor's appends fragment — the
      * auto-compaction targets, as (sub, partitionCol) pairs relative to
      * `indexPath` (the [[graft.util.Compaction.compactDir]] signature). */
    private[streaming] def compactTargets: Seq[(String, Option[String])]

    /** The fragmentation watch, run in the maintenance slot after a fold
      * persists (and never in a retrain trigger — the retrain just
      * rewrote everything): one data-file-count listing per target per
      * trigger (the cost a probe's pruned listing already pays); past the
      * ceiling, [[graft.util.Compaction.compactDir]] rewrites the target
      * and swaps it in place. The safe batch fence is `lastFoldedBatch`
      * when the fence is DURABLE (a persisted fold means that id can
      * never replay unfenced) and `lastFoldedBatch - 1` without a
      * stateDir (an in-memory fence dies with the process, so the folded
      * batch itself is still replayable after a crash — its tagged files
      * must ride through verbatim). Returns whether any target was
      * rewritten.
      *
      * TOMBSTONE PRESSURE is watched in the same predicate (one tombstone
      * directory listing per trigger): past `autoCompactMaxTombstones`
      * data files, the slot fires the tier's ALL-MEDIA absorb
      * ([[graft.util.Tombstones.absorbAll]] over every compact target, the
      * same rewrite + snapshot-scoped retirement the explicit
      * absorbIvfDeletes / absorbPqDeletes / absorbSqDeletes run) — a
      * delete-heavy stream with few appends never crosses the
      * fragmentation ceiling, yet every probe pays the growing anti-join;
      * this bounds it. The absorb path is checked FIRST and the
      * fragmentation rewrite skipped in that slot (the absorb just
      * rewrote every target); carry above the fence keeps tombstones
      * live, and the pressure simply re-fires at a later slot whose
      * fence has advanced — absorption is eventually-retiring, never
      * lost. */
    private[streaming] final def maybeAutoCompact(
        spark: org.apache.spark.sql.SparkSession): Boolean = {
      val fence =
        if (stateDir.isDefined) lastFoldedBatch else lastFoldedBatch - 1L
      val absorbed = autoCompactMaxTombstones.exists { bound =>
        graft.util.Tombstones.dataFiles(spark, indexPath)
          .size.toLong > bound && {
          val _ = graft.util.Tombstones.absorbAll(spark, indexPath,
            "vec_id", compactTargets, safeBatchFence = Some(fence))
          true
        }
      }
      val fired = absorbed || autoCompactMaxFiles.exists { limit =>
        compactTargets.map { case (sub, pcol) =>
          graft.util.Compaction
            .dataFileCount(spark, s"$indexPath/$sub") > limit && {
            // tombstone ABSORPTION rides the rewrite the watch fires
            // anyway (the Tombstones compaction hook): retracted rows
            // drop physically for free. Tombstones are NEVER retired
            // here — targets compact independently as each crosses the
            // ceiling, so a sibling medium (or a carried file) may still
            // hold masked rows; retirement stays with the all-media
            // absorbs (the pressure path above, or the explicit
            // absorbIvfDeletes / absorbPqDeletes / absorbSqDeletes),
            // which check carry across every medium.
            val stats = graft.util.Compaction.compactDir(spark, indexPath,
              sub, partitionCol = pcol, safeBatchFence = Some(fence),
              transform =
                graft.util.Tombstones.antiJoin(_, indexPath, "vec_id"))
            stats.filesAfter < stats.filesBefore
          }
        }.exists(identity)
      }
      if (fired) compactions += 1L
      fired
    }

    private[streaming] final def persistState(
        spark: org.apache.spark.sql.SparkSession, gen: Long): Unit =
      stateDir.foreach { dir =>
        val sig = storedSig
          .map { case (n, l, t) => s"""["$n","$l","$t"]""" }
          .mkString("[", ",", "]")
        graft.util.AtomicState.write(spark, dir, gen,
          s"""{"last_folded_batch":"$lastFoldedBatch",""" +
            s""""retrains":"$retrains","compactions":"$compactions",""" +
            s""""sig":$sig,"totals":$totalsJson}""")
      }

    /** Seed from the persisted state, called AFTER the first [[resync]]
      * (so [[storedSig]] reflects the index on disk): the batch fence and
      * retrain counter restore unconditionally; the health totals restore
      * only when the persisted signature still matches the disk — an index
      * swapped while the process was down retires them exactly like a
      * live-observed swap would have. */
    private[streaming] final def seedState(
        spark: org.apache.spark.sql.SparkSession): Unit =
      stateDir.flatMap(graft.util.AtomicState.readLatest(spark, _))
        .foreach { body =>
          val m = graft.util.MiniJson.parse(body)
            .asInstanceOf[Map[String, Any]]
          lastFoldedBatch = m("last_folded_batch").asInstanceOf[String].toLong
          retrains = m("retrains").asInstanceOf[String].toLong
          // absent in pre-r15 state files — the counter starts fresh there
          compactions = m.get("compactions")
            .map(_.asInstanceOf[String].toLong).getOrElse(0L)
          val sig = m("sig").asInstanceOf[List[Any]].map { e =>
            val l = e.asInstanceOf[List[Any]]
            (l(0).asInstanceOf[String], l(1).asInstanceOf[String].toLong,
              l(2).asInstanceOf[String].toLong)
          }
          if (sig == storedSig)
            restoreTotals(m("totals").asInstanceOf[Map[String, Any]])
        }
  }

  /** The ONE per-batch cell-health fold ([[graft.operators.Similarity
    * .ivfRetrainHealth]]'s oracle-replayed arithmetic): score the batch
    * against `centers` (in-plan nearest-center + broadcast-centroid
    * cosine, micro-quantized), collect the nlist-bounded per-cell rollup,
    * accumulate into the caller's standing maps. Shared by the IVF and
    * composed monitors so the hash-checked arithmetic exists exactly once
    * (the [[DriftMonitor]] doc's cannot-drift-apart contract, applied to
    * the folds themselves). Returns the batch's vector count. */
  private def cellHealthFold(vecs: org.apache.spark.sql.DataFrame,
      centers: Array[Array[Double]],
      cellN: scala.collection.mutable.Map[Int, Long],
      cellSum: scala.collection.mutable.Map[Int, Long]): Long = {
    val spark = vecs.sparkSession
    var batchVecs = 0L
    vecs
      .select(col("embedding"),
        graft.functions.VectorExpressions
          .nearestCenter(col("embedding"), centers).as("cell"))
      .join(org.apache.spark.sql.functions.broadcast(
        Similarity.centersFloatDf(spark, centers)), Seq("cell"))
      .withColumn("cos_micros",
        graft.util.Cols.micros6(
          Similarity.cosine(col("embedding"), col("centroid"))))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("cos_micros")).as("s"))
      .collect() // nlist-bounded
      .foreach { r =>
        val cell = r.getInt(0)
        batchVecs += r.getLong(1)
        cellN(cell) = cellN.getOrElse(cell, 0L) + r.getLong(1)
        cellSum(cell) = cellSum.getOrElse(cell, 0L) + r.getLong(2)
      }
    batchVecs
  }

  /** The ONE per-batch reconstruction-error fold (`pq_quant_error`'s
    * oracle-replayed arithmetic — [[graft.functions.PqReconErrExpr]] +
    * exact integer-micro rollup), shared by the PQ and composed monitors.
    * Returns (batch vector count, batch err-micros sum). */
  private def reconErrFold(vecs: org.apache.spark.sql.DataFrame,
      model: graft.operators.Pq.PqModel): (Long, Long) = {
    val h = vecs
      .select(posexplode(graft.functions.VectorExpressions
        .pqReconErrs(col("embedding"), model.codebooks))
        .as(Seq("subspace", "err")))
      .select(graft.util.Cols.micros6(col("err")).as("err_micros"))
      .agg(count(lit(1)), coalesce(sum(col("err_micros")), lit(0L)))
      .head()
    (h.getLong(0) / math.max(model.numSubspaces, 1), h.getLong(1))
  }

  /** Cell-totals persistence fragment shared by the monitors that carry
    * the per-cell maps — serializer and parser in one place so the state
    * file format cannot fork. */
  private def cellTotalsJson(cellN: scala.collection.mutable.Map[Int, Long],
      cellSum: scala.collection.mutable.Map[Int, Long]): String =
    cellN.keys.toSeq.sorted
      .map(c => s"""["$c","${cellN(c)}","${cellSum(c)}"]""")
      .mkString("[", ",", "]")

  private def restoreCellTotals(entries: Any,
      cellN: scala.collection.mutable.Map[Int, Long],
      cellSum: scala.collection.mutable.Map[Int, Long]): Unit =
    entries.asInstanceOf[List[Any]].foreach { e =>
      val l = e.asInstanceOf[List[Any]]
      val c = l(0).asInstanceOf[String].toInt
      cellN(c) = l(1).asInstanceOf[String].toLong
      cellSum(c) = l(2).asInstanceOf[String].toLong
    }

  /** Standing state of the IVF DRIFT WATCHER — the monitoring half of the
    * IVF ops loop ([[autoRetrainIngestQuery]]): cumulative per-cell health
    * totals since the last retrain (nlist-bounded driver maps — the same
    * boundedness contract as the centroid matrix itself) plus the centers
    * the totals were scored against. `healthFloorMicros` is the alarm
    * threshold on the corpus-weighted mean centroid-cosine (micro-quantized
    * — [[graft.operators.Similarity.ivfRetrainHealth]]'s exact arithmetic);
    * `minVecsForAlarm` is the warm-up: no alarm until that many vectors
    * have been scored against the current geometry, so a single early
    * micro-batch can't trigger a retrain on noise (and the count restarts
    * at every retrain, bounding retrain frequency by ingest volume). */
  final class RetrainMonitor private[streaming] (
      indexPath: String,
      val healthFloorMicros: Long,
      minVecsForAlarm: Long,
      stateDir: Option[String])
      extends DriftMonitor(indexPath, minVecsForAlarm, stateDir) {
    private[streaming] var centers: Array[Array[Double]] = Array.empty
    private[streaming] var centersSig: Seq[(String, Long, Long)] = Nil
    private[streaming] var coarseQ: Option[Similarity.CoarseQuantizer] = None
    private[streaming] val cellN =
      scala.collection.mutable.Map.empty[Int, Long]
    private[streaming] val cellSum =
      scala.collection.mutable.Map.empty[Int, Long]
    // COARSE-CONSISTENCY tallies (indexes serving through the two-level
    // quantizer only): Σ|flat-choice ∩ two-level-choice| over probed
    // vectors, at the serving defaults (nprobe=4, wCoarse=2). The fine
    // centers' health says the GEOMETRY still fits the data; this says
    // the coarse SHORTCUT still finds the cells the exact ranking would —
    // the one medium the r16 monitors left unwatched. Exact integers;
    // reset with the health totals at every resync (the ratio is a
    // property of one (centers, coarse) pairing).
    private[streaming] var coarseOverlapSum: Long = 0L
    private[streaming] var coarseProbeN: Long = 0L

    def totalVecs: Long = cellN.values.sum

    /** nprobe / wCoarse the consistency watch scores at — the serving
      * defaults, so the ratio measures the choice production probes make. */
    val CoarseWatchNprobe = 4
    val CoarseWatchWCoarse = 2

    /** Mean fraction (in micros) of the exact flat probe-cell choice the
      * two-level choice reproduces, since the last resync: 1 000 000 =
      * every probed vector would open identical cells; degradation means
      * drift has made the coarse shortcut miss cells the exact ranking
      * ranks — raise wCoarse or refit at new ncoarse. None for flat
      * indexes and until any vector was scored. */
    def coarseConsistencyMicros: Option[Long] =
      if (coarseProbeN == 0L) None
      else Some(1000000L * coarseOverlapSum /
        (coarseProbeN * CoarseWatchNprobe))

    /** Corpus-weighted mean health since the last retrain: Σsum / Σn in
      * Long division (truncates toward zero — Spark `DIV`, Scala Long `/`,
      * and the oracle's DuckDB `//` all truncate; verified on the oracle
      * engine for the negative-numerator case too: `-7 // 2 = -3`, not the
      * floored -4 — so a drifted corpus whose weighted cosine sum goes
      * negative still folds identically on all three).
      * None until any vector has been scored. */
    def weightedMeanMicros: Option[Long] = {
      val n = totalVecs
      if (n == 0L) None else Some(cellSum.values.sum / n)
    }

    private[streaming] def decisionMetric: Option[Long] = weightedMeanMicros
    private[streaming] def crossed(metric: Long): Boolean =
      metric < healthFloorMicros
    private[streaming] def metricName: String = "weighted_mean_micros"
    private[streaming] def storedSig: Seq[(String, Long, Long)] = centersSig

    private[streaming] def resetTotals(): Unit = {
      cellN.clear(); cellSum.clear()
      coarseOverlapSum = 0L; coarseProbeN = 0L
    }

    /** Re-sync the scored-against geometry with the index on disk: if the
      * centers signature changed (a retrain — ours or an external one —
      * swapped the index), reload centers and DROP the accumulated totals:
      * they measured the retired geometry and would poison the next alarm
      * decision. The same freshest-available contract as the serving
      * loop's per-trigger signature check. */
    private[streaming] def resync(spark: org.apache.spark.sql.SparkSession): Unit = {
      val sig = Similarity.centersSignature(spark, indexPath)
      if (sig != centersSig) {
        centers = Similarity.loadCenters(spark, indexPath)
        // the signature covers coarse/ — a coarse refit (or a late
        // migration) reloads the quantizer and restarts the consistency
        // tallies with the health totals
        coarseQ = Similarity.loadCoarseQuantizer(spark, indexPath)
        centersSig = sig
        resetTotals()
      }
    }

    /** APPEND against the monitor's resynced centers — in-plan nearest
      * center, cell-partitioned idempotent publish. Using the monitor's own
      * centers (not a fresh disk read, which the pre-r14 path did) also
      * closes a consistency gap: append and fold can no longer straddle an
      * external swap landing between them. */
    private[graft] def appendBatch(vecs: org.apache.spark.sql.DataFrame,
        batchTag: String): Unit =
      graft.util.BatchAppend.append(
        graft.util.Cols.spread(vecs).select(col("vec_id"), col("embedding"),
          graft.functions.VectorExpressions
            .nearestCenter(col("embedding"), centers).as("cell")),
        s"$indexPath/corpus", batchTag, partitionCol = Some("cell"))

    /** SCORE the batch's health against the same centers it was just
      * encoded with — the shared [[cellHealthFold]]. */
    private[streaming] def foldBatch(
        vecs: org.apache.spark.sql.DataFrame): Long = {
      val n = cellHealthFold(vecs, centers, cellN, cellSum)
      // coarse-consistency fold: one tiny exact aggregate per batch —
      // both choices are codegen expressions, the overlap is an integer
      coarseQ.foreach { cq =>
        val r = vecs
          .select(org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.array_intersect(
              graft.functions.VectorExpressions.probeCells(
                col("embedding"), centers, CoarseWatchNprobe),
              graft.functions.VectorExpressions.probeCellsCoarse(
                col("embedding"), cq.coarseCenters, cq.cellToCoarse,
                centers, CoarseWatchNprobe, CoarseWatchWCoarse)))
            .cast("long").as("overlap"))
          .agg(count(lit(1)),
            coalesce(sum(col("overlap")), lit(0L))).head()
        coarseProbeN += r.getLong(0)
        coarseOverlapSum += r.getLong(1)
      }
      n
    }

    private[streaming] def fireRetrain(
        spark: org.apache.spark.sql.SparkSession): Unit =
      Similarity.retrainIvfIndex(spark, indexPath)

    private[streaming] def totalsJson: String =
      s"""{"cells":${cellTotalsJson(cellN, cellSum)},""" +
        s""""coarse_overlap":"$coarseOverlapSum",""" +
        s""""coarse_probes":"$coarseProbeN"}"""
    private[streaming] def restoreTotals(m: Map[String, Any]): Unit = {
      restoreCellTotals(m("cells"), cellN, cellSum)
      // absent in state persisted before the watch existed: zero tallies
      coarseOverlapSum = m.get("coarse_overlap")
        .map(_.asInstanceOf[String].toLong).getOrElse(0L)
      coarseProbeN = m.get("coarse_probes")
        .map(_.asInstanceOf[String].toLong).getOrElse(0L)
    }
    private[streaming] def compactTargets: Seq[(String, Option[String])] =
      Seq(("corpus", Some("cell")))
  }

  /** Resolve the standing side of the auto-retrain loop once: centers +
    * signature + health totals. With a `stateDir`, totals, the batch
    * fence, and the retrain counter re-seed from the state persisted by
    * the previous incarnation ([[DriftMonitor.seedState]]) — the
    * crash-restart contract MonitorDurabilitySpec pins. */
  def prepareRetrainMonitor(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, healthFloorMicros: Long,
      minVecsForAlarm: Long = 0L,
      stateDir: Option[String] = None,
      autoCompactMaxFiles: Option[Long] = None,
      autoCompactMaxTombstones: Option[Long] = None): RetrainMonitor = {
    val m = new RetrainMonitor(indexPath, healthFloorMicros,
      minVecsForAlarm, stateDir)
    m.autoCompactMaxFiles = autoCompactMaxFiles
    m.autoCompactMaxTombstones = autoCompactMaxTombstones
    m.resync(spark)
    m.seedState(spark)
    m
  }

  /** The COMPOSED IVF ops loop — ingest → drift alarm → retrain — as one
    * standing stream, closing the lifecycle whose parts the batch entries
    * pin separately (health: `ivf_retrain_health`; response:
    * [[Similarity.retrainIvfIndex]]; retrain-surviving serving:
    * [[ivfSearchQuery]]'s signature check). Per micro-batch of
    * (vec_id, embedding):
    *
    *  1. APPEND against the frozen centroids
    *     ([[Similarity.appendToIvfIndex]] — new files under the cell
    *     directories; concurrent probes see them at their next listing);
    *  2. SCORE the batch's health against the same frozen centers it was
    *     just encoded with (in-plan nearest-center + broadcast-centroid
    *     cosine, micro-quantized — the `ivf_retrain_health` arithmetic),
    *     one nlist-bounded per-cell rollup collected and folded into the
    *     monitor's standing totals;
    *  3. ALARM when the cumulative corpus-weighted mean drops below
    *     `healthFloorMicros` (after the `minVecsForAlarm` warm-up), firing
    *     [[Similarity.retrainIvfIndex]] — full refit over everything
    *     ingested so far, staged-then-swapped — after which the totals
    *     reset and the centers reload; a standing [[ivfSearchQuery]]
    *     serving the same index picks the swap up at its own next trigger
    *     with no restart (IvfAutoRetrainSpec pins the whole lifecycle).
    *
    * Every monitor decision goes to `sink` as one row per delivered batch:
    * (batch_id, batch_vecs, total_vecs, weighted_mean_micros, alarm,
    * retrained) — the ops audit trail.
    *
    * At-least-once → effectively exactly-once: append, fold, and retrain
    * are side effects, so all three are fenced by the monitor's
    * highest-folded batch id — a redelivery skips them and re-emits a row
    * from the standing state (retrained=false). The fence is DURABLE when
    * the monitor is prepared with a `stateDir` (persisted with every fold
    * — [[DriftMonitor]]), and the append is idempotent per batch id
    * independently of it ([[graft.util.BatchAppend]]'s stage → clean →
    * publish), so even the one replay that runs WITHOUT the fence (crash
    * after append, before the fold persisted) republishes the same files
    * rather than duplicating vec_ids. MonitorDurabilitySpec pins the
    * crash-restart matrix; without a `stateDir` the fence degrades to
    * same-process redeliveries only.
    *
    * Scale per trigger: the append is a partitioned write of the batch;
    * the health probe is one broadcast join + partial-aggregated rollup
    * over the batch (never the corpus); driver state is two
    * nlist-bounded maps. The retrain itself reads the full corpus — that
    * is its semantic — but fires only on alarm, and the warm-up bounds
    * its frequency by ingest volume. */
  def autoRetrainIngestQuery(vecStream: DataFrame, monitor: RetrainMonitor)
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    // wiring a monitor into a NEW query incarnation re-arms the
    // checkpoint-reset guard — a reused monitor object must not let its
    // previous incarnation's folds mask a reset checkpoint (see
    // processDriftIngestBatch's require)
    monitor.foldedThisIncarnation = false
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processIngestBatch(monitor, batch, batchId)(sink)
      }
  }

  /** One auto-retrain micro-batch for EITHER tier — the shared foreachBatch
    * body behind [[processIngestBatch]] and [[processPqIngestBatch]],
    * exposed via those wrappers so each loop's lifecycle and replay fence
    * are directly testable. Per delivered batch:
    *
    *  1. the batch-id FENCE: an id at or below the highest folded id is a
    *     redelivery (a sink retry, or a crash-restart replay when the
    *     monitor was seeded from its persisted state) — all side effects
    *     skip and a row re-emits from the standing totals;
    *  2. RESYNC picks up an external swap before anything is scored;
    *  3. APPEND publishes the batch's index side effects idempotently
    *     under the batch tag ([[graft.util.BatchAppend]]) — even the
    *     replay a crash forces through WITHOUT the state file (died after
    *     append, before the fold persisted) lands the same files, not
    *     duplicates;
    *  4. FOLD scores the batch's health and accumulates it;
    *  5. the state PERSISTS (with the fold, before any retrain — so a
    *     crash mid-retrain can never replay this batch's append into the
    *     refit corpus; the un-fired retrain re-arms on the next batch
    *     because the totals still cross the threshold);
    *  6. on ALARM the retrain fires, geometry reloads, totals reset, and
    *     the state persists again (generation 2·batch+1) recording the
    *     new signature + the bumped ops counter;
    *  7. the monitor row goes to `sink` — the state write rides the same
    *     batch-id delivery as the sink row: a sink failure retries the
    *     whole batch into the fence, which re-emits without re-appending.
    */
  private def processDriftIngestBatch(monitor: DriftMonitor,
      batch: DataFrame, batchId: Long)
      (sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    var batchVecs = 0L
    var retrained = false
    var alarm = false
    var totalAtDecision = 0L
    var meanAtDecision = Long.MinValue
    // A FRESH incarnation whose first delivered id is STRICTLY below the
    // disk-seeded fence cannot occur in a healthy lifecycle: Structured
    // Streaming replays at most the one uncommitted batch (= the fence
    // itself). Seeing an older id there means the query checkpoint was
    // reset while the monitor stateDir survived — silently fencing would
    // skip every append until ids catch back up to the stale fence
    // (hundreds of batches of vectors never published, with healthy-
    // looking monitor rows). Fail loudly instead; the operator resets or
    // restores the two together. Once this incarnation has folded a batch
    // itself, an older id is just a same-process redelivery and re-emits
    // benignly below.
    require(monitor.foldedThisIncarnation ||
      batchId >= monitor.lastFoldedBatch,
      s"drift monitor at ${monitor.indexPath}: delivered batch $batchId is " +
        s"below the persisted fence ${monitor.lastFoldedBatch} — the query " +
        "checkpoint was reset while the monitor stateDir survived. Clear " +
        "the stateDir (reprocess from scratch) or restore the matching " +
        "checkpoint; they must move together.")
    if (batchId > monitor.lastFoldedBatch) {
      monitor.resync(spark) // pick up an EXTERNAL swap before scoring
      val vecs = batch.select(col("vec_id"), col("embedding"))
        .persist() // scanned by the append(s), then the health rollup
      try {
        monitor.appendBatch(vecs, graft.util.BatchAppend.tag(batchId))
        batchVecs = monitor.foldBatch(vecs)
        monitor.lastFoldedBatch = batchId
        monitor.foldedThisIncarnation = true
        alarm = monitor.totalVecs >= monitor.minVecsForAlarm &&
          monitor.decisionMetric.exists(monitor.crossed)
        // the emitted row carries the DECISION-TIME evidence — a fired
        // retrain resets the totals, but the row must still show the
        // metric and volume that crossed the threshold
        totalAtDecision = monitor.totalVecs
        meanAtDecision = monitor.decisionMetric.getOrElse(Long.MinValue)
        monitor.persistState(spark, gen = 2L * batchId)
        if (alarm) {
          monitor.fireRetrain(spark)
          monitor.resync(spark) // reloads the new geometry, resets totals
          monitor.retrains += 1L
          retrained = true
          monitor.persistState(spark, gen = 2L * batchId + 1L)
        } else if (monitor.maybeAutoCompact(spark)) {
          // the fragmentation response runs in the same maintenance slot
          // retrains do (appends sequenced out by construction) but never
          // in a retrain trigger — the retrain just rewrote the layout.
          // gen 2·batch+1 is free on the no-alarm path; persisting records
          // the bumped compaction counter next to the unchanged fence.
          monitor.persistState(spark, gen = 2L * batchId + 1L)
        }
      } finally { val _ = vecs.unpersist() }
    } else {
      totalAtDecision = monitor.totalVecs
      meanAtDecision = monitor.decisionMetric.getOrElse(Long.MinValue)
    }
    sink(Seq((batchId, batchVecs, totalAtDecision, meanAtDecision, alarm,
      retrained)).toDF("batch_id", "batch_vecs", "total_vecs",
      monitor.metricName, "alarm", "retrained"), batchId)
  }

  /** One IVF auto-retrain micro-batch — [[processDriftIngestBatch]] with
    * the IVF monitor's bindings, kept as the directly-testable entry. */
  private[graft] def processIngestBatch(monitor: RetrainMonitor,
      batch: DataFrame, batchId: Long)
      (sink: (DataFrame, Long) => Unit): Unit =
    processDriftIngestBatch(monitor, batch, batchId)(sink)

  /** Standing state of the PQ drift watcher — the compressed tier's
    * [[RetrainMonitor]]: cumulative reconstruction-error totals since the
    * last retrain (two driver longs — even smaller than the IVF monitor's
    * per-cell maps) plus the frozen codebooks the errors were measured
    * against. Reconstruction error RISES under drift, so the alarm is a
    * CEILING on the per-vector mean (micros — `pq_quant_error`'s exact
    * integer arithmetic), where the IVF monitor's cosine health used a
    * floor. */
  final class PqRetrainMonitor private[streaming] (
      indexPath: String,
      val errCeilingMicros: Long,
      minVecsForAlarm: Long,
      stateDir: Option[String])
      extends DriftMonitor(indexPath, minVecsForAlarm, stateDir) {
    private[streaming] var model: graft.operators.Pq.PqModel = _
    private[streaming] var modelSig: Seq[(String, Long, Long)] = Nil
    private[streaming] var nVecs: Long = 0L
    private[streaming] var sumErrMicros: Long = 0L

    def totalVecs: Long = nVecs

    /** Cumulative per-vector mean reconstruction error since the last
      * retrain (truncating Long division — Spark `DIV` ≡ DuckDB `//`,
      * negative numerators included; see [[RetrainMonitor.weightedMeanMicros]]). */
    def meanErrMicros: Option[Long] =
      if (nVecs == 0L) None else Some(sumErrMicros / nVecs)

    private[streaming] def decisionMetric: Option[Long] = meanErrMicros
    private[streaming] def crossed(metric: Long): Boolean =
      metric > errCeilingMicros
    private[streaming] def metricName: String = "mean_err_micros"
    private[streaming] def storedSig: Seq[(String, Long, Long)] = modelSig

    private[streaming] def resync(spark: org.apache.spark.sql.SparkSession): Unit = {
      val sig = graft.operators.Pq.codebooksSignature(spark, indexPath)
      if (sig != modelSig) {
        model = graft.operators.Pq.loadPqModel(spark, indexPath)
        modelSig = sig
        nVecs = 0L
        sumErrMicros = 0L
      }
    }

    /** Two idempotent publishes per batch: the RAW vectors under
      * `$indexPath/raw` (the rerank-tier corpus the retrain refits over)
      * and the frozen-codebook codes under `$indexPath/codes` — both under
      * the batch tag, both against the monitor's OWN resynced model. */
    private[graft] def appendBatch(vecs: org.apache.spark.sql.DataFrame,
        batchTag: String): Unit = {
      graft.util.BatchAppend.append(vecs, s"$indexPath/raw", batchTag)
      graft.util.BatchAppend.append(
        graft.operators.Pq.encode(graft.util.Cols.spread(vecs), model),
        s"$indexPath/codes", batchTag)
    }

    /** The batch's per-subspace reconstruction errors folded as two
      * driver longs — the shared [[reconErrFold]]. */
    private[streaming] def foldBatch(
        vecs: org.apache.spark.sql.DataFrame): Long = {
      val (batchVecs, errSum) = reconErrFold(vecs, model)
      nVecs += batchVecs
      sumErrMicros += errSum
      batchVecs
    }

    private[streaming] def fireRetrain(
        spark: org.apache.spark.sql.SparkSession): Unit =
      graft.operators.Pq.retrainPqIndex(
        spark.read.parquet(s"$indexPath/raw"), indexPath)

    private[streaming] def totalsJson: String =
      s"""{"n_vecs":"$nVecs","sum_err_micros":"$sumErrMicros"}"""
    private[streaming] def restoreTotals(m: Map[String, Any]): Unit = {
      nVecs = m("n_vecs").asInstanceOf[String].toLong
      sumErrMicros = m("sum_err_micros").asInstanceOf[String].toLong
    }
    private[streaming] def compactTargets: Seq[(String, Option[String])] =
      Seq(("raw", None), ("codes", None))
  }

  /** Resolve the standing side of the PQ auto-retrain loop once; with a
    * `stateDir` the monitor re-seeds from its persisted state — the same
    * crash-restart contract as [[prepareRetrainMonitor]]. */
  def preparePqRetrainMonitor(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, errCeilingMicros: Long,
      minVecsForAlarm: Long = 0L,
      stateDir: Option[String] = None,
      autoCompactMaxFiles: Option[Long] = None,
      autoCompactMaxTombstones: Option[Long] = None): PqRetrainMonitor = {
    val m = new PqRetrainMonitor(indexPath, errCeilingMicros,
      minVecsForAlarm, stateDir)
    m.autoCompactMaxFiles = autoCompactMaxFiles
    m.autoCompactMaxTombstones = autoCompactMaxTombstones
    m.resync(spark)
    m.seedState(spark)
    m
  }

  /** The PQ tier's COMPOSED ops loop — ingest → reconstruction-error alarm
    * → codebook retrain — [[autoRetrainIngestQuery]]'s twin for the
    * compressed index. Per micro-batch of (vec_id, embedding):
    *
    *  1. the RAW vectors append under `$indexPath/raw` — the rerank-tier
    *     raw corpus a PQ deployment keeps anyway, and what the retrain
    *     refits over (the index itself stores only codes);
    *  2. the batch encodes against the FROZEN codebooks into the codes dir
    *     ([[graft.operators.Pq.appendToPqIndex]]);
    *  3. the batch's per-subspace reconstruction errors
    *     ([[graft.functions.PqReconErrExpr]] — `pq_quant_error`'s exact
    *     integer-micro arithmetic) fold into the monitor; when the
    *     cumulative per-vector mean EXCEEDS `errCeilingMicros` (after the
    *     warm-up), [[graft.operators.Pq.retrainPqIndex]] refits over
    *     `$indexPath/raw` and swaps codes + codebooks
    *     ([[graft.util.IndexSwap]]); a standing [[pqSearchQuery]] serving
    *     the same index picks the swap up at its own next trigger with no
    *     restart (PqAutoRetrainSpec pins the lifecycle).
    *
    * Monitor rows to `sink`, one per delivered batch: (batch_id,
    * batch_vecs, total_vecs, mean_err_micros, alarm, retrained).
    * At-least-once: the same durable fence + idempotent-append contract as
    * the IVF loop ([[autoRetrainIngestQuery]]'s note — the shared
    * [[DriftMonitor]] lifecycle IS the implementation). */
  def autoRetrainPqIngestQuery(vecStream: DataFrame,
      monitor: PqRetrainMonitor)
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    monitor.foldedThisIncarnation = false // see autoRetrainIngestQuery
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processPqIngestBatch(monitor, batch, batchId)(sink)
      }
  }

  /** One PQ auto-retrain micro-batch — [[processDriftIngestBatch]] with
    * the PQ monitor's bindings, kept as the directly-testable entry. */
  private[graft] def processPqIngestBatch(monitor: PqRetrainMonitor,
      batch: DataFrame, batchId: Long)
      (sink: (DataFrame, Long) => Unit): Unit =
    processDriftIngestBatch(monitor, batch, batchId)(sink)

  /** The per-batch GRID reconstruction-error fold (`sq_quant_error`'s
    * oracle-replayed arithmetic — [[graft.operators.Sq.reconErr]] + the
    * pinned micros quantization): returns (batch vector count, batch
    * err-micros sum). The SQ twin of [[reconErrFold]]. */
  private def sqReconErrFold(vecs: org.apache.spark.sql.DataFrame,
      model: graft.operators.Sq.SqModel): (Long, Long) = {
    val h = graft.operators.Sq
      .reconErr(vecs.select(col("vec_id"), col("embedding")), model)
      .select(graft.util.Cols.micros6(col("d") * col("d")).as("err_micros"))
      .agg(count(lit(1)), coalesce(sum(col("err_micros")), lit(0L)))
      .head()
    (h.getLong(0) / math.max(model.mins.length, 1), h.getLong(1))
  }

  /** Standing state of the SQ8 GRID-DRIFT watcher — the 4× tier's
    * [[PqRetrainMonitor]]: a frozen [min, max] grid CLAMPS out-of-range
    * arrivals (the SQ8 saturation), so reconstruction error rises under
    * range drift exactly like PQ codebook drift; the alarm is the same
    * CEILING on the cumulative per-vector mean (micros —
    * `sq_quant_error`'s exact arithmetic via the shared
    * [[graft.operators.Sq.reconErr]]). Appends publish the raw vectors
    * (under `$indexPath/raw` — what the refit runs over) and the
    * frozen-grid codes, both idempotently under the batch tag; the
    * response is [[graft.operators.Sq.retrainSqIndex]] (grid refit +
    * re-encode + staged swap of codes + params). Durability, replay
    * fencing, alarm protocol, and auto-compaction are the inherited
    * [[DriftMonitor]] scaffold — written once. */
  final class SqRetrainMonitor private[streaming] (
      indexPath: String,
      val errCeilingMicros: Long,
      minVecsForAlarm: Long,
      stateDir: Option[String])
      extends DriftMonitor(indexPath, minVecsForAlarm, stateDir) {
    private[streaming] var model: graft.operators.Sq.SqModel = _
    private[streaming] var modelSig: Seq[(String, Long, Long)] = Nil
    private[streaming] var nVecs: Long = 0L
    private[streaming] var sumErrMicros: Long = 0L

    def totalVecs: Long = nVecs

    /** Cumulative per-vector mean grid reconstruction error since the
      * last retrain (truncating Long division — the pinned cross-engine
      * contract; see [[RetrainMonitor.weightedMeanMicros]]). */
    def meanErrMicros: Option[Long] =
      if (nVecs == 0L) None else Some(sumErrMicros / nVecs)

    private[streaming] def decisionMetric: Option[Long] = meanErrMicros
    private[streaming] def crossed(metric: Long): Boolean =
      metric > errCeilingMicros
    private[streaming] def metricName: String = "mean_err_micros"
    private[streaming] def storedSig: Seq[(String, Long, Long)] = modelSig

    private[streaming] def resync(spark: org.apache.spark.sql.SparkSession): Unit = {
      val sig = graft.operators.Sq.paramsSignature(spark, indexPath)
      if (sig != modelSig) {
        model = graft.operators.Sq.loadSqModel(spark, indexPath)
        modelSig = sig
        nVecs = 0L
        sumErrMicros = 0L
      }
    }

    /** Two idempotent publishes per batch against the monitor's OWN
      * resynced grid: raw vectors (the refit corpus) and frozen-grid
      * codes — the [[PqRetrainMonitor.appendBatch]] shape. */
    private[graft] def appendBatch(vecs: org.apache.spark.sql.DataFrame,
        batchTag: String): Unit = {
      graft.util.BatchAppend.append(vecs, s"$indexPath/raw", batchTag)
      graft.util.BatchAppend.append(
        graft.operators.Sq.encode(graft.util.Cols.spread(vecs), model),
        s"$indexPath/codes", batchTag)
    }

    private[streaming] def foldBatch(
        vecs: org.apache.spark.sql.DataFrame): Long = {
      val (batchVecs, errSum) = sqReconErrFold(vecs, model)
      nVecs += batchVecs
      sumErrMicros += errSum
      batchVecs
    }

    private[streaming] def fireRetrain(
        spark: org.apache.spark.sql.SparkSession): Unit =
      graft.operators.Sq.retrainSqIndex(
        spark.read.parquet(s"$indexPath/raw"), indexPath)

    private[streaming] def totalsJson: String =
      s"""{"n_vecs":"$nVecs","sum_err_micros":"$sumErrMicros"}"""
    private[streaming] def restoreTotals(m: Map[String, Any]): Unit = {
      nVecs = m("n_vecs").asInstanceOf[String].toLong
      sumErrMicros = m("sum_err_micros").asInstanceOf[String].toLong
    }
    private[streaming] def compactTargets: Seq[(String, Option[String])] =
      Seq(("raw", None), ("codes", None))
  }

  /** Resolve the standing side of the SQ8 auto-retrain loop once; same
    * crash-restart contract as every other prepare. */
  def prepareSqRetrainMonitor(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, errCeilingMicros: Long,
      minVecsForAlarm: Long = 0L,
      stateDir: Option[String] = None,
      autoCompactMaxFiles: Option[Long] = None,
      autoCompactMaxTombstones: Option[Long] = None): SqRetrainMonitor = {
    val m = new SqRetrainMonitor(indexPath, errCeilingMicros,
      minVecsForAlarm, stateDir)
    m.autoCompactMaxFiles = autoCompactMaxFiles
    m.autoCompactMaxTombstones = autoCompactMaxTombstones
    m.resync(spark)
    m.seedState(spark)
    m
  }

  /** One SQ8 auto-retrain micro-batch — [[processDriftIngestBatch]] with
    * the SQ monitor's bindings, kept as the directly-testable entry. */
  private[graft] def processSqIngestBatch(monitor: SqRetrainMonitor,
      batch: DataFrame, batchId: Long)
      (sink: (DataFrame, Long) => Unit): Unit =
    processDriftIngestBatch(monitor, batch, batchId)(sink)

  /** Standing state of the COMPOSED IVF×PQ drift watcher — both tiers'
    * monitors fused over one [[graft.operators.Pq.writeIvfPqIndex]] index,
    * because the composed index has BOTH failure modes and they drift
    * independently: the coarse cells stop matching the ingested
    * distribution (probe recall decays — the IVF monitor's corpus-weighted
    * centroid-cosine FLOOR) and the codebooks stop reconstructing it (ADC
    * distances decay — the PQ monitor's reconstruction-error CEILING).
    * The alarm is the OR: the emitted decision metric is the binding
    * MARGIN, `min(coarse_mean − floor, ceiling − recon_err_mean)` in
    * micros, and the loop retrains when it goes strictly negative —
    * whichever signal crossed, the response is the same
    * [[graft.operators.Pq.retrainIvfPqIndex]] (both stages refit and swap
    * as one unit; refitting only the drifted stage would leave codes
    * partitioned under stale cells or vice versa).
    *
    * Totals are the union of the two monitors' (nlist-bounded cell maps +
    * two longs); both are scored against the SAME resynced geometry and
    * retired together when the combined [[graft.operators.Pq
    * .ivfPqSignature]] changes. */
  sealed class IvfPqRetrainMonitor private[streaming] (
      indexPath: String,
      val healthFloorMicros: Long,
      val errCeilingMicros: Long,
      minVecsForAlarm: Long,
      stateDir: Option[String])
      extends DriftMonitor(indexPath, minVecsForAlarm, stateDir) {
    private[streaming] var centers: Array[Array[Double]] = Array.empty
    private[streaming] var model: graft.operators.Pq.PqModel = _
    private[streaming] var sig: Seq[(String, Long, Long)] = Nil
    private[streaming] val cellN =
      scala.collection.mutable.Map.empty[Int, Long]
    private[streaming] val cellSum =
      scala.collection.mutable.Map.empty[Int, Long]
    private[streaming] var nVecs: Long = 0L
    private[streaming] var sumErrMicros: Long = 0L

    def totalVecs: Long = nVecs

    /** The coarse signal: corpus-weighted mean centroid-cosine since the
      * last retrain ([[RetrainMonitor.weightedMeanMicros]]'s arithmetic,
      * truncating Long division on all three engines). */
    def weightedMeanMicros: Option[Long] = {
      val n = cellN.values.sum
      if (n == 0L) None else Some(cellSum.values.sum / n)
    }

    /** The compressed signal: mean reconstruction error since the last
      * retrain ([[PqRetrainMonitor.meanErrMicros]]'s arithmetic). */
    def meanErrMicros: Option[Long] =
      if (nVecs == 0L) None else Some(sumErrMicros / nVecs)

    /** The binding margin — how far the HEALTHIER-looking of the two
      * signals' thresholds still is, in micros; strictly negative means at
      * least one signal has crossed. Both totals fold from the same
      * batches, so either both are defined or neither. */
    def driftMarginMicros: Option[Long] =
      for { wm <- weightedMeanMicros; em <- meanErrMicros }
        yield math.min(wm - healthFloorMicros, errCeilingMicros - em)

    private[streaming] def decisionMetric: Option[Long] = driftMarginMicros
    private[streaming] def crossed(metric: Long): Boolean = metric < 0L
    private[streaming] def metricName: String = "drift_margin_micros"
    private[streaming] def storedSig: Seq[(String, Long, Long)] = sig

    private[streaming] def resync(spark: org.apache.spark.sql.SparkSession): Unit = {
      val s = graft.operators.Pq.ivfPqSignature(spark, indexPath)
      if (s != sig) {
        centers = Similarity.loadCenters(spark, indexPath)
        model = graft.operators.Pq.loadPqModel(spark, indexPath)
        sig = s
        cellN.clear(); cellSum.clear()
        nVecs = 0L; sumErrMicros = 0L
      }
    }

    /** Two idempotent publishes per batch against the monitor's OWN
      * resynced geometry: the RAW vectors under `$indexPath/raw` (what the
      * composed retrain refits over) and the frozen-center, frozen-codebook
      * composed codes under the cell directories — the streaming form of
      * [[graft.operators.Pq.appendToIvfPqIndex]]. */
    private[graft] def appendBatch(vecs: org.apache.spark.sql.DataFrame,
        batchTag: String): Unit = {
      graft.util.BatchAppend.append(vecs, s"$indexPath/raw", batchTag)
      graft.util.BatchAppend.append(encodeBatch(vecs),
        s"$indexPath/codes", batchTag, partitionCol = Some("cell"))
    }

    /** The frozen-geometry encode of one ingested batch — the raw-code
      * composition here; the residual subclass swaps the encode (and ONLY
      * the encode — append fencing, durability, and alarm lifecycle are
      * inherited, written once). */
    protected def encodeBatch(
        vecs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      graft.util.Cols.spread(vecs).select(col("vec_id"),
        graft.functions.VectorExpressions
          .pqCodes(col("embedding"), model.codebooks).as("codes"),
        graft.functions.VectorExpressions
          .nearestCenter(col("embedding"), centers).as("cell"))

    /** Both health rollups over the (persisted) batch — the SAME shared
      * folds the single-tier monitors run ([[cellHealthFold]] /
      * [[reconErrFold]]), so the composed alarm evidence stays replayable
      * by the same oracles (`ivf_drift_alarm` / `pq_quant_error`) by
      * construction, not by parallel maintenance. */
    private[streaming] def foldBatch(
        vecs: org.apache.spark.sql.DataFrame): Long = {
      val _ = cellHealthFold(vecs, centers, cellN, cellSum)
      val (batchVecs, errSum) = batchErrFold(vecs)
      nVecs += batchVecs
      sumErrMicros += errSum
      batchVecs
    }

    /** The compressed-signal rollup of one batch — raw reconstruction
      * error here, residual in the subclass. */
    protected def batchErrFold(
        vecs: org.apache.spark.sql.DataFrame): (Long, Long) =
      reconErrFold(vecs, model)

    private[streaming] def fireRetrain(
        spark: org.apache.spark.sql.SparkSession): Unit =
      graft.operators.Pq.retrainIvfPqIndex(
        spark.read.parquet(s"$indexPath/raw"), indexPath)

    private[streaming] def totalsJson: String =
      s"""{"cells":${cellTotalsJson(cellN, cellSum)},""" +
        s""""n_vecs":"$nVecs","sum_err_micros":"$sumErrMicros"}"""
    private[streaming] def restoreTotals(m: Map[String, Any]): Unit = {
      restoreCellTotals(m("cells"), cellN, cellSum)
      nVecs = m("n_vecs").asInstanceOf[String].toLong
      sumErrMicros = m("sum_err_micros").asInstanceOf[String].toLong
    }
    private[streaming] def compactTargets: Seq[(String, Option[String])] =
      Seq(("raw", None), ("codes", Some("cell")))
  }

  /** Resolve the standing side of the composed auto-retrain loop once;
    * same crash-restart contract as the single-tier prepares. */
  def prepareIvfPqRetrainMonitor(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, healthFloorMicros: Long, errCeilingMicros: Long,
      minVecsForAlarm: Long = 0L,
      stateDir: Option[String] = None,
      autoCompactMaxFiles: Option[Long] = None,
      autoCompactMaxTombstones: Option[Long] = None): IvfPqRetrainMonitor = {
    val m = new IvfPqRetrainMonitor(indexPath, healthFloorMicros,
      errCeilingMicros, minVecsForAlarm, stateDir)
    m.autoCompactMaxFiles = autoCompactMaxFiles
    m.autoCompactMaxTombstones = autoCompactMaxTombstones
    m.resync(spark)
    m.seedState(spark)
    m
  }

  /** RESIDUAL reconstruction-error rollup of one batch —
    * `pq_residual_quant_error`'s exact arithmetic: cell by frozen-center
    * argmin, per-subspace residual distortion, integer micros. */
  private def residualReconErrFold(vecs: org.apache.spark.sql.DataFrame,
      centers: Array[Array[Double]],
      model: graft.operators.Pq.PqModel): (Long, Long) = {
    val h = vecs
      .select(col("embedding"), graft.functions.VectorExpressions
        .nearestCenter(col("embedding"), centers).as("cell"))
      .select(posexplode(graft.functions.VectorExpressions
        .pqResidualReconErrs(col("embedding"), col("cell"), centers,
          model.codebooks))
        .as(Seq("subspace", "err")))
      .select(graft.util.Cols.micros6(col("err")).as("err_micros"))
      .agg(count(lit(1)), coalesce(sum(col("err_micros")), lit(0L)))
      .head()
    (h.getLong(0) / math.max(model.numSubspaces, 1), h.getLong(1))
  }

  /** The RESIDUAL composed monitor — [[IvfPqRetrainMonitor]] over a
    * [[graft.operators.Pq.writeIvfPqResidualIndex]] artifact. Exactly
    * three things change: the ingest encode quantizes the coarse residual
    * ([[graft.functions.PqResidualCodesExpr]]), the compressed signal
    * folds RESIDUAL distortion (`pq_residual_quant_error`'s arithmetic —
    * the oracle-checked health entry for this layout), and the response is
    * [[graft.operators.Pq.retrainIvfPqResidualIndex]] (coarse refit FIRST,
    * residual codebooks refit against the new cells). Alarm semantics
    * (binding margin of floor and ceiling), append fencing, crash-restart
    * durability, and the serving handoff are INHERITED — the unified
    * scaffold means durability stays written once. */
  final class IvfPqResidualRetrainMonitor private[streaming] (
      indexPath: String, healthFloorMicros: Long, errCeilingMicros: Long,
      minVecsForAlarm: Long, stateDir: Option[String])
      extends IvfPqRetrainMonitor(indexPath, healthFloorMicros,
        errCeilingMicros, minVecsForAlarm, stateDir) {

    override protected def encodeBatch(
        vecs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      graft.util.Cols.spread(vecs)
        .select(col("vec_id"), col("embedding"),
          graft.functions.VectorExpressions
            .nearestCenter(col("embedding"), centers).as("cell"))
        .select(col("vec_id"),
          graft.functions.VectorExpressions
            .pqResidualCodes(col("embedding"), col("cell"), centers,
              model.codebooks).as("codes"),
          col("cell"))

    override protected def batchErrFold(
        vecs: org.apache.spark.sql.DataFrame): (Long, Long) =
      residualReconErrFold(vecs, centers, model)

    override private[streaming] def fireRetrain(
        spark: org.apache.spark.sql.SparkSession): Unit =
      graft.operators.Pq.retrainIvfPqResidualIndex(
        spark.read.parquet(s"$indexPath/raw"), indexPath)
  }

  /** Resolve the standing side of the residual composed loop once; same
    * crash-restart contract as every other prepare. */
  def prepareIvfPqResidualRetrainMonitor(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String, healthFloorMicros: Long, errCeilingMicros: Long,
      minVecsForAlarm: Long = 0L,
      stateDir: Option[String] = None,
      autoCompactMaxFiles: Option[Long] = None,
      autoCompactMaxTombstones: Option[Long] = None): IvfPqResidualRetrainMonitor = {
    val m = new IvfPqResidualRetrainMonitor(indexPath, healthFloorMicros,
      errCeilingMicros, minVecsForAlarm, stateDir)
    m.autoCompactMaxFiles = autoCompactMaxFiles
    m.autoCompactMaxTombstones = autoCompactMaxTombstones
    m.resync(spark)
    m.seedState(spark)
    m
  }

  /** The COMPOSED tier's ops loop — [[autoRetrainIngestQuery]] and
    * [[autoRetrainPqIngestQuery]] fused over one IVF×PQ index, completing
    * the tier matrix: every standing ANN layout (pruned, compressed,
    * pruned×compressed) now has build → append → probe → serve → retrain →
    * auto-retrain. Per micro-batch of (vec_id, embedding): raw + composed
    * codes append idempotently, BOTH health signals fold, and when the
    * binding margin ([[IvfPqRetrainMonitor.driftMarginMicros]]) goes
    * negative, [[graft.operators.Pq.retrainIvfPqIndex]] refits both stages
    * over `$indexPath/raw` and swaps codes + centers + codebooks as one
    * unit; a standing [[ivfPqSearchQuery]] follows via its combined
    * signature check with no restart (IvfPqAutoRetrainSpec pins the
    * lifecycle through BOTH alarm directions).
    *
    * Monitor rows to `sink`, one per delivered batch: (batch_id,
    * batch_vecs, total_vecs, drift_margin_micros, alarm, retrained).
    * Durability and replay fencing are the shared [[DriftMonitor]]
    * lifecycle — the same contract MonitorDurabilitySpec pins for the
    * single-tier loops. */
  def autoRetrainIvfPqIngestQuery(vecStream: DataFrame,
      monitor: IvfPqRetrainMonitor)
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    monitor.foldedThisIncarnation = false // see autoRetrainIngestQuery
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processIvfPqIngestBatch(monitor, batch, batchId)(sink)
      }
  }

  /** One composed auto-retrain micro-batch — [[processDriftIngestBatch]]
    * with the IVF×PQ monitor's bindings, kept as the directly-testable
    * entry. */
  private[graft] def processIvfPqIngestBatch(monitor: IvfPqRetrainMonitor,
      batch: DataFrame, batchId: Long)
      (sink: (DataFrame, Long) => Unit): Unit =
    processDriftIngestBatch(monitor, batch, batchId)(sink)

  /** `wCoarse` is the two-level probe's open width — consulted only when
    * the index carries a persisted coarse quantizer ([[Similarity
    * .writeIvfIndex]]'s ncoarse form); flat indexes ignore it. The handle
    * re-prepare below picks up a coarse refit too: [[Similarity
    * .centersSignature]] covers the coarse medium. */
  def ivfSearchQuery(queryStream: DataFrame, indexPath: String, k: Int = 10,
      nprobe: Int = 4, wCoarse: Int = 2)
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val spark = queryStream.sparkSession
    var standing = Similarity.prepareIvfIndex(spark, indexPath)
    // Configure-time plan warm-up — part of preparing the standing side:
    // one synthetic single-query probe compiles the serving stages (probe
    // expression, pruned scan + broadcast join + cosine, top-k aggregate)
    // so the FIRST real trigger pays only its own data, not codegen. The
    // per-trigger stages are structurally identical (paths and broadcast
    // data live in references, not generated code), so every later trigger
    // hits the codegen cache.
    if (standing.centers.nonEmpty) {
      import spark.implicits._
      val warm = Seq((-1L, standing.centers.head.map(_.toFloat).toSeq))
        .toDF("vec_id", "embedding")
      val _ = Similarity.queryStandingIvf(standing, warm, k, nprobe,
        wCoarse).count()
    }
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // Survive a concurrent [[Similarity.retrainIvfIndex]]: one
        // centers-directory listing per trigger (the only standing-side
        // metadata the probe doesn't already touch); a changed signature
        // means the index was swapped under us, so re-prepare the handle —
        // the NEXT probe then uses the new geometry, which is the
        // freshest-available contract probe-while-ingest already gives
        // appends. Both steps are Try-guarded: inside the swap's
        // two-rename window a listing or prepare can fail transiently, in
        // which case this trigger serves from the old handle.
        scala.util.Try(Similarity.centersSignature(spark, indexPath))
          .foreach { sig =>
            if (sig != standing.centersSig)
              scala.util.Try(Similarity.prepareIvfIndex(spark, indexPath))
                .foreach(standing = _)
          }
        if (!batch.isEmpty) {
          val queries = batch.select($"vec_id", $"embedding")
          // The probe itself can also lose the race: a swap landing AFTER
          // the signature check renames corpus files out from under the
          // scoring job (FileNotFound mid-scan). One retry against a
          // freshly prepared handle covers the whole swap window — the
          // retrained index is fully materialized before any old file
          // moves, so the second attempt always has a consistent index to
          // read; anything that still fails is a real fault and propagates.
          // The retry wraps ONLY the probe action: the result is
          // materialized eagerly (localCheckpoint — queries × k rows,
          // bounded) BEFORE the sink runs, so a genuine sink failure is
          // never swallowed into a doubled sink invocation after partial
          // side effects — the sink executes exactly once per delivery,
          // against a result that can no longer hit the swapped index.
          def probe(): DataFrame =
            Similarity.queryStandingIvf(standing, queries, k, nprobe,
              wCoarse).localCheckpoint(true)
          val result =
            try probe()
            catch {
              case scala.util.control.NonFatal(_) =>
                standing = Similarity.prepareIvfIndex(spark, indexPath)
                probe()
            }
          sink(result, batchId)
        }
      }
  }

  /** The MEMORY-BOUND serving twin of [[ivfSearchQuery]]: a stream of
    * query vectors ADC-probes a persisted PQ index
    * ([[graft.operators.Pq.writePqIndex]]) per micro-batch and the
    * per-query top-k goes to `sink`. Same prepared-handle shape —
    * codebooks + codes schema resolved once ([[Pq.preparePqIndex]]); per
    * trigger, the query batch collects to the driver and its distance
    * tables broadcast (the query side is driver-small by the same
    * contract as the batch path's broadcast build side), the codes scan
    * re-lists one directory (frozen-codebook appends stay visible), and
    * scoring + ranking run as [[Pq.queryStandingPq]]'s partition-local
    * fold into the bounded top-k buffer. Where the IVF twin prunes
    * candidates (reads nprobe/nlist of full vectors), this twin
    * compresses them (reads 100% of an ~32×-smaller artifact) — the two
    * standard memory/recall trade points, now both served.
    *
    * A codebook refresh ([[Pq.writePqIndex]] overwrite) is survived the
    * same way as an IVF retrain: per-trigger signature check, Try-guarded
    * re-prepare, and a retry-once probe materialized before the sink. */
  def pqSearchQuery(queryStream: DataFrame, indexPath: String, k: Int = 10)
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.operators.Pq
    val spark = queryStream.sparkSession
    var standing = Pq.preparePqIndex(spark, indexPath)
    // configure-time plan warm-up: one synthetic single-query probe
    // compiles the serving stages (in-plan dtab, codes scan + broadcast
    // ADC join, top-k aggregate) so batch 1 pays data, not codegen
    locally {
      import spark.implicits._
      val m = standing.model
      val warm = Seq((-1L,
        m.codebooks.flatMap(_.head).map(_.toFloat).toSeq))
        .toDF("vec_id", "embedding")
      val _ = Pq.queryStandingPq(standing, warm, k).count()
    }
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        scala.util.Try(Pq.codebooksSignature(spark, indexPath))
          .foreach { sig =>
            if (sig != standing.modelSig)
              scala.util.Try(Pq.preparePqIndex(spark, indexPath))
                .foreach(standing = _)
          }
        if (!batch.isEmpty) {
          val queries = batch.select($"vec_id", $"embedding")
          def probe(): DataFrame =
            Pq.queryStandingPq(standing, queries, k).localCheckpoint(true)
          val result =
            try probe()
            catch {
              case scala.util.control.NonFatal(_) =>
                standing = Pq.preparePqIndex(spark, indexPath)
                probe()
            }
          sink(result, batchId)
        }
      }
  }

  /** The ONE composed-serving lifecycle, shared by the raw and the
    * residual layouts (they differ ONLY in which standing fold scores a
    * probe — both artifacts resolve through the same
    * [[graft.operators.Pq.prepareIvfPqIndex]] handle): configure-time
    * plan warm-up with one synthetic single-query probe (so batch 1 pays
    * data, not codegen), a per-trigger combined centers+codebooks
    * signature check (a coarse refit OR a codebook retrain is picked up
    * at the next trigger), and the Try-guarded re-prepare + retry-once
    * probe materialized (localCheckpoint) BEFORE the sink so a sink retry
    * never re-runs the probe against a newer index state. Extracted so a
    * fix to the retry/signature semantics lands once, not twice. */
  private def servedIvfPq(queryStream: DataFrame, indexPath: String,
      k: Int, nprobe: Int,
      fold: (graft.operators.Pq.StandingIvfPq, DataFrame, Int, Int) => DataFrame)
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.operators.Pq
    val spark = queryStream.sparkSession
    var standing = Pq.prepareIvfPqIndex(spark, indexPath)
    if (standing.centers.nonEmpty) {
      import spark.implicits._
      val warm = Seq((-1L, standing.centers.head.map(_.toFloat).toSeq))
        .toDF("vec_id", "embedding")
      val _ = fold(standing, warm, k, nprobe).count()
    }
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        scala.util.Try(Pq.ivfPqSignature(spark, indexPath))
          .foreach { sig =>
            if (sig != standing.sig)
              scala.util.Try(Pq.prepareIvfPqIndex(spark, indexPath))
                .foreach(standing = _)
          }
        if (!batch.isEmpty) {
          val queries = batch.select($"vec_id", $"embedding")
          def probe(): DataFrame =
            fold(standing, queries, k, nprobe).localCheckpoint(true)
          val result =
            try probe()
            catch {
              case scala.util.control.NonFatal(_) =>
                standing = Pq.prepareIvfPqIndex(spark, indexPath)
                probe()
            }
          sink(result, batchId)
        }
      }
  }

  /** The COMPOSED serving twin — IVF pruning × PQ compression, the shape
    * a memory-bound billion-vector deployment actually runs: a stream of
    * query vectors probes a persisted [[graft.operators.Pq.writeIvfPqIndex]]
    * layout per micro-batch, reading only the probed cells' CODES
    * (nprobe/nlist of an ~32×-compressed artifact — where [[ivfSearchQuery]]
    * prunes full vectors and [[pqSearchQuery]] scans all codes, this does
    * both). Lifecycle (prepared handle, dual-artifact signature check,
    * retry-once, checkpoint-before-sink) is [[servedIvfPq]]. Batch parity
    * with `ivf_pq_topk` is pinned in AnnStreamSpec. */
  def ivfPqSearchQuery(queryStream: DataFrame, indexPath: String,
      k: Int = 10, nprobe: Int = 4)
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    servedIvfPq(queryStream, indexPath, k, nprobe,
      (s, q, kk, np) => graft.operators.Pq.queryStandingIvfPq(s, q, kk, np))(sink)

  /** [[ivfPqSearchQuery]] for a RESIDUAL-encoded composed index
    * ([[graft.operators.Pq.writeIvfPqResidualIndex]]'s artifact): the
    * same [[servedIvfPq]] lifecycle — the combined signature covers
    * exactly the two small artifacts a residual retrain swaps — with
    * scoring through the residual fold
    * ([[graft.operators.Pq.queryStandingIvfPqResidual]]: per-(query,
    * probed-cell) tables built in-fold from broadcast query vectors). */
  def ivfPqResidualSearchQuery(queryStream: DataFrame, indexPath: String,
      k: Int = 10, nprobe: Int = 4)
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    servedIvfPq(queryStream, indexPath, k, nprobe,
      (s, q, kk, np) =>
        graft.operators.Pq.queryStandingIvfPqResidual(s, q, kk, np))(sink)

  /** The SQ8 serving twin — [[pqSearchQuery]]'s contract on the 4× tier:
    * a stream of query vectors integer-L2-probes a persisted
    * [[graft.operators.Sq.writeSqIndex]] layout per micro-batch
    * ([[graft.operators.Sq.queryStandingSq]]: in-plan frozen-grid query
    * encode, fresh codes listing so frozen-grid appends stay visible,
    * broadcast query codes × coded-corpus scan, bounded top-k aggregate).
    * A grid retrain ([[graft.operators.Sq.retrainSqIndex]] swap) is
    * survived the standard way: per-trigger params signature check,
    * Try-guarded re-prepare, retry-once probe materialized
    * (localCheckpoint) BEFORE the sink. */
  def sqSearchQuery(queryStream: DataFrame, indexPath: String, k: Int = 10)
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.operators.Sq
    val spark = queryStream.sparkSession
    var standing = Sq.prepareSqIndex(spark, indexPath)
    // configure-time plan warm-up: one synthetic single-query probe (the
    // grid's own min corner decodes to a valid vector) so batch 1 pays
    // data, not codegen
    locally {
      import spark.implicits._
      val warm = Seq((-1L, standing.model.mins.map(_.toFloat).toSeq))
        .toDF("vec_id", "embedding")
      val _ = Sq.queryStandingSq(standing, warm, k).count()
    }
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        scala.util.Try(Sq.paramsSignature(spark, indexPath))
          .foreach { sig =>
            if (sig != standing.paramsSig)
              scala.util.Try(Sq.prepareSqIndex(spark, indexPath))
                .foreach(standing = _)
          }
        if (!batch.isEmpty) {
          val queries = batch.select($"vec_id", $"embedding")
          def probe(): DataFrame =
            Sq.queryStandingSq(standing, queries, k).localCheckpoint(true)
          val result =
            try probe()
            catch {
              case scala.util.control.NonFatal(_) =>
                standing = Sq.prepareSqIndex(spark, indexPath)
                probe()
            }
          sink(result, batchId)
        }
      }
  }
}
