package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Scale-adaptive session tuning, derived ONCE per (session, data dir) from
  * the input's measured size — never a local[k] constant (guide §1.2 step 3,
  * §2.2).
  *
  * `spark.sql.shuffle.partitions` is derived as max(parallelism, B/A) for
  * input bytes B and the AQE advisory partition size A (§2.2: partitions
  * sized to the advisory target, floored at the session's parallelism) —
  * AQE's coalescing then works DOWN from a sane start instead of from a
  * constant someone tuned for one geometry. At fixture scale this equals
  * the harness's own `local[k]` setting (max(P, B/A≈1) = P — the bench's
  * conf is byte-identical), so the derivation's value is the cluster case:
  * a 100 TB input derives ~1.6M candidate partitions instead of inheriting
  * a local constant.
  *
  * AQE itself is deliberately left ON and untouched. A measured dead end
  * from round 18 (recorded in VERDICT.md, theme C): gating
  * `spark.sql.adaptive.enabled` off below the size where coalescing/skew
  * levers can engage — rationalized as removing per-stage re-planning jobs
  * (~8 jobs/entry across the bench) — REGRESSED the full 213-entry bench
  * 118.1 → 139.1 s. AQE's runtime SMJ→broadcast conversions on
  * intermediate frames (index probes, hybrid scorers — frames whose static
  * size estimates are post-aggregation guesses) are worth far more here
  * than the per-stage job latency they cost. The in-loop gate in
  * [[graft.operators.Dedup.dupClustersWithRounds]] is different and stays:
  * inside that loop every join is already exactly sized and hinted, so AQE
  * had nothing left to convert — which is why the loop measurement went the
  * other way.
  */
object Tune {

  private val tuned = new ConcurrentHashMap[(Int, String), java.lang.Boolean]()

  /** Total bytes under `dir` — one driver-side metadata call
    * (`getContentSummary`: a single RPC on HDFS-like filesystems, a cheap
    * local walk on file://), NOT a per-file listing loop. */
  def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Idempotent, memoized per (session, dir): every registered query calls
    * this on entry (see [[graft.SparkEntry.queries]]), the first call per
    * session pays one metadata RPC, the rest are a map hit. */
  def ensureSession(spark: SparkSession, sfDir: String): Unit = {
    val key = (System.identityHashCode(spark), sfDir)
    if (tuned.putIfAbsent(key, java.lang.Boolean.TRUE) != null) return
    val p = spark.sparkContext.defaultParallelism.toLong
    val advisory = math.max(1L,
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "64m")))
    val bytes = dirBytes(spark, sfDir)
    val derivedParts = bytes / advisory + 1L
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(p, math.min(derivedParts, 1000000L)).toString)
  }
}
