package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up, one untimed warm pass (whose
  * outputs are written for the correctness checks), then timed passes
  * until `--seconds` have gone by, at least the workload's `minPasses`.
  *
  * Usage: perfbench.Main --workload W --dir RUN_DIR --seconds S --trace 0|1
  * (a negative S runs set-up and the warm pass only)
  *
  * `RUN_DIR/in` holds the generated inputs; the run writes `RUN_DIR/out`
  * (outputs to check), `RUN_DIR/result.json` and, when tracing,
  * `RUN_DIR/trace.json`. */
object Main {

  trait Workload {
    /** Builds what the workload serves from (untimed, part of set-up). */
    def setup(): Unit = ()
    /** Timed passes a run makes at least, whatever `--seconds` says. */
    def minPasses: Int = 1
    /** Resets state a pass mutates (untimed). */
    def prepare(pass: Int): Unit = ()
    /** One pass over the workload's fixed work. `check` writes outputs. */
    def run(pass: Int, check: Boolean): Unit
    /** Latencies of the workload's unit operations in the timed passes. */
    def opMs(rec: Recorder): Seq[Double]
    /** Per-layer metrics over `passes` timed passes (tracing on). */
    def layers(rec: Recorder, passes: Int): Seq[(String, Double)]
    /** Extra per-layer work run once after the timed passes (tracing on). */
    def traceOnly(rec: Recorder): Seq[(String, Double)] = Nil
    /** Facts about the timed passes that the checks compare. */
    def summary: Seq[(String, String)]
  }

  /** A progress line in the JVM's log, stamped with the JVM's uptime. */
  private def log(msg: String): Unit = System.err.println(
    s"perfbench: @${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime}ms $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val dir = Paths.get(a("dir")).toAbsolutePath.toString
    val seconds = a("seconds").toDouble
    val tracing = a.get("trace").contains("1")
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session up")
    try {
      val rec = new Recorder(spark, tracing)
      val wl: Workload = a("workload") match {
        case "tweet_pipeline" => new TweetPipeline(spark, dir, rec)
        case "curation_batch" => new CurationBatch(spark, dir, rec)
        case "index_ingest_serve" => new IndexIngestServe(spark, dir, rec)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      wl.setup()
      wl.prepare(0)
      wl.run(0, check = true)
      rec.reset()
      log("ready")
      val readyMs = System.currentTimeMillis()

      val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
      val passJobs = scala.collection.mutable.ArrayBuffer.empty[Long]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var pass = 1
      // a negative --seconds stops after the warm pass (the build's
      // class-data-sharing run)
      while (seconds >= 0 && (passS.size < wl.minPasses || System.nanoTime() < deadline)) {
        wl.prepare(pass)
        rec.drain()
        val jobs0 = rec.jobs.get()
        val t0 = System.nanoTime()
        rec.span("pass")(wl.run(pass, check = false))
        passS += (System.nanoTime() - t0) / 1e9
        log(f"pass $pass took ${passS.last}%.3f s")
        rec.drain()
        passJobs += rec.jobs.get() - jobs0
        pass += 1
      }
      val layers =
        if (tracing) ("trace.pass_s" -> Recorder.median(passS.toSeq)) +:
          (wl.layers(rec, passS.size) ++ wl.traceOnly(rec))
        else Nil
      val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

      def arr(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ",", "]")
      val result = Json.obj(Seq(
        "ready_ms" -> readyMs.toString,
        "pass_s" -> arr(passS.toSeq),
        "pass_jobs" -> passJobs.mkString("[", ",", "]"),
        "op_ms" -> arr(wl.opMs(rec)),
        "peak_rss_mb" -> Json.num(peakRssMb),
        "per_layer" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
        "summary" -> Json.obj(wl.summary)))
      Files.write(Paths.get(s"$dir/result.json"), result.getBytes("UTF-8"))
      if (tracing)
        Files.write(Paths.get(s"$dir/trace.json"), rec.spansJson.getBytes("UTF-8"))
    } finally spark.stop()
  }
}
