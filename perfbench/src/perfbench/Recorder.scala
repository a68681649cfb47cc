package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counts what Spark did, from Spark's own listeners, and records spans
  * around the benchmark's calls into the engine.
  *
  * Job, task and shuffle counts come from a `SparkListener`; each stream
  * trigger's `durationMs` parts from a `StreamingQueryListener`. Spans are
  * kept in memory and written out once, at the end of the run. With tracing
  * off, `span` only runs its body: no listener drain, no bookkeeping, so
  * the end-to-end timings carry no tracing cost. */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  import Recorder._

  val jobs = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleBytes = new AtomicLong

  /** Progress of every executed trigger, in arrival order. */
  val progress = mutable.ArrayBuffer.empty[Trigger]
  private val queryNames = mutable.Map.empty[java.util.UUID, String]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val _ = jobs.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        val _ = shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      // only triggers that ran a batch carry addBatch
      if (d.containsKey("addBatch")) progress.synchronized {
        progress += Trigger(p.id,
          d.keySet().toArray.map(_.toString)
            .map(k => k -> d.get(k).longValue()).toMap)
      }
    }
  })

  /** Blocks until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def snapshot(): Counts = {
    drain()
    Counts(jobs.get(), taskMs.get(), shuffleBytes.get())
  }

  /** Names the triggers of a started query for the per-layer roll-up. */
  def nameQuery(id: java.util.UUID, name: String): Unit =
    queryNames.synchronized { queryNames(id) = name }

  def triggersOf(name: String): Seq[Trigger] = {
    drain()
    val ids = queryNames.synchronized {
      queryNames.collect { case (id, n) if n == name => id }.toSet
    }
    progress.synchronized(progress.filter(t => ids(t.queryId)).toSeq)
  }

  // —— spans ——
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  /** Per-name totals over the timed passes. */
  val layers = mutable.LinkedHashMap.empty[String, LayerTotals]

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val before = snapshot()
      val parent = stack.headOption.getOrElse(-1)
      val id = spans.size
      spans += Span(id, name, parent, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val end = System.nanoTime()
        spans(id) = spans(id).copy(endNs = end)
        val after = snapshot()
        val t = layers.getOrElseUpdate(name, new LayerTotals)
        t.calls += 1
        t.wallNs += end - spans(id).startNs
        t.jobs += after.jobs - before.jobs
        t.taskMs += after.taskMs - before.taskMs
        t.shuffleBytes += after.shuffleBytes - before.shuffleBytes
      }
    }

  /** Forgets what the warm pass recorded, keeping the query names. */
  def reset(): Unit = {
    drain()
    progress.synchronized(progress.clear())
    spans.clear()
    layers.clear()
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Recorder {
  final case class Trigger(queryId: java.util.UUID, durationMs: Map[String, Long])
  final case class Counts(jobs: Long, taskMs: Long, shuffleBytes: Long)
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      endNs: Long)
  final class LayerTotals {
    var calls = 0L
    var wallNs = 0L
    var jobs = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

/** Just enough JSON writing for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
