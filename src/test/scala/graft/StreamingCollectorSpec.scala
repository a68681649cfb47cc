package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{FileTweetSource, StreamingCollector}
import graft.tweets.{TweetGeo, TweetStatus, TweetUser}

/** Streaming collection pipeline (SURVEY.md §2.1/§2.6; VERDICT r2 item 1):
  * source replay, track+lang filters, sanitize projection, per-batch sink,
  * running counter, quirk-Q4 stop semantics, checkpoint restart.
  */
class StreamingCollectorSpec extends SparkTestBase {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val french = Seq(
    TweetStatus("vive #Macron, et \"la\" France\ten marche", TweetUser("fr"),
      Some(TweetGeo(48.85, 2.35)), ts("2017-04-23 10:11:12")),
    TweetStatus("soutien #LePen ici", TweetUser("fr-CA"), None,
      ts("2017-04-23 10:11:13")),
    TweetStatus("debat #Fillon vs #Hamon", TweetUser("fr"), None,
      ts("2017-04-23 10:11:14")))
  private val rejected = Seq(
    // non-French lang → dropped by P1
    TweetStatus("hello #Macron", TweetUser("en"), None, ts("2017-04-23 10:11:15")),
    // no track keyword → dropped by S2
    TweetStatus("bonjour la France", TweetUser("fr"), None, ts("2017-04-23 10:11:16")),
    // null lang → dropped null-safely
    TweetStatus("re #Macron", TweetUser(null), None, ts("2017-04-23 10:11:17")))

  private def readLines(dir: Path): Seq[String] =
    spark.read.textFile(dir.toString + "/batch_*").collect().toSeq.sorted

  test("streaming output lines are byte-equal to the batch pipeline") {
    val out = tmp("collector-out")
    val ms = MemoryStream[TweetStatus]
    ms.addData(french ++ rejected)
    val collector = new StreamingCollector(out.toString, Long.MaxValue)
    val q = collector.start(ms.toDF())
    q.processAllAvailable()
    q.stop()

    val streamed = readLines(out)
    val batch = StreamingCollector.pipeline(
      (french ++ rejected).toDF()).as[String].collect().toSeq.sorted
    assert(streamed == batch)
    assert(streamed.size == 3) // rejected rows filtered
    // interchange shape: sanitized text | lat | lon | legacy timestamp
    assert(streamed.contains(
      "vive #Macron' et la Franceen marche|48.85|2.35|2017-04-23 10:11:12.0"))
    assert(streamed.contains("soutien #LePen ici|||2017-04-23 10:11:13.0"))
    assert(collector.collected == 3) // A4 running counter
  }

  test("quirk Q4: stop only when strictly more than N collected") {
    val ms = MemoryStream[TweetStatus]
    val atN = new StreamingCollector(tmp("q4-eq").toString, numTweetsToCollect = 3)
    val q = atN.start(ms.toDF())
    ms.addData(french) // exactly N=3
    q.processAllAvailable()
    assert(atN.collected == 3)
    assert(!atN.thresholdCrossed) // 3 > 3 is false — keeps collecting

    ms.addData(french.head) // one more crosses it (overshoot at batch bound)
    q.processAllAvailable()
    assert(atN.collected == 4)
    assert(atN.thresholdCrossed)
    atN.awaitCollected(q)
    assert(!q.isActive) // graceful stop, no System.exit
  }

  test("checkpointed restart continues without reprocessing (T4)") {
    val in = tmp("collector-in")
    val cp = tmp("collector-cp")
    val out = tmp("collector-out2")
    def statusJson(text: String, t: String): String =
      s"""{"text":"$text","user":{"lang":"fr"},"geo":null,"created_at":"$t"}"""
    Files.writeString(in.resolve("f1.json"),
      statusJson("un #Macron", "2017-04-23T10:00:00.000Z") + "\n" +
        statusJson("deux #LePen", "2017-04-23T10:00:01.000Z") + "\n")

    val c1 = new StreamingCollector(out.toString, Long.MaxValue,
      checkpointDir = Some(cp.toString))
    val q1 = c1.start(new FileTweetSource(in.toString).stream(spark))
    q1.processAllAvailable()
    q1.stop()
    assert(c1.collected == 2)
    assert(readLines(out).size == 2)

    Files.writeString(in.resolve("f2.json"),
      statusJson("trois #Fillon", "2017-04-23T10:00:02.000Z") + "\n")
    val c2 = new StreamingCollector(out.toString, Long.MaxValue,
      checkpointDir = Some(cp.toString))
    val q2 = c2.start(new FileTweetSource(in.toString).stream(spark))
    q2.processAllAvailable()
    q2.stop()

    val lines = readLines(out)
    assert(lines.size == 3) // f1 not re-emitted: only the new file's row added
    assert(c2.collected == 1) // restart processed exactly the delta
    assert(lines.count(_.startsWith("un #Macron")) == 1)
  }

  test("a batch whose rows are all filtered out leaves no directory and adds 0") {
    val out = tmp("collector-empty")
    val ms = MemoryStream[TweetStatus]
    val collector = new StreamingCollector(out.toString, Long.MaxValue)
    val q = collector.start(ms.toDF())
    ms.addData(rejected) // batch 0: every row dropped by the filters
    q.processAllAvailable()
    assert(collector.collected == 0)
    assert(!Files.exists(out.resolve("batch_0")))

    ms.addData(french) // batch 1: kept rows still land in their own directory
    q.processAllAvailable()
    q.stop()
    assert(collector.collected == 3)
    assert(!Files.exists(out.resolve("batch_0")))
    assert(readLines(out).size == 3)
  }

  test("a batch with more partitions than `partitions` lands exactly that many files") {
    val out = tmp("collector-wide")
    val many = (1 to 40).map(i => TweetStatus(s"vote #Macron $i", TweetUser("fr"),
      None, ts("2017-04-23 10:12:00")))
    val ms = MemoryStream[TweetStatus](8) // one batch, 8 input partitions
    val collector = new StreamingCollector(out.toString, Long.MaxValue, partitions = 2)
    val q = collector.start(ms.toDF())
    ms.addData(many ++ rejected)
    q.processAllAvailable()
    q.stop()

    val parts = out.resolve("batch_0").toFile.listFiles().count(_.getName.startsWith("part-"))
    assert(parts == 2)
    val batch = StreamingCollector.pipeline(
      (many ++ rejected).toDF()).as[String].collect().toSeq.sorted
    assert(readLines(out) == batch)
    assert(collector.collected == 40)
  }

  test("a non-empty single-partition trigger runs exactly one Spark job") {
    val ms = MemoryStream[TweetStatus]
    val collector = new StreamingCollector(tmp("collector-jobs").toString, Long.MaxValue)
    val q = collector.start(ms.toDF())
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    q.processAllAvailable()
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      ms.addData(french ++ rejected) // one block: a one-partition batch
      q.processAllAvailable()
      ListenerBusDrain(sc)
    } finally {
      sc.removeSparkListener(listener)
      q.stop()
    }
    assert(collector.collected == 3)
    assert(jobs.get == 1) // the write; the count rides on it
  }
}
