package perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Spark job → span attribution of the traced run, under two concurrent
  * clients: every job must land on the span that was open on the thread
  * that submitted it.
  */
class AttributionSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Which client submitted each job, from a property the test sets. */
  private final class Submitter extends SparkListener {
    val clientOf = TrieMap.empty[Int, Option[String]]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      clientOf(e.jobId) = Option(e.properties).flatMap(p => Option(p.getProperty("spec.client")))
  }

  test("jobs of two concurrent clients land on each client's innermost open span") {
    val sc = spark.sparkContext
    val listener = new JobListener
    val submitter = new Submitter
    sc.addSparkListener(listener)
    sc.addSparkListener(submitter)
    val tracer = new Tracer(enabled = true, sc)
    val go = new java.util.concurrent.CountDownLatch(1)
    val clients = (0 until 2).map { c =>
      val th = new Thread(() => {
        sc.setLocalProperty("spec.client", c.toString)
        go.await()
        (0 until 6).foreach { i =>
          tracer.op(s"op$c", c * 100L + i) {
            tracer.span(s"inner$c")(spark.range(0, 1000L + i).count())
            spark.range(0, 10L + i).count()
          }
        }
      })
      th.start()
      th
    }
    go.countDown()
    clients.foreach(_.join())
    spark.range(0, 5).count() // no span open: not recorded
    GraftListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    sc.removeSparkListener(submitter)

    val spans = tracer.spans.map(s => s.id -> s).toMap
    val jobs = listener.records
    assert(jobs.nonEmpty && jobs.forall(_.span != 0L))
    jobs.foreach { j =>
      val s = spans(j.span)
      val c = submitter.clientOf(j.jobId).get
      assert(s.name.endsWith(c), s"job ${j.jobId} of client $c landed on span ${s.name}")
      // the job ran inside its span
      assert(j.startUs >= s.startUs - 1000L && j.endUs <= s.endUs + 1000L)
    }
    (0 until 2).foreach { c =>
      val opSpans = spans.values.filter(_.name == s"op$c")
      val innerSpans = spans.values.filter(_.name == s"inner$c")
      assert(opSpans.size == 6 && innerSpans.size == 6)
      // each inner span and each op span (outside its inner span) has its own job
      (opSpans ++ innerSpans).foreach(s => assert(jobs.exists(_.span == s.id), s"no job on ${s.name}"))
      innerSpans.foreach { s =>
        val parent = spans(s.parent)
        assert(parent.name == s"op$c" && parent.op == s.op)
      }
    }
    // the job after the clients finished, with no span open, is not recorded
    val unspanned = submitter.clientOf.collect { case (id, None) => id }
    assert(unspanned.nonEmpty && unspanned.forall(id => !jobs.exists(_.jobId == id)))
  }

  test("a disabled tracer records no span and its jobs are not recorded") {
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(enabled = false, sc)
    tracer.op("op", 1L)(tracer.span("inner")(spark.range(0, 100).count()))
    GraftListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    assert(tracer.spans.isEmpty)
    assert(listener.records.isEmpty)
  }
}
