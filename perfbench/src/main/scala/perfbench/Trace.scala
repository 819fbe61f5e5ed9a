package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a public layer call made by the benchmark, or a
  * Spark job attributed to the span that was open on the submitting thread.
  * Times are epoch microseconds, so job events (wall-clock milliseconds)
  * and spans share one time line.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, startUs: Long, endUs: Long)

/** Per-job counters from the listener, keyed to the calling span. */
final case class JobRec(
    jobId: Int, span: Long, startUs: Long, endUs: Long, stages: Int, tasks: Long,
    shuffleWriteBytes: Long, spillBytes: Long, taskBusyMs: Long)

/** Span recorder. With `enabled = false` every call is just its body, so
  * measured runs pay nothing. Spans live in memory until [[spans]] is read
  * at the end of the run.
  *
  * The innermost open span of a thread is published to Spark as the job
  * local property [[Tracer.SpanProperty]]; local properties are per thread,
  * so jobs from concurrent clients land on their own client's span.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val nextId = new AtomicLong(1L)
  private val done = new ConcurrentLinkedQueue[Span]()
  // (span id, op id) of the open spans on this thread, innermost first
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val active = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = enabled
  }

  /** Run `body` on this thread with recording off: the traced run
    * alternates traced and untraced operations to state its own overhead.
    */
  def untraced[A](body: => A): A = {
    val was = active.get()
    active.set(false)
    try body finally active.set(was)
  }

  def isActive: Boolean = active.get()

  /** Root span of one operation: `op` groups every span under it. */
  def op[A](name: String, opId: Long)(body: => A): A = record(name, Some(opId))(body)

  def span[A](name: String)(body: => A): A = record(name, None)(body)

  private def record[A](name: String, opId: Option[Long])(body: => A): A =
    if (!active.get()) body
    else {
      val stack = open.get()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val op = opId.getOrElse(stack.headOption.map(_._2).getOrElse(0L))
      val id = nextId.getAndIncrement()
      open.set((id, op) :: stack)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = Tracer.nowUs()
      try body
      finally {
        val t1 = Tracer.nowUs()
        open.set(stack)
        sc.setLocalProperty(Tracer.SpanProperty, if (parent == 0L) null else parent.toString)
        done.add(Span(id, parent, op, name, t0, t1))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanProperty = "perfbench.span"

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  /** Epoch microseconds on the monotonic clock. */
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** Spark job/stage/task counters, attributed to the calling span through
  * the job's local properties. Installed only in traced runs. A job
  * submitted with no span open (an untraced operation, or work outside any
  * span) is not recorded, and its stages and tasks are skipped on one map
  * lookup.
  */
final class JobListener extends SparkListener {
  private final class Acc(val jobId: Int, val span: Long, val startUs: Long, val stages: Int) {
    @volatile var endUs: Long = -1L
    val tasks = new AtomicLong()
    val shuffleWrite = new AtomicLong()
    val spill = new AtomicLong()
    val busyMs = new AtomicLong()
  }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).foreach { span =>
      jobs.put(e.jobId, new Acc(e.jobId, span.toLong, e.time * 1000L, e.stageIds.size))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { a =>
      a.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.busyMs.addAndGet(m.executorRunTime)
      }
    }

  /** Every finished job so far; call after draining the listener bus. */
  def records: Seq[JobRec] =
    jobs.values().asScala.toSeq.filter(_.endUs >= 0L).sortBy(_.jobId).map(a =>
      JobRec(a.jobId, a.span, a.startUs, a.endUs, a.stages, a.tasks.get(),
        a.shuffleWrite.get(), a.spill.get(), a.busyMs.get()))
}

/** Host and JVM counters read around each timed window: GC and JIT time
  * from the JVM's management beans, CPU steal from `/proc/stat`.
  */
object Host {
  final case class Sample(gcMs: Long, jitMs: Long, stealTicks: Long, totalTicks: Long)

  def sample(): Sample = {
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val jit = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    val (steal, total) = cpuTicks()
    Sample(gc, jit, steal, total)
  }

  private def cpuTicks(): (Long, Long) =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().find(_.startsWith("cpu "))
      line.map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      }.getOrElse((0L, 0L))
    } catch { case _: java.io.IOException => (0L, 0L) }

  /** (gc ms, jit ms, steal fraction) between two samples. */
  def delta(a: Sample, b: Sample): Map[String, Double] = {
    val ticks = (b.totalTicks - a.totalTicks).toDouble
    Map(
      "gc_ms" -> (b.gcMs - a.gcMs).toDouble,
      "jit_ms" -> (b.jitMs - a.jitMs).toDouble,
      "steal_frac" -> (if (ticks > 0) (b.stealTicks - a.stealTicks) / ticks else 0.0))
  }

  /** Total Spark whole-stage/expression codegen compile time so far (ms). */
  def codegenMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }
}
