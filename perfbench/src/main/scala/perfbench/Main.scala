package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, scratch: String)

/** One timed operation: `latMs` includes only the work, not its check. */
final case class Sample(latMs: Double, items: Long, ok: Boolean, traced: Boolean)

/** What an operation hands back to the loop: the items it completed and an
  * answer check, run after the clock stops.
  */
final case class Done(items: Long, check: () => Boolean)

/** State and measurement helpers shared by the workloads of one run. */
final class Run(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace, spark.sparkContext)
  val listener: Option[JobListener] =
    if (args.trace) { val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l) } else None

  /** Raw fields of the result, in insertion order. */
  val out = mutable.LinkedHashMap.empty[String, Any]
  /** Per-layer values measured directly (kernels, sizes, first-op cost). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val setupReps = mutable.ArrayBuffer.empty[Double]
  val samples = mutable.ArrayBuffer.empty[Sample]
  private var attempted = 0L
  private var failed = 0L
  private var nextOp = 0L

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f] $msg")

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One repetition of the workload's set-up; `setup_s` is their median. */
  def setupRep[A](body: => A): A = {
    val (a, s) = seconds(body)
    setupReps += s
    note(f"setup rep ${setupReps.size} $s%.3f s")
    a
  }

  /** Record a check made outside any timed operation (set-up answers). */
  def checked(what: String, ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; note(s"WRONG: $what") }
  }

  /** Run one operation, time it, then check it. A failed or wrong op is
    * still a latency sample.
    */
  def timedOp(name: String)(body: => Done): Sample = {
    val opId = synchronized { nextOp += 1; nextOp }
    val t0 = System.nanoTime()
    val r = try Right(tracer.op(name, opId)(body)) catch { case NonFatal(e) => Left(e) }
    val latMs = (System.nanoTime() - t0) / 1e6
    val (items, ok) = r match {
      case Right(d) =>
        val ok = try d.check() catch { case NonFatal(e) => note(s"check of $name threw $e"); false }
        (d.items, ok)
      case Left(e) =>
        note(s"$name failed: $e")
        (0L, false)
    }
    checked(s"$name op $opId", ok)
    Sample(latMs, if (ok) items else 0L, ok, tracer.isActive)
  }

  /** Closed loop with one client for `args.seconds`: the next op starts
    * when the previous one returns. A traced run alternates untraced and
    * traced ops, so it states its own tracing overhead on the same stretch
    * of the window, and runs on past the window until it has made
    * [[Run.MinTracedOps]] ops.
    */
  def closedLoop(name: String)(op: Long => Done): Unit = {
    val h0 = Host.sample()
    val t0 = System.nanoTime()
    val end = t0 + (args.seconds * 1e9).toLong
    var i = 0L
    while (System.nanoTime() < end || (args.trace && i < Run.MinTracedOps)) {
      samples += (if (i % 2 == 0) tracer.untraced(timedOp(name)(op(i))) else timedOp(name)(op(i)))
      i += 1
    }
    out("window_s") = (System.nanoTime() - t0) / 1e9
    out("window_host") = Host.delta(h0, Host.sample())
  }

  def counts: (Long, Long) = synchronized((attempted, failed))

  def scratchPath(name: String): String = s"${args.scratch}/$name"
}

object Run {
  /** Ops of a traced window, at the least: five traced and five untraced,
    * so the overhead compares medians of five.
    */
  val MinTracedOps = 10
}

object Main {

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("scratch"))
  }

  private def session(scratch: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (4 * cpus).toString)
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { st =>
      st.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(Paths.get(args.scratch))
    val h0 = Host.sample()
    val spark = session(args.scratch)
    val run = new Run(spark, args)
    val codegen0 = Host.codegenMs()
    run.note("session ready")
    val workload: Run => Unit = args.workload match {
      case "bulk_build" => Workloads.bulkBuild
      case "query_serve" => Workloads.queryServe
      case other =>
        System.err.println(s"unknown workload '$other'")
        sys.exit(2)
    }
    workload(run)
    val h1 = Host.sample()
    val (attempted, failed) = run.counts
    run.out("attempted") = attempted
    run.out("failed") = failed
    run.out("setup_reps_s") = run.setupReps.toSeq
    run.out("samples") = run.samples.toSeq.map(s =>
      Seq(s.latMs, s.items, if (s.ok) 1 else 0, if (s.traced) 1 else 0))
    run.out("layer") = run.layer
    run.out("run_host") = Host.delta(h0, h1)
    run.out("codegen_ms") = Host.codegenMs() - codegen0
    run.out("env") = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
        .map(_.toString).filter(a => a.startsWith("-X") || a.startsWith("-XX")).toSeq,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    if (args.trace) {
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      run.out("spans") = run.tracer.spans.map(s => Seq(s.id, s.parent, s.op, s.name, s.startUs, s.endUs))
      run.out("jobs") = run.listener.get.records.map(j =>
        Seq(j.jobId, j.span, j.startUs, j.endUs, j.stages, j.tasks, j.shuffleWriteBytes, j.spillBytes,
          j.taskBusyMs))
    }
    spark.stop()
    println("PERFBENCH_RAW " + Json.render(run.out))
  }
}
