package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Optimization-round instrumentation harness (guide §1). NOT part of the
  * frozen bench contract — [[Bench]] is the graded entry point; this main
  * exists so per-query plans and job/stage/task counts can be measured in
  * isolation with the same session shape and noop-sink methodology.
  *
  * Modes:
  *   profile <sfDir> <cpus> [nameRegex] [reps]
  *     time each SparkEntry query with the noop sink; print
  *     `name=secs jobs=J stages=S tasks=T` per rep.
  *   explain <sfDir> <cpus> <outDir> [nameRegex]
  *     write each query's .explain("formatted") to <outDir>/<name>.txt.
  *
  * `nameRegex` must match a WHOLE gate name (`String.matches`): `ft_.*`
  * selects the ft_ gates, `^ft_` selects none. A regex that selects no gate
  * exits with status 1 before any work.
  */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", (4 * cpus).toString)
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${Bench.scratchRoot}/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Re-layout each input table into `cpus` files on scratch — identical to
    * Bench.phase1Times so timings here predict the graded phase.
    */
  private def relayout(spark: SparkSession, sfDir: String, cpus: Int): String = {
    val benchData = s"${Bench.scratchRoot}/data-" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_") + s"-$cpus"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$benchData/_READY"))) {
      Seq("documents", "embeddings", "events", "lineitem", "orders",
        "customer", "part", "supplier", "nation", "region").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").repartition(cpus)
          .write.mode("overwrite").parquet(s"$benchData/$t.parquet")
      }
      java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$benchData/_READY"))
    }
    benchData
  }

  private final class Counters(verbose: Boolean = false) extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    private val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (verbose) {
        val site = j.stageInfos.map(_.name).mkString(" | ")
        jobStartNs.put(j.jobId, (System.nanoTime(), site))
      }
    }
    override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      if (verbose) Option(jobStartNs.remove(j.jobId)).foreach { case (t0, site) =>
        println(f"JOB ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e6}%7.1f ms at $site")
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks.toLong)
    }
    def snapshot: (Int, Int, Long) = (jobs.get(), stages.get(), tasks.get())
  }

  /** The SparkEntry gates whose whole name matches `nameRe`, sorted by name;
    * exits with status 1 when there are none.
    */
  private def selectGates(nameRe: String) = {
    val names = SparkEntry.queries.toSeq.sortBy(_._1).filter(_._1.matches(nameRe))
    if (names.isEmpty) {
      System.err.println(s"[extra] no gate name matches '$nameRe' (the regex must match the " +
        "whole name, e.g. 'ft_.*')")
      sys.exit(1)
    }
    names
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("build") =>
      // Scaling-gate diagnosis: replicate Bench.buildBench at `cpus` with a
      // per-stage listener (stage name, task count, duration, max/median
      // task time) — run it under `taskset -c` like the bench children.
      val (numConvs, cpus) = (args(1).toLong, args(2).toInt)
      val spark = session(cpus)
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val ms = for {
            s <- si.submissionTime; e <- si.completionTime
          } yield e - s
          println(f"STAGE ${si.stageId}%3d tasks=${si.numTasks}%4d wall=${ms.getOrElse(-1L)}%6d ms  ${si.name.take(90)}")
        }
      })
      val dir = Bench.tempDir("extra-idx")
      (1 to 2).foreach { rep =>
        val d = s"$dir-$rep"
        val t0 = System.nanoTime()
        val turns = graft.data.TranscriptGen.transcripts(spark, numConvs)
        val withIds = graft.index.DocIds.assign(turns.toDF(), Seq("conv_id", "turn_idx"), "docId")
        val n = graft.index.SegmentStore.build(withIds, "docId", Bench.Fields, d, docsPerShard = 1 << 14)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"BUILD rep=$rep turns=$n secs=$secs%.2f tps=${n / secs}%.0f")
      }
      spark.stop()
    case Some("profile") =>
      val (sfDir, cpus) = (args(1), args(2).toInt)
      val nameRe = if (args.length > 3) args(3) else ".*"
      val reps = if (args.length > 4) args(4).toInt else 1
      val names = selectGates(nameRe)
      val spark = session(cpus)
      val benchData = relayout(spark, sfDir, cpus)
      val counters = new Counters(verbose = sys.env.get("GRAFT_PROF_JOBS").contains("1"))
      spark.sparkContext.addSparkListener(counters)
      (1 to reps).foreach { rep =>
        names.foreach { case (name, fn) =>
          val (j0, s0, t0) = counters.snapshot
          spark.sparkContext.setJobDescription(s"$name rep$rep")
          val t = System.nanoTime()
          try fn(spark, benchData).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => System.err.println(s"[extra] $name FAILED: ${e.getMessage}") }
          val secs = (System.nanoTime() - t) / 1e9
          spark.sparkContext.setJobDescription(null)
          // listener events are async; drain before snapshotting
          org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
          val (j1, s1, t1) = counters.snapshot
          println(f"PROF rep=$rep $name%-24s secs=$secs%7.3f jobs=${j1 - j0}%3d stages=${s1 - s0}%3d tasks=${t1 - t0}%5d")
        }
      }
      spark.stop()
    case Some("explain") =>
      val (sfDir, cpus, outDir) = (args(1), args(2).toInt, args(3))
      val names = selectGates(if (args.length > 4) args(4) else ".*")
      val spark = session(cpus)
      val benchData = relayout(spark, sfDir, cpus)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      names.foreach { case (name, fn) =>
        try {
          val df = fn(spark, benchData)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
          println(s"EXPLAINED $name")
        } catch { case e: Throwable => System.err.println(s"[extra] $name explain FAILED: ${e.getMessage}") }
      }
      spark.stop()
    case other =>
      System.err.println(s"usage: BenchExtra profile|explain ... (got $other)")
      sys.exit(2)
  }
}
