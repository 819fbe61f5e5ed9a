package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.TranscriptGen
import graft.index._
import graft.query.{SearchOptions, Searcher}
import graft.streaming.IncrementalIndexer

import Inputs._
import Main.{deleteTree, dirBytes}

/** The four workloads. Each drives the engine only through public calls of
  * `graft.index`, `graft.query` and `graft.streaming`, and checks every
  * answer it times. Sizes are fixed here (not tuned per run), so every run
  * of a workload does the same work for a given seed.
  */
object Workloads {

  val DocsPerShard = 16384L
  val TopK = 10

  private def round4(x: Double): Double = math.round(x * 10000.0) / 10000.0

  private def rounded(hits: Seq[(Long, Double)]): Seq[(Long, Double)] =
    hits.map { case (d, s) => (d, round4(s)) }

  /** Spark storage memory + disk held by cached RDDs, in bytes. */
  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Sample of corpus texts in a fixed order (query phrases, kernels). */
  private def sampleTexts(df: DataFrame, convs: Int): Seq[String] =
    df.filter(col("conv_id") < f"conv-$convs%08d").select("conv_id", "turn_idx", "text")
      .collect().sortBy(r => (r.getString(0), r.getInt(1))).map(_.getString(2)).toSeq

  /** Runs `f` over `xs` on `threads` driver threads (set-up answer
    * precomputation only; never timed as an operation).
    */
  private def parMap[A, B](xs: IndexedSeq[A], threads: Int)(f: A => B): IndexedSeq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = xs.map(x => pool.submit(() => f(x)))
      fs.map(_.get())
    } finally pool.shutdown()
  }

  /** Generate the corpus to parquet: (table, rows, text bytes). */
  private def corpus(run: Run, convs: Long, name: String, seed: Long): (DataFrame, Long, Long) = {
    val path = run.scratchPath(name)
    run.tracer.span("input.generate") {
      writeConversations(run.spark, seed, 0L, convs, path)
    }
    val df = read(run.spark, path)
    val (rows, bytes) = sizeOf(df)
    (df, rows, bytes)
  }

  /** Fixed warm-up before the window; the first op's latency is the cold
    * first-use cost.
    */
  private def warmup(run: Run, n: Int, name: String)(op: Int => Done): Unit = {
    val (_, secs) = run.seconds {
      (0 until n).foreach { i =>
        val s = run.timedOp(s"warmup.$name")(op(i))
        if (i == 0) run.layer("cold.first_op_ms") = s.latMs
      }
    }
    run.note(f"warm-up $n ops ${secs}%.2f s")
    run.out("warmup_s") = secs
  }

  // ---- bulk_build ------------------------------------------------------

  val BulkConvs = 5000L
  /** Set-up repetitions, one corpus each; `setup_s` is their median. */
  val BulkSetupReps = 3
  /** Conversations of the cold first build. */
  val BulkWarmupConvs = 500L
  val ProbeQuery = "role:assistant AND consensus"

  def bulkBuild(run: Run): Unit = {
    val spark = run.spark
    val (small, smallRows, _) = corpus(run, BulkWarmupConvs, "corpus-warmup", run.args.seed)

    def probe(dir: String): Seq[(Long, Double)] =
      rounded(new SegmentSearcher(SegmentStore.open(spark, dir), SearchOptions(limit = TopK)).topK(ProbeQuery))

    /** A full build of `input` into a fresh directory. Its check: the turn
      * count equals the input rows, and the index bytes and the probe
      * answer equal those of the first build of the same input.
      */
    final class Builds(input: DataFrame, inputRows: Long, keepForKernels: Boolean) {
      var ref: Option[(Long, Seq[(Long, Double)])] = None
      var kept: Option[String] = None
      def op(i: Int): Done = {
        val dir = run.scratchPath(s"bb-$i")
        val (withIds, _) = run.tracer.span("build.assign") {
          DocIds.assignWithCount(input, OrderCols, "docId")
        }
        val n = run.tracer.span("build.segments") {
          SegmentStore.build(withIds, "docId", Fields, dir, docsPerShard = DocsPerShard)
        }
        Done(n, () => {
          val bytes = dirBytes(dir)
          val ans = probe(dir)
          val same = ref match {
            case None => ref = Some((bytes, ans)); ans.nonEmpty
            case Some((b, a)) => bytes == b && ans == a
          }
          if (keepForKernels && kept.isEmpty) kept = Some(dir) else deleteTree(dir)
          same && n == inputRows
        })
      }
    }
    // the cold first build runs on a small slice: first-use costs do not
    // scale with input
    val cold = new Builds(small, smallRows, keepForKernels = false)
    warmup(run, 1, "build")(cold.op)
    // each set-up repetition generates its own corpus (seeds derived from
    // --seed) and builds it once, which gives that corpus its reference
    // answer; the window's builds cycle over all of them, because one
    // corpus' range partitioning can leave a straggler task that another's
    // does not, and averaging three keeps that out of the run-to-run spread
    val full = (0 until BulkSetupReps).map { r =>
      run.setupRep {
        val (df, rows, bytes) = corpus(run, BulkConvs, s"corpus-$r", run.args.seed * BulkSetupReps + r)
        val b = new Builds(df, rows, keepForKernels = run.args.trace && r == 0)
        run.checked(s"bulk reference build $r", b.op(1 + r).check())
        (b, df, bytes)
      }
    }
    run.out("text_bytes") = full.map(_._3).sum
    run.out("index_bytes") = full.map(_._1.ref.map(_._1).getOrElse(0L)).sum
    val first = 1 + BulkSetupReps
    run.closedLoop("build")(i => full(i.toInt % full.length)._1.op(first + i.toInt))
    full.head._1.kept.foreach { dir =>
      val texts = sampleTexts(full.head._2, 200)
      Kernels.all(run, SegmentStore.open(spark, dir), texts, queriesFor(run, texts))
      deleteTree(dir)
      ingestProbe(run)
    }
  }

  private def queriesFor(run: Run, texts: Seq[String]): IndexedSeq[String] =
    queries(run.args.seed, ServeHotSet, bigrams(texts))

  // ---- query_serve -----------------------------------------------------

  val ServeConvs = 3000L
  val ServeHotSet = 48
  val ServeWarmupPasses = 3
  /** Open-and-cache repetitions; each is about a second. */
  val ServeSetupReps = 5
  /** Novel queries the traced run sends to the DataFrame engine. */
  val ProbeQueries = 20

  /** The corpus with docIds assigned once and written back, so both
    * engines index the same ids and their answers compare by id.
    */
  private def withIds(run: Run, raw: DataFrame): DataFrame = {
    val path = run.scratchPath("corpus-ids")
    DocIds.assign(raw, OrderCols, "docId").write.parquet(path)
    run.spark.read.parquet(path)
  }

  /** Open and pin a segment index, with its cache materialized. */
  private def openCached(run: Run, dir: String): SegmentIndex = {
    val si = run.tracer.span("serve.open")(SegmentStore.open(run.spark, dir))
    run.tracer.span("serve.cache") {
      val c = si.cached()
      c.segments.count()
      c.termStats.count()
      c
    }
  }

  private def unpersist(si: SegmentIndex): Unit = {
    si.segments.unpersist(true)
    si.termStats.unpersist(true)
  }

  def queryServe(run: Run): Unit = {
    val spark = run.spark
    val (raw, _, textBytes) = corpus(run, ServeConvs, "corpus", run.args.seed)
    val dir = run.scratchPath("serve-idx")
    val (ids, _) = DocIds.assignWithCount(raw, OrderCols, "docId")
    SegmentStore.build(ids, "docId", Fields, dir, docsPerShard = DocsPerShard)
    run.out("text_bytes") = textBytes
    run.out("index_bytes") = dirBytes(dir)
    var si: SegmentIndex = null
    (1 to ServeSetupReps).foreach { _ =>
      if (si != null) unpersist(si)
      si = run.setupRep(openCached(run, dir))
    }
    run.layer("serve.cached_mb") = cachedBytes(spark) / 1e6
    val texts = sampleTexts(raw, 200)
    val hot = queriesFor(run, texts)
    val searcher = new SegmentSearcher(si, SearchOptions(limit = TopK))
    if (run.args.trace) Kernels.planCosts(run, searcher, hot)
    // set-up answers: the pruned top-k must equal the exhaustive path's
    val answers: Map[String, Seq[(Long, Double)]] = parMap(hot, 4) { q =>
      val pruned = rounded(searcher.topK(q))
      val exhaustive = rounded(searcher.topKWithTotal(q)._1)
      run.checked(s"serve setup '$q'", pruned == exhaustive)
      q -> pruned
    }.toMap

    def op(q: String): Done = {
      val df = run.tracer.span("search.frame")(searcher.search(q))
      val hits = run.tracer.span("search.exec")(df.collect())
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      Done(1L, () => rounded(hits) == answers(q))
    }
    // the set-up answers ran every hot query once; the warm-up runs the set
    // ServeWarmupPasses times more, so the JIT has compiled each query's
    // path before the window
    warmup(run, ServeWarmupPasses * hot.length, "query")(i => op(hot(i % hot.length)))
    // the window cycles through the hot set in a seeded order, so each hot
    // query is sent about equally often in every run
    val order = permutation(hot.length, run.args.seed)
    run.closedLoop("query")(i => op(hot(order((i % hot.length).toInt))))
    if (run.args.trace) {
      Kernels.all(run, si, texts, hot, Some(searcher))
      // the DataFrame engine's layer, on novel queries over the same corpus
      val novel = queries(run.args.seed + 1L, ProbeQueries, bigrams(texts))
      val expected = novel.map(q => rounded(searcher.topK(q)))
      unpersist(si)
      val df = new Searcher(dataFrameIndex(run, withIds(run, raw)), SearchOptions(limit = TopK))
      novel.indices.foreach(i => run.timedOp("dfquery")(dfOp(run, df, novel(i), expected(i))))
      Kernels.parseCost(run, "dfq.parse_us", novel, q => df.parse(q))
    }
  }

  /** The DataFrame engine's index, pinned and materialized. */
  private def dataFrameIndex(run: Run, docs: DataFrame): TextIndex =
    run.tracer.span("dfq.index") {
      val ti = IndexBuilder.build(docs, "docId", Fields).cached()
      ti.postings.count()
      ti.docs.count()
      ti.termStats.count()
      ti.fieldStats
      run.layer("dfq.cached_mb") = cachedBytes(run.spark) / 1e6
      ti
    }

  private def dfOp(run: Run, searcher: Searcher, q: String, expected: Seq[(Long, Double)]): Done = {
    val df = run.tracer.span("dfq.plan")(searcher.search(q))
    val hits = run.tracer.span("dfq.exec")(df.select("docId", "score").collect())
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Done(1L, () => rounded(hits) == expected)
  }

  // ---- the ingest probe of the traced bulk_build run -------------------

  val IngestBaseConvs = 2000L
  val IngestBatchConvs = 200L
  val IngestDeletes = 4
  val OptimizeEvery = 8
  /** Compaction runs on batches 4, 12, 20, ...; the probe's five cycles
    * hold one.
    */
  val OptimizePhase = 4
  val VerifyQueries = Seq("role:tool", "tool:bash")

  /** Driver-side model of the live index: the roles/tools of every live
    * docId, from which the verification totals are derived.
    */
  private final class Model {
    val role = mutable.ArrayBuffer.empty[String]
    val tool = mutable.ArrayBuffer.empty[String]
    val deleted = mutable.Set.empty[Long]
    def total(q: String): Long = q match {
      case "role:tool" => role.indices.count(i => role(i) == "tool" && !deleted(i.toLong)).toLong
      case "tool:bash" => tool.indices.count(i => tool(i) == "bash" && !deleted(i.toLong)).toLong
    }
  }

  /** The ingest script over one seeded corpus: a base generation (batch 0)
    * then micro-batches 1..`batches` of distinct conversations, each cycle
    * appending, deleting, and answering the verification queries from a
    * freshly merged view with tombstones.
    */
  private final class IngestScript(run: Run, batches: Int) {
    private val spark = run.spark
    private val table = {
      val path = run.scratchPath("turns")
      run.tracer.span("input.generate") {
        writeConversations(spark, run.args.seed, 0L, IngestBaseConvs + IngestBatchConvs * batches, path)
      }
      read(spark, path)
    }
    private def convId(c: Long): String = f"conv-$c%08d"
    private def batchOf(conv: Long): Int =
      if (conv < IngestBaseConvs) 0 else (1 + (conv - IngestBaseConvs) / IngestBatchConvs).toInt
    private def batch(b: Int): DataFrame = {
      val lo = if (b == 0) 0L else IngestBaseConvs + (b - 1) * IngestBatchConvs
      val hi = IngestBaseConvs + b * IngestBatchConvs
      table.filter(col("conv_id") >= convId(lo) && col("conv_id") < convId(hi))
    }
    // roles/tools per batch in docId order (appendBatch ranks a batch by conv_id, turn_idx)
    private val meta: Map[Int, IndexedSeq[(String, String)]] =
      table.select("conv_id", "turn_idx", "role", "tool").collect()
        .sortBy(r => (r.getString(0), r.getInt(1)))
        .groupBy(r => batchOf(r.getString(0).stripPrefix("conv-").toLong))
        .map { case (b, rs) => b -> rs.map(r => (r.getString(2), r.getString(3))).toIndexedSeq }
    private val rng = new TranscriptGen.Rng(run.args.seed * 131L + 7L)
    private val model = new Model
    private val dir = run.scratchPath("ingest")
    val optimizeMs = mutable.ArrayBuffer.empty[Double]

    private def append(b: Int): Long = {
      IncrementalIndexer.appendBatch(batch(b), b.toLong, dir, OrderCols, Fields, docsPerShard = DocsPerShard)
      val rt = meta(b)
      rt.foreach { case (r, t) => model.role += r; model.tool += t }
      rt.length.toLong
    }

    /** Index the base generation into the fresh directory. */
    def start(): Unit = run.tracer.span("ingest.append")(append(0))

    /** Deletes for this cycle: the two smallest live `role:tool` docIds
      * (they sit in that query's top-k, so a tombstone leak shows in the
      * answer) and seeded random live docIds.
      */
    private def pickDeletes(): Seq[Long] = {
      val live = model.role.length
      val top = model.role.indices.iterator
        .filter(i => model.role(i) == "tool" && !model.deleted(i.toLong)).take(2).map(_.toLong).toSeq
      val rand = Iterator.continually(rng.nextInt(live).toLong)
        .filterNot(d => model.deleted(d) || top.contains(d)).take(IngestDeletes - top.length).toSeq
      (top ++ rand).distinct
    }

    private def search(idx: SegmentIndex, tomb: Option[DataFrame]): Seq[(Seq[(Long, Double)], Long)] = {
      val s = new SegmentSearcher(idx, SearchOptions(limit = TopK), tombstones = tomb)
      VerifyQueries.map { q =>
        val (hits, total) = s.topKWithTotal(q)
        (rounded(hits), total)
      }
    }

    def cycle(b: Int): Done = {
      val n = run.tracer.span("ingest.append")(append(b))
      val dels = pickDeletes()
      run.tracer.span("ingest.delete")(SegmentStore.deleteDocs(spark, dir, dels))
      model.deleted ++= dels
      val (idx, tomb) = run.tracer.span("ingest.open_merged") {
        (SegmentStore.openMerged(spark, dir), SegmentStore.deletedDocsDF(spark, dir))
      }
      val fresh = run.tracer.span("ingest.fresh_query")(search(idx, Some(tomb)))
      val expected = VerifyQueries.map(model.total)
      Done(n, () => {
        val totalsOk = fresh.map(_._2) == expected
        val noDeleted = fresh.forall(_._1.forall { case (d, _) => !model.deleted(d) })
        if (!totalsOk) run.note(s"ingest batch $b totals ${fresh.map(_._2)} expected $expected")
        totalsOk && noDeleted && (b % OptimizeEvery != OptimizePhase || optimize(fresh))
      })
    }

    /** Compaction on every 8th batch of the script, after that batch's op
      * and outside its latency: whether a compaction fell inside a short
      * window would otherwise decide the window's throughput. Expunging
      * deletes moves idf but not the matches, so the same docIds and totals
      * must come back.
      */
    private def optimize(before: Seq[(Seq[(Long, Double)], Long)]): Boolean = {
      val (_, secs) = run.seconds(run.tracer.span("ingest.optimize")(SegmentStore.optimizeInPlace(spark, dir)))
      optimizeMs += secs * 1000.0
      search(SegmentStore.openMerged(spark, dir), None).map(r => (r._1.map(_._1), r._2)) ==
        before.map(r => (r._1.map(_._1), r._2))
    }

    def recordLayer(): Unit = {
      run.layer("ingest.live_files") = SegmentStore.fileCount(dir).toDouble
      if (optimizeMs.nonEmpty) run.layer("ingest.optimize_ms") = optimizeMs.sorted.apply(optimizeMs.length / 2)
    }
  }

  /** The streaming layer inside another workload's traced run: the base
    * generation and the script's first cycles, one compaction included.
    */
  def ingestProbe(run: Run): Unit = {
    val cycles = OptimizePhase + 1
    val script = new IngestScript(run, cycles)
    script.start()
    (1 to cycles).foreach(b => run.timedOp("ingest")(script.cycle(b)))
    script.recordLayer()
  }
}
