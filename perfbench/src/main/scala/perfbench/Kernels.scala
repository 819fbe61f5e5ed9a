package perfbench

import org.apache.spark.sql.functions._

import graft.analysis.{Analyzers, TokenBuffer}
import graft.index._
import graft.query.SearchOptions

/** In-process kernel micro-benchmarks for the traced run: no Spark jobs in
  * the timed loops, inputs taken from the workload's own corpus and index.
  * Each figure is the median of [[Reps]] repetitions.
  */
object Kernels {

  val Reps = 5

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Units per second of `pass`, which returns the units it processed. */
  private def rate(pass: => Long): Double =
    median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      val n = pass
      n / ((System.nanoTime() - t0) / 1e9)
    })

  def all(run: Run, si: SegmentIndex, texts: Seq[String], queries: IndexedSeq[String],
      searcher: Option[SegmentSearcher] = None): Unit = {
    analysis(run, texts)
    codec(run, si)
    val s = searcher.getOrElse(new SegmentSearcher(si, SearchOptions(limit = Workloads.TopK)))
    parseCost(run, "search.parse_us", queries, q => s.parse(q))
    wand(run, si, s, queries)
  }

  /** `Analyzers.Standard` tokens per second over the sample texts. */
  def analysis(run: Run, texts: Seq[String]): Unit = {
    val buf = new TokenBuffer()
    run.layer("analysis.tokens_per_s") = rate {
      var n = 0L
      texts.foreach { t => buf.clear(); Analyzers.Standard.tokensInto(t, buf); n += buf.len }
      n
    }
  }

  private def blockBytes(b: Codec.Block): Long =
    (b.docBytes.length + b.tfBytes.length + b.dlBytes.length + b.posBytes.length).toLong

  /** `Codec` encode/decode throughput over postings read back from the
    * index's own segments, and encoded bytes per posting.
    */
  def codec(run: Run, si: SegmentIndex): Unit = {
    val rows = si.segments.filter(size(col("blocks")) > 0).limit(4000).collect().toSeq
    val blocks = rows.flatMap(_.blocks)
    val runs = rows.map(_.blocks.flatMap(b => Codec.decode(b).toSeq))
    val postings = runs.map(_.length.toLong).sum
    val encodedBytes = runs.map(r => Codec.encodeLocal(r.iterator).map(blockBytes).sum).sum
    run.layer("codec.encode_mb_s") = rate {
      runs.foreach(r => Codec.encodeLocal(r.iterator))
      encodedBytes
    } / 1e6
    run.layer("codec.decode_mb_s") = rate {
      var n = 0L
      blocks.foreach { b => Codec.decode(b); n += blockBytes(b) }
      n
    } / 1e6
    run.layer("codec.bytes_per_posting") = encodedBytes.toDouble / postings.max(1L)
  }

  /** Median microseconds of `f` per query over the query set. */
  def parseCost(run: Run, name: String, queries: Seq[String], f: String => Any): Unit = {
    queries.foreach(f)
    run.layer(name) = median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      queries.foreach(f)
      (System.nanoTime() - t0) / 1e3 / queries.length
    })
  }

  /** Cold (term stats not yet looked up) and warm driver-side planning of
    * the hot set on the serving searcher.
    */
  def planCosts(run: Run, s: SegmentSearcher, queries: Seq[String]): Unit = {
    def pass(name: String): Seq[Double] = queries.map { q =>
      val t0 = System.nanoTime()
      run.tracer.span(name)(s.plan(s.parse(q)))
      (System.nanoTime() - t0) / 1e6
    }
    run.layer("search.plan_cold_ms") = median(pass("search.plan_cold"))
    run.layer("search.plan_warm_ms") = median(pass("search.plan_warm"))
  }

  /** `SegmentSearcher.shardTopK` (WAND / pruned) against `allScored`
    * (exhaustive) on the pre-collected blocks of the hot set's terms, per
    * query summed over shards. The pruned top-k must equal the exhaustive
    * top-k; a mismatch is a wrong answer.
    */
  def wand(run: Run, si: SegmentIndex, s: SegmentSearcher, queries: IndexedSeq[String]): Unit = {
    val plans = queries.map(q => s.plan(s.parse(q)))
    val leaves = plans.flatMap(SegmentSearcher.leafTerms).distinct
    val wanted = leaves.toSet
    val rows = si.segments.filter(col("term").isin(leaves.map(_._2).distinct: _*)).collect()
      .filter(r => wanted((r.field, r.term)))
    val shards: Seq[Map[(String, String), IndexedSeq[Codec.Block]]] =
      rows.groupBy(_.shard).values.toSeq.map(_.toSeq.groupBy(r => (r.field, r.term)).map {
        case (k, rs) => k -> rs.sortBy(_.minDoc).flatMap(_.blocks).toIndexedSeq
      })
    val k = Workloads.TopK
    def top(hits: Seq[(Long, Double)]): Seq[(Long, Double)] =
      hits.sortBy { case (d, sc) => (-sc, d) }.take(k).map { case (d, sc) => (d, math.round(sc * 1e4) / 1e4) }
    val wandUs = Array.fill(plans.length)(Vector.empty[Double])
    val exhUs = Array.fill(plans.length)(Vector.empty[Double])
    (1 to Reps).foreach { rep =>
      plans.indices.foreach { i =>
        val sq = plans(i)
        val t0 = System.nanoTime()
        val pruned = shards.flatMap(bt => SegmentSearcher.shardTopK(sq, bt, k))
        val t1 = System.nanoTime()
        val all = shards.flatMap(bt => SegmentSearcher.allScored(sq, bt, _ => false))
        val t2 = System.nanoTime()
        wandUs(i) :+= (t1 - t0) / 1e3
        exhUs(i) :+= (t2 - t1) / 1e3
        if (rep == 1) run.checked(s"wand kernel '${queries(i)}'", top(pruned) == top(all))
      }
    }
    run.layer("search.wand_kernel_us") = median(wandUs.toSeq.map(median))
    run.layer("search.exhaustive_kernel_us") = median(exhUs.toSeq.map(median))
  }
}
