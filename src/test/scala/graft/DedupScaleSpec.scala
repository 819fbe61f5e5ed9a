package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Scale-shape proofs for the dedup candidate generation (VERDICT round-1
  * item 2): LSH-band blocking with the per-bucket neighbor cap must produce
  * sub-quadratically growing candidate counts when the corpus doubles, even
  * in the worst case (every document identical → one band bucket). Also
  * pins exact dedup's grouping of null and empty text.
  */
class DedupScaleSpec extends SparkSpec {

  private def corpus(n: Int, text: Int => String) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
  }

  private def candCount(df: org.apache.spark.sql.DataFrame): Long =
    Dedup.lshCandidates(df, "doc_id", "text").count()

  test("exact dedup: null-text rows form their own digest group, apart from empty text, and are kept") {
    import spark.implicits._
    val docs = Seq((1L, None), (2L, Some("")), (3L, None), (4L, Some("")), (5L, Some("x")))
      .toDF("doc_id", "text")
    val got = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 1L, false), (2L, 2L, false), (3L, 1L, true), (4L, 2L, true), (5L, 5L, false)))
  }

  test("degenerate bucket: all-identical corpus stays linear under the cap") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val n = 60
    val c1 = candCount(corpus(n, _ => text))
    val c2 = candCount(corpus(2 * n, _ => text))
    // uncapped would be N(N-1)/2: 1770 then 7140 (ratio 4.03). The cap makes
    // it maxNeighbors·N − const: growth ratio ≤ ~2.2 when the corpus doubles.
    assert(c1 < n.toLong * (n - 1) / 2, s"cap inactive: $c1 candidates")
    assert(c2 <= 3 * c1, s"super-linear candidate growth: $c1 -> $c2")
    // connectivity survives the cap: the duplicate cluster remains one
    // connected component (every doc pairs with its next-ranked neighbors)
    val cand = Dedup.lshCandidates(corpus(n, _ => text), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adjacentPairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
    assert(adjacentPairs.forall(cand.contains), "duplicate chain broken by the cap")
  }

  test("mixed corpus: doubling docs grows candidates sub-quadratically") {
    // 1 in 4 docs is a near-dup of a rotating base text; rest unique
    val bases = Vector(
      "spark shuffles data between stages when keys move",
      "broadcast joins avoid moving the large fact table",
      "parquet scans prune row groups with min max stats")
    def text(i: Int): String =
      if (i % 4 == 0) bases(i % 3) + s" extra token${i % 7}"
      else s"unique document number $i with words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"
    val c1 = candCount(corpus(400, text))
    val c2 = candCount(corpus(800, text))
    assert(c2 <= 3 * c1 + 50, s"candidate growth not sub-quadratic: $c1 -> $c2")
  }
}
