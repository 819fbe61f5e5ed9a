package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators over a document table.
  * All token hashing is MD5-derived (`hash64`) so results are reproducible
  * in any engine (the DuckDB oracle recomputes them bit-identically) — no
  * JVM-specific hash functions in data paths.
  *
  * PRECONDITION: `idCol` is a unique document id (one row per id). The
  * per-row signature formulations do not merge duplicate-id rows — a table
  * with repeated ids is an upstream data bug ([[exact]] is the operator
  * that finds content duplicates ACROSS distinct ids).
  *
  * Scale notes: every operator is a pure column pipeline (codegen'd, no
  * UDFs). Pair generation is always LSH-banded (candidates ∝ hash
  * collisions, never N²) with a per-bucket neighbor cap, so even a
  * degenerate bucket (N identical documents hashing to one band key)
  * produces O(maxNeighbors · N) pairs, not O(N²) — the skew guard a 100 TB
  * corpus needs, where exact-duplicate clusters with millions of members are
  * normal. Dedup connectivity survives the cap: within a bucket each doc
  * pairs with its `maxNeighbors` successors in docId order, so a duplicate
  * cluster stays one connected component.
  */
object Dedup {

  /** 60-bit deterministic hash of a string column via md5 hex. */
  def hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Raw token array (lowercased alphanumeric runs) — dedup uses unfiltered
    * tokens (no stop removal), unlike the search index. Native codegen'd
    * run-scan over Spark's own `lower` (round 6): the old
    * `filter(split(...))` pair ran a regex split plus an interpreted
    * higher-order lambda per row ([[graft.functions.TextKernels.alnumRuns]]
    * computes the identical array).
    */
  def tokens(text: Column): Column = Kernels.alnumRuns(lower(text))

  /** Word w-shingles of a token-array column as space-joined strings.
    *
    * Native codegen'd kernel (round 6): one loop per row emitting the
    * space-joined w-grams ([[graft.functions.TextKernels.shingles]]). The
    * round-1→5 history of this expression: `transform(sequence(...))` was
    * O(tokens²) interpreted (94% of the round-1 bench); the round-2
    * `zip_with`-of-`slice`s chain cut it to O(w · tokens) but stayed inside
    * interpreted HOF evaluation with w array copies per row — the kernel is
    * the same O(w · tokens) with zero intermediate arrays, inside
    * whole-stage codegen.
    */
  def shinglesOf(toks: Column, w: Int = 3): Column = Kernels.shingles(toks, w)

  def shingles(text: Column, w: Int = 3): Column = shinglesOf(tokens(text), w)

  /** Exact dedup: canonical = min doc id per content-hash group, as ONE
    * window over the digest key (one shuffle on the 16-byte digest, scales
    * to any N). The previous groupBy + join-back shape keyed two operations
    * the same way but paid two exchanges (guide §2.4: share the exchange) —
    * the unbounded-frame window min is the identical per-row canonical id
    * off the single digest shuffle.
    *
    * Null and empty text: `md5(null)` is null, and the window puts every
    * null digest in ONE partition, so null-text rows are kept (never
    * dropped) and dedup against each other — the lowest null-text doc id is
    * their canonical id. Empty text has its own digest (md5 of ""), so it
    * forms a separate group from null.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs.select(col(idCol).cast("long").as("doc_id"), md5(col(textCol)).as("content_md5"))
    val w = Window.partitionBy(col("content_md5"))
    hashed.select(col("doc_id"), min(col("doc_id")).over(w).as("canonical_id"))
      .select(col("doc_id"), col("canonical_id"), (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  /** MinHash signatures over word-3-gram shingles: h_i = min over shingles
    * of hash64(shingle || "#i").
    *
    * Computed per-row as `array_min(transform(shingles, …))` — ONE narrow
    * map over the corpus, no explode and no groupBy(doc) shuffle. The
    * per-row array min equals the min over exploded shingle rows, so the
    * DuckDB oracle (which still aggregates an unnested CTE) hash-matches
    * unchanged; docs with < w tokens have no shingles and are absent from
    * the output in both formulations. At 100 TB this is the difference
    * between a map-only stage and shuffling every shingle in the corpus.
    * The shingle array is materialized in its own projection so the h_i
    * columns reference a (cheap) attribute; CollapseProject keeps
    * multi-referenced non-trivial aliases un-inlined.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String, numHashes: Int = 8): DataFrame = {
    // tokens materialized in their OWN projection before the shingle
    // zip_with chain (round 6): with `shingles(text)` inline, CollapseProject
    // substituted the full tokenize expression into every slice/size
    // reference — ~2w tokenize evaluations per row — and the old
    // `size(sh) > 0` guard re-evaluated the whole shingle chain again below
    // the projection. A document has a shingle iff it has ≥ w tokens, so the
    // guard needs one tokenize, not the chain.
    val sh = docs
      .select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), shinglesOf(col("toks")).as("sh"))
    // ONE fused pass computes every band's min (round 6): the old shape ran
    // numHashes interpreted `transform`s — numHashes full walks of the
    // shingle array per row, each re-deriving md5 through a fresh
    // MessageDigest and a hex-string parse. `mh` is materialized in its own
    // projection so the h_i extractions reference an attribute (the same
    // CollapseProject discipline as `sh`).
    val mh = sh.select(col("doc_id"), Kernels.minhash(col("sh"), numHashes).as("mh"))
    mh.select(col("doc_id") +:
      (0 until numHashes).map(i => element_at(col("mh"), i + 1).as(s"h$i")): _*)
  }

  /** LSH band-bucket candidate pairs over minhash signatures, with the
    * per-bucket neighbor cap: within a bucket, docs are ranked by doc_id and
    * each pairs only with its next `maxNeighbors` successors. Candidate
    * count is ≤ maxNeighbors · Σ|bucket| — linear in corpus size by
    * construction, even for a degenerate all-docs-identical bucket
    * (DedupScaleSpec proves sub-quadratic growth under doubling).
    */
  def lshCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      maxNeighbors: Int = 16): DataFrame = {
    // loud, not silent: numHashes < rowsPerBand would explode zero band
    // keys and report an empty (= "no duplicates") result
    require(numHashes >= rowsPerBand && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand)")
    val sig = minhashSignatures(docs, idCol, textCol, numHashes)
    // one row per (doc, band) via explode over the ALREADY-COMPUTED signature
    // row — the previous per-band union duplicated the whole signature
    // subtree (tokenize + shingle + md5 once per band per plan reference)
    val bandKeys = (0 until numHashes / rowsPerBand).map { b =>
      concat_ws("|", lit(b.toString) +:
        (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}").cast("string")): _*)
    }
    val bands = sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("bucket"))
    // capped successor pairing as ONE window pass (round 6): within a
    // bucket, collect each doc's next `maxNeighbors` doc_ids (doc_id order)
    // and explode — the identical pair set the old rn self-join produced,
    // but the join's two sides each re-ran the whole scan → shingle →
    // signature → explode → window pipeline (no exchange reuse under AQE),
    // doubling the corpus work and adding a join exchange. Same bucket
    // shuffle, same skew bound (the frame is ≤ maxNeighbors rows).
    val wNext = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(1, maxNeighbors)
    bands.withColumn("succ", collect_list(col("doc_id")).over(wNext))
      .select(col("doc_id").as("a"), explode(col("succ")).as("b"))
      .distinct()
  }

  /** Distinct shingle sets per doc, for candidate verification. Tokens
    * materialized first — see the minhashSignatures note.
    */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), array_distinct(shinglesOf(col("toks"))).as("sh"))

  /** True-Jaccard verification of a candidate pair frame: melt each pair to
    * its two doc ids, join the shingle sets ONCE, regroup by pair (a < b
    * always, so min_by/max_by on doc_id routes each side), and compute
    * |∩|/|∪| with the cross-engine-stable floor rounding. The previous
    * two-join shape referenced `sets` twice — two full tokenize + shingle
    * passes over the corpus per verification.
    */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame): DataFrame =
    cand.select(col("a"), col("b"), explode(array(col("a"), col("b"))).as("doc_id"))
      .join(sets, Seq("doc_id"))
      .groupBy(col("a"), col("b"))
      .agg(min_by(col("sh"), col("doc_id")).as("sha"),
        max_by(col("sh"), col("doc_id")).as("shb"),
        count(lit(1)).as("sides"))
      // a pair whose id is absent from `sets` must DROP, not degenerate to
      // min_by == max_by (which would fabricate jaccard = 1.0); can't happen
      // via lshCandidates, but this method's contract is any candidate frame
      .filter(col("sides") === 2).drop("sides")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("double"))
      .withColumn("uni", size(array_union(col("sha"), col("shb"))).cast("double"))
      .withColumn("jaccard", floor(col("inter") / col("uni") * 1000000.0 + 0.5) / 1000000.0)
      .select(col("a"), col("b"), col("jaccard"))

  /** MinHash+LSH near-dup pairs: signatures → capped band buckets →
    * candidate pairs (a<b) → verified with true shingle Jaccard. The band
    * join is the scale path: candidates ∝ collisions, never N².
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.5,
      maxNeighbors: Int = 16): DataFrame = {
    val cand = lshCandidates(docs, idCol, textCol, numHashes, rowsPerBand, maxNeighbors)
    verifyJaccard(cand, shingleSets(docs, idCol, textCol))
      .filter(col("jaccard") >= minJaccard)
  }

  /** 32-bit SimHash over distinct tokens: bit j of the fingerprint is the
    * sign of Σ_tokens (±1 by bit j of hash32(token)).
    *
    * Per-row formulation: hash the distinct-token array once (`transform`,
    * one md5 per distinct token — same multiset of hashes the oracle's
    * DISTINCT-unnest CTE produces), then each bit's sum is an `aggregate`
    * fold over that hash array. Narrow map over the corpus — the previous
    * explode + groupBy(doc) shuffled every distinct token; integer sums are
    * order-independent so the fold equals the group-sum bit-for-bit.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 32): DataFrame = {
    // fused kernels (round 6): hash32 per distinct token in one native loop
    // (was an interpreted `transform` re-deriving md5 per element), then ONE
    // pass folding all `bits` sign-sums (was `bits` interpreted `aggregate`
    // walks of the hash array per row)
    val hs = docs.select(col(idCol).cast("long").as("doc_id"),
        Kernels.hashArray(array_distinct(tokens(col(textCol))), 8).as("hs"))
      .filter(size(col("hs")) > 0)
    hs.select(col("doc_id"), Kernels.simhashFold(col("hs"), bits).as("simhash"))
  }

  /** Top-k most similar pairs by word-3-gram Jaccard. Candidate generation
    * is LSH-banded (same machinery as [[minhashPairs]]) — round 1 blocked on
    * a fixed-cardinality column (`source`), which is O(N²) in disguise: each
    * block's size grows with the corpus. Band buckets grow in NUMBER, not
    * size, as the corpus grows, and the neighbor cap bounds the degenerate
    * bucket, so candidate count stays linear.
    */
  def ngramJaccardTop(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      maxNeighbors: Int = 16): DataFrame = {
    val cand = lshCandidates(docs, idCol, textCol, numHashes, rowsPerBand, maxNeighbors)
    verifyJaccard(cand, shingleSets(docs, idCol, textCol))
      .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
      .limit(k)
  }
}
