package graft.index

import graft.analysis.Analyzer

/** One posting: the occurrence record of `term` in `docId`'s `field`.
  *
  * This is the engine's central data structure — the row-level form of the
  * inverted index the reference delegates to Lucene
  * (/root/reference/src/main/java/com/github/rnewson/couchdb/lucene/DatabaseIndexer.java:199-211,
  * Lucene public semantics per SURVEY.md §2.5).
  *
  *  - `tf`        term frequency within (docId, field)
  *  - `positions` pre-stop-filter token positions, sorted asc (phrase queries)
  *  - `dl`        token count of (docId, field) after analysis — denormalized
  *                into the posting so BM25 scoring is join-free at query time
  *                (Lucene stores this as the per-doc norm; we keep the exact
  *                int instead of Lucene's lossy 1-byte encoding, SURVEY.md §2.7)
  */
final case class Posting(
    field: String,
    term: String,
    docId: Long,
    tf: Int,
    positions: Array[Int],
    dl: Int)

/** Per-(field, term) statistics: document frequency and collection term
  * frequency — the reference exposes df via `?rewrite=true`
  * (DatabaseIndexer.java:494-504).
  */
final case class TermStats(field: String, term: String, df: Long, cf: Long)

/** Driver-side lookup of a query's term stats against a termStats dataset,
  * memoized through an [[LruCache]] — called only by the shared query
  * planner ([[graft.query.QueryFrontEnd.plan]]), so both engines weight
  * terms from the same cache. Bounded by query size; the same shape as
  * Lucene resolving TermStates before scoring.
  */
object StatsLookup {
  /** Snapshot the cache ONCE; answer each key from the snapshot or the
    * fresh scan, never from a post-put re-read — an entry evicted by a
    * concurrent query between put and read would otherwise score a real
    * term as absent with no error (ADVICE r4). A cached `Some(None)` is a
    * known-absent term; an uncached miss triggers one predicate-pushed
    * scan for ALL missing keys together.
    */
  def lookup(
      cache: LruCache[(String, String), Option[TermStats]],
      termStats: org.apache.spark.sql.Dataset[TermStats],
      terms: Seq[(String, String)]): Map[(String, String), TermStats] = {
    import org.apache.spark.sql.functions.col
    val distinct = terms.distinct
    val cached = distinct.map(k => k -> cache.get(k)).toMap
    val missing = distinct.filter(k => cached(k).isEmpty)
    val found: Map[(String, String), TermStats] =
      if (missing.isEmpty) Map.empty
      else {
        val cond = missing
          .map { case (f, t) => (col("field") === f) && (col("term") === t) }
          .reduce(_ || _)
        val f = termStats.filter(cond).collect().map(s => (s.field, s.term) -> s).toMap
        missing.foreach(k => cache.put(k, f.get(k)))
        f
      }
    distinct.flatMap { k =>
      cached(k) match {
        case Some(opt) => opt.map(k -> _) // cache hit: present or known-absent
        case None => found.get(k).map(k -> _) // freshly scanned this call
      }
    }.toMap
  }
}

/** What the shared query front end ([[graft.query.QueryFrontEnd]]) reads
  * from either engine's index: the field spec, the term dictionary with its
  * driver-side memo, and the per-field BM25 stats.
  */
trait SearchableIndex {
  def fields: Seq[FieldDef]
  def termStats: org.apache.spark.sql.Dataset[TermStats]
  def statsCache: LruCache[(String, String), Option[TermStats]]
  def fieldStats: Map[String, FieldStats]
}

/** Per-field corpus statistics for BM25: number of docs with the field,
  * average field length, and the exact Σdl the average was derived from.
  * `sumDl` makes multi-generation folds exact — `open` sums longs and
  * divides once instead of reconstituting Σdl as docCount·avgdl (an FP
  * round-trip that could drift a 4th decimal after many generations).
  */
final case class FieldStats(field: String, docCount: Long, avgdl: Double, sumDl: Long)

/** Per-(doc, field) length row. */
final case class DocLength(docId: Long, field: String, dl: Int)

/** How a source column is indexed — mirrors the reference's field types
  * (couchdb/FieldType.java): TEXT = analyzed with positions; STRING = single
  * untokenized term (exact match, sortable); numeric/date = doc-value only
  * (point/range predicates, no postings).
  */
sealed trait FieldKind extends Serializable
final case class TextField(analyzer: Analyzer) extends FieldKind
case object StringField extends FieldKind

/** `indexField` is the queryable name (e.g. "default"), `source` the input
  * column it is derived from. `boost` is the index-time per-field boost
  * (reference ViewSettings.getBoost / couchdb/FieldType.java:202-205): a
  * constant multiplier carried in the index spec and folded into every
  * term weight of the field at scoring time — score-equivalent to Lucene
  * multiplying the field norm, but exact (no 1-byte norm quantization).
  */
final case class FieldDef(indexField: String, source: String, kind: FieldKind, boost: Double = 1.0)
