package graft.index

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** The in-memory (DataFrame-level) form of an index over one corpus:
  * postings + stats + the stored-document table. This is the Catalyst-native
  * query surface; the compressed segment form (delta+VByte+skip, for the
  * 100 TB path) is built from `postings` by [[SegmentWriter]].
  */
final case class TextIndex(
    postings: Dataset[Posting],
    docs: DataFrame, // stored fields, includes docIdCol
    termStats: Dataset[TermStats],
    fieldStatsFn: () => Map[String, FieldStats],
    docIdCol: String,
    fields: Seq[FieldDef],
    /** The persisted tokenize output (postings + dl markers) that
      * `postings`, `termStats` and the field stats derive from.
      */
    tokenized: Dataset[Posting]) extends SearchableIndex {

  /** Per-field corpus stats, computed on FIRST use (round 6): a doc-value
    * query (typed point/range over the stored table) touches neither
    * postings nor stats — eager stats forced a full tokenize+collect of the
    * corpus at build for queries that never score a term.
    */
  @transient lazy val fieldStats: Map[String, FieldStats] = fieldStatsFn()

  /** Driver-side memo of term statistics: each distinct query term costs one
    * filtered scan of the (cached) stats table once, then is served from the
    * map — the analog of Lucene's per-reader TermStates cache. LRU-bounded
    * so an open-ended query vocabulary can't grow driver memory forever.
    */
  @transient lazy val statsCache: LruCache[(String, String), Option[TermStats]] =
    new LruCache(65536)

  /** Pin the hot tables in memory for repeated queries (search service mode).
    *
    * Postings are sorted by (field, term) within partitions BEFORE the
    * persist (round 6) — the same discipline [[SegmentIndex.cached]] already
    * applies: the columnar cache keeps per-batch min/max stats, so a term
    * query decompresses only the few batches whose [min, max] term range
    * covers it instead of scanning the whole cached index on EVERY query
    * (the dominant per-query cost of the DataFrame path — each search was a
    * full 500k-row cache scan per referenced term). One-time sort at cache
    * fill, amortized over every query served.
    */
  def cached(): TextIndex = {
    copy(postings = postings.sortWithinPartitions("field", "term").persist(),
      docs = docs.persist(), termStats = termStats.persist())
  }

  /** Release what [[IndexBuilder.build]] and [[cached]] pinned, dependents
    * before the tokenize output they read. A no-op once the session's
    * SparkContext has stopped — its storage went with it.
    */
  def unpersist(blocking: Boolean): Unit =
    if (!docs.sparkSession.sparkContext.isStopped) {
      postings.unpersist(blocking)
      termStats.unpersist(blocking)
      tokenized.unpersist(blocking)
      docs.unpersist(blocking)
    }
}

/** Builds the inverted index from a document table — the Spark-first
  * re-expression of the reference's indexing dataflow (SURVEY.md §2.2/§2.5;
  * reference loop: DatabaseIndexer.java:293-384 feeding Lucene's
  * IndexWriter).
  *
  * Plan shape (scale notes):
  *  - tf/positions/dl are computed *inside the tokenize flatMap* — each
  *    (field, term, docId) posting comes from exactly one source row, so
  *    posting construction needs NO shuffle at all; the only wide exchanges
  *    in the whole build are the small stats aggregations and the
  *    range-partitioned term shuffle when writing compressed segments.
  *  - term stats use an explicit salted two-phase aggregation: hot terms
  *    (role:/tool: values, stop-adjacent words) are first combined per
  *    (term, salt) so no single reducer receives a hot term's full posting
  *    stream (north rule: skew handled explicitly).
  */
object IndexBuilder {

  val K1 = 1.2
  val B = 0.75

  /** BM25 idf, Lucene 6.4.1 default similarity (SURVEY.md §2.7):
    * ln(1 + (N - df + 0.5) / (df + 0.5)).
    */
  def idf(df: Long, n: Long): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** BM25 term score for one posting — the expression shape (association
    * order) is kept identical across the DataFrame path (Searcher.bm25Col),
    * the segment scorer, and the test oracle so all paths produce
    * bit-identical doubles.
    */
  def bm25(tf: Double, idf: Double, dl: Double, avgdl: Double): Double =
    idf * tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + (B / avgdl) * dl))

  /** Synthetic per-(doc, field) marker row carrying the field length — lets
    * field stats fall out of the same tokenize pass with a #fields-row
    * shuffle instead of a doc-level one. The empty term is unreachable by
    * any analyzer, so markers can never collide with a real posting.
    */
  val DlMarker = ""

  /** The tokenize input shared by both tokenize passes: the doc id as a
    * long, then one column per field, plus the indices of multi-valued
    * STRING fields.
    *
    * Multi-valued sources (ArrayType columns): the reference folds repeated
    * `add()`s of one field into a single multi-valued Lucene field whose
    * positions continue across values (DatabaseIndexer.java:571-584,
    * rhino/RhinoDocument.java:64-117; Lucene's default position-increment
    * gap is 0). TEXT fields therefore analyze the values as one
    * space-joined stream (done in the `select` — the hot tokenize loop is
    * untouched); STRING fields index each element as an exact term with
    * tf = equal-element count and dl = element count.
    */
  private def tokenizeInput(
      docs: DataFrame, docIdCol: String, fields: Seq[FieldDef]): (DataFrame, Set[Int]) = {
    val schema = docs.schema
    def isArraySource(f: FieldDef): Boolean =
      schema.fields.find(_.name == f.source).exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    val arrayString: Set[Int] = fields.zipWithIndex.collect {
      case (f, i) if f.kind == StringField && isArraySource(f) => i
    }.toSet
    val cols = col(docIdCol).cast(LongType) +: fields.zipWithIndex.map { case (f, i) =>
      if (isArraySource(f)) {
        val arr = col(f.source).cast(org.apache.spark.sql.types.ArrayType(StringType))
        // empty-string elements are dropped like nulls: term "" would collide
        // with the DlMarker sentinel, double-counting the doc in field stats
        // and vanishing from termstats (ADVICE r3) — empty means absent
        if (arrayString(i)) filter(arr, x => x.isNotNull && x =!= lit(""))
        else array_join(arr, " ") // null elements skipped, like null scalars
      } else col(f.source).cast(StringType)
    }
    (docs.select(cols: _*), arrayString)
  }

  /** Receives one document's term runs from [[DocTokenizer.addDoc]]. A
    * run's positions are the slice `positions(from until from + tf)` of an
    * array the tokenizer reuses: a sink copies what it keeps.
    */
  private[index] trait RunSink {
    def run(field: Int, term: String, docId: Long, tf: Int, dl: Int, positions: Array[Int], from: Int): Unit

    /** Called once per (doc, field) that emitted ≥ 1 run; `dl` is the field length. */
    def fieldEnd(field: Int, docId: Long, dl: Int): Unit = ()
  }

  /** The per-document field loop shared by both tokenize passes: each
    * field's term runs in ascending term order, then `fieldEnd`. One per
    * task — the reusable (term, pos) buffer means no Token objects, no
    * ArrayBuffer growth and no TimSort scratch in the build's hottest loop
    * (per-doc allocation was the 4-core scaling limiter — see
    * analysis.TokenBuffer).
    */
  private final class DocTokenizer(fields: Seq[FieldDef], arrayString: Set[Int]) {
    private val nFields = fields.length
    private val isArrayString = Array.tabulate(nFields)(arrayString)
    private val analyzers: Array[graft.analysis.Analyzer] = fields.map {
      case FieldDef(_, _, TextField(a), _) => a
      case _ => null
    }.toArray
    private val buf = new graft.analysis.TokenBuffer(256)
    /** The one position of a scalar STRING field's term. */
    private val ZeroPosition = Array(0)

    def addDoc(row: org.apache.spark.sql.Row, sink: RunSink): Unit = {
      val docId = row.getLong(0)
      var i = 0
      while (i < nFields) {
        if (!row.isNullAt(i + 1)) {
          if (isArrayString(i)) {
            val elems = row.getSeq[String](i + 1)
            val m = elems.length
            if (m > 0) {
              elems.zipWithIndex.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (term, occ) =>
                sink.run(i, term, docId, occ.length, m, occ.map(_._2).toArray, 0)
              }
              sink.fieldEnd(i, docId, m)
            }
          } else if (analyzers(i) == null) {
            // scalar STRING; empty string ≡ absent (it IS the DlMarker
            // sentinel — see the array note in tokenizeInput)
            val v = row.getString(i + 1)
            if (!v.isEmpty) {
              sink.run(i, v, docId, 1, 1, ZeroPosition, 0)
              sink.fieldEnd(i, docId, 1)
            }
          } else {
            buf.clear()
            analyzers(i).tokensInto(row.getString(i + 1), buf)
            val dl = buf.len
            if (dl > 0) {
              // sort-based run grouping (no per-doc HashMap churn)
              buf.sort()
              val terms = buf.terms
              val poss = buf.poss
              var s = 0
              while (s < dl) {
                var e = s + 1
                while (e < dl && terms(e) == terms(s)) e += 1
                sink.run(i, terms(s), docId, e - s, dl, poss, s)
                s = e
              }
              sink.fieldEnd(i, docId, dl)
            }
          }
        }
        i += 1
      }
    }
  }

  /** One corpus scan emitting real postings AND dl marker rows — the
    * DataFrame engine's input ([[build]]); the segment build never ships
    * markers (see [[SegmentStore.encodeRuns]]).
    */
  def tokenizePostingsWithMarkers(docs: DataFrame, docIdCol: String, fields: Seq[FieldDef]): Dataset[Posting] = {
    import docs.sparkSession.implicits._
    val (input, arrayString) = tokenizeInput(docs, docIdCol, fields)
    val names = fields.map(_.indexField).toArray
    val emptyPos = Array.empty[Int]
    input.mapPartitions { rows =>
      val tok = new DocTokenizer(fields, arrayString)
      var out: ArrayBuffer[Posting] = null
      val sink = new RunSink {
        def run(i: Int, term: String, docId: Long, tf: Int, dl: Int, p: Array[Int], from: Int): Unit =
          out += Posting(names(i), term, docId, tf, java.util.Arrays.copyOfRange(p, from, from + tf), dl)
        override def fieldEnd(i: Int, docId: Long, dl: Int): Unit =
          out += Posting(names(i), DlMarker, docId, dl, emptyPos, dl)
      }
      rows.flatMap { row =>
        out = new ArrayBuffer[Posting](16)
        tok.addDoc(row, sink)
        out.iterator
      }
    }
  }

  /** FUSED tokenize → map-side posting combine (round 6): one loop per
    * partition that tokenizes each document and appends its term runs
    * straight into per-term [[SegmentStore.RunBuf]]s, emitting
    * [[SegmentStore.MiniRun]] rows per shard — the input to
    * [[SegmentStore.encodeRuns]], for any docsPerShard. A run's positions
    * go from the tokenizer's reused buffer into the term's VByte run stream
    * with no array in between: a mini-run row is its key, its first docId,
    * its posting count and one byte payload.
    *
    * The combine happens before the shuffle, as Lucene flushes in-RAM
    * postings and merges the flushed segments: the exchange ships one row
    * per term per flush window (vocab-sized, not corpus-sized), and the
    * encode side sorts run keys, not postings (a shuffle of one row per
    * posting, sorted per posting inside the encode, cost three quarters of
    * the encode stage at 4 cores / 613k turns). No object per posting and
    * no per-document output buffer are made. Emits NO dl-marker rows: the
    * encode tasks reconstruct them.
    *
    * Flush granularity: a mini-run window closes at a shard boundary (docs
    * arrive docId-ascending from [[DocIds.assign]], so shards are monotonic
    * per partition) or at [[SegmentStore.FlushPostings]] buffered runs —
    * the Lucene flush-by-RAM bound. Unordered input stays CORRECT (RunBuf
    * splits a term's unsorted postings into ascending mini-runs, and the
    * encode merge sorts overlapping ones) but flushes more often.
    */
  def tokenizeMiniRuns(
      docs: DataFrame,
      docIdCol: String,
      fields: Seq[FieldDef],
      docsPerShard: Long): Dataset[SegmentStore.MiniRun] = {
    import docs.sparkSession.implicits._
    val (input, arrayString) = tokenizeInput(docs, docIdCol, fields)
    val nFields = fields.length
    val fieldNames = fields.map(_.indexField).toArray
    input.mapPartitions { rows =>
      val src = rows.buffered
      new Iterator[SegmentStore.MiniRun] with RunSink {
        private val tok = new DocTokenizer(fields, arrayString)
        private val bufs: Array[java.util.HashMap[String, SegmentStore.RunBuf]] =
          Array.fill(nFields)(new java.util.HashMap[String, SegmentStore.RunBuf]())
        private var curShard = -1
        private var nBuffered = 0
        private var out: Iterator[SegmentStore.MiniRun] = Iterator.empty

        def run(i: Int, term: String, docId: Long, tf: Int, dl: Int, p: Array[Int], from: Int): Unit = {
          val m = bufs(i)
          var b = m.get(term)
          if (b == null) { b = new SegmentStore.RunBuf(curShard, fieldNames(i), term); m.put(term, b) }
          b.add(docId, tf, dl, p, from)
          nBuffered += 1
        }

        private def drain(): Iterator[SegmentStore.MiniRun] = {
          val acc = new ArrayBuffer[SegmentStore.MiniRun](bufs.iterator.map(_.size).sum)
          var i = 0
          while (i < nFields) {
            val it = bufs(i).values().iterator()
            while (it.hasNext) acc ++= it.next().runs
            bufs(i).clear()
            i += 1
          }
          nBuffered = 0
          acc.iterator
        }

        private def refill(): Unit = {
          curShard = (src.head.getLong(0) / docsPerShard).toInt
          while (src.hasNext && nBuffered < SegmentStore.FlushPostings &&
            (src.head.getLong(0) / docsPerShard).toInt == curShard) {
            tok.addDoc(src.next(), this)
          }
          out = drain()
        }

        def hasNext: Boolean = {
          while (!out.hasNext && src.hasNext) refill()
          out.hasNext
        }
        def next(): SegmentStore.MiniRun = out.next()
      }
    }
  }

  /** Field stats from the dl marker rows: partial agg collapses each
    * partition to #fields rows before the (trivial) shuffle.
    */
  def fieldStatsFromMarkers(withMarkers: Dataset[Posting]): DataFrame = {
    val spark = withMarkers.sparkSession
    import spark.implicits._
    withMarkers.filter(_.term == DlMarker).toDF()
      .groupBy($"field")
      .agg(count(lit(1)).as("docCount"), avg($"dl").as("avgdl"),
        sum($"dl").cast("long").as("sumDl"))
  }

  /** Salted two-phase term statistics: partial (term, salt) combine, then
    * final merge — no reducer ever sees a hot term's full stream.
    */
  def termStats(postings: Dataset[Posting], saltBuckets: Int = 16): Dataset[TermStats] = {
    val spark = postings.sparkSession
    import spark.implicits._
    postings
      .groupBy($"field", $"term", pmod(hash($"docId"), lit(saltBuckets)).as("salt"))
      .agg(count(lit(1)).as("pdf"), sum($"tf").as("pcf"))
      .groupBy($"field", $"term")
      .agg(sum($"pdf").as("df"), sum($"pcf").as("cf"))
      .as[TermStats]
  }

  /** Build the full index over `docs`. `docs` must already carry a stable
    * Long doc id (use [[DocIds.assign]] when the source has none).
    *
    * One corpus scan: postings are tokenized once and persisted; term stats
    * and field stats both aggregate the cached postings.
    */
  def build(docs: DataFrame, docIdCol: String, fields: Seq[FieldDef]): TextIndex = {
    val spark = docs.sparkSession
    import spark.implicits._
    val withMarkers = tokenizePostingsWithMarkers(docs, docIdCol, fields).persist()
    val postings = withMarkers.filter(_.term != DlMarker)
    TextIndex(postings, docs, termStats(postings),
      () => fieldStatsFromMarkers(withMarkers).as[FieldStats]
        .collect().map(f => f.field -> f).toMap,
      docIdCol, fields, withMarkers)
  }
}
