package graft

import org.apache.spark.sql.functions._

import graft.analysis.Analyzers
import graft.data.TranscriptGen
import graft.index._
import graft.query._

/** The correctness gate of BASELINE.json: the distributed engine's BM25
  * top-k must be rank-identical (docIDs + scores) to the single-threaded
  * oracle on the reference query set (FIXTURES.md §2).
  */
class RankIdentitySpec extends SparkSpec {

  private val NumConvs = 120L

  lazy val fields = Seq(
    FieldDef("default", "text", TextField(Analyzers.Standard)),
    FieldDef("role", "role", StringField),
    FieldDef("tool", "tool", StringField))

  lazy val withIds =
    DocIds.assign(TranscriptGen.transcripts(spark, NumConvs).toDF(), Seq("conv_id", "turn_idx"), "docId", 8)

  lazy val (engineIndex, oracle) = {
    val idx = IndexBuilder.build(withIds, "docId", Seq(
      FieldDef("default", "text", TextField(Analyzers.Standard)),
      FieldDef("role", "role", StringField),
      FieldDef("tool", "tool", StringField))).cached()
    val local = withIds.select(col("docId"), col("text"), col("role"), col("tool"))
      .collect()
      .map(r => r.getLong(0) -> Map(
        "default" -> r.getString(1),
        "role" -> r.getString(2),
        "tool" -> (if (r.isNullAt(3)) null else r.getString(3))).filter(_._2 != null))
      .toSeq
    (idx, new OracleScorer(local, fields))
  }

  /** Reference query set (FIXTURES.md §2, syntax per reference
    * README.md:342-363).
    */
  val QuerySet: Seq[String] = Seq(
    "hello",
    "paxos",
    "hello world", // boolean OR (default operator)
    "hello AND world",
    "+hello +world",
    "\"paxos made simple\"", // phrase
    "\"hello world\"",
    "role:assistant AND consensus", // field-restricted
    "tool:bash AND error",
    "role:user AND \"hello world\"", // mixed
    "hello -world", // MUST_NOT
    "consensus OR quorum",
    "lead*", // prefix (constant score)
    "quor?m", // wildcard
    "paxoss~1", // fuzzy
    "merge^2 OR shuffle", // boost
    "(hello OR world) AND retry", // nesting
    "\"hello world\"~2", // ordered sloppy phrase
    "\"paxos simple\"~1") // slop bridges the dropped middle word

  /** Interleaved MUST / SHOULD / MUST_NOT clauses, run over the documents
    * corpus where all their terms occur: every engine sums MUST scores
    * before SHOULD scores (BoolScorer's order).
    */
  val InterleavedSet: Seq[String] = Seq(
    "spark +merge dup",
    "dup -spark merge",
    "+\"merge batch\" sp*")

  private def engineTopK(q: String, k: Int = 10, defaultAnd: Boolean = false): Seq[(Long, Double)] = {
    val s = new Searcher(engineIndex, SearchOptions(limit = k, defaultOperatorAnd = defaultAnd))
    s.search(q).select("docId", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  /** One corpus under the three scorers: DataFrame path, segment path, oracle. */
  private final case class Corpus(df: TextIndex, seg: SegmentIndex, oracle: OracleScorer)

  private lazy val transcripts = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rank-seg").toString
    SegmentStore.build(withIds, "docId", fields, dir, docsPerShard = 257)
    Corpus(engineIndex, SegmentStore.open(spark, dir).cached(), oracle)
  }

  private lazy val documents = {
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source")).collect()
      .map(r => r.getLong(0) -> Map("default" -> r.getString(1), "lang" -> r.getString(2),
        "source" -> r.getString(3)).filter(_._2 != null))
      .toSeq
    Corpus(Engine.documentsIndex(spark, sfDir), Engine.segmentIndex(spark, sfDir),
      new OracleScorer(docs, Engine.DocFields))
  }

  test("rank identity: engine == oracle on the reference query set") {
    def round4(hits: Seq[(Long, Double)]): Seq[(Long, Double)] = hits.map { case (d, sc) =>
      (d, BigDecimal(sc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    Seq(transcripts -> QuerySet, documents -> InterleavedSet).foreach { case (e, qs) =>
      qs.foreach { q =>
        val opts = SearchOptions(limit = 10)
        val got = new Searcher(e.df, opts).search(q).select("docId", "score").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val want = e.oracle.topK(q, 10)
        assert(got.map(_._1) === want.map(_._1), s"docID mismatch for q=$q\n got=$got\nwant=$want")
        got.zip(want).foreach { case ((_, gs), (_, ws)) =>
          assert(math.abs(gs - ws) <= 1e-9 * math.max(1.0, math.abs(ws)), s"score mismatch for q=$q: $gs vs $ws")
        }
        assert(want.nonEmpty, s"query set fixture q=$q matched nothing — fixture broken")
        // both engines score the one shared plan with one association order
        val seg = new SegmentSearcher(e.seg, opts).topK(q)
        assert(seg === got, s"segment path vs DataFrame path for q=$q")
        assert(round4(seg) === round4(want), s"segment path vs oracle for q=$q")
      }
    }
  }

  test("slop widens the match set; segment path agrees (ordered near-phrase)") {
    val s = new Searcher(engineIndex)
    val exact = s.totalRows("\"paxos simple\"")
    val sloppy = s.totalRows("\"paxos simple\"~1")
    // "paxos made simple" is injected as a fixed phrase: adjacent
    // (paxos, simple) is rare, one-gap (via dropped "made"? no — "made" is
    // not a stop word, so slop must bridge a real token) is common
    assert(sloppy > exact)
    val wantSloppy = oracle.score(oracle.bind(new QueryParser().parse("\"paxos simple\"~1"))).size
    assert(sloppy === wantSloppy.toLong)
    // unit kernel checks
    import graft.query.PhraseMatch
    assert(PhraseMatch.freq(Array(Array(0), Array(2)), 0) === 0)
    assert(PhraseMatch.freq(Array(Array(0), Array(2)), 1) === 1)
    assert(PhraseMatch.freq(Array(Array(0, 10), Array(2, 11)), 1) === 2)
    // re-ordered match: "b ... a" with adj span 3 needs slop ≥ 3 (Lucene
    // window semantics — reversal costs edit distance, not a hard reject)
    assert(PhraseMatch.freq(Array(Array(5), Array(3)), 2) === 0)
    assert(PhraseMatch.freq(Array(Array(5), Array(3)), 3) === 1)
  }

  test("default_operator=AND changes semantics (reference DatabaseIndexer.java:478-479)") {
    val or = engineTopK("hello world")
    val and = engineTopK("hello world", defaultAnd = true)
    val wantAnd = {
      val ast = oracle.bind(new QueryParser("default", true).parse("hello world"))
      oracle.score(ast).toSeq.sortBy { case (d, s) => (-s, d) }.take(10)
    }
    assert(and.map(_._1) === wantAnd.map(_._1))
    assert(or.nonEmpty && and.nonEmpty)
    // AND is strictly more selective than OR over the whole hit set
    val orTotal = new Searcher(engineIndex).totalRows("hello world")
    val andTotal = new Searcher(engineIndex, SearchOptions(defaultOperatorAnd = true)).totalRows("hello world")
    assert(andTotal < orTotal)
  }

  test("skip/limit pagination slices the same ranking (reference DatabaseIndexer.java:515-543)") {
    val all = engineTopK("hello world", k = 20)
    val s = new Searcher(engineIndex, SearchOptions(limit = 5, skip = 5))
    val page = s.search("hello world").select("docId").collect().map(_.getLong(0)).toSeq
    assert(page === all.map(_._1).slice(5, 10))
  }

  test("total_rows matches oracle hit count (reference DatabaseIndexer.java:638)") {
    val s = new Searcher(engineIndex)
    val want = oracle.score(oracle.bind(new QueryParser().parse("hello world"))).size
    assert(s.totalRows("hello world") === want.toLong)
  }

  test("field sort returns score-computed rows in field order (reference CustomQueryParser.java:41-68)") {
    val s = new Searcher(engineIndex, SearchOptions(limit = 10, sort = QueryParser.parseSort("/role,\\_doc")))
    val rows = s.search("hello").select("sort_0", "docId").collect()
    val roles = rows.map(_.getString(0)).toSeq
    assert(roles === roles.sorted)
    val perRole = rows.groupBy(_.getString(0)).values
    perRole.foreach { grp =>
      val ids = grp.map(_.getLong(1)).toSeq
      assert(ids === ids.sortBy(-_)) // \_doc desc within role
    }
  }
}
