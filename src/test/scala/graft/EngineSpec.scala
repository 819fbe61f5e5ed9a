package graft

import org.apache.spark.sql.functions._

import graft.analysis.Analyzers
import graft.index.{FieldDef, IndexBuilder, SegmentSearcher, SegmentStore, StringField, TextField}
import graft.query.{QueryParser, SearchOptions, Searcher}

/** Engine glue invariants + highlight behavior. */
class EngineSpec extends SparkSpec {

  val sfDir = "/root/testdata/sf0.001"

  test("documents corpus property: Standard analyzer ≡ the oracle's regex tokenizer") {
    // FtOracle assumes regexp_extract_all(lower(text),'[a-z0-9]+') minus the
    // stop set equals the Standard token stream — assert it on the real corpus.
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text")).collect().map(_.getString(0))
    texts.foreach { t =>
      val viaAnalyzer = Analyzers.Standard.tokens(t)
      val viaRegex = "[a-z0-9]+".r.findAllIn(t.toLowerCase).zipWithIndex
        .map { case (w, i) => graft.analysis.Token(w, i) }
        .filterNot(tok => Analyzers.EnglishStopWords.contains(tok.term)).toVector
      assert(viaAnalyzer === viaRegex)
    }
  }

  test("documents corpus property: single-space canonical (highlight-oracle offsets)") {
    // the ft_highlight oracle computes character offsets as cumulative
    // word-length sums — exact only when text == words joined by ONE space
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text")).collect().map(_.getString(0))
    texts.foreach { t =>
      assert(t === t.split(" ").mkString(" ") && !t.startsWith(" ") && !t.endsWith(" "))
    }
  }

  test("flagship entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("per-query analyzer override changes the match set on both paths (?analyzer=)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val fields = Seq(FieldDef("default", "text", TextField(Analyzers.Whitespace)))
    val idx = IndexBuilder.build(docs, "doc_id", fields)
    val plain = new Searcher(idx, SearchOptions(limit = 10)).search("the merge")
      .select("docId", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val over = new Searcher(idx, SearchOptions(limit = 10, analyzer = Some("standard")))
      .search("the merge")
      .select("docId", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(plain !== over) // "the" is a live whitespace-index term; override drops it
    // segment path agrees with the DataFrame path under the same override
    val dir = java.nio.file.Files.createTempDirectory("graft-override").toString
    SegmentStore.build(docs, "doc_id", fields, dir, docsPerShard = 64)
    val segIdx = SegmentStore.open(spark, dir)
    val seg = new SegmentSearcher(segIdx, SearchOptions(limit = 10, analyzer = Some("standard")))
      .topK("the merge")
    assert(seg.map(_._1) === over.map(_._1))
    seg.map(_._2).zip(over.map(_._2)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("multi-valued fields: string arrays fold tf/dl, text arrays continue positions (gap 0)") {
    import spark.implicits._
    val docs = Seq(
      (0L, Seq("red", "blue", "red"), Seq("hello world", "again hello")),
      (1L, Seq("green"), Seq("world")))
      .toDF("id", "tags", "chunks")
    val idx = IndexBuilder.build(docs, "id", Seq(
      FieldDef("tag", "tags", StringField),
      FieldDef("body", "chunks", TextField(Analyzers.Whitespace))))
    val byKey = idx.postings.collect().map(p => (p.field, p.term, p.docId) -> p).toMap
    val red = byKey(("tag", "red", 0L))
    assert(red.tf === 2 && red.positions.toSeq === Seq(0, 2) && red.dl === 3)
    val hello = byKey(("body", "hello", 0L))
    // values analyzed as one stream: hello@0 world@1 again@2 hello@3
    assert(hello.tf === 2 && hello.dl === 4)
    // phrase spanning the element boundary (world@1, again@2) matches
    val hits = new Searcher(idx, SearchOptions(defaultField = "body"))
      .search("\"world again\"").select("docId").collect().map(_.getLong(0))
    assert(hits.toSeq === Seq(0L))
    // multi-valued string stats: df(red)=1, avgdl = (3+1)/2
    assert(idx.fieldStats("tag").avgdl === 2.0)
  }

  test("one-pass totals: observed total_rows == count() on both paths") {
    val idx = Engine.documentsIndex(spark, sfDir)
    val s = new Searcher(idx, SearchOptions(limit = 5))
    val expected = s.totalRows("spark merge")
    val (hits, obs) = s.searchWithTotal("spark merge")
    assert(hits.collect().length <= 5)
    assert(obs.get.apply("total_rows").asInstanceOf[Long] === expected)
    val segIdx = Engine.segmentIndex(spark, sfDir)
    val (segHits, segTotal) =
      new SegmentSearcher(segIdx, SearchOptions(limit = 5)).topKWithTotal("spark merge")
    assert(segHits.length <= 5)
    assert(segTotal === expected)
  }

  test("highlights: fragments wrap query terms, min length 18, n respected") {
    // both engines take the terms from the shared plan: a multi-term query
    // highlights its expansions (as Lucene's highlighters rewrite them)
    val opts = SearchOptions(limit = 3, highlights = 2, highlightLength = 40)
    val s = new Searcher(Engine.documentsIndex(spark, sfDir), opts)
    val seg = new SegmentSearcher(Engine.segmentIndex(spark, sfDir), opts)
    def frags(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.select("docId", "highlights").collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    Seq("spark merge" -> Seq("<em>spark</em>", "<em>merge</em>"), "sp*" -> Seq("<em>sp")).foreach {
      case (q, marks) =>
        val rows = frags(s.search(q))
        assert(rows.nonEmpty, s"q=$q")
        rows.values.foreach { fr =>
          assert(fr.nonEmpty && fr.length <= 2, s"q=$q")
          assert(fr.exists(f => marks.exists(f.contains)), s"q=$q: $fr")
          fr.foreach(f => assert(f.replaceAll("</?em>", "").length >= 18))
        }
        assert(frags(seg.searchEnvelope(q)) === rows, s"q=$q")
    }
  }

  test("clearCaches drops the schema memos: a rewritten table shows its new column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    val path = s"$dir/documents.parquet"
    val docs = Seq((1L, "alpha beta", "en", "src1")).toDF("doc_id", "text", "lang", "source")
    docs.write.parquet(path)
    assert(!Engine.documentsIndex(spark, dir).docs.columns.contains("n_chars"))
    docs.withColumn("n_chars", lit(10L)).write.mode("overwrite").parquet(path)
    Engine.clearCaches()
    assert(Engine.documentsIndex(spark, dir).docs.columns.contains("n_chars"))
    Engine.clearCaches()
  }

  test("highlighter unit behavior") {
    val fr = graft.query.Highlighter.fragments(
      "Paxos made simple is a paper about paxos consensus", Seq("paxos"), 2, 20)
    assert(fr.length === 2)
    assert(fr.head.startsWith("<em>Paxos</em>"))
    // word-boundary: no partial-word wraps (fragLen covers the whole text)
    val fr2 = graft.query.Highlighter.fragments("sparks spark", Seq("spark"), 1, 30)
    assert(fr2.head === "sparks <em>spark</em>")
  }

  test("edge cases: stop-word-only, unknown-term, and over-skip queries return empty") {
    val idx = Engine.documentsIndex(spark, sfDir)
    val s = new Searcher(idx, SearchOptions(limit = 10))
    assert(s.search("the").count() === 0) // analyzer drops the clause (Lucene null query)
    assert(s.search("zzzznotaterm").count() === 0)
    assert(s.search("the AND of").count() === 0)
    // skip beyond the hit count → empty page, no error
    val far = new Searcher(idx, SearchOptions(limit = 10, skip = 100000))
    assert(far.search("dup").count() === 0)
    // MUST_NOT-only queries match nothing (Lucene semantics)
    assert(s.search("-dup").count() === 0)
    // unknown term under AND kills the conjunction
    assert(s.search("dup AND zzzznotaterm").count() === 0)
    // segment path agrees
    val seg = new graft.index.SegmentSearcher(Engine.segmentIndex(spark, sfDir))
    assert(seg.topK("the").isEmpty)
    assert(seg.topK("dup AND zzzznotaterm").isEmpty)
  }

  test("rewriteDebug exposes per-term df (reference ?rewrite=true)") {
    val idx = Engine.documentsIndex(spark, sfDir)
    val s = new Searcher(idx)
    val dfs = s.rewriteDebug("spark merge")
    assert(dfs.keySet === Set(("default", "spark"), ("default", "merge")))
    assert(dfs.values.forall(_ > 0))
  }

  test("sort spec round-trips through search options (reference ?sort=)") {
    val sorts = QueryParser.parseSort("\\n_chars<long>,/source")
    assert(sorts.head.field === "n_chars" && !sorts.head.ascending)
    val idx = Engine.documentsIndex(spark, sfDir)
    val s = new Searcher(idx, SearchOptions(limit = 5, sort = sorts))
    // typed key: sort_0 is the <long> cast (double ordering column);
    // sort_order carries both keys rendered as strings (round 5)
    val rows = s.search("spark").orderBy(col("rank"))
      .select(col("sort_0"), col("sort_order")).collect()
      .map(r => (r.getDouble(0), r.getSeq[String](1)))
    assert(rows.map(_._1).toSeq === rows.map(_._1).sortBy(-_).toSeq)
    rows.foreach { case (k, so) =>
      assert(so.length === 2)
      assert(so.head === k.toLong.toString)
    }
  }
}
