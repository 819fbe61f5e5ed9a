package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.analysis.Analyzers
import graft.data.TranscriptGen
import graft.index._
import graft.query.{SearchOptions, Searcher}

/** Segment (compressed, doc-sharded, WAND) path ≡ DataFrame path ≡ oracle,
  * plus staged-build resumability (SURVEY.md §5.2 items 3–5).
  */
class SegmentSpec extends SparkSpec {

  private val fields = Seq(
    FieldDef("default", "text", TextField(Analyzers.Standard)),
    FieldDef("role", "role", StringField),
    FieldDef("tool", "tool", StringField))

  private lazy val docs = {
    val turns = TranscriptGen.transcripts(spark, 100)
    DocIds.assign(turns.toDF(), Seq("conv_id", "turn_idx"), "docId", 8).persist()
  }

  private lazy val tmp: Path = Files.createTempDirectory("graft-seg")

  private lazy val segIndex: SegmentIndex = {
    SegmentStore.build(docs, "docId", fields, tmp.toString, docsPerShard = 257)
    SegmentStore.open(spark, tmp.toString).cached()
  }

  private lazy val dfIndex = IndexBuilder.build(docs, "docId", fields).cached()

  private val queries = Seq(
    "hello", "paxos", "hello world", "hello AND world",
    "\"paxos made simple\"", "\"hello world\"",
    "role:assistant AND consensus", "tool:bash AND error",
    "hello -world", "lead*", "quor?m", "paxoss~1",
    "merge^2 OR shuffle", "(hello OR world) AND retry",
    "\"hello world\"~2", "\"paxos simple\"~1")

  test("segment path matches the DataFrame path rank-identically") {
    queries.foreach { q =>
      val seg = new SegmentSearcher(segIndex, SearchOptions(limit = 10)).topK(q)
      val df = new Searcher(dfIndex, SearchOptions(limit = 10)).search(q)
        .select("docId", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(seg.map(_._1) === df.map(_._1), s"docIds differ for q=$q")
      seg.zip(df).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)), s"score differs for q=$q: $a vs $b")
      }
    }
  }

  test("opening a dir without checkpoints/spec.tsv is an error naming the file") {
    val dir = Files.createTempDirectory("graft-seg-nospec").toString
    SegmentStore.build(docs.filter(col("docId") < 50), "docId", fields, dir, docsPerShard = 257)
    Files.delete(java.nio.file.Paths.get(s"$dir/checkpoints/spec.tsv"))
    val e = intercept[IllegalStateException](SegmentStore.open(spark, dir))
    assert(e.getMessage.contains("checkpoints/spec.tsv"), e.getMessage)
  }

  test("hot terms split across multiple runs and reassemble") {
    import spark.implicits._
    // role:user is a hot term by construction; with tiny shards it must
    // produce many SegmentRows, all disjoint and ordered
    val rows = segIndex.segments.filter($"field" === "role" && $"term" === "user")
      .collect().sortBy(_.minDoc)
    assert(rows.length > 1)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.maxDoc < b.minDoc)
      case _ =>
    }
    // df over the runs sums to the stats-table df
    val statDf = segIndex.termStats.filter($"field" === "role" && $"term" === "user")
      .head().df
    assert(rows.map(_.df).sum === statDf)
  }

  test("staged build is resumable: failpoint between stages, rerun completes identically") {
    val dir = Files.createTempDirectory("graft-resume").toString
    // segments commit first (round 5: encode is the single corpus pass;
    // stats derive from its output) — fail between them, leaving stats
    // outstanding
    intercept[RuntimeException] {
      SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 257, failAfterStage = Some("segments"))
    }
    assert(SegmentStore.stageDone(dir, "spec"))
    assert(SegmentStore.stageDone(dir, "segments"))
    assert(!SegmentStore.stageDone(dir, "stats"))
    val segMtime = Files.getLastModifiedTime(java.nio.file.Paths.get(s"$dir/checkpoints/segments.json"))
    // resume
    SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 257)
    assert(SegmentStore.stageDone(dir, "stats"))
    // completed stages were NOT recomputed
    assert(Files.getLastModifiedTime(java.nio.file.Paths.get(s"$dir/checkpoints/segments.json")) === segMtime)
    // the resumed index answers identically to the uninterrupted one
    val resumed = SegmentStore.open(spark, dir)
    queries.take(5).foreach { q =>
      val a = new SegmentSearcher(resumed, SearchOptions(limit = 10)).topK(q)
      val b = new SegmentSearcher(segIndex, SearchOptions(limit = 10)).topK(q)
      assert(a === b, s"resumed index differs for q=$q")
    }
  }

  test("typed doc-value queries + envelope run on the segment path ≡ DataFrame path (round 4)") {
    val dir = Files.createTempDirectory("graft-seg-dv").toString
    SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 257,
      storedColumns = Seq("text", "role", "turn_idx"))
    val seg = SegmentStore.open(spark, dir).cached()
    assert(seg.stored.nonEmpty)
    val dvQueries = Seq(
      "turn_idx<long>:3 AND hello",
      "turn_idx<long>:[2 TO 6] AND consensus",
      "turn_idx<long>:[2 TO 6] AND (hello OR world)",
      "hello AND -turn_idx<long>:[0 TO 3]")
    dvQueries.foreach { q =>
      val got = new SegmentSearcher(seg, SearchOptions(limit = 10)).topK(q)
      val want = new Searcher(dfIndex, SearchOptions(limit = 10)).search(q)
        .select("docId", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) === want.map(_._1), s"docIds differ for q=$q")
      got.zip(want).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)), s"score differs for q=$q")
      }
    }
    // field sort + include_fields envelope parity with Searcher.searchFrom
    val sortOpts = SearchOptions(limit = 8,
      sort = graft.query.QueryParser.parseSort("/role"), includeFields = Seq("text"))
    val gotEnv = new SegmentSearcher(seg, sortOpts).searchEnvelope("hello")
      .select(col("docId"), col("score"), col("sort_0"), col("rank"), col("text"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3), r.getString(4))).toSeq
      .sortBy(_._4)
    val wantEnv = new Searcher(dfIndex, sortOpts).search("hello")
      .select(col("docId"), col("score"), col("sort_0"), col("rank"), col("text"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3), r.getString(4))).toSeq
      .sortBy(_._4)
    assert(gotEnv.map(t => (t._1, t._3, t._4, t._5)) === wantEnv.map(t => (t._1, t._3, t._4, t._5)))
    gotEnv.zip(wantEnv).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) <= 1e-9 * math.max(1.0, math.abs(b._2)))
    }
    // doc-value-only query (no posting clause): served from the sidecar
    val dvOnly = new SegmentSearcher(seg, SearchOptions(limit = 5)).topK("turn_idx<long>:0")
    val dfOnly = new Searcher(dfIndex, SearchOptions(limit = 5)).search("turn_idx<long>:0")
      .select("docId", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(dvOnly === dfOnly)
  }

  test("doc-value query without the stored sidecar: segment path raises, DataFrame path answers") {
    val sfDir = "/root/testdata/sf0.001"
    val q = "n_chars<long>:132 AND dup"
    val dir = Files.createTempDirectory("graft-seg-nostored").toString
    SegmentStore.build(spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id",
      Engine.DocFields, dir, docsPerShard = 128)
    val e = intercept[UnsupportedOperationException](
      new SegmentSearcher(SegmentStore.open(spark, dir), SearchOptions(limit = 10)).topK(q))
    assert(e.getMessage.contains("stored sidecar"), e.getMessage)
    val want = new SegmentSearcher(Engine.segmentIndex(spark, sfDir), SearchOptions(limit = 10)).topK(q)
    val got = new Searcher(Engine.documentsIndex(spark, sfDir), SearchOptions(limit = 10)).search(q)
      .select("docId", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(want.nonEmpty && got === want)
  }

  test("segment envelope: /_doc and ascending _score rank the FULL match set (round 5)") {
    import graft.query.QueryParser
    // VERDICT r4 wrong #1: the pruned per-shard score-top-k base is only
    // valid for the default (score desc) ranking — any other order must
    // score exhaustively, or the global orderBy ranks pruned survivors
    Seq("/_doc", "/_score").foreach { sortSpec =>
      val opts = SearchOptions(limit = 10, sort = QueryParser.parseSort(sortSpec))
      val got = new SegmentSearcher(segIndex, opts).searchEnvelope("hello")
        .select(col("docId"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq.sortBy(_._2)
      val want = new Searcher(dfIndex, opts).search("hello")
        .select(col("docId"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq.sortBy(_._2)
      assert(got === want, s"sort=$sortSpec")
    }
    // ground truth: the first 10 matches by docId over the FULL match set
    val all = new Searcher(dfIndex, SearchOptions(limit = 10)).scored("hello")
      .select("docId").collect().map(_.getLong(0)).sorted.take(10).toSeq
    val env = new SegmentSearcher(segIndex,
      SearchOptions(limit = 10, sort = QueryParser.parseSort("/_doc")))
      .searchEnvelope("hello")
      .orderBy(col("rank")).select(col("docId")).collect().map(_.getLong(0)).toSeq
    assert(env === all)
  }

  test("typed sort key casts a string-encoded numeric column; sort_order emitted (round 5)") {
    import spark.implicits._
    import graft.query.QueryParser
    val docs2 = Seq((1L, "alpha beta", "9"), (2L, "alpha beta", "10"), (3L, "alpha beta", "2"))
      .toDF("docId", "text", "nstr")
    val fld = Seq(FieldDef("default", "text", TextField(Analyzers.Standard)))
    val idx = IndexBuilder.build(docs2, "docId", fld)
    // untyped: native (string) order — "10" < "2" < "9"
    val untyped = new Searcher(idx, SearchOptions(limit = 3, sort = QueryParser.parseSort("/nstr")))
      .search("alpha").orderBy(col("rank")).select("docId").collect().map(_.getLong(0)).toSeq
    assert(untyped === Seq(2L, 3L, 1L))
    // typed <int>: numeric order 2 < 9 < 10, sort_order rendered as longs
    val typed = new Searcher(idx, SearchOptions(limit = 3, sort = QueryParser.parseSort("/nstr<int>")))
      .search("alpha").orderBy(col("rank"))
      .select(col("docId"), col("sort_order")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).head)).toSeq
    assert(typed.map(_._1) === Seq(3L, 1L, 2L))
    assert(typed.map(_._2) === Seq("2", "9", "10"))
    // same through the segment path's stored sidecar
    val dir = Files.createTempDirectory("graft-seg-typed").toString
    SegmentStore.build(docs2, "docId", fld, dir, docsPerShard = 2, storedColumns = Seq("nstr"))
    val seg = SegmentStore.open(spark, dir).cached()
    val segTyped = new SegmentSearcher(seg,
      SearchOptions(limit = 3, sort = QueryParser.parseSort("/nstr<int>")))
      .searchEnvelope("alpha").orderBy(col("rank"))
      .select(col("docId"), col("sort_order")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).head)).toSeq
    assert(segTyped === typed)
  }

  test("segment path multiSearch and rewriteDebug compose over the envelope (round 5)") {
    val ss = new SegmentSearcher(segIndex, SearchOptions(limit = 5))
    val byQid = ss.multiSearch("hello,paxos AND consensus")
      .select(col("qid"), col("docId"), col("rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq.groupBy(_._1)
    assert(byQid.keySet === Set(0, 1))
    Seq(("hello", 0), ("paxos AND consensus", 1)).foreach { case (q, qid) =>
      val solo = ss.searchEnvelope(q).orderBy(col("rank"))
        .select(col("docId")).collect().map(_.getLong(0)).toSeq
      assert(byQid(qid).sortBy(_._3).map(_._2) === solo, s"q=$q")
    }
    val dfs = ss.rewriteDebug("hello world")
    val want = new Searcher(dfIndex, SearchOptions(limit = 5)).rewriteDebug("hello world")
    assert(dfs === want)
    // an all-empty q parameter fails loudly, not with `empty.reduce`
    Seq("", " , ,").foreach { bad =>
      val e = intercept[IllegalArgumentException](ss.multiSearch(bad))
      assert(e.getMessage.contains("at least one query"))
      val e2 = intercept[IllegalArgumentException](
        new Searcher(dfIndex, SearchOptions(limit = 5)).multiSearch(bad))
      assert(e2.getMessage.contains("at least one query"))
    }
  }

  test("per-partition lineage rows with row/term/byte metrics exist and reconcile") {
    import spark.implicits._
    segIndex // force build
    val lineage = SegmentStore.readLineage(tmp.toString)
    assert(lineage.nonEmpty)
    assert(lineage.forall(_.stage == "segments"))
    assert(lineage.forall(l => l.rowsIn > 0 && l.rowsOut > 0 && l.bytesOut > 0))
    // total postings in == total postings tokenized
    val totalPostings = IndexBuilder.tokenizePostings(docs, "docId", fields).count()
    assert(lineage.map(_.rowsIn).sum === totalPostings)
    // checkpoints carry metrics
    val ckpt = Files.readString(java.nio.file.Paths.get(s"$tmp/checkpoints/segments.json"))
    assert(ckpt.contains("segmentRows") && ckpt.contains("postingBytes"))
  }

  test("fused tokenize→mini-run path ≡ posting-stream combine, row for row (round 6)") {
    // exercise TEXT, scalar STRING, and multi-valued STRING sources
    val aug = docs
      .withColumn("words", split(col("text"), " "))
      .persist()
    val f2 = fields :+ FieldDef("word", "words", StringField)
    def key(r: SegmentRow) = (r.shard, r.field, r.term, r.minDoc)
    def canon(rows: Seq[SegmentRow]) = rows.sortBy(key).map(r =>
      (r.shard, r.field, r.term, r.df, r.cf, r.minDoc, r.maxDoc, r.bytes,
        r.blocks.map(b => (b.firstDoc, b.lastDoc, b.count, b.maxTf, b.maxTfNorm, b.encAvgdl,
          b.minPos, b.maxPos,
          b.docBytes.toSeq, b.tfBytes.toSeq, b.dlBytes.toSeq, b.posBytes.toSeq))))
    // a narrow shard spec, and one wider than Int.MaxValue (every doc in
    // shard 0, offsets still Int-sized)
    Seq(257L, 5000000000L).foreach { dps =>
      val fused = SegmentStore.encodeRuns(
        IndexBuilder.tokenizeMiniRuns(aug, "docId", f2, dps), None, None, dps).collect().toSeq
      val streamed = SegmentStore.encodeSegments(
        IndexBuilder.tokenizePostings(aug, "docId", f2), dps).collect().toSeq
      assert(canon(fused) === canon(streamed), s"docsPerShard = $dps")
      assert(fused.exists(_.term == IndexBuilder.DlMarker), s"no marker rows at docsPerShard = $dps")
    }
    aug.unpersist()
  }

  test("wide shard spec with a docId offset past Int.MaxValue inside its shard is rejected") {
    import spark.implicits._
    // sparse ids under a 5e9-doc shard: doc 3e9 lies 3e9 into shard 0, past
    // the Int offsets the marker fold indexes by
    val sparse = Seq((0L, "alpha beta"), (1L, "beta gamma"), (3000000000L, "alpha gamma"))
      .toDF("docId", "text")
    val dir = Files.createTempDirectory("graft-seg-sparse").toString
    val e = intercept[Exception](SegmentStore.build(sparse, "docId",
      Seq(FieldDef("default", "text", TextField(Analyzers.Standard))), dir, docsPerShard = 5000000000L))
    def causes(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: causes(t.getCause)
    val iae = causes(e).collectFirst { case x: IllegalArgumentException => x }
    assert(iae.exists(_.getMessage.contains(s"<= Int.MaxValue (${Int.MaxValue})")), e.toString)
    assert(!SegmentStore.stageDone(dir, "segments"))
  }

  /** Tasks run by the jobs `f` starts (listener bus drained both sides). */
  private def tasksOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.GraftListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  // docsPerShard 257 gives at least defaultParallelism (4) shards over the
  // fixture; docsPerShard = half the corpus gives two
  Seq("shards >= defaultParallelism" -> (() => 257L),
      "fewer shards than defaultParallelism" -> (() => docs.count() / 2 + 1)).foreach {
    case (shape, dpsOf) =>
      test(s"serving cache places shard s in partition s % P, one task per partition ($shape)") {
        val dps = dpsOf()
        val dir = Files.createTempDirectory("graft-seg-place").toString
        SegmentStore.build(docs, "docId", fields, dir, docsPerShard = dps)
        val raw = SegmentStore.open(spark, dir)
        val shards = raw.segments.select("shard").distinct().count().toInt
        val par = spark.sparkContext.defaultParallelism
        assert(if (dps == 257L) shards >= par else shards < par, s"$shards shards")
        val p = math.min(shards, par)
        val idx = raw.cached()
        try {
          val placed = idx.segments.rdd
            .mapPartitionsWithIndex((pid, it) => Iterator.single(pid -> it.map(_.shard).toSet))
            .collect().toMap
          assert(placed.size === p)
          assert(placed.forall(_._2.nonEmpty), s"empty serving partition: $placed")
          placed.foreach { case (pid, ss) => assert(ss.forall(_ % p == pid), s"partition $pid holds $ss") }
          assert(placed.values.flatten.size === shards)

          val cachedS = new SegmentSearcher(idx, SearchOptions(limit = 10))
          val rawS = new SegmentSearcher(raw, SearchOptions(limit = 10))
          cachedS.search("hello world").collect() // warm: plan memo + stats
          assert(tasksOf(cachedS.search("hello world").collect()) === p)
          queries.foreach { q =>
            assert(cachedS.topK(q) === rawS.topK(q), s"top-k differs for q=$q")
            assert(cachedS.topKWithTotal(q) === rawS.topKWithTotal(q), s"totals differ for q=$q")
          }
          // tombstones route the cached index through the co-group branch
          SegmentStore.deleteDocs(spark, dir, rawS.topK("hello").take(3).map(_._1))
          val tomb = Some(SegmentStore.deletedDocsDF(spark, dir))
          Seq("hello", "hello world", "hello AND world").foreach { q =>
            val a = new SegmentSearcher(idx, SearchOptions(limit = 10), tomb).topK(q)
            val b = new SegmentSearcher(raw, SearchOptions(limit = 10), tomb).topK(q)
            assert(a === b, s"tombstoned top-k differs for q=$q")
          }
        } finally idx.unpersist(blocking = true)
      }
  }
}
