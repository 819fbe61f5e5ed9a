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

  test("opening a dir without its commit is an error naming the file") {
    val dir = Files.createTempDirectory("graft-seg-nospec").toString
    SegmentStore.build(docs.filter(col("docId") < 50), "docId", fields, dir, docsPerShard = 257)
    Files.delete(java.nio.file.Paths.get(s"$dir/checkpoints/commit.tsv"))
    val e = intercept[IllegalStateException](SegmentStore.open(spark, dir))
    assert(e.getMessage.contains("checkpoints/commit.tsv"), e.getMessage)
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

  /** Each file under `dir/sub` with its modification time. */
  private def mtimes(dir: String, sub: String): Map[String, java.nio.file.attribute.FileTime] =
    scala.util.Using.resource(Files.list(java.nio.file.Paths.get(s"$dir/$sub")))(
      _.toArray.map(_.asInstanceOf[Path])).map(p => p.getFileName.toString -> Files.getLastModifiedTime(p)).toMap

  test("a rerun of a committed build rewrites no segment file and answers identically") {
    val dir = Files.createTempDirectory("graft-resume").toString
    val n = SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 257)
    assert(SegmentStore.committed(dir))
    val segMtimes = mtimes(dir, "segments")
    assert(segMtimes.keys.exists(_.endsWith(".parquet")))
    // rerun: the committed build is a no-op that returns the committed count
    assert(SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 257) === n)
    // no segment part file was rewritten
    assert(mtimes(dir, "segments") === segMtimes)
    // the rerun index answers identically to the uninterrupted one
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
    val totalPostings = IndexBuilder.tokenizePostingsWithMarkers(docs, "docId", fields)
      .filter(_.term != IndexBuilder.DlMarker).count()
    assert(lineage.map(_.rowsIn).sum === totalPostings)
  }

  test("a built index's runs re-encode to the same rows: optimize without deletes ≡ the build") {
    // exercise TEXT, scalar STRING, and multi-valued STRING sources
    val aug = docs
      .withColumn("words", split(col("text"), " "))
      .persist()
    val f2 = fields :+ FieldDef("word", "words", StringField)
    // a narrow shard spec, and one wider than Int.MaxValue (every doc in
    // shard 0, offsets still Int-sized)
    Seq(257L, 5000000000L).foreach { dps =>
      val built = Files.createTempDirectory("graft-seg-reencode").toString
      SegmentStore.build(aug, "docId", f2, built, docsPerShard = dps)
      val optimized = Files.createTempDirectory("graft-seg-reencode-opt").toString
      SegmentStore.optimize(spark, built, optimized)
      val rows = segmentRows(optimized)
      assert(canonRows(rows) === canonRows(segmentRows(built)), s"docsPerShard = $dps")
      assert(SegmentStore.readFieldStatsGens(optimized) === SegmentStore.readFieldStatsGens(built),
        s"docsPerShard = $dps")
      assert(rows.exists(_.term == IndexBuilder.DlMarker), s"no marker rows at docsPerShard = $dps")
    }
    aug.unpersist()
  }

  test("optimize drops the runs whose every posting is deleted: ≡ a build of the surviving docs") {
    val dps = 257L
    val source = Files.createTempDirectory("graft-seg-drop-src").toString
    SegmentStore.build(docs, "docId", fields, source, docsPerShard = dps)
    // every doc of shard 1, and every doc holding tool:bash
    val doomed = (col("docId") / lit(dps)).cast("int") === 1 || (col("tool") <=> "bash")
    def dropped(r: SegmentRow) = r.shard == 1 || (r.field == "tool" && r.term == "bash")
    assert(segmentRows(source).count(dropped) > 1)
    SegmentStore.deleteDocs(docs.filter(doomed).select(col("docId")), source)
    val optimized = Files.createTempDirectory("graft-seg-drop-opt").toString
    SegmentStore.optimize(spark, source, optimized)
    val survivors = Files.createTempDirectory("graft-seg-drop-live").toString
    SegmentStore.build(docs.filter(!doomed), "docId", fields, survivors, docsPerShard = dps)
    val rows = segmentRows(optimized)
    assert(!rows.exists(dropped))
    assert(canonRows(rows) === canonRows(segmentRows(survivors)))
    assert(SegmentStore.readFieldStatsGens(optimized) === SegmentStore.readFieldStatsGens(survivors))
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
    assert(!SegmentStore.committed(dir))
  }

  /** What the jobs `f` starts ran (listener bus drained both sides). */
  private final case class JobShape(jobs: Int, stages: Int, tasks: Int, resultTasks: Int,
      shuffleBytes: Long, shuffleRecords: Long)

  private def shapeOf(f: => Unit): JobShape = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs, stages, tasks, resultTasks = new java.util.concurrent.atomic.AtomicInteger
    val bytes, records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskType == "ResultTask") resultTasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.GraftListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    JobShape(jobs.get, stages.get, tasks.get, resultTasks.get, bytes.get, records.get)
  }

  /** Tasks run by the jobs `f` starts. */
  private def tasksOf(f: => Unit): Int = shapeOf(f).tasks

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
          // tombstones send the cached index through the per-query repartition
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

  test("every segment query is one job over the shard readers") {
    val dir = Files.createTempDirectory("graft-seg-one-stage").toString
    SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 257, storedColumns = Seq("turn_idx"))
    val opts = SearchOptions(limit = 10)
    val live = new SegmentSearcher(SegmentStore.open(spark, dir), opts)
    // uncached: the job's one shuffle moves the query's filtered rows only
    live.search("hello world").collect()
    val filtered = SegmentStore.open(spark, dir).segments
      .filter(col("field") === "default" && col("term").isin("hello", "world")).count()
    val uncached = shapeOf(live.search("hello world").collect())
    assert(uncached.jobs === 1 && uncached.stages === 2, s"uncached: $uncached")
    assert(uncached.shuffleRecords === filtered, s"uncached: $uncached")
    val deleted = live.topK("hello").take(3).map(_._1)
    SegmentStore.deleteDocs(spark, dir, deleted)
    val idx = SegmentStore.open(spark, dir).cached()
    try {
      val p = idx.readers.get.getNumPartitions
      val cachedS = new SegmentSearcher(idx, opts)
      val rawS = new SegmentSearcher(SegmentStore.open(spark, dir), opts)
      val stored = SegmentStore.open(spark, dir).stored.get
      Seq("hello world" -> None,
          "turn_idx<long>:[2 TO 6] AND hello" -> Some(col("turn_idx").between(2, 6)),
          "turn_idx<long>:0" -> Some(col("turn_idx") === 0)).foreach { case (q, pred) =>
        cachedS.search(q).collect() // warm: plan memo + stats
        val shape = shapeOf(cachedS.search(q).collect())
        assert(shape.jobs === 1 && shape.resultTasks === p, s"cached, tombstoned q=$q: $shape")
        pred match {
          case None => // the deletes live in the readers: one stage, nothing shuffled
            assert(shape.stages === 1 && shape.tasks === p && shape.shuffleBytes === 0L, s"q=$q: $shape")
          case Some(c) => // only the query's doc-value matches are shuffled to the readers
            assert(shape.stages === 2 && shape.shuffleRecords === stored.filter(c).count(), s"q=$q: $shape")
        }
        val got = cachedS.topKWithTotal(q)
        assert(got._1.nonEmpty, s"q=$q")
        assert(got === rawS.topKWithTotal(q), s"cached ≠ uncached for q=$q")
        assert(got._1.map(_._1).intersect(deleted).isEmpty, s"deleted doc answered for q=$q")
      }
    } finally idx.unpersist(blocking = true)
  }

  test("a memoized search frame runs its job on every collect, with the same answer") {
    val s = new SegmentSearcher(segIndex, SearchOptions(limit = 10))
    val df = s.search("hello world")
    assert(s.search("hello world") eq df)
    var answers = Seq.empty[Seq[(Long, Double)]]
    val shape = shapeOf((1 to 2).foreach { _ =>
      answers :+= df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    })
    assert(shape.jobs === 2, shape.toString)
    assert(answers.head.nonEmpty && answers.head === answers(1))
    assert(answers.head === s.topK("hello world"))
  }

  test("unpersist, maybeRefresh and releaseAll each release a snapshot's shard readers") {
    val dir = Files.createTempDirectory("graft-seg-release").toString
    SegmentStore.build(docs.filter(col("docId") < 200), "docId", fields, dir, docsPerShard = 257)
    val sc = spark.sparkContext
    def pinned(idx: SegmentIndex): Boolean = sc.getPersistentRDDs.contains(idx.readers.get.id)
    val idx = SegmentStore.open(spark, dir).cached()
    assert(pinned(idx))
    idx.unpersist(blocking = true)
    assert(!pinned(idx))
    val mgr = new IndexReaderManager(spark, dir)
    val first = mgr.acquire()
    assert(pinned(first))
    SegmentStore.deleteDocs(spark, dir, Seq(0L))
    assert(mgr.maybeRefresh())
    assert(!pinned(first) && pinned(mgr.acquire()))
    mgr.acquire().unpersist(blocking = true)
    val shared = IndexReaderManager.of(spark, dir).acquire()
    assert(pinned(shared))
    IndexReaderManager.releaseAll()
    assert(!pinned(shared))
  }

  test("a docId deleted twice counts once and stays out of cached and uncached answers") {
    val dir = Files.createTempDirectory("graft-seg-dup-delete").toString
    SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 257)
    val opts = SearchOptions(limit = 10)
    val victim = new SegmentSearcher(SegmentStore.open(spark, dir), opts).topK("hello").head._1
    SegmentStore.deleteDocs(spark, dir, Seq(victim))
    SegmentStore.deleteDocs(spark, dir, Seq(victim))
    assert(SegmentStore.info(spark, dir)("deleted_count") === 1L)
    val idx = SegmentStore.open(spark, dir).cached()
    try Seq(idx, SegmentStore.open(spark, dir)).foreach { i =>
      assert(!new SegmentSearcher(i, opts).topK("hello").map(_._1).contains(victim))
    } finally idx.unpersist(blocking = true)
  }

  test("a commit without docsPerShard is an error naming the file") {
    val dir = Files.createTempDirectory("graft-seg-badspec").toString
    SegmentStore.build(docs.filter(col("docId") < 50), "docId", fields, dir, docsPerShard = 257)
    val commit = java.nio.file.Paths.get(s"$dir/checkpoints/commit.tsv")
    Files.writeString(commit, Files.readString(commit).linesIterator
      .filterNot(_.startsWith("docsPerShard\t")).mkString("", "\n", "\n"))
    val e = intercept[IllegalStateException](SegmentStore.open(spark, dir))
    assert(e.getMessage.contains("checkpoints/commit.tsv"), e.getMessage)
    assert(e.getMessage.contains("docsPerShard"), e.getMessage)
  }

  test("build over an appended dir writes nothing: open answers exactly as before") {
    val dir = Files.createTempDirectory("graft-seg-appended").toString
    val order = Seq("conv_id", "turn_idx")
    Seq(col("docId") < 300, col("docId") >= 300).zipWithIndex.foreach { case (part, b) =>
      graft.streaming.IncrementalIndexer.appendBatch(docs.filter(part).drop("docId"), b.toLong,
        dir, order, fields, 257)
    }
    val opts = SearchOptions(limit = 10)
    def answers(): (Map[String, FieldStats], Seq[Seq[(Long, Double)]]) = {
      val idx = SegmentStore.open(spark, dir)
      (idx.fieldStats, queries.map(new SegmentSearcher(idx, opts).topK(_)))
    }
    val before = answers()
    val committed = before._1.values.map(_.docCount).max
    // other docs, another shard width: the appender's commit stands
    assert(SegmentStore.build(docs.filter(col("docId") < 50), "docId", fields, dir, docsPerShard = 64) ===
      committed)
    assert(answers() === before)
    assert(SegmentStore.docsPerShardOf(dir) === 257L)
  }

  /** Stored columns of the writer fixtures below. */
  private val storedCols = Seq("turn_idx", "role")

  /** One index dir per generation writer over the fixture: a build, an
    * optimize of a second build after three deletes, and a two-batch append.
    */
  private lazy val writerDirs: Map[String, String] = {
    def tmpDir(name: String) = Files.createTempDirectory(s"graft-writer-$name").toString
    val built = tmpDir("build")
    SegmentStore.build(docs, "docId", fields, built, docsPerShard = 257, storedColumns = storedCols)
    val source = tmpDir("optimize-src")
    SegmentStore.build(docs, "docId", fields, source, docsPerShard = 257, storedColumns = storedCols)
    SegmentStore.deleteDocs(spark, source, Seq(3L, 100L, 400L))
    val optimized = tmpDir("optimize")
    SegmentStore.optimize(spark, source, optimized)
    val appended = tmpDir("append")
    val order = Seq("conv_id", "turn_idx")
    // a batch this small coalesces into one partition; uncoalesced, it
    // spans several, as a large batch does
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try Seq(col("docId") < 300, col("docId") >= 300).zipWithIndex.foreach { case (part, b) =>
      graft.streaming.IncrementalIndexer.appendBatch(docs.filter(part).drop("docId"), b.toLong,
        appended, order, fields, 257, storedColumns = storedCols)
    } finally spark.conf.unset(coalesce)
    Map("build" -> built, "optimize" -> optimized, "append" -> appended)
  }

  /** Canonical digests of an index dir's written tables: every SegmentRow
    * field but `pid` (blocks byte for byte), the term stats rows, the field
    * stats sidecar and the stored rows, each as sorted lines.
    */
  private def writerDigests(dir: String): Map[String, String] = {
    import spark.implicits._
    def md5(lines: Seq[String]): String = java.security.MessageDigest.getInstance("MD5")
      .digest(lines.sorted.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val segments = SegmentStore.readSegments(spark, s"$dir/segments").as[SegmentRow].collect().toSeq
      .map(r => (Seq(r.shard, r.field, r.term, r.df, r.cf, r.minDoc, r.maxDoc, r.bytes) ++
        r.blocks.map(b => Seq(b.firstDoc, b.lastDoc, b.count, b.maxTf, b.maxTfNorm, b.encAvgdl,
          b.minPos, b.maxPos, hex(b.docBytes), hex(b.tfBytes), hex(b.dlBytes), hex(b.posBytes))
          .mkString(","))).mkString("|"))
    val termStats = spark.read.parquet(s"$dir/termstats").as[TermStats].collect().toSeq
      .map(t => s"${t.field}|${t.term}|${t.df}|${t.cf}")
    val fieldStats = SegmentStore.readFieldStatsGens(dir).get.toSeq.flatMap { case (gen, rows) =>
      rows.map(f => s"$gen|${f.field}|${f.docCount}|${f.avgdl}|${f.sumDl}")
    }
    val stored = spark.read.parquet(s"$dir/stored").collect().toSeq.map(_.toSeq.mkString("|"))
    Map("segments" -> md5(segments), "termstats" -> md5(termStats),
      "fieldstats" -> md5(fieldStats), "stored" -> md5(stored))
  }

  test("build, optimize and appendBatch write the pinned generation bytes") {
    val want = Map(
      "build" -> Map("segments" -> "d7b0415a9267", "termstats" -> "1697a7fed96f",
        "fieldstats" -> "5b4acc10cafd", "stored" -> "30c8ce144241"),
      "optimize" -> Map("segments" -> "aa9aa5bc02df", "termstats" -> "70c04c09a8da",
        "fieldstats" -> "d2b792f3d130", "stored" -> "61af13503144"),
      "append" -> Map("segments" -> "7cf79616faf2", "termstats" -> "500ef1566466",
        "fieldstats" -> "91d0bfce756b", "stored" -> "30c8ce144241"))
    assert(writerDirs.map { case (w, dir) => w -> writerDigests(dir) } === want)
  }

  test("every writer keeps each shard's stored rows in one docId-ascending part file") {
    import spark.implicits._
    writerDirs.foreach { case (w, dir) =>
      val parts = scala.util.Using.resource(Files.list(java.nio.file.Paths.get(s"$dir/stored")))(
        _.toArray.map(_.asInstanceOf[Path])).filter(_.getFileName.toString.endsWith(".parquet"))
      // a generation's files share the name prefix (`part`, `gen0`, `gen1`)
      parts.groupBy(_.getFileName.toString.takeWhile(_ != '-')).foreach { case (gen, files) =>
        val shardsByFile = files.toSeq.map { f =>
          val ids = spark.read.parquet(f.toString).select("docId", "shard").as[(Long, Int)].collect()
          assert(ids.map(_._1).toSeq === ids.map(_._1).sorted.toSeq, s"$w $gen: $f is not docId-ascending")
          ids.map(_._2).toSet
        }
        val all = shardsByFile.flatten
        assert(all.size === all.toSet.size, s"$w $gen: a shard spans several part files")
      }
    }
  }

  test("a build whose stored write fails leaves no commit; its rerun answers identically") {
    val dir = Files.createTempDirectory("graft-resume-stored").toString
    intercept[org.apache.spark.sql.AnalysisException] {
      SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 257,
        storedColumns = Seq("no_such_column"))
    }
    assert(!SegmentStore.committed(dir))
    SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 257, storedColumns = storedCols)
    val resumed = SegmentStore.open(spark, dir)
    val whole = SegmentStore.open(spark, writerDirs("build"))
    Seq("turn_idx<long>:3 AND hello", "turn_idx<long>:[2 TO 6] AND (hello OR world)",
      "hello AND -turn_idx<long>:[0 TO 3]", "turn_idx<long>:0").foreach { q =>
      val opts = SearchOptions(limit = 10)
      assert(new SegmentSearcher(resumed, opts).topK(q) === new SegmentSearcher(whole, opts).topK(q),
        s"q=$q")
    }
    val envOpts = SearchOptions(limit = 8,
      sort = graft.query.QueryParser.parseSort("/turn_idx<int>"), includeFields = Seq("role"))
    def envelope(idx: SegmentIndex) = new SegmentSearcher(idx, envOpts).searchEnvelope("hello")
      .select(col("docId"), col("score"), col("rank"), col("role")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3))).toSeq.sortBy(_._3)
    val got = envelope(resumed)
    assert(got.nonEmpty && got === envelope(whole))
  }

  /** The segment rows of an index dir, marker rows included. */
  private def segmentRows(dir: String): Seq[SegmentRow] = {
    import spark.implicits._
    SegmentStore.readSegments(spark, s"$dir/segments").as[SegmentRow].collect().toSeq
  }

  /** Every SegmentRow field, blocks byte for byte, in key order. */
  private def canonRows(rows: Seq[SegmentRow]) = rows.sortBy(r => (r.shard, r.field, r.term, r.minDoc))
    .map(r => (r.shard, r.field, r.term, r.df, r.cf, r.minDoc, r.maxDoc, r.bytes,
      r.blocks.map(b => (b.firstDoc, b.lastDoc, b.count, b.maxTf, b.maxTfNorm, b.encAvgdl,
        b.minPos, b.maxPos, b.docBytes.toSeq, b.tfBytes.toSeq, b.dlBytes.toSeq, b.posBytes.toSeq))))

  test("unordered postings: split and overlapping mini-runs encode like the fused path") {
    // 3 partitions holding interleaved docIds; inside each, docIds descend,
    // or ascend in 5 interleaved sequences — no term's postings arrive in
    // docId order, and its postings from the 3 partitions interleave
    val scrambles = Seq(
      "descending" -> Seq(col("docId").desc),
      "5 ascending sequences" -> Seq(col("docId") % 5, col("docId")))
    Seq(257L, 5000000000L).foreach { dps =>
      val fused = canonRows(SegmentStore.encodeRuns(
        IndexBuilder.tokenizeMiniRuns(docs, "docId", fields, dps), None, None, dps).collect().toSeq)
      scrambles.foreach { case (name, order) =>
        val scrambled = docs.repartition(3, col("docId") % 3).sortWithinPartitions(order: _*)
        val mini = IndexBuilder.tokenizeMiniRuns(scrambled, "docId", fields, dps)
        val keys = mini.toDF().select(mini.columns.take(3).map(col): _*) // (shard, field, term)
        assert(mini.count() > keys.distinct().count(), name)
        val rows = SegmentStore.encodeRuns(mini, None, None, dps).collect().toSeq
        assert(canonRows(rows) === fused, s"$name, docsPerShard = $dps")
      }
    }
  }

  test("a build's mini-runs are byte streams and shuffle under half the array layout's bytes") {
    import org.apache.spark.sql.types._
    def nestsArrays(t: DataType): Boolean = t match {
      case ArrayType(e, _) => e.isInstanceOf[ArrayType] || nestsArrays(e)
      case StructType(fs) => fs.exists(f => nestsArrays(f.dataType))
      case MapType(k, v, _) => nestsArrays(k) || nestsArrays(v)
      case _ => false
    }
    val schema = IndexBuilder.tokenizeMiniRuns(docs, "docId", fields, 257).schema
    assert(!schema.fields.exists(f => nestsArrays(f.dataType)), schema.treeString)
    // an array column of a mini-run row would hold one entry per posting
    assert(!schema.fields.exists(_.dataType.isInstanceOf[ArrayType]), schema.treeString)
    val dir = Files.createTempDirectory("graft-seg-shuffle").toString
    val shape = shapeOf(SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 257))
    info(s"build shuffle write: ${shape.shuffleBytes} bytes")
    // the same build with one docId/tf/dl array per mini-run and one
    // position array per posting
    val arrayLayoutBytes = 1639666L
    assert(shape.shuffleBytes < arrayLayoutBytes / 2, shape.toString)
  }
}
