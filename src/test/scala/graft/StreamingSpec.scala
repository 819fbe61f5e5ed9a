package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.data.TranscriptGen
import graft.index._
import graft.query.SearchOptions
import graft.streaming.IncrementalIndexer

/** Incremental (streaming) index maintenance ≡ batch rebuild — the Spark
  * analog of the reference's changes-feed consumer with `last_seq`
  * exactly-once resume (SURVEY.md §2.9).
  */
class StreamingSpec extends SparkSpec {

  private val fields = Bench.Fields

  private def turnsDF(from: Long, until: Long) = {
    import spark.implicits._
    TranscriptGen.transcripts(spark, until).filter(t => t.conv_id.stripPrefix("conv-").toLong >= from).toDF()
  }

  private val queries = Seq("hello", "paxos", "hello world", "hello AND world",
    "\"paxos made simple\"", "role:assistant AND consensus")

  private def topK(idx: SegmentIndex, q: String,
      tombstones: Option[org.apache.spark.sql.DataFrame] = None): Seq[(Long, Double)] =
    new SegmentSearcher(idx, SearchOptions(limit = 10), tombstones).topK(q)

  private lazy val batchIndex: SegmentIndex = {
    val dir = Files.createTempDirectory("graft-batch-all").toString
    val all = DocIds.assign(turnsDF(0, 80), Seq("conv_id", "turn_idx"), "docId", 8)
    SegmentStore.build(all, "docId", fields, dir, docsPerShard = 257)
    SegmentStore.open(spark, dir).cached()
  }

  test("appendBatch generations ≡ one-shot batch build, and replays are no-ops") {
    val dir = Files.createTempDirectory("graft-inc").toString
    IncrementalIndexer.appendBatch(turnsDF(0, 60), 0L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    IncrementalIndexer.appendBatch(turnsDF(60, 80), 1L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    val metaAfter = IncrementalIndexer.readMeta(dir)
    // replay batch 1 — must be a no-op (reference DatabaseIndexer.java:361 guard)
    IncrementalIndexer.appendBatch(turnsDF(60, 80), 1L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    assert(IncrementalIndexer.readMeta(dir) === metaAfter)

    val inc = SegmentStore.openMerged(spark, dir)
    queries.foreach { q =>
      val a = topK(inc, q)
      val b = topK(batchIndex, q)
      assert(a.map(_._1) === b.map(_._1), s"docIds differ for q=$q")
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) <= 1e-9) }
    }
  }

  test("one index history: open, graft_search and the NRT reader agree after appends and a delete") {
    graft.functions.GraftExtensions.register(spark)
    val dir = Files.createTempDirectory("graft-one-history").toString
    def append(from: Long, until: Long, batchId: Long): Unit =
      IncrementalIndexer.appendBatch(turnsDF(from, until), batchId, dir, Seq("conv_id", "turn_idx"), fields, 257)
    def sql(q: String): Seq[(Long, Double)] =
      spark.sql(s"SELECT docId, score FROM graft_search('$dir', '$q', 10)").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy { case (d, sc) => (-sc, d) }
    append(0, 40, 0L)
    append(40, 80, 1L)
    // two generations open as the batch build over the same corpus
    val opened = SegmentStore.open(spark, dir)
    assert(opened.fieldStats.keySet === batchIndex.fieldStats.keySet)
    batchIndex.fieldStats.foreach { case (f, ref) =>
      val fs = opened.fieldStats(f)
      assert(fs.docCount === ref.docCount, s"docCount differs for $f")
      assert(math.abs(fs.avgdl - ref.avgdl) <= 1e-9, s"avgdl differs for $f: ${fs.avgdl} vs ${ref.avgdl}")
    }
    queries.foreach { q =>
      val a = topK(opened, q)
      val b = topK(batchIndex, q)
      assert(a.map(_._1) === b.map(_._1), s"docIds differ for q=$q")
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) <= 1e-9, s"q=$q") }
    }
    // graft_search serves the dir's reader; a later append must reach it,
    // and every reader must equal a batch build of the whole history
    sql("hello")
    append(80, 120, 2L)
    val fresh = topK(SegmentStore.open(spark, dir), "hello")
    val refDir = Files.createTempDirectory("graft-one-history-ref").toString
    SegmentStore.build(DocIds.assign(turnsDF(0, 120), Seq("conv_id", "turn_idx"), "docId", 8),
      "docId", fields, refDir, docsPerShard = 257)
    val ref = topK(SegmentStore.open(spark, refDir), "hello")
    assert(fresh.map(_._1) === ref.map(_._1))
    fresh.zip(ref).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) <= 1e-9) }
    assert(sql("hello") === fresh)
    // a delete reaches a fresh open, graft_search and a refreshed NRT reader
    val mgr = new IndexReaderManager(spark, dir)
    val victim = fresh.head._1
    SegmentStore.deleteDocs(spark, dir, Seq(victim))
    val afterDelete = topK(SegmentStore.open(spark, dir), "hello")
    assert(!afterDelete.map(_._1).contains(victim))
    assert(sql("hello") === afterDelete)
    mgr.maybeRefresh()
    try assert(!topK(mgr.acquire(), "hello").map(_._1).contains(victim))
    finally mgr.acquire().unpersist(blocking = false)
  }

  test("optimize of a wide-shard index (docsPerShard > Int.MaxValue) re-synthesizes markers") {
    val dir = Files.createTempDirectory("graft-wide").toString
    val out = Files.createTempDirectory("graft-wide-opt").toString
    val all = DocIds.assign(turnsDF(0, 80), Seq("conv_id", "turn_idx"), "docId", 8)
    SegmentStore.build(all, "docId", fields, dir, docsPerShard = 5000000000L)
    SegmentStore.optimize(spark, dir, out)
    val opt = SegmentStore.open(spark, out).cached()
    // stats survived the round-trip (the old hardcoded reconstructMarkers
    // crashed here; a naive recon=false would emit an index with NO stats)
    batchIndex.fieldStats.foreach { case (f, ref) =>
      val fs = opt.fieldStats(f)
      assert(fs.docCount == ref.docCount && math.abs(fs.avgdl - ref.avgdl) < 1e-9, s"stats differ for $f")
    }
    queries.foreach { q =>
      val a = topK(opt, q)
      val b = topK(batchIndex, q)
      assert(a.map(_._1) === b.map(_._1), s"docIds differ for q=$q")
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) <= 1e-9) }
    }
  }

  test("a failed staged write is rethrown only after its siblings finish; the replay commits one generation") {
    val dir = Files.createTempDirectory("graft-inc-fail").toString
    val staging = s"$dir/staging/gen-0"
    // the stored write fails at once (no such column); termstats and keys
    // are still running when it does
    intercept[org.apache.spark.sql.AnalysisException] {
      IncrementalIndexer.appendBatch(turnsDF(0, 40), 0L, dir, Seq("conv_id", "turn_idx"),
        fields, 257, storedColumns = Seq("no_such_column"))
    }
    Seq("termstats", "keys").foreach { sub =>
      assert(Files.exists(java.nio.file.Paths.get(s"$staging/$sub/_SUCCESS")),
        s"staged $sub write had not finished when appendBatch threw")
    }
    assert(IncrementalIndexer.readMeta(dir).lastBatch === -1L)
    IncrementalIndexer.appendBatch(turnsDF(0, 40), 0L, dir, Seq("conv_id", "turn_idx"),
      fields, 257, storedColumns = Seq("text"))
    assert(IncrementalIndexer.readMeta(dir) === IncrementalIndexer.Meta(turnsDF(0, 40).count(), 0L))
    Seq("segments", "termstats", "keys", "stored").foreach { sub =>
      val gens = scala.util.Using.resource(Files.list(java.nio.file.Paths.get(s"$dir/$sub")))(
        _.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString))
        .filter(_.endsWith(".parquet")).map(_.takeWhile(_ != '-')).toSet
      assert(gens === Set("gen0"), s"$sub holds generations $gens")
    }
    assert(SegmentStore.readFieldStatsGens(dir).map(_.keySet) === Some(Set("gen0")))
    assert(!Files.exists(java.nio.file.Paths.get(staging)))
  }

  test("a failed appendBatch releases its cached batch") {
    val dir = Files.createTempDirectory("graft-inc-fail-cache").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the encode job materializes the cached batch before the stored write fails
    intercept[org.apache.spark.sql.AnalysisException] {
      IncrementalIndexer.appendBatch(turnsDF(0, 20), 0L, dir, Seq("conv_id", "turn_idx"),
        fields, 257, storedColumns = Seq("no_such_column"))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("a later batch passing a different docsPerShard cannot re-shard the index (round 5)") {
    val dir = Files.createTempDirectory("graft-dps-pin").toString
    IncrementalIndexer.appendBatch(turnsDF(0, 40), 0L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    // batch 2 asks for a wildly different shard size — the committed
    // shardspec must win, or tombstones/doc-values route to wrong shards
    IncrementalIndexer.appendBatch(turnsDF(40, 80), 1L, dir, Seq("conv_id", "turn_idx"), fields, 8192)
    assert(SegmentStore.docsPerShardOf(dir) === 257L)
    // a delete in the second generation must actually disappear (routing
    // by the persisted spec reaches the shard holding its postings)
    val idx = SegmentStore.openMerged(spark, dir)
    val victim = topK(idx, "hello").map(_._1).max // high docId → second batch
    SegmentStore.deleteDocs(spark, dir, Seq(victim))
    val after = topK(SegmentStore.openMerged(spark, dir), "hello",
      Some(SegmentStore.deletedDocsDF(spark, dir)))
    assert(!after.map(_._1).contains(victim))
    // and the surviving ranking still matches the reference batch build
    for (q <- queries) {
      val a = topK(idx, q)
      val b = topK(batchIndex, q)
      assert(a.map(_._1) === b.map(_._1), s"q=$q")
    }
  }

  test("spec change triggers a from-scratch re-index (reference design-doc change semantics)") {
    val dir = Files.createTempDirectory("graft-respec").toString
    IncrementalIndexer.appendBatch(turnsDF(0, 40), 0L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    // same spec → no-op (generations, meta intact)
    assert(!IncrementalIndexer.reindexOnSpecChange(spark, dir, fields))
    assert(IncrementalIndexer.readMeta(dir).lastBatch === 0L)
    // changed spec (whitespace analyzer instead of standard) → full wipe
    val changed = fields.map {
      case FieldDef(n, s, TextField(_), b) => FieldDef(n, s, TextField(graft.analysis.Analyzers.Whitespace), b)
      case other => other
    }
    assert(IncrementalIndexer.reindexOnSpecChange(spark, dir, changed))
    assert(!Files.exists(java.nio.file.Paths.get(dir))) // index + checkpoints gone
    // rebuild under the new spec: "the" is a live term only under whitespace
    IncrementalIndexer.appendBatch(turnsDF(0, 40), 0L, dir, Seq("conv_id", "turn_idx"), changed, 257)
    val idx = SegmentStore.openMerged(spark, dir)
    assert(topK(idx, "the").nonEmpty)
    assert(SegmentStore.specDigest(SegmentStore.open(spark, dir).fields) === SegmentStore.specDigest(changed))
  }

  test("MERGE upsert by key: superseded versions tombstoned, new text queryable") {
    val dir = Files.createTempDirectory("graft-upsert").toString
    val base = turnsDF(0, 60)
    IncrementalIndexer.appendBatch(base, 0L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    val baseDocs = SegmentStore.openMerged(spark, dir).fieldStats("default").docCount
    // re-submit the first 10 conversations with a sentinel token prepended
    val updated = turnsDF(0, 10).withColumn("text", concat(lit("zzzupdated "), col("text")))
    val nUpdated = updated.count()
    IncrementalIndexer.upsertBatch(updated, 1L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    val idx = SegmentStore.openMerged(spark, dir)
    val tombs = Some(SegmentStore.deletedDocsDF(spark, dir))
    // every updated turn matches the sentinel, none of them is a stale docId
    val hits = new SegmentSearcher(idx, SearchOptions(limit = 100000), tombs).topK("zzzupdated")
    assert(hits.length.toLong === nUpdated)
    val deleted = SegmentStore.deletedDocs(spark, dir)
    assert(deleted.size.toLong === nUpdated, "each updated key tombstones exactly its old docId")
    assert(hits.map(_._1).toSet.intersect(deleted).isEmpty)
    // replayed upsert is a no-op (no tombstone double-count after dedup)
    IncrementalIndexer.upsertBatch(updated, 1L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    assert(SegmentStore.deletedDocs(spark, dir).size.toLong === nUpdated)
    // expunge: physical removal, doc count returns to the corpus size
    SegmentStore.optimizeInPlace(spark, dir)
    val after = SegmentStore.openMerged(spark, dir)
    assert(after.fieldStats("default").docCount === baseDocs)
    val hitsAfter = new SegmentSearcher(after, SearchOptions(limit = 100000)).topK("zzzupdated")
    assert(hitsAfter.length.toLong === nUpdated)
  }

  test("_cleanup analog: optimizeInPlace expires superseded generations, queries unchanged") {
    val dir = Files.createTempDirectory("graft-cleanup").toString
    IncrementalIndexer.appendBatch(turnsDF(0, 30), 0L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    IncrementalIndexer.appendBatch(turnsDF(30, 60), 1L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    IncrementalIndexer.appendBatch(turnsDF(60, 80), 2L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    val victims = topK(SegmentStore.openMerged(spark, dir), "hello").take(2).map(_._1)
    SegmentStore.deleteDocs(spark, dir, victims)
    val before = topK(SegmentStore.openMerged(spark, dir), "hello",
      Some(SegmentStore.deletedDocsDF(spark, dir)))
    val filesBefore = SegmentStore.fileCount(dir)
    // default docsPerShard: a maintenance op carries the source shardspec
    SegmentStore.optimizeInPlace(spark, dir)
    assert(SegmentStore.docsPerShardOf(dir) === 257L)
    val filesAfter = SegmentStore.fileCount(dir)
    assert(filesAfter < filesBefore,
      s"cleanup did not shrink the index dir: $filesBefore -> $filesAfter files")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/tombstones")))
    val after = SegmentStore.openMerged(spark, dir)
    queries.foreach { q =>
      val a = topK(after, q)
      val b = topK(SegmentStore.openMerged(spark, dir), q) // idempotent open
      assert(a === b)
    }
    // docId ranking is preserved; absolute scores legitimately shift because
    // expunge removes deleted docs from df/avgdl/N (Lucene stats behave the
    // same across forceMergeDeletes)
    assert(topK(after, "hello").map(_._1) === before.map(_._1),
      "post-cleanup ranking differs from pre-cleanup tombstone-filtered ranking")
  }

  test("a commit missing lastBatch fails appendBatch, naming the file") {
    val dir = Files.createTempDirectory("graft-inc-torn").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/checkpoints"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/checkpoints/commit.tsv"), "nextDocId\t5\n")
    val e = intercept[IllegalStateException](
      IncrementalIndexer.appendBatch(turnsDF(0, 10), 0L, dir, Seq("conv_id", "turn_idx"), fields, 257))
    assert(e.getMessage.contains("checkpoints/commit.tsv"), e.getMessage)
  }

  test("every index dir's checkpoints/ holds only its commit file") {
    val built = Files.createTempDirectory("graft-one-commit-build").toString
    val appended = Files.createTempDirectory("graft-one-commit-append").toString
    val optimized = Files.createTempDirectory("graft-one-commit-opt").toString
    SegmentStore.build(DocIds.assign(turnsDF(0, 40), Seq("conv_id", "turn_idx"), "docId", 8),
      "docId", fields, built, docsPerShard = 257)
    IncrementalIndexer.appendBatch(turnsDF(0, 30), 0L, appended, Seq("conv_id", "turn_idx"), fields, 257)
    IncrementalIndexer.appendBatch(turnsDF(30, 40), 1L, appended, Seq("conv_id", "turn_idx"), fields, 257)
    def checkpoints(dir: String): Set[String] =
      scala.util.Using.resource(Files.list(java.nio.file.Paths.get(s"$dir/checkpoints")))(
        _.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)).toSet
    assert(checkpoints(built) === Set("commit.tsv"))
    assert(checkpoints(appended) === Set("commit.tsv"))
    SegmentStore.deleteDocs(spark, appended, Seq(3L))
    SegmentStore.optimizeInPlace(spark, appended)
    SegmentStore.optimize(spark, appended, optimized)
    Seq(built, appended, optimized).foreach(d => assert(checkpoints(d) === Set("commit.tsv"), d))
  }

  test("optimizeInPlace keeps the appender position: replay is a no-op, the next batch follows") {
    val dir = Files.createTempDirectory("graft-opt-position").toString
    val order = Seq("conv_id", "turn_idx")
    IncrementalIndexer.appendBatch(turnsDF(0, 60), 0L, dir, order, fields, 257)
    IncrementalIndexer.appendBatch(turnsDF(60, 80), 1L, dir, order, fields, 257)
    val before = IncrementalIndexer.readMeta(dir)
    SegmentStore.optimizeInPlace(spark, dir)
    assert(IncrementalIndexer.readMeta(dir) === before)
    // a replay of batch 1 after the optimize is still a no-op
    IncrementalIndexer.appendBatch(turnsDF(60, 80), 1L, dir, order, fields, 257)
    assert(IncrementalIndexer.readMeta(dir) === before)
    queries.foreach { q =>
      val a = topK(SegmentStore.open(spark, dir), q)
      val b = topK(batchIndex, q)
      assert(a.map(_._1) === b.map(_._1), s"docIds differ after optimize for q=$q")
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) <= 1e-9, s"q=$q") }
    }
    // batch 2's docIds start where the pre-optimize position left off
    IncrementalIndexer.appendBatch(turnsDF(80, 100), 2L, dir, order, fields, 257)
    val gen2 = spark.read.parquet(s"$dir/keys/gen2-*").select("docId")
    assert(gen2.agg(min("docId")).head().getLong(0) === before.nextDocId)
    val refDir = Files.createTempDirectory("graft-opt-position-ref").toString
    SegmentStore.build(DocIds.assign(turnsDF(0, 100), order, "docId", 8), "docId", fields, refDir,
      docsPerShard = 257)
    val ref = SegmentStore.open(spark, refDir)
    val live = SegmentStore.open(spark, dir)
    queries.foreach { q =>
      val a = topK(live, q)
      val b = topK(ref, q)
      assert(a.map(_._1) === b.map(_._1), s"docIds differ after batch 2 for q=$q")
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) <= 1e-9, s"q=$q") }
    }
  }

  test("crash between promotion and meta write: replay does not duplicate the generation") {
    val dir = Files.createTempDirectory("graft-inc-crash").toString
    IncrementalIndexer.appendBatch(turnsDF(0, 60), 0L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    val metaPath = java.nio.file.Paths.get(s"$dir/checkpoints/commit.tsv")
    val metaAfter0 = Files.readString(metaPath)
    IncrementalIndexer.appendBatch(turnsDF(60, 80), 1L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    val metaAfter1 = Files.readString(metaPath)
    // simulate the crash window: generation 1 fully (or partially) promoted
    // but its commit lost — roll the commit back and delete one promoted file
    Files.writeString(metaPath, metaAfter0)
    val segDir = java.nio.file.Paths.get(s"$dir/segments")
    val gen1 = Files.list(segDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("gen1-"))
    assert(gen1.nonEmpty)
    Files.delete(gen1.head) // partial promotion remnant
    // foreachBatch replays batch 1 — must reconstruct exactly one copy
    IncrementalIndexer.appendBatch(turnsDF(60, 80), 1L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    assert(Files.readString(metaPath) === metaAfter1)
    val inc = SegmentStore.openMerged(spark, dir)
    queries.foreach { q =>
      val a = topK(inc, q)
      val b = topK(batchIndex, q)
      assert(a.map(_._1) === b.map(_._1), s"docIds differ after crash replay for q=$q")
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) <= 1e-9) }
    }
  }

  test("Structured Streaming foreachBatch maintains the index over arriving files") {
    val src = Files.createTempDirectory("graft-src").toString
    val dir = Files.createTempDirectory("graft-inc-stream").toString
    val schema = turnsDF(0, 1).schema
    val q = IncrementalIndexer.start(src, dir, fields, spark, schema, Seq("conv_id", "turn_idx"))
    try {
      turnsDF(0, 60).coalesce(1).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
      turnsDF(60, 80).coalesce(1).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    // staleness gate: both batches committed → fresh for minBatch=1; a
    // batch that never arrives times out (the ?stale=ok / block-for-latest
    // pair, reference couchdb-lucene.ini:12-13)
    assert(IncrementalIndexer.awaitFresh(dir, 1L, timeoutMs = 5000))
    assert(!IncrementalIndexer.awaitFresh(dir, 99L, timeoutMs = 200))
    val inc = SegmentStore.openMerged(spark, dir)
    queries.take(3).foreach { qq =>
      assert(topK(inc, qq).map(_._1) === topK(batchIndex, qq).map(_._1), s"q=$qq")
    }
  }

  test("IndexReaderManager: ETag stable until a commit advances; maybeRefresh swaps the snapshot (round 4)") {
    val dir = Files.createTempDirectory("graft-nrt").toString
    IncrementalIndexer.appendBatch(turnsDF(0, 30), 0L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    val mgr = new IndexReaderManager(spark, dir)
    val e0 = mgr.etag
    val docs0 = mgr.acquire().fieldStats("default").docCount
    // nothing changed: no refresh, same token, same snapshot instance
    assert(!mgr.maybeRefresh())
    assert(mgr.etag === e0)
    assert(mgr.acquire() eq mgr.acquire())
    // a committed generation advances the version -> refresh installs it
    IncrementalIndexer.appendBatch(turnsDF(30, 50), 1L, dir, Seq("conv_id", "turn_idx"), fields, 257)
    assert(ReaderManager.version(dir) !== e0)
    assert(mgr.maybeRefresh())
    assert(mgr.etag !== e0)
    assert(mgr.acquire().fieldStats("default").docCount > docs0)
    // a tombstone write alone also moves the token (reference ETag covers deletes)
    val victim = topK(mgr.acquire(), "hello").take(1).map(_._1)
    SegmentStore.deleteDocs(spark, dir, victim)
    assert(mgr.maybeRefresh())
  }

  test("incremental generations carry the stored sidecar: doc-value + envelope queries on a streamed index (round 4)") {
    val dir = Files.createTempDirectory("graft-inc-stored").toString
    val stored = Seq("text", "role", "turn_idx")
    IncrementalIndexer.appendBatch(turnsDF(0, 30), 0L, dir, Seq("conv_id", "turn_idx"),
      fields, 257, storedColumns = stored)
    IncrementalIndexer.appendBatch(turnsDF(30, 50), 1L, dir, Seq("conv_id", "turn_idx"),
      fields, 257, storedColumns = stored)
    val idx = SegmentStore.openMerged(spark, dir)
    assert(idx.stored.nonEmpty)
    val all = DocIds.assign(turnsDF(0, 50), Seq("conv_id", "turn_idx"), "docId", 8)
    val dfIdx = IndexBuilder.build(all, "docId", fields)
    Seq("turn_idx<long>:2 AND hello", "turn_idx<long>:[1 TO 4] AND consensus").foreach { q =>
      val got = topK(idx, q)
      val want = new graft.query.Searcher(dfIdx, SearchOptions(limit = 10)).search(q)
        .select("docId", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) === want.map(_._1), s"docIds differ for q=$q")
    }
    // envelope on the streamed index: include_fields joins the sidecar
    val inc = new SegmentSearcher(idx, SearchOptions(limit = 5, includeFields = Seq("text")))
      .searchEnvelope("hello").select("docId", "text").collect()
    assert(inc.length === 5)
    assert(inc.forall(r => r.getString(1).toLowerCase.contains("hello")))
  }

  test("MID-stream spec edit stops the stream; restart rebuilds under the new spec (round 4)") {
    val src = Files.createTempDirectory("graft-src-respec").toString
    val dir = Files.createTempDirectory("graft-stream-respec").toString
    val schema = turnsDF(0, 1).schema
    val q = IncrementalIndexer.start(src, dir, fields, spark, schema, Seq("conv_id", "turn_idx"))
    val changed = fields.map {
      case FieldDef(n, s, TextField(_), b) => FieldDef(n, s, TextField(graft.analysis.Analyzers.Whitespace), b)
      case other => other
    }
    try {
      turnsDF(0, 40).coalesce(1).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
      assert(IncrementalIndexer.readMeta(dir).lastBatch >= 0L)
      // the design-doc edit analog: an external actor commits a NEW spec
      // into the live dir while the stream is running
      SegmentStore.writeSpec(spark, dir, changed)
      turnsDF(40, 60).coalesce(1).write.mode(SaveMode.Append).parquet(src)
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(30000)
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(failed).exists(_.isInstanceOf[IncrementalIndexer.SpecChangedException]),
        s"stream did not stop with SpecChangedException: $failed")
    } finally if (q.isActive) q.stop()
    // restart under the new spec: reindexOnSpecChange wipes index +
    // checkpoint, the stream replays the source from the beginning
    val q2 = IncrementalIndexer.start(src, dir, changed, spark, schema, Seq("conv_id", "turn_idx"))
    try q2.processAllAvailable() finally q2.stop()
    val idx = SegmentStore.openMerged(spark, dir)
    // "the" is a live term only under the whitespace analyzer
    assert(topK(idx, "the").nonEmpty)
    assert(idx.fieldStats("default").docCount === turnsDF(0, 60).count())
  }

  test("tombstone deletes are honored at query time and dropped by optimize (_expunge/_optimize)") {
    val dir = Files.createTempDirectory("graft-del").toString
    val all = DocIds.assign(turnsDF(0, 80), Seq("conv_id", "turn_idx"), "docId", 8).persist()
    SegmentStore.build(all, "docId", fields, dir, docsPerShard = 257)
    val victims = topK(SegmentStore.open(spark, dir), "hello").take(3).map(_._1)
    SegmentStore.deleteDocs(spark, dir, victims)
    assert(SegmentStore.deletedDocs(spark, dir) === victims.toSet)
    val idx = SegmentStore.open(spark, dir).cached()
    val got = topK(idx, "hello", Some(SegmentStore.deletedDocsDF(spark, dir)))
    assert(got.map(_._1).intersect(victims).isEmpty)
    // WAND path under deletes (pure disjunction): ≡ rebuilt-without-victims
    val gotOr = topK(idx, "hello world", Some(SegmentStore.deletedDocsDF(spark, dir)))
    assert(gotOr.map(_._1).intersect(victims).isEmpty)

    // optimize: physical removal + stats recomputed == fresh build minus victims
    val optDir = Files.createTempDirectory("graft-opt").toString
    SegmentStore.optimize(spark, dir, optDir)
    val opt = SegmentStore.open(spark, optDir).cached()
    val refDir = Files.createTempDirectory("graft-ref").toString
    SegmentStore.build(all.filter(!col("docId").isin(victims: _*)), "docId", fields, refDir, docsPerShard = 257)
    val ref = SegmentStore.open(spark, refDir).cached()
    queries.foreach { qq =>
      val a = topK(opt, qq)
      val b = topK(ref, qq)
      assert(a.map(_._1) === b.map(_._1), s"optimize differs from rebuild for q=$qq")
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) <= 1e-9) }
    }
    val info = SegmentStore.info(spark, optDir)
    assert(info("doc_count").asInstanceOf[Long] > 0)
    assert(info("deleted_count") === 0L)
  }
}
