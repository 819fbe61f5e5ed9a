package graft

import org.apache.spark.sql.functions._

import graft.query.{SearchOptions, Searcher}

/** Physical-plan assertions: the plans we designed for are the plans
  * Catalyst actually picks (prompt: ".explain the plan and iterate until
  * it's the plan you'd want").
  */
class PlansSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("graft_search SQL plans through the native FullTextSearchExec node") {
    graft.functions.GraftExtensions.register(spark)
    val dir = Engine.segmentIndexDir(spark, sfDir)
    val df = spark.sql(s"SELECT docId, score FROM graft_search('$dir', 'dup', 10)")
    assert(planOf(df).contains("FullTextSearchExec"), planOf(df).take(2000))
    // results identical to the programmatic segment path
    val sql = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy { case (d, s) => (-s, d) }
    val api = new graft.index.SegmentSearcher(
      Engine.segmentIndex(spark, sfDir), SearchOptions(limit = 10)).topK("dup")
    assert(sql === api)
  }

  test("clearCaches releases the storage a graft_search query pinned") {
    graft.functions.GraftExtensions.register(spark)
    val dir = Engine.segmentIndexDir(spark, sfDir)
    graft.plans.FullTextSearchExec.clearCache() // the query below opens its index afresh
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    spark.sql(s"SELECT docId, score FROM graft_search('$dir', 'dup', 10)").collect()
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty)
    Engine.clearCaches()
    assert(sc.getPersistentRDDs.keySet.intersect(pinned).isEmpty)
  }

  test("top-k is TakeOrderedAndProject (bounded heaps, no global sort)") {
    val plan = planOf(Engine.topk(spark, sfDir, "dup"))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("include_docs fetch-back is a broadcast join (reference include_docs semantics)") {
    val s = new Searcher(Engine.documentsIndex(spark, sfDir), SearchOptions(limit = 5, includeFields = Seq("text")))
    val plan = planOf(s.search("dup"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("phrase plan: rarest-first broadcast hash joins, no posting shuffle (VERDICT r2 #2)") {
    val s = new Searcher(Engine.documentsIndex(spark, sfDir), SearchOptions(limit = 10))
    val plan = planOf(s.scored("\"merge batch\""))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // the join chain must not shuffle the posting frames on docId
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("MUST-conjunction plan: broadcast hash join, not union+groupBy shuffle") {
    val s = new Searcher(Engine.documentsIndex(spark, sfDir), SearchOptions(limit = 10))
    val plan = planOf(s.scored("spark AND merge"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("rel_join broadcasts the dimension side") {
    val plan = planOf(SparkEntry.queries("rel_join")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("date-range predicate reaches the parquet scan (PushedFilters)") {
    val plan = planOf(SparkEntry.queries("rel_daterange")(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"), plan.take(3000))
  }

  test("segment term lookup pushes (field, term) filters into the parquet scan") {
    // open un-cached so the scan is a real parquet source
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-seg").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.index.SegmentStore.build(docs, "doc_id", Engine.DocFields, dir, docsPerShard = 128)
    val idx = graft.index.SegmentStore.open(spark, dir)
    val searcher = new graft.index.SegmentSearcher(idx, SearchOptions(limit = 10))
    val plan = planOf(searcher.search("dup"))
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(term,dup)"), plan.take(3000))
  }

  test("doc-value predicate pushes into the stored sidecar scan, column-pruned (round 4)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-dv").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.index.SegmentStore.build(docs, "doc_id", Engine.DocFields, dir, docsPerShard = 128,
      storedColumns = Engine.DocStoredColumns)
    val idx = graft.index.SegmentStore.open(spark, dir)
    val searcher = new graft.index.SegmentSearcher(idx, SearchOptions(limit = 10))
    val plan = planOf(searcher.search("n_chars<long>:[100 TO 200] AND dup"))
    // the predicate reaches the sidecar's parquet scan...
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(n_chars)"),
      plan.take(4000))
    // ...and the scan reads only the columns the predicate needs (docId +
    // n_chars), never text/lang/source
    val storedReads = "ReadSchema: struct<docId:bigint,n_chars".r.findAllIn(plan)
    assert(storedReads.nonEmpty, plan.take(4000))
    assert(!plan.contains("ReadSchema: struct<docId:bigint,text"), plan.take(4000))
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .filter(col("l_extendedprice") > 1000.0)
    val plan = planOf(df)
    val readSchema = "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>"
    assert(plan.contains(readSchema), plan.take(3000))
  }

  test("boolean query is a single-exchange aggregation (union + one groupBy)") {
    val s = new Searcher(Engine.documentsIndex(spark, sfDir), SearchOptions(limit = 10))
    val plan = planOf(s.scored("spark AND merge"))
    // one hash-agg pair (partial+final) over the unioned clause frames:
    // no join-based intersection, no extra exchanges beyond the groupBy
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges\n${plan.take(3000)}")
  }

  test("minhash signatures are a narrow map: no exchange, no explode (round 5)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.ops.Dedup.minhashSignatures(docs, "doc_id", "text"))
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(!plan.contains("Generate"), plan.take(3000))
  }

  test("simhash is a narrow map: no exchange, no explode (round 5)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.ops.Dedup.simhash(docs, "doc_id", "text"))
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(!plan.contains("Generate"), plan.take(3000))
  }

  test("minhash pairs: banded candidates explode one signature row, no per-band union (round 5)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.ops.Dedup.minhashPairs(docs, "doc_id", "text"))
    // the per-band union duplicated the tokenize+shingle+md5 subtree once
    // per band per plan reference; bands are now one explode over the
    // computed signature row and verification joins the shingle sets ONCE
    assert(!plan.contains("Union"), plan.take(3000))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans <= 5, s"expected <=5 corpus scans, got $scans\n${plan.take(3000)}")
  }

  test("hash/stratified sampling are narrow maps; group selection shuffles once (round 5)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p1 = planOf(graft.ops.Sampling.hashSample(docs, "doc_id", 0.25))
    assert(!p1.contains("Exchange"), p1.take(2000))
    val p2 = planOf(graft.ops.Sampling.stratifiedSample(docs, "doc_id", "source",
      Map("src0" -> 1.0, "src1" -> 0.5), 0.1))
    assert(!p2.contains("Exchange"), p2.take(2000))
    val p3 = planOf(graft.ops.Sampling.topKPerGroup(docs, "doc_id", "text", "source", 5))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p3).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n${p3.take(2000)}")
  }

  test("IVF probe is scan -> narrow filter -> top-k: no join, no exchange (round 5)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = planOf(graft.ops.Similarity.ivfTopK(emb, "vec_id", "embedding", 42))
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }
}
