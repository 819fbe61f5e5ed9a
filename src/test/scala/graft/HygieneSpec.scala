package graft

import org.apache.spark.sql.functions._

import graft.analysis.Analyzers
import graft.index._

/** Round-4 hygiene fixes: empty-string values must never collide with the
  * DlMarker sentinel (ADVICE r3), and driver-side serving memos are bounded.
  */
class HygieneSpec extends SparkSpec {

  test("empty STRING values are absent, not marker-colliding postings") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha", "x y"),
      (1L, "", "x  y"), // empty scalar + doubled space (empty array element)
      (2L, "beta", "z")).toDF("doc_id", "tag", "text")
      .withColumn("words", split(col("text"), " "))
    val fields = Seq(
      FieldDef("tag", "tag", StringField),
      FieldDef("word", "words", StringField))
    val withMarkers = IndexBuilder.tokenizePostingsWithMarkers(docs, "doc_id", fields)
    // no real posting ever carries the marker term with positions, and no
    // empty-string term exists anywhere
    val postings = withMarkers.filter(_.term != IndexBuilder.DlMarker).collect()
    assert(postings.forall(_.term.nonEmpty))
    // doc 1's tag is empty -> absent: tag field stats must count 2 docs
    val fs = IndexBuilder.fieldStatsFromMarkers(withMarkers).as[FieldStats]
      .collect().map(f => f.field -> f).toMap
    assert(fs("tag").docCount === 2)
    // doc 1's doubled space would have produced an empty element; dl counts
    // only the two real words
    assert(fs("word").docCount === 3)
    val stats = IndexBuilder.termStats(withMarkers.filter(_.term != IndexBuilder.DlMarker))
      .collect().map(s => (s.field, s.term) -> s.df).toMap
    assert(stats.get(("word", "")) === None)
    assert(stats(("word", "x")) === 2L)
  }

  test("LruCache evicts least-recently-used past capacity") {
    val c = new LruCache[Int, String](3)
    (1 to 3).foreach(i => c.put(i, i.toString))
    assert(c.get(1) === Some("1")) // touch 1 -> 2 becomes eldest
    c.put(4, "4")
    assert(c.size === 3)
    assert(c.get(2) === None)
    assert(c.get(1) === Some("1") && c.get(4) === Some("4"))
    assert(c.getOrElseUpdate(5, "5") === "5") // evicts 3
    assert(c.get(3) === None)
  }

  test("segment plan memo stays bounded under an open-ended query workload") {
    import spark.implicits._
    val docs = Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("docId", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-lru").toString
    SegmentStore.build(docs, "docId", Seq(FieldDef("default", "text",
      TextField(Analyzers.Standard))), dir, docsPerShard = 16)
    val s = new SegmentSearcher(SegmentStore.open(spark, dir).cached(),
      graft.query.SearchOptions(limit = 5))
    // distinct query strings beyond the cap: results stay correct and the
    // memo can't have kept them all (indirectly: repeated queries still work)
    assert(s.topK("alpha").map(_._1) === Seq(0L))
    assert(s.topK("gamma").map(_._1) === Seq(1L))
    assert(s.topK("alpha").map(_._1) === Seq(0L))
  }

  test("build and appendBatch reject the index field name reserved for doc-set rows") {
    import spark.implicits._
    val docs = Seq((0L, "alpha beta")).toDF("id", "text")
    val reserved = Seq(FieldDef("", "text", TextField(Analyzers.Standard)))
    def fresh() = java.nio.file.Files.createTempDirectory("graft-reserved").toString
    intercept[IllegalArgumentException](
      SegmentStore.build(docs, "id", reserved, fresh(), docsPerShard = 16))
    intercept[IllegalArgumentException](
      graft.streaming.IncrementalIndexer.appendBatch(docs, 0L, fresh(), Seq("id"), reserved, 16))
  }
}
