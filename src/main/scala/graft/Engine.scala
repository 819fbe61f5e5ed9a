package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzers
import graft.index._
import graft.query._

/** Glue between the driver contract (SparkEntry) and the engine: builds and
  * caches one documents-table index per scale-factor dir, and shapes search
  * results into oracle-comparable frames (doc_id, score_r, rank).
  *
  * The `documents` corpus is pure lowercase letters + spaces (verified by
  * EngineSpec), so the Standard analyzer's token stream is exactly the
  * DuckDB oracle's `regexp_extract_all(lower(text), '[a-z0-9]+')` — which is
  * what makes full BM25 rank-identity checkable end-to-end in SQL.
  */
object Engine {

  /** documents.parquet index spec: text → `default` (TEXT, analyzed,
    * positions), lang/source → STRING (exact terms, the role:/tool: analog),
    * n_chars/doc_id → doc-values.
    */
  val DocFields: Seq[FieldDef] = Seq(
    FieldDef("default", "text", TextField(Analyzers.Standard)),
    FieldDef("lang", "lang", StringField),
    FieldDef("source", "source", StringField))

  private val cache = scala.collection.concurrent.TrieMap[String, TextIndex]()

  /** Per-path schema memo (same discipline as SparkEntry.readTable): every
    * schemaless `spark.read.parquet` schedules a footer-inference job, and
    * the index constructors re-read the same immutable corpus tables.
    * [[clearCaches]] drops it, so a path rewritten with a new schema is
    * re-inferred instead of silently read with the old columns.
    */
  private val schemaCache =
    scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.types.StructType]()

  private def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaCache.getOrElseUpdate(path, spark.read.parquet(path).schema))
      .parquet(path)

  /** Drop all cached indexes (required between SparkSession restarts —
    * cached plans are bound to their session), releasing the storage of
    * every segment index, and every per-path schema memo.
    */
  def clearCaches(): Unit = {
    cache.clear()
    schemaCache.clear()
    SparkEntry.clearSchemaCache()
    SegmentStore.clearSchemaCache()
    segCache.values.foreach(_.unpersist(blocking = false))
    segCache.clear()
    segDirCache.clear()
    evCache.clear()
    graft.plans.FullTextSearchExec.clearCache()
  }

  def documentsIndex(spark: SparkSession, sfDir: String): TextIndex =
    cache.getOrElseUpdate(sfDir, {
      val docs = readTable(spark, s"$sfDir/documents.parquet")
      IndexBuilder.build(docs, "doc_id", DocFields).cached()
    })

  /** Top-k search shaped for the DuckDB compare: doc_id, score rounded to 4
    * decimals (both engines compute the identical double expression; the
    * rounding absorbs ulp-level summation-order differences), rank 1-based.
    */
  def topk(spark: SparkSession, sfDir: String, q: String,
      k: Int = 10, skip: Int = 0, defaultAnd: Boolean = false): DataFrame = {
    val s = new Searcher(documentsIndex(spark, sfDir),
      SearchOptions(limit = k, skip = skip, defaultOperatorAnd = defaultAnd))
    oracleShape(s.search(q))
  }

  private def oracleShape(ranked: DataFrame): DataFrame =
    ranked.select(col("docId").as("doc_id"), round(col("score"), 4).as("score_r"),
      col("rank").cast("long").as("rank"))

  /** events.parquet index: event_type → STRING term field, plus a derived
    * `day` doc-value (date_trunc of ts) for typed date point/range queries —
    * the reference's `field<date>:` path (CustomQueryParser.java:113-128,
    * FieldType date patterns).
    */
  val EventFields: Seq[FieldDef] = Seq(FieldDef("etype", "event_type", StringField))

  private val evCache = scala.collection.concurrent.TrieMap[String, TextIndex]()

  def eventsIndex(spark: SparkSession, sfDir: String): TextIndex =
    evCache.getOrElseUpdate(sfDir, {
      val ev = readTable(spark, s"$sfDir/events.parquet")
        .withColumn("day", date_trunc("day", col("ts")))
      IndexBuilder.build(ev, "event_id", EventFields).cached()
    })

  /** Top-k over the events index, same oracle-comparable shape as [[topk]]. */
  def topkEvents(spark: SparkSession, sfDir: String, q: String, k: Int = 10): DataFrame = {
    oracleShape(new Searcher(eventsIndex(spark, sfDir), SearchOptions(limit = k)).search(q))
  }

  // ---- compressed segment (WAND) path ---------------------------------

  private val segCache = scala.collection.concurrent.TrieMap[String, SegmentIndex]()
  private val segDirCache = scala.collection.concurrent.TrieMap[String, String]()

  /** On-disk segment index dir for a corpus (built once, memoized) — the
    * path handed to the `graft_search` SQL table function.
    */
  /** Stored/doc-value sidecar columns for the documents segment index:
    * n_chars serves typed point/range queries; text/lang/source serve
    * field sort + include_fields on the segment path.
    */
  val DocStoredColumns: Seq[String] = Seq("text", "lang", "source", "n_chars")

  def segmentIndexDir(spark: SparkSession, sfDir: String): String =
    segDirCache.getOrElseUpdate(sfDir, {
      val dir = java.nio.file.Files.createTempDirectory("graft-segidx").toString
      val docs = readTable(spark, s"$sfDir/documents.parquet")
      SegmentStore.build(docs, "doc_id", DocFields, dir, docsPerShard = 128,
        storedColumns = DocStoredColumns)
      dir
    })

  /** Segment index over the same documents corpus: compressed delta+VByte
    * postings, doc-sharded, queried via block-max WAND — the 100 TB path,
    * wired through the driver gate so DuckDB checks it too.
    */
  def segmentIndex(spark: SparkSession, sfDir: String): SegmentIndex =
    segCache.getOrElseUpdate(sfDir,
      SegmentStore.open(spark, segmentIndexDir(spark, sfDir)).cached())

  /** Segment-path top-k, same output shape as [[topk]]. */
  def topkSeg(spark: SparkSession, sfDir: String, q: String, k: Int = 10): DataFrame = {
    val s = new SegmentSearcher(segmentIndex(spark, sfDir), SearchOptions(limit = k))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("docId").asc)
    oracleShape(s.search(q).withColumn("rank", row_number().over(w).cast("long")))
  }
}
