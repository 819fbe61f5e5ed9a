package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumn, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Descending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.index.{IndexReaderManager, SegmentQuery, SegmentSearcher, ShardReader}
import graft.query.SearchOptions

/** Native Catalyst surface for the segment-store search path (SURVEY.md
  * §4.2 item 4, deferred in round 1): a `FullTextSearch` logical leaf that
  * SQL reaches through the `graft_search('dir', 'query', k)` table
  * function, planned by [[FullTextSearchStrategy]] into
  * [[FullTextSearchExec]]. The exec node runs [[SegmentSearcher.topK]] —
  * one job over the index's shard readers, per-shard block-max WAND /
  * MAXSCORE, a driver-side merge — so SQL users get the same execution as
  * the programmatic API, and Catalyst sees an honest leaf (top-k
  * cardinality in `computeStats`, so a join against the hits broadcasts).
  * Each execution refreshes the dir's [[IndexReaderManager]] first, so a
  * query sees every committed append and delete.
  */
case class FullTextSearch(
    indexDir: String,
    query: String,
    limit: Int,
    // output rides in the constructor so Catalyst node copies keep the
    // SAME expression ids (a val would mint fresh ids per copy and break
    // upstream attribute binding)
    output: Seq[Attribute] = FullTextSearch.defaultOutput()) extends LeafNode {

  // ≤ limit rows of (long, double): tiny — joins against the hit list
  // should broadcast it
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(limit.toLong.max(1L) * 24L), rowCount = Some(BigInt(limit)))
}

object FullTextSearch {
  def defaultOutput(): Seq[Attribute] = Seq(
    AttributeReference("docId", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

/** The frame of [[SegmentSearcher.search]]: one planned segment query over
  * its per-query rows (`input`: doc-value matches, deletes the readers lack,
  * an opened index's filtered segment rows), none for a live or tombstoned
  * query on a cached index. Every input column is read, so none may be
  * pruned away.
  */
case class SegmentSearch(
    query: SegmentQuery,
    input: Option[LogicalPlan],
    output: Seq[Attribute] = FullTextSearch.defaultOutput()) extends LogicalPlan {
  override def children: Seq[LogicalPlan] = input.toSeq
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[LogicalPlan]): LogicalPlan =
    copy(input = newChildren.headOption)
  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet = AttributeSet(input.toSeq.flatMap(_.output))
  override def maxRows: Option[Long] = Some(query.k.toLong)
}

object SegmentSearch {
  /** A DataFrame over `query`, planned by [[FullTextSearchStrategy]]. */
  def frame(spark: SparkSession, query: SegmentQuery): DataFrame = {
    FullTextSearchStrategy.install(spark)
    GraftColumn.ofRows(spark, SegmentSearch(query, query.input))
  }
}

object FullTextSearchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case fts @ FullTextSearch(dir, q, k, _) => FullTextSearchExec(fts.output, dir, q, k) :: Nil
    case SegmentSearch(query, input, output) => SegmentSearchExec(output, query, input.map(planLater)) :: Nil
    case _ => Nil
  }

  /** Add this strategy to the session's planner, once. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
  }
}

/** An exec whose answer is a segment query's driver-merged top-k:
  * `executeCollect` — a collect of the frame — runs the query's one job
  * and returns its rows; a parent operator reads the same rows as one
  * partition.
  */
trait TopKHitsExec extends SparkPlan {
  protected def hits(): Seq[(Long, Double)]

  override def executeCollect(): Array[InternalRow] =
    hits().iterator.map { case (d, s) => ShardReader.hitRow(d, s): InternalRow }.toArray

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override def outputPartitioning: Partitioning = SinglePartition

  // the merge emits its hits ranked: (score desc, docId asc)
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(output(1), Descending), SortOrder(output(0), Ascending))
}

case class FullTextSearchExec(
    output: Seq[Attribute],
    indexDir: String,
    query: String,
    limit: Int) extends LeafExecNode with TopKHitsExec {

  protected def hits(): Seq[(Long, Double)] = {
    val reader = IndexReaderManager.of(SparkSession.active, indexDir)
    reader.maybeRefresh()
    new SegmentSearcher(reader.acquire(), SearchOptions(limit = limit)).topK(query)
  }

  override def simpleString(maxFields: Int): String =
    s"FullTextSearchExec dir=$indexDir q='$query' k=$limit"
}

case class SegmentSearchExec(
    output: Seq[Attribute],
    query: SegmentQuery,
    input: Option[SparkPlan]) extends TopKHitsExec {
  override def children: Seq[SparkPlan] = input.toSeq
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[SparkPlan]): SparkPlan =
    copy(input = newChildren.headOption)
  override def producedAttributes: AttributeSet = outputSet

  protected def hits(): Seq[(Long, Double)] = query.hits(input.map(_.execute()))

  override def simpleString(maxFields: Int): String = s"SegmentSearchExec $query"
}
