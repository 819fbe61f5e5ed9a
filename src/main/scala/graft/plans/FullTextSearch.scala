package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.index.{IndexReaderManager, SegmentSearcher}
import graft.query.SearchOptions

/** Native Catalyst surface for the segment-store search path (SURVEY.md
  * §4.2 item 4, deferred in round 1): a `FullTextSearch` logical leaf that
  * SQL reaches through the `graft_search('dir', 'query', k)` table
  * function, planned by [[FullTextSearchStrategy]] into
  * [[FullTextSearchExec]]. The exec node delegates to [[SegmentSearcher]] —
  * pruned segment scan, per-shard block-max WAND / MAXSCORE, global
  * TakeOrdered merge — so SQL users get the same physical plan as the
  * programmatic API, and Catalyst sees an honest leaf (top-k cardinality in
  * `computeStats`, so a join against the hits broadcasts). Each execution
  * refreshes the dir's [[IndexReaderManager]] first, so a query sees every
  * committed append and delete.
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

object FullTextSearchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case fts @ FullTextSearch(dir, q, k, _) => FullTextSearchExec(fts.output, dir, q, k) :: Nil
    case _ => Nil
  }
}

case class FullTextSearchExec(
    output: Seq[Attribute],
    indexDir: String,
    query: String,
    limit: Int) extends LeafExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    val reader = IndexReaderManager.of(SparkSession.active, indexDir)
    reader.maybeRefresh()
    new SegmentSearcher(reader.acquire(), SearchOptions(limit = limit))
      .search(query).queryExecution.toRdd
  }

  override def simpleString(maxFields: Int): String =
    s"FullTextSearchExec dir=$indexDir q='$query' k=$limit"
}
