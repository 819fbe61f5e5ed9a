package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-term expansion, called once per multi-term node by the shared
  * query planner ([[QueryFrontEnd.plan]]): the predicate is pushed
  * into the distributed termStats scan (never "collect the dictionary and
  * filter on the driver" — at 100 TB the term dictionary itself is a big
  * table), and the driver receives at most MaxClauseCount+1 matching terms.
  * Exceeding the cap throws, like Lucene's BooleanQuery.TooManyClauses
  * (reference QueryPlan.java:52-62 shows these rewrites; the reference
  * inherits Lucene's 1024 default).
  */
object TermExpansion {

  /** The field and matching terms of a multi-term query node, capped. */
  def expand(termStats: DataFrame, q: Query): (String, Seq[String]) = {
    val (field, pred) = predFor(q)
    val cap = QueryLimits.MaxClauseCount
    val terms = termStats
      .filter(col("field") === field && pred)
      .select(col("term"))
      .limit(cap + 1)
      .collect().map(_.getString(0)).toSeq
    if (terms.length > cap) throw new QueryLimits.TooManyClauses(field, cap)
    (field, terms)
  }

  /** The field and term predicate of a multi-term query node. */
  private def predFor(q: Query): (String, Column) = q match {
    case PrefixQ(f, p) => (f, col("term").startsWith(p))
    case WildcardQ(f, pat) => (f, col("term").rlike(QueryBind.wildcardRegex(pat)))
    case FuzzyQ(f, t, maxEdits) => (f, levenshtein(col("term"), lit(t)) <= maxEdits)
    case TermRangeQ(f, lo, hi, incLo, incHi) =>
      val conds = Seq(
        lo.map(v => if (incLo) col("term") >= v else col("term") > v),
        hi.map(v => if (incHi) col("term") <= v else col("term") < v)).flatten
      (f, conds.reduceOption(_ && _).getOrElse(lit(true)))
    case other => throw new IllegalArgumentException(s"not a multi-term query: $other")
  }
}
