package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** Session extension registering the engine's SQL surface
  * (`spark.sql.extensions=graft.functions.GraftExtensions`, or
  * [[GraftExtensions.register]] on a live session).
  *
  *   graft_tokenize(text)             — standard analyzer (scalar)
  *   graft_tokenize(text, 'analyzer') — named analyzer (scalar)
  *   graft_search('dir','query',k)    — table function over a committed
  *                                      segment index → (docId, score),
  *                                      planned natively
  *                                      (plans.FullTextSearchStrategy)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.tokenizeDescriptor)
    e.injectTableFunction(GraftExtensions.searchDescriptor)
    e.injectPlannerStrategy(_ => graft.plans.FullTextSearchStrategy)
  }
}

object GraftExtensions {

  private def build(args: Seq[Expression]): Expression = args match {
    case Seq(text) => TokenizeExpression(text, "standard")
    case Seq(text, Literal(name, _)) => TokenizeExpression(text, name.toString)
    case _ => throw new IllegalArgumentException(
      "graft_tokenize(text[, analyzerNameLiteral])")
  }

  private def buildSearch(args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    args match {
      case Seq(Literal(dir, _), Literal(q, _), Literal(k, _)) =>
        graft.plans.FullTextSearch(dir.toString, q.toString, k.toString.toInt)
      case _ => throw new IllegalArgumentException(
        "graft_search('indexDir', 'query', kLiteral)")
    }

  val tokenizeDescriptor: (FunctionIdentifier, org.apache.spark.sql.catalyst.expressions.ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_tokenize"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[TokenizeExpression].getName, "graft_tokenize"),
    build _)

  val searchDescriptor: (FunctionIdentifier, org.apache.spark.sql.catalyst.expressions.ExpressionInfo, Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("graft_search"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[graft.plans.FullTextSearch].getName, "graft_search"),
    buildSearch _)

  /** Register on an already-built session (tests, Engine glue). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_tokenize", build, "built-in")
    spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
      "graft_search", buildSearch, "built-in")
    graft.plans.FullTextSearchStrategy.install(spark)
  }
}
