package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analysis.{Analyzer, Analyzers}
import graft.index._

/** A query after parse → bind → plan: the [[SQ]] tree both engines lower
  * from, the term statistics its weights were computed from (phrase and
  * conjunction join order reads their df), and the doc-value predicates its
  * `SDocSet` leaves index by `predId`.
  */
final case class PlannedQuery(
    sq: SQ,
    stats: Map[(String, String), TermStats],
    docPreds: IndexedSeq[Column])

/** The one query front end of both engines — the reference likewise runs
  * every request through one parser, one rewrite and one response envelope
  * before Lucene scores it (DatabaseIndexer.java:465-543,585-640).
  *
  *  - [[parse]]: Lucene-classic parse, then query-time analysis with the
  *    field's analyzer or the `?analyzer=` override (DatabaseIndexer.java:477).
  *  - [[plan]]: term stats resolved on the driver (Lucene's TermStates),
  *    idf × index-time field boost folded into each term weight, one
  *    capped dictionary expansion per multi-term node (CONSTANT_SCORE
  *    rewrite), typed point/range queries as doc-value predicates.
  *  - [[envelope]]: rank window with skip, field sort and `sort_order`,
  *    include_fields / include_docs fetch-back and highlights
  *    (DatabaseIndexer.java:512-633), over the engine's match frame and
  *    stored table.
  */
final class QueryFrontEnd(index: SearchableIndex, opts: SearchOptions) {

  def parse(q: String): Query =
    QueryBind.bind(
      new QueryParser(opts.defaultField, opts.defaultOperatorAnd, opts.allowLeadingWildcard).parse(q),
      f => index.fields.exists(fd => fd.indexField == f && fd.kind.isInstanceOf[TextField]),
      analyzerFor)

  private def analyzerFor(f: String): Analyzer = opts.analyzer match {
    case Some(name) => Analyzers.byName(name)
    case None =>
      index.fields.collectFirst { case FieldDef(`f`, _, TextField(a), _) => a }
        .getOrElse(Analyzers.Keyword)
  }

  /** Resolve a bound AST to the shipped plan. A MUST that cannot match
    * empties its conjunction; SHOULD and MUST_NOT clauses that cannot match
    * are dropped.
    */
  def plan(ast: Query): PlannedQuery = {
    def terms(q: Query): Seq[(String, String)] = q match {
      case TermQ(f, t) => Seq((f, t))
      case PhraseQ(f, ts, _) => ts.map((f, _))
      case BoolQ(cs) => cs.flatMap(c => terms(c.q))
      case BoostQ(inner, _) => terms(inner)
      case _ => Nil
    }
    val stats = StatsLookup.lookup(index.statsCache, index.termStats, terms(ast))
    val preds = scala.collection.mutable.ArrayBuffer.empty[Column]
    def weight(f: String, t: String): Option[Double] = stats.get((f, t)).map { st =>
      val boost = index.fields.find(_.indexField == f).map(_.boost).getOrElse(1.0)
      IndexBuilder.idf(st.df, index.fieldStats(f).docCount) * boost
    }
    def go(q: Query): SQ = q match {
      case EmptyQ => SEmpty
      case TermQ(f, t) =>
        weight(f, t).map(w => STerm(f, t, w, index.fieldStats(f).avgdl)).getOrElse(SEmpty)
      case PhraseQ(f, ts, slop) =>
        val ws = ts.map(weight(f, _))
        if (ws.exists(_.isEmpty)) SEmpty
        else SPhrase(f, ts, slop, ws.flatten.sum, index.fieldStats(f).avgdl)
      case BoolQ(cs) =>
        val m = cs.filter(_.occur == Occur.Must).map(c => go(c.q))
        val s = cs.filter(_.occur == Occur.Should).map(c => go(c.q)).filter(_ != SEmpty)
        val n = cs.filter(_.occur == Occur.MustNot).map(c => go(c.q)).filter(_ != SEmpty)
        if (m.contains(SEmpty) || (m.isEmpty && s.isEmpty)) SEmpty else SBool(m, s, n)
      case BoostQ(inner, b) =>
        val i = go(inner)
        if (i == SEmpty) SEmpty else SBoost(i, b)
      case mq @ (_: PrefixQ | _: WildcardQ | _: FuzzyQ | _: TermRangeQ) =>
        val (f, expanded) = TermExpansion.expand(index.termStats.toDF(), mq)
        if (expanded.isEmpty) SEmpty else SConst(f, expanded)
      case dv @ (MatchAllQ | _: NumRangeQ | _: NumTermQ) =>
        preds += QueryFrontEnd.docValuePred(dv)
        SDocSet(preds.length - 1)
    }
    PlannedQuery(go(ast), stats, preds.toIndexedSeq)
  }

  /** Per-term docFreq of a query — reference `?rewrite=true` debug
    * (DatabaseIndexer.java:489-504), answered from the plan's stats lookup.
    */
  def rewriteDebug(q: String): Map[(String, String), Long] =
    plan(parse(q)).stats.map { case (k, v) => k -> v.df }

  /** Multi-query batch: comma-separated q, one result frame tagged by `qid`
    * (reference DatabaseIndexer.java:476,689-691); each sub-query runs the
    * engine's full envelope.
    */
  def multiSearch(qs: String, search: String => DataFrame): DataFrame = {
    val parts = QueryParser.splitOnCommas(qs)
    require(parts.nonEmpty, s"multiSearch needs at least one query in '$qs'")
    parts.zipWithIndex
      .map { case (q, idx) => search(q).withColumn("qid", lit(idx)) }
      .reduce(_ unionByName _)
  }

  /** Full result envelope: rank (1-based, after skip), docId, score, plus
    * the requested sort keys, stored fields and highlights.
    *
    * `matches(exhaustive)` is the engine's (docId, score) match frame. The
    * default ranking (score desc) may take a score-pruned per-shard top-k;
    * every other order — field sort, `_doc`, ascending `_score` — ranks the
    * full match set (Lucene likewise collects exhaustively for them).
    * `stored(what)` is the engine's stored table with a long `docId`; `what`
    * names the feature for the engine's missing-table error.
    */
  def envelope(
      p: PlannedQuery,
      matches: Boolean => DataFrame,
      stored: String => DataFrame): DataFrame = {
    import QueryFrontEnd._
    val ext = opts.sort.zipWithIndex.collect {
      case (SortField(f, tpe, _), i) if f != "_score" && f != "_doc" => (f, tpe, i)
    }
    val defaultOrder = opts.sort.isEmpty ||
      opts.sort.map(sf => (sf.field, sf.ascending)) == Seq(("_score", false))
    val base =
      if (ext.isEmpty) matches(!defaultOrder)
      else matches(true).join(
        // a typed key orders by its cast (reference TypedField.toSortField,
        // CustomQueryParser.java:60-63): a string-encoded numeric column
        // sorted without it would order lexicographically
        stored("field sort").select(col("docId") +: ext.flatMap { case (f, tpe, i) =>
          Seq(tpe.fold(col(f))(numCol(f, _)).as(s"sort_$i"), sortDisplayCol(f, tpe).as(s"sortv_$i"))
        }: _*),
        Seq("docId"))
    // skip/limit pagination (reference DatabaseIndexer.java:515-543): fetch
    // skip+limit via TakeOrderedAndProject, then window the tiny result
    // locally to drop the first `skip`
    val sortCols = sortColumns(opts.sort)
    val ordered = base.orderBy(sortCols: _*).limit(opts.skip + opts.limit)
    val w = org.apache.spark.sql.expressions.Window.orderBy(sortCols: _*)
    val ranked0 = ordered.withColumn("rank", row_number().over(w)).filter(col("rank") > opts.skip)
    // per-row sort_order — each FieldDoc's sort key values when the search
    // was field-sorted (DatabaseIndexer.java:597-608)
    val ranked =
      if (opts.sort.isEmpty) ranked0
      else ranked0.withColumn("sort_order", array(opts.sort.zipWithIndex.map {
        case (SortField("_score", _, _), _) => col("score").cast("string")
        case (SortField("_doc", _, _), _) => col("docId").cast("string")
        case (_, i) => col(s"sortv_$i")
      }: _*))
    // include_docs fetch-back: the ≤k ranked rows broadcast against the
    // (column-pruned) stored table (DatabaseIndexer.java:609-633)
    val withDocs =
      if (opts.includeDocs || opts.includeFields.nonEmpty) {
        val st = stored("include_fields/include_docs")
        val cols =
          if (opts.includeFields.nonEmpty) col("docId") +: opts.includeFields.map(col)
          else st.columns.toSeq.map(col)
        st.select(cols: _*).join(broadcast(ranked), Seq("docId"), "inner")
      } else ranked
    if (opts.highlights > 0) addHighlights(withDocs, p, stored) else withDocs
  }

  /** ?highlights=n: best fragments of the default text field per hit over
    * the ≤k result rows (reference DatabaseIndexer.java:512-513). The terms
    * are the plan's default-field leaves, so multi-term queries highlight
    * their expansions, as Lucene's highlighters rewrite them.
    */
  private def addHighlights(result: DataFrame, p: PlannedQuery, stored: String => DataFrame): DataFrame =
    index.fields.collectFirst {
      case FieldDef(f, src, _: TextField, _) if f == opts.defaultField => src
    } match {
      case None => result
      case Some(srcCol) =>
        val terms = SegmentSearcher.leafTerms(p.sq)
          .filter(_._1 == opts.defaultField).map(_._2).distinct
        val withText =
          if (result.columns.contains(srcCol)) result
          else stored("highlights").select(col("docId"), col(srcCol))
            .join(broadcast(result), Seq("docId"), "inner")
        val (n, len) = (opts.highlights, opts.highlightLength)
        val outSchema = withText.schema
          .add("highlights", org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
        val textIdx = withText.schema.fieldIndex(srcCol)
        withText.map { row =>
          org.apache.spark.sql.Row.fromSeq(
            row.toSeq :+ Highlighter.fragments(row.getString(textIdx), terms, n, len))
        }(org.apache.spark.sql.Encoders.row(outSchema))
    }
}

object QueryFrontEnd {

  /** Typed doc-value column: dates compare as epoch millis
    * (reference FieldType.java:32-53).
    */
  private def numCol(f: String, tpe: String): Column =
    if (tpe == "date") unix_millis(col(f).cast("timestamp")).cast("double")
    else col(f).cast("double")

  /** Per-row `sort_order` rendering of a sort key. JSON arrays are untyped,
    * so the envelope carries the values as strings; integral types render
    * without a fraction (engine-stable long→string cast).
    */
  private def sortDisplayCol(f: String, tpe: Option[String]): Column = tpe match {
    case None => col(f).cast("string")
    case Some("int") | Some("long") => col(f).cast("long").cast("string")
    case Some("float") | Some("double") => col(f).cast("double").cast("string")
    case Some("date") => unix_millis(col(f).cast("timestamp")).cast("string")
    case Some(other) => throw new IllegalArgumentException(s"unknown sort type <$other>")
  }

  /** Ordering columns for the requested sort, docId tie-break appended
    * (Lucene's doc tie-break); default is relevance (score desc).
    */
  private def sortColumns(sort: Seq[SortField]): Seq[Column] =
    if (sort.isEmpty) Seq(col("score").desc, col("docId").asc)
    else sort.zipWithIndex.map { case (SortField(f, _, asc), i) =>
      val c = f match {
        case "_score" => col("score")
        case "_doc" => col("docId")
        case _ => col(s"sort_$i")
      }
      if (asc) c.asc else c.desc
    } :+ col("docId").asc

  /** Predicate Column for a typed point/range query over doc values. */
  private def docValuePred(q: Query): Column = q match {
    case NumTermQ(f, tpe, v) => numCol(f, tpe) === v
    case NumRangeQ(f, tpe, lo, hi, incLo, incHi) =>
      val c = numCol(f, tpe)
      Seq(
        lo.map(v => if (incLo) c >= v else c > v),
        hi.map(v => if (incHi) c <= v else c < v)).flatten
        .reduceOption(_ && _).getOrElse(lit(true))
    case MatchAllQ => lit(true)
    case other => throw new IllegalArgumentException(s"not a doc-value query: $other")
  }
}
