package graft.query

import graft.analysis.Analyzer

/** Query-time analysis binding, run by the shared [[QueryFrontEnd]] for
  * both executors: TEXT-field terms run through the field's
  * analyzer (stop words drop the clause — Lucene's parser returns null),
  * STRING fields match exactly, multi-term patterns lowercase on TEXT
  * fields (reference `lucene.lowercaseExpandedTerms`,
  * DatabaseIndexer.java:123-124).
  */
object QueryBind {

  def bind(q: Query, isText: String => Boolean, analyzerFor: String => Analyzer): Query = {
    def go(q: Query): Query = q match {
      case TermQ(f, t) if isText(f) =>
        analyzerFor(f).queryTerms(t) match {
          case Seq() => EmptyQ
          case Seq(one) => TermQ(f, one)
          case many => BoolQ(many.map(m => Clause(Occur.Should, TermQ(f, m))))
        }
      case PhraseQ(f, terms, slop) if isText(f) =>
        val analyzed = terms.flatMap(analyzerFor(f).queryTerms(_))
        if (analyzed.isEmpty) EmptyQ
        else if (analyzed.length == 1) TermQ(f, analyzed.head)
        else PhraseQ(f, analyzed, slop)
      case PhraseQ(f, terms, slop) =>
        if (terms.length == 1) TermQ(f, terms.head) else PhraseQ(f, terms, slop)
      case BoolQ(cs) =>
        val bound = cs.map(c => c.copy(q = go(c.q))).filter(_.q != EmptyQ)
        if (bound.isEmpty) EmptyQ
        else if (bound.length == 1 && bound.head.occur != Occur.MustNot) bound.head.q
        else BoolQ(bound)
      case BoostQ(inner, b) =>
        val bi = go(inner)
        if (bi == EmptyQ) EmptyQ else BoostQ(bi, b)
      case PrefixQ(f, p) if isText(f) => PrefixQ(f, p.toLowerCase(java.util.Locale.ROOT))
      case WildcardQ(f, p) if isText(f) => WildcardQ(f, p.toLowerCase(java.util.Locale.ROOT))
      case FuzzyQ(f, t, e) if isText(f) => FuzzyQ(f, t.toLowerCase(java.util.Locale.ROOT), e)
      case other => other
    }
    go(q)
  }

  /** Wildcard glob → anchored Java regex (shared by both executors).
    * `\x` in the pattern is the LITERAL x — the parser re-escapes a term's
    * escaped '*'/'?' so they survive this compilation as literals
    * (Lucene WildcardQuery.toAutomaton handles `\` the same way).
    */
  def wildcardRegex(pat: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < pat.length) {
      val c = pat.charAt(i)
      if (c == '\\' && i + 1 < pat.length) {
        val n = pat.charAt(i + 1)
        if ("\\.[]{}()^$|+*?".contains(n)) sb.append('\\')
        sb.append(n)
        i += 2
      } else {
        c match {
          case '*' => sb.append(".*")
          case '?' => sb.append('.')
          case x if "\\.[]{}()^$|+".contains(x) => sb.append('\\').append(x)
          case x => sb.append(x)
        }
        i += 1
      }
    }
    sb.append('$').toString
  }
}
