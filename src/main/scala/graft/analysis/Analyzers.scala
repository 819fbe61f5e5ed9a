package graft.analysis

/** One token emitted by an analyzer.
  *
  * `pos` is the token's position in the *pre-stop-filter* token stream
  * (0-based). Removing a stop word leaves a gap, exactly like Lucene's
  * StopFilter position increments — so phrase queries do not match across
  * removed stop words (reference: Lucene StandardAnalyzer semantics used by
  * couchdb-lucene's default analyzer,
  * /root/reference/src/main/java/com/github/rnewson/couchdb/lucene/util/Analyzers.java:199-208).
  */
final case class Token(term: String, pos: Int)

/** Reusable (term, pos) parallel-array buffer for the index build's hot
  * loop: one instance per partition replaces per-document Token objects,
  * ArrayBuffer growth, and comparator-boxed TimSort — tokenization is the
  * build's dominant allocator (GC was ~30-50% of build cost in round-2
  * profiling), and at 4+ cores allocation bandwidth is what breaks the
  * N→4N scaling gate.
  */
final class TokenBuffer(initial: Int = 256) {
  var terms: Array[String] = new Array[String](initial)
  var poss: Array[Int] = new Array[Int](initial)
  var len: Int = 0
  def clear(): Unit = len = 0
  def add(term: String, pos: Int): Unit = {
    if (len == terms.length) {
      terms = java.util.Arrays.copyOf(terms, len * 2)
      poss = java.util.Arrays.copyOf(poss, len * 2)
    }
    terms(len) = term
    poss(len) = pos
    len += 1
  }

  /** Sort by (term, pos). Small documents (the overwhelming common case) use
    * an in-place zero-allocation insertion sort; past [[TokenBuffer.MergeSortThreshold]]
    * tokens a bottom-up merge sort over reusable scratch arrays takes over —
    * one multi-thousand-token field would otherwise make the build's hottest
    * loop O(n²) (ADVICE r3). Both are stable; emission order has strictly
    * increasing pos, so equal-term runs keep ascending positions either way.
    */
  def sort(): Unit =
    if (len <= TokenBuffer.MergeSortThreshold) insertionSort(0, len) else mergeSort()

  private def insertionSort(from: Int, until: Int): Unit = {
    var i = from + 1
    while (i < until) {
      val t = terms(i)
      val p = poss(i)
      var j = i - 1
      while (j >= from && {
        val c = terms(j).compareTo(t); c > 0 || (c == 0 && poss(j) > p)
      }) {
        terms(j + 1) = terms(j)
        poss(j + 1) = poss(j)
        j -= 1
      }
      terms(j + 1) = t
      poss(j + 1) = p
      i += 1
    }
  }

  // merge-sort scratch, reused across documents like the main arrays
  private var scratchTerms: Array[String] = new Array[String](0)
  private var scratchPoss: Array[Int] = new Array[Int](0)

  /** Bottom-up merge sort over (terms, poss): insertion-sorted base runs of
    * [[TokenBuffer.MergeSortThreshold]], then O(n log n) merge passes through
    * the reusable scratch arrays — no boxing, no per-call allocation once
    * the scratch has grown to the partition's largest document.
    */
  private def mergeSort(): Unit = {
    if (scratchTerms.length < len) {
      scratchTerms = new Array[String](terms.length)
      scratchPoss = new Array[Int](poss.length)
    }
    val base = TokenBuffer.MergeSortThreshold
    var s = 0
    while (s < len) { insertionSort(s, math.min(s + base, len)); s += base }
    var width = base
    var srcT = terms; var srcP = poss
    var dstT = scratchTerms; var dstP = scratchPoss
    while (width < len) {
      var lo = 0
      while (lo < len) {
        val mid = math.min(lo + width, len)
        val hi = math.min(lo + 2 * width, len)
        var i = lo; var j = mid; var o = lo
        while (i < mid && j < hi) {
          val c = srcT(i).compareTo(srcT(j))
          if (c < 0 || (c == 0 && srcP(i) <= srcP(j))) {
            dstT(o) = srcT(i); dstP(o) = srcP(i); i += 1
          } else {
            dstT(o) = srcT(j); dstP(o) = srcP(j); j += 1
          }
          o += 1
        }
        while (i < mid) { dstT(o) = srcT(i); dstP(o) = srcP(i); i += 1; o += 1 }
        while (j < hi) { dstT(o) = srcT(j); dstP(o) = srcP(j); j += 1; o += 1 }
        lo = hi
      }
      val tT = srcT; val tP = srcP
      srcT = dstT; srcP = dstP
      dstT = tT; dstP = tP
      width *= 2
    }
    if (!(srcT eq terms)) {
      System.arraycopy(srcT, 0, terms, 0, len)
      System.arraycopy(srcP, 0, poss, 0, len)
    }
  }
}

object TokenBuffer {
  /** Above this many tokens, [[TokenBuffer.sort]] switches from insertion
    * sort to merge sort (crossover measured nowhere near critical — any
    * value in the hundreds keeps both regimes in their comfort zone).
    */
  val MergeSortThreshold = 256
}

/** An analyzer maps raw text to a token stream. Pure, thread-safe Scala
  * functions — invoked from `mapPartitions` hot loops, so no per-row
  * allocation beyond the output buffer.
  */
trait Analyzer extends Serializable {
  /** The one primitive: append (term, pos) pairs into `out` — the build's
    * allocation-light path, with no Token objects.
    */
  def tokensInto(text: String, out: TokenBuffer): Unit

  def tokens(text: String): IndexedSeq[Token] = {
    val buf = new TokenBuffer(64)
    tokensInto(text, buf)
    (0 until buf.len).map(i => Token(buf.terms(i), buf.poss(i)))
  }

  /** Analyze a single query term (e.g. the text after `field:`). Returns the
    * analyzed terms; empty when the term is a stop word (Lucene drops the
    * clause).
    */
  def queryTerms(text: String): Seq[String] = tokens(text).map(_.term)
}

/** Analyzer registry mirroring the reference's named-analyzer surface
  * (/root/reference/src/main/java/com/github/rnewson/couchdb/lucene/util/Analyzers.java).
  * Language-specific stemmers are documented non-goals (SURVEY.md §2.3);
  * `standard`, `simple`, `whitespace`, `keyword`, `ngram`, `perfield` are
  * implemented from scratch.
  */
object Analyzers {

  /** Lucene's English stop set (StopAnalyzer.ENGLISH_STOP_WORDS_SET — public
    * Lucene semantics; 33 words). The reference's default `standard` analyzer
    * applies it (util/Analyzers.java:199-208).
    */
  val EnglishStopWords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by",
    "for", "if", "in", "into", "is", "it",
    "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these",
    "they", "this", "to", "was", "will", "with")

  /** Max token length of Lucene's StandardTokenizer; longer runs are split. */
  val MaxTokenLength = 255

  /** StandardAnalyzer-equivalent: UAX#29-style word break + lowercase +
    * English stop removal. Covers the word-break rules that matter for text
    * corpora: alphanumeric runs; `.` and `'` join letter-letter
    * (so `foo@bar.com` → `foo`, `bar.com` — golden case from the reference's
    * util/AnalyzersTest.java:149-152); `.` and `,` join digit-digit
    * (`3.14`, `1,024` stay single tokens); `_` (ExtendNumLet) joins
    * alphanumerics.
    */
  object Standard extends Analyzer {
    def tokensInto(text: String, out: TokenBuffer): Unit = {
      var pos = 0
      var i = 0
      val n = text.length
      while (i < n) {
        if (isTokenChar(text.charAt(i))) {
          val start = i
          var end = i
          var j = i
          var cont = true
          while (cont && j < n) {
            val c = text.charAt(j)
            if (isTokenChar(c)) { j += 1; end = j }
            else if (j + 1 < n && isJoiner(c, text.charAt(j - 1), text.charAt(j + 1))) j += 1
            else cont = false
          }
          // split over-long runs like StandardTokenizer's maxTokenLength
          var s = start
          while (s < end) {
            val e = math.min(s + MaxTokenLength, end)
            val term = text.substring(s, e).toLowerCase(java.util.Locale.ROOT)
            if (!EnglishStopWords.contains(term)) out.add(term, pos)
            pos += 1
            s = e
          }
          i = end
        } else i += 1
      }
    }

    @inline private def isTokenChar(c: Char): Boolean =
      Character.isLetterOrDigit(c) || c == '_'

    /** UAX#29 mid-token joiners: MidNumLet `.`/`'` between letters,
      * MidNum `,`/`.` between digits, MidLetter `:` between letters.
      */
    @inline private def isJoiner(c: Char, prev: Char, next: Char): Boolean = c match {
      case '.' | '\'' =>
        (Character.isLetter(prev) && Character.isLetter(next)) ||
          (Character.isDigit(prev) && Character.isDigit(next))
      case ',' => Character.isDigit(prev) && Character.isDigit(next)
      case ':' => Character.isLetter(prev) && Character.isLetter(next)
      case _ => false
    }
  }

  /** `classic` analyzer: Lucene ClassicAnalyzer semantics (the pre-UAX#29
    * StandardAnalyzer) — keeps emails and hosts as single tokens, keeps
    * company names with inner `&`/`@`, strips acronym dots and possessive
    * `'s` (ClassicFilter), then lowercases and removes English stop words.
    * Reference golden: classic("foo@bar.com") is ONE token
    * (util/AnalyzersTest.java:149-152).
    */
  object Classic extends Analyzer {
    // ordered alternation mirroring ClassicTokenizer's token types:
    // EMAIL | APOSTROPHE | COMPANY | HOST/NUM (dotted) | ALPHANUM
    private val TokenRe =
      ("""[A-Za-z0-9_+\-.]+@[A-Za-z0-9\-]+(?:\.[A-Za-z0-9\-]+)+""" + // EMAIL
        """|[A-Za-z]+(?:'[A-Za-z]+)+""" + // APOSTROPHE (O'Neil, O'Neil's)
        """|[A-Za-z0-9]+[&@][A-Za-z0-9]+""" + // COMPANY (AT&T)
        """|[A-Za-z0-9]+(?:\.[A-Za-z0-9]+)+""" + // HOST / dotted NUM (www.foo.com, 3.14, U.S.A)
        """|[A-Za-z0-9]+""").r // ALPHANUM
    private val AcronymRe = """(?:[A-Za-z]\.)+[A-Za-z]\.?""".r

    /** Build-hot-loop path: appends straight into the shared buffer — no
      * Token objects, no ArrayBuffer (COVERAGE round-4 note; the regex
      * matcher itself is the only per-call allocation left).
      */
    def tokensInto(text: String, out: TokenBuffer): Unit = {
      var pos = 0
      TokenRe.findAllIn(text).foreach { raw =>
        // ClassicFilter: acronym dots removed, trailing possessive stripped
        val undotted =
          if (AcronymRe.pattern.matcher(raw).matches()) raw.replace(".", "") else raw
        val base =
          if (undotted.length > 2 && (undotted.endsWith("'s") || undotted.endsWith("'S")))
            undotted.dropRight(2)
          else undotted
        val term = base.toLowerCase(java.util.Locale.ROOT)
        if (!EnglishStopWords.contains(term)) out.add(term, pos)
        pos += 1
      }
    }
  }

  /** `simple` analyzer: maximal letter runs, lowercased, no stop words
    * (reference: util/Analyzers.java:189-198).
    */
  object Simple extends Analyzer {
    def tokensInto(text: String, out: TokenBuffer): Unit = {
      var pos = 0
      var i = 0
      val n = text.length
      while (i < n) {
        if (Character.isLetter(text.charAt(i))) {
          val start = i
          while (i < n && Character.isLetter(text.charAt(i))) i += 1
          out.add(text.substring(start, i).toLowerCase(java.util.Locale.ROOT), pos)
          pos += 1
        } else i += 1
      }
    }
  }

  /** `whitespace` analyzer: split on whitespace, case preserved
    * (reference: util/Analyzers.java:219-227).
    */
  object Whitespace extends Analyzer {
    def tokensInto(text: String, out: TokenBuffer): Unit = {
      var pos = 0
      var i = 0
      val n = text.length
      while (i < n) {
        if (!Character.isWhitespace(text.charAt(i))) {
          val start = i
          while (i < n && !Character.isWhitespace(text.charAt(i))) i += 1
          out.add(text.substring(start, i), pos)
          pos += 1
        } else i += 1
      }
    }
  }

  /** `keyword` analyzer: whole input is one untokenized term
    * (reference: util/Analyzers.java:149-158).
    */
  object Keyword extends Analyzer {
    def tokensInto(text: String, out: TokenBuffer): Unit =
      if (text != null && text.nonEmpty) out.add(text, 0)
  }

  /** `ngram` analyzer: wraps an inner analyzer with a character n-gram
    * filter, defaults min=1 max=2 (reference: util/Analyzers.java:228-265;
    * golden tokens util/AnalyzersTest.java:139-146). Grams inherit the source
    * token's position.
    */
  final case class NGram(inner: Analyzer = Standard, min: Int = 1, max: Int = 2) extends Analyzer {
    // per-thread scratch for the inner analyzer's stream: analyzer instances
    // can be shared across tasks (broadcast closures), so the reusable
    // buffer must be thread-confined, not an instance field
    @transient private lazy val innerScratch: ThreadLocal[TokenBuffer] =
      ThreadLocal.withInitial(() => new TokenBuffer(64))

    /** Build-hot-loop path (COVERAGE round-4 note): inner tokens land in a
      * thread-local scratch buffer, grams append straight to `out` — no
      * Token objects anywhere on the 1-2-gram index build path.
      */
    def tokensInto(text: String, out: TokenBuffer): Unit = {
      val scratch = innerScratch.get()
      scratch.clear()
      inner.tokensInto(text, scratch)
      var i = 0
      while (i < scratch.len) {
        val term = scratch.terms(i)
        val pos = scratch.poss(i)
        var g = min
        while (g <= max) {
          var s = 0
          while (s + g <= term.length) {
            out.add(term.substring(s, s + g), pos)
            s += 1
          }
          g += 1
        }
        i += 1
      }
    }
  }

  /** `perfield` analyzer: per-field dispatch with a default
    * (reference: util/Analyzers.java:159-178).
    */
  final case class PerField(fields: Map[String, Analyzer], default: Analyzer = Standard)
      extends Serializable {
    def apply(field: String): Analyzer = fields.getOrElse(field, default)
  }

  /** Named lookup mirroring the reference's `?analyzer=` query parameter
    * (DatabaseIndexer.java:477, util/Analyzers.java:283-299).
    */
  def byName(name: String): Analyzer = name.toLowerCase(java.util.Locale.ROOT) match {
    case "standard" | "english" => Standard
    case "classic" => Classic
    case "simple" => Simple
    case "whitespace" => Whitespace
    case "keyword" => Keyword
    case "ngram" => NGram()
    case ngram if ngram.startsWith("ngram:") =>
      // parameterized form persisted by SegmentStore.analyzerName:
      // "ngram:<inner>:<min>:<max>" — <inner> may itself be a parameterized
      // ngram name (NGram over NGram), so parse from the RIGHT: the last two
      // fields are min:max, everything between the prefix and them is the
      // inner name, recursed (ADVICE r4: split-into-exactly-4 made a nested
      // spec write fine and then fail every later open/specChanged).
      val parts = ngram.split(':')
      if (parts.length < 4)
        throw new IllegalArgumentException(s"malformed ngram analyzer name: $ngram")
      val inner = parts.slice(1, parts.length - 2).mkString(":")
      try NGram(byName(inner), parts(parts.length - 2).toInt, parts(parts.length - 1).toInt)
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"malformed ngram analyzer name: $ngram")
      }
    case other => throw new IllegalArgumentException(s"unknown analyzer: $other")
  }
}
