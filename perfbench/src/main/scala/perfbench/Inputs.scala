package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzers
import graft.data.{TranscriptGen, Turn}
import graft.index.{FieldDef, StringField, TextField}

/** Seeded workload inputs: the transcript corpus (written to parquet, so
  * the engine reads a table, not the generator) and the query streams.
  */
object Inputs {

  /** The index spec every workload builds: analyzed text plus the
    * `role:`/`tool:` exact-term fields.
    */
  val Fields: Seq[FieldDef] = Seq(
    FieldDef("default", "text", TextField(Analyzers.Standard)),
    FieldDef("role", "role", StringField),
    FieldDef("tool", "tool", StringField))

  val OrderCols: Seq[String] = Seq("conv_id", "turn_idx")

  val TurnSchema = Encoders.product[Turn].schema

  /** Conversations [lo, hi) of the seeded corpus, written to `path`. */
  def writeConversations(spark: SparkSession, seed: Long, lo: Long, hi: Long, path: String): Unit = {
    import spark.implicits._
    spark.range(lo, hi).flatMap { conv =>
      (0 until TranscriptGen.turnsPerConv(seed, conv)).iterator.map(t => TranscriptGen.genTurn(seed, conv, t))
    }.write.parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TurnSchema).parquet(path)

  /** (rows, UTF-8 bytes of `text`) of a turn table — one aggregation job. */
  def sizeOf(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(octet_length(col("text")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Word of the generator's vocabulary at log-uniform (Zipf s≈1)
    * position `u` in [0, 1): low `u` gives the few very hot words, high `u`
    * the long tail.
    */
  private def zipfWord(u: Double): String = {
    val rank = math.min(TranscriptGen.VocabSize - 1,
      math.exp(u * math.log(TranscriptGen.VocabSize.toDouble)).toInt - 1).max(0)
    TranscriptGen.vocab(rank)
  }

  /** Adjacent word pairs of the sample texts, for phrase queries that hit. */
  def bigrams(texts: Seq[String]): IndexedSeq[(String, String)] =
    texts.flatMap { t =>
      val ws = Analyzers.Standard.tokens(t).map(_.term).filter(_.forall(c => c >= 'a' && c <= 'z'))
      ws.zip(ws.drop(1))
    }.toIndexedSeq

  /** `n` distinct query strings. Shapes cycle through term, AND, OR,
    * phrase, and `role:`/`tool:` conjunctions with a text word. Word ranks
    * are stratified over the Zipf range (query i draws its first word from
    * stratum i of n, its second from a permuted stratum), so every seed
    * gives the same mix of hot-term and rare-term queries — hot-term
    * conjunctions included — with different words.
    */
  def queries(seed: Long, n: Int, pairs: IndexedSeq[(String, String)]): IndexedSeq[String] = {
    val rng = new TranscriptGen.Rng(seed * 0x2545f4914f6cdd1dL + 17L)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0
    while (out.size < n) {
      val w1 = zipfWord(((i % n) + rng.nextDouble()) / n)
      val w2 = zipfWord((((i * 7 + 3) % n) + rng.nextDouble()) / n)
      out += (i % 6 match {
        case 0 => w1
        case 1 => s"$w1 AND $w2"
        case 2 => s"$w1 OR $w2"
        case 3 =>
          val (a, b) = pairs(rng.nextInt(pairs.length))
          "\"" + a + " " + b + "\""
        case 4 => s"role:${TranscriptGen.Roles(i / 6 % TranscriptGen.Roles.length)} AND $w1"
        case _ => s"tool:${TranscriptGen.Tools(i / 6 % TranscriptGen.Tools.length)} AND $w1"
      })
      i += 1
    }
    out.toIndexedSeq
  }

  /** A seeded permutation of 0 until n (Fisher-Yates). */
  def permutation(n: Int, seed: Long): IndexedSeq[Int] = {
    val rng = new TranscriptGen.Rng(seed * 31L + 5L)
    val a = Array.range(0, n)
    (n - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
}
