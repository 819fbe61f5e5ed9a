package graft

import graft.analysis.Analyzers

/** DuckDB oracle SQL for the training-data pipeline operators (dedup /
  * similarity / text analysis / multimodal metadata) and the relational
  * coverage queries. Hashing is md5-derived in both engines
  * (`('0x'||substr(md5(x),1,15))::BIGINT` ≡ Spark
  * `conv(substring(md5(x),1,15),16,10)`), so signatures match bit-for-bit.
  */
object OpsOracle {

  private val stopList = Analyzers.EnglishStopWords.toSeq.sorted.map(w => s"'$w'").mkString(", ")

  private def h64(expr: String): String = s"('0x'||substr(md5($expr),1,15))::BIGINT"
  private def h32(expr: String): String = s"('0x'||substr(md5($expr),1,8))::BIGINT"

  /** tokens with positions + word-3-gram shingles over documents. */
  private val shingleCtes: String =
    """tok AS (
      |  SELECT doc_id,
      |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
      |         unnest(generate_series(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')))) AS pos
      |  FROM documents
      |),
      |sh AS (
      |  SELECT t1.doc_id AS doc_id, t1.term || ' ' || t2.term || ' ' || t3.term AS shingle
      |  FROM tok t1
      |  JOIN tok t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
      |  JOIN tok t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
      |)""".stripMargin

  val dedupExact: String =
    """WITH h AS (SELECT doc_id, md5(text) AS content_md5 FROM documents),
      |c AS (SELECT content_md5, min(doc_id) AS canonical_id FROM h GROUP BY content_md5)
      |SELECT h.doc_id AS doc_id, c.canonical_id AS canonical_id,
      |       h.doc_id <> c.canonical_id AS is_dup
      |FROM h JOIN c USING (content_md5)""".stripMargin

  def minhashSig(numHashes: Int = 8): String = {
    val mins = (0 until numHashes)
      .map(i => s"min(${h64(s"shingle || '#$i'")}) AS h$i").mkString(",\n       ")
    s"""WITH $shingleCtes
       |SELECT doc_id,
       |       $mins
       |FROM sh GROUP BY doc_id""".stripMargin
  }

  /** Shared LSH candidate CTEs (sig → bands → capped neighbor pairs),
    * mirroring Dedup.lshCandidates: within each band bucket, docs ranked by
    * doc_id pair only with their next `maxNeighbors` successors.
    */
  private def lshCandCtes(numHashes: Int, rowsPerBand: Int, maxNeighbors: Int): String = {
    val mins = (0 until numHashes)
      .map(i => s"min(${h64(s"shingle || '#$i'")}) AS h$i").mkString(", ")
    val bandSelects = (0 until numHashes / rowsPerBand).map { b =>
      val key = (s"'$b'" +: (0 until rowsPerBand).map(r => s"h${b * rowsPerBand + r}::VARCHAR"))
        .mkString(" || '|' || ")
      s"SELECT doc_id, $key AS bucket FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |$bandSelects
       |),
       |ranked AS (
       |  SELECT doc_id, bucket, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
       |  FROM bands
       |),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM ranked x JOIN ranked y
       |    ON x.bucket = y.bucket AND y.rn > x.rn AND y.rn <= x.rn + $maxNeighbors
       |)""".stripMargin
  }

  /** Verified-Jaccard body over `cand` + `sh` CTEs. */
  private val jaccardBody: String =
    """sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |sizes AS (SELECT doc_id, count(*)::DOUBLE AS n FROM sets GROUP BY doc_id),
      |inter AS (
      |  SELECT c.a, c.b, count(*)::DOUBLE AS i
      |  FROM cand c
      |  JOIN sets sa ON sa.doc_id = c.a
      |  JOIN sets sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
      |  GROUP BY c.a, c.b
      |),
      |jac AS (
      |  SELECT c.a AS a, c.b AS b,
      |         floor(coalesce(i.i, 0.0) / (na.n + nb.n - coalesce(i.i, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
      |  FROM cand c
      |  JOIN sizes na ON na.doc_id = c.a
      |  JOIN sizes nb ON nb.doc_id = c.b
      |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
      |)""".stripMargin

  def minhashPairs(numHashes: Int = 8, rowsPerBand: Int = 4, minJaccard: Double = 0.5,
      maxNeighbors: Int = 16): String =
    s"""WITH $shingleCtes,
       |${lshCandCtes(numHashes, rowsPerBand, maxNeighbors)},
       |$jaccardBody
       |SELECT a, b, jaccard FROM jac WHERE jaccard >= $minJaccard""".stripMargin

  def simhash(bits: Int = 32): String = {
    val sums = (0 until bits)
      .map(j => s"sum(CASE WHEN (hh >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(",\n       ")
    val fp = (0 until bits)
      .map(j => s"CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents
       |),
       |h AS (SELECT doc_id, ${h32("term")} AS hh FROM tok),
       |s AS (SELECT doc_id,
       |       $sums
       |FROM h GROUP BY doc_id)
       |SELECT doc_id, ($fp)::BIGINT AS simhash FROM s""".stripMargin
  }

  def ngramJaccardTop(k: Int = 20, numHashes: Int = 8, rowsPerBand: Int = 4,
      maxNeighbors: Int = 16): String =
    s"""WITH $shingleCtes,
       |${lshCandCtes(numHashes, rowsPerBand, maxNeighbors)},
       |$jaccardBody
       |SELECT a, b, jaccard FROM jac
       |ORDER BY jaccard DESC, a ASC, b ASC LIMIT $k""".stripMargin

  // ---- embeddings -------------------------------------------------------

  private def cosineFrom(pairsCte: String): String =
    s"""$pairsCte,
       |u AS (SELECT a, b, unnest(ea) AS x, unnest(eb) AS y FROM p),
       |d AS (SELECT a, b, sum(x::DOUBLE * y::DOUBLE) AS dot,
       |             sum(x::DOUBLE * x::DOUBLE) AS na, sum(y::DOUBLE * y::DOUBLE) AS nb
       |      FROM u GROUP BY a, b)""".stripMargin

  def embedPairsTop(k: Int = 20, bits: Int = 6, maxNeighbors: Int = 32): String = {
    val bucket = (0 until bits)
      .map(i => s"CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH bkt AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings),
       |rk AS (
       |  SELECT vec_id, embedding, bucket,
       |         row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
       |  FROM bkt
       |),
       |${cosineFrom(
      s"""p AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b, x.embedding AS ea, y.embedding AS eb
         |  FROM rk x JOIN rk y
         |    ON x.bucket = y.bucket AND y.rn > x.rn AND y.rn <= x.rn + $maxNeighbors
         |)""".stripMargin).stripPrefix("WITH ")}
       |SELECT a, b, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_r
       |FROM d ORDER BY cos_r DESC, a ASC, b ASC LIMIT $k""".stripMargin
  }

  def annBrute(queryId: Long = 0, k: Int = 10): String =
    s"""WITH ${cosineFrom(
      s"""p AS (
         |  SELECT e.vec_id AS a, $queryId AS b, e.embedding AS ea, q.embedding AS eb
         |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = $queryId) q
         |  WHERE e.vec_id <> $queryId
         |)""".stripMargin)}
       |SELECT a AS vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_r
       |FROM d ORDER BY cos_r DESC, vec_id ASC LIMIT $k""".stripMargin

  def annLsh(queryId: Long = 0, k: Int = 10, bits: Int = 6): String = {
    val bucket = (0 until bits)
      .map(i => s"CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH bkt AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings),
       |${cosineFrom(
      s"""p AS (
         |  SELECT e.vec_id AS a, $queryId AS b, e.embedding AS ea, q.embedding AS eb
         |  FROM bkt e, (SELECT embedding, bucket FROM bkt WHERE vec_id = $queryId) q
         |  WHERE e.bucket = q.bucket AND e.vec_id <> $queryId
         |)""".stripMargin).stripPrefix("WITH ")}
       |SELECT a AS vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_r
       |FROM d ORDER BY cos_r DESC, vec_id ASC LIMIT $k""".stripMargin
  }

  def annMultiprobe(queryId: Long = 0, k: Int = 10, bits: Int = 6, hamming: Int = 1): String = {
    val bucket = (0 until bits)
      .map(i => s"CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH bkt AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings),
       |${cosineFrom(
      s"""p AS (
         |  SELECT e.vec_id AS a, $queryId AS b, e.embedding AS ea, q.embedding AS eb
         |  FROM bkt e, (SELECT embedding, bucket FROM bkt WHERE vec_id = $queryId) q
         |  WHERE bit_count(xor(e.bucket, q.bucket)) <= $hamming AND e.vec_id <> $queryId
         |)""".stripMargin).stripPrefix("WITH ")}
       |SELECT a AS vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_r
       |FROM d ORDER BY cos_r DESC, vec_id ASC LIMIT $k""".stripMargin
  }

  /** Trained-codebook IVF: `iters` Lloyd iterations from the fixed seed
    * centroids, mirroring Similarity.ivfTrainedTopK CTE-for-CTE.
    */
  def annIvfTrained(queryId: Long = 42, k: Int = 10, nCentroids: Int = 8, iters: Int = 2): String = {
    def assignCtes(n: Int, centCte: String): String =
      s"""du$n AS (SELECT e.vid AS vid, c.cid AS cid, unnest(e.v) AS x, unnest(c.ce) AS y
         |        FROM e, $centCte c),
         |dd$n AS (SELECT vid, cid, sum((x::DOUBLE - y::DOUBLE) * (x::DOUBLE - y::DOUBLE)) AS dist
         |        FROM du$n GROUP BY vid, cid),
         |a$n AS (
         |  SELECT vid, cid FROM (
         |    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY dist ASC, cid ASC) AS rn
         |    FROM dd$n
         |  ) WHERE rn = 1
         |)""".stripMargin
    val iterCtes = (0 until iters).map { n =>
      s"""${assignCtes(n, s"c$n")},
         |mx$n AS (SELECT a.cid AS cid, unnest(e.v) AS x, unnest(generate_series(1, len(e.v))) AS i
         |        FROM a$n a JOIN e ON e.vid = a.vid),
         |m$n AS (SELECT cid, list(m ORDER BY i) AS me FROM (
         |          SELECT cid, i, avg(x::DOUBLE) AS m FROM mx$n GROUP BY cid, i
         |        ) GROUP BY cid),
         |c${n + 1} AS (SELECT c$n.cid AS cid, coalesce(m$n.me, c$n.ce) AS ce
         |        FROM c$n LEFT JOIN m$n ON m$n.cid = c$n.cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS vid, embedding AS v FROM embeddings),
       |c0 AS (SELECT vid AS cid, list_transform(v, x -> x::DOUBLE) AS ce FROM e WHERE vid < $nCentroids),
       |$iterCtes,
       |${assignCtes(iters, s"c$iters")},
       |cell AS (
       |  SELECT e.vid AS a, e.v AS ea
       |  FROM e JOIN a$iters av ON av.vid = e.vid
       |  JOIN (SELECT cid FROM a$iters WHERE vid = $queryId) qc ON av.cid = qc.cid
       |  WHERE e.vid <> $queryId
       |),
       |${cosineFrom(
      s"""p AS (
         |  SELECT cell.a AS a, $queryId AS b, cell.ea AS ea, q.v AS eb
         |  FROM cell, (SELECT v FROM e WHERE vid = $queryId) q
         |)""".stripMargin).stripPrefix("WITH ")}
       |SELECT a AS vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_r
       |FROM d ORDER BY cos_r DESC, vec_id ASC LIMIT $k""".stripMargin
  }

  def annIvf(queryId: Long = 42, k: Int = 10, nCentroids: Int = 8): String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $nCentroids),
       |du AS (SELECT e.vec_id AS vid, c.cid AS cid, unnest(e.embedding) AS x, unnest(c.ce) AS y
       |       FROM embeddings e, cent c),
       |dd AS (SELECT vid, cid, sum((x::DOUBLE - y::DOUBLE) * (x::DOUBLE - y::DOUBLE)) AS dist
       |       FROM du GROUP BY vid, cid),
       |assign AS (
       |  SELECT vid, cid FROM (
       |    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY dist ASC, cid ASC) AS rn FROM dd
       |  ) WHERE rn = 1
       |),
       |cell AS (
       |  SELECT e.vec_id AS a, e.embedding AS ea
       |  FROM embeddings e JOIN assign av ON av.vid = e.vec_id
       |  JOIN (SELECT cid FROM assign WHERE vid = $queryId) qc ON av.cid = qc.cid
       |  WHERE e.vec_id <> $queryId
       |),
       |${cosineFrom(
      s"""p AS (
         |  SELECT cell.a AS a, $queryId AS b, cell.ea AS ea, q.embedding AS eb
         |  FROM cell, (SELECT embedding FROM embeddings WHERE vec_id = $queryId) q
         |)""".stripMargin).stripPrefix("WITH ")}
       |SELECT a AS vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_r
       |FROM d ORDER BY cos_r DESC, vec_id ASC LIMIT $k""".stripMargin

  /** nprobe IVF: candidates from the query's `nprobe` L2-nearest cells. */
  def annIvfNprobe(queryId: Long = 42, k: Int = 10, nCentroids: Int = 8, nprobe: Int = 3): String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $nCentroids),
       |du AS (SELECT e.vec_id AS vid, c.cid AS cid, unnest(e.embedding) AS x, unnest(c.ce) AS y
       |       FROM embeddings e, cent c),
       |dd AS (SELECT vid, cid, sum((x::DOUBLE - y::DOUBLE) * (x::DOUBLE - y::DOUBLE)) AS dist
       |       FROM du GROUP BY vid, cid),
       |assign AS (
       |  SELECT vid, cid FROM (
       |    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY dist ASC, cid ASC) AS rn FROM dd
       |  ) WHERE rn = 1
       |),
       |qcells AS (
       |  SELECT cid FROM (
       |    SELECT cid, row_number() OVER (ORDER BY dist ASC, cid ASC) AS rn FROM dd WHERE vid = $queryId
       |  ) WHERE rn <= $nprobe
       |),
       |cell AS (
       |  SELECT e.vec_id AS a, e.embedding AS ea
       |  FROM embeddings e JOIN assign av ON av.vid = e.vec_id
       |  JOIN qcells qc ON av.cid = qc.cid
       |  WHERE e.vec_id <> $queryId
       |),
       |${cosineFrom(
      s"""p AS (
         |  SELECT cell.a AS a, $queryId AS b, cell.ea AS ea, q.embedding AS eb
         |  FROM cell, (SELECT embedding FROM embeddings WHERE vec_id = $queryId) q
         |)""".stripMargin).stripPrefix("WITH ")}
       |SELECT a AS vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_r
       |FROM d ORDER BY cos_r DESC, vec_id ASC LIMIT $k""".stripMargin

  // ---- text analysis ----------------------------------------------------

  val langId: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents
       |),
       |g AS (SELECT doc_id, count(*)::DOUBLE AS n,
       |             sum(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END)::DOUBLE AS stops
       |      FROM tok GROUP BY doc_id),
       |j AS (SELECT d.doc_id AS doc_id, coalesce(g.n, 0.0) AS n, coalesce(g.stops, 0.0) AS stops
       |      FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id),
       |r AS (SELECT doc_id,
       |             floor(stops / greatest(n, 1.0) * 1000000.0 + 0.5) / 1000000.0 AS en_ratio
       |      FROM j)
       |SELECT doc_id, en_ratio,
       |       CASE WHEN en_ratio > 0.05 THEN 'en' ELSE 'und' END AS lang_guess
       |FROM r""".stripMargin

  val quality: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents
       |),
       |t AS (SELECT doc_id, count(*)::DOUBLE AS n, sum(length(term))::DOUBLE AS slen,
       |             sum(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END)::DOUBLE AS stops,
       |             count(DISTINCT term)::DOUBLE AS uniq
       |      FROM tok GROUP BY doc_id),
       |g AS (SELECT d.doc_id AS doc_id, coalesce(t.n, 0.0) AS n, coalesce(t.slen, 0.0) AS slen,
       |             coalesce(t.stops, 0.0) AS stops, coalesce(t.uniq, 0.0) AS uniq
       |      FROM documents d LEFT JOIN t ON t.doc_id = d.doc_id)
       |SELECT doc_id, n::BIGINT AS n_tokens,
       |       floor(slen / greatest(n, 1.0) * 10000.0 + 0.5) / 10000.0 AS mean_token_len,
       |       floor(stops / greatest(n, 1.0) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
       |       floor(uniq / greatest(n, 1.0) * 10000.0 + 0.5) / 10000.0 AS ttr,
       |       floor((4.0 * least(n, 100.0) * greatest(n, 1.0)
       |              + 300.0 * (greatest(n, 1.0) - stops) + 300.0 * uniq)
       |             / (1000.0 * greatest(n, 1.0)) * 10000.0 + 0.5) / 10000.0 AS quality
       |FROM g""".stripMargin

  // ---- sampling / selection ---------------------------------------------

  private def bucketExpr(salt: String): String =
    s"${h64(s"doc_id::VARCHAR || ':$salt'")} % 1000000"

  def sampleHash(rate: Double = 0.25, salt: String = "graft"): String =
    s"""SELECT doc_id, bucket FROM (
       |  SELECT doc_id, ${bucketExpr(salt)} AS bucket FROM documents
       |) WHERE bucket < ${graft.ops.Sampling.threshold(rate)}""".stripMargin

  def sampleStratified(rates: Seq[(String, Double)], defaultRate: Double = 0.1,
      groupCol: String = "source", salt: String = "graft"): String = {
    val cases = rates.map { case (g, r) =>
      s"WHEN $groupCol = '$g' THEN ${graft.ops.Sampling.threshold(r)}"
    }.mkString(" ")
    s"""SELECT doc_id, $groupCol, bucket FROM (
       |  SELECT doc_id, $groupCol, ${bucketExpr(salt)} AS bucket,
       |         CASE $cases ELSE ${graft.ops.Sampling.threshold(defaultRate)} END AS thr
       |  FROM documents
       |) WHERE bucket < thr""".stripMargin
  }

  /** The split-label SQL for a `bucket` column — one builder shared by the
    * split and curate oracles (the Spark twin is `Sampling.splitLabel`).
    * Thresholds come from the SAME `Sampling.threshold` as the Spark side,
    * so the two engines can never disagree on a boundary; a single-label
    * fraction list degenerates to the bare literal (SQL rejects a CASE with
    * zero WHEN branches).
    */
  private def splitCase(fractions: Seq[(String, Double)]): String = {
    // SQL-escape the label (ADVICE r5): a quote in a label name would emit
    // broken oracle SQL; doubling is a no-op for every label used by the
    // gates, so their SQL text is byte-identical
    def q(name: String): String = s"'${name.replace("'", "''")}'"
    val cuts = fractions.map(_._2)
      .scanLeft(0L)((acc, f) => acc + graft.ops.Sampling.threshold(f)).tail
    val whens = fractions.init.zip(cuts.init).map { case ((name, _), cut) =>
      s"WHEN bucket < $cut THEN ${q(name)}"
    }
    if (whens.isEmpty) q(fractions.last._1)
    else s"CASE ${whens.mkString(" ")} ELSE ${q(fractions.last._1)} END"
  }

  /** Train/val/test split by cumulative bucket cuts. */
  def splitAssign(fractions: Seq[(String, Double)], salt: String = "graft"): String =
    s"""SELECT doc_id, bucket,
       |       ${splitCase(fractions)} AS split
       |FROM (SELECT doc_id, ${bucketExpr(salt)} AS bucket FROM documents)""".stripMargin

  /** Distinct shingle hashes per doc + the benchmark/corpus slice split
    * shared by both decontamination oracles.
    */
  private def decontamCtes(benchMod: Int): String =
    s"""$shingleCtes,
       |shh AS (SELECT DISTINCT doc_id, ${h64("shingle")} AS shash FROM sh),
       |bench AS (SELECT DISTINCT shash FROM shh WHERE doc_id % $benchMod = 0),
       |corp AS (SELECT doc_id, shash FROM shh WHERE doc_id % $benchMod <> 0),
       |hits AS (SELECT corp.doc_id AS doc_id, count(*) AS hits
       |         FROM corp JOIN bench USING (shash) GROUP BY corp.doc_id)""".stripMargin

  def decontamHits(benchMod: Int = 17, minHits: Int = 2): String =
    s"""WITH ${decontamCtes(benchMod)}
       |SELECT doc_id, hits, hits >= $minHits AS contaminated FROM hits""".stripMargin

  def decontamClean(benchMod: Int = 17, minHits: Int = 2): String =
    s"""WITH ${decontamCtes(benchMod)}
       |SELECT doc_id FROM documents
       |WHERE doc_id % $benchMod <> 0
       |  AND doc_id NOT IN (SELECT doc_id FROM hits WHERE hits >= $minHits)""".stripMargin

  /** Context-window chunking: per-doc token list, window starts every
    * `stride`, 1-based inclusive list_slice — mirrors Chunking.chunk's
    * sequence/slice shape (both keep the short final window).
    */
  def chunk(chunkSize: Int = 32, stride: Int = 24): String =
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |           FROM documents),
       |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), $stride)) AS start
       |      FROM t WHERE len(toks) > 0)
       |SELECT doc_id, (start // $stride)::BIGINT AS chunk_id,
       |       array_to_string(list_slice(toks, start + 1, start + $chunkSize), ' ') AS chunk_text,
       |       least($chunkSize, len(toks) - start)::BIGINT AS n_tokens
       |FROM s""".stripMargin

  /** Sequence packing: same salted bucket hash as the Spark side, cumulative
    * token sums per bucket in doc_id order (unique keys, so the default
    * RANGE frame equals ROWS in both engines), floor-divided by the budget.
    */
  def pack(budget: Long = 2048L, numBuckets: Int = 32, salt: String = "graft"): String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |         ${h64(s"doc_id::VARCHAR || ':$salt'")} % $numBuckets AS bucket,
       |         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, bucket, n_tokens,
       |             sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum
       |      FROM b)
       |SELECT doc_id, bucket, n_tokens,
       |       floor((cum - n_tokens) / ${budget}.0)::BIGINT AS pack_id
       |FROM c""".stripMargin

  /** Intra-doc repetition: 1 − distinct/total shingles per doc — the exact
    * integer rational TextAnalysis.repetition computes per row.
    */
  val repetition: String =
    s"""WITH $shingleCtes
       |SELECT doc_id,
       |       floor((count(*) - count(DISTINCT shingle))::DOUBLE / count(*)
       |             * 1000000.0 + 0.5) / 1000000.0 AS rep_ratio
       |FROM sh GROUP BY doc_id""".stripMargin

  /** Mean document-frequency over each doc's token instances. */
  val tokenFrequency: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents
       |),
       |vocab AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term)
       |SELECT tok.doc_id AS doc_id,
       |       floor(sum(vocab.df)::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0 AS mean_df
       |FROM tok JOIN vocab USING (term)
       |GROUP BY tok.doc_id""".stripMargin

  /** Chunk-then-pack: the chunk CTE's (doc_id, chunk_id, n_tokens) rows,
    * bucket-hashed on "doc:chunk:salt", cumsummed per bucket in the unique
    * (doc_id, chunk_id) order — mirrors Chunking.chunkPack.
    */
  def chunkPack(chunkSize: Int = 32, stride: Int = 32, budget: Long = 2048L,
      numBuckets: Int = 32, salt: String = "graft"): String =
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |           FROM documents),
       |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), $stride)) AS start
       |      FROM t WHERE len(toks) > 0),
       |c AS (SELECT doc_id, (start // $stride)::BIGINT AS chunk_id,
       |             least($chunkSize, len(toks) - start)::BIGINT AS n_tokens
       |      FROM s),
       |b AS (SELECT doc_id, chunk_id, n_tokens,
       |             ${h64(s"doc_id::VARCHAR || ':' || chunk_id::VARCHAR || ':$salt'")}
       |               % $numBuckets AS bucket
       |      FROM c),
       |w AS (SELECT doc_id, chunk_id, n_tokens, bucket,
       |             sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id, chunk_id) AS cum
       |      FROM b)
       |SELECT doc_id, chunk_id, n_tokens, bucket,
       |       floor((cum - n_tokens) / ${budget}.0)::BIGINT AS pack_id
       |FROM w""".stripMargin

  /** Distinct (doc, shingle) pairs + the corpus-global top-k boilerplate
    * shingle set shared by both boilerplate oracles.
    */
  private def boilerplateCtes(k: Int): String =
    s"""$shingleCtes,
       |d AS (SELECT DISTINCT doc_id, shingle FROM sh),
       |top AS (SELECT shingle, count(*)::BIGINT AS df FROM d GROUP BY shingle
       |        ORDER BY df DESC, shingle ASC LIMIT $k)""".stripMargin

  def boilerplate(k: Int = 20): String =
    s"""WITH ${boilerplateCtes(k)}
       |SELECT shingle, df FROM top""".stripMargin

  def boilerplateRatio(k: Int = 20): String =
    s"""WITH ${boilerplateCtes(k)},
       |n AS (SELECT doc_id, count(*)::DOUBLE AS n_shingles FROM d GROUP BY doc_id),
       |h AS (SELECT d.doc_id AS doc_id, count(*)::DOUBLE AS hits
       |      FROM d JOIN top USING (shingle) GROUP BY d.doc_id)
       |SELECT h.doc_id AS doc_id,
       |       floor(h.hits / n.n_shingles * 1000000.0 + 0.5) / 1000000.0 AS bp_ratio
       |FROM h JOIN n ON n.doc_id = h.doc_id""".stripMargin

  /** The full curation composition: decontaminate (benchMod slice) →
    * exact-dedup (min-id canonical) → quality top-k per group → split
    * assignment — each stage the SAME SQL its standalone oracle uses,
    * re-rooted on the previous stage's CTE.
    */
  def curate(benchMod: Int = 17, minHits: Int = 2, k: Int = 50,
      fractions: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      groupCol: String = "source", salt: String = "graft"): String = {
    s"""WITH ${decontamCtes(benchMod)},
       |kept AS (SELECT d.doc_id, d.text, d.$groupCol FROM documents d
       |         WHERE d.doc_id % $benchMod <> 0
       |           AND d.doc_id NOT IN (SELECT doc_id FROM hits WHERE hits >= $minHits)),
       |canon AS (SELECT md5(text) AS m, min(doc_id) AS cid FROM kept GROUP BY md5(text)),
       |undup AS (SELECT k.doc_id, k.text, k.$groupCol FROM kept k
       |          JOIN canon c ON md5(k.text) = c.m AND k.doc_id = c.cid),
       |ut AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |       FROM undup),
       |t AS (SELECT doc_id, count(*)::DOUBLE AS n,
       |             sum(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END)::DOUBLE AS stops,
       |             count(DISTINCT term)::DOUBLE AS uniq
       |      FROM ut GROUP BY doc_id),
       |g AS (SELECT u.doc_id AS doc_id, u.$groupCol AS $groupCol,
       |             coalesce(t.n, 0.0) AS n, coalesce(t.stops, 0.0) AS stops,
       |             coalesce(t.uniq, 0.0) AS uniq
       |      FROM undup u LEFT JOIN t ON t.doc_id = u.doc_id),
       |q AS (SELECT doc_id, $groupCol,
       |             floor((4.0 * least(n, 100.0) * greatest(n, 1.0)
       |                    + 300.0 * (greatest(n, 1.0) - stops) + 300.0 * uniq)
       |                   / (1000.0 * greatest(n, 1.0)) * 10000.0 + 0.5) / 10000.0 AS quality
       |      FROM g),
       |sel AS (SELECT doc_id, $groupCol, quality, rk FROM (
       |  SELECT doc_id, $groupCol, quality,
       |         row_number() OVER (PARTITION BY $groupCol ORDER BY quality DESC, doc_id ASC) AS rk
       |  FROM q) WHERE rk <= $k)
       |SELECT doc_id, $groupCol, quality, rk,
       |       ${splitCase(fractions)} AS split
       |FROM (SELECT doc_id, $groupCol, quality, rk, ${bucketExpr(salt)} AS bucket FROM sel)""".stripMargin
  }

  /** Top-k per group by the composite quality score — the `quality` CTE's
    * score expression with a per-group row_number window.
    */
  def selectTopKPerGroup(k: Int = 5, groupCol: String = "source"): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents
       |),
       |t AS (SELECT doc_id, count(*)::DOUBLE AS n,
       |             sum(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END)::DOUBLE AS stops,
       |             count(DISTINCT term)::DOUBLE AS uniq
       |      FROM tok GROUP BY doc_id),
       |g AS (SELECT d.doc_id AS doc_id, d.$groupCol AS $groupCol,
       |             coalesce(t.n, 0.0) AS n, coalesce(t.stops, 0.0) AS stops,
       |             coalesce(t.uniq, 0.0) AS uniq
       |      FROM documents d LEFT JOIN t ON t.doc_id = d.doc_id),
       |q AS (SELECT doc_id, $groupCol,
       |             floor((4.0 * least(n, 100.0) * greatest(n, 1.0)
       |                    + 300.0 * (greatest(n, 1.0) - stops) + 300.0 * uniq)
       |                   / (1000.0 * greatest(n, 1.0)) * 10000.0 + 0.5) / 10000.0 AS quality
       |      FROM g)
       |SELECT doc_id, $groupCol, quality, rk FROM (
       |  SELECT doc_id, $groupCol, quality,
       |         row_number() OVER (PARTITION BY $groupCol ORDER BY quality DESC, doc_id ASC) AS rk
       |  FROM q
       |) WHERE rk <= $k""".stripMargin

  val tokenCounts: String =
    """SELECT doc_id,
      |       len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens,
      |       len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS word_tokens,
      |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS bpeish_tokens,
      |       length(text)::BIGINT AS n_chars
      |FROM documents""".stripMargin

  val fingerprint: String =
    """SELECT doc_id,
      |       md5(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))), ' ')) AS fingerprint
      |FROM documents""".stripMargin

  val mmMeta: String =
    """SELECT doc_id, length(text)::BIGINT AS n_bytes, md5(text) AS content_md5
      |FROM documents""".stripMargin

  /** decodeFeatures kernel: byte stats of the UTF-8 payload. The corpus is
    * ASCII (EngineSpec asserts), so bytes == code points and zero_bytes==0.
    */
  val mmDecode: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS c FROM documents
      |),
      |g AS (SELECT doc_id, count(*)::BIGINT AS n, sum(ord(c))::BIGINT AS bsum FROM ch GROUP BY doc_id)
      |SELECT d.doc_id AS doc_id, coalesce(g.n, 0)::BIGINT AS n_bytes,
      |       coalesce(g.bsum, 0)::BIGINT AS byte_sum, 0::BIGINT AS zero_bytes,
      |       md5(d.text) AS content_md5
      |FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id""".stripMargin

  /** frameSample: every 4th 16-byte frame digested. */
  val mmFrames: String =
    """WITH f AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(0, (ceil(length(text) / 16.0))::BIGINT - 1)) AS i
      |  FROM documents WHERE length(text) > 0
      |)
      |SELECT doc_id, i::BIGINT AS frame_idx,
      |       md5(substr(text, (i * 16 + 1)::BIGINT, 16)) AS frame_md5
      |FROM f WHERE i % 4 = 0""".stripMargin

  /** op_maintenance: build → tombstone doc_id%10==0 → optimize. Counts
    * reproduce from the raw table; deleted_after is 0 by construction
    * (optimize drops tombstones physically).
    */
  val maintenance: String =
    """SELECT count(*)::BIGINT AS docs_before,
      |       sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS tombstoned,
      |       sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)::BIGINT AS docs_after,
      |       0::BIGINT AS deleted_after
      |FROM documents WHERE doc_id < 200""".stripMargin

  /** op_incremental: two appended generations, folded by
    * `SegmentStore.open`, give the same doc_count / df as a batch build over
    * the whole corpus.
    */
  val incremental: String =
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents WHERE doc_id < 200
       |),
       |f AS (SELECT * FROM tok WHERE term NOT IN ($stopList))
       |SELECT (SELECT count(DISTINCT doc_id) FROM f)::BIGINT AS doc_count,
       |       (SELECT count(*) FROM f WHERE term = 'spark')::BIGINT AS df_spark""".stripMargin

  // ---- relational coverage (SURVEY.md §2.8) ------------------------------

  val relTopk: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10""".stripMargin

  val relAgg: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |       count(*)::BIGINT AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  val relJoin: String =
    """SELECT o_orderpriority,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |       count(*)::BIGINT AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  val relWindow: String =
    """SELECT event_id, user_id, rn FROM (
      |  SELECT event_id, user_id,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
      |  FROM events
      |) WHERE rn <= 3""".stripMargin

  val relSemi: String =
    """SELECT c_custkey FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders)""".stripMargin

  val relAnti: String =
    """SELECT c_custkey FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin

  val relJson: String =
    """SELECT event_id, regexp_extract(props, '"k": ([0-9]+)', 1)::BIGINT AS k
      |FROM events""".stripMargin

  val relDateRange: String =
    """SELECT event_type, count(*)::BIGINT AS n
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
      |GROUP BY event_type""".stripMargin

  val docidRank: String =
    """SELECT doc_id, row_number() OVER (ORDER BY source ASC, doc_id ASC) - 1 AS stable_docid
      |FROM documents""".stripMargin

  val tokenizeSample: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
       |         unnest(generate_series(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')))) AS pos
       |  FROM documents
       |)
       |SELECT doc_id, term, (pos - 1)::BIGINT AS pos
       |FROM tok WHERE doc_id < 5 AND term NOT IN ($stopList)""".stripMargin

  val indexStats: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents
       |),
       |ftok AS (SELECT * FROM tok WHERE term NOT IN ($stopList)),
       |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM ftok GROUP BY doc_id)
       |SELECT count(*)::BIGINT AS doc_count,
       |       floor(avg(dl) * 10000.0 + 0.5) / 10000.0 AS avgdl FROM dl""".stripMargin
}
