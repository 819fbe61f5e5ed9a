package graft.index

/** Posting-list compression: delta-encoded docIDs in VByte blocks of 128
  * with per-block skip/block-max metadata — the from-scratch rebuild of the
  * posting layer the reference delegates to Lucene's codec (SURVEY.md §2.5,
  * [Lucene public semantics]; block-max metadata per Ding & Suel 2011 for
  * WAND pruning, which the north rule mandates).
  *
  * Per block:
  *  - `firstDoc`/`lastDoc`: skip bounds for `advance(target)`
  *  - `maxTf`, `maxTfNorm`: block-max score bound. `maxTfNorm` is the BM25
  *    tf-normalization part `tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))` maximized
  *    over the block's docs — multiply by a term's idf to get the exact
  *    block score upper bound (avgdl is fixed at encode time from field
  *    stats).
  *  - docIDs delta-VByte; tf and dl VByte; positions delta-VByte per doc
  *    (tf of them), enabling phrase queries.
  */
object Codec {

  val BlockSize = 128

  /** `encAvgdl` is the field avgdl the block-max bound was computed against.
    * When the live index's merged avgdl q differs (incremental appends), the
    * true tf-norm under q is bounded by `maxTfNorm · max(1, q/encAvgdl)`
    * (the avgdl only enters the BM25 denominator as C1 + C2/avgdl with
    * C1, C2 ≥ 0, so the ratio of norms is ≤ q/encAvgdl when q > encAvgdl) —
    * scorers apply that inflation so WAND stays sound across generations.
    *
    * `minPos`/`maxPos` bound every token position stored in the block —
    * per-block PHRASE metadata (COVERAGE round-4 item): a phrase scorer
    * intersects its member terms' current-block position ranges and skips
    * the whole block overlap (never decoding positions) when the ranges
    * can't form a window within the slop.
    */
  final case class Block(
      firstDoc: Long,
      lastDoc: Long,
      count: Int,
      maxTf: Int,
      maxTfNorm: Double,
      encAvgdl: Double,
      minPos: Int,
      maxPos: Int,
      docBytes: Array[Byte],
      tfBytes: Array[Byte],
      dlBytes: Array[Byte],
      posBytes: Array[Byte])

  /** One decoded posting. */
  final case class Decoded(docId: Long, tf: Int, dl: Int, positions: Array[Int])

  /** Growable raw byte buffer — the encode path is allocation-hot (billions
    * of postings at scale); `ArrayBuffer[Byte]` would box every byte.
    */
  final class ByteWriter(initial: Int = 64) {
    private var buf = new Array[Byte](initial)
    private var len = 0
    def append(b: Byte): Unit = {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
      buf(len) = b
      len += 1
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
    def size: Int = len
    /** Reuse across blocks: keeps the grown capacity (encode hot path). */
    def reset(): Unit = len = 0
  }

  // ---- VByte ----------------------------------------------------------
  def writeVLong(out: ByteWriter, v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"vlong must be non-negative: $v")
    while ((v & ~0x7fL) != 0) {
      out.append(((v & 0x7f) | 0x80).toByte)
      v >>>= 7
    }
    out.append(v.toByte)
  }

  /** Cursor over a VByte stream: [[next]] reads one value and advances the
    * position. The decoders walk each block byte array with one cursor, so
    * no value allocates a (value, position) pair.
    */
  final class VByteReader(bytes: Array[Byte], private var pos: Int = 0) {
    def position: Int = pos
    def next(): Long = {
      var b = bytes(pos)
      pos += 1
      var v = b & 0x7fL
      var shift = 7
      while ((b & 0x80) != 0) {
        b = bytes(pos)
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      }
      v
    }
  }

  /** Reads a VLong from `bytes` at `pos`; returns (value, newPos). */
  def readVLong(bytes: Array[Byte], pos: Int): (Long, Int) = {
    val r = new VByteReader(bytes, pos)
    (r.next(), r.position)
  }

  // ---- encode ----------------------------------------------------------

  /** Reusable run encoder — the build's hottest allocator after the
    * tokenizer diet (VERDICT r3 #1b): one instance per encode task, fed
    * docId-sorted runs as primitive parallel arrays. The only allocations
    * per block are the four output byte arrays the Block must own; the
    * writers keep their grown capacity across blocks and runs.
    */
  final class RunEncoder {
    private val docB = new ByteWriter(512)
    private val tfB = new ByteWriter(256)
    private val dlB = new ByteWriter(256)
    private val posB = new ByteWriter(1024)

    /** Encode `len` postings from the parallel arrays into blocks, bounding
      * each block's tf-norm against the fixed reference `avgdl`.
      */
    def encode(
        docIds: Array[Long],
        tfs: Array[Int],
        dls: Array[Int],
        poss: Array[Array[Int]],
        len: Int,
        avgdl: Double): Vector[Block] = encodeImpl(docIds, tfs, dls, poss, len, avgdl)

    /** Encode with a BLOCK-LOCAL reference avgdl (the block's own mean dl).
      * Scorers already inflate each block's bound by `max(1, q/encAvgdl)`
      * against the live avgdl q (see [[Block.encAvgdl]] — the mechanism
      * that keeps WAND sound across incremental generations), so the bound
      * stays sound for ANY reference point. This decouples encoding from
      * global field stats entirely: the build can encode segments in its
      * FIRST corpus pass and derive df/cf/avgdl from segment metadata
      * afterwards, instead of paying a whole stats pass up front.
      */
    def encodeLocal(
        docIds: Array[Long],
        tfs: Array[Int],
        dls: Array[Int],
        poss: Array[Array[Int]],
        len: Int): Vector[Block] = encodeImpl(docIds, tfs, dls, poss, len, Double.NaN)

    private def encodeImpl(
        docIds: Array[Long],
        tfs: Array[Int],
        dls: Array[Int],
        poss: Array[Array[Int]],
        len: Int,
        fixedAvgdl: Double): Vector[Block] = {
      val blocks = Vector.newBuilder[Block]
      var s = 0
      while (s < len) {
        val e = math.min(s + BlockSize, len)
        val avgdl =
          if (!fixedAvgdl.isNaN) fixedAvgdl
          else {
            // block-local reference point: the block's own mean dl (dl ≥ 1
            // for every real posting, so the mean is positive)
            var sum = 0L
            var i = s
            while (i < e) { sum += dls(i); i += 1 }
            sum.toDouble / (e - s)
          }
        docB.reset(); tfB.reset(); dlB.reset(); posB.reset()
        var prev = docIds(s)
        writeVLong(docB, prev) // first docId absolute
        var maxTf = 0
        var maxNorm = 0.0
        var minPos = Int.MaxValue
        var maxPos = -1
        var i = s
        while (i < e) {
          val d = docIds(i)
          if (i > s) {
            writeVLong(docB, d - prev)
            prev = d
          }
          val tf = tfs(i)
          writeVLong(tfB, tf.toLong)
          writeVLong(dlB, dls(i).toLong)
          val positions = poss(i)
          var pPrev = 0
          var j = 0
          while (j < positions.length) {
            val p = positions(j)
            writeVLong(posB, (p - pPrev).toLong)
            pPrev = p
            j += 1
          }
          if (positions.length > 0) {
            if (positions(0) < minPos) minPos = positions(0)
            if (positions(positions.length - 1) > maxPos) maxPos = positions(positions.length - 1)
          }
          if (tf > maxTf) maxTf = tf
          val norm = tf * (IndexBuilder.K1 + 1.0) /
            (tf + IndexBuilder.K1 * ((1.0 - IndexBuilder.B) + (IndexBuilder.B / avgdl) * dls(i)))
          if (norm > maxNorm) maxNorm = norm
          i += 1
        }
        if (minPos == Int.MaxValue) minPos = 0 // no positions stored anywhere in the block
        if (maxPos < 0) maxPos = Int.MaxValue - 1
        blocks += Block(docIds(s), docIds(e - 1), e - s, maxTf, maxNorm, avgdl,
          minPos, maxPos, docB.toArray, tfB.toArray, dlB.toArray, posB.toArray)
        s = e
      }
      blocks.result()
    }
  }

  /** Encode one docId-sorted posting run into blocks. `avgdl` fixes the
    * block-max tf-norm bound. Convenience wrapper over [[RunEncoder]] for
    * the non-hot paths (optimize, tests); the build feeds RunEncoder
    * directly from its reusable buffers.
    */
  def encode(run: Iterator[Decoded], avgdl: Double): Vector[Block] = {
    val buf = run.toArray
    val enc = new RunEncoder
    enc.encode(buf.map(_.docId), buf.map(_.tf), buf.map(_.dl), buf.map(_.positions),
      buf.length, avgdl)
  }

  /** Block-local-avgdl variant of [[encode]] (see [[RunEncoder.encodeLocal]]). */
  def encodeLocal(run: Iterator[Decoded]): Vector[Block] = {
    val buf = run.toArray
    val enc = new RunEncoder
    enc.encodeLocal(buf.map(_.docId), buf.map(_.tf), buf.map(_.dl), buf.map(_.positions),
      buf.length)
  }

  // ---- decode ----------------------------------------------------------

  /** Doc-level view of a block: docIds/tf/dl WITHOUT positions. Positions
    * are the bulk of a positional index's bytes, and term/boolean scoring
    * never reads them — [[Scorers.TermIterator]] decodes docs eagerly and
    * positions only on a phrase scorer's first request for the block.
    */
  final class BlockDocs(val docIds: Array[Long], val tfs: Array[Int], val dls: Array[Int])

  def decodeDocs(b: Block): BlockDocs = {
    val docIds = new Array[Long](b.count)
    val tfs = new Array[Int](b.count)
    val dls = new Array[Int](b.count)
    val docR = new VByteReader(b.docBytes)
    val tfR = new VByteReader(b.tfBytes)
    val dlR = new VByteReader(b.dlBytes)
    var doc = 0L
    var i = 0
    while (i < b.count) {
      doc += docR.next() // the first value is absolute: doc starts at 0
      docIds(i) = doc
      tfs(i) = tfR.next().toInt
      dls(i) = dlR.next().toInt
      i += 1
    }
    new BlockDocs(docIds, tfs, dls)
  }

  /** Decode the whole block's position lists (tf(i) positions per doc). */
  def decodePositions(b: Block, tfs: Array[Int]): Array[Array[Int]] = {
    val out = new Array[Array[Int]](b.count)
    val posR = new VByteReader(b.posBytes)
    var i = 0
    while (i < b.count) {
      val tf = tfs(i)
      val positions = new Array[Int](tf)
      var p = 0
      var j = 0
      while (j < tf) {
        p += posR.next().toInt
        positions(j) = p
        j += 1
      }
      out(i) = positions
      i += 1
    }
    out
  }

  /** The whole block: [[decodeDocs]], then [[decodePositions]]. */
  def decode(b: Block): Array[Decoded] = {
    val d = decodeDocs(b)
    val ps = decodePositions(b, d.tfs)
    Array.tabulate(b.count)(i => Decoded(d.docIds(i), d.tfs(i), d.dls(i), ps(i)))
  }
}
