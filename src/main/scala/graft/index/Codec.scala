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

  // ---- posting runs ---------------------------------------------------

  /** One docId-ascending posting run as ONE VByte stream — a build
    * mini-run's payload from the tokenizer to the encoder
    * ([[SegmentStore.MiniRun]]), as Lucene's in-RAM postings are VInt byte
    * slices, not an object per posting. Per posting: the docId's delta from
    * the previous posting's (none for the first, whose docId travels beside
    * the stream), tf, dl, then its tf positions delta-coded from 0 — the
    * VByte values the blocks store. Read back by [[RunBuffers.appendStream]].
    */
  final class RunStreamWriter {
    private val out = new ByteWriter(16)
    private var n = 0
    private var first = 0L
    private var last = 0L
    def count: Int = n
    def firstDoc: Long = first
    def lastDoc: Long = last

    /** Append a posting whose positions are `positions(from until from + tf)`,
      * ascending; `docId` must not precede [[lastDoc]].
      */
    def add(docId: Long, tf: Int, dl: Int, positions: Array[Int], from: Int): Unit = {
      if (n == 0) first = docId else writeVLong(out, docId - last)
      last = docId
      writeVLong(out, tf.toLong)
      writeVLong(out, dl.toLong)
      var prev = 0
      var j = from
      while (j < from + tf) {
        val p = positions(j)
        writeVLong(out, (p - prev).toLong)
        prev = p
        j += 1
      }
      n += 1
    }

    def result(): Array[Byte] = out.toArray
    def reset(): Unit = { out.reset(); n = 0 }
  }

  /** Reusable primitive buffers of one posting run: parallel docId, tf and
    * dl arrays, and every posting's positions in ONE flat array — posting
    * `i`'s tf positions start at `posStart(i)`. The build's encode tasks
    * decode a key's mini-run streams in here and [[RunEncoder]] reads the
    * run from it; the arrays keep their grown capacity across runs.
    */
  final class RunBuffers(initial: Int = 1024) {
    private[index] var n = 0
    private[index] var docIds = new Array[Long](initial)
    private[index] var tfs = new Array[Int](initial)
    private[index] var dls = new Array[Int](initial)
    private[index] var posStart = new Array[Int](initial)
    private[index] var positions = new Array[Int](4 * initial)
    private var nPos = 0

    def size: Int = n
    def clear(): Unit = { n = 0; nPos = 0 }

    /** Room for one more posting with `tf` positions. */
    private def reserve(tf: Int): Unit = {
      if (n == docIds.length) {
        val c = n * 2
        docIds = java.util.Arrays.copyOf(docIds, c)
        tfs = java.util.Arrays.copyOf(tfs, c)
        dls = java.util.Arrays.copyOf(dls, c)
        posStart = java.util.Arrays.copyOf(posStart, c)
      }
      if (nPos + tf > positions.length)
        positions = java.util.Arrays.copyOf(positions, math.max(positions.length * 2, nPos + tf))
    }

    def add(docId: Long, tf: Int, dl: Int, pos: Array[Int], from: Int): Unit = {
      reserve(tf)
      docIds(n) = docId; tfs(n) = tf; dls(n) = dl; posStart(n) = nPos
      System.arraycopy(pos, from, positions, nPos, tf)
      nPos += tf
      n += 1
    }

    /** Append the `count` postings of a [[RunStreamWriter]] stream whose
      * first docId is `firstDoc`.
      */
    def appendStream(bytes: Array[Byte], firstDoc: Long, count: Int): Unit = {
      val r = new VByteReader(bytes)
      var doc = firstDoc
      var i = 0
      while (i < count) {
        if (i > 0) doc += r.next()
        val tf = r.next().toInt
        reserve(tf)
        docIds(n) = doc; tfs(n) = tf; dls(n) = r.next().toInt; posStart(n) = nPos
        var p = 0
        var j = 0
        while (j < tf) {
          p += r.next().toInt
          positions(nPos + j) = p
          j += 1
        }
        nPos += tf
        n += 1
        i += 1
      }
    }

    /** Stable sort of the run by docId — the rare case of overlapping
      * mini-runs. Each posting's positions stay in place; its offset moves.
      */
    def sortByDoc(): Unit = {
      val idx = Array.range(0, n).sortBy(docIds(_))
      val d = idx.map(docIds(_)); val t = idx.map(tfs(_))
      val l = idx.map(dls(_)); val s = idx.map(posStart(_))
      System.arraycopy(d, 0, docIds, 0, n)
      System.arraycopy(t, 0, tfs, 0, n)
      System.arraycopy(l, 0, dls, 0, n)
      System.arraycopy(s, 0, posStart, 0, n)
    }

    /** Posting `i` as a [[Decoded]] (allocates: for checks, not the build). */
    def posting(i: Int): Decoded = Decoded(docIds(i), tfs(i), dls(i),
      java.util.Arrays.copyOfRange(positions, posStart(i), posStart(i) + tfs(i)))
  }

  // ---- encode ----------------------------------------------------------

  /** Reusable run encoder — the build's hottest allocator after the
    * tokenizer diet (VERDICT r3 #1b): one instance per encode task, fed
    * docId-sorted runs in [[RunBuffers]]. The only allocations per block
    * are the four output byte arrays the Block must own; the writers keep
    * their grown capacity across blocks and runs.
    */
  final class RunEncoder {
    private val docB = new ByteWriter(512)
    private val tfB = new ByteWriter(256)
    private val dlB = new ByteWriter(256)
    private val posB = new ByteWriter(1024)

    /** Encode the run into blocks, bounding each block's tf-norm against
      * the fixed reference `avgdl`.
      */
    def encode(run: RunBuffers, avgdl: Double): Vector[Block] = encodeImpl(run, avgdl)

    /** Encode with a BLOCK-LOCAL reference avgdl (the block's own mean dl).
      * Scorers already inflate each block's bound by `max(1, q/encAvgdl)`
      * against the live avgdl q (see [[Block.encAvgdl]] — the mechanism
      * that keeps WAND sound across incremental generations), so the bound
      * stays sound for ANY reference point. This decouples encoding from
      * global field stats entirely: the build can encode segments in its
      * FIRST corpus pass and derive df/cf/avgdl from segment metadata
      * afterwards, instead of paying a whole stats pass up front.
      */
    def encodeLocal(run: RunBuffers): Vector[Block] = encodeImpl(run, Double.NaN)

    private def encodeImpl(run: RunBuffers, fixedAvgdl: Double): Vector[Block] = {
      val docIds = run.docIds
      val tfs = run.tfs
      val dls = run.dls
      val posStart = run.posStart
      val positions = run.positions
      val len = run.n
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
          val ps = posStart(i)
          var pPrev = 0
          var j = ps
          while (j < ps + tf) {
            val p = positions(j)
            writeVLong(posB, (p - pPrev).toLong)
            pPrev = p
            j += 1
          }
          if (tf > 0) {
            if (positions(ps) < minPos) minPos = positions(ps)
            if (positions(ps + tf - 1) > maxPos) maxPos = positions(ps + tf - 1)
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

  /** A docId-sorted posting iterator in [[RunBuffers]]; each posting must
    * carry `tf` positions, as [[decode]] reads back `tf` of them.
    */
  private def buffered(run: Iterator[Decoded]): RunBuffers = {
    val buf = new RunBuffers(16)
    run.foreach { d =>
      require(d.positions.length == d.tf,
        s"docId ${d.docId}: ${d.positions.length} positions for tf ${d.tf}")
      buf.add(d.docId, d.tf, d.dl, d.positions, 0)
    }
    buf
  }

  /** Encode one docId-sorted posting run into blocks. `avgdl` fixes the
    * block-max tf-norm bound. Convenience wrapper over [[RunEncoder]] for
    * the non-hot paths (tests, kernels); the build feeds RunEncoder
    * directly from its reusable buffers.
    */
  def encode(run: Iterator[Decoded], avgdl: Double): Vector[Block] =
    new RunEncoder().encode(buffered(run), avgdl)

  /** Block-local-avgdl variant of [[encode]] (see [[RunEncoder.encodeLocal]]). */
  def encodeLocal(run: Iterator[Decoded]): Vector[Block] =
    new RunEncoder().encodeLocal(buffered(run))

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
