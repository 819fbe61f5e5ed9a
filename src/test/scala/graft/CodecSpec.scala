package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.index.Codec
import graft.index.Codec.Decoded

/** Compression round-trip + property tests (SURVEY.md §5.2 item 4). */
class CodecSpec extends AnyFunSuite with GenSamples {

  private val postingGen: Gen[Vector[Decoded]] = for {
    n <- Gen.choose(0, 600)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 5000L))
    tfs <- Gen.listOfN(n, Gen.choose(1, 20))
    dls <- Gen.listOfN(n, Gen.choose(1, 400))
  } yield {
    val docIds = gaps.scanLeft(10L)(_ + _).tail
    docIds.lazyZip(tfs).lazyZip(dls).map { (d, tf, dl) =>
      val positions = (0 until tf).scanLeft(0)((p, _) => p + 1 + (d % 7).toInt).tail.toArray
      Decoded(d, tf, dl max tf, positions)
    }.toVector
  }

  test("vlong round-trip") {
    forAll(Gen.choose(0L, Long.MaxValue / 2)) { v =>
      val buf = new Codec.ByteWriter()
      Codec.writeVLong(buf, v)
      val r = new Codec.VByteReader(buf.toArray)
      assert(r.next() === v && r.position === buf.size)
    }
  }

  test("block encode/decode identity over arbitrary sorted posting runs") {
    forAll(postingGen) { run =>
      val blocks = Codec.encode(run.iterator, avgdl = 57.3)
      val decoded = blocks.flatMap(Codec.decode)
      assert(decoded.map(_.docId) === run.map(_.docId))
      assert(decoded.map(_.tf) === run.map(_.tf))
      assert(decoded.map(_.dl) === run.map(_.dl))
      decoded.zip(run).foreach { case (a, b) => assert(a.positions.toSeq === b.positions.toSeq) }
    }
  }

  test("block metadata: bounds, sizes, block-max is an upper bound") {
    forAll(postingGen) { run =>
      whenever(run.nonEmpty) {
        val avgdl = 57.3
        val blocks = Codec.encode(run.iterator, avgdl)
        assert(blocks.map(_.count).sum === run.length)
        assert(blocks.forall(_.count <= Codec.BlockSize))
        assert(blocks.head.firstDoc === run.head.docId)
        assert(blocks.last.lastDoc === run.last.docId)
        // firstDoc/lastDoc ordered and disjoint
        blocks.sliding(2).foreach {
          case Seq(a, b) => assert(a.lastDoc < b.firstDoc)
          case _ =>
        }
        blocks.foreach { b =>
          val docs = Codec.decode(b)
          docs.foreach { d =>
            val norm = d.tf * 2.2 / (d.tf + 1.2 * (0.25 + (0.75 / avgdl) * d.dl))
            assert(norm <= b.maxTfNorm + 1e-12)
            assert(d.tf <= b.maxTf)
          }
        }
      }
    }
  }

  /** Docid-ascending runs as the build's mini-runs carry them: gaps past
    * 2^28, docIds whose in-shard offset nears Int.MaxValue, TEXT postings
    * with tf 1..300 and strictly ascending positions, and STRING postings
    * (position 0, or the element indices of a multi-valued field).
    */
  private val miniRunGen: Gen[Vector[Decoded]] = {
    val text = for {
      tf <- Gen.frequency(8 -> Gen.choose(1, 5), 2 -> Gen.choose(1, 300))
      first <- Gen.choose(0, 1000)
      gaps <- Gen.listOfN(tf - 1, Gen.choose(1, 70))
      extra <- Gen.choose(0, 500)
    } yield {
      val positions = gaps.scanLeft(first)(_ + _).toArray
      (tf, positions.last + 1 + extra, positions)
    }
    val scalarString = Gen.const((1, 1, Array(0)))
    val multiString = for {
      m <- Gen.choose(1, 30)
      tf <- Gen.choose(1, m)
      elems <- Gen.pick(tf, 0 until m)
    } yield (tf, m, elems.sorted.toArray)
    for {
      n <- Gen.choose(1, 300)
      base <- Gen.oneOf(0L, 5000000000L + Int.MaxValue - 100000L)
      gaps <- Gen.listOfN(n - 1, Gen.frequency(9 -> Gen.choose(1L, 40L),
        1 -> Gen.choose(1L << 28, (1L << 28) + 1000L)))
      kind <- Gen.oneOf(text, scalarString, multiString)
      postings <- Gen.listOfN(n, kind)
    } yield gaps.scanLeft(base)(_ + _).zip(postings).map { case (d, (tf, dl, ps)) =>
      Decoded(d, tf, dl, ps)
    }.toVector
  }

  private def flat(d: Decoded) = (d.docId, d.tf, d.dl, d.positions.toSeq)

  /** `run` written as one mini-run stream, its positions passed as slices
    * of one shared array (as the tokenizer hands them over).
    */
  private def stream(run: Seq[Decoded]): (Long, Int, Array[Byte]) = {
    val shared = run.flatMap(_.positions).toArray
    val w = new Codec.RunStreamWriter
    var from = 0
    run.foreach { d => w.add(d.docId, d.tf, d.dl, shared, from); from += d.tf }
    (w.firstDoc, w.count, w.result())
  }

  test("mini-run streams round-trip, merge from any split, and encode to the same postings") {
    forAll(miniRunGen, Gen.listOfN(3, Gen.choose(0.0, 1.0))) { (run, fracs) =>
      val (first, count, bytes) = stream(run)
      val whole = new Codec.RunBuffers(2)
      whole.appendStream(bytes, first, count)
      assert((0 until whole.size).map(i => flat(whole.posting(i))) === run.map(flat))
      // the run cut into several mini-runs, merged in order and out of order
      val cuts = (0 +: fracs.map(f => (f * run.length).toInt).sorted :+ run.length).distinct
      val pieces = cuts.sliding(2).map { case Seq(a, b) => stream(run.slice(a, b)) }.toSeq
      Seq(pieces, pieces.reverse).foreach { order =>
        val merged = new Codec.RunBuffers(2)
        order.foreach { case (f, c, b) => merged.appendStream(b, f, c) }
        merged.sortByDoc()
        assert((0 until merged.size).map(i => flat(merged.posting(i))) === run.map(flat))
        val blocks = new Codec.RunEncoder().encodeLocal(merged)
        assert(blocks.flatMap(Codec.decode).map(flat) === run.map(flat))
      }
    }
  }
}
