package graft.index

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.UnsafeRowSerializer

import graft.index.Codec.Block

/** One shard's reader — Lucene's per-segment reader, opened once and held
  * between requests (reference DatabaseIndexer.java:531-535):
  *  - `rows`: the shard's segment rows in (field, term, minDoc) order;
  *  - `byTerm`: the (field, term) → blocks dictionary over those same
  *    `Block` objects, what the scorers read;
  *  - `deleted`: the shard's deleted docIds, sorted (its live docs are the
  *    rest);
  *  - `docSets`: the doc-value matches of a query's typed predicates by
  *    `predId` — empty on a resident reader, filled on a per-query one.
  *
  * [[SegmentIndex.cached]] pins one per shard; an uncached query builds the
  * readers of its filtered rows. Either way [[ShardReader.place]] puts
  * shard `s` in partition `s % P`, and a query is one job over them.
  */
final class ShardReader private (
    val shard: Int,
    val rows: Array[SegmentRow],
    val byTerm: Map[(String, String), IndexedSeq[Block]],
    val deleted: Array[Long],
    val docSets: Map[Int, Array[Long]]) extends Serializable {

  /** The scorers' exclusion test: a deleted doc never enters a heap. */
  def excluded: Long => Boolean =
    if (deleted.isEmpty) _ => false
    else java.util.Arrays.binarySearch(deleted, _) >= 0

  /** This reader with a query's doc sets, and with the query's deletes in
    * place of its own when `replaceDeletes`.
    */
  def withQuery(q: ShardReader, replaceDeletes: Boolean): ShardReader =
    new ShardReader(shard, rows, byTerm, if (replaceDeletes) q.deleted else deleted, q.docSets)
}

object ShardReader {

  /** Doc-set-row term of a deleted doc (a doc-value match's is its predId). */
  private[index] val DeletedTerm = "-1"

  private val RowOrder: Ordering[SegmentRow] = (a, b) => {
    val f = a.field.compareTo(b.field)
    if (f != 0) f
    else {
      val t = a.term.compareTo(b.term)
      if (t != 0) t else java.lang.Long.compare(a.minDoc, b.minDoc)
    }
  }

  private val RowWidth = Encoders.product[SegmentRow].schema.length
  private val BlockWidth = Encoders.product[Block].schema.length

  /** The reader of one shard's rows: doc-set rows
    * ([[SegmentStore.DocSetField]]) become its deletes and doc sets, the
    * rest its postings.
    */
  def apply(shard: Int, rows: Seq[SegmentRow]): ShardReader = {
    val (setRows, postings) = rows.partition(_.field == SegmentStore.DocSetField)
    val ids = setRows.groupBy(_.term).map { case (t, rs) => t -> rs.map(_.minDoc).toArray.sorted }
    val sorted = postings.toArray.sorted(RowOrder)
    val byTerm = Map.newBuilder[(String, String), IndexedSeq[Block]]
    var i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && sorted(j).field == sorted(i).field && sorted(j).term == sorted(i).term) j += 1
      // a term of one row (the common case) shares that row's block list
      byTerm += (sorted(i).field, sorted(i).term) ->
        (if (j == i + 1) sorted(i).blocks.toIndexedSeq else sorted.slice(i, j).flatMap(_.blocks).toIndexedSeq)
      i = j
    }
    new ShardReader(shard, sorted, byTerm.result(),
      ids.getOrElse(DeletedTerm, Array.emptyLongArray),
      (ids - DeletedTerm).map { case (t, a) => t.toInt -> a })
  }

  /** Shard `s` → partition `s % numPartitions`: exact placement. Hashing
    * `shard` into P buckets collides (4 shards hashed into 4 partitions
    * filled only 2), and every empty partition is still one task per query.
    */
  private final class ShardPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = Math.floorMod(key.asInstanceOf[Int], numPartitions)
  }

  /** Place `SegmentRow`-shaped rows (a physical plan's output: UnsafeRows
    * in `SegmentRow` field order) by shard into `p` partitions and build
    * each partition's readers, one per shard present. The one placement of
    * the serving cache and of an uncached query's rows: the shuffle moves
    * the rows' UnsafeRow bytes, and each is decoded once, on the reduce
    * side, without a generated deserializer.
    */
  def place(rows: RDD[InternalRow], p: Int): RDD[ShardReader] = {
    val keyed = rows.mapPartitions(_.map(r => (r.getInt(0), r)))
    new ShuffledRDD[Int, InternalRow, InternalRow](keyed, new ShardPartitioner(p))
      .setSerializer(new UnsafeRowSerializer(RowWidth))
      .mapPartitions(new BuildReaders, preservesPartitioning = true)
  }

  /** Reduce side of [[place]]: group a partition's rows by shard. */
  private final class BuildReaders extends (Iterator[(Int, InternalRow)] => Iterator[ShardReader])
      with Serializable {
    def apply(it: Iterator[(Int, InternalRow)]): Iterator[ShardReader] = {
      val byShard = scala.collection.mutable.LinkedHashMap.empty[Int, scala.collection.mutable.ArrayBuffer[SegmentRow]]
      it.foreach { case (_, r) =>
        val row = segmentRow(r)
        byShard.getOrElseUpdate(row.shard, scala.collection.mutable.ArrayBuffer.empty) += row
      }
      byShard.iterator.map { case (s, rs) => ShardReader(s, rs.toSeq) }
    }
  }

  /** One `SegmentRow` from its UnsafeRow (fields and `Block` fields in
    * declaration order); every array is copied out of the reused row, and
    * the few field names are interned, not held once per row.
    */
  private def segmentRow(r: InternalRow): SegmentRow = {
    val bs = r.getArray(9)
    val blocks = Vector.tabulate(bs.numElements()) { i =>
      val b = bs.getStruct(i, BlockWidth)
      Block(b.getLong(0), b.getLong(1), b.getInt(2), b.getInt(3), b.getDouble(4), b.getDouble(5),
        b.getInt(6), b.getInt(7), b.getBinary(8), b.getBinary(9), b.getBinary(10), b.getBinary(11))
    }
    SegmentRow(r.getInt(0), r.getUTF8String(1).toString.intern(), r.getUTF8String(2).toString,
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getInt(8), blocks)
  }

  /** A (docId, score) result row: 8 bytes of null bits, then two 8-byte
    * fields — written directly, so no projection is generated per query.
    */
  def hitRow(docId: Long, score: Double): UnsafeRow = {
    val r = new UnsafeRow(2)
    r.pointTo(new Array[Byte](24), 24)
    r.setLong(0, docId)
    r.setDouble(1, score)
    r
  }
}

/** One shard's answer to a segment query: its top-k and, for a totals
  * query, its match count (-1 otherwise). A task result, so a retried task
  * cannot count a shard twice.
  */
private[index] final case class ShardHits(shard: Int, total: Long, hits: Seq[(Long, Double)])

/** The task of a segment query's one job: each of the partition's shard
  * readers answers with its top-k — block-max WAND / MAXSCORE where the
  * query allows — or, when `counted`, its exhaustive top-k and match count
  * (pruned scorers skip docs they prove cannot rank, so they cannot count).
  * A named class, not a lambda: `SparkContext.clean` has no closure to walk.
  */
private[index] final class ShardTopK(sq: SQ, k: Int, counted: Boolean)
    extends ((TaskContext, Iterator[ShardReader]) => Array[ShardHits]) with Serializable {
  def apply(ctx: TaskContext, readers: Iterator[ShardReader]): Array[ShardHits] =
    readers.map { r =>
      if (!counted) ShardHits(r.shard, -1L, SegmentSearcher.shardTopK(sq, r.byTerm, k, r.excluded, r.docSets))
      else {
        var n = 0L
        val top = SegmentSearcher.exhaustiveCounted(sq, r.byTerm, k, r.excluded, n += _, r.docSets)
        ShardHits(r.shard, n, top)
      }
    }.toArray
}

/** Zips a partition's resident readers with the query's readers of the same
  * shards (both placed by [[ShardReader.place]]). A shard the query has no
  * rows for gets no doc sets, and keeps its own deletes unless the query's
  * replace them; a shard only the query has rows for is its query reader.
  */
private[index] final class WithQueryRows(replaceDeletes: Boolean)
    extends ((Iterator[ShardReader], Iterator[ShardReader]) => Iterator[ShardReader]) with Serializable {
  def apply(resident: Iterator[ShardReader], query: Iterator[ShardReader]): Iterator[ShardReader] = {
    val q = scala.collection.mutable.LinkedHashMap.empty[Int, ShardReader] ++= query.map(r => r.shard -> r)
    val merged = resident.map { r =>
      q.remove(r.shard) match {
        case Some(x) => r.withQuery(x, replaceDeletes)
        case None if replaceDeletes => r.withQuery(ShardReader(r.shard, Nil), replaceDeletes = true)
        case None => r
      }
    }.toVector
    (merged ++ q.values).iterator
  }
}
