package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.streaming.IncrementalDedup

/** Streaming exact-dedup: within-batch, against history, exactly-once
  * replay, and the Structured Streaming wrapper.
  */
class IncrementalDedupSpec extends SparkSpec {

  test("batches dedup within themselves and against the accepted history") {
    val dir = Files.createTempDirectory("graft-incdedup").toString
    IncrementalDedup.dedupBatch(docsFixture(
      (1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta")), 0L, dir, "doc_id", "text")
    IncrementalDedup.dedupBatch(docsFixture(
      (4L, "gamma delta"), (5L, "epsilon zeta"), (6L, "epsilon zeta")), 1L, dir, "doc_id", "text")

    val clean = IncrementalDedup.readClean(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // batch 0: doc 3 is a within-batch dup of doc 1; batch 1: doc 4 repeats
    // batch 0's "gamma delta", doc 6 is a within-batch dup of doc 5
    assert(clean.toSeq == Seq((1L, "alpha beta"), (2L, "gamma delta"), (5L, "epsilon zeta")))

    // the surviving content set equals one-shot exact dedup over everything
    val all = docsFixture((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"),
      (4L, "gamma delta"), (5L, "epsilon zeta"), (6L, "epsilon zeta"))
    val oneShot = Dedup.exact(all, "doc_id", "text")
      .filter(!col("is_dup")).count()
    assert(clean.length.toLong == oneShot)
  }

  test("literal duplicate rows (same id, same text) in one batch leave one survivor") {
    val dir = Files.createTempDirectory("graft-incdedup-rows").toString
    // a source file delivered twice into the same micro-batch
    val twice = docsFixture((1L, "alpha beta"), (2L, "gamma delta"))
      .union(docsFixture((1L, "alpha beta"), (2L, "gamma delta")))
    IncrementalDedup.dedupBatch(twice, 0L, dir, "doc_id", "text")
    val clean = IncrementalDedup.readClean(spark, dir)
      .collect().map(_.getLong(0)).sorted
    assert(clean.toSeq == Seq(1L, 2L))
  }

  test("a replayed batch is a no-op: no duplicate generation, meta unchanged") {
    val dir = Files.createTempDirectory("graft-incdedup-replay").toString
    IncrementalDedup.dedupBatch(docsFixture((1L, "a"), (2L, "b")), 0L, dir, "doc_id", "text")
    val meta = IncrementalDedup.readMeta(dir)
    IncrementalDedup.dedupBatch(docsFixture((1L, "a"), (2L, "b")), 0L, dir, "doc_id", "text")
    assert(IncrementalDedup.readMeta(dir) == meta)
    assert(IncrementalDedup.readClean(spark, dir).count() == 2L)
  }

  test("crash before the meta write: replay overwrites the same generation, never duplicates") {
    val dir = Files.createTempDirectory("graft-incdedup-crash").toString
    IncrementalDedup.dedupBatch(docsFixture((1L, "a"), (2L, "b")), 0L, dir, "doc_id", "text")
    // simulate the crash window: generation promoted but its commit lost —
    // roll the store back to before its first commit
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/checkpoints/commit.tsv"))
    IncrementalDedup.dedupBatch(docsFixture((1L, "a"), (2L, "b")), 0L, dir, "doc_id", "text")
    assert(IncrementalDedup.readClean(spark, dir).count() == 2L)
    assert(IncrementalDedup.readMeta(dir).lastBatch == 0L)
  }

  test("a dedup commit without lastBatch fails dedupBatch, naming the file") {
    val dir = Files.createTempDirectory("graft-incdedup-torn").toString
    IncrementalDedup.dedupBatch(docsFixture((1L, "a"), (2L, "b")), 0L, dir, "doc_id", "text")
    // a commit that lost its lastBatch: read as -1 it would replay every batch
    val commit = java.nio.file.Paths.get(s"$dir/checkpoints/commit.tsv")
    java.nio.file.Files.writeString(commit, "")
    val e = intercept[IllegalStateException](
      IncrementalDedup.dedupBatch(docsFixture((3L, "c")), 1L, dir, "doc_id", "text"))
    assert(e.getMessage.contains("checkpoints/commit.tsv"), e.getMessage)
    assert(IncrementalDedup.readClean(spark, dir).count() == 2L)
  }

  test("Structured Streaming foreachBatch maintains the clean corpus over arriving files") {
    val src = Files.createTempDirectory("graft-incdedup-src").toString
    val dir = Files.createTempDirectory("graft-incdedup-stream").toString
    docsFixture((1L, "one two"), (2L, "three four"))
      .write.mode(SaveMode.Append).parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = IncrementalDedup.start(src, dir, spark, schema, "doc_id", "text")
    try {
      q.processAllAvailable()
      docsFixture((3L, "one two"), (4L, "five six"))
        .write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val clean = IncrementalDedup.readClean(spark, dir)
      .collect().map(_.getLong(0)).sorted
    assert(clean.toSeq == Seq(1L, 2L, 4L))
  }

  test("readClean on a store with no committed generation is an empty frame (VERDICT r5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incdedup-empty").toString
    assert(IncrementalDedup.readClean(spark, dir).count() == 0L)
  }
}
