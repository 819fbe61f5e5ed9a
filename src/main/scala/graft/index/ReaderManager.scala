package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Near-real-time reader management — the Spark re-expression of the
  * reference's reader refresh + HTTP ETag pair
  * (/root/reference/src/main/java/com/github/rnewson/couchdb/lucene/DatabaseIndexer.java:436-452
  * `getETag`/IndexState.refresh; Lucene's SearcherManager.maybeRefresh):
  * a serving tier holds one cached [[SegmentIndex]] per index dir and
  * swaps it only when the on-disk commit state actually advanced, detected
  * by a cheap version token instead of re-reading the index.
  */
object ReaderManager {

  /** Freshness token — the ETag analog: a digest of the index dir's commit
    * surface (the commit file, generation file names + sizes, tombstone
    * files). Changes iff a commit advanced the index: a new appended
    * generation, an optimize swap, a spec rewrite, or new tombstones.
    * Pure metadata walk — never opens parquet data.
    */
  def version(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def feed(sub: String): Unit = {
      val p = Paths.get(dir, sub)
      if (Files.exists(p)) {
        val entries = scala.util.Using.resource(Files.list(p))(
          _.toArray.map(_.asInstanceOf[java.nio.file.Path]))
          .map(f => s"$sub/${f.getFileName}:${if (Files.isRegularFile(f)) Files.size(f) else -1L}")
          .sorted
        entries.foreach(e => md.update(e.getBytes("UTF-8")))
      }
    }
    // checkpoints carries the commit (spec, field stats, appender position);
    // segments/termstats/tombstones/stored catch generation promotion and
    // optimize swaps even when the commit's size alone wouldn't change
    Seq("checkpoints", "segments", "termstats", "tombstones", "stored").foreach(feed)
    md.digest().map("%02x".format(_)).mkString
  }
}

/** One serving reader over an index dir: `acquire()` returns the current
  * cached snapshot with no IO; `maybeRefresh()` re-opens (folded
  * generations, tombstones) and pins the new snapshot's shard readers ONLY
  * when [[ReaderManager.version]] moved, releasing the superseded
  * snapshot's readers.
  * The `etag` is stable across acquires of the same snapshot — a caching
  * HTTP façade would serve 304s off it exactly like the reference.
  */
final class IndexReaderManager(spark: SparkSession, dir: String) {

  @volatile private var snapshot: (String, SegmentIndex) = open()

  private def open(): (String, SegmentIndex) = {
    val v = ReaderManager.version(dir)
    (v, SegmentStore.open(spark, dir).cached())
  }

  /** Current snapshot — no freshness check, no IO (the `stale=ok` path). */
  def acquire(): SegmentIndex = snapshot._2

  /** The current snapshot's version token (ETag analog). */
  def etag: String = snapshot._1

  /** Re-open iff the on-disk index advanced; returns true when a new
    * snapshot was installed. Readers holding the old snapshot keep
    * working until their queries finish (unpersist is non-blocking).
    */
  def maybeRefresh(): Boolean = synchronized {
    val v = ReaderManager.version(dir)
    if (v == snapshot._1) false
    else {
      val old = snapshot._2
      snapshot = open()
      old.unpersist(blocking = false)
      true
    }
  }
}

/** The process's one reader per index dir — Lucene's one searcher per
  * index: `graft_search` and `Engine.segmentIndex` serve from the same
  * cached snapshot instead of each pinning its own copy.
  */
object IndexReaderManager {

  private val managers = scala.collection.mutable.HashMap.empty[String, IndexReaderManager]

  /** The dir's manager, opened (and its snapshot cached) on first use. */
  def of(spark: SparkSession, dir: String): IndexReaderManager = synchronized {
    managers.getOrElseUpdate(dir, new IndexReaderManager(spark, dir))
  }

  /** Release every manager's snapshot storage and forget the managers. */
  def releaseAll(): Unit = synchronized {
    managers.values.foreach(_.acquire().unpersist(blocking = false))
    managers.clear()
  }
}
