package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * The batch bookkeeping every incremental store shares, in one place (the role the
 * offset and commit logs play for every sink in Structured Streaming). It alone
 * decides three things:
 *
 *  1. which batch ids are COMMITTED — a `<prefix><id>` dir (`v=`, `s=`, `w=`, `c=`)
 *     whose marker files all exist (`_SUCCESS`, or one per table such as
 *     `words/_SUCCESS` + `phrases/_SUCCESS`), or a `<prefix><id>` marker FILE
 *     (`_batch_`, `_applied_`) beside an append-only store's data;
 *  2. whether an incoming batch id means the stream's checkpoint was reset against
 *     a surviving state dir — an id below the newest committed one ([[guard]]);
 *  3. what a versioned store deletes after a commit — everything but the [[Keep]]
 *     newest committed versions, uncommitted junk included ([[Versions.prune]]).
 *
 * Every decision reads one [[Listing]] of the store root, so a store lists its
 * root once per batch and reuses the listing for the guard, the choice of prior
 * version and the prune.
 */
object CommitLog {

  /** Committed versions a prune keeps: the one just committed and its predecessor.
    * Fewer would break replay — a crash-replay of batch b must still find the
    * committed version < b it merged against the first time. */
  val Keep = 2

  /** One listing of a store root (no entries when the root does not exist yet). */
  final case class Listing(fs: FileSystem, root: Path, entries: Seq[FileStatus]) {

    /** The committed `<prefix><id>` dirs: those under which every marker exists. */
    def versions(prefix: String = "v=", markers: Seq[String] = Seq("_SUCCESS")): Versions =
      Versions(this, prefix, entries.iterator
        .filter(s => s.getPath.getName.startsWith(prefix) &&
          markers.forall(m => fs.exists(new Path(s.getPath, m))))
        .map(_.getPath.getName.stripPrefix(prefix).toLong)
        .toSeq.sorted)

    /** The newest id recorded as a `<prefix><id>` marker file. */
    def maxMarked(prefix: String = "_batch_"): Option[Long] =
      entries.iterator.map(_.getPath.getName)
        .collect { case n if n.startsWith(prefix) => n.stripPrefix(prefix).toLong }
        .maxOption

    /** Data files directly under the root (markers and hidden files excluded) —
      * what the small-file compaction trips count. */
    def dataFiles: Seq[FileStatus] = entries.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** The committed ids of one versioned layout, ascending. */
  final case class Versions(listing: Listing, prefix: String, ids: Seq[Long]) {
    def newest: Option[Long] = ids.lastOption

    /** The version batch `b` merges against: the newest committed one below it. */
    def before(b: Long): Option[Long] = ids.filter(_ < b).lastOption

    def guard(what: String, batchId: Long): Unit =
      CommitLog.guard(what, listing.root.toString, newest, batchId)

    /** The versions left after committing `b` ([[guard]] has ruled out newer ones). */
    def kept(b: Long): Seq[Long] = (ids.filter(_ < b) :+ b).takeRight(Keep)

    /** Post-commit sweep of `b`: delete every `<prefix>` dir outside [[kept]]. The
      * listing predates the commit, so `b`'s own dir may be missing from it, never
      * extra. */
    def prune(b: Long): Unit = {
      val keep = kept(b).map(v => s"$prefix$v").toSet
      listing.entries.foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith(prefix) && !keep.contains(n)) listing.fs.delete(s.getPath, true): Unit
      }
    }
  }

  def list(fs: FileSystem, dir: String): Listing = {
    val root = new Path(dir)
    val entries =
      try fs.listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    Listing(fs, root, entries)
  }

  def list(spark: SparkSession, dir: String): Listing =
    list(new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration), dir)

  /** Checkpoint-reset guard. An incoming id equal to the newest committed one is a
    * legitimate crash-replay; one BELOW it means the stream's checkpoint was reset
    * independently of the state, and applying it would silently re-admit, drop or
    * double-count data — refuse before any write. */
  def guard(what: String, dir: String, newest: Option[Long], batchId: Long): Unit =
    newest.filter(_ > batchId).foreach { m =>
      throw new IllegalStateException(
        s"$what at $dir has applied batch_id $m > incoming $batchId: the stream's " +
          "checkpoint was reset independently of the state — restore the checkpoint " +
          "or start a fresh state dir")
    }

  /** Record `batchId` as an empty `<prefix><id>` marker file (invisible to parquet
    * readers; reading it back is a directory listing, never a data scan). */
  def mark(fs: FileSystem, dir: String, batchId: Long, prefix: String = "_batch_"): Unit =
    fs.create(new Path(dir, s"$prefix$batchId"), true).close()
}
