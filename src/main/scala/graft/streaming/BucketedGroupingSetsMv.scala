package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.DecimalType

/**
 * Bucketed-state variant of [[GroupingSetsMv]] — the billion-key-grain shape the flat
 * store documents as its honest residual: the flat store rewrites the WHOLE summary
 * every batch (O(grain)), which is trivially cheap at dashboard grains and ruinous at
 * 10⁹ keys. Here the state is hash-bucketed on the grouping key and a batch rewrites
 * ONLY the buckets its delta touches — per-batch cost O(batch + dirty-grain), with
 * clean buckets carried forward by REFERENCE in a snapshot manifest, never re-read or
 * re-written.
 *
 * Layout (all commit points are `_SUCCESS` markers, the flat store's discipline):
 * {{{
 *   stateDir/
 *     w=<batchId>/            one Spark job per batch: the merged DIRTY buckets,
 *       _SUCCESS              partitionBy("b") → b=<i>/part-*.parquet subdirs
 *       b=<i>/...
 *     s=<batchId>/            snapshot manifest — THE commit point of the batch
 *       manifest              lines "<bucket> <writeVersion>": bucket i's state
 *       _SUCCESS              lives at w=<writeVersion>/b=<i>
 * }}}
 *
 * Replay safety is the flat store's state-versioning argument, lifted to manifests:
 * batch b merges against the newest COMMITTED snapshot < b, so its own half-written
 * `w=b` (or an uncommitted `s=b`) can never feed its own merge; the overwrite of both
 * converges on replay. The [[CommitLog]] decides which snapshots are committed and
 * runs the shared checkpoint-reset guard (newest snapshot id > incoming batch ⇒ the
 * checkpoint was reset against a surviving state dir — refuse).
 * Bucket assignment is a pure function of the grouping key (`xxhash64 mod nBuckets`),
 * so it needs no stored column and no coordination.
 *
 * 100 TB shape: the manifest is O(nBuckets) lines on the driver; the per-batch write
 * shuffles only delta + dirty-bucket state rows; prune deletes any `w=`/`s=` dir not
 * referenced by the two newest snapshots. Compaction is per-bucket by
 * construction — rewriting bucket i is overwriting `w=<new>/b=<i>` and repointing one
 * manifest line, which is exactly what a batch that touches bucket i already does.
 */
object BucketedGroupingSetsMv {

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed snapshots: a snapshot exists once `s=<id>/_SUCCESS` lands. */
  private def snapshots(fs: FileSystem, stateDir: String): CommitLog.Versions =
    CommitLog.list(fs, stateDir).versions("s=")

  private def readManifest(fs: FileSystem, stateDir: String, snap: Long): Map[Int, Long] = {
    val in = fs.open(new Path(s"$stateDir/s=$snap/manifest"))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    txt.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(b, v) = line.split(' '); b.toInt -> v.toLong
    }.toMap
  }

  private def writeManifest(fs: FileSystem, stateDir: String, snap: Long,
      m: Map[Int, Long]): Unit = {
    val dir = new Path(s"$stateDir/s=$snap")
    fs.delete(dir, true) // replay overwrites an uncommitted (or identical) snapshot
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, "manifest"), true)
    out.write(m.toSeq.sorted.map { case (b, v) => s"$b $v" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    fs.create(new Path(dir, "_SUCCESS"), true).close() // the commit point
  }

  /** The store's bucket assignment as a reusable expression — a pure function of
    * the grouping key, recomputed wherever needed (never stored), so state files
    * and deltas can't disagree. Public so soaks/tests can align batch locality
    * with the store's layout (xxhash64 skips NULL inputs, so the lattice's nulled
    * dims drop out of the hash deterministically). */
  def bucketExpr(gid: org.apache.spark.sql.Column, d1: org.apache.spark.sql.Column,
      d2: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(gid, d1, d2), lit(nBuckets)).cast("int")

  private def bucketCol(d1: String, d2: String, nBuckets: Int) =
    bucketExpr(col("gid"), col(d1), col(d2), nBuckets)

  private def bucketPath(stateDir: String, v: Long, b: Int) = s"$stateDir/w=$v/b=$b"

  /** The hash spec a store's layout is committed to — written into `meta` so a
    * probe can never silently disagree with the files on disk. */
  private def hashSpec(d1: String, d2: String) = s"xxhash64(gid,$d1,$d2)"

  /** Persist-or-validate the store's bucketing parameters (`stateDir/meta`).
    * Bucket assignment is recomputed from `nBuckets` on every batch; state files
    * written under one modulus and deltas hashed under another would split the same
    * grouping key across an old-hash clean bucket and a new-hash dirty bucket, and
    * `current()` (a plain union, no re-aggregation) would report the key twice with
    * nothing failing. So the FIRST batch writes `nBuckets` + the hash spec into a
    * meta file, and every later batch refuses loudly on mismatch — the same
    * fail-loudly discipline as the checkpoint-reset guard. */
  private def checkOrWriteMeta(fs: FileSystem, stateDir: String,
      nBuckets: Int, d1: String, d2: String): Unit = {
    val p = new Path(s"$stateDir/meta")
    val want = s"nBuckets=$nBuckets\nhash=${hashSpec(d1, d2)}\n"
    if (fs.exists(p)) {
      val in = fs.open(p)
      val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      if (got != want) throw new IllegalStateException(
        s"bucketed summary state at $stateDir was created with [${got.trim
          .replace("\n", ", ")}] but this run supplies [${want.trim.replace("\n", ", ")}]: " +
          "bucket assignment is a pure function of these parameters, so continuing " +
          "would split grouping keys across old-hash and new-hash buckets and " +
          "double-report them — rebuild the state dir or restore the original parameters")
    } else {
      fs.mkdirs(new Path(stateDir))
      val out = fs.create(p, true)
      out.write(want.getBytes("UTF-8"))
      out.close()
    }
  }

  /** The committed bucket count of an existing store (None before first batch) —
    * lets [[AdaptiveGroupingSetsMv]] resume a store without the caller having to
    * remember the auto-selected modulus. */
  private[streaming] def committedBuckets(spark: SparkSession, stateDir: String): Option[Int] =
    metaBuckets(fsOf(spark, stateDir), stateDir)

  private def metaBuckets(fs: FileSystem, stateDir: String): Option[Int] = {
    val p = new Path(s"$stateDir/meta")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      txt.linesIterator.collectFirst {
        case l if l.startsWith("nBuckets=") => l.stripPrefix("nBuckets=").toInt
      }
    }
  }

  /** Apply one micro-batch: aggregate the batch through the grouping-sets lattice,
    * merge into ONLY the buckets the delta touches, commit a new snapshot manifest
    * that repoints dirty buckets and carries clean ones forward by reference.
    * Returns the number of dirty buckets (the rewrite surface — the soak's metric). */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      d1: String, d2: String, measure: String,
      nBuckets: Int = 16): Int = {
    require(nBuckets > 0)
    val spark = batch.sparkSession
    val fs = fsOf(spark, stateDir)
    checkOrWriteMeta(fs, stateDir, nBuckets, d1, d2)
    val snaps = snapshots(fs, stateDir)
    snaps.guard("bucketed summary state", batchId)
    val priorSnap = snaps.before(batchId)
    val priorManifest = priorSnap.map(readManifest(fs, stateDir, _)).getOrElse(Map.empty)

    val delta = GroupingSetsMv.batchSummary(batch, d1, d2, measure)
      .withColumn("b", bucketCol(d1, d2, nBuckets))
      .localCheckpoint(eager = true) // delta is grain-of-batch-bounded; pin it so the
                                     // dirty-bucket read and the merge share one pass
    val dirty = delta.select("b").distinct().collect().map(_.getInt(0)).sorted
    if (dirty.isEmpty) { // empty batch: snapshot carries everything forward
      writeManifest(fs, stateDir, batchId, priorManifest)
      prune(fs, stateDir, snaps, batchId)
      return 0
    }
    val priorDirtyPaths = dirty.toSeq.flatMap(b =>
      priorManifest.get(b).map(v => bucketPath(stateDir, v, b)))
    val priorDirty = if (priorDirtyPaths.isEmpty) None
      else Some(spark.read.parquet(priorDirtyPaths: _*))
    val merged = priorDirty.fold(delta.drop("b")) { st =>
      st.unionByName(delta.drop("b"))
        .groupBy(col("gid"), col(d1), col(d2))
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("s")).cast(DecimalType(38, 2)).as("s"))
    }
    // repartition BY BUCKET before partitionBy (r13): without it every shuffle task
    // holding rows of bucket i opens its own file under b=i, so a write lands up to
    // tasks × dirtyBuckets files and the NEXT batch's prior-read reopens them all —
    // at a 7.2M-key grain and 256 buckets that was ~3000 small files per batch (the
    // r13 uniform soak measured the 256-bucket store SLOWER than the all-dirty
    // 16-bucket one purely on file-count overhead). One exchange of dirty-grain
    // rows buys ~one file per bucket on both the write and every later read.
    merged.withColumn("b", bucketCol(d1, d2, nBuckets))
      .repartition(math.max(dirty.length, 1), col("b"))
      .write.mode("overwrite").partitionBy("b").parquet(s"$stateDir/w=$batchId")
    val newManifest = priorManifest ++ dirty.map(_ -> batchId)
    writeManifest(fs, stateDir, batchId, newManifest) // commit point
    prune(fs, stateDir, snaps, batchId)
    dirty.length
  }

  /** Whether the store holds any committed snapshot — the mode probe of
    * [[AdaptiveGroupingSetsMv]]. */
  private[streaming] def hasState(spark: SparkSession, stateDir: String): Boolean =
    snapshots(fsOf(spark, stateDir), stateDir).newest.nonEmpty

  /** Seed the store from an ALREADY-AGGREGATED summary (the flat store's committed
    * state) as a committed snapshot at `batchId` — the migration half-step of
    * [[AdaptiveGroupingSetsMv]]. Overwrite-convergent on replay: a crash mid-seed
    * leaves an uncommitted snapshot (invisible), and re-seeding overwrites both the
    * write dir and the manifest. The manifest lists exactly the buckets the write
    * produced (an empty bucket writes no dir and gets no manifest line). */
  private[streaming] def seedFromSummary(summary: DataFrame, batchId: Long,
      stateDir: String, d1: String, d2: String, nBuckets: Int): Unit = {
    require(nBuckets > 0)
    val spark = summary.sparkSession
    val fs = fsOf(spark, stateDir)
    checkOrWriteMeta(fs, stateDir, nBuckets, d1, d2)
    snapshots(fs, stateDir).newest.filter(_ > batchId).foreach { m =>
      throw new IllegalStateException(
        s"cannot seed $stateDir at batch $batchId: it already has snapshot $m")
    }
    summary.withColumn("b", bucketCol(d1, d2, nBuckets))
      .repartition(nBuckets, col("b")) // ~one file per bucket (see applyBatch)
      .write.mode("overwrite").partitionBy("b").parquet(s"$stateDir/w=$batchId")
    val present = fs.listStatus(new Path(s"$stateDir/w=$batchId")).iterator
      .map(_.getPath.getName).filter(_.startsWith("b="))
      .map(_.stripPrefix("b=").toInt).toSeq
    writeManifest(fs, stateDir, batchId, present.map(_ -> batchId).toMap)
  }

  /** After committing snapshot `b`: keep the snapshots [[CommitLog]] keeps; delete
    * every other `s=` dir and every `w=` dir no kept manifest references (which also
    * sweeps uncommitted junk left by crashes — an uncommitted dir is unreferencable).
    * `snaps` is the listing taken before the commit; a dir this batch created is
    * missing from it, and is referenced by `b`'s manifest anyway. */
  private def prune(fs: FileSystem, stateDir: String, snaps: CommitLog.Versions,
      b: Long): Unit = {
    val keepSnaps = snaps.kept(b)
    val referenced = keepSnaps.flatMap(readManifest(fs, stateDir, _).values).toSet
    val keepS = keepSnaps.map(v => s"s=$v").toSet
    snaps.listing.entries.foreach { st =>
      val n = st.getPath.getName
      val drop = (n.startsWith("s=") && !keepS.contains(n)) ||
        (n.startsWith("w=") && !referenced.contains(n.stripPrefix("w=").toLong))
      if (drop) fs.delete(st.getPath, true): Unit
    }
  }

  /** The maintained summary at the newest committed snapshot: union of every bucket
    * at its manifest-pinned version, with the flat store's read-time finalization. */
  def current(spark: SparkSession, stateDir: String): DataFrame = {
    val fs = fsOf(spark, stateDir)
    val snap = snapshots(fs, stateDir).newest.getOrElse(
      throw new IllegalStateException(s"no maintained summary at $stateDir"))
    val manifest = readManifest(fs, stateDir, snap)
    require(manifest.nonEmpty, s"snapshot s=$snap at $stateDir is empty")
    // internal-consistency guard: every manifest bucket must fall under the modulus
    // the meta file committed to (a shrunk-nBuckets rewrite that skipped the meta
    // check would leave out-of-range buckets behind — surface it at read time too)
    metaBuckets(fs, stateDir).foreach { n =>
      val bad = manifest.keys.filter(_ >= n)
      if (bad.nonEmpty) throw new IllegalStateException(
        s"snapshot s=$snap at $stateDir references buckets ${bad.toSeq.sorted.mkString(",")} " +
          s"outside the meta-committed nBuckets=$n — the state dir was written under " +
          "mixed bucketing parameters and cannot be read safely")
    }
    val paths = manifest.toSeq.map { case (b, v) => bucketPath(stateDir, v, b) }
    spark.read.parquet(paths: _*)
      .withColumn("avg", round(col("s").cast("double") / col("n"), 6))
  }

  /** Wire into a bounded streaming query (AvailableNow, the IngestDedup pattern). */
  def start(stream: DataFrame, stateDir: String, checkpointDir: String,
      d1: String, d2: String, measure: String, nBuckets: Int = 16): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, stateDir, d1, d2, measure, nBuckets): Unit
      }
      .start()
}
