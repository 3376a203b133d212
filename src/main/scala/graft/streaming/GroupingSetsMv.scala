package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.DecimalType

/**
 * Incrementally maintained GROUPING SETS summary of an append-only stream — the
 * streaming twin of the `q_grouping_sets` batch shape (per-dim1 rows, per-dim2 rows,
 * grand total, from one Expand), and the multi-grain sibling of the single-grain
 * delta-algebra MV in `cdc_mv_maintain`.
 *
 * Each micro-batch aggregates ONLY ITS OWN rows through the same 3× Expand the batch
 * query uses, then merges the delta into the running summary by (grouping_id, dims)
 * key-sum. count and DECIMAL sum are associative-exact, so at every batch boundary
 * maintained ≡ recomputed-from-scratch, bit for bit — no approximation drift, and
 * derived metrics (avg = s/n) finalize at read time. The summary table is
 * grain-bounded (|dim1| + |dim2| + 1 rows), never corpus-sized.
 *
 * Replay safety (foreachBatch is at-least-once) is by STATE VERSIONING, not
 * coordination — the IngestDedup idiom adapted to a merge that is NOT idempotent by
 * itself (summing the same delta twice double-counts): batch b reads the newest
 * version < b, merges, and overwrites `v=<b>`. A crash-replay of batch b re-reads the
 * SAME predecessor version — its own half-written output can never feed its merge —
 * recomputes the same merge, and the overwrite converges. The [[CommitLog]] decides
 * which versions are committed, refuses a reset checkpoint and prunes after a
 * successful write (the newest version and its predecessor always survive).
 *
 * Scale: the per-batch Expand is 3× the BATCH (not the corpus), the merge joins a
 * grain-bounded state table, and the rewrite cost is O(grain) per batch. At 100 TB
 * grains (billions of keys) use [[BucketedGroupingSetsMv]] — the same lattice and
 * versioning with hash-bucketed state, where a batch rewrites only the buckets its
 * delta touches; the flat store here is the dashboard-grain use-case where O(grain)
 * rewrite is trivially cheap.
 */
object GroupingSetsMv {

  /** One batch's contribution through the same lattice as `q_grouping_sets`:
    * (gid, d1, d2, n, s) — gid = grouping_id(d1, d2): 1 = group-by-d1 rows (d2
    * nulled), 2 = group-by-d2 rows, 3 = grand total. */
  def batchSummary(df: DataFrame, d1: String, d2: String, measure: String): DataFrame =
    df.groupingSets(Seq(Seq(col(d1)), Seq(col(d2)), Seq()), col(d1), col(d2))
      // DECIMAL(38,2), not (18,2): callers feed per-row SQUARED cent values
      // (ev_msprt_incremental / ev_fdr_ebh_incremental second-moment stores), where
      // an event >= ~$10M would overflow 18 digits and silently NULL in non-ANSI
      // mode — 38 digits carries |value| up to ~10^18 cents, the same headroom as
      // the one-shot paths' DECIMAL(38,0) squares
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(col(measure).cast(DecimalType(38, 2))).as("s"))
      .select(col("gid"), col(d1), col(d2), col("n"), col("s"))

  /** Associative key-sum merge of a batch delta into the running summary. */
  private def merge(state: DataFrame, delta: DataFrame, d1: String, d2: String): DataFrame =
    state.unionByName(delta)
      .groupBy(col("gid"), col(d1), col(d2))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("s")).cast(DecimalType(38, 2)).as("s"))

  /** Read one committed version dir, finishing any interrupted in-place compaction
    * first (the [[graft.streaming.IncrementalDecontaminate]] read discipline —
    * without it, a crash mid-swap would surface a half-compacted summary). */
  private def readVersion(spark: SparkSession, stateDir: String, v: Long): DataFrame = {
    val p = new Path(s"$stateDir/v=$v")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sinks.AtomicSwap.finishSwap(fs, p)
    spark.read.parquet(p.toString)
  }

  /**
   * In-place compaction of the NEWEST committed version dir (crash-safe via the
   * [[graft.sinks.AtomicSwap]] manifest swap — rename-first, recoverable from every
   * crash point on the next read). The merge write shuffles on the grouping key, so a
   * grain-bounded summary still lands as one near-empty part file per shuffle
   * partition; long-running maintenance compacts the current version down to one
   * file without touching version bookkeeping (`_SUCCESS` and the prune protocol see
   * only data-file names change). Returns the data-file count after compaction.
   */
  /** Compaction trips only when the state's files are actually SMALL (avg below
    * this), and rewrites to ~`TargetFileBytes` files — never a single-threaded
    * full rewrite of a healthy big state. */
  private[streaming] val SmallFileBytes: Long = 4L << 20
  private[streaming] val TargetFileBytes: Long = 32L << 20

  def compactState(spark: SparkSession, stateDir: String): Int =
    CommitLog.list(spark, stateDir).versions().newest
      .fold(0)(v => compactVersion(spark, s"$stateDir/v=$v"))

  private def compactVersion(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sinks.AtomicSwap.finishSwap(fs, p)
    val data = graft.sinks.AtomicSwap.dataFileNames(fs, p)
    if (data.length <= 1) return data.length
    val totalBytes = data.map(n => fs.getFileStatus(new Path(p, n)).getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / TargetFileBytes).toInt)
    val snapshot = spark.read.parquet(p.toString).localCheckpoint(eager = true)
    val tmp = new Path(p, graft.sinks.AtomicSwap.TmpName)
    fs.delete(tmp, true)
    snapshot.coalesce(nOut).write.mode("overwrite").parquet(tmp.toString)
    graft.sinks.AtomicSwap.commitSwap(fs, p)
    graft.sinks.AtomicSwap.dataFileNames(fs, p).length
  }

  /** Newest committed version id + its summary frame — the migration read of
    * [[AdaptiveGroupingSetsMv]] (None when the store has no committed state). */
  private[streaming] def committedState(spark: SparkSession, stateDir: String,
      below: Long = Long.MaxValue): Option[(Long, DataFrame)] =
    CommitLog.list(spark, stateDir).versions().before(below)
      .map(v => v -> readVersion(spark, stateDir, v))

  /** Apply one micro-batch: read newest version < batchId, merge, overwrite
    * `v=<batchId>`, prune. Returns the maintained summary row count.
    *
    * One [[CommitLog]] listing of the state root serves the reset guard, the prior
    * version and the prune. Only `_SUCCESS`-committed versions count: a crash
    * mid-overwrite leaves a junk `v=` dir that must never feed a merge. Without the
    * reset guard, batch 0 after a checkpoint reset would merge against no prior,
    * write v=0, and the prune would immediately delete it — the batch's data silently
    * dropped and later batches double-counting old state. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      d1: String, d2: String, measure: String, autoCompactFiles: Int = 16): Long = {
    val spark = batch.sparkSession
    val versions = CommitLog.list(spark, stateDir).versions()
    versions.guard("summary state", batchId)
    val prior = versions.before(batchId).map(v => readVersion(spark, stateDir, v))
    val delta = batchSummary(batch, d1, d2, measure)
    val merged = prior.fold(delta)(st => merge(st, delta, d1, d2))
    merged.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
    versions.prune(batchId)
    // auto-compact past the file-count trip (the IncrementalDecontaminate idiom):
    // the merge shuffle leaves one near-empty file per partition on a grain-bounded
    // summary; rewrite the just-committed version, crash-safe. SIZE-GATED (r13): the
    // trip exists for small-file hygiene, so it must not fire on a big state whose
    // per-file size is already healthy — at a 7.2M-key grain the old count-only trip
    // made EVERY batch pay a full single-threaded rewrite of ~200 MB state (the
    // dominant cost in the r12 soak's 16-20 s/batch flat numbers)
    val dataFiles = CommitLog.list(versions.listing.fs, s"$stateDir/v=$batchId").dataFiles
    if (autoCompactFiles > 0 && dataFiles.length > autoCompactFiles &&
      dataFiles.map(_.getLen).sum / dataFiles.length < SmallFileBytes)
      compactVersion(spark, s"$stateDir/v=$batchId"): Unit
    // footer metadata, not a count() job: the returned row count is bookkeeping the
    // parquet footers already carry (one fewer Spark job per micro-batch, guide §1.2)
    graft.sinks.ParquetMeta.rowCount(
      spark.sparkContext.hadoopConfiguration, s"$stateDir/v=$batchId")
  }

  /** The maintained summary at its newest version, with read-time finalization
    * (avg = s/n — derived metrics never live in state). */
  def current(spark: SparkSession, stateDir: String): DataFrame = {
    val v = CommitLog.list(spark, stateDir).versions().newest.getOrElse(
      throw new IllegalStateException(s"no maintained summary at $stateDir"))
    readVersion(spark, stateDir, v)
      .withColumn("avg", round(col("s").cast("double") / col("n"), 6))
  }

  /** Wire into a bounded streaming query (AvailableNow, the IngestDedup pattern). */
  def start(stream: DataFrame, stateDir: String, checkpointDir: String,
      d1: String, d2: String, measure: String): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, stateDir, d1, d2, measure): Unit
      }
      .start()
}
