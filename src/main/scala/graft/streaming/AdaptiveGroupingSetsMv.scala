package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Grain-adaptive GROUPING SETS summary store (VERDICT r12 stretch #7): starts as
 * the flat [[GroupingSetsMv]] (one O(grain) rewrite per batch — the cheapest shape
 * below ~10⁵ keys, where the bucketed store's manifest/commit overhead dominates:
 * measured 0.71 s flat vs 0.67 s bucketed at 97k keys but 16.5 s vs 1.58 s at 7.2M,
 * SCALING.md round-12) and TRIPS to [[BucketedGroupingSetsMv]] when the committed
 * grain crosses `grainThreshold` — closing the operational gap of a user picking
 * the wrong store for a grain they can't predict.
 *
 * Layout: `stateDir/flat` (the flat store's `v=` versions) until the trip, then
 * `stateDir/bkt` (the bucketed store's `w=`/`s=`/meta layout). The MODE is read
 * from committed state, never from memory: a committed bucketed snapshot means
 * bucketed mode, forever (the trip is one-way — grain only grows under an
 * append-only merge).
 *
 * Migration (the trip at batch b) is replay-safe by construction:
 *  1. the decision reads the COMMITTED flat grain (< b) — deterministic on replay;
 *  2. the flat state is seeded into the bucketed store as committed snapshot b−1
 *     (overwrite-convergent; a crash mid-seed leaves an uncommitted, invisible
 *     snapshot and the replay re-seeds);
 *  3. batch b itself applies through the bucketed store against the seed;
 *  4. only then is the flat dir deleted (a crash before the delete leaves an
 *     orphan the next bucketed batch sweeps — reads already prefer bucketed state).
 * A crash at ANY point replays into the same committed-state decision and
 * converges; the parquet row-count the decision reads is footer metadata, not a
 * data scan.
 */
object AdaptiveGroupingSetsMv {

  private def flatDir(stateDir: String) = s"$stateDir/flat"
  private def bktDir(stateDir: String) = s"$stateDir/bkt"

  /** Auto bucket selection at migration time (nBuckets = 0): size the modulus to
    * the grain that triggered the trip — target ~50k keys per bucket (per-bucket
    * state bounds the rewrite; SCALING.md round-13 guidance), power of two,
    * clamped to [16, 4096]. The chosen value is persisted in the bucketed store's
    * meta file, so RESUMING batches read it from there instead of re-deriving. */
  private[graft] def autoBuckets(grain: Long): Int = {
    val want = math.min(4096L, (grain + 49999) / 50000).toInt // Long math: no overflow
    val pow2 = Integer.highestOneBit(math.max(1, want - 1)) * 2
    math.min(4096, math.max(16, pow2))
  }

  /** Apply one micro-batch; returns the mode that handled it
    * ("flat" | "migrated" | "bucketed") — the soak/test observability hook.
    * `nBuckets = 0` (the default) auto-selects the modulus from the committed
    * grain at migration time and reads it back from the store's meta afterwards. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      d1: String, d2: String, measure: String,
      nBuckets: Int = 0, grainThreshold: Long = 100000L): String = {
    val spark = batch.sparkSession
    val fs = new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BucketedGroupingSetsMv.hasState(spark, bktDir(stateDir))) {
      val nb = if (nBuckets > 0) nBuckets
        else BucketedGroupingSetsMv.committedBuckets(spark, bktDir(stateDir)).getOrElse(
          throw new IllegalStateException(
            s"bucketed state at ${bktDir(stateDir)} has snapshots but no meta — cannot " +
              "resolve the committed bucket count"))
      BucketedGroupingSetsMv.applyBatch(batch, batchId, bktDir(stateDir),
        d1, d2, measure, nb)
      // sweep a flat orphan left by a crash between the migration commit and its delete
      val f = new Path(flatDir(stateDir))
      if (fs.exists(f)) fs.delete(f, true): Unit
      "bucketed"
    } else {
      val prior = GroupingSetsMv.committedState(spark, flatDir(stateDir), below = batchId)
      prior match {
        // .count() on the committed parquet state is footer metadata, not a data scan
        case Some((_, state)) if state.count() > grainThreshold =>
          val nb = if (nBuckets > 0) nBuckets else autoBuckets(state.count())
          BucketedGroupingSetsMv.seedFromSummary(state, batchId - 1, bktDir(stateDir),
            d1, d2, nb)
          BucketedGroupingSetsMv.applyBatch(batch, batchId, bktDir(stateDir),
            d1, d2, measure, nb)
          fs.delete(new Path(flatDir(stateDir)), true)
          "migrated"
        case _ =>
          GroupingSetsMv.applyBatch(batch, batchId, flatDir(stateDir),
            d1, d2, measure)
          "flat"
      }
    }
  }

  /** The maintained summary, whichever store currently owns it. */
  def current(spark: SparkSession, stateDir: String): DataFrame =
    if (BucketedGroupingSetsMv.hasState(spark, bktDir(stateDir)))
      BucketedGroupingSetsMv.current(spark, bktDir(stateDir))
    else GroupingSetsMv.current(spark, flatDir(stateDir))

  /** Wire into a bounded streaming query (AvailableNow, the IngestDedup pattern). */
  def start(stream: DataFrame, stateDir: String, checkpointDir: String,
      d1: String, d2: String, measure: String,
      nBuckets: Int = 0, grainThreshold: Long = 100000L): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, stateDir, d1, d2, measure,
          nBuckets, grainThreshold): Unit
      }
      .start()
}
