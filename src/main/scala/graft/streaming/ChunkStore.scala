package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/**
 * Incremental content-defined-chunk store — the streaming twin of the one-shot
 * `mm_cdc_chunks` dedup ([[graft.ops.MultimodalOps.cdcChunks]], FastCDC semantics):
 * per micro-batch of (id, blob) rows, the batch's chunks probe the persisted
 * `(chunk_hash, len)` index and ONLY NOVEL CHUNKS append — the admission is
 * O(batch chunks) against a bucketable store, never a corpus re-chunk. Unlike the
 * document-grain [[IngestDedup]] (admit/reject whole docs), every blob is kept:
 * chunk-grain dedup is a STORAGE saving (a blob's recipe references mostly
 * already-stored chunks), so the maintained quantity is the unique-chunk census.
 *
 * Replay/crash discipline = the [[IngestDedup]] idiom on the shared [[CommitLog]]:
 * `_batch_<id>` marker files beside the data gate idempotent re-application (a
 * replayed batch re-probes the SAME prior index — `batch_id =!= incoming` filters
 * its own half-written append), a LOWER incoming id than the recorded max means
 * the stream's checkpoint was reset against a surviving store and fails loudly, and
 * the store auto-compacts through [[graft.sinks.Bucketing.compactIndexDir]]'s
 * read → tmp → atomic-swap once per-batch appends accumulate.
 *
 * 100 TB shape: the store is (hash, len) pairs — ~16 bytes per UNIQUE chunk, the
 * natural bucketing key is `chunk_hash`, and the per-batch anti-join shuffles only
 * the batch's distinct chunk keys against it.
 */
object ChunkStore {

  val Schema: StructType = StructType(Seq(
    StructField("chunk_hash", LongType, nullable = false),
    StructField("len", IntegerType, nullable = false),
    StructField("batch_id", LongType, nullable = true)))

  val DefaultAutoCompactFiles = 24

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readStore(spark: SparkSession, dir: String): DataFrame =
    if (fsOf(spark, dir).exists(new Path(dir))) spark.read.schema(Schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schema)

  /** Apply one micro-batch of (idCol, binCol) rows; returns the novel-chunk count. */
  def applyBatch(batch: DataFrame, batchId: Long, storeDir: String,
      binCol: String = "blob", idCol: String = "id",
      minLen: Int = 16, maskBits: Int = 4, maxLen: Int = 128,
      autoCompactFiles: Int = DefaultAutoCompactFiles): Long = {
    val spark = batch.sparkSession
    val log = CommitLog.list(spark, storeDir)
    CommitLog.guard("chunk store", storeDir, log.maxMarked(), batchId)
    // a replayed batch must not probe its own (possibly partial) prior append;
    // NULL batch_id rows (external backfill) still reject duplicates
    val prior = readStore(spark, storeDir)
      .filter(col("batch_id").isNull || col("batch_id") =!= lit(batchId))
      .select(col("chunk_hash"), col("len"))
    val chunks = graft.ops.MultimodalOps
      .cdcChunks(batch, binCol, idCol, minLen, maskBits, maxLen)
      .select(col("chunk_hash"), col("len")).distinct()
    val novel = chunks.join(prior, Seq("chunk_hash", "len"), "left_anti")
      .persist()
    try {
      // micro-batch novelty is a tiny projection — one part file, not 32 near-empty
      // ones per batch (the IngestDedup coalesce(1) rationale)
      novel.withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("append").parquet(storeDir)
      CommitLog.mark(log.fs, storeDir, batchId)
      val n = novel.count()
      if (CommitLog.list(log.fs, storeDir).dataFiles.length > autoCompactFiles)
        graft.sinks.Bucketing.compactIndexDir(spark, storeDir, Schema): Unit
      n
    } finally novel.unpersist(): Unit
  }

  /** The maintained unique-chunk census: (n_chunks, uniq_bytes). The store holds one
    * row per unique (hash, len) by construction, but the census still counts
    * DISTINCT so an external backfill append can never inflate it. */
  def census(spark: SparkSession, storeDir: String): DataFrame =
    readStore(spark, storeDir).select(col("chunk_hash"), col("len")).distinct()
      .agg(count(lit(1)).as("n_chunks"), sum(col("len").cast("long")).as("uniq_bytes"))

  /** Wire into a bounded streaming query (AvailableNow, the IngestDedup pattern). */
  def start(blobs: DataFrame, storeDir: String, checkpointDir: String,
      binCol: String = "blob", idCol: String = "id"): StreamingQuery =
    blobs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, storeDir, binCol, idCol): Unit
      }
      .start()
}
