package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Incrementally maintained TextRank (Mihalcea & Tarau, EMNLP 2004) over a DOCUMENT
 * STREAM — the streaming twin of [[graft.ops.TextOps.textRank]], built on the
 * [[GroupingSetsMv]] versioned-state idiom: the corpus-so-far exists ONLY as two
 * count tables (unigram counts and adjacent-pair counts), each micro-batch tokenizes
 * its OWN documents once and key-sums the delta in, and the keyword ranking is
 * recomputed at READ time on the Heaps-law-bounded vocabulary graph.
 *
 * Equivalence to the one-shot batch form is EXACT, not approximate: counts are
 * associative sums, the frequent-vocab filter, the distinct co-occurrence edge set
 * and the fixed-point integer PageRank are all pure functions of the counts — so
 * `current()` after batch N is row-identical to `TextOps.textRank` over the union of
 * the first N batches (the `doc_textrank` oracle pins the shared result shape
 * cross-engine, and the spec pins the equality at every batch boundary).
 *
 * Replay safety is state versioning through the [[CommitLog]]: batch b merges the
 * newest version < b and overwrites `v=<b>` (a crash-replay re-reads the same
 * predecessor and converges); an incoming batchId below the max applied version
 * means a reset checkpoint against surviving state — loud failure. All but the two
 * newest versions are pruned after a successful write.
 *
 * Scale shape: the per-batch work is one tokenize scan of the BATCH plus a key-sum
 * merge into vocabulary-sized state (Heaps' law: vocab and distinct-bigram tables
 * grow ~N^0.5, not N); the read-time PageRank runs entirely on that bounded graph.
 * At 100 TB the two state tables live bucketed by token ([[graft.sinks.Bucketing]])
 * so the merge co-locates. Reference scope: the reference has no text-analytics
 * surface — this extends the CDC ingestion architecture to corpus statistics.
 */
object IncrementalTextRank {

  /** One batch's contribution: unigram counts and adjacent-pair (window-2) counts,
    * from a single tokenize pass over the batch. */
  def batchDelta(batch: DataFrame, textCol: String = "text"): (DataFrame, DataFrame) = {
    // ONE tokenize pass for both delta tables (the textRank one-pass form): the gram
    // counts are lineage-cut because the uni and pairs writes are two separate
    // actions — without the cut the batch tokenizes twice per micro-batch
    val grams = graft.ops.TextOps.textRankGramCounts(batch, textCol)
      .localCheckpoint(eager = false)
    val uni = grams.filter(col("b").isNull)
      .select(col("a").as("tok"), col("n").as("c"))
    val pairs = grams.filter(col("b").isNotNull && col("a") =!= col("b"))
      .select(col("a"), col("b"), col("n"))
    (uni, pairs)
  }

  /** A version is COMMITTED once BOTH its table writes carry
    * Spark's `_SUCCESS` marker — uni writes before pairs, so a crash between them
    * leaves a junk dir that must stay invisible to prior-selection, the reset guard
    * and `current()`. */
  private val Markers = Seq("uni/_SUCCESS", "pairs/_SUCCESS")

  /** Apply one micro-batch: guard, merge newest version < batchId, overwrite
    * `v=<batchId>` (uni + pairs side by side), prune. Returns the vocabulary size. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      textCol: String = "text"): Long = {
    val spark = batch.sparkSession
    val vs = CommitLog.list(spark, stateDir).versions(markers = Markers)
    vs.guard("textrank state", batchId)
    val prior = vs.before(batchId)
    val (uniD, pairD) = batchDelta(batch, textCol)
    val uni = prior.map(v => spark.read.parquet(s"$stateDir/v=$v/uni"))
      .fold(uniD)(st => st.unionByName(uniD)
        .groupBy("tok").agg(sum(col("c")).cast("long").as("c")))
    val pairs = prior.map(v => spark.read.parquet(s"$stateDir/v=$v/pairs"))
      .fold(pairD)(st => st.unionByName(pairD)
        .groupBy("a", "b").agg(sum(col("n")).cast("long").as("n")))
    uni.write.mode("overwrite").parquet(s"$stateDir/v=$batchId/uni")
    pairs.write.mode("overwrite").parquet(s"$stateDir/v=$batchId/pairs")
    vs.prune(batchId)
    // footer metadata, not a count() job (guide §1.2): one fewer job per micro-batch
    graft.sinks.ParquetMeta.rowCount(
      spark.sparkContext.hadoopConfiguration, s"$stateDir/v=$batchId/uni")
  }

  /** The maintained keyword ranking at the newest version — the same frequent-vocab
    * filter, distinct symmetric edge set, integer PageRank and top-k as
    * [[graft.ops.TextOps.textRank]], recomputed on the bounded state graph. */
  def current(spark: SparkSession, stateDir: String,
      minCount: Long = 5, topK: Int = 50): DataFrame = {
    val v = CommitLog.list(spark, stateDir).versions(markers = Markers).newest.getOrElse(
      throw new IllegalStateException(s"no maintained textrank state at $stateDir"))
    val freq = spark.read.parquet(s"$stateDir/v=$v/uni")
      .filter(col("c") >= minCount)
    val pf = spark.read.parquet(s"$stateDir/v=$v/pairs")
      .join(freq.select(col("tok").as("a")), "a")
      .join(freq.select(col("tok").as("b")), "b")
      .select("a", "b")
    val edges = pf.select(col("a").as("src"), col("b").as("dst"))
      .union(pf.select(col("b").as("src"), col("a").as("dst"))).distinct()
    graft.ops.GraphOps.pageRank(edges, iters = 3, dampingPct = 85)
      .join(freq.select(col("tok").as("id"), col("c")), "id")
      .orderBy(col("rank_e12").desc, col("id"))
      .limit(topK)
      .select(col("id").as("token"), col("rank_e12"), col("c").as("n_occurrences"))
  }

  /** Continuous form: a document stream maintained into the count state micro-batch
    * by micro-batch (AvailableNow by default, the IngestDedup pattern). */
  def start(docs: DataFrame, stateDir: String, checkpointDir: String,
      textCol: String = "text", trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, stateDir, textCol): Unit
      }
      .start()
}
