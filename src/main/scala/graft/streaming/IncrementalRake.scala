package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incrementally maintained RAKE keyword extraction (Rose et al. 2010) over a
 * document stream — the streaming twin of [[graft.ops.TextOps.rake]], built on the
 * [[GroupingSetsMv]]/[[IncrementalTextRank]] versioned-state idiom: the corpus-so-far
 * exists ONLY as two count tables — word stats (tok → freq, deg) and phrase counts
 * (phrase → occ) — each micro-batch extracts phrases from its OWN documents once
 * (phrase extraction is doc-local, so slice deltas never depend on other slices),
 * and the phrase ranking recomputes at READ time from the bounded state.
 *
 * Equivalence to one-shot [[graft.ops.TextOps.rake]] is EXACT: freq/deg/occ are
 * associative sums, word scores are pure integer functions of them, and a phrase's
 * word multiset is recovered from its own text — so `current()` after batch N is
 * row-identical to the batch form over the union of the first N batches (the
 * `doc_rake` oracle pins the shared result cross-engine; the spec pins the equality
 * at every batch boundary).
 *
 * Replay safety is state versioning through the [[CommitLog]]: batch b merges the
 * newest committed version < b and overwrites `v=<b>`; an incoming batchId below the
 * max applied version is a reset checkpoint against surviving state — loud failure.
 * A version is committed once BOTH table writes carry `_SUCCESS`.
 *
 * Scale shape: per-batch work is one tokenize+phrase pass over the BATCH plus a
 * key-sum merge into vocabulary-/phrase-bounded state (Heaps-law sublinear); the
 * read-time scoring runs entirely on that state. Reference scope: the reference has
 * no text-analytics surface — this extends the CDC ingestion architecture.
 */
object IncrementalRake {

  /** A version is COMMITTED once both `words` and `phrases` carry `_SUCCESS`. */
  private val Markers = Seq("words/_SUCCESS", "phrases/_SUCCESS")

  /** Apply one micro-batch: guard, merge newest version < batchId, overwrite
    * `v=<batchId>` (words + phrases side by side), prune. Returns the vocab size. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    val spark = batch.sparkSession
    val vs = CommitLog.list(spark, stateDir).versions(markers = Markers)
    vs.guard("rake state", batchId)
    val prior = vs.before(batchId)
    val (wordsD, phrasesD) = graft.ops.TextOps.rakeDeltas(batch, idCol, textCol)
    val words = prior.map(v => spark.read.parquet(s"$stateDir/v=$v/words"))
      .fold(wordsD)(st => st.unionByName(wordsD)
        .groupBy("tok").agg(sum(col("freq")).cast("long").as("freq"),
          sum(col("deg")).cast("long").as("deg")))
    val phrases = prior.map(v => spark.read.parquet(s"$stateDir/v=$v/phrases"))
      .fold(phrasesD)(st => st.unionByName(phrasesD)
        .groupBy("phrase").agg(sum(col("occ")).cast("long").as("occ")))
    words.write.mode("overwrite").parquet(s"$stateDir/v=$batchId/words")
    phrases.write.mode("overwrite").parquet(s"$stateDir/v=$batchId/phrases")
    vs.prune(batchId)
    // footer metadata, not a count() job (guide §1.2): one fewer job per micro-batch
    graft.sinks.ParquetMeta.rowCount(
      spark.sparkContext.hadoopConfiguration, s"$stateDir/v=$batchId/words")
  }

  /** The maintained phrase ranking at the newest version — the same exact-integer
    * scoring and top-k as [[graft.ops.TextOps.rakeFromCounts]]. */
  def current(spark: SparkSession, stateDir: String, topK: Int = 20): DataFrame = {
    val v = CommitLog.list(spark, stateDir).versions(markers = Markers).newest.getOrElse(
      throw new IllegalStateException(s"no maintained rake state at $stateDir"))
    graft.ops.TextOps.rakeFromCounts(
      spark.read.parquet(s"$stateDir/v=$v/words"),
      spark.read.parquet(s"$stateDir/v=$v/phrases"), topK)
  }
}
