package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The per-layer metric set every traced run reports, in a fixed order, with units. A
  * layer a workload does not exercise reads 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "sources.plan_ms" -> "ms", "sources.scan_s" -> "s", "sources.bytes" -> "B",
    "streaming.batches" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.batch_p50_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count", "streaming.task_s" -> "s",
    "streaming.staged_files" -> "count", "streaming.staged_bytes_per_event" -> "B",
    "streaming.retype_jobs" -> "count",
    "operators.readback_files" -> "count", "operators.dedupe_s" -> "s",
    "operators.survivor_ratio" -> "1",
    "sinks.export_s" -> "s", "sinks.csv_s" -> "s", "sinks.csv_bytes_per_row" -> "B",
    "sinks.fs_calls" -> "count",
    "stores.fs_calls" -> "count", "stores.jobs" -> "count", "stores.s" -> "s",
    "ops.cdc.s" -> "s", "ops.incremental.s" -> "s", "ops.hot.s" -> "s",
    "spark.driver_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.task_s" -> "s", "spark.shuffle_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB", "spark.gc_s" -> "s", "spark.spill_mb" -> "MB",
    "trace.overhead_pct" -> "%", "trace.coverage" -> "1")

  def of(values: Map[String, Double]): Seq[(String, (Double, String))] = {
    val unknown = values.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"unregistered layer metrics: $unknown")
    Units.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }
  }

  /** Per-key median over per-op metric maps. */
  def medians(ops: Seq[Map[String, Double]]): Map[String, Double] =
    ops.flatMap(_.keys).distinct.map(k => k -> Stats.median(ops.flatMap(_.get(k)))).toMap

  val MB = 1024.0 * 1024.0
}

/** Attaches the recorder to a session for one traced op and turns what it saw into spans
  * and Spark-level metrics. */
final class Tracer(log: SpanLog) {
  val rec = new Recorder
  private var gc0 = 0.0

  def attach(spark: SparkSession): Unit = {
    rec.clear()
    rec.enabled = true
    spark.sparkContext.addSparkListener(rec)
    spark.streams.addListener(rec.streams)
    gc0 = Context.gcSeconds
  }

  def detach(spark: SparkSession): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    rec.enabled = false
    spark.sparkContext.removeSparkListener(rec)
    spark.streams.removeListener(rec.streams)
  }

  /** Adds job spans (with their stage spans) under `parent` for the given jobs. */
  def addJobs(parent: Int, jobs: Iterable[JobRec]): Unit = jobs.foreach { j =>
    val js = log.add(parent, "job", s"job ${j.id}", j.startMs, math.max(j.endMs, j.startMs),
      Map("site" -> j.site) ++ j.batchId.map("batch_id" -> _))
    j.stageIds.flatMap(rec.stages.get).foreach { s =>
      log.add(js, "stage", s"stage ${s.id}", s.startMs, s.endMs,
        Map("tasks" -> s.tasks, "task_ms" -> s.taskMs))
    }
  }

  /** Spark-level metrics of everything recorded since `attach`, over a wall of `wallS`. */
  def sparkMetrics(wallS: Double): Map[String, Double] = rec.synchronized {
    val st = rec.stages.values.toSeq
    val stageUnionS = Trace.unionMs(st.map(s => (s.startMs, s.endMs))) / 1000.0
    Map(
      "spark.jobs" -> rec.jobs.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.task_s" -> st.map(_.taskMs).sum / 1000.0,
      "spark.shuffle_mb" -> st.map(_.shuffleBytes).sum / Layers.MB,
      "spark.input_mb" -> st.map(_.inputBytes).sum / Layers.MB,
      "spark.output_mb" -> st.map(_.outputBytes).sum / Layers.MB,
      "spark.spill_mb" -> st.map(_.spillBytes).sum / Layers.MB,
      "spark.gc_s" -> (Context.gcSeconds - gc0),
      "spark.driver_s" -> math.max(0.0, wallS - stageUnionS))
  }
}
