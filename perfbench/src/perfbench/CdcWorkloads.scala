package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.operators.{Cdc, StagingCatalog}
import graft.sinks.CsvManifestSink
import graft.streaming.CdcRunner

/**
 * Shared body of the CDC workloads: each op is one bounded `CdcRunner.run`, checked against
 * the generator's model. A CDC op is a single part, so its `query_geomean_s` is derived from
 * the op times.
 */
abstract class CdcBench(a: Main.Args) extends Workload(a) {
  val root: Path = a.out.resolve("cdc")
  var spark: SparkSession = _
  val SystemOut = Seq("KBC__OPERATION", "KBC__EVENT_TIMESTAMP_MS", "KBC__DELETED",
    "KBC__BATCH_EVENT_ORDER")

  def config(spool: Path, work: Path, out: Path, tables: Iterable[String],
      maxBytesPerTrigger: Option[Long]): CdcRunner.RunConfig =
    CdcRunner.RunConfig(spoolDir = spool.toString, workDir = work.toString,
      outDir = out.toString, primaryKeys = tables.map(_ -> Seq("id")).toMap,
      maxBytesPerTrigger = maxBytesPerTrigger)

  /** Runs and checks one op: it must consume `events` events, ending at spool byte
    * position `spoolEnd`. */
  def run(name: String, cfg: CdcRunner.RunConfig, expect: Map[String, TableExpect], events: Long,
      lastLineStart: Long, spoolEnd: Long, traced: Boolean): Op = {
    if (traced) tracer.attach(spark)
    val b0 = Context.fsBytesWritten
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(CdcRunner.run(spark, cfg)) catch { case e: Throwable => Left(e) }
    val secs = Stats.secs(t0)
    val t1ms = System.currentTimeMillis()
    val out = Path.of(cfg.outDir)
    val written = Context.fsBytesWritten - b0 + Dirs.bytes(out, ".manifest") +
      Dirs.bytes(out, "state.json")
    val layers = if (traced) { tracer.detach(spark); Some(opLayers(name, t0ms, t1ms, secs)) } else None
    val errors = res match {
      case Left(e) => Seq(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(r) => check(name, r, out, expect, events, lastLineStart) ++
        (if (traced) traceChecks(name, spoolEnd, layers.get) else Nil)
    }
    Main.mark(f"$name: $secs%.3f s${if (errors.isEmpty) "" else " FAILED"}")
    Op(secs, Map("run" -> secs), events, written, errors, layers)
  }

  /** Output checks against the generator's independent model. */
  def check(name: String, r: CdcRunner.RunResult, out: Path, expect: Map[String, TableExpect],
      events: Long, lastLineStart: Long): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def err(s: String): Unit = errs += s"$name: $s"
    if (r.stats.records != events) err(s"consumed ${r.stats.records} events, spool holds $events")
    if (r.tables.keySet != expect.keySet)
      err(s"tables ${r.tables.keySet.toSeq.sorted} != expected ${expect.keySet.toSeq.sorted}")
    val mapper = Json.mapper
    val state = mapper.readTree(Files.readString(out.resolve("state.json")))
    if (state.get("last_offset").asLong != lastLineStart + 1)
      err(s"state.json last_offset ${state.get("last_offset")} != last line start + 1 = ${lastLineStart + 1}")
    for ((t, e) <- expect.toSeq.sortBy(_._1) if r.tables.contains(t)) {
      if (r.tables(t) != e.rows) err(s"$t: ${r.tables(t)} rows, expected ${e.rows}")
      val manifest = mapper.readTree(Files.readString(out.resolve(s"tables/$t.csv.manifest")))
      val cols = manifest.get("columns").elements().asScala.map(_.asText).toSeq
      if (cols != e.columns ++ SystemOut) err(s"$t: columns $cols, expected ${e.columns ++ SystemOut}")
      else {
        val (iId, iOp, iDel, iOrd) = (cols.indexOf("id"), cols.indexOf("KBC__OPERATION"),
          cols.indexOf("KBC__DELETED"), cols.indexOf("KBC__BATCH_EVENT_ORDER"))
        var n = 0L
        var d = 0L
        Dirs.files(out.resolve(s"tables/$t.csv")).foreach { f =>
          Files.lines(f).forEach { line =>
            val v = line.split(",", -1)
            n += 1
            d += LwwModel.rowHash(v(iId).toLong, v(iOp), v(iDel) == "true", v(iOrd).toLong)
          }
        }
        if (n != e.rows) err(s"$t: CSV holds $n rows, expected ${e.rows}")
        if (d != e.digest) err(s"$t: CSV digest over pk/op/deleted/order differs from the model")
      }
    }
    errs.toSeq
  }

  /** Checks only a traced op can make: the stream's last committed source offset is the
    * consumed spool byte count, and the spans account for the op's wall time. */
  def traceChecks(name: String, spoolEnd: Long, layers: Map[String, Double]): Seq[String] = {
    val end = tracer.rec.progress.lastOption.map(_.endOffset.trim).getOrElse("")
    Seq(
      if (end == spoolEnd.toString) None
      else Some(s"$name: stream ended at source offset '$end', spool holds $spoolEnd bytes"),
      layers.get("trace.coverage").filter(_ < 0.9)
        .map(c => s"$name: stream and export spans cover only $c of the op's wall time")).flatten
  }

  /** Spans and per-op layer metrics of one traced op. */
  def opLayers(name: String, t0ms: Long, t1ms: Long, secs: Double): Map[String, Double] =
    tracer.rec.synchronized {
      val rec = tracer.rec
      val opSpan = log.add(wlSpan, "op", name, t0ms, t1ms)
      val prog = rec.progress.sortBy(_.startMs).toSeq
      def d(p: Progress, k: String): Long = p.durations.getOrElse(k, 0L)
      val streamEnd = (prog.map(p => p.startMs + d(p, "triggerExecution")) :+ t0ms).max
      val streamStart = (prog.map(_.startMs) :+ streamEnd).min
      val batchJobs = rec.jobs.values.filter(_.batchId.isDefined).groupBy(_.batchId.get)
      prog.foreach { p =>
        val ps = log.add(opSpan, "stream", s"batch ${p.batchId}", p.startMs,
          p.startMs + d(p, "triggerExecution"), Map("rows" -> p.rows, "duration_ms" -> p.durations))
        tracer.addJobs(ps, batchJobs.getOrElse(p.batchId, Nil))
      }
      val exportSpan = log.add(opSpan, "export", "export", streamEnd, t1ms)
      val (late, early) = rec.jobs.values.filter(_.batchId.isEmpty).partition(_.startMs >= streamEnd)
      tracer.addJobs(exportSpan, late)
      tracer.addJobs(opSpan, early)
      val streamJobs = rec.jobs.values.filter(_.batchId.isDefined).toSeq
      val streamStages = streamJobs.flatMap(_.stageIds.flatMap(rec.stages.get))
      val fsAtEnd = if (rec.terminatedFsCalls >= 0) rec.terminatedFsCalls else 0L
      Map(
        "sources.plan_ms" -> prog.map(p => d(p, "latestOffset") + d(p, "getBatch")).sum.toDouble,
        "streaming.batches" -> prog.size.toDouble,
        "streaming.add_batch_s" -> prog.map(d(_, "addBatch")).sum / 1000.0,
        "streaming.batch_p50_ms" -> Stats.median(prog.map(d(_, "triggerExecution").toDouble)),
        "streaming.commit_ms" ->
          prog.map(p => d(p, "queryPlanning") + d(p, "walCommit") + d(p, "commitOffsets")).sum.toDouble,
        "streaming.jobs_per_batch" -> streamJobs.size.toDouble / math.max(1, prog.size),
        "streaming.task_s" -> streamStages.map(_.taskMs).sum / 1000.0,
        "streaming.retype_jobs" ->
          rec.jobs.values.count(_.site == "StagingCatalog.retype").toDouble,
        "sinks.export_s" -> (t1ms - streamEnd) / 1000.0,
        "sinks.fs_calls" -> (CountingLocalFileSystem.calls.get() - fsAtEnd).toDouble,
        // stream spans, the gaps between them and the export span reach back to the first
        // trigger; what precedes it (query start-up) is the part they leave uncovered
        "trace.coverage" -> (t1ms - streamStart).toDouble / math.max(1L, t1ms - t0ms)
      ) ++ tracer.sparkMetrics(secs)
    }

  /** Isolated single-layer timings over the staged state an op left behind. */
  def isolated(spool: Path, work: Path, out: Path, tables: Seq[String], stagedBefore: Int,
      stagedBytesBefore: Long, events: Long): Map[String, Double] = {
    val staging = work.resolve("staging").toString
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; Stats.secs(t0) }
    val scan = timed(spark.read.format("graft.sources.CdcSpoolSource").option("path", spool.toString)
      .load().write.format("noop").mode("overwrite").save())
    val chunks = tables.map(t => StagingCatalog.chunks(staging, t).size).sum
    var stagedRows = 0L
    var outRows = 0L
    var dedupe = 0.0
    var csv = 0.0
    val scratch = a.out.resolve("csv-isolated")
    tables.foreach { t =>
      val staged = StagingCatalog.table(spark, staging, t)
      stagedRows += staged.count()
      dedupe += timed(Cdc.dedupeLastWins(staged, Seq("id")).write.format("noop").mode("overwrite").save())
      val deduped = Cdc.normalizeColumns(Cdc.dedupeLastWins(staged, Seq("id"))).cache()
      outRows += deduped.count()
      csv += timed(CsvManifestSink.writeCsv(deduped, scratch.toString, t))
      deduped.unpersist()
    }
    Dirs.delete(scratch)
    Map(
      "sources.scan_s" -> scan,
      "operators.readback_files" -> chunks.toDouble,
      "operators.dedupe_s" -> dedupe,
      "operators.survivor_ratio" -> outRows.toDouble / math.max(1L, stagedRows),
      "streaming.staged_files" -> (chunks - stagedBefore).toDouble,
      "streaming.staged_bytes_per_event" ->
        (Dirs.bytes(work.resolve("staging"), ".parquet") - stagedBytesBefore).toDouble / events,
      "sinks.csv_s" -> csv,
      "sinks.csv_bytes_per_row" -> Dirs.bytes(out.resolve("tables"), ".csv").toDouble /
        math.max(1L, outRows))
  }
}

/** `cdc_churn`: one bounded dedupe run from empty state over a skewed, churning spool. */
final class CdcChurn(a: Main.Args) extends CdcBench(a) {
  val setupReps = 3
  val Spec = Inputs.Churn(events = 8000, tables = 4, files = 2, keysPerTableEvent = 0.03)
  val Batches = 2
  val Warm = Inputs.Churn(events = 1000, tables = 2, files = 1, keysPerTableEvent = 0.05)
  private val spool = root.resolve("spool")
  private var st: SpoolStats = _
  private var expect: Map[String, TableExpect] = _
  private var last: Path = _

  def setUp(k: Int): Seq[Op] = {
    spark = Sessions.start(a.out)
    Dirs.delete(root)
    val (s, model) = Inputs.churn(spool, a.seed, Spec)
    st = s
    expect = model.expected
    val (wst, wm) = Inputs.churn(root.resolve("warm-spool"), a.seed ^ 0xABCDL, Warm)
    val w = root.resolve("warm")
    Seq(run(s"warm-up $k", config(root.resolve("warm-spool"), w.resolve("work"),
      w.resolve("out"), wm.expected.keys, Some(wst.bytes / 2 + 1)), wm.expected, wst.events,
      wst.lastLineStart, wst.bytes, traced = false))
  }

  def op(i: Int, traced: Boolean): Op = {
    if (last != null) Dirs.delete(last)
    last = root.resolve(s"op$i")
    run(s"run $i", config(spool, last.resolve("work"), last.resolve("out"), expect.keys,
      Some(st.bytes / Batches + 1)), expect, st.events, st.lastLineStart, st.bytes, traced)
  }

  def finish(): Extras = Extras(
    if (!a.trace) Map.empty else isolated(spool, last.resolve("work"), last.resolve("out"),
      expect.keys.toSeq.sorted, 0, 0L, st.events) ++ Map("sources.bytes" -> st.bytes.toDouble),
    Map("events" -> st.events, "tables" -> expect.size, "keys" -> expect.values.map(_.rows).sum,
      "spool_bytes" -> st.bytes, "spool_files" -> st.files, "micro_batches_cap" -> Batches,
      "history_rows" -> 0))
}

/**
 * `cdc_resume`: set-up stages an insert-heavy history; each op is a small resume run with
 * a new spool file against the same work dir and checkpoint, restored to the post-history
 * state first so every op resumes over the same history. Each set-up ends with one such
 * resume run, which pays the JIT warm-up of the resume path.
 */
final class CdcResume(a: Main.Args) extends CdcBench(a) {
  val setupReps = 2
  val Hist = Inputs.History(keys = 200000, tables = 8, files = 4)
  val ResumeTables = 1
  val ResumeEvents = 4000
  private val spool = root.resolve("spool")
  private val work = root.resolve("work")
  private val snap = root.resolve("snapshot")
  private val out = root.resolve("out")
  private var hs: SpoolStats = _
  private var hm: LwwModel = _
  private var tables: Seq[String] = _
  private var lastFile: Option[Path] = None
  private var last: SpoolStats = _

  def setUp(k: Int): Seq[Op] = {
    spark = Sessions.start(a.out)
    Dirs.delete(root)
    lastFile = None
    val (s, m) = Inputs.history(spool, a.seed, Hist)
    hs = s
    hm = m
    tables = hm.expected.keys.toSeq.sorted
    val history = run(s"history $k", config(spool, work, out, tables, None), hm.expected,
      hs.events, hs.lastLineStart, hs.bytes, traced = false)
    Dirs.copy(work, snap)
    Seq(history, resume(0, s"warm-up $k", traced = false))
  }

  def op(i: Int, traced: Boolean): Op = resume(i + 1, s"resume ${i + 1}", traced)

  /** Restores the post-history state, adds resume file `n` and runs over it. */
  private def resume(n: Int, name: String, traced: Boolean): Op = {
    Dirs.delete(work)
    Dirs.copy(snap, work)
    lastFile.foreach(f => Files.delete(f))
    val (rs, rm) = Inputs.resume(spool, a.seed, n, hs.bytes, Hist.tables, ResumeTables,
      ResumeEvents, hm)
    lastFile = Some(spool.resolve(f"r$n%06d.jsonl"))
    last = rs
    run(name, config(spool, work, out, tables, None), rm.expected, rs.events,
      rs.lastLineStart, hs.bytes + rs.bytes, traced)
  }

  def finish(): Extras = {
    val staging = snap.resolve("staging")
    val iso = if (!a.trace) Map.empty[String, Double] else isolated(lastFile.get, work, out,
      tables, tables.map(t => StagingCatalog.chunks(staging.toString, t).size).sum,
      Dirs.bytes(staging, ".parquet"), last.events) ++ Map("sources.bytes" -> last.bytes.toDouble)
    Extras(iso, Map("events" -> ResumeEvents, "tables" -> Hist.tables,
      "tables_touched" -> ResumeTables, "keys" -> hm.expected.values.map(_.rows).sum,
      "spool_bytes" -> last.bytes, "history_rows" -> hs.events, "history_bytes" -> hs.bytes))
  }
}
