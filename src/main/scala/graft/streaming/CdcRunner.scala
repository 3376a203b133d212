package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.Cdc
import graft.sinks.CsvManifestSink

/**
 * Bounded CDC run: `cdc-spool` micro-batch stream → per-table staging with dynamic schema →
 * LWW dedupe (or plain append) → CSV + manifest + state.
 *
 * Mirrors the reference's whole component lifecycle (SURVEY §3.1 steps 7–9,
 * `ex_postgres_cdc/src/component.py:80-152`):
 *  - one finite streaming run per invocation (`Trigger.AvailableNow`, offset cap in the
 *    source) — the reference's run-until-stop-condition model (`AbstractDebeziumTask.java:97-130`);
 *  - per micro-batch, events are parsed ONCE (map-typed envelope), grouped by table and
 *    appended to a staging parquet dir typed by a per-table schema accumulated across
 *    batches and runs in first-seen column order (E1–E4) — `mergeSchema` on readback
 *    replaces the reference's chunk tables + `ALTER TABLE ADD COLUMN`, and numeric type
 *    drift widens the accumulated schema (rewriting staged history once) instead of
 *    producing unmergeable chunks;
 *  - post-processing dedupes on `kbc__batch_event_order` := the source's global arrival
 *    position (a true total order, unlike `monotonically_increasing_id`) and exports
 *    CSV/manifest/state (K2–K7).
 *
 * At-least-once is absorbed exactly like the reference (§2.7): replayed events land in
 * staging twice but carry the same position, and the LWW dedupe keeps one winner.
 */
object CdcRunner {

  final case class RunConfig(
      spoolDir: String,
      workDir: String,                       // staging parquet + checkpoint live here across runs
      outDir: String,                        // out/tables/*.csv[, .manifest], state.json
      mode: String = "dedupe",               // "dedupe" | "append" (D4 policy)
      /** The reference's four `destination.load_type`s (`configuration.py:169-184`) map
        * onto two independent axes — dedupe (full_load/incremental_load) and the
        * manifest's incremental flag (incremental_load/append_incremental) — which
        * `mode` alone conflates: plain "dedupe" = incremental_load, plain "append" =
        * append_full. Set this to pick the other two combinations. */
      loadType: Option[String] = None,
      primaryKeys: Map[String, Seq[String]] = Map.empty, // per-table; empty -> D9 fallback
      /** Admission control, in offset units = spool bytes (`max.batch.size` analog). */
      maxBytesPerTrigger: Option[Long] = None,
      /** P7 position target, a byte position: global over the sorted spool, or within
        * `stopAtFile` when that is set (the MySQL `(file, pos)` binlog target captured via
        * `SHOW MASTER STATUS`, `ex_mysql_cdc/src/extractor/mysql_extractor.py:245-258`). */
      stopAtPos: Option[Long] = None,
      stopAtFile: Option[String] = None,
      /** S5: tables added since the last run — snapshotted from the full spool via the
        * source's batch path, bypassing the stream checkpoint (the `execute-snapshot`
        * signal analog, `db_components/debezium/executor.py:244-303`). Dedupe absorbs
        * any overlap with already-streamed events, like replays. */
      snapshotTables: Seq[String] = Nil,
      /** P5: `table.include.list` — None = all tables discovered in the stream. */
      includeTables: Option[Set[String]] = None,
      /** P3/P4: `column.include.list` / `column.exclude.list` per table (safe id) —
        * applied at STAGING like the reference applies them at the connector: filtered
        * columns never enter the accumulated schema or the staged parquet. */
      includeColumns: Map[String, Seq[String]] = Map.empty,
      excludeColumns: Map[String, Seq[String]] = Map.empty,
      /** P3/P4 regex form — the connector's actual contract: whole-string regexes over the
        * fully-qualified `<table>.<column>` name (the reference passes its `column_filter`
        * config straight into Debezium's `column.(include|exclude).list`, e.g.
        * `^inventory\.sales\.user.*` in the `incremental-column-filter-chained` golden). */
      includeColumnsRegex: Seq[String] = Nil,
      excludeColumnsRegex: Seq[String] = Nil,
      /** S5 file signal channel (`signal.file`): an execute-snapshot signal JSON written
        * beside the run; its data-collections are backfilled like [[snapshotTables]]. The
        * ONLY channel allowed in read-only mode (`mysql_extractor.py:187-193`). */
      signalFile: Option[String] = None,
      /** S5 source-table signal channel (`signal.data.collection`): the signal table's
        * rows arrive through the stream; execute-snapshot rows trigger backfills and the
        * signal table itself is excluded from exports. */
      signalTable: Option[String] = None,
      /** Read-only mode: no writes to the source — the source-table signal channel is
        * rejected at config time. */
      readOnly: Boolean = false,
      /** P7: max run duration — the reference's `COMPONENT_TIMEOUT`/`-md` stop condition
        * (`AbstractDebeziumTask.java:166-189`); the run is stopped cleanly at the batch
        * boundary and the checkpoint resumes next invocation. */
      maxDurationMs: Option[Long] = None,
      /** §2.7 idle stop — the reference's `max_wait_s`/`-mw` (`AbstractDebeziumTask.java:
        * 166-189`): stop after this long with NO new records, gated on the snapshot-in-
        * progress flag (`KeboolaNotification.java:24-34`). When set, the run uses a
        * continuous micro-batch trigger (so a spool being written CONCURRENTLY keeps being
        * consumed — `Trigger.AvailableNow` would freeze the target at start) and a driver
        * control loop polls every 500 ms like the reference's `Await`. */
      maxWaitMs: Option[Long] = None,
      /** Input format. `false` (default): routed envelopes `{"table":…,"op":…,"after":…}`
        * single-parsed against the accumulated schema. `true`: the reference engine's actual wire
        * format — SMT-unwrapped flat Connect events `{"schema":{"name":"<t>.<s>.<tbl>.Value",
        * "fields":[…]},"payload":{row + kbc__ columns}}` (`DbChangeConsumerTest.java:40-46`),
        * decoded by the schema block via [[graft.operators.EnvelopeDecoder]]. */
      wireFormat: Boolean = false)

  final case class RunResult(tables: Map[String, Long], lastPos: Long, outDir: String,
      stats: SyncStats.Snapshot)

  /** S5 helper: tables configured now but absent from the previous run's synced set
    * (reference diff `ex_postgres_cdc/src/component.py:189-201`). */
  def detectNewTables(configured: Seq[String], previouslySynced: Set[String]): Seq[String] =
    configured.filterNot(t => previouslySynced.contains(graft.operators.Cdc.safeTableId(t)))

  /** One JDBC snapshot source: the logical table id (dots → staging dir name) + how to
    * bulk-read it. */
  final case class SnapshotSource(table: String, jdbc: graft.sources.JdbcSnapshot.SnapshotConfig)

  /**
   * §3.1 steps 2–9 composition: JDBC snapshot (S2) THEN the spool stream, one invocation —
   * the reference's whole `component.py:80-152` lifecycle. The snapshot stages each table's
   * bulk read as `r` rows at order −1 (before every stream position), so the LWW dedupe
   * absorbs snapshot/stream overlap exactly like replays: a streamed update to a
   * snapshotted key wins, a never-streamed key keeps its snapshot row. The
   * snapshot-in-progress flag is held while snapshots run (gating idle stops, §2.7),
   * and `effectiveMode` applies the D4 first-run policy (first dedupe run ⇒ snapshot only).
   */
  def runWithSnapshot(spark: SparkSession, cfg: RunConfig, snapshotMode: String,
      snapshots: Seq[SnapshotSource], isFirstRun: Boolean = true,
      snapshotTsMs: Long = System.currentTimeMillis(),
      stats: SyncStats = new SyncStats): RunResult = {
    import graft.sources.JdbcSnapshot
    val dedupes = cfg.loadType
      .map(lt => lt == "full_load" || lt == "incremental_load")
      .getOrElse(cfg.mode == "dedupe")
    val mode = JdbcSnapshot.effectiveMode(
      JdbcSnapshot.parseMode(snapshotMode), isFirstRun, dedupe = dedupes)
    val stagingRoot = s"${cfg.workDir}/staging"
    val registry = new SchemaRegistry(s"${cfg.workDir}/schemas.json")
    if (mode.doSnapshot && snapshots.nonEmpty) {
      stats.setSnapshotInProgress(true)
      try snapshots.foreach(s => stageSnapshot(spark, s, stagingRoot, registry, snapshotTsMs,
        filtersOf(cfg)))
      finally stats.setSnapshotInProgress(false)
    }
    // a no-stream mode still runs the full post-processing/export: a zero-byte position
    // target makes the stream a no-op
    val streamCfg = if (mode.doStream) cfg
      else cfg.copy(stopAtPos = Some(0L), stopAtFile = None, maxWaitMs = None)
    run(spark, streamCfg, stats)
  }

  /** Stage one snapshot read as staging rows: column names lowercased to the envelope
    * convention, types normalized to the staging type system (integrals → BIGINT,
    * fractionals → DOUBLE, decimals → exact STRING rendering per
    * decimal.handling.mode=string, dates/timestamps/nested → STRING), system columns
    * `op=r`, snapshot ts, order −1 (< any stream byte position). */
  private def stageSnapshot(spark: SparkSession, src: SnapshotSource, stagingRoot: String,
      registry: SchemaRegistry, tsMs: Long,
      filters: ColumnFilters = ColumnFilters()): Unit = {
    val df = graft.sources.JdbcSnapshot.read(spark, src.jdbc)
    // P3/P4 at the connector level (ADVICE r2): filtered columns never enter the
    // accumulated schema, the staged parquet, or the export — same contract as stageEvents
    val snapCols = df.schema.fields.map(f => f.name.toLowerCase -> stagingType(f.dataType))
      .toSeq.filter { case (n, _) => filters.admits(src.table, n) }
    val acc0 = registry.get(src.table)
    val acc = if (acc0.isEmpty) snapCols
      else acc0 ++ snapCols.filterNot(c => acc0.exists(_._1 == c._1))
    registry.put(src.table, acc)
    val renamed = df.select(df.schema.fields.map(f => col(f.name).as(f.name.toLowerCase)): _*)
    val aligned = acc.foldLeft(renamed) { case (d, (n, t)) =>
      if (d.columns.contains(n)) d else d.withColumn(n, lit(null).cast(t))
    }.select(acc.map { case (n, t) => col(s"`$n`").cast(t).as(n) }: _*)
    aligned
      .withColumn(Cdc.OpCol, lit("r"))
      .withColumn(Cdc.TsCol, lit(tsMs))
      .withColumn(Cdc.DeletedCol, lit("false"))
      .withColumn(Cdc.OrderCol, lit(-1L))
      .write.mode("append").parquet(s"$stagingRoot/${Cdc.safeTableId(src.table)}")
  }

  private def stagingType(t: DataType): DataType = t match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType | DoubleType                        => DoubleType
    case _: DecimalType                                => StringType
    case BooleanType                                   => BooleanType
    case _: StructType | _: ArrayType | _: MapType     => StringType
    case DateType | TimestampType                      => StringType
    case other                                         => StringType
  }

  /** `stats` is injectable so composed runs (snapshot→stream) and tests can flip the
    * snapshot-in-progress gate while the stream runs. */
  def run(spark: SparkSession, cfg: RunConfig,
      stats: SyncStats = new SyncStats): RunResult = {
    require(!(cfg.readOnly && cfg.signalTable.nonEmpty),
      "read-only mode: source-table signal channel is not available, use the file channel")
    val stagingRoot = s"${cfg.workDir}/staging"
    val registry = new SchemaRegistry(s"${cfg.workDir}/schemas.json") // E4 carryover
    val signalTableId = cfg.signalTable.map(Cdc.safeTableId)
    // the signal table must flow through the stream even under an include filter
    val includeWithSignals = cfg.includeTables.map(ts => ts ++ cfg.signalTable)
    spark.streams.addListener(stats) // D8: progress/record bookkeeping via listener

    val reader = spark.readStream.format("graft.sources.CdcSpoolSource")
      .option("path", cfg.spoolDir)
    cfg.maxBytesPerTrigger.foreach(m => reader.option("maxBytesPerTrigger", m.toString))
    cfg.stopAtPos.foreach(p => reader.option("stopAtPos", p.toString))
    cfg.stopAtFile.foreach(f => reader.option("stopAtFile", f))
    val stream = reader.load()

    val trigger =
      if (cfg.maxWaitMs.isDefined) Trigger.ProcessingTime(100) else Trigger.AvailableNow()
    val query = stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"${cfg.workDir}/checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (cfg.wireFormat) stageWireEvents(spark, batch, stagingRoot, includeWithSignals,
          filtersOf(cfg))
        else stageEvents(spark, batch, stagingRoot, registry, only = includeWithSignals,
          filtersOf(cfg))
      }
      .start()
    cfg.maxWaitMs match {
      case Some(wait) =>
        // reference control loop (`AbstractDebeziumTask.java:166-189`): poll every 500 ms;
        // stop when idle > maxWait AND no snapshot is in progress; max duration still caps
        // the whole run. Stops are taken at trigger boundaries, not mid-batch.
        val deadline = cfg.maxDurationMs.map(System.currentTimeMillis() + _)
        var running = query.isActive
        while (running) {
          query.awaitTermination(500)
          running = query.isActive
          if (running) {
            val idleMs = System.currentTimeMillis() - stats.snapshot.lastEventMs
            val timedOut = deadline.exists(System.currentTimeMillis() >= _)
            val idleStop = idleMs > wait && !stats.snapshotInProgress &&
              !query.status.isTriggerActive
            if (timedOut || idleStop) { query.stop(); running = false }
          }
        }
      case None =>
        cfg.maxDurationMs match {
          case Some(ms) => if (!query.awaitTermination(ms)) query.stop()
          case None     => query.awaitTermination()
        }
    }
    // progress events arrive on an async listener bus; give the final batch's event a moment
    val deadline = System.currentTimeMillis() + 2000
    while (stats.snapshot.processing && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    spark.streams.removeListener(stats)

    // S5: blocking-snapshot signals from every channel — config-driven table additions,
    // the file signal channel, and execute-snapshot rows that arrived through the stream
    // via the source-table channel — resolved to one backfill set: a full-spool batch read
    // (no checkpoint) filtered to the signalled tables, staged like any other events.
    // Each signal fires its backfill exactly once (ADVICE r2): processed ids persist in
    // the work dir and filter both channels; the file-channel file is renamed aside after
    // a successful backfill so the next run doesn't re-resolve it.
    val processedPath = s"${cfg.workDir}/processed_signals.json"
    val processedIds = Signals.loadProcessedIds(processedPath)
    val fileSignals = cfg.signalFile.flatMap(Signals.readSignalFile).toSeq
      .filterNot(s => processedIds.contains(s.id))
    val sourceSignals = signalTableId
      .map(Signals.fromStagedTable(spark, stagingRoot, _, processedIds)).getOrElse(Nil)
    val signals = fileSignals ++ sourceSignals
    val backfill = (cfg.snapshotTables ++ signals.flatMap(_.dataCollections)).distinct
    if (backfill.nonEmpty) {
      val batchDf = spark.read.format("graft.sources.CdcSpoolSource")
        .option("path", cfg.spoolDir).load()
      val wanted = backfill.toSet
      if (cfg.wireFormat) stageWireEvents(spark, batchDf, stagingRoot, Some(wanted),
        filtersOf(cfg))
      else stageEvents(spark, batchDf, stagingRoot, registry, only = Some(wanted),
        filtersOf(cfg))
    }
    if (signals.nonEmpty) { // backfill staged successfully: retire the signals
      // The processed-ids record lands only AFTER the backfill's staging append succeeded,
      // so a crash between the two re-runs the backfill next invocation — at-least-once,
      // absorbed by LWW dedupe (replayed rows carry the same positions); in APPEND mode
      // the replay appends duplicates, the same §2.7 window as a replayed micro-batch.
      Signals.markProcessed(processedPath, signals.map(_.id).toSet)
      // retire ONLY a file whose signals were actually resolved THIS run (ADVICE r3):
      // consuming on source-table signals alone would rename aside an unprocessed file
      // written after readSignalFile ran — and with an empty tag the rename target would
      // clobber the prior audit record
      if (fileSignals.nonEmpty) cfg.signalFile.foreach(f =>
        Signals.consumeSignalFile(f, tag = fileSignals.map(_.id).mkString("_")))
    }

    // ---- post-process: union-of-epochs read, dedupe policy, export (SURVEY §3.1 steps 8-9)
    // the signal table is control-channel plumbing, never an output table
    val tableNames = graft.operators.StagingCatalog.tables(stagingRoot)
      .filterNot(t => signalTableId.contains(t))
    val results = exportTables(spark, stagingRoot, tableNames, cfg)
    val counts = results.map(r => r.table -> r.rows).toMap
    val schemas = results.map(r => r.table -> r.schema).toMap
    val lastPos = (results.map(_.maxPos + 1) :+ 0L).max
    val offsetBlob = graft.sinks.OffsetStore.encodeBase64(
      Map(graft.sinks.OffsetStore.spoolOffsetEntry("graft", "spool", lastPos)))
    CsvManifestSink.writeState(cfg.outDir, lastPos, schemas, Some(offsetBlob))
    RunResult(counts, lastPos, cfg.outDir, stats.snapshot)
  }

  private[graft] final case class TableExport(table: String, rows: Long, maxPos: Long,
      schema: StructType)

  /**
   * Dedupe + export every staged table with ONE Spark action per table, tables running
   * concurrently on a small driver pool (VERDICT r3 #4 — the old loop issued `count()` +
   * `max().collect()` + the CSV write sequentially per table: 3 jobs each, serialized, so
   * hundreds of tables bottlenecked on the driver loop while the cluster idled between
   * jobs).
   *
   *  - row count and max position ride the CSV-export job as `observe()` metrics
   *    (CollectMetrics accumulates during the write — no second computation, no persist);
   *  - max position is observed on the EXPORT rows, which is sound because LWW keeps each
   *    key's latest row, so the globally-latest staged row always survives (and append
   *    mode exports every row);
   *  - the pool runs table jobs concurrently (Spark schedulers are thread-safe); stages of
   *    different tables interleave across the cluster instead of running back to back.
   */
  private[graft] def exportTables(spark: SparkSession, stagingRoot: String,
      tableNames: Seq[String], cfg: RunConfig): Seq[TableExport] = {
    if (tableNames.isEmpty) return Nil
    val outTables = s"${cfg.outDir}/tables"
    val orderOut = Cdc.OutputRenames(Cdc.OrderCol)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(tableNames.size, 4))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val loadType = cfg.loadType.getOrElse(
      if (cfg.mode == "dedupe") "incremental_load" else "append_full")
    require(Set("full_load", "incremental_load", "append_incremental", "append_full")(loadType),
      s"unknown load_type '$loadType'")
    val dedupe = loadType == "full_load" || loadType == "incremental_load"
    val incremental = loadType == "incremental_load" || loadType == "append_incremental"
    val futures = tableNames.map { table =>
      scala.concurrent.Future {
        val staged = spark.read.option("mergeSchema", "true").parquet(s"$stagingRoot/$table")
        val deduped =
          if (dedupe)
            Cdc.dedupeLastWins(staged, cfg.primaryKeys.getOrElse(table, Seq.empty))
          else staged.orderBy(col(Cdc.OrderCol)) // append mode keeps every event, ordered
        val payloadCols = deduped.columns.filterNot(c => Cdc.SystemCols.contains(c))
        val normalized = Cdc.normalizeColumns(
          deduped.select((payloadCols ++ Cdc.SystemCols.filter(deduped.columns.contains)).map(col): _*))
        // output contract: KBC__EVENT_TIMESTAMP_MS is epoch millis (§1.2) — the wire path
        // decodes the logical Timestamp to TimestampType, so convert back for export
        val ordered = normalized.schema.find(_.name == "KBC__EVENT_TIMESTAMP_MS") match {
          case Some(f) if f.dataType == TimestampType =>
            normalized.withColumn("KBC__EVENT_TIMESTAMP_MS", unix_millis(col("KBC__EVENT_TIMESTAMP_MS")))
          case _ => normalized
        }
        val obs = org.apache.spark.sql.Observation(s"graft_post_$table")
        val observed = ordered.observe(obs,
          count(lit(1)).as("n_rows"), max(col(orderOut).cast(LongType)).as("max_pos"))
        CsvManifestSink.writeCsv(observed, outTables, table) // the single action per table
        // manifest primary key = the EFFECTIVE dedupe key: with no configured pkey the D9
        // fallback keys on every payload column, and the reference's no-pkey golden
        // manifests list exactly that (`simple-incremental-no-pkey-dedupe/...*.manifest`)
        val cfgPk = cfg.primaryKeys.getOrElse(table, Seq.empty)
        val manifestPk = if (dedupe) Cdc.effectivePks(staged, cfgPk) else cfgPk
        CsvManifestSink.writeManifest(ordered.schema, outTables, table,
          manifestPk, incremental = incremental)
        val m = obs.get
        TableExport(table, m("n_rows").asInstanceOf[Long],
          Option(m("max_pos")).map(_.asInstanceOf[Long]).getOrElse(-1L), ordered.schema)
      }
    }
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  /** Envelope metadata (table routing, op, source ts) — parsed with a pruned schema so the
    * payload objects are skipped, not materialized. */
  private val MetaEnvelopeSchema = StructType(Seq(
    StructField("table", StringType),
    StructField("op", StringType),
    StructField("source", StructType(Seq(StructField("ts_ms", LongType))))))

  /**
   * Group a (pos, value) event batch by table and append typed rows to staging parquet.
   *
   * Single-parse, order-preserving, type-stable staging (VERDICT r1 #3 + ADVICE):
   *  - each event is parsed ONCE: a pruned meta parse (table/op/ts — payload objects
   *    skipped) + the CHOSEN state's object extracted and map-parsed; the old path paid
   *    full inference plus a second full from_json per batch;
   *  - column order is FIRST-SEEN order across arrival: distinct key-array SHAPES are
   *    aggregated (a handful per batch, never per-entry rows) and walked in arrival order —
   *    the same insertion-ordered schema growth as the reference's `LinkedHashMap<String,
   *    SchemaElement>` (`AbstractDbConverter.java:47,54`), replacing the alphabetizing
   *    inference of the old path;
   *  - types come from the [[SchemaRegistry]] accumulated across batches AND runs (E4);
   *    inference (over the cached payload text) runs solely on batches that introduce NEW
   *    columns (E1) and doubles as those batches' type audit;
   *  - numeric type drift (a long column receiving 1.5) is detected by a steady-state
   *    try_cast audit and handled by WIDENING (long→double→string) with a one-time rewrite
   *    of that table's staged history ([[graft.operators.StagingCatalog.retype]]), instead
   *    of per-batch re-inference writing parquet chunks whose types can't merge.
   */
  private def stageEvents(spark: SparkSession, batch: DataFrame, stagingRoot: String,
      registry: SchemaRegistry, only: Option[Set[String]] = None,
      filters: ColumnFilters = ColumnFilters()): Unit = {
    import spark.implicits._
    // no isEmpty pre-check: it would cost an extra source scan (inflating numInputRows and
    // wall time); the cached distinct below handles empty batches for free
    val parsed0 = batch
      .select(col("pos"), col("value"), from_json(col("value"), MetaEnvelopeSchema).as("m"))
      .select(col("pos"), col("value"),
        col("m.table").as("table"), col("m.op").as("op"), col("m.source.ts_ms").as("ts_ms"))
    val routed = only.fold(parsed0)(w => parsed0.filter(col("table").isin(w.toSeq: _*)))
      .filter(col("op") =!= lit("t")) // drop truncates (SMT :208-213)
    val spooled = routed
      // delete rewrite: take columns from `before` (PK-only under default replica identity);
      // only the CHOSEN state's object is extracted and map-parsed — scalars become their
      // JSON text, arrays/objects stay raw JSON (the reference's VARCHAR rendering,
      // `AbstractDbConverter.java:113-114`); tombstones (no chosen state) drop here (P1)
      .withColumn("praw", when(col("op") === lit("d"), get_json_object(col("value"), "$.before"))
        .otherwise(get_json_object(col("value"), "$.after")))
      .filter(col("praw").isNotNull)
      .withColumn("p", from_json(col("praw"), MapType(StringType, StringType)))
      // the cache carries (pos, table, op, ts_ms, praw, p) — payload text (for drift-batch
      // inference, no source re-scan) but never the full envelope string
      .drop("value")
      .cache()
    try {
      val tables = spooled.select("table").distinct().as[String].collect()
      for (table <- tables if table != null) {
        val sub = spooled.filter(col("table") === table)
        // First-seen key order WITHOUT exploding entries: real batches contain a handful of
        // distinct key SHAPES (key arrays), so aggregate those — the hash agg carries whole
        // shapes, not per-entry rows, and the driver walks shapes in arrival order
        // appending unseen keys (the reference's LinkedHashMap growth).
        val shapes = sub.select(map_keys(col("p")).as("ks"), col("pos"))
          .groupBy("ks").agg(min(col("pos")).as("p0"))
          .collect().map(r => (r.getSeq[String](0), r.getLong(1))).sortBy(_._2)
        val keyOrder = {
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          for ((ks, _) <- shapes; k <- ks) seen += k
          seen.toSeq
        }
        val acc0 = registry.get(table)
        // P3/P4: filtered columns never enter the schema (connector-level semantics)
        val admitted = keyOrder.filter(k => filters.admits(table, k))
        val newKeys = admitted.filterNot(k => acc0.exists(_._1 == k))
        var acc = acc0
        val widened =
          if (newKeys.nonEmpty) {
            // E1 drift: only now is a second parse paid, and only over this batch — JSON
            // inference sees quoting (decimal-as-string stays exact) and covers EXISTING
            // columns too, so it doubles as this batch's type audit
            val inferred = inferPayloadTypes(spark, sub)
            acc = acc0 ++ admitted.filter(newKeys.contains)
              .map(k => k -> inferred.get(k).map(newColumnType).getOrElse(StringType))
            acc.map { case (k, t) => (k, widenType(t, inferred.get(k))) }
          } else {
            // steady state: one global audit aggregation (ADVICE fix — a long column
            // receiving 1.5 widens instead of silently nulling), no re-parse
            auditWiden(sub, acc)
          }
        if (widened != acc && acc0.nonEmpty)
          graft.operators.StagingCatalog.retype(spark, stagingRoot, Cdc.safeTableId(table),
            widened.toMap)
        acc = widened
        registry.put(table, acc)
        val payloadCols = acc.map { case (k, t) => element_at(col("p"), k).cast(t).as(k) }
        val sysCols = Seq(
          col("op").as(Cdc.OpCol),
          col("ts_ms").as(Cdc.TsCol),
          when(col("op") === "d", lit("true")).otherwise(lit("false")).as(Cdc.DeletedCol),
          col("pos").as(Cdc.OrderCol))
        sub.select(payloadCols ++ sysCols: _*)
          .write.mode("append").parquet(s"$stagingRoot/${Cdc.safeTableId(table)}")
      }
    } finally spooled.unpersist()
  }

  /** Payload field types from Spark's JSON inference over this batch's chosen-state
    * payload objects (cached `praw` text — inference sees quoting, so decimal-as-string
    * stays exact). Nested/array types normalize to raw-JSON STRING (§1.3); NullType is
    * KEPT so callers can tell "all null this batch" (no type information) from a real
    * string observation. */
  private def inferPayloadTypes(spark: SparkSession,
      sub: DataFrame): Map[String, DataType] = {
    import spark.implicits._
    def normalize(t: DataType): DataType = t match {
      case _: StructType | _: ArrayType | _: MapType => StringType
      case other => other
    }
    spark.read.json(sub.select("praw").as[String]).schema
      .fields.map(f => f.name -> normalize(f.dataType)).toMap
  }

  /** Staging type for a NEW column from its inferred type. */
  private def newColumnType(inferred: DataType): DataType = inferred match {
    case NullType => StringType
    case other    => other
  }

  private def isNumeric(t: DataType): Boolean = t match {
    case LongType | IntegerType | DoubleType | FloatType | _: DecimalType => true
    case _ => false
  }

  /** Widen an EXISTING column's accumulated type given this batch's inferred type:
    * numeric pairs meet at DOUBLE, anything else incompatible meets at STRING; an all-null
    * batch (NullType) or an absent column carries no information. */
  private def widenType(acc: DataType, inferred: Option[DataType]): DataType = inferred match {
    case None | Some(NullType)       => acc
    case Some(t) if t == acc         => acc
    case Some(t) if (acc == LongType || acc == IntegerType) && isNumeric(t) => DoubleType
    case Some(t) if (acc == DoubleType || acc == FloatType) && isNumeric(t) => acc
    case Some(_)                     => StringType
  }

  /**
   * Steady-state type audit (ADVICE fix), one global aggregation: count values that no
   * longer fit each non-string column's accumulated type (`try_cast` failure counters — no
   * re-parse). A long column that received "1.5" widens to double; anything not
   * double-castable widens to string; callers rewrite staged history on widen so parquet
   * chunks stay mergeable.
   */
  private def auditWiden(sub: DataFrame, acc: Seq[(String, DataType)]): Seq[(String, DataType)] = {
    val checked = acc.filter(_._2 != StringType)
    if (checked.isEmpty) return acc
    val aggs = checked.flatMap { case (k, t) =>
      val v = element_at(col("p"), k)
      Seq(
        count(when(v.isNotNull && v.try_cast(t).isNull, 1)).as(s"tfail__$k"),
        count(when(v.isNotNull && v.try_cast(DoubleType).isNull, 1)).as(s"dfail__$k"))
    }
    val row = sub.agg(aggs.head, aggs.tail: _*).collect()(0)
    acc.map {
      case (k, StringType) => (k, StringType)
      case (k, t) =>
        if (row.getAs[Long](s"tfail__$k") == 0L) (k, t)
        else if (isNumeric(t) && row.getAs[Long](s"dfail__$k") == 0L) (k, DoubleType)
        else (k, StringType)
    }
  }

  /**
   * E4: per-table accumulated payload schema (insertion-ordered), persisted across runs in
   * `workDir/schemas.json` — the analog of the reference feeding last run's `schema.json`
   * back into the converters (`executor.py:326-328`, `DbChangeConsumer.java:47-65`).
   */
  private[streaming] final class SchemaRegistry(path: String) {
    private var cache: Map[String, Seq[(String, DataType)]] = load()
    def get(table: String): Seq[(String, DataType)] =
      cache.getOrElse(graft.operators.Cdc.safeTableId(table), Seq.empty)
    def put(table: String, cols: Seq[(String, DataType)]): Unit = {
      cache += graft.operators.Cdc.safeTableId(table) -> cols
      save()
    }
    private def file = java.nio.file.Paths.get(path)
    private def load(): Map[String, Seq[(String, DataType)]] = {
      if (!java.nio.file.Files.exists(file)) return Map.empty
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(java.nio.file.Files.readString(file))
      import scala.jdk.CollectionConverters._
      root.properties().asScala.map { e =>
        val cols = e.getValue.elements().asScala.map { n =>
          (n.get("name").asText(), DataType.fromDDL(n.get("type").asText()))
        }.toSeq
        e.getKey -> cols
      }.toMap
    }
    private def save(): Unit = {
      def q(s: String) = "\"" + graft.sinks.CsvManifestSink.jsonEscape(s) + "\""
      val json = cache.toSeq.sortBy(_._1).map { case (t, cols) =>
        q(t) + ": [" + cols.map { case (n, dt) =>
          s"{${q("name")}: ${q(n)}, ${q("type")}: ${q(dt.sql)}}"
        }.mkString(", ") + "]"
      }.mkString("{", ", ", "}")
      java.nio.file.Files.createDirectories(file.getParent)
      java.nio.file.Files.writeString(file, json)
    }
  }

  /**
   * Wire-format staging: SMT-unwrapped flat Connect events. Table id comes from
   * `schema.name` = `<topic>.<schema>.<table>.Value` with dots → underscores
   * (`AppendDbConverter.java:27`); the payload is decoded at the types declared by the
   * event's own `schema.fields` block (logical dates/timestamps included) — the sample is
   * the highest-position event, whose schema is the widest (schemas grow additively, E1/E3).
   */
  private def stageWireEvents(spark: SparkSession, batch: DataFrame, stagingRoot: String,
      only: Option[Set[String]],
      filters: ColumnFilters = ColumnFilters()): Unit = {
    import spark.implicits._
    import graft.operators.EnvelopeDecoder
    val spooled0 = batch.select(col("pos"), col("value"),
      regexp_replace(get_json_object(col("value"), "$.schema.name"), "\\.Value$", "").as("table"))
    val spooled = only.fold(spooled0)(w => spooled0.filter(col("table").isin(w.toSeq: _*))).cache()
    try {
      // schema sample per table = the highest-position event's SCHEMA BLOCK (schemas grow
      // additively, so the newest is the widest). ONE aggregation action covers every
      // table, and only the schema JSON crosses to the driver — get_json_object slices it
      // out on the executors, so a batch of megabyte rows ships kilobytes of column
      // metadata (the old form pulled one FULL envelope per table, payload included, with
      // a distinct + an agg action per table; VERDICT r3 "what's wrong" #5).
      val samples = spooled.groupBy(col("table"))
        .agg(max_by(get_json_object(col("value"), "$.schema"), col("pos")).as("schema_json"))
        .collect()
        .collect { case r if r.getString(0) != null => r.getString(0) -> r.getString(1) }
      for ((table, schemaBlock) <- samples) {
        val sub = spooled.filter(col("table") === table)
        // P3/P4 apply at the connector level on this path too (ADVICE r2): filtered
        // columns never reach the decode, the staged parquet, or the export. System
        // `kbc__`/`__deleted` columns ride in the wire payload and are never filterable.
        val tid = Cdc.safeTableId(table)
        val elements = EnvelopeDecoder.parseSchemaElements(schemaBlock)
          .filter(e => filters.admits(table, e.field))
        val rows = EnvelopeDecoder.decodePayload(sub, "value", elements, passthrough = Seq("pos"))
          .withColumnRenamed("pos", Cdc.OrderCol)
        rows.write.mode("append").parquet(s"$stagingRoot/$tid")
      }
    } finally spooled.unpersist()
  }

  /**
   * P3/P4 admission shared by every staging path: system columns always pass; payload
   * columns must pass the include rules (empty = all) and then the exclude rules. Literal
   * lists are keyed by safe table id; regex rules match the WHOLE fully-qualified
   * `<table>.<column>` name, Debezium's `column.*.list` contract.
   */
  final case class ColumnFilters(
      include: Map[String, Seq[String]] = Map.empty,
      exclude: Map[String, Seq[String]] = Map.empty,
      includeRegex: Seq[String] = Nil,
      excludeRegex: Seq[String] = Nil) {
    private val incP = includeRegex.map(_.r.pattern)
    private val excP = excludeRegex.map(_.r.pattern)
    val isEmpty: Boolean =
      include.isEmpty && exclude.isEmpty && includeRegex.isEmpty && excludeRegex.isEmpty
    def admits(table: String, name: String): Boolean = {
      if (name.startsWith("kbc__") || name == "__deleted") return true
      val tid = Cdc.safeTableId(table)
      val inc = include.getOrElse(tid, Nil)
      val fq = s"$table.$name"
      val included = (inc.isEmpty && incP.isEmpty) ||
        inc.contains(name) || incP.exists(_.matcher(fq).matches())
      included && !exclude.getOrElse(tid, Nil).contains(name) &&
        !excP.exists(_.matcher(fq).matches())
    }
  }

  private def filtersOf(cfg: RunConfig): ColumnFilters =
    ColumnFilters(cfg.includeColumns, cfg.excludeColumns,
      cfg.includeColumnsRegex, cfg.excludeColumnsRegex)

}
