package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.operators.Cdc
import graft.ops.{DedupOps, MlOps, MultimodalOps, RetrievalOps, SampleOps, TextOps, VectorOps}
import graft.functions.TextFunctions

/**
 * Driver contract — one `queries` entry per implemented operator (SURVEY.md §2 inventory plus
 * the training-data-pipeline operator set), with a DuckDB oracle for everything SQL-expressible.
 *
 * Conventions shared with the oracles (driver hash-compares after sorting columns by name):
 *  - aggregate money/value sums go through exact DECIMAL arithmetic, then CAST to DOUBLE
 *    (identical bits in both engines; avoids fp-sum-order and decimal-precision drift);
 *  - counts are LONG, ratios are DOUBLE rounded to fixed scale;
 *  - timestamps cross the comparison boundary as formatted strings or epoch-millis longs.
 */
object SparkEntry {

  /** MOSS winnowing fingerprints (Schleimer et al. 2003), md5-60 ORACLE form: per window
    * of 4 consecutive shingle hashes keep the minimum — positionally-robust selection with
    * the guarantee that any shared run of >= w+n-1 tokens yields a shared fingerprint
    * (bottom-k `doc_fingerprint` has no such locality guarantee). Zero shuffle: the
    * positional hash array materializes once behind the Generate barrier. This HOF+md5
    * form is what DuckDB replays; the one-pass xxh64 monotone-deque kernel
    * [[graft.functions.TextFunctions.winnowing]] is the benched 100 TB drop-in. */
  private def winnowingMd5Fps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array(transform(
          TextFunctions.shingles(TextOps.tokensCol(col("text")), 3),
          s => TextOps.md5Hash60(s)))).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), explode(array_distinct(
        when(size(col("hs")) >= 4,
          expr("transform(sequence(1, size(hs) - 3), i -> array_min(slice(hs, i, 4)))"))
          .otherwise(array(array_min(col("hs")))))).as("fp"))

  /** The xxh64 one-pass winnowing kernel over the same (n=3, w=4) parameters — the form
    * the bench times and a 100 TB run ships. */
  private def winnowingKernelFps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      explode(TextFunctions.winnowing(TextOps.tokensCol(col("text")), 3, 4)).as("fp"))

  /** The recall-vs-nProbe curve body shared by the Verify gate (trains inline) and
    * the bench override (probes a pre-trained quantizer — the steady-state cost). */
  private def ivfRecallCurve(s: SparkSession, dir: String,
      model: Array[Array[Float]]): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val per = Seq(1, 2, 4, 8).map { np =>
      VectorOps.ivfTopK(e, q, k = 3, nCentroids = 16, nProbe = np,
          trained = Some(model))
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(np).as("np"), col("hits"))
    }.reduce(_ union _)
    per.crossJoin(broadcast(exact.agg(count(lit(1)).as("__ne"))))
      .agg(max(col("__ne")).as("n_exact"),
        max(when(col("np") === 1, col("hits"))).as("__h1"),
        max(when(col("np") === 2, col("hits"))).as("__h2"),
        max(when(col("np") === 4, col("hits"))).as("__h4"),
        max(when(col("np") === 8, col("hits"))).as("__h8"))
      .select(col("n_exact"),
        (col("__h1") <= col("__h2") && col("__h2") <= col("__h4") &&
          col("__h4") <= col("__h8")).as("mono_ok"),
        (col("__h8").cast(DoubleType) >= col("n_exact") * 0.25).as("recall8_ok"))
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // Driver testdata has shipped `ts` as parquet TIMESTAMP(NANOS) (which vanilla Spark 4
    // refuses — PARQUET_TYPE_ILLEGAL — so it reads as a nanos long under the legacy conf)
    // and, since the 2026-08-13 regeneration, as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    // (which Spark infers as TIMESTAMP_NTZ). Normalize BOTH to plain TimestampType here —
    // session timezone is UTC everywhere (Verify/SparkSpec), so the NTZ cast is the
    // identity on the epoch value — and every query downstream sees one timestamp type.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df0 = s.read.parquet(s"$dir/$name.parquet")
    val df1 = df0.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) => df0.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df0
    }
    scanFloor(s, df1, s"$dir/$name.parquet")
  }

  /**
   * Parallelism floor over an unsplittable scan (optimization guide §2.5: "input skew —
   * one huge unsplittable file … repartition immediately after the read"). The driver's
   * testdata ships every table as ONE parquet row group, and parquet cannot split below
   * the row group: every scan plans as a single task, so ALL narrow work above it —
   * envelope synthesis + JSON parse, tokenization, vector scoring, pre-shuffle partial
   * aggregation — serializes on one core no matter what SPARK_GRAFT_CPUS grants
   * (measured: cdc_unwrap spends 1.68 s of its 1.81 s in one single-task stage at 32
   * cores). A production input at 100 TB arrives as thousands of row groups ≥ the core
   * count, so the floor condition below is false and this is the identity — no extra
   * exchange ever appears in an at-scale plan; it is NOT a constant tuned for local
   * mode but the partition count the scan itself would have had were the input split
   * normally (min(bytes/target, cores)).
   *
   * The spread is round-robin — never keyed, so it cannot skew and cannot be mistaken
   * for a semantic partitioning — and Spark's sort-before-repartition (on by default)
   * keeps the row→partition assignment deterministic under task retry. Target bytes
   * per partition come from `spark.graft.scanFloor.targetBytes` (default 64 KB of
   * COMPRESSED parquet ≈ ms-scale scan work; snappy+dictionary explode ~5-10× in
   * memory and the per-row compute above these scans is orders of magnitude past the
   * read cost). Set 0 to disable.
   *
   * The scan's own partition count is DERIVED from file bytes with Spark's split
   * formula (maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
   * bytes/minPartitionNum))) instead of `df.rdd.getNumPartitions` — the r13 form
   * compiled a full physical plan per table read just to ask for a partition count
   * (ADVICE r13 #2), ~10-40 ms of driver work inside every timed region, multiplied
   * by two reads per bench run. The formula and the compiled plan agree on the only
   * fact the floor needs: whether the planned scan already splits at least `want`
   * ways (single-file local inputs plan ≤ a handful of splits; a 100 TB input plans
   * orders of magnitude more than the core count, so the floor stays the identity).
   */
  private def scanFloor(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    val target = s.conf.getOption("spark.graft.scanFloor.targetBytes")
      .map(_.toLong).getOrElse(64L << 10)
    if (target <= 0) return df
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
      } catch { case _: Throwable => 0L }
    val cores = s.sparkContext.defaultParallelism.toLong
    val want = math.min(cores, math.max(1L, bytes / target)).toInt
    if (want <= 1) return df
    val maxPartitionBytes = s.conf.getOption("spark.sql.files.maxPartitionBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(128L << 20)
    val openCost = s.conf.getOption("spark.sql.files.openCostInBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(4L << 20)
    val maxSplit = math.min(maxPartitionBytes,
      math.max(openCost, (bytes + openCost) / math.max(1L, cores)))
    val plannedSplits = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    if (plannedSplits < want) df.repartition(want) else df
  }

  private def dec(c: Column, p: Int = 18, s: Int = 2): Column = c.cast(DecimalType(p, s))

  /** Shared QTE finisher: (arm, v, c) histogram → per-quantile control/treatment/
    * effect rows. One-shot ev_qte and the maintained ev_qte_incremental both land
    * here, so the two queries are row-identical by construction. */
  private def qteFromHist(hist: DataFrame): DataFrame = {
    val probs = Seq(("p10", 0.10), ("p25", 0.25), ("p50", 0.50),
      ("p75", 0.75), ("p90", 0.90))
    graft.ops.SampleOps.groupedExactPercentilesFromHist(hist, "arm", probs)
      .select(col("arm"), expr(
        "stack(5, 'p10', p10, 'p25', p25, 'p50', p50, 'p75', p75, 'p90', p90) AS (q, v)"))
      .groupBy(col("q"))
      .agg(max(when(col("arm") === 0, col("v"))).as("__qa"),
        max(when(col("arm") === 1, col("v"))).as("__qb"))
      .select(col("q").as("quantile"),
        round(col("__qa") / 100, 2).as("q_control"),
        round(col("__qb") / 100, 2).as("q_treatment"),
        round((col("__qb") - col("__qa")) / 100, 2).as("qte"))
  }

  /** Planted blob corpus shared by `mm_cdc_chunks` / `mm_cdc_incremental`: every doc
    * as a UTF-8 blob, a tenth duplicated verbatim (exact-copy failure mode) and a
    * tenth re-emitted behind a 7-byte "container header" (the shifted-content mode
    * CDC exists for). (id, orig, kind 0/1/2, blob). */
  private def cdcPlantedBlobs(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
    val m = base.agg((max(col("doc_id")) + 1).as("__m"))
    val b = base.crossJoin(broadcast(m))
    val hdr = lit("graftH:".getBytes("UTF-8"))
    b.select(col("doc_id").as("id"), col("doc_id").as("orig"),
        lit(0).as("kind"), col("blob"))
      .unionAll(b.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + col("__m")).as("id"), col("doc_id").as("orig"),
          lit(1).as("kind"), col("blob")))
      .unionAll(b.filter(pmod(col("doc_id"), lit(10)) === 5)
        .select((col("doc_id") + col("__m") * 2).as("id"), col("doc_id").as("orig"),
          lit(2).as("kind"), concat(hdr, col("blob")).as("blob")))
  }

  /** Source pairs for the JSD shift check — shared by the query and its generated oracle. */
  private val JsdPairs = Seq(("src0", "src1"), ("src0", "src19"), ("src5", "src7"))

  /** Full Naive-Bayes train+score replay in DuckDB (Laplace grid, decimal log terms,
    * deterministic argmax) — shared by the per-doc gate and the confusion rollup. */
  private val nbReplayCte =
    """WITH s AS (SELECT doc_id, lang, text,
      |    CAST('0x'||substring(md5(text),1,4) AS INT) % 100 AS b FROM documents),
      |trt AS (SELECT lang AS label,
      |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
      |  FROM s WHERE b < 90),
      |freq AS (SELECT label, token, COUNT(*) AS cnt FROM trt GROUP BY 1, 2),
      |tot AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS tot FROM freq GROUP BY 1),
      |voc AS (SELECT COUNT(DISTINCT token) AS v FROM freq),
      |vt AS (SELECT DISTINCT token FROM freq),
      |lp AS (SELECT vt.token, t.label,
      |    CAST(LOG10(CAST(COALESCE(f.cnt, 0) + 1 AS DOUBLE) / CAST(t.tot + voc.v AS DOUBLE))
      |      AS DECIMAL(18,8)) AS lp
      |  FROM vt CROSS JOIN tot t CROSS JOIN voc
      |  LEFT JOIN freq f ON f.label = t.label AND f.token = vt.token),
      |pri AS (SELECT lang AS label, COUNT(*) AS nd FROM s WHERE b < 90 GROUP BY 1),
      |prilp AS (SELECT label,
      |    CAST(LOG10(CAST(nd AS DOUBLE) / (SELECT CAST(SUM(nd) AS DOUBLE) FROM pri))
      |      AS DECIMAL(18,8)) AS plp FROM pri),
      |tet AS (SELECT doc_id, lang, token, COUNT(*) AS k FROM (
      |    SELECT doc_id, lang,
      |      unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
      |    FROM s WHERE b >= 90) GROUP BY 1, 2, 3),
      |sc AS (SELECT te.doc_id, te.lang, l.label,
      |    SUM(CAST(te.k AS DECIMAL(10,0)) * l.lp) AS ssum
      |  FROM tet te JOIN lp l USING (token) GROUP BY 1, 2, 3),
      |best AS (SELECT sc.doc_id, sc.lang, sc.label,
      |    ROW_NUMBER() OVER (PARTITION BY sc.doc_id
      |      ORDER BY sc.ssum + p.plp DESC, sc.label ASC) AS rn
      |  FROM sc JOIN prilp p USING (label))
      |""".stripMargin

  // ---------------------------------------------------------------------------------------------
  // CDC: simulated Debezium envelope stream over the `events` table.
  // op mapping: signup→c, purchase→u, error→d (delete), else r; entity pk = user_id;
  // source position = event_id (the arrival total order, SURVEY §7.4.2).
  // ---------------------------------------------------------------------------------------------

  private val EnvelopeSchema = StructType(Seq(
    StructField("op", StringType),
    StructField("after", StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))),
    StructField("before", StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))),
    StructField("source", StructType(Seq(
      StructField("ts_ms", LongType), StructField("file", StringType),
      StructField("pos", LongType))))))

  /** Render events as raw Debezium envelope JSON strings (the CDC source's wire format).
    * Built with codegen'd string concat rather than per-row Jackson `to_json` — the
    * generation is bench scaffolding; the measured operators are the parse + unwrap +
    * dedupe downstream. */
  private def eventEnvelopes(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val isDel = col("event_type") === "error"
    val op = when(col("event_type") === "signup", "c")
      .when(col("event_type") === "purchase", "u")
      .when(isDel, "d").otherwise("r")
    val payloadJson = concat(lit("{\"event_id\":"), col("event_id"),
      lit(",\"user_id\":"), col("user_id"),
      lit(",\"event_type\":\""), col("event_type"),
      lit("\",\"value\":"), col("value").cast(StringType), lit("}"))
    val pkOnlyJson = concat(lit("{\"user_id\":"), col("user_id"), lit("}"))
    ev.select(concat(
      lit("{\"op\":\""), op,
      lit("\",\"after\":"), when(isDel, lit("null")).otherwise(payloadJson),
      lit(",\"before\":"), when(isDel, pkOnlyJson).otherwise(lit("null")),
      lit(",\"source\":{\"ts_ms\":"), unix_millis(col("ts")),
      lit(",\"file\":\"binlog.000001\",\"pos\":"), col("event_id"),
      lit("}}")).as("value"))
  }

  /** Parse + unwrap (P1/P2) + normalize (P8): the full envelope→staging-row path.
    * Tombstones (no op) and truncates drop BELOW the parse via a cheap streaming-path
    * predicate, so the full envelope parse runs exactly once per surviving row (see the
    * plan note on [[Cdc.unwrapEnvelope]] — the naive post-parse filter re-evaluates the
    * parse 3× per row in an interpreted Filter). */
  private def unwrapped(s: SparkSession, dir: String): DataFrame = {
    val rawOp = get_json_object(col("value"), "$.op")
    // The `|| spark_partition_id() < 0` arm is vacuously FALSE — it never admits a
    // row — but it makes the tombstone prefilter a single NON-DETERMINISTIC predicate
    // that PushPredicateThroughNonJoin can neither split nor push below the scan-floor
    // exchange (guide §4.4's duplication fix applied to placement): without it the
    // whole get_json_object probe (a per-row streaming JSON parse) is substituted
    // through the envelope projection and evaluated on the ONE pre-spread scan task,
    // re-serializing the exact work the floor exists to spread (measured: 1.22 s
    // single-task below the exchange vs ~0.1 s/task above it at 32 cores).
    val parsed = eventEnvelopes(s, dir)
      .filter((rawOp.isNotNull && rawOp =!= lit("t")) || spark_partition_id() < 0)
      .select(from_json(col("value"), EnvelopeSchema).as("j"))
      .select(col("j.*"))
    Cdc.normalizeColumns(Cdc.unwrapEnvelope(parsed, withBinlogPosition = true,
      preFiltered = true))
  }

  private val unwrapOracle =
    """WITH u AS (
      |  SELECT
      |    CASE WHEN event_type='error' THEN NULL ELSE event_id END AS event_id,
      |    user_id,
      |    CASE WHEN event_type='error' THEN NULL ELSE event_type END AS et,
      |    CASE WHEN event_type='error' THEN NULL ELSE value END AS v,
      |    CASE WHEN event_type='signup' THEN 'c' WHEN event_type='purchase' THEN 'u'
      |         WHEN event_type='error' THEN 'd' ELSE 'r' END AS op,
      |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,
      |    'binlog.000001' AS file, event_id AS pos,
      |    CASE WHEN event_type='error' THEN 'true' ELSE 'false' END AS deleted
      |  FROM events)
      |""".stripMargin

  // ---------------------------------------------------------------------------------------------

  /** Flagship: full CDC pipeline (envelope → unwrap → LWW dedupe) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("cdc_dedupe_lww")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- analytics / bench headliners ---------------------------------------------------------

    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
          sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // multi-level aggregate via ROLLUP: Spark plans one Expand (x3 grouping sets) feeding
    // a single partially-aggregated exchange — three GROUP BYs for the price of one scan.
    // Rollup NULLs are disambiguated from data NULLs by grouping() and rendered 'ALL' so
    // the cross-engine compare never sorts raw NULL keys
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).as("g1"),
          grouping(col("l_linestatus")).as("g2"),
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("count_order"))
        .select(
          when(col("g1") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("returnflag"),
          when(col("g2") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("linestatus"),
          col("sum_qty"), col("count_order"))
    }),

    // full CUBE (2^n grouping sets in ONE scan — Expand x4 into a single partially-
    // aggregated exchange); grouping-id bitmask disambiguates cube NULLs from data NULLs
    "q_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).as("g1"),
          grouping(col("l_linestatus")).as("g2"),
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(dec(col("l_extendedprice"), 12, 2)).cast(DoubleType).as("sum_price"),
          count(lit(1)).as("count_order"))
        .select(
          when(col("g1") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("returnflag"),
          when(col("g2") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("linestatus"),
          (col("g1") * 2 + col("g2")).cast("int").as("gid"),
          col("sum_qty"), col("sum_price"), col("count_order"))
    }),

    // the correlated-subquery pattern (orders above their customer's average), written
    // decorrelated: one custkey exchange feeds the aggregate AND the probe join. The
    // comparison is price*n > sum in exact DECIMAL — algebraically identical to
    // price > avg but with no division, so no fp boundary can disagree across engines
    "q_above_avg_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val sums = o.groupBy("o_custkey").agg(
        sum(dec(col("o_totalprice"))).as("sum_price"), count(lit(1)).as("n_orders"))
      o.join(sums, "o_custkey")
        .filter(dec(col("o_totalprice")) * col("n_orders") > col("sum_price"))
        .select(col("o_orderkey"), col("o_custkey"),
          dec(col("o_totalprice")).cast(DoubleType).as("totalprice"), col("n_orders"))
    }),

    // TPC-H Q22 shape: broadcast scalar stats (division-free above-average predicate,
    // the q_above_avg_orders trick) + broadcast-able ANTI join against orders — the
    // "well-funded customers with no urgent order" report. One exchange on the anti join's
    // build side; the scalar aggregate broadcasts.
    "q22_lost_customers" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val stats = c.filter(dec(col("c_acctbal")) > 0)
        .agg(sum(dec(col("c_acctbal"))).as("__s"), count(lit(1)).as("__n"))
      c.crossJoin(broadcast(stats))
        .filter(dec(col("c_acctbal")) * col("__n") > col("__s"))
        .join(o.filter(col("o_orderpriority") === "1-URGENT"),
          c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_custs"),
          sum(dec(col("c_acctbal"))).cast(DoubleType).as("total_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    "q3_top_customers" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .filter(o("o_orderstatus") === "F")
        .groupBy(c("c_custkey"), c("c_name"))
        .agg(
          sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
            .cast(DoubleType).as("revenue"),
          countDistinct(o("o_orderkey")).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: the 5-way join-order showcase — dims broadcast (region filter
    // applied BEFORE the broadcast), facts shuffle once on their join keys, the date
    // filter reaches the orders scan
    "q5_region_revenue" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier"); val nat = t(s, dir, "nation"); val reg = t(s, dir, "region")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
          .cast(DoubleType).as("revenue"))
    }),

    "q_dim_join" -> ((s, dir) => {
      val sup = t(s, dir, "supplier"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      sup.join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(dec(col("s_acctbal"))).cast(DoubleType).as("sum_acctbal"))
    }),

    // exact interpolated percentiles (oracle: DuckDB quantile_cont). Inputs quantize to a
    // CENTS-LONG grid BEFORE the percentile (VERDICT r3 #2): Percentile's aggregation
    // buffer holds every distinct value, so over a continuous double column its state
    // grows with the corpus — the cents grid bounds distinct keys by the VALUE RANGE
    // (×100), corpus-size-independent, and long keys hash ~1.7× faster than the
    // DECIMAL(18,2) representation (measured 3.8 s → 2.3 s at sf0.1). The data is 2-dp
    // already, so quantization is lossless; interpolation over scaled integers divided
    // back by 100 reproduces the unscaled percentile exactly (linearity).
    // exact percentiles on the cents grid via the DISTRIBUTED histogram (VERDICT r3 #2
    // follow-up): no value→count aggregation buffer, the histogram is the dataframe
    "q_percentiles" -> ((s, dir) => {
      SampleOps.exactPercentiles(t(s, dir, "lineitem"), Seq(
          ("mq", round(col("l_quantity") * 100), 0.5),
          ("pp", round(col("l_extendedprice") * 100), 0.95),
          ("pd", round(col("l_discount") * 100), 0.25)))
        .select(
          round(col("mq") / 100, 2).as("median_qty"),
          round(col("pp") / 100, 2).as("p95_price"),
          round(col("pd") / 100, 2).as("p25_discount"))
    }),

    // sketch aggregates for 100 TB profiling: HLL distinct counts + t-digest-style
    // approximate percentiles (implementations differ across engines -> rows-only check)
    // sketch values are engine-specific (HLL/KLL impls differ), so the gate is a
    // SELF-VERIFYING verdict row, like the ANN gates: per group, the HLL estimate must
    // sit within 5% of the exact distinct count and the approx median within 2% of the
    // exact median — the DuckDB oracle pins the expected verdict booleans.
    "q_approx_sketch" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val per = li.groupBy(col("l_returnflag")).agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_median"),
        expr("percentile(l_extendedprice, 0.5)").as("exact_median"))
      per.agg(
        count(lit(1)).as("n_groups"),
        (max(abs(col("approx_parts") - col("exact_parts")).cast(DoubleType) /
          col("exact_parts")) <= 0.05).as("hll_ok"),
        (max(abs(col("approx_median") - col("exact_median")) / col("exact_median")) <= 0.02)
          .as("pctl_ok"))
    }),

    // RFM customer segmentation: distributed histogram quintiles (integer-exact type-1
    // thresholds, no partitionless ntile window), broadcast threshold join
    "q_rfm" -> ((s, dir) => SampleOps.rfmSegments(t(s, dir, "orders"))),

    // Pareto 80/20 concentration cut: how many top customers carry 80% of revenue —
    // value-histogram cumulative (state bounded by the cents grid, not key count),
    // exact integer boundary arithmetic
    "q_pareto_cut" -> ((s, dir) =>
      SampleOps.paretoCut(t(s, dir, "orders"), "o_custkey", col("o_totalprice"))),

    // 2-D skyline / Pareto frontier (Börzsönyi et al. 2001, "The Skyline Operator"):
    // parts no other part dominates on (price ↓, size ↑) — the naive form is an
    // O(n²) dominance anti-join (the oracle's NOT EXISTS); the scale form collapses
    // to the |distinct size| GRID first (min price per size, one hash aggregate),
    // runs the strictly-larger-size suffix-min on that grid window, and semi-joins
    // the frontier back via broadcast. Corpus work: one aggregate + one broadcast
    // join — no corpus window, no pair blowup, any data size.
    "q_skyline" -> ((s, dir) =>
      SampleOps.skyline2d(t(s, dir, "part"),
        gain = col("p_size"),
        cost = (dec(col("p_retailprice"), 18, 2) * 100).cast("long"),
        keep = Seq(col("p_partkey")))
        .select(col("p_partkey"), col("gain").as("p_size"),
          col("cost").as("price_cents"))),

    // One-pass Poisson bootstrap CI for mean order value (Chamandy et al.): deterministic
    // md5-draw multiplicities vs fixed integer CDF thresholds; nReplicas aggregate cells
    // of state; rank-statistic CI over replica means
    "q_bootstrap_ci" -> ((s, dir) =>
      SampleOps.poissonBootstrapCi(t(s, dir, "orders"), col("o_orderkey"),
        col("o_totalprice"))),

    // Benford first-digit audit — the synthetic/fabricated-numbers detector for a value
    // column: observed first-significant-digit distribution vs Benford's log10(1+1/d),
    // per-digit chi-square contribution. 9-row output; ONE counting aggregate over the
    // scan (first digit from the DECIMAL string render — no float log in the bucketing);
    // expected shares enter as a FIXED 6dp decimal table so both engines' chi-square
    // terms are the same pinned doubles. Natural multi-magnitude data (prices) tracks
    // Benford; a uniform generator (this testdata) visibly does not — chi2 says which.
    "q_benford" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      // Benford expected shares, round(log10(1+1/d), 6), d = 1..9 — shared literal table
      val exp9 = Seq(0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
        0.066947, 0.057992, 0.051153, 0.045757)
      val expCol = element_at(array(exp9.map(lit): _*), col("digit").cast("int"))
      val digits = o.select(substring(dec(col("o_totalprice")).cast("string"), 1, 1)
          .cast("long").as("digit"))
        .filter(col("digit").between(1, 9))
      val n = digits.agg(count(lit(1)).as("n_total"))
      val dev = col("n_obs").cast(DoubleType) - expCol * col("n_total")
      digits.groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
        .crossJoin(broadcast(n))
        .select(col("digit"), col("n_obs"), col("n_total"),
          round(col("n_obs").cast(DoubleType) / col("n_total"), 6).as("obs_share"),
          expCol.as("exp_share"),
          // dev*dev, not pow(dev,2): libm pow is not bit-pinned across engines
          round(dev * dev / (expCol * col("n_total")), 6).as("chi2_term"))
        .orderBy(col("digit"))
    }),

    // Three-step STRICT-ORDER funnel (view -> click -> purchase): earliest-completion
    // semantics via running windows — step N's qualifying timestamp only counts when a
    // step-(N-1) completion exists STRICTLY earlier. ONE user exchange + ONE sort carry
    // all three steps (the running mins and the per-user rollup share the (user, ts)
    // window spec, and the final group-by reuses the partitioning). Equal-timestamp
    // events can't flip the outcome (the < predicate is value-based), so the result is
    // tie-order-free and exactly reproducible.
    "ev_funnel3" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("unix_millis(ts)").as("ms"),
          col("event_id"))
      val before = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val perUser = e
        .withColumn("s1run", min(when(col("event_type") === "view", col("ms"))).over(before))
        .withColumn("q2ms",
          when(col("event_type") === "click" && col("s1run") < col("ms"), col("ms")))
        .withColumn("s2run", min(col("q2ms")).over(before))
        .withColumn("q3ms",
          when(col("event_type") === "purchase" && col("s2run") < col("ms"), col("ms")))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ms"))).as("s1"),
          min(col("q2ms")).as("s2"), min(col("q3ms")).as("s3"))
      perUser.agg(
          count(col("s1")).as("n_view"),
          count(col("s2")).as("n_click_after"),
          count(col("s3")).as("n_purchase_after"))
        .select(col("n_view"), col("n_click_after"), col("n_purchase_after"),
          round(col("n_click_after").cast(DoubleType) / col("n_view"), 6).as("rate_12"),
          round(col("n_purchase_after").cast(DoubleType) / col("n_view"), 6).as("rate_13"))
    }),

    // Hour-of-week activity heatmap — the seasonality profile behind load forecasting
    // and anomaly baselines: events per (day-of-week, hour-of-day) cell, integer epoch
    // arithmetic only (1970-01-01 = Thursday, so dow = (epoch_day + 4) % 7 with Sunday=0
    // — identical in any engine, no timezone/calendar library involved)
    "ev_hour_of_week" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.select(expr("unix_millis(ts) div 86400000").as("d"),
          expr("(unix_millis(ts) div 3600000) % 24").as("hour"))
        .select(expr("(d + 4) % 7").as("dow"), col("hour"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"))
    }),

    // Chi-square test of INDEPENDENCE (market segment ⊥ order priority?) — the
    // contingency-table companion to q_benford's goodness-of-fit: observed cell
    // counts are exact LONGs, expected = row·col/n enters each term in ONE fixed
    // operand order, and the statistic + dof come out of a cell-grid-bounded fold
    // (|segments|·|priorities| cells, never row-scale state).
    "q_chi2_independence" -> ((s, dir) => {
      val j = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
      val cells = j.groupBy(col("seg"), col("pri")).agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy(col("seg")).agg(sum(col("o")).cast("long").as("rt"))
      val colT = cells.groupBy(col("pri")).agg(sum(col("o")).cast("long").as("ct"))
      val n = cells.agg(sum(col("o")).cast("long").as("n"))
      val e = col("rt").cast(DoubleType) * col("ct") / col("n")
      val dev = col("o").cast(DoubleType) - e
      cells.join(broadcast(rowT), "seg").join(broadcast(colT), "pri")
        .crossJoin(broadcast(n))
        .agg(
          sum((dev * dev / e).cast(DecimalType(18, 8))).as("__chi2"),
          countDistinct(col("seg")).as("__r"), countDistinct(col("pri")).as("__c"))
        .select(round(col("__chi2").cast(DoubleType), 4).as("chi2"),
          ((col("__r") - 1) * (col("__c") - 1)).as("dof"))
    }),

    // Set-operation BAG semantics pin: INTERSECT ALL keeps min(multiplicity) per value
    // and EXCEPT ALL subtracts multiplicities — distinct-set counts sit alongside so
    // the difference is visible in one row. Spark plans these as aggregate+join (no
    // sort), same as the repo's other exchanges.
    "q_set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val b = o.filter(col("o_orderpriority") === "2-HIGH").select(col("o_custkey"))
      def cnt(df: DataFrame, name: String) = df.agg(count(lit(1)).as(name))
      cnt(a.intersect(b), "n_intersect")
        .crossJoin(broadcast(cnt(a.intersectAll(b), "n_intersect_all")))
        .crossJoin(broadcast(cnt(a.except(b), "n_except")))
        .crossJoin(broadcast(cnt(a.exceptAll(b), "n_except_all")))
    }),

    // Truncated-page near-dup screen (a real crawl artifact: the same page captured at
    // different lengths): group by the 200-char PREFIX hash, flag groups whose full
    // texts differ — prefix-equal but full-distinct is exactly the truncation
    // signature exact dedup misses. Planted truncated copies (every 7th doc) make the
    // signature observable on the synthetic corpus. One exchange on the prefix hash;
    // text never shuffles (hashes only).
    "doc_prefix_dups" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          substring(col("text"), 1, 250).as("text"))
      d.union(planted)
        .select(col("doc_id"), md5(substring(col("text"), 1, 200)).as("prefix_md5"),
          md5(col("text")).as("full_md5"))
        .groupBy(col("prefix_md5"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("full_md5")).as("n_distinct_full"),
          min(col("doc_id")).as("keeper_id"))
        .filter(col("n_docs") >= 2)
        .select(col("prefix_md5"), col("n_docs"), col("n_distinct_full"),
          col("keeper_id"), (col("n_distinct_full") > 1).as("is_truncation_group"))
    }),

    // Embedding-table QA: norm distribution per label (zero/degenerate vectors break
    // cosine math downstream; norm drift across labels flags a bad encoder batch).
    // Per-row norm quantizes to DECIMAL(18,8) BEFORE the aggregate — sums of decimals
    // are exact, so min/max/mean replay bit-identically in any engine.
    "emb_norm_audit" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val norm = sqrt(expr(
        "aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * x)"))
        .cast(DecimalType(18, 8))
      e.select(col("label"), norm.as("__n"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("__n") === 0, 1L).otherwise(0L)).as("n_zero"),
          round(min(col("__n")).cast(DoubleType), 6).as("min_norm"),
          round(max(col("__n")).cast(DoubleType), 6).as("max_norm"),
          // exact decimal SUM first, ONE double division after (decimal/long division
          // scale rules differ across engines)
          round(sum(col("__n")).cast(DoubleType) / count(lit(1)), 6).as("mean_norm"))
    }),

    // Embedding drift monitor: per-label centroid of the first id-half vs the second
    // (deployment-time batches), cosine similarity between the two centroids — the
    // encoder-drift check a feature store runs between embedding refreshes. Mean cells
    // fold as exact DECIMAL(18,8) sums / counts; one final double cosine per label.
    "emb_centroid_shift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val mid = e.agg(expr("(min(vec_id) + max(vec_id) + 1) div 2").as("__mid"))
      val cells = e.crossJoin(broadcast(mid))
        .select(col("label"), (col("vec_id") < col("__mid")).as("__first"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("__first"), col("pos"))
        .agg((sum(col("x").cast(DecimalType(18, 8))).cast(DoubleType) / count(lit(1)))
          .as("m"))
      val a = cells.filter(col("__first")).select(col("label"), col("pos"), col("m").as("ma"))
      val b = cells.filter(!col("__first")).select(col("label"), col("pos"), col("m").as("mb"))
      a.join(b, Seq("label", "pos"))
        .select(col("label"),
          (col("ma") * col("mb")).cast(DecimalType(28, 12)).as("__dot"),
          (col("ma") * col("ma")).cast(DecimalType(28, 12)).as("__na"),
          (col("mb") * col("mb")).cast(DecimalType(28, 12)).as("__nb"))
        .groupBy(col("label"))
        .agg(sum(col("__dot")).as("__d"), sum(col("__na")).as("__a"), sum(col("__nb")).as("__b"))
        .select(col("label"),
          round(col("__d").cast(DoubleType)
            / (sqrt(col("__a").cast(DoubleType)) * sqrt(col("__b").cast(DoubleType))), 6)
            .as("centroid_cosine"))
    }),

    // Sampled exact silhouette (Rousseeuw 1987) over the label clustering: per probe
    // anchor, a = mean cosine distance to its own label, b = min over other labels of
    // the mean distance, s = (b-a)/max(a,b). The 64-probe sample keeps the pair space
    // N x |probes| (linear in the corpus — full silhouette is N^2 by definition, so a
    // production audit ALWAYS samples); per-pair distances quantize to DECIMAL(18,8)
    // before the mean so both engines fold bit-identically. Corpus never shuffles —
    // probes broadcast, same shape as the brute-force ANN scan.
    "emb_silhouette" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 64)
        .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
          col("embedding").as("q_vec"))
      val pairs = e.select(col("vec_id").as("cand_id"), col("label").as("cand_label"),
          col("embedding").as("c_vec"))
        .crossJoin(broadcast(probes))
        .filter(col("cand_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("anchor_label"), col("cand_label"),
          (lit(1.0) - graft.functions.VectorFunctions.cosine(col("q_vec"), col("c_vec")))
            .cast(DecimalType(18, 8)).as("__d"))
      val perLabel = pairs
        .groupBy(col("anchor_id"), col("anchor_label"), col("cand_label"))
        .agg((sum(col("__d")).cast(DoubleType) / count(lit(1))).as("__mean"))
      val aDist = perLabel.filter(col("cand_label") === col("anchor_label"))
        .select(col("anchor_id"), col("anchor_label").as("label"), col("__mean").as("__a"))
      val bDist = perLabel.filter(col("cand_label") =!= col("anchor_label"))
        .groupBy(col("anchor_id")).agg(min(col("__mean")).as("__b"))
      aDist.join(bDist, Seq("anchor_id"))
        .select(col("anchor_id"), col("label"),
          round(col("__a"), 6).as("a_dist"), round(col("__b"), 6).as("b_dist"),
          round((col("__b") - col("__a")) / greatest(col("__a"), col("__b")), 4)
            .as("silhouette"))
    }),

    // The NOT IN vs NOT EXISTS null-semantics pin (the classic silent-wrong-answer
    // trap): a single NULL in the subquery makes `NOT IN` never-true (three-valued
    // logic) while `NOT EXISTS` keeps matching — here the NULLIF plants exactly one
    // NULL, so n_not_in = 0 but n_not_exists counts customer 7's orders. Spark plans
    // the NOT IN as a NULL-AWARE anti join (pinned in PlanQualitySpec) — the O(n·m)
    // fallback older engines hit is avoided while semantics stay ANSI.
    "q_null_semantics" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("__ns_orders")
      t(s, dir, "customer").createOrReplaceTempView("__ns_customer")
      s.sql("""
        SELECT
          (SELECT COUNT(*) FROM __ns_orders
             WHERE o_custkey IN (SELECT nullif(c_custkey, 7) FROM __ns_customer)) AS n_in,
          (SELECT COUNT(*) FROM __ns_orders
             WHERE o_custkey NOT IN (SELECT nullif(c_custkey, 7) FROM __ns_customer)) AS n_not_in,
          (SELECT COUNT(*) FROM __ns_orders o WHERE NOT EXISTS
             (SELECT 1 FROM __ns_customer c WHERE nullif(c.c_custkey, 7) = o.o_custkey)) AS n_not_exists,
          (SELECT COUNT(*) FROM __ns_orders) AS n_orders
      """)
    }),

    // Mixture re-balancing PLANNER (the step before doc_mixture_sample actually
    // draws): per source, current token mass vs a uniform target share, and the
    // sampling plan as INTEGER epochs + residual rate (upsampling a scarce source is
    // floor(rate) full passes plus one fractional pass — the Pile/DoReMi idiom).
    // n_epochs = total // (K·n_i) in pure BIGINT; only the two reporting ratios are
    // rounded doubles. One exchange to per-source token sums; the grand total rides a
    // whole-frame window over the K source rows.
    "doc_mixture_plan" -> ((s, dir) => {
      val perSrc = t(s, dir, "documents")
        .select(col("source"), size(TextOps.tokensCol(col("text"))).cast("long").as("__nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).cast("long").as("n_tokens"))
        // a zero-token source needs no epochs AND divides into the plan below — Spark's
        // `div` would yield NULL where DuckDB's `//` raises, a silent engine divergence
        // on degenerate input (ADVICE r6). Excluded BEFORE k/total so both engines see
        // the same mixture.
        .filter(col("n_tokens") > 0)
      val wAll = Window.partitionBy(lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      perSrc
        .withColumn("__total", sum(col("n_tokens")).over(wAll).cast("long"))
        .withColumn("__k", count(lit(1)).over(wAll))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast(DoubleType) / col("__total"), 6).as("current_share"),
          round(lit(1.0) / col("__k"), 6).as("target_share"),
          // `div`, not `/`: Spark's / on longs is double division — a quotient that
          // rounds up to an integer would floor wrong; div is exact integral division
          expr("__total div (__k * n_tokens)").as("n_epochs"),
          round((col("__total") % (col("__k") * col("n_tokens"))).cast(DoubleType)
            / (col("__k") * col("n_tokens")), 6).as("resid_rate"))
    }),

    // SALTED skew-join rescue (VERDICT r6 #8: q_skew_audit measures skew, this DEMOS
    // the fix): events join a per-type aggregate on event_type — 5 distinct keys, so a
    // plain shuffle join runs at most 5 non-empty tasks no matter how many executors
    // exist (low-cardinality structural skew; a hot-key corpus has the same shape with
    // one giant partition). Rescue: the big side takes a DETERMINISTIC per-row salt
    // (event_id % 16, oracle-replayable), the small side replicates across all 16
    // salts, and the join key becomes (event_type, salt) — parallelism |keys|x16, each
    // hot key's rows spread over 16 tasks. MERGE hint keeps the demo honest (the tiny
    // dim would otherwise broadcast — the rescue matters when BOTH sides are too big
    // for that). Above-mean test is division-free (value*n > sum as exact DECIMAL), so
    // the salted plan hash-matches the unsalted DuckDB replay bit-for-bit.
    "ev_skew_join_salted" -> ((s, dir) => {
      val R = 16
      val ev = t(s, dir, "events")
      val dim = ev.groupBy(col("event_type"))
        .agg(sum(col("value").cast(DecimalType(18, 8))).as("__s1"),
          count(lit(1)).as("__n"))
        .withColumn("__salt", explode(sequence(lit(0L), lit(R - 1L))))
      ev.withColumn("__salt", pmod(col("event_id"), lit(R.toLong)))
        .join(dim.hint("MERGE"), Seq("event_type", "__salt"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("value").cast(DecimalType(18, 8)) * col("__n") > col("__s1"),
            lit(1))).as("n_above_mean"))
    }),

    // k-anonymity audit over the quasi-identifier (event_type, day, value-decade
    // bucket): group sizes k; rows in k<5 groups are re-identification risks — the
    // privacy preflight a training-data release runs before shipping event logs.
    // Exact integer fold over the bounded QI grid.
    // Mann-Whitney U between purchase and click values — the NONPARAMETRIC two-sample
    // test next to ev_ab_ttest's Welch t: exact integer 2U and tie moment via the
    // grouped rank-sum (state bounded by the e4 score grid), z as one fixed-order
    // double expression.
    "ev_mannwhitney" -> ((s, dir) =>
      MlOps.mannWhitney(
        t(s, dir, "events")
          .filter(col("event_type").isin("purchase", "click") && col("value").isNotNull)
          .select((dec(col("value"), 18, 4) * 10000).cast("long").as("s"),
            when(col("event_type") === "purchase", 1).otherwise(0).as("label")),
        "s", "label")),

    // l-diversity audit (Machanavajjhala et al. 2007) — k-anonymity's companion: a
    // quasi-identifier group can be k-large yet leak if every row shares ONE sensitive
    // value. Same QI grouping as ev_k_anonymity, sensitive attribute = user_id;
    // l = distinct sensitive values per group; groups at l = 1 are fully identifying.
    "ev_l_diversity" -> ((s, dir) => {
      val qi = t(s, dir, "events").select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        floor(col("value") / 100).cast("long").as("vbucket"), col("user_id"))
      qi.groupBy(col("event_type"), col("day"), col("vbucket"))
        .agg(count(lit(1)).as("k"), countDistinct(col("user_id")).as("l"))
        .agg(count(lit(1)).as("n_groups"), min(col("l")).as("min_l"),
          count(when(col("l") === 1, lit(1))).as("n_l1_groups"),
          sum(when(col("l") === 1, col("k")).otherwise(0L)).cast("long")
            .as("n_rows_identified"),
          sum(col("k")).cast("long").as("n_rows"))
        .withColumn("identified_rate",
          round(col("n_rows_identified").cast(DoubleType) / col("n_rows"), 6))
    }),

    // t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third privacy gate
    // after k-anonymity/l-diversity: per QI group, the ordered-EMD between the
    // group's sensitive-attribute distribution (hour-of-day, m=24 ordinal cells) and
    // the global one. EMD = Σ|CumP − CumQ|/(m−1) evaluates on EXACT integers:
    // per-cell |ccum·N − Ccum·n_g| (DECIMAL(38,0) — the products pass int64 at
    // corpus scale), ONE double division per group, and the t > 1/5 flag is the
    // pure-integer comparison 5·num > 23·n_g·N. State: groups×24 grid cells; the
    // per-group cum window sorts 24 rows per key, the global cum window 24 rows
    // total (grid-bounded, the day-grid exemption class).
    "ev_t_closeness" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        expr("(unix_millis(ts) div 3600000) % 24").as("h"))
      val cells = e.groupBy(col("event_type"), col("day"), col("h"))
        .agg(count(lit(1)).as("c"))
      val groups = cells.select(col("event_type"), col("day")).distinct()
      val hours = e.select(col("h")).distinct()
      val grid = groups.crossJoin(broadcast(hours))
        .join(cells, Seq("event_type", "day", "h"), "left")
        .select(col("event_type"), col("day"), col("h"),
          coalesce(col("c"), lit(0L)).as("c"))
      val wg = Window.partitionBy(col("event_type"), col("day")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val glob = grid.groupBy(col("h")).agg(sum(col("c")).as("gc"))
      val wG = Window.orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gcum = glob.select(col("h"), sum(col("gc")).over(wG).as("cumg"))
        .crossJoin(broadcast(glob.agg(sum(col("gc")).as("N"))))
      val ng = grid.groupBy(col("event_type"), col("day")).agg(sum(col("c")).as("n_g"))
      val terms = grid
        .withColumn("ccum", sum(col("c")).over(wg))
        .join(broadcast(gcum), "h")
        .join(ng, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("n_g"), col("N"),
          abs(col("ccum").cast(DecimalType(19, 0)) * col("N")
            - col("cumg").cast(DecimalType(19, 0)) * col("n_g"))
            .cast(DecimalType(38, 0)).as("term"))
      val perGroup = terms.groupBy(col("event_type"), col("day"), col("n_g"), col("N"))
        .agg(sum(col("term")).cast(DecimalType(38, 0)).as("num"))
        .select(col("n_g"), col("N"),
          (col("num").cast(DoubleType) / col("n_g") / col("N") / 23.0).as("t"),
          (col("num") * 5 > col("n_g").cast(DecimalType(38, 0)) * col("N") * 23)
            .as("over"))
      perGroup.agg(count(lit(1)).as("n_groups"),
        max(col("N")).as("n_rows"),
        round(max(col("t")), 6).as("max_t_closeness"),
        sum(when(col("over"), 1L).otherwise(0L)).as("n_groups_over_02"),
        sum(when(col("over"), col("n_g")).otherwise(0L)).cast("long").as("rows_over_02"))
    }),

    // Longest daily-activity streak per user — the gaps-and-islands shape (island key =
    // day − row_number over the per-user day sequence) on the deduplicated (user, day)
    // table; output collapses to the streak-length histogram. One user-keyed
    // exchange+sort; islands never materialize beyond their per-user rows.
    "ev_streaks" -> ((s, dir) => {
      // repartition on user_id BEFORE the distinct: HashPartitioning(user_id) satisfies
      // the (user_id, day) clustering, so dedup, islanding window and both group-bys
      // all ride this ONE exchange (distinct() alone would partition on (user_id, day)
      // and force a second user-keyed exchange for the window)
      val ud = t(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
        .repartition(col("user_id")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val streaks = ud.select(col("user_id"), (col("day") - row_number().over(w)).as("grp"))
        .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
      streaks.groupBy(col("user_id")).agg(max(col("len")).as("max_streak"))
        .groupBy(col("max_streak")).agg(count(lit(1)).as("n_users"))
    }),

    "ev_k_anonymity" -> ((s, dir) => {
      val qi = t(s, dir, "events").select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        floor(col("value") / 100).cast("long").as("vbucket"))
      qi.groupBy(col("event_type"), col("day"), col("vbucket"))
        .agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n_groups"),
          min(col("k")).as("min_k"),
          count(when(col("k") < 5, lit(1))).as("n_small_groups"),
          sum(when(col("k") < 5, col("k")).otherwise(0L)).cast("long").as("n_rows_at_risk"),
          sum(col("k")).cast("long").as("n_rows"))
        .withColumn("risk_rate",
          round(col("n_rows_at_risk").cast(DoubleType) / col("n_rows"), 6))
    }),

    // Two-NN intrinsic-dimension estimate (Facco et al. 2017, Sci. Rep.): per probe,
    // the ratio mu = d2/d1 of its two nearest cosine distances; ID = n / (ln10 *
    // sum(log10 mu)) — the MLE under the Pareto likelihood. Embedding QA: an ID far
    // below the ambient 64 dims means the encoder collapsed the space. Per-probe log
    // terms quantize to DECIMAL(18,8) (the LM discipline) so the fold is exact; the
    // probe scan is the brute-force shape (corpus never shuffles, probes broadcast).
    "emb_intrinsic_dim" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val top2 = VectorOps.bruteForceTopK(e, e.filter(col("vec_id") < 64), k = 2)
      val mu = top2.groupBy(col("query_id"))
        .agg(min(col("sim")).as("__s2"), max(col("sim")).as("__s1"))
        .filter(col("__s1") < 1.0 && col("__s2") < col("__s1")) // drop exact-dup/tied probes
        .select(log(10.0, (lit(1.0) - col("__s2")) / (lit(1.0) - col("__s1")))
          .cast(DecimalType(18, 8)).as("__lg"))
      mu.agg(count(lit(1)).as("n_probes"), sum(col("__lg")).as("__slg"))
        .select(col("n_probes"),
          round(col("__slg").cast(DoubleType), 6).as("sum_log10_mu"),
          round(col("n_probes").cast(DoubleType)
            / (lit(2.302585092994046) * col("__slg").cast(DoubleType)), 4).as("id_hat"))
    }),

    // Customer spend percentile within market segment — the percent_rank window shape
    // (a per-SEGMENT sort, the one window family the repo otherwise avoids for top-k;
    // here the full rank IS the deliverable). DECIMAL spend keeps ties exact across
    // engines; the custkey tiebreak makes every rank deterministic.
    "q_spend_percentile" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(sum(dec(col("o_totalprice"), 12, 2)).as("__spend"))
      // percent_rank per segment WITHOUT a few-huge-partitions window: one global
      // range-partitioned order on (segment, spend, key) — unique keys mean
      // percent_rank == (row_number−1)/(n−1) exactly — then per-segment offsets
      // broadcast back (segments are a grid)
      val ranked = Cdc.assignEventOrder(spend,
        Seq(col("c_mktsegment"), col("__spend"), col("c_custkey")))
      val segStats = ranked.groupBy(col("c_mktsegment"))
        .agg(min(col(Cdc.OrderCol)).as("__r0"), count(lit(1)).as("__nseg"))
      ranked.join(broadcast(segStats), "c_mktsegment")
        .select(col("c_custkey"), col("c_mktsegment"),
          col("__spend").cast(DoubleType).as("total_spend"),
          round(when(col("__nseg") > 1,
            (col(Cdc.OrderCol) - col("__r0")).cast(DoubleType) / (col("__nseg") - 1))
            .otherwise(lit(0.0)), 6).as("spend_pct"))
    }),

    // Native session_window API pin: Spark's built-in gap-session aggregation (the
    // streaming-ready form) must reproduce the LAG/SUM-over-breaks sessionization the
    // repo builds by hand (ev_sessionize) — the oracle replays exactly that manual
    // construction, so the two definitions are mutually gated
    "ev_session_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_millis(col("w.start")).as("start_ms"),
          unix_millis(col("w.end")).as("end_ms"), col("n_events"))),

    // Lorenz/Gini concentration of per-user activity — the "how skewed is engagement"
    // audit (and the statistic behind fair-sampling decisions). Computed off the COUNT
    // HISTOGRAM, not the sorted user list: users with equal counts occupy a contiguous
    // ascending-rank run [r+1, r+nk], so Σ rank·value folds to
    // 2S = Σ_v v·(2·nk·r + nk·(nk+1)) over DISTINCT count values — state bounded by
    // the count-value grid (small ints), never |users|; G = 2S/(n·T) − (n+1)/n.
    // Pure BIGINT until two fixed-order double divisions. Shape: one exchange for
    // per-user counts, a tiny histogram exchange, a bounded cumulative window.
    "ev_gini" -> ((s, dir) => {
      val uc = t(s, dir, "events").groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val h = uc.groupBy(col("c").as("v")).agg(count(lit(1)).as("nk"))
      val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
      h.withColumn("r", coalesce(sum(col("nk")).over(w), lit(0L)))
        .agg(
          sum(col("v") * (lit(2) * col("nk") * col("r") + col("nk") * (col("nk") + 1)))
            .cast("long").as("__2s"),
          sum(col("nk")).cast("long").as("n_users"),
          sum(col("v") * col("nk")).cast("long").as("total_events"))
        .select(col("n_users"), col("total_events"),
          round(col("__2s").cast(DoubleType) / (col("n_users") * col("total_events"))
            - (col("n_users") + 1).cast(DoubleType) / col("n_users"), 6).as("gini"))
    }),

    // Qini uplift curve (Radcliffe 2007, the incremental-lift targeting readout
    // CUPED/DiD don't give): rank users by a targeting score (pre-period spend),
    // then per decile prefix report Qini(d) = Y_T − Y_C·n_T/n_C — the incremental
    // outcome of treating the top d·10%. Deciles are GROUP-CLOSED on the score grid
    // (a prefix always ends at a whole score level, so the treat/control composition
    // is deterministic — no order-dependent partial group): state is the score-grid
    // histogram, never per-user ranks; one user exchange, grid windows, broadcast
    // decile join — the ev_lorenz discipline.
    "ev_qini" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        (dec(col("value"), 18, 2) * 100).cast("long").as("c"),
        expr("unix_millis(ts) div 86400000").as("d"))
      val d0 = ev.agg(min(col("d")).as("__d0"))
      val users = ev.crossJoin(broadcast(d0))
        .groupBy(col("user_id"))
        .agg(sum(when(col("d") < col("__d0") + 15, col("c")).otherwise(0L)).as("score"),
          sum(when(col("d") >= col("__d0") + 15, col("c")).otherwise(0L)).as("y"))
        .select(col("user_id"), col("score"), col("y"),
          (pmod(col("user_id"), lit(2)) === 1).as("tr"))
      val grid = users.groupBy(col("score")).agg(
        count(lit(1)).as("n_at"),
        sum(when(col("tr"), 1L).otherwise(0L)).as("nt_at"),
        sum(when(col("tr"), col("y")).otherwise(0L)).as("yt_at"),
        sum(when(!col("tr"), col("y")).otherwise(0L)).as("yc_at"))
      // per-user spend is near-unique, so this grid is USER-cardinality — the
      // descending cumulative runs as the range-partitioned exact prefix sum
      // (Cdc.assignPrefixSums), never a single-partition Window.orderBy
      val cum = Cdc.assignPrefixSums(grid, Seq(col("score").desc),
          Seq("n_at", "nt_at", "yt_at", "yc_at"))
        .select(col("score"), col("n_at"), col("n_at_cum").as("cumn"),
          col("nt_at_cum").as("nt"), col("yt_at_cum").as("yt"),
          col("yc_at_cum").as("yc"))
      val tot = broadcast(users.agg(count(lit(1)).as("n_users")))
      val deciles = s.range(1, 11).select(col("id").as("decile"))
      cum.crossJoin(tot).crossJoin(broadcast(deciles))
        .withColumn("b", expr("(decile * n_users + 9) div 10"))
        .filter(col("cumn") >= col("b") && col("cumn") - col("n_at") < col("b"))
        .select(col("decile"), col("cumn").cast("long").as("n_included"),
          col("nt").cast("long").as("n_treat"),
          (col("cumn") - col("nt")).cast("long").as("n_ctrl"),
          round(when(col("cumn") - col("nt") > 0,
            (col("yt").cast(DoubleType) - col("yc").cast(DoubleType) *
              col("nt") / (col("cumn") - col("nt"))) / 100.0), 4).as("qini_dollars"))
    }),

    // Lorenz curve deciles — ev_gini's CURVE companion (the gini is the area the
    // curve encloses; the deciles are what the concentration report shows): share
    // of total events held by the d·10% least-active users, exact at the ceil'd
    // decile boundary. Same value-histogram shape as ev_gini/q_pareto_cut: state
    // bounded by the DISTINCT-COUNT grid, never user count; per-decile rows come
    // from one broadcast range join against the cumulative grid.
    "ev_lorenz" -> ((s, dir) => {
      val uc = t(s, dir, "events").groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val h = uc.groupBy(col("c").as("v")).agg(count(lit(1)).as("nk"))
      val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
      val cum = h
        .withColumn("r", coalesce(sum(col("nk")).over(w), lit(0L)))
        .withColumn("ce", coalesce(sum(col("v") * col("nk")).over(w), lit(0L)))
      val tot = broadcast(h.agg(sum(col("nk")).cast("long").as("n_users"),
        sum(col("v") * col("nk")).cast("long").as("total_events")))
      val deciles = s.range(1, 11).select(col("id").as("decile"))
      cum.crossJoin(tot).crossJoin(broadcast(deciles))
        .withColumn("b", expr("(decile * n_users + 9) div 10"))
        .filter(col("r") < col("b") && col("b") <= col("r") + col("nk"))
        .select(col("decile"), col("b").as("n_users_cum"),
          (col("ce") + (col("b") - col("r")) * col("v")).cast("long").as("events_cum"),
          round((col("ce") + (col("b") - col("r")) * col("v")).cast(DoubleType)
            / col("total_events"), 6).as("share"))
    }),

    // CUSUM changepoint scan over the daily event-count series (Page 1954 mean-shift
    // form): S_i = Σ_{j≤i}(c_j − mean), peak |S| marks the most likely shift point.
    // DIVISION-FREE: S_scaled_i = n·cum_i − pos_i·total is the same statistic scaled
    // by n — pure BIGINT arithmetic, so both engines agree to the bit and the one
    // double division at the end is reproducible. Scale shape: the only corpus-sized
    // work is the per-day count (one exchange); the windows run on the collapsed
    // daily series (10 years = 3.7k rows — driver-scale by construction), so the
    // single-partition window is a non-issue at 100 TB.
    "ev_cusum" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("day"))
      // n/total as whole-frame windows over the SAME collapsed series (not a separate
      // aggregate + cross join, which would re-scan the events table for two scalars)
      val wAll = Window.partitionBy(lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val scored = daily
        .withColumn("__n", count(lit(1)).over(wAll))
        .withColumn("__total", sum(col("c")).over(wAll).cast("long"))
        .withColumn("cum", sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("pos", row_number().over(w))
        .withColumn("s_scaled", col("__n") * col("cum") - col("pos") * col("__total"))
      scored
        .withColumn("is_peak",
          row_number().over(Window.orderBy(abs(col("s_scaled")).desc, col("day"))) === 1)
        .select(col("day"), col("c").as("n_events"), col("s_scaled").cast("long").as("s_scaled"),
          round(col("s_scaled").cast(DoubleType) / col("__n"), 6).as("cusum"),
          col("is_peak"))
    }),

    // Additive seasonal decomposition of the daily series (STL-lite): trend = 7-day
    // centered moving average, seasonal = day-of-week mean of the detrended values,
    // residual = remainder. EXACT-RATIONAL pipeline: detrended is kept as the integer
    // 7c − s7 (denominator 7 implicit), the dow means as integer (Σ, count) pairs —
    // every output is one double division of exact integers, rounded at 6, so the
    // engines cannot drift. Edge days (first/last 3) have no full window → NULL trend,
    // excluded from the seasonal fit, NULL residual — same rule both sides. Same
    // 100 TB shape as ev_cusum: one exchange for the daily counts, everything after
    // runs on the collapsed series; the 7-row dow table broadcasts back.
    "ev_seasonal_decompose" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val det = daily
        .withColumn("s7", when(count(lit(1)).over(w) === 7, sum(col("c")).over(w)))
        .withColumn("detr", lit(7) * col("c") - col("s7"))
        .withColumn("dow", expr("(day + 4) % 7"))
      // dow means as windows over the SAME collapsed series (a groupBy + join-back
      // would recompute the whole daily/trend subtree for a 7-row table); sum/count
      // skip the NULL edge detr values, so the fit stays interior-days-only
      val wd = Window.partitionBy(col("dow"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      det
        .withColumn("__ss", sum(col("detr")).over(wd).cast("long"))
        .withColumn("__cnt", count(col("detr")).over(wd))
        .select(col("day"), col("dow"), col("c").as("n_events"),
          round(col("s7").cast(DoubleType) / 7, 6).as("trend"),
          round(col("__ss").cast(DoubleType) / (lit(7) * col("__cnt")), 6).as("seasonal"),
          round((col("detr") * col("__cnt") - col("__ss")).cast(DoubleType)
            / (lit(7) * col("__cnt")), 6).as("residual"))
    }),

    // dedup-QA: recall of the LSH candidate generator against the EXACT jaccard>=0.5
    // ground truth (the blocking must not lose true pairs — a silent banding bug shows
    // up here as recall, not as a skewed estimate downstream). n_truth is exact and
    // oracle-pinned; the candidate set is xxh64-engine-specific, so recall/boundedness
    // gate as verdict booleans like the ANN family
    "doc_dedup_eval" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val truth = DedupOps.ngramJaccardPairs(d, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val cand = DedupOps.minhashLshPairs(d, threshold = 0.2)
        .select(col("id_a"), col("id_b"))
      val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nH = hit.agg(count(lit(1)).as("n_hit"))
      val nC = cand.agg(count(lit(1)).as("n_cand"))
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      nT.crossJoin(nH).crossJoin(nC).crossJoin(nDocs)
        .select(col("n_truth"),
          (col("n_hit") === col("n_truth")).as("recall_ok"),
          (col("n_cand") <= col("n_docs") * 20).as("cand_bounded"))
    }),

    // TPC-H Q7 shape: bidirectional nation-pair shipping volume — both nation dims
    // broadcast against the one fact shuffle, pair filter in the join condition
    "q7_nation_volume" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val sup = t(s, dir, "supplier")
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
          .cast(DoubleType).as("revenue"))
    }),

    // TPC-H Q13 shape: customer order-count distribution — two-level aggregate with the
    // zero-order customers preserved through a left join
    "q13_order_dist" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q17 shape: "small-quantity order revenue" — the correlated scalar subquery
    // (avg quantity per part) DECORRELATED into a per-part aggregate joined back to the
    // fact. Division-free predicate: qty * n * 5 < sum_qty  ⇔  qty < 0.2 * avg(qty), in
    // exact DECIMAL so no fp boundary can disagree across engines. The brand dim filter
    // broadcasts BEFORE the fact join, so only the two brands' lineitems ever shuffle;
    // the per-part stats table is |parts-of-2-brands| rows — AQE broadcasts it back.
    "q17_small_qty_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_brand").isin("Brand#4", "Brand#2"))
        .select(col("p_partkey"), col("p_brand"))
      val lq = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val stats = lq.groupBy(col("l_partkey").as("__pk"))
        .agg(sum(dec(col("l_quantity"), 12, 2)).as("__sq"), count(lit(1)).as("__nq"))
      lq.join(stats, col("l_partkey") === col("__pk"))
        .filter(dec(col("l_quantity"), 12, 2) * col("__nq") * 5 < col("__sq"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_small"),
          sum(dec(col("l_extendedprice"), 12, 2)).cast(DoubleType).as("revenue"))
        .orderBy(col("p_brand"))
    }),

    // TPC-H Q18 shape: "large-volume orders" — a HAVING filter on a grouped fact produces
    // a TINY key set (top ~1% of orders), which then drives the probe joins back to
    // orders/customer. At 100 TB the grouped+filtered side collapses to thousands of rows
    // → AQE turns both probe joins into broadcasts; the full fact shuffles exactly once
    // (for its own group-by).
    "q18_large_orders" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"), 12, 2)).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          dec(col("o_totalprice")).cast(DoubleType).as("totalprice"),
          col("sum_qty").cast(DoubleType).as("sum_qty"))
    }),

    // TPC-H Q10 shape: returned-item revenue top-20 — 3-way fact join with the flag
    // filter pushed to the lineitem scan, customer dim enriches AFTER the aggregate
    // (the aggregate's key set is small), top-k via bounded heap not a global sort
    "q10_returned_revenue" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      l.filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
          .as("rev"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("rev").cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q15 shape: top supplier(s) by quarterly revenue — the correlated
    // `revenue = (SELECT MAX ...)` DECORRELATED into a broadcast scalar max joined
    // against the same aggregated view (computed once, reused for max AND probe)
    "q15_top_supplier" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val sup = t(s, dir, "supplier")
      val rev = l.filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
          .as("total_rev"))
      val mx = rev.agg(max(col("total_rev")).as("__mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_rev") === col("__mx"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast(DoubleType).as("total_revenue"))
    }),

    // TPC-H Q4 shape: priority count over an EXISTS — the correlated EXISTS becomes a
    // LEFT SEMI join, so the (huge) lineitem side contributes at most one match per
    // order and never widens the row. The date filter prunes the orders scan FIRST;
    // only the surviving quarter's orderkeys shuffle for the semi probe.
    "q4_exists_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      o.filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-04-01"))
        .join(l.filter(col("l_returnflag") === "R").select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q12 shape: one fact→dim join feeding a CONDITIONAL aggregate pair — both
    // priority classes come out of a single pass (no second scan, no self-join); the
    // ship-year predicate prunes the lineitem scan before the join.
    "q12_priority_lines" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),

    // TPC-H Q14 shape: promo-revenue share — conditional-aggregate ratio over one
    // month's fact joined to the part dim. Sums stay exact DECIMAL; ONE double division
    // at the end (identical operand bits in both engines), so the percentage is
    // reproducible. The month filter reaches the lineitem scan; part broadcasts.
    "q14_promo_share" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
      val rev = dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2))
      l.filter(col("l_shipdate") >= lit("1996-03-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", rev).otherwise(dec(lit(0), 12, 2)))
            .as("__promo"),
          sum(rev).as("__total"))
        .select(col("__promo").cast(DoubleType).as("promo_revenue"),
          col("__total").cast(DoubleType).as("total_revenue"),
          round(col("__promo").cast(DoubleType) * 100
            / col("__total").cast(DoubleType), 6).as("promo_share_pct"))
    }),

    // TPC-H Q6 shape: the pure scan-side query — every predicate (date range, discount
    // band, quantity cap) pushes to the parquet scan, no join, one partial-agg exchange
    // of a single row. The 100 TB story is entirely PushedFilters + min/max row-group
    // skipping on l_shipdate.
    "q6_revenue_change" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice"), 12, 2) * dec(col("l_discount"), 4, 2))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q8 shape (market share): 5-way snowflake — every dimension leg (part type
    // filter, region-filtered customers, supplier→nation names) broadcasts; the only
    // big exchange is lineitem⋈orders on the order key. Share arithmetic stays exact
    // DECIMAL until the final division.
    "q8_market_share" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val n = t(s, dir, "nation")
      val p = t(s, dir, "part").filter(col("p_type") === "MEDIUM").select(col("p_partkey"))
      val rn = n.join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey")).select(col("n_nationkey"))
      val custRegion = t(s, dir, "customer")
        .join(broadcast(rn), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppNation = t(s, dir, "supplier")
        .join(broadcast(n.select(col("n_nationkey").as("__snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("__snk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val rev = dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o.select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("int").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custRegion), col("o_custkey") === col("c_custkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_3", rev)
            .otherwise(dec(lit(0), 12, 2))).as("__n"),
          sum(rev).as("__t"))
        .select(col("o_year"),
          col("__n").cast(DoubleType).as("nation_revenue"),
          col("__t").cast(DoubleType).as("total_revenue"),
          round(col("__n").cast(DoubleType) / col("__t").cast(DoubleType), 6).as("mkt_share"))
    }),

    // Full nation-trade matrix (the TPC-H Q7 shape generalized from one pair to all
    // 25x25): revenue by (customer nation, supplier nation) — both nation legs
    // broadcast, the one big exchange is lineitem-orders; DECIMAL-exact cells
    "q_nation_matrix" -> ((s, dir) => {
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val custN = t(s, dir, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val suppN = t(s, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val rev = dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("cust_nation"), col("supp_nation"))
        .agg(count(lit(1)).as("n_lines"), sum(rev).as("__rev"))
        .select(col("cust_nation"), col("supp_nation"), col("n_lines"),
          col("__rev").cast(DoubleType).as("revenue"))
    }),

    // Per-brand revenue trend: closed-form OLS slope over the (brand, year) revenue
    // grid — regression PER GROUP from exact DECIMAL moment sums (n, Σx, Σy, Σxy, Σx²
    // fold in one aggregate; the only doubles are the final slope division). The
    // group-local twin of the corpus-level zipf/heaps fits.
    "q_brand_trend" -> ((s, dir) => {
      val byYear = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), year(col("l_shipdate")).cast("int").as("y"))
        .agg(sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
          .as("rev"))
      byYear.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_years"),
          sum(col("y")).as("__sx"),
          sum(col("rev")).as("__sy"),
          sum(col("y") * col("rev")).as("__sxy"),
          sum(col("y").cast("long") * col("y")).as("__sx2"))
        .filter(col("n_years") >= 2)
        .select(col("p_brand"), col("n_years"),
          col("__sy").cast(DoubleType).as("total_revenue"),
          round((col("n_years") * col("__sxy") - col("__sx") * col("__sy")).cast(DoubleType)
            / (col("n_years") * col("__sx2") - col("__sx") * col("__sx")).cast(DoubleType), 4)
            .as("trend_slope"))
    }),

    // Year-over-year revenue growth: yearly DECIMAL-exact totals, one lag window over
    // the YEAR-sized aggregate (never over fact rows) — the dashboard staple that shows
    // the window-after-aggregate pattern
    "q_yoy_growth" -> ((s, dir) => {
      val yearly = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(sum(dec(col("o_totalprice"), 12, 2)).as("__rev"),
          count(lit(1)).as("n_orders"))
      val w = Window.partitionBy(lit(0)).orderBy(col("o_year"))
      yearly
        .withColumn("__prev", lag(col("__rev"), 1).over(w))
        .select(col("o_year"), col("n_orders"),
          col("__rev").cast(DoubleType).as("revenue"),
          round(when(col("__prev").isNotNull,
            (col("__rev") - col("__prev")).cast(DoubleType) / col("__prev").cast(DoubleType) * 100), 4)
            .as("yoy_growth_pct"))
    }),

    // TPC-H Q19 shape: disjunctive (OR-of-ANDs) predicate over a fact⋈dim join.
    // Catalyst extracts the common conjuncts from the OR branches and pushes them INTO
    // both scans (l_quantity <= 30 on lineitem; p_size BETWEEN 1 AND 40 + the 3-brand
    // IN-list on part), so the join only sees rows that can satisfy SOME branch; the
    // full disjunction then evaluates post-join on that reduced set. The part side
    // broadcasts after its filter.
    "q19_disjunctive" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_size"))
      val b1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)
      val b2 = col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)
      val b3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 40) &&
        col("l_quantity").between(20, 30)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(b1 || b2 || b3)
        .agg(sum(dec(col("l_extendedprice"), 12, 2)
            * (lit(1) - dec(col("l_discount"), 4, 2)))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q21 shape: "suppliers who kept orders waiting" — the EXISTS/NOT-EXISTS pair
    // becomes LEFT SEMI + LEFT ANTI joins against two narrow PROJECTIONS of the same
    // fact (orderkey, suppkey[, flag] — payload never re-shuffles). All three legs hash
    // on l_orderkey, so one exchange layout serves the semi, the anti and the probe;
    // the supplier dim broadcasts onto the (tiny) aggregated result.
    "q21_waiting_supplier" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val sup = t(s, dir, "supplier")
      val l1 = l.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
      val others = l.select(col("l_orderkey").as("o2_ok"), col("l_suppkey").as("o2_sk"))
      val othersR = l.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3_ok"), col("l_suppkey").as("o3_sk"))
      l1.join(o.filter(col("o_orderstatus") === "F").select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(others,
          col("l_orderkey") === col("o2_ok") && col("l_suppkey") =!= col("o2_sk"),
          "left_semi")
        .join(othersR,
          col("l_orderkey") === col("o3_ok") && col("l_suppkey") =!= col("o3_sk"),
          "left_anti")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("__w"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        // TPC-H Q21 groups by s_name, and the grains genuinely differ when names
        // duplicate across suppkeys (the sf1 upsample clones suppliers name-intact —
        // caught by the r8 sf1 subset gate): keep the corpus-sized count keyed on
        // l_suppkey (map-side combine on the fact exchange), then re-aggregate the
        // tiny per-supplier result at name grain exactly as the SQL does
        .groupBy(col("s_name"))
        .agg(sum(col("__w")).cast("long").as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    }),

    // TPC-H Q9 shape: product-type profit by nation and year — the LIKE-filtered part dim
    // semi-joins the fact FIRST (broadcast, so only matching lineitems ever shuffle), the
    // order-year and supplier-nation dims broadcast after. One fact shuffle total (the
    // group-by); at 100 TB the p_name filter prunes ~1/|colors| of the fact before any
    // exchange. (No partsupp table in this corpus, so profit = revenue, same plan shape.)
    "q9_product_profit" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name").as("nation"))
      val p = t(s, dir, "part").filter(col("p_name").contains("red"))
        .select(col("p_partkey"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(o.select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup.select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("nation"), col("o_year"))
        .agg(sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
          .cast(DoubleType).as("sum_profit"))
    }),

    // TPC-H Q11 shape: "important" keys — a grouped value HAVING a share of the GLOBAL
    // total. The scalar (total, n) pair is a second aggregate over the same grouped frame
    // (reused, not rescanned), joined back as a 1-row broadcast; the predicate is the
    // scale-invariant division-free exact-DECIMAL form value·n·2 > total·3 (i.e. value >
    // 1.5× the mean part value), so no fp boundary can disagree and the selected fraction
    // is stable across SF. At 100 TB: one fact shuffle for the group-by; the global total
    // is a tree-reduce.
    "q11_important_parts" -> ((s, dir) => {
      val v = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
          .as("__value"))
      val total = v.agg(sum(col("__value")).as("__total"), count(lit(1)).as("__n"))
      v.crossJoin(total)
        .filter(col("__value") * col("__n") * 2 > col("__total") * 3)
        .select(col("l_partkey"), col("__value").cast(DoubleType).as("part_value"))
    }),

    // TPC-H Q16 shape: supplier count per part descriptor with a NOT-IN supplier
    // exclusion — the exclusion list broadcasts as a left_anti, the part dim broadcasts
    // pre-shuffle, and the only exchange is the final distinct-count group-by. Exact
    // countDistinct (the key set per group is |suppliers|-bounded).
    "q16_supplier_cnt" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#4" && col("p_type") =!= "ECONOMY")
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q20 shape: the nested semi-join chain — suppliers who shipped > 25% of some
    // forecast part's 1997 volume. Inner per-(supp,part) and per-part aggregates share the
    // same LIKE-pruned fact slice (one shuffle each, both tiny post-agg → AQE broadcasts
    // the join between them); the surviving supplier keys semi-join the dim. The share
    // predicate is division-free exact DECIMAL (qty*4 > total).
    "q20_excess_suppliers" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name").as("nation"))
      val p = t(s, dir, "part").filter(col("p_name").startsWith("small"))
        .select(col("p_partkey"))
      val slice = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_suppkey"), dec(col("l_quantity"), 12, 2).as("__q"))
      val spq = slice.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("__q")).as("__sq"))
      val pt = slice.groupBy(col("l_partkey").as("__pk"))
        .agg(sum(col("__q")).as("__tq"))
      spq.join(pt, col("l_partkey") === col("__pk"))
        .filter(col("__sq") * 4 > col("__tq"))
        .select(col("l_suppkey")).distinct()
        .join(sup.select(col("s_suppkey"), col("s_name"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("nation"))
    }),

    // Autocorrelation function of the daily event series at lags 1..7 — the time-series
    // QA primitive (seasonality/persistence detector) under EXACT integer arithmetic:
    // with u_t = n*x_t - S (n days, S total events, x integer counts), acf_k =
    // Σ u_t·u_{t+k} / Σ u_t² — every sum is a BIGINT fold over the COLLAPSED daily series
    // (~30 rows; 100 TB of events reduce to |days| rows in the one group-by exchange),
    // and the final ratio is one fixed-operand-order double division rounded to 6.
    "ev_acf" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.agg(count(lit(1)).as("__n"), sum(col("x")).cast("long").as("__s"))
      val w = Window.orderBy(col("day"))
      val u = daily.crossJoin(tot)
        .select((col("__n") * col("x") - col("__s")).cast("long").as("u"), col("day"))
      val withLeads = u.select(
        col("u") +: (1 to 7).map(k => lead(col("u"), k).over(w).as(s"u$k")): _*)
      withLeads
        .select(expr("stack(7, 1, u*u1, 2, u*u2, 3, u*u3, 4, u*u4, 5, u*u5, 6, u*u6, 7, u*u7)")
          .as(Seq("lag", "prod")))
        .groupBy(col("lag"))
        .agg(sum(col("prod")).cast("long").as("num"))
        .crossJoin(u.agg(sum(col("u") * col("u")).cast("long").as("den")))
        .select(col("lag"),
          round(col("num").cast(DoubleType) / col("den"), 6).as("acf"))
    }),

    // Join-key skew audit — the pre-flight a 100 TB shuffle plan runs BEFORE committing
    // to a partitioning: per-key counts in one exchange, then four scalar moments.
    //   skew_ratio   = max_c / mean_c       (>> 1 ⇒ hot key; AQE skew-join or salt)
    //   amplification = n_keys·Σc² / n²     (expected join fan-out vs uniform keys — the
    //                                        Σc² term is exactly the pair cost a self-join
    //                                        or same-key join would materialize)
    // Integer moments stay exact LONGs; the two ratios are single fixed-operand-order
    // double divisions, bit-identical cross-engine.
    "q_skew_audit" -> ((s, dir) => {
      val ec = t(s, dir, "events").groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      ec.agg(count(lit(1)).as("n_keys"), sum(col("c")).cast("long").as("n_rows"),
          max(col("c")).as("max_c"),
          sum(col("c") * col("c")).cast("long").as("pair_cost"))
        .select(col("n_keys"), col("n_rows"), col("max_c"), col("pair_cost"),
          round(col("max_c").cast(DoubleType) * col("n_keys") / col("n_rows"), 6)
            .as("skew_ratio"),
          round(col("pair_cost").cast(DoubleType) * col("n_keys")
            / (col("n_rows") * col("n_rows")), 6).as("amplification"))
    }),

    // Column profiler (the data-card / ingestion-QA one-pass): null count, exact distinct,
    // typed min/max per column — ONE scan, ONE aggregate row, unpivoted to a row per
    // column with `stack`. Numeric min/max land in (min_num, max_num), strings in
    // (min_str, max_str); the other pair is NULL. countDistinct over 5 columns in one agg
    // plans as Expand (5× rows pre-shuffle) — the standard exact-profile trade; the HLL
    // variant for wider tables is `q_approx_sketch`.
    "q_profile" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.agg(
          count(lit(1)).as("n"),
          count(col("o_orderkey")).as("nn1"), countDistinct(col("o_orderkey")).as("nd1"),
          min(col("o_orderkey")).cast(DoubleType).as("mn1"),
          max(col("o_orderkey")).cast(DoubleType).as("mx1"),
          count(col("o_custkey")).as("nn2"), countDistinct(col("o_custkey")).as("nd2"),
          min(col("o_custkey")).cast(DoubleType).as("mn2"),
          max(col("o_custkey")).cast(DoubleType).as("mx2"),
          count(col("o_totalprice")).as("nn3"), countDistinct(col("o_totalprice")).as("nd3"),
          min(dec(col("o_totalprice"))).cast(DoubleType).as("mn3"),
          max(dec(col("o_totalprice"))).cast(DoubleType).as("mx3"),
          count(col("o_orderstatus")).as("nn4"), countDistinct(col("o_orderstatus")).as("nd4"),
          min(col("o_orderstatus")).as("mn4"), max(col("o_orderstatus")).as("mx4"),
          count(col("o_orderpriority")).as("nn5"), countDistinct(col("o_orderpriority")).as("nd5"),
          min(col("o_orderpriority")).as("mn5"), max(col("o_orderpriority")).as("mx5"))
        .selectExpr("""stack(5,
          'o_orderkey',      n - nn1, nd1, mn1, mx1, CAST(NULL AS STRING), CAST(NULL AS STRING),
          'o_custkey',       n - nn2, nd2, mn2, mx2, CAST(NULL AS STRING), CAST(NULL AS STRING),
          'o_totalprice',    n - nn3, nd3, mn3, mx3, CAST(NULL AS STRING), CAST(NULL AS STRING),
          'o_orderstatus',   n - nn4, nd4, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn4, mx4,
          'o_orderpriority', n - nn5, nd5, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn5, mx5
          ) AS (col_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)""")
    }),

    // data-quality audit battery (the expectations pattern): referential integrity via
    // anti-join (dim side broadcasts), domain/range/null/uniqueness checks as counting
    // aggregates — one row per constraint with its violation count
    "q_dq_audit" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer"); val l = t(s, dir, "lineitem")
      val ri = o.join(broadcast(c.select(col("c_custkey"))),
          o("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orders_custkey_in_customer").as("check_name"), col("n_violations"))
      val rng = l.filter(col("l_quantity") < 0 || col("l_quantity") > 60)
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("lineitem_quantity_range").as("check_name"), col("n_violations"))
      val dom = o.filter(!col("o_orderstatus").isin("F", "O", "P"))
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orders_status_domain").as("check_name"), col("n_violations"))
      val uniq = c.groupBy(col("c_custkey")).agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1)
        .agg(coalesce(sum(col("__c") - 1), lit(0L)).cast("long").as("n_violations"))
        .select(lit("customer_custkey_unique").as("check_name"), col("n_violations"))
      val nn = l.filter(col("l_shipdate").isNull)
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("lineitem_shipdate_not_null").as("check_name"), col("n_violations"))
      ri.unionByName(rng).unionByName(dom).unionByName(uniq).unionByName(nn)
        .withColumn("pass", col("n_violations") === 0)
    }),

    // THE canonical top-N-per-group, done the scale-correct way: bounded-heap aggregate
    // (≤ 3 rows per key cross the exchange) instead of a row_number window that shuffles
    // and sorts every order under its customer
    "q_topn_per_group" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_custkey"), col("o_orderkey"), dec(col("o_totalprice"), 12, 2).as("__p"))
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKFunctions.topKByScore(col("__p").cast(DoubleType),
          col("o_orderkey"), struct(col("o_orderkey"), col("__p")), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rank"),
          col("t.o_orderkey").as("o_orderkey"),
          col("t.__p").cast(DoubleType).as("totalprice"))
    }),

    // cohort LTV triangle: (first-activity week) x (week offset) distinct users + exact
    // decimal revenue — epoch-week indexes are integer division on epoch-millis, TZ-free
    "ev_cohort_ltv" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) div 604800000").as("wk"),
          dec(col("value"), 18, 2).as("__v"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).cast("int").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum(col("__v")).cast(DoubleType).as("revenue"))
    }),

    // ---- CDC operator inventory (SURVEY §2) ---------------------------------------------------

    // P1+P2+P8: envelope unwrap with delete rewrite + system columns
    "cdc_unwrap" -> ((s, dir) => unwrapped(s, dir)),

    // Debezium outbox EventRouter contract: route by aggregate type, skip deletes,
    // per-(topic, key) contiguous sequence in binlog order (Kafka's per-partition
    // ordering guarantee — and the scale-safe window key)
    "cdc_outbox_route" -> ((s, dir) =>
      Cdc.outboxRoute(unwrapped(s, dir), routeCol = "event_type", keyCol = "user_id")
        .select(col("topic"), col("user_id"), col("seq"), col("event_id"),
          col("value"), col("KBC__POS"))),

    // D1+D2+D5+D7: last-write-wins dedupe over the arrival total order (binlog pos)
    "cdc_dedupe_lww" -> ((s, dir) =>
      Cdc.dedupeLastWins(unwrapped(s, dir), Seq("user_id"), orderCol = "KBC__POS")),

    // P7/D1 MySQL parity (VERDICT r1 #6): LWW dedupe over the COMPOUND binlog (file, pos)
    // order — events spread across three binlog files; the winner per key is the latest by
    // (file, pos) lexicographic, via the collision-free single-long encoding binlogOrder
    "cdc_dedupe_binlog" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val file = concat(lit("binlog.00000"), (col("event_id") % 3 + 1).cast(StringType))
      val staged = ev.select(col("user_id"), col("event_id"),
        file.as("KBC__FILE"), col("event_id").as("KBC__POS"))
        .withColumn("__ord", Cdc.binlogOrder(col("KBC__FILE"), col("KBC__POS")))
      Cdc.dedupeLastWins(staged, Seq("user_id"), orderCol = "__ord").drop("__ord")
    }),

    // D1 skew path: the two-phase (key,salt)->key salted dedupe must produce EXACTLY the
    // plain LWW result (associativity of last-write-wins) — oracle = the same window SQL
    "cdc_dedupe_salted" -> ((s, dir) =>
      Cdc.dedupeLastWinsSalted(unwrapped(s, dir), Seq("user_id"), orderCol = "KBC__POS")),

    // Debezium transaction-metadata END markers rebuilt from the event stream: per
    // transaction (synthesized as 50-events-per-tx over the binlog order) the event
    // count, first/last position and per-collection counts — the exact payload of the
    // transaction topic's END event (id, event_count, data_collections). Two-level
    // partial->final aggregation: per-(tx, collection) cells shuffle once, the rollup
    // state per tx is bounded by the distinct-collection count, and the collection list
    // is sort_array'd so collect_list's arrival order can't leak into the result.
    "cdc_tx_boundaries" -> ((s, dir) => {
      val u = unwrapped(s, dir)
        .withColumn("tx_id", expr("KBC__POS div 50"))
        .withColumn("coll", coalesce(col("event_type"), lit("deleted")))
      val perColl = u.groupBy(col("tx_id"), col("coll"))
        .agg(count(lit(1)).as("cnt"),
          min(col("KBC__POS")).as("mn"), max(col("KBC__POS")).as("mx"))
      perColl.groupBy(col("tx_id")).agg(
        sum(col("cnt")).as("event_count"),
        min(col("mn")).as("first_pos"), max(col("mx")).as("last_pos"),
        array_join(sort_array(collect_list(
          concat_ws(":", col("coll"), col("cnt")))), ",").as("data_collections"))
        .orderBy(col("tx_id"))
    }),

    // D9: no-pkey fallback — key = all non-system columns
    "cdc_dedupe_nopk" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("event_id").as("KBC__BATCH_EVENT_ORDER"))
      Cdc.dedupeLastWins(ev, Seq.empty, orderCol = "KBC__BATCH_EVENT_ORDER")
    }),

    // SCD Type-2 companion to the LWW latest-state table: validity intervals per key
    // from the same ordered change stream — one exchange+sort carries lag (change
    // detection), lead (valid_to) and row_number (version)
    "cdc_scd2" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"),
          col("event_id"))
      Cdc.scd2History(ev, keys = Seq("user_id"), attr = "event_type",
          orderCols = Seq("ms", "event_id"))
        .withColumnRenamed("valid_from", "valid_from_ms")
        .withColumnRenamed("valid_to", "valid_to_ms")
    }),

    // incremental SCD2 maintenance: history from the early half + scd2Merge of the late
    // half must equal the full-stream recompute — the oracle IS the full-stream SQL, so
    // the O(batch + touched-keys) path is gated against the semantics it must preserve
    "cdc_scd2_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"),
          col("event_id"))
      val mid = ev.agg(((min(col("ms")) + max(col("ms"))) / 2).cast("long").as("__mid"))
      val evM = ev.crossJoin(broadcast(mid))
      val early = evM.filter(col("ms") <= col("__mid")).drop("__mid")
      val late = evM.filter(col("ms") > col("__mid")).drop("__mid")
      val history = Cdc.scd2History(early, Seq("user_id"), "event_type", Seq("ms", "event_id"))
      Cdc.scd2Merge(history, late, Seq("user_id"), "event_type", Seq("ms", "event_id"))
        .withColumnRenamed("valid_from", "valid_from_ms")
        .withColumnRenamed("valid_to", "valid_to_ms")
    }),

    // CDC stream-integrity audit: per binlog file, detect position gaps beyond the
    // expected stride (planted by dropping every 1000th event) — the missed-events
    // check an ingestion pipeline runs against its own offsets; one keyed window
    "cdc_gap_audit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val staged = t(s, dir, "events")
        .filter(col("event_id") % 1000 =!= 7)
        .select(concat(lit("binlog.00000"), (col("event_id") % 3 + 1).cast(StringType))
          .as("file"), col("event_id").as("pos"))
      val w = Window.partitionBy(col("file")).orderBy(col("pos"))
      staged.withColumn("__prev", lag(col("pos"), 1).over(w))
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n_events"),
          min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"),
          sum(when(col("__prev").isNotNull && col("pos") - col("__prev") > 3, 1L)
            .otherwise(0L)).as("n_gaps"),
          coalesce(max(when(col("__prev").isNotNull, col("pos") - col("__prev"))), lit(0L))
            .as("max_stride"))
    }),

    // incremental materialized-view maintenance: the delta algebra of the upsert/delete
    // stream (insert +v, update +v-prev, delete -prev) summed per key must TELESCOPE to
    // the final live state — maintained and recomputed values are both emitted and the
    // oracle hash-pins the identity row by row
    "cdc_mv_maintain" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), dec(col("value"), 18, 2).as("v"),
          (col("event_type") === "error").as("is_del"), col("event_id"))
      val deltas = Cdc.upsertDeltas(ev, Seq("user_id"), "v", col("is_del"), Seq("event_id"))
      val maintained = deltas.groupBy(col("user_id"))
        .agg(sum(col("delta")).as("__m"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      val finalState = ev.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"),
          when(col("is_del"), lit(BigDecimal(0)).cast(DecimalType(18, 2)))
            .otherwise(col("v")).as("__f"))
      maintained.join(finalState, "user_id")
        .select(col("user_id"),
          col("__m").cast(DoubleType).as("maintained"),
          col("__f").cast(DoubleType).as("final_state"),
          (col("__m") === col("__f")).as("consistent"))
    }),

    // D6+P6+E2+E3: schema-epoch union with NULL padding for drifted columns
    "cdc_chunk_union" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val epoch1 = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val epoch2 = ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("props"))
      Cdc.unionEpochs(Seq(epoch1, epoch2))
    }),

    // D7: total event order consistent with arrival (distributed assignment, no global window)
    "cdc_event_order" -> ((s, dir) => {
      val ordered = Cdc.assignEventOrder(t(s, dir, "events"), Seq(col("ts"), col("event_id")))
      ordered.select(col("event_id"), col(Cdc.OrderCol).as("KBC__BATCH_EVENT_ORDER"))
    }),

    // §1.3/§2.6: golden value rendering — epoch-day date, epoch-millis ts (UTC), base64, ms-of-day
    "cdc_type_render" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.select(
        col("event_id"),
        date_add(to_date(lit("1970-01-01")), floor(col("value")).cast(IntegerType)).as("as_date"),
        date_format(timestamp_millis(unix_millis(col("ts"))), "yyyy-MM-dd HH:mm:ss.SSS").as("as_ts"),
        base64(col("event_type").cast(BinaryType)).as("as_b64"),
        hex(col("event_type").cast(BinaryType)).as("as_hex"), // binary.handling.mode=hex rendering

        ((hour(col("ts")) * 3600 + minute(col("ts")) * 60 + second(col("ts"))) * lit(1000L))
          .cast(LongType).as("ms_of_day"))
    }),

    // §1.3/§2.6 v2 (VERDICT r1 #5): golden renderings from the reference's all-datatypes
    // case (`all-datatypes-chained/01/expected/.../inventory_all_data_types.csv`):
    // interval → Debezium MicroDuration micros (avg month = 30.4375 d = 2_629_800 s,
    // exact integer arithmetic), time → millis-of-day int, time-with-tz → HH:mm:ssZ,
    // timestamptz → 'yyyy-MM-dd HH:mm:ss+00' (UTC), point/geometry → raw JSON text,
    // int4range → '[lo,hi)' text
    "cdc_type_render_v2" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val years = col("event_id") % 3
      val months = col("user_id") % 12
      val days = col("event_id") % 28
      val hours = col("user_id") % 24
      val mins = col("event_id") % 60
      val secs = col("user_id") % 60
      val intervalSecs = (years * 12 + months) * lit(2629800L) +
        days * lit(86400L) + hours * lit(3600L) + mins * lit(60L) + secs
      ev.select(
        col("event_id"),
        (intervalSecs * lit(1000000L)).cast(LongType).as("interval_micros"),
        ((hours * 3600 + mins * 60 + secs) * lit(1000L)).cast(LongType).as("time_ms_of_day"),
        format_string("%02d:%02d:%02dZ", hours.cast(IntegerType), mins.cast(IntegerType),
          secs.cast(IntegerType)).as("timetz_render"),
        concat(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), lit("+00")).as("tstz_render"),
        concat(lit("{\"x\":"), dec(col("value")).cast(StringType),
          lit(",\"y\":"), dec(col("value") * 2).cast(StringType),
          lit(",\"srid\":null}")).as("point_json"),
        concat(lit("["), col("user_id"), lit(","), col("user_id") + 10, lit(")"))
          .as("int4range_render"))
    }),

    // §2.6 v3: the MySQL golden renderings v1/v2 didn't cover
    // (`ex_mysql_cdc/tests/functional/all-data-types/expected/.../inventory_all_data_types.csv`,
    // type mapping `ex_mysql_cdc/src/extractor/mysql_extractor.py:22-60`):
    // ENUM → the member string, SET → comma-joined members in definition order (the
    // Debezium bitmask decode), BIT(8) → base64 of the raw byte ('qg==' for 0xAA in
    // the golden), BINARY(8) → base64 of the ZERO-PADDED fixed-width bytes
    // ('qgAAAAAAAAA=' — right-padding is the fixed-BINARY contract), BIT(1) → BOOLEAN
    // (the declared special case), YEAR → plain int
    "cdc_type_render_v3" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val byteHex = lpad(hex(col("user_id") % 256), 2, "0")
      val mask = col("event_id") % 8
      ev.select(
        col("event_id"),
        element_at(array(lit("x"), lit("y"), lit("z")),
          (col("event_id") % 3 + 1).cast(IntegerType)).as("enum_render"),
        concat_ws(",",
          when(mask.bitwiseAND(1) > 0, lit("a")),
          when(mask.bitwiseAND(2) > 0, lit("b")),
          when(mask.bitwiseAND(4) > 0, lit("c"))).as("set_render"),
        base64(unhex(byteHex)).as("bit8_render"),
        base64(unhex(concat(byteHex, lit("00000000000000")))).as("binary8_render"),
        (col("event_id") % 2 === 1).as("bit1_bool_render"),
        year(col("ts")).cast(IntegerType).as("year_render"))
    }),

    // S7+K2: CSV sink/scan roundtrip — headerless write with KBC__NULL null sentinel, typed
    // read back with explicit schema (`db_common/staging.py:458-460`, nullstr handling)
    "cdc_csv_roundtrip" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
      n.write.mode("overwrite").option("header", "false").option("nullValue", "KBC__NULL").csv(tmp)
      s.read.schema(n.schema).option("nullValue", "KBC__NULL").csv(tmp)
    }),

    // S7 sibling: ORC sink/scan roundtrip — Spark's native ORC writer/reader (the
    // columnar staging alternative where the warehouse side expects ORC), typed
    // read-back against the explicit schema like the CSV form
    "cdc_orc_roundtrip" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
      n.write.mode("overwrite").orc(tmp)
      s.read.schema(n.schema).orc(tmp)
    }),

    // S7 sibling: JSON-lines sink/scan roundtrip — the spool-adjacent text format
    // (Debezium payloads are JSONL); explicit schema on read so types survive
    "cdc_json_roundtrip" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      n.write.mode("overwrite").json(tmp)
      s.read.schema(n.schema).json(tmp)
    }),

    // P3+P4: column include/exclude filter (`column.include.list` compiled to projection)
    "cdc_column_filter" -> ((s, dir) => {
      val include = Seq("event_id", "user_id", "event_type")
      val exclude = Seq("props")
      t(s, dir, "events").select(include.map(col): _*).drop(exclude.filter(include.contains): _*)
    }),

    // E5: storage-schema reconciliation — dropped storage columns survive as typed NULLs
    "cdc_reconcile" -> ((s, dir) => {
      val cur = t(s, dir, "events").select(col("event_id"), col("user_id"))
      Cdc.reconcileWithStorage(cur, StructType(Seq(
        StructField("event_id", LongType), StructField("legacy_score", DoubleType))))
    }),

    // D2's anti-join shape: epoch-1 winners that survive because NO later-epoch event exists
    // for their key (reference PKEY_CACHE `LEFT JOIN ... WHERE pc.pkey IS NULL`,
    // `staging.py:266-282`) — expressed as a left_anti join. Epoch 2 is restricted
    // to a deterministic user subset (user_id % 3 = 0): every user has events on
    // both sides of any event_id split, so an unrestricted epoch 2 makes the gate
    // vacuous (0 rows in both engines would pass even for a broken anti-join) —
    // the subset guarantees survivors > 0 at every SF while still eliminating the
    // % 3 == 0 keys non-trivially
    "cdc_anti_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val epoch1 = ev.filter(col("event_id") < 500).select(col("user_id"), col("event_id"))
      val epoch2 = ev.filter(col("event_id") >= 500 && pmod(col("user_id"), lit(3)) === 0)
        .select(col("user_id"))
      epoch1.join(epoch2, Seq("user_id"), "left_anti")
    }),

    // left_semi companion (EXISTS): users with at least one error event
    "cdc_semi_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.select(col("user_id")).distinct()
        .join(ev.filter(col("event_type") === "error").select(col("user_id")), Seq("user_id"), "left_semi")
    }),

    // ---- event-stream analytics ---------------------------------------------------------------

    // tumbling-window aggregation (batch form of the streaming windowed agg)
    "ev_window_agg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast(DoubleType).as("sum_value"))
        .select(date_format(col("w"), "yyyy-MM-dd HH:mm").as("hour_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // running aggregates per key (ordered window)
    "ev_running_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(w).cast(LongType).as("rn"),
        sum(dec(col("value"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType).as("running_value"))
    }),

    // gap-based sessionization (30-min inactivity): lag -> new-session flag -> running sum
    // as session index -> per-session aggregates. The batch form of session windows.
    "ev_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val gapMs = 30L * 60 * 1000
      t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ms")).as("start_ms"),
          max(col("ms")).as("end_ms"))
    }),

    // Markov next-event transition matrix within sessions (same 30-min gap rule as
    // ev_sessionize): the behavioral-model/anomaly baseline every event pipeline keeps.
    // lead() rides the SAME user-window sort as the gap test (a transition is valid iff
    // the NEXT row does not open a new session), so the corpus-sized work is ONE
    // exchange+sort on user_id; the (from,to) count and the per-from normalization
    // window both run on |event types|^2 rows
    // Daily new-vs-returning split: first-seen day per user (one distinct + one keyed
    // min), then the day grid folds active/new/returning counts — the standard growth
    // accounting companion to ev_retention/ev_stickiness
    "ev_new_vs_returning" -> ((s, dir) => {
      val du = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
        .distinct()
      val first = du.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      du.join(first, Seq("user_id"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          count(when(col("day") === col("first_day"), lit(1))).as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
        .withColumn("new_rate", round(col("n_new").cast(DoubleType) / col("n_active"), 6))
    }),

    // Dormancy histogram: days since each user's last activity, folded to a
    // (days_dormant, n_users) grid — the re-engagement targeting view (who to win
    // back) that complements the churn/retention accounting; exact integer day math
    "ev_dormancy" -> ((s, dir) => {
      val d = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
      val maxDay = d.agg(max(col("day")).as("__maxd"))
      d.groupBy(col("user_id")).agg(max(col("day")).as("__last"))
        .crossJoin(broadcast(maxDay))
        .select((col("__maxd") - col("__last")).as("days_dormant"))
        .groupBy(col("days_dormant"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // Cumulative-user growth curve: first-seen day per user folds to per-day signup
    // counts, then one cumulative window over the DAY GRID (30 rows — never over
    // users); the classic top-of-dashboard metric
    "ev_cumulative_users" -> ((s, dir) => {
      val first = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
        .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
        .groupBy(col("first_day").as("day")).agg(count(lit(1)).as("n_new_users"))
      val w = Window.partitionBy(lit(0)).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      first.withColumn("cumulative_users", sum(col("n_new_users")).over(w).cast("long"))
    }),

    // Churn accounting across the span's two halves: active-in-A vs active-in-B user
    // sets fold to one verdict row (churned = A\\B, retained = A∩B, new = B\\A) — the
    // aggregate form of a cohort churn dashboard; integer midpoint is exact in both
    // engines
    "ev_churn" -> ((s, dir) => {
      val du = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
      val mid = du.agg(expr("(min(day) + max(day) + 1) div 2").as("__mid"))
      val flags = du.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(max(when(col("day") < col("__mid"), 1L).otherwise(0L)).as("__a"),
          max(when(col("day") >= col("__mid"), 1L).otherwise(0L)).as("__b"))
      flags.agg(
        sum(col("__a")).cast("long").as("n_active_first_half"),
        sum(col("__b")).cast("long").as("n_active_second_half"),
        sum(when(col("__a") === 1 && col("__b") === 0, 1L).otherwise(0L)).cast("long")
          .as("n_churned"),
        sum(when(col("__a") === 1 && col("__b") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_retained"),
        sum(when(col("__a") === 0 && col("__b") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_new"))
        .withColumn("churn_rate",
          round(col("n_churned").cast(DoubleType) / col("n_active_first_half"), 6))
    }),

    // Inter-arrival time profile per event type (per-user consecutive gaps): mean/CV
    // off exact DECIMAL(38,0) moment sums — gap squares overflow int64, and a
    // bursty-vs-Poisson CV (>1 vs ≈1) is the standard traffic-shape diagnostic
    "ev_interarrival" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ms"), col("event_id"))
      val gaps = t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("__prev", lag(col("ms"), 1).over(w))
        .filter(col("__prev").isNotNull)
        .select(col("event_type"), (col("ms") - col("__prev")).as("__gap"))
      gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("__gap").cast(DecimalType(38, 0))).as("__s1"),
          sum((col("__gap").cast(DecimalType(19, 0)) * col("__gap").cast(DecimalType(19, 0)))
            .cast(DecimalType(38, 0))).as("__s2"))
        .filter(col("n_gaps") >= 2)
        .select(col("event_type"), col("n_gaps"),
          round(col("__s1").cast(DoubleType) / col("n_gaps"), 4).as("mean_gap_ms"),
          round(sqrt((col("__s2").cast(DoubleType) -
              col("__s1").cast(DoubleType) * col("__s1").cast(DoubleType) / col("n_gaps"))
            / (col("n_gaps") - 1)), 4).as("sd_gap_ms"),
          round(sqrt((col("__s2").cast(DoubleType) -
              col("__s1").cast(DoubleType) * col("__s1").cast(DoubleType) / col("n_gaps"))
            / (col("n_gaps") - 1))
            / (col("__s1").cast(DoubleType) / col("n_gaps")), 6).as("cv"))
    }),

    // Markov next-event prediction eval: argmax P(next|cur) from the transition counts
    // (count desc, lexicographically-smallest tie-break — fully deterministic) scored
    // back over the transitions (in-sample top-1 accuracy, the baseline any sequence
    // model must beat). Model is |types|^2 and broadcasts; one user-window pass.
    "ev_markov_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val tr = t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("event_type").as("cur"), col("nxt"))
      val best = tr.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("c"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("cur")).orderBy(col("c").desc, col("nxt"))))
        .filter(col("__rn") === 1)
        .select(col("cur"), col("nxt").as("pred_next"))
      tr.join(broadcast(best), Seq("cur"))
        .groupBy(col("cur").as("event_type"), col("pred_next"))
        .agg(count(lit(1)).as("n_transitions"),
          count(when(col("nxt") === col("pred_next"), lit(1))).as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast(DoubleType) / col("n_transitions"), 6))
    }),

    "ev_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val gapMs = 30L * 60 * 1000
      t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("next_ms", lead(col("ms"), 1).over(w))
        .filter(col("next_type").isNotNull && col("next_ms") - col("ms") <= gapMs)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prob", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("from_type"))), 6))
    }),

    // session anomaly scoring: avg log10 transition probability of each session under
    // the corpus transition matrix (the ev_transitions model applied back) — rare event
    // sequences surface as low scores. lag (gap/session numbering) and lead (next type)
    // share ONE user-window sort; the matrix re-enters as a broadcast; per-occurrence
    // log terms decimal-quantized so session sums are exact in both engines
    "ev_session_score" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val gapMs = 30L * 60 * 1000
      val ev = t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("next_ms", lead(col("ms"), 1).over(w))
      val trans = ev.filter(col("next_type").isNotNull && col("next_ms") - col("ms") <= gapMs)
        .select(col("user_id"), col("session_idx"),
          col("event_type").as("from_type"), col("next_type").as("to_type"))
      val matrix = trans.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .withColumn("lp", log(10.0, col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("from_type"))))
          .cast(DecimalType(18, 8)))
      trans.join(broadcast(matrix.select(col("from_type"), col("to_type"), col("lp"))),
          Seq("from_type", "to_type"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_trans"),
          round(sum(col("lp")).cast("double") / count(lit(1)), 4).as("avg_logprob"))
    }),

    // funnel: per-user signup -> first subsequent purchase with conversion flag and
    // latency — the ordered-sequence analytic; conditional aggregation over one keyed
    // join (no window, no per-user sort)
    "ev_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ms")).as("signup_ms"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms").as("purchase_ms"))
      signups.join(purchases, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("signup_ms"))
        .agg(min(when(col("purchase_ms") >= col("signup_ms"), col("purchase_ms")))
          .as("first_purchase_ms"))
        .select(col("user_id"), col("signup_ms"), col("first_purchase_ms"),
          col("first_purchase_ms").isNotNull.as("converted"),
          (col("first_purchase_ms") - col("signup_ms")).as("latency_ms"))
    }),

    // outlier detection: per-type population z-scores from EXACT decimal moments (n, Σv,
    // Σv²) — the tiny stats table broadcasts back, so scoring is a pure map; the decimal
    // sums cast to double identically in both engines, making every derived z identical
    // per-key exact percentiles (latency-profile style p50/p95/p99) via the grouped
    // distributed histogram — never the Percentile value-map buffer
    "ev_percentiles" -> ((s, dir) =>
      SampleOps.groupedExactPercentiles(t(s, dir, "events"), "event_type",
          round(col("value") * 100), Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99)))
        .select(col("event_type"),
          round(col("p50") / 100, 2).as("p50"),
          round(col("p95") / 100, 2).as("p95"),
          round(col("p99") / 100, 2).as("p99"))),

    // daily active users with a mergeable sketch (the DAU/WAU profile): per-day
    // approx_count_distinct(rsd 2%) next to the exact countDistinct as the in-plan
    // audit (graft.Verify gate); the bench variant times the sketch alone. Day index is
    // integer epoch-day division — engine- and timezone-neutral
    "ev_daily_users" -> ((s, dir) => {
      val per = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
        .groupBy("day").agg(
          countDistinct(col("user_id")).as("exact"),
          expr("approx_count_distinct(user_id, 0.02)").as("approx"))
      per.agg(count(lit(1)).as("n_days"),
          max(abs(col("approx") - col("exact")).cast("double") /
            col("exact").cast("double")).as("max_rel"))
        .select(col("n_days"), (col("max_rel") <= 0.1).as("sketch_ok"))
    }),

    // ROBUST outlier detection: median/MAD replace mean/stddev (ev_zscore's moments are
    // themselves dragged by the outliers they hunt). Two grouped-histogram percentile
    // passes on a DOUBLED integer grid — dd = |2g - 2*med| stays integer even when the
    // even-count median lands on a half — so every comparison and the robust-z division
    // are exact; per-type stats broadcast back, flagging is a pure map
    "ev_anomaly_mad" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("g"))
      val med = SampleOps.groupedExactPercentiles(ev, "event_type", col("g"), Seq(("m", 0.5)))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("dd", abs(col("g") * 2 - (col("m") * 2).cast("long")))
      val mad = SampleOps.groupedExactPercentiles(dev, "event_type", col("dd"), Seq(("m2", 0.5)))
      dev.join(broadcast(mad), "event_type")
        .filter(col("m2") > 0 && col("dd") > lit(3) * col("m2"))
        .select(col("event_id"), col("event_type"),
          round(col("m") / 100, 2).as("med"),
          round(col("m2") / 200, 4).as("mad"),
          round(col("dd") / col("m2"), 4).as("rz"))
    }),

    "ev_zscore" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), dec(col("value"), 12, 6).as("v"))
      val mean = col("s1") / col("n")
      // degenerate (constant / singleton) groups are dropped on the VARIANCE, before any
      // sqrt: fp cancellation can land var 1 ulp negative, where DuckDB's sqrt hard-errors
      // while Spark emits NaN (which abs(z) > 2 would KEEP) — the same var > 0 predicate
      // on identical doubles excludes them identically in both engines
      val stats = ev.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("v")).cast(DoubleType).as("s1"),
          sum(col("v") * col("v")).cast(DoubleType).as("s2"))
        .withColumn("variance", col("s2") / col("n") - mean * mean)
        .filter(col("variance") > 0)
      val z = round((col("v").cast(DoubleType) - mean) / sqrt(col("variance")), 4)
      ev.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"), z.as("z"))
        .filter(abs(col("z")) > 2.0)
    }),

    // per-key exponential moving average, horizon-truncated at 16 lags (the bounded-state
    // form a production stream EWMA keeps): one window sort per key, 16 codegen'd lag()
    // reads, no UDF. alpha = 0.5 makes every weight a power of two, so each product is
    // EXACT double scaling and the explicit left-assoc addition chain evaluates
    // bit-identically in both engines — no decimal quantization needed
    "ev_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val terms = (0 until 16).map { k =>
        val v = if (k == 0) col("value") else coalesce(lag(col("value"), k).over(w), lit(0.0))
        v * lit(math.pow(0.5, k + 1))
      }
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        // floor-quantize, don't round: the pre-quantization double is bit-identical in
        // both engines (exact power-of-two scaling + pinned add order), and floor of an
        // identical double is identical — ROUND's half-tie handling is not (observed
        // x.xxxxxx5 ties flipping the 6th decimal between engines)
        .withColumn("ewma",
          (floor(terms.reduce(_ + _) * lit(1e6)).cast("double") / lit(1e6)))
        .select(col("event_id"), col("user_id"), col("ewma"))
    }),

    // semi-structured payload extraction: the events-table analog of the envelope parse —
    // single-field get_json_object probes (codegen'd, no full from_json struct
    // materialization per the cdc_unwrap lesson), then an ordinary keyed aggregate
    // the extracted string is validated as an INTEGER before the cast in BOTH engines:
    // DuckDB's CAST('1.7' AS BIGINT) rounds where Spark's returns NULL (the verify-skill
    // trap), so the shared regex gate is what keeps the pair equivalent on any data
    "ev_props_extract" -> ((s, dir) => {
      val ks = get_json_object(col("props"), "$.k")
      t(s, dir, "events")
        .select(col("event_type"),
          when(ks.rlike("^-?[0-9]+$"), ks.cast(LongType)).as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
    }),

    // event-type pivot: long->wide per-user counts; explicit pivot values keep the output
    // schema static (no driver-side distinct scan), Expand-free single aggregation
    "ev_pivot" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      t(s, dir, "events").groupBy("user_id")
        .pivot("event_type", types).agg(count(lit(1)))
        .select(col("user_id") +: types.map(c => coalesce(col(c), lit(0L)).as(s"n_$c")): _*)
    }),

    // weekly cohort retention: users cohorted by first-active ISO week, distinct-user
    // counts per (cohort, week offset). ONE exchange on user_id computes the cohort AND
    // the distinct active weeks together (collect_set absorbs the would-be distinct +
    // self-join), then one exchange on the tiny (cohort, offset) key space; each user
    // contributes a distinct week at most once, so count(1) IS the distinct-user count
    "ev_retention" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
        .groupBy("user_id")
        .agg(min(col("week")).as("cohort_week"), collect_set(col("week")).as("weeks"))
      perUser.select(col("cohort_week"), explode(col("weeks")).as("week"))
        .groupBy(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7).cast("int").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // time-series resample + forward fill: each user's daily value series re-gridded to a
    // dense day grid (sequence + explode; no calendar table join) with gaps carried
    // forward by last(ignoreNulls) over the per-user ordered window. Per-row values
    // quantize to DECIMAL(18,8) before the sum so both engines add exactly. Shuffles:
    // one (user, day) agg + the per-user window — grid rows never exceed span-days/user
    "ev_gapfill" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("value").cast(DecimalType(18, 8)).as("v"))
        .groupBy("user_id", "day").agg(sum(col("v")).cast(DoubleType).as("day_value"))
      val grid = daily.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("day_value"), ignoreNulls = true).over(w).as("filled_value"),
          col("day_value").isNull.as("is_gap"))
    }),

    // as-of join (point-in-time lookup): every event attached to the user's latest
    // signup at or before it — union-merge plan (one exchange + one ordered window pass,
    // no range-join blowup); oracle = DuckDB's native ASOF LEFT JOIN
    "ev_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      // dedupe the build side per (key, time) so "the latest" is unambiguous in both engines
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ms")).agg(max(col("event_id")).as("signup_id"))
      graft.operators.AsOfJoin.asofBackward(
        ev.select(col("event_id"), col("user_id"), col("ms")),
        signups, keys = Seq("user_id"), timeCol = "ms", rightVals = Seq("signup_id"))
    }),

    // bounded interval join (the range companion to as-of): errors within a day AFTER
    // each click by the same user — range folded into the join key via time buckets
    // mergeable-sketch rollup — THE 100 TB pre-aggregation pattern: per-day DataSketches
    // HLL sketches (buildable incrementally, stored instead of raw ids) union to weekly
    // estimates WITHOUT re-reading raw data; the gate audits every weekly estimate
    // against the exact distinct count (re-derivable at this SF) and pins the verdict
    "ev_sketch_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
      val daily = ev.groupBy(col("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val weekly = daily.groupBy(expr("day div 7").as("week"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"))
      val exact = ev.select(expr("day div 7").as("week"), col("user_id"))
        .groupBy("week").agg(countDistinct(col("user_id")).as("exact_users"))
      weekly.join(exact, "week")
        .agg(count(lit(1)).as("n_weeks"),
          (max(abs(col("approx_users") - col("exact_users")).cast(DoubleType) /
            col("exact_users")) <= 0.05).as("sketch_ok"))
    }),

    // Z-order (Morton) layout audit — the multi-dimensional clustering behind file
    // skipping: interleave user and value-bucket bits, tile the z order, and emit each
    // tile's bounding box (what parquet min/max stats would record per file). Tight
    // boxes in BOTH dims = predicates on EITHER dim prune tiles. ntile over the total z
    // order is the oracle-replayable stand-in for the sampled range partitioning that
    // LayoutOps.zorderRepartition uses at scale (one shuffle, no global sort point).
    // File-skipping LAYOUT audit — the decision artifact behind "sort before you
    // write": partition the table two ways (arrival order = deterministic event-id
    // range blocks; key order = repartitionByRange on user_id, the REAL layout-writer
    // path), collect per-file min/max zone maps, and measure how many files a point
    // lookup must touch under each layout. Arrival-layout numbers are exact and
    // oracle-pinned; the range layout's file boundaries come from Spark's range
    // sampler (nondeterministic), so it gates as verdicts: ≥4× fewer files touched on
    // average and ≤4 files worst-case. The audit shape is all small: zone maps are
    // |files| rows and broadcast onto the probe set.
    "ev_layout_skip_audit" -> ((s, dir) => {
      val nF = 64
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
      val stats = ev.agg(max(col("event_id")).as("__mx"))
      val natZone = ev.crossJoin(broadcast(stats))
        .select(expr(s"(event_id * $nF) div (__mx + 1)").as("file"), col("user_id"))
        .groupBy(col("file"))
        .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"))
      val rngZone = ev.repartitionByRange(nF, col("user_id"))
        .select(col("user_id"), spark_partition_id().as("file"))
        .groupBy(col("file"))
        .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"))
      val probes = ev.select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(97)) === 0)
      def touched(zone: DataFrame) = probes.crossJoin(broadcast(zone))
        .filter(col("user_id").between(col("mn"), col("mx")))
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).cast("long").as("tc"), count(lit(1)).as("np"),
          max(col("c")).as("mc"))
      val nat = touched(natZone).select(col("tc").as("nat_tc"), col("np").as("nat_np"))
      val rng = touched(rngZone)
        .select(col("tc").as("rng_tc"), col("np").as("rng_np"), col("mc").as("rng_mc"))
      nat.crossJoin(rng).select(
        lit(nF).as("n_files"), col("nat_np").as("n_probes"),
        round(col("nat_tc").cast(DoubleType) / col("nat_np"), 6).as("nat_avg_files"),
        (col("rng_tc").cast(DoubleType) / col("rng_np") * 4 <=
          col("nat_tc").cast(DoubleType) / col("nat_np")).as("range_avg_4x_ok"),
        (col("rng_mc") <= 4).as("range_max_files_ok"))
    }),

    "ev_zorder_layout" -> ((s, dir) => {
      import graft.ops.LayoutOps
      import graft.operators.Cdc
      // NO global-window ntile (a single-partition sort of the corpus at 100 TB):
      // exact global rank via the assignEventOrder idiom (repartitionByRange on
      // (z, event_id) + per-partition offsets), then the closed-form SQL ntile —
      // first (n mod 16) tiles get ceil(n/16) rows, the rest floor(n/16) —
      // bit-identical to NTILE(16) OVER (ORDER BY z, event_id) in both engines.
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          pmod(col("user_id"), lit(256)).as("ub"),
          least(floor(col("value") / 4).cast("long"), lit(255L)).as("vb"))
        .withColumn("z", LayoutOps.zValue(col("ub"), col("vb")))
      val ranked = Cdc.assignEventOrder(ev, Seq(col("z"), col("event_id")))
      val n = ranked.agg(count(lit(1)).as("__n"))
      val rk = Cdc.OrderCol // 0-based global rank
      ranked.crossJoin(broadcast(n))
        .withColumn("tile", expr(
          s"""CAST(CASE WHEN $rk < (__n % 16) * (__n div 16 + 1)
             |  THEN $rk div (__n div 16 + 1) + 1
             |  ELSE __n % 16 + ($rk - (__n % 16) * (__n div 16 + 1)) div (__n div 16) + 1
             |END AS INT)""".stripMargin))
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ub")).as("min_u"), max(col("ub")).as("max_u"),
          min(col("vb")).as("min_v"), max(col("vb")).as("max_v"))
        .orderBy(col("tile"))
    }),

    // Hilbert-curve layout — ev_zorder_layout's strictly-better-locality sibling
    // (consecutive Hilbert indices are ALWAYS grid-adjacent; Morton jumps 2^k cells
    // at quadrant seams — the reason Delta added OPTIMIZE ... HILBERT). Same coords,
    // same range-partitioned exact global rank (NO single-partition window), same
    // closed-form ntile; the index itself is ONE codegen'd static call per row
    // (functions.LayoutFunctions.hilbertIndex), replayed by the oracle as an
    // unrolled quadrant-rotation CTE chain.
    "ev_hilbert_layout" -> ((s, dir) => {
      import graft.operators.Cdc
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          pmod(col("user_id"), lit(256)).as("ub"),
          least(floor(col("value") / 4).cast("long"), lit(255L)).as("vb"))
        .withColumn("h", graft.functions.LayoutFunctions
          .hilbertIndex(col("ub"), col("vb"), bits = 8))
      val ranked = Cdc.assignEventOrder(ev, Seq(col("h"), col("event_id")))
      val n = ranked.agg(count(lit(1)).as("__n"))
      val rk = Cdc.OrderCol // 0-based global rank
      ranked.crossJoin(broadcast(n))
        .withColumn("tile", expr(
          s"""CAST(CASE WHEN $rk < (__n % 16) * (__n div 16 + 1)
             |  THEN $rk div (__n div 16 + 1) + 1
             |  ELSE __n % 16 + ($rk - (__n % 16) * (__n div 16 + 1)) div (__n div 16) + 1
             |END AS INT)""".stripMargin))
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ub")).as("min_u"), max(col("ub")).as("max_u"),
          min(col("vb")).as("min_v"), max(col("vb")).as("max_v"))
        .orderBy(col("tile"))
    }),

    // Hilbert-vs-Morton face-off: the per-tile bounding-box areas of the two layout
    // queries, aggregated per curve — the number a table-layout decision actually
    // reads (smaller avg box = fewer files a point predicate touches). Exact
    // integers end-to-end: area per tile, sum over the 16-tile grid, one rounded
    // ratio. Hilbert's strict adjacency should never lose.
    "ev_layout_compare" -> ((s, dir) => {
      def tiles(curve: String): DataFrame = {
        val base = queries(s"ev_${curve}_layout")(s, dir)
        base.select(lit(curve).as("curve"),
          ((col("max_u") - col("min_u")) * (col("max_v") - col("min_v"))).as("__area"))
          .groupBy(col("curve"))
          .agg(count(lit(1)).as("n_tiles"), sum(col("__area")).cast("long").as("area_sum"),
            max(col("__area")).cast("long").as("area_max"))
      }
      tiles("hilbert").unionByName(tiles("zorder"))
        .select(col("curve"), col("n_tiles"), col("area_sum"), col("area_max"),
          round(col("area_sum").cast(DoubleType) / col("n_tiles"), 2).as("avg_area"))
    }),

    // mergeable QUANTILE rollup — the order-statistics companion to ev_sketch_rollup:
    // per-day Munro–Paterson compactor summaries (custom TypedImperativeAggregate,
    // O(k log n/k) state) union into a global summary by re-aggregating the STORED
    // (v, w) pairs — no raw re-read, any merge order. The gate ranks each estimated
    // quantile against the raw table and pins rank error <= 5% of n (k=128 measured
    // 1.5% worst-case under shuffled merge orders).
    "ev_quantile_sketch" -> ((s, dir) => {
      import graft.functions.SketchFunctions
      val ev = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("value"))
      val daily = ev.groupBy(col("day"))
        .agg(SketchFunctions.quantileSketchAgg(col("value")).as("sk"))
      val global = daily.select(explode(col("sk")).as("e"))
        .agg(SketchFunctions.quantileSketchUnionAgg(col("e.v"), col("e.w")).as("sk"))
      val qs = Seq(0.1, 0.5, 0.9, 0.99)
      val est = global.select(qs.zipWithIndex.map { case (q, i) =>
        SketchFunctions.sketchQuantile(col("sk"), q).as(s"__est_$i") }: _*)
      val nDays = daily.agg(count(lit(1)).as("n_days"))
      val aggs = count(lit(1)).as("n_events") +: qs.zipWithIndex.map { case (q, i) =>
        (abs(sum(when(col("value") <= col(s"__est_$i"), 1L).otherwise(0L)) -
          count(lit(1)).cast(DoubleType) * q) <=
          count(lit(1)).cast(DoubleType) * 0.05).as(s"q${(q * 100).toInt}_ok")
      }
      ev.crossJoin(broadcast(est)).agg(aggs.head, aggs.tail: _*)
        .crossJoin(broadcast(nDays))
    }),

    // session-path mining: the 10 most frequent session-opening 3-step paths under the
    // same 30-min gap rule as ev_sessionize — the lead()s ride the ONE user-window sort,
    // the path table is |distinct paths| rows before the tiny top-10
    "ev_top_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val gapMs = 30L * 60 * 1000
      val sess = t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val wS = Window.partitionBy(col("user_id"), col("session_idx"))
        .orderBy(col("ms"), col("event_id"))
      val paths = sess.withColumn("rn", row_number().over(wS))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(concat_ws(">",
          max(when(col("rn") === 1, col("event_type"))),
          max(when(col("rn") === 2, col("event_type"))),
          max(when(col("rn") === 3, col("event_type")))).as("path"))
      paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(10)
    }),

    // behavioral user similarity: the event stream becomes a 5-dim type-count vector
    // per user (exact integer components -> float lossless), then the SAME bounded-heap
    // cosine top-k machinery as the embedding ANN family — operators compose across
    // families; probe set = 5 users, corpus = all users
    "ev_user_similarity" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val types = Seq("click", "error", "purchase", "signup", "view")
      val vecs = ev.groupBy(col("user_id"))
        .agg(array(types.map(tp =>
          sum(when(col("event_type") === tp, 1L).otherwise(0L)).cast("float")): _*)
          .as("embedding"))
        .select(col("user_id").as("vec_id"), col("embedding"))
      VectorOps.bruteForceTopK(vecs, vecs.filter(col("vec_id") <= 5), k = 3)
        .withColumn("sim", round(col("sim"), 4))
    }),

    // funnel latency readout: exact p50/p90 of signup->first-purchase time over
    // converting users, via the distributed-histogram percentile (integer-ms grid)
    "ev_funnel_latency" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ms")).as("signup_ms"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms").as("purchase_ms"))
      val lat = signups.join(purchases, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("signup_ms"))
        .agg(min(when(col("purchase_ms") >= col("signup_ms"), col("purchase_ms")))
          .as("fpms"))
        .filter(col("fpms").isNotNull)
        .select((col("fpms") - col("signup_ms")).as("lat"))
      val pct = SampleOps.exactPercentiles(lat,
        Seq(("p50", col("lat"), 0.5), ("p90", col("lat"), 0.9)))
      lat.agg(count(lit(1)).as("n_converted")).crossJoin(broadcast(pct))
        .select(col("n_converted"),
          round(col("p50"), 2).as("p50_latency_ms"),
          round(col("p90"), 2).as("p90_latency_ms"))
    }),

    // RANGE window frame (value-based, not row-based): per-user rolling 1-hour sum —
    // peers at equal ms share the frame by definition, exact decimal sums; one keyed
    // exchange+sort like every other user window
    "ev_range_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
        .rangeBetween(-3600000L, 0L)
      ev.select(col("event_id"), col("user_id"), col("ms"),
        sum(dec(col("value"), 18, 2)).over(w).cast(DoubleType).as("hour_sum"))
    }),

    // Welch two-sample t-test (click vs view on value): exact decimal moments in one
    // pass, identical double formula both engines — the A/B experimentation readout
    "ev_ab_ttest" -> ((s, dir) =>
      SampleOps.welchTTest(t(s, dir, "events"), "event_type", "value", "click", "view")),

    // Power / minimum-detectable-effect sizing per metric (α=0.05 two-sided, 80%
    // power): pooled two-arm variance from one exact cent-moment pass, m-row grid
    // out — the INVERSE readout of ev_power_analysis (which sizes n for a fixed
    // relative effect; this reports the effect detectable at the CURRENT n)
    "ev_power_mde" -> ((s, dir) =>
      SampleOps.powerMde(t(s, dir, "events"), col("event_type"),
        pmod(col("user_id"), lit(2)), col("value"))),

    // GROUPED Poisson bootstrap: one CI per metric from ONE corpus scan (all 40
    // replicas ride as weighted partial sums; q_bootstrap_ci's integer-threshold
    // draw, partitioned rank windows — the per-metric-fleet uncertainty readout)
    "ev_bootstrap_ci" -> ((s, dir) =>
      SampleOps.poissonBootstrapCiGrouped(t(s, dir, "events"), col("event_type"),
        col("event_id"), col("value"))),

    // bootstrap CI on the TREATMENT EFFECT (arm 1 mean − arm 0 mean): unit-level
    // Poisson resampling per arm, per-replica effect pivot, nearest-rank CI —
    // significant = the interval excludes zero (the distribution-free A/B verdict)
    "ev_bootstrap_diff" -> ((s, dir) =>
      SampleOps.poissonBootstrapDiffCi(t(s, dir, "events"),
        pmod(col("user_id"), lit(2)), col("event_id"), col("value"))),

    // Quantile treatment effects (Doksum 1974): per-arm EXACT p10..p90 from the
    // distributed cents histogram (groupedExactPercentiles — state bounded by
    // distinct values, never rows), QTE = q_treat − q_control per quantile. The
    // distributional readout a mean-difference readout hides: an effect concentrated
    // in the tail moves p90 and nothing else.
    "ev_qte" -> ((s, dir) =>
      qteFromHist(t(s, dir, "events").filter(col("value").isNotNull)
        .select(pmod(col("user_id"), lit(2)).as("arm"),
          round(col("value") * 100).cast("long").as("v"))
        .groupBy(col("arm"), col("v")).agg(count(lit(1)).as("c")))),

    // INCREMENTAL QTE: the (arm, cents) histogram counts are associative sums, so
    // they live as maintained GroupingSetsMv state (arm#cents composite key, the
    // ev_isotonic_incremental pattern); the grid-bounded quantile finisher runs at
    // READ time — row-identical to one-shot ev_qte, pinned by the SAME oracle.
    "ev_qte_incremental" -> ((s, dir) => {
      import graft.streaming.GroupingSetsMv
      val d = t(s, dir, "events").filter(col("value").isNotNull).select(
        col("event_id"),
        concat(pmod(col("user_id"), lit(2)).cast("string"), lit("#"),
          round(col("value") * 100).cast("long").cast("string")).as("k"),
        lit("all").as("scope"), lit(0.0).as("z"))
        .localCheckpoint(true)
      val state = java.nio.file.Files.createTempDirectory("graft-qte").toString
      for (b <- 0 to 2)
        GroupingSetsMv.applyBatch(
          d.filter(pmod(col("event_id"), lit(3)) === b), b.toLong, state,
          "k", "scope", "z")
      val hist = GroupingSetsMv.current(s, state).filter(col("gid") === 1)
        .select(substring_index(col("k"), "#", 1).cast("int").as("arm"),
          substring_index(col("k"), "#", -1).cast("long").as("v"),
          col("n").as("c"))
      val out = qteFromHist(hist).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(state))
      out
    }),

    // Cochran–Mantel–Haenszel stratified 2×2 test: the Simpson's-paradox-safe
    // A/B readout — strata = day-of-week (the weekly mix shift that reverses pooled
    // tables), exposure = user parity, outcome = purchase event; per-stratum terms
    // quantized to DECIMAL(18,12) before aggregation, χ² and the MH pooled odds
    // ratio as single fixed-order doubles (SampleOps.cmhTest)
    "ev_cmh_test" -> ((s, dir) =>
      SampleOps.cmhTest(t(s, dir, "events"),
        expr("(unix_millis(ts) div 86400000) % 7"),
        pmod(col("user_id"), lit(2)) === 1,
        col("event_type") === "purchase")),

    // Lag-1 Granger causality (Granger 1969) between the daily click and purchase
    // count series — the CAUSALITY readout completing the ACF/CCF family: does
    // yesterday's x improve today's y prediction beyond yesterday's y? Closed-form
    // nested OLS over the day grid: every centered moment is n-scaled EXACT integer
    // algebra (nSyy = n·Σy² − (Σy)², etc. — the cuped discipline), the F-statistic
    // one fixed-order double chain. Corpus cost: one (day, type) aggregate; the lag
    // window rides the collapsed day grid.
    "ev_granger" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
        .localCheckpoint(eager = false) // both directions read the same day grid
      val wDay = Window.orderBy(col("day"))
      def direction(name: String, yCol: String, xCol: String): DataFrame = {
        val lagged = daily
          .select(col(yCol).as("yt"),
            lag(col(yCol), 1).over(wDay).as("yl"),
            lag(col(xCol), 1).over(wDay).as("xl"))
          .filter(col("yl").isNotNull)
        val m = lagged.agg(count(lit(1)).as("n"),
          sum(col("yt")).as("sy"), sum(col("yl")).as("sl"), sum(col("xl")).as("sx"),
          sum(col("yt") * col("yt")).as("syy"), sum(col("yl") * col("yl")).as("sll"),
          sum(col("xl") * col("xl")).as("sxx"), sum(col("yt") * col("yl")).as("syl"),
          sum(col("yt") * col("xl")).as("syx"), sum(col("yl") * col("xl")).as("slx"))
        val (nn, sy, sl, sx) = (col("n"), col("sy"), col("sl"), col("sx"))
        def c(s2: Column, a: Column, b: Column) = (nn * s2 - a * b).cast(DoubleType)
        val (cyy, cll, cxx) = (c(col("syy"), sy, sy), c(col("sll"), sl, sl),
          c(col("sxx"), sx, sx))
        val (cyl, cyx, clx) = (c(col("syl"), sy, sl), c(col("syx"), sy, sx),
          c(col("slx"), sl, sx))
        val rssR = cyy - cyl * cyl / cll
        val det = cll * cxx - clx * clx
        val b1 = (cyl * cxx - cyx * clx) / det
        val b2 = (cyx * cll - cyl * clx) / det
        val rssU = cyy - b1 * cyl - b2 * cyx
        // rssU = 0 (perfect prediction) leaves F undefined — NULL in both engines
        // (ANSI Spark would throw on the zero divisor, DuckDB would return NULL)
        m.select(lit(name).as("direction"), nn.cast("long").as("n_days"),
          round(when(rssU > 0,
            (rssR - rssU) * (nn - 3).cast(DoubleType) / rssU), 4).as("f_stat"))
      }
      direction("clicks->purchases", "purchases", "clicks")
        .unionByName(direction("purchases->clicks", "clicks", "purchases"))
    }),

    // Breslow–Day homogeneity — CMH's prerequisite: the pooled odds ratio only
    // means something when the per-stratum ORs agree; BD's X² over the quadratic
    // fitted counts tests exactly that (same strata/arms as ev_cmh_test)
    "ev_breslow_day" -> ((s, dir) =>
      SampleOps.breslowDay(t(s, dir, "events"),
        expr("(unix_millis(ts) div 86400000) % 7"),
        pmod(col("user_id"), lit(2)) === 1,
        col("event_type") === "purchase")),

    // two-sample Kolmogorov–Smirnov (click vs view): distribution-SHAPE companion of
    // the t-test — D as a cross-multiplied exact integer max over the value grid,
    // the α=0.05 decision squared into a pure DECIMAL(38,0) comparison; cumulatives
    // via the range-partitioned prefix sum, no single-partition window
    // (SampleOps.ksTest)
    "ev_ks_test" -> ((s, dir) =>
      SampleOps.ksTest(t(s, dir, "events"), col("event_type"), col("value"),
        "click", "view")),

    // Isotonic calibration of purchase probability against the value-score grid —
    // PAV semantics via the minimax identity (max_i<=k min_j>=k interval mean),
    // pure relational algebra on the 64-bin grid: grid² pairs, one corpus exchange;
    // every interval mean is one IEEE division of exact BIGINTs, bit-equal across
    // engines (SampleOps.isotonicCalibration)
    "ev_isotonic_calibration" -> ((s, dir) =>
      SampleOps.isotonicCalibration(t(s, dir, "events"),
        least(floor(col("value") / 8).cast("long"), lit(63L)),
        (col("event_type") === "purchase").cast("long"))),

    // INCREMENTAL isotonic calibration: the (bin, w, y) counts are associative sums,
    // so they live as maintained GroupingSetsMv state (three event waves, versioned
    // replay-safe merges) and the grid-bounded minimax fit runs at READ time — the
    // maintained result is row-identical to one-shot ev_isotonic_calibration and the
    // SAME oracle pins it (the doc_textrank_incremental pattern).
    "ev_isotonic_incremental" -> ((s, dir) => {
      import graft.streaming.GroupingSetsMv
      val d = t(s, dir, "events").select(
        col("event_id"),
        least(floor(col("value") / 8).cast("long"), lit(63L)).as("bin"),
        lit("all").as("scope"),
        (col("event_type") === "purchase").cast("double").as("y"))
        .localCheckpoint(true)
      val state = java.nio.file.Files.createTempDirectory("graft-iso").toString
      for (b <- 0 to 2)
        GroupingSetsMv.applyBatch(
          d.filter(pmod(col("event_id"), lit(3)) === b), b.toLong, state,
          "bin", "scope", "y")
      val bins = GroupingSetsMv.current(s, state)
        .filter(col("gid") === 1)
        .select(col("bin").cast("long").as("b"), col("n").as("w"),
          col("s").cast("long").as("y"))
      val out = SampleOps.isotonicFitFromBins(bins).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(state))
      out
    }),

    // Always-valid sequential test (mSPRT, Johari et al. 2017): the per-day peeking
    // readout a fixed-horizon t-test can't survive — running mixture-LR in log10
    // space (exp() has no cross-engine bit guarantee; log10 pairs exactly), day-grid
    // windows only (SampleOps.msprtDaily)
    "ev_msprt" -> ((s, dir) =>
      SampleOps.msprtDaily(t(s, dir, "events"),
        expr("unix_millis(ts) div 86400000"), pmod(col("user_id"), lit(2)),
        col("value"))),

    // INCREMENTAL mSPRT: the per-(day, arm) cent moments are associative sums, so
    // they live as maintained GroupingSetsMv state — the composite key day·2+arm
    // rides the gid=1 lane (the ev_isotonic_incremental trick) and TWO stores carry
    // Σc and Σc² (c² is an integer, carried exactly by the store's DECIMAL(38,2)
    // state — ~10^36 headroom). Three versioned replay-safe event waves,
    // then the day-grid LR finisher at READ time — row-identical to one-shot
    // ev_msprt, pinned by the SAME oracle.
    "ev_msprt_incremental" -> ((s, dir) => {
      import graft.streaming.GroupingSetsMv
      val d = t(s, dir, "events").select(
        col("event_id"),
        (expr("unix_millis(ts) div 86400000") * 2 +
          pmod(col("user_id"), lit(2))).as("k"),
        lit("all").as("scope"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("c"))
        .withColumn("c2", (col("c").cast(DecimalType(19, 0)) * col("c")
          .cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
        .localCheckpoint(true)
      val st1 = java.nio.file.Files.createTempDirectory("graft-msprt1").toString
      val st2 = java.nio.file.Files.createTempDirectory("graft-msprt2").toString
      for (b <- 0 to 2) {
        val wave = d.filter(pmod(col("event_id"), lit(3)) === b)
        GroupingSetsMv.applyBatch(wave, b.toLong, st1, "k", "scope", "c")
        GroupingSetsMv.applyBatch(wave, b.toLong, st2, "k", "scope", "c2")
      }
      def cells(dir0: String) = GroupingSetsMv.current(s, dir0)
        .filter(col("gid") === 1).select(col("k").cast("long").as("k"),
          col("n"), col("s"))
      val daily = cells(st1).withColumnRenamed("s", "sc")
        .join(cells(st2).select(col("k"), col("s").as("sc2")), "k")
        .select(expr("k div 2").as("day"), pmod(col("k"), lit(2)).as("__a"),
          col("n"), col("sc").cast("long").as("s1"),
          col("sc2").cast(DecimalType(38, 0)).as("s2"))
      val out = SampleOps.msprtFromDailyMoments(daily).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st1))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st2))
      out
    }),

    // CUPED variance reduction (Deng et al. 2013): pre-period per-user spend as the
    // covariate, experiment-period spend as the metric, arm = user_id % 2 (the
    // engine-agnostic split idiom). One per-user exchange, then closed-form doubles
    // over exact HUGEINT/DECIMAL(38,0) cent moments — var(Y_adj) comes from the
    // 1 − ρ² identity, never a second per-unit pass (SampleOps.cuped)
    "ev_cuped" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("value"),
        expr("unix_millis(ts) div 86400000").as("d"))
      val d0 = ev.agg(min(col("d")).as("__d0"))
      SampleOps.cuped(ev.crossJoin(broadcast(d0)),
        col("user_id"), pmod(col("user_id"), lit(2)),
        col("d") < col("__d0") + 15, col("value"))
    }),

    // CUPAC-style TWO-covariate adjustment (pre-period value + pre-period activity
    // count): 2x2 normal equations on exact DECIMAL(38,0) cross-moments, Cramer
    // solve in fixed double order — strictly more variance reduction than ev_cuped
    // on the same split (R2 of two regressors never fits worse than one)
    "ev_cuped_multi" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("value"),
        expr("unix_millis(ts) div 86400000").as("d"))
      val d0 = ev.agg(min(col("d")).as("__d0"))
      SampleOps.cupedMulti(ev.crossJoin(broadcast(d0)),
        col("user_id"), pmod(col("user_id"), lit(2)),
        col("d") < col("__d0") + 15, col("value"))
    }),

    // Difference-in-differences (Card & Krueger 1994 design): treat = user parity,
    // post = day ≥ d0+15 (ev_cuped's period split) — per event_type plus the ALL
    // rollup row in the SAME hash aggregate; each cell mean is one double division
    // of an exact DECIMAL sum, DiD composes four doubles in fixed operand order
    // (SampleOps.diffInDiff).
    "ev_did" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"),
        col("value"), expr("unix_millis(ts) div 86400000").as("d"))
      val d0 = ev.agg(min(col("d")).as("__d0"))
      SampleOps.diffInDiff(ev.crossJoin(broadcast(d0)),
        col("event_type"), pmod(col("user_id"), lit(2)) === 1,
        col("d") >= col("__d0") + 15, col("value"))
    }),

    // e-BH FDR control across the metric fleet (Wang & Ramdas 2022): each
    // event_type's whole-period mSPRT mixture LR is an e-value; e-BH rejects the k̂
    // largest with e₍ₖ₎ ≥ m/(αk) — valid under arbitrary dependence (plain BH is
    // not), and entirely in log10 space with both inequality sides rounded to 6
    // before comparing (the ev_msprt exactness discipline). One hash aggregate to m
    // metric rows, then an m-row window (SampleOps.ebhFdr).
    "ev_fdr_ebh" -> ((s, dir) =>
      SampleOps.ebhFdr(t(s, dir, "events"), col("event_type"),
        pmod(col("user_id"), lit(2)), col("value"))),

    // INCREMENTAL e-BH: the per-(metric, arm) cent moments are associative sums, so
    // they live as maintained GroupingSetsMv state (two stores for Σc and Σc², the
    // ev_msprt_incremental trick with a string composite key metric#arm); three
    // versioned replay-safe event waves, then the m-row e-BH finisher at READ time —
    // row-identical to one-shot ev_fdr_ebh, pinned by the SAME oracle.
    "ev_fdr_ebh_incremental" -> ((s, dir) => {
      import graft.streaming.GroupingSetsMv
      val d = t(s, dir, "events").select(
        col("event_id"),
        concat(col("event_type"), lit("#"),
          pmod(col("user_id"), lit(2)).cast("string")).as("k"),
        lit("all").as("scope"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("c"))
        .withColumn("c2", (col("c").cast(DecimalType(19, 0)) * col("c")
          .cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
        .localCheckpoint(true)
      val st1 = java.nio.file.Files.createTempDirectory("graft-ebh1").toString
      val st2 = java.nio.file.Files.createTempDirectory("graft-ebh2").toString
      for (b <- 0 to 2) {
        val wave = d.filter(pmod(col("event_id"), lit(3)) === b)
        GroupingSetsMv.applyBatch(wave, b.toLong, st1, "k", "scope", "c")
        GroupingSetsMv.applyBatch(wave, b.toLong, st2, "k", "scope", "c2")
      }
      def cells(dir0: String) = GroupingSetsMv.current(s, dir0)
        .filter(col("gid") === 1).select(col("k").cast("string").as("k"),
          col("n"), col("s"))
      val moments = cells(st1).withColumnRenamed("s", "sc")
        .join(cells(st2).select(col("k"), col("s").as("sc2")), "k")
        .select(substring_index(col("k"), "#", 1).as("metric"),
          substring_index(col("k"), "#", -1).cast("int").as("__a"),
          col("n"), col("sc").cast("long").as("s1"),
          col("sc2").cast(DecimalType(38, 0)).as("s2"))
      val out = SampleOps.ebhFromMoments(moments).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st1))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st2))
      out
    }),

    // Split conformal prediction (Lei et al. 2018): per-type calibration-mean
    // predictor on the cents grid (BIGINT floor-division, engine-exact), conformal
    // radius = the ceil((n+1)(1−α))-th smallest calibration residual via the
    // distributed-histogram order statistic (grid-bounded cum window), empirical
    // coverage scored on the holdout — distribution-free interval + its audit
    "ev_conformal" -> ((s, dir) =>
      SampleOps.conformalSplit(t(s, dir, "events"),
        col("event_type"), col("value"), pmod(col("event_id"), lit(2)) === 0)),

    // Mondrian (group-conditional) conformal: the pooled radius only covers
    // MARGINALLY — per-type radii restore 1−α per group; per-group order statistic
    // on the group's own residual grid (the groupedExactPercentiles window shape)
    "ev_conformal_grouped" -> ((s, dir) =>
      SampleOps.conformalSplitGrouped(t(s, dir, "events"),
        col("event_type"), col("value"), pmod(col("event_id"), lit(2)) === 0)),

    // 5% two-sided exact trimmed means per type — the robust-location readout for
    // heavy-tailed spend; rank algebra on the cents-grid histogram, no row sort
    "ev_trimmed_mean" -> ((s, dir) =>
      SampleOps.trimmedMeans(t(s, dir, "events"), col("event_type"), col("value"))),

    // Delete-one-day block jackknife for the ratio metric revenue-per-view (a ratio
    // of sums has no per-row variance — the Tang et al. 2010 platform practice):
    // day-grid R_i from exact BIGINT sums, DECIMAL(18,12)-quantized folds so the
    // float aggregation replays bit-equal (SampleOps.ratioJackknife)
    "ev_ratio_jackknife" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        expr("unix_millis(ts) div 86400000").as("day"),
        when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0)).as("rev"),
        when(col("event_type") === "view", lit(1.0)).otherwise(lit(0.0)).as("vw"))
      SampleOps.ratioJackknife(e, col("day"), col("rev"), col("vw"))
    }),

    // Daily purchase-conversion rate with the Wilson 95% score interval — the
    // small-n-safe CI (a normal interval goes negative near 0) every conversion
    // dashboard should use; exact integer counts, one closed-form double per day
    "ev_conversion_wilson" -> ((s, dir) => {
      val z2 = 1.959964 * 1.959964
      val d = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"),
          col("user_id"), col("event_type"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("n_conv"))
      val n = col("n_users").cast(DoubleType)
      val p = col("n_conv").cast(DoubleType) / n
      val center = (p + lit(z2) / (lit(2.0) * n)) / (lit(1.0) + lit(z2) / n)
      val half = (lit(1.959964) * sqrt(p * (lit(1.0) - p) / n
        + lit(z2) / (lit(4.0) * n * n))) / (lit(1.0) + lit(z2) / n)
      d.select(col("day"), col("n_users"), col("n_conv"),
        round(p, 6).as("conv_rate"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
    }),

    // Sample-ratio-mismatch guardrail (the first check any A/B readout must pass):
    // chi-square of the deterministic user_id%2 arm split against 50/50 — an SRM
    // (chi2 over the 3.841 alpha=0.05 critical value) means the assignment is broken
    // and every downstream metric is invalid. Exact integer counts; one double chi2.
    // SampleOps.srmCheck (r11): same counts, but the α=0.05 verdict is now the pure
    // integer comparison (n_a−n_b)²·10⁸ > 384145882·(n_a+n_b) — a chi2 that lands
    // ON the 3.84 boundary can no longer flip across engines (the ksTest discipline)
    "ev_ab_srm" -> ((s, dir) =>
      SampleOps.srmCheck(t(s, dir, "events"), col("user_id"),
        pmod(col("user_id"), lit(2)))),

    // multi-touch attribution (first / last / linear) — conversions pair with their
    // 7-day lookback touches through the BUCKETED interval join (never an unbounded
    // per-user cartesian), then per-conversion windows rank first/last and the linear
    // credit quantizes to DECIMAL(18,8) before the per-channel sum
    "ev_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"), col("ms"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ms"))
      val pairs = graft.operators.IntervalJoin.intervalJoin(conv, touches,
        keys = Seq("user_id"), timeCol = "ms", lo = -604800000L, hi = -1L)
      val wC = Window.partitionBy(col("conv_id"))
      val scored = pairs
        .withColumn("rf", row_number().over(wC.orderBy(col("r_ms"), col("r_event_id"))))
        .withColumn("rl", row_number().over(wC.orderBy(col("r_ms").desc, col("r_event_id").desc)))
        .withColumn("n", count(lit(1)).over(wC))
      scored.groupBy(col("r_event_type").as("channel"))
        .agg(
          sum(when(col("rf") === 1, 1L).otherwise(0L)).as("first_touch"),
          sum(when(col("rl") === 1, 1L).otherwise(0L)).as("last_touch"),
          round(sum((lit(1.0) / col("n")).cast(DecimalType(18, 8))).cast(DoubleType), 6)
            .as("linear_credit"),
          count(lit(1)).as("n_touches"))
    }),

    // Exact Shapley-value attribution (Shapley 1953; the marketing formulation of
    // Zhao et al. 2018, "Shapley Value Methods for Attribution Modeling"): the
    // coalition worth v(T) = conversion rate of users whose touched-channel set is
    // exactly T, and channel i earns φᵢ = Σ_{T∌i} |T|!(n−1−|T|)!/n!·(v(T∪i)−v(T)) —
    // the credit split first/last/linear (ev_attribution) can't justify axiomatically.
    // EVERYTHING is grid-bounded after one user collapse: v lives on the 2ⁿ
    // channel-subset grid (n = distinct channels, asserted ≤ 10), v quantizes to
    // exact e9 BIGINTs, the |T|!(n−1−|T|)! weights come from a factorial lookup, so
    // every Shapley numerator is an ORDER-FREE exact integer sum — one double
    // division at the end. Corpus cost: one (user, channel) distinct + one user
    // aggregate; the subset lattice join is ≤ 2¹⁰ rows.
    "ev_shapley_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val chBit = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_type").as("channel")).distinct()
        .orderBy(col("channel")).collect().map(_.getString(0)).zipWithIndex
      val n = chBit.length
      require(n >= 1 && n <= 10, s"subset-exact Shapley needs 1..10 channels, got $n")
      val fact = Array(1L, 1L, 2L, 6L, 24L, 120L, 720L, 5040L, 40320L, 362880L, 3628800L)
      val bitOf = typedlit(chBit.map { case (c, b) => c -> b.toLong }.toMap)
      val touched = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), bitOf(col("event_type")).as("bit")).distinct()
        .groupBy(col("user_id"))
        .agg(sum(expr("shiftleft(1L, CAST(bit AS INT))")).as("mask"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct().withColumn("cv", lit(1L))
      val vT = ev.select(col("user_id")).distinct()
        .join(touched, Seq("user_id"), "left").na.fill(0L, Seq("mask"))
        .join(conv, Seq("user_id"), "left").na.fill(0L, Seq("cv"))
        .groupBy(col("mask"))
        .agg(expr("sum(cv) * 1000000000 div count(1)").as("v_e9"))
      val dense = s.range(0, 1L << n).select(col("id").as("mask"))
        .join(vT, Seq("mask"), "left").na.fill(0L, Seq("v_e9"))
      val factLit = typedlit(fact.toSeq)
      val terms = chBit.map { case (ch, bit) =>
        dense.as("a")
          .join(dense.as("b"), col("b.mask") === col("a.mask") + (1L << bit))
          .filter(col("a.mask").bitwiseAND(lit(1L << bit)) === 0)
          .select(lit(ch).as("channel"),
            ((col("b.v_e9") - col("a.v_e9")) *
              element_at(factLit, expr("CAST(bit_count(a.mask) AS INT) + 1")) *
              element_at(factLit, lit(n) - expr("CAST(bit_count(a.mask) AS INT)")))
              .as("term"))
      }.reduce(_ unionByName _)
      terms.groupBy(col("channel"))
        .agg(sum(col("term")).as("__num"))
        .select(col("channel"),
          round(col("__num").cast(DoubleType) / lit(fact(n) * 1e9), 6).as("shapley"))
    }),

    "ev_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ms"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ms"))
      graft.operators.IntervalJoin.intervalJoin(clicks, errors,
          keys = Seq("user_id"), timeCol = "ms", lo = 1L, hi = 86400000L)
        .select(col("event_id").as("click_id"), col("r_event_id").as("error_id"),
          (col("r_ms") - col("ms")).as("dt_ms"))
    }),

    // vocabulary: corpus-wide token frequencies, top 50
    "doc_top_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextOps.tokensCol(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(50)
    }),

    // ---- training-data ops: dedup family ------------------------------------------------------

    "doc_dedup_exact" -> ((s, dir) => DedupOps.exactDupes(t(s, dir, "documents"))),

    // capstone composition: the cleaned training corpus — exact-dup removal (canonical
    // survivor) + quality gate, in one declarative plan Catalyst optimizes end-to-end
    "doc_corpus_clean" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val keep = DedupOps.exactDupes(d).select(col("keep_id").as("doc_id"))
      val quality = TextOps.qualityScore(d).filter(col("quality_score") >= 0.55)
        .select(col("doc_id"), col("quality_score"))
      d.join(keep, "doc_id").join(quality, "doc_id")
        .select(col("doc_id"), col("lang"), col("quality_score"))
    }),

    // LSH-banded candidates, EXACT Jaccard verify — the verifiable production shape: the
    // oracle recomputes the full exact pair list, so a silent banding bug fails the gate
    // as missing rows (sketch-estimate variant stays available as minhashLshPairs)
    // capstone v2: the full training-corpus cleaning pipeline in ONE declarative plan —
    // near-dup removal (LSH-blocked verified pairs → connected components → canonical
    // survivor; exact dups are jaccard-1.0 pairs so they fall out too), quality gate,
    // repetition gate. Catalyst optimizes the whole composition end-to-end.
    "doc_corpus_clean_v2" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val clusters = DedupOps.duplicateClusters(
        DedupOps.minhashLshVerifiedPairs(d, threshold = 0.2))
      val dropIds = clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      // quality + repetition from ONE TextSignals scan (same oracle-pinned arithmetic)
      TextOps.docSignals(d, keep = Seq("lang"))
        .join(dropIds, Seq("doc_id"), "left_anti")
        .filter(col("quality_score") >= 0.55 && col("top_bigram_frac") <= 0.08)
        .select(col("doc_id"), col("lang"), col("quality_score"), col("top_bigram_frac"))
    }),

    // capstone v3 — the WHOLE corpus-preparation recipe as one declarative plan:
    // canonicalize → exact-dedup on canonical text → near-dup canonical survivors →
    // quality + repetition + unigram-log-prob gates → deterministic stratified sample →
    // token-budget packing. Every stage is an oracle-proven operator; Catalyst plans the
    // composition end to end (shared scans, broadcasts, single window per stage).
    "doc_corpus_prepare_v3" -> ((s, dir) => {
      val d0 = t(s, dir, "documents")
      val keep = d0.groupBy(md5(TextOps.normalizeTextCol(col("text"))).as("m"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val clusters = DedupOps.duplicateClusters(
        DedupOps.minhashLshVerifiedPairs(d0, threshold = 0.2))
      val dropNear = clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      // quality + repetition + token count + sampling bucket: ONE TextSignals scan
      // (was three branches, each re-tokenizing, plus repetition's two exchanges)
      val sig = TextOps.docSignals(d0, keep = Seq("lang"))
      val toksE = d0.select(col("doc_id"), explode(TextOps.tokensCol(col("text"))).as("token"))
      val freq = toksE.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = freq.agg(sum(col("cnt")).as("total"))
      val lp = toksE.join(broadcast(freq), "token").crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(round((sum(log(10.0, col("cnt").cast(DoubleType) / col("total"))
          .cast(DecimalType(18, 8))).cast(DoubleType) / count(lit(1))), 4).as("avg_logprob"))
      val samplePct = when(col("lang") === "en", 50)
        .when(col("lang") === "zh", 100).otherwise(20)
      val survivors = sig
        .join(keep, "doc_id")
        .join(dropNear, Seq("doc_id"), "left_anti")
        .join(lp, "doc_id")
        .filter(col("quality_score") >= 0.55 && col("top_bigram_frac") <= 0.08 &&
          col("avg_logprob") >= -1.5 && col("bucket") < samplePct)
      SampleOps.packGreedy(
        survivors.select(col("doc_id"), col("lang"), col("quality_score"),
          col("avg_logprob"), col("n_tokens")),
        tokenCol = "n_tokens", budget = 2048L)
    }),

    "doc_minhash_lsh" -> ((s, dir) =>
      DedupOps.minhashLshVerifiedPairs(t(s, dir, "documents"), threshold = 0.2)),

    // near-dup DECONTAMINATION: train split screened against the held-out split (the
    // hashSplit 90/10 buckets), best-matching eval doc returned as evidence
    "doc_cross_neardup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 100
      DedupOps.crossNearDup(d.filter(bucket < 90), d.filter(bucket >= 90), threshold = 0.2)
    }),

    // 60-bit md5-based SimHash, oracle-reproducible bit-for-bit; the one-pass xxh64
    // SimHash64 used by simhashPairs at scale is property-pinned in FunctionsSpec
    "doc_simhash" -> ((s, dir) => TextOps.simhash60(t(s, dir, "documents"))),

    // blocking-balance audit over the simhash pigeonhole chunks: per 15-bit chunk, the
    // bucket-size profile (distinct buckets, max occupancy, singletons) — the skew
    // check that predicts candidate-join cost BEFORE running the pair stage; at 100 TB
    // this is the observability view a blocking strategy ships with
    "doc_block_audit" -> ((s, dir) => {
      val sh = TextOps.simhash60(t(s, dir, "documents"))
      val ch = sh.select(col("doc_id"), explode(array((0 until 4).map(c =>
          struct(lit(c).as("chunk_idx"),
            shiftright(col("simhash"), c * 15).bitwiseAND(lit(0x7FFFL)).as("v"))): _*)).as("k"))
        .select(col("k.chunk_idx").as("chunk_idx"), col("k.v").as("v"))
      ch.groupBy(col("chunk_idx"), col("v")).agg(count(lit(1)).as("sz"))
        .groupBy(col("chunk_idx"))
        .agg(count(lit(1)).as("n_buckets"),
          max(col("sz")).as("max_bucket"),
          sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"),
          sum(col("sz") * col("sz")).as("pair_cost"))
    }),

    "doc_ngram_jaccard" -> ((s, dir) =>
      DedupOps.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.2)),

    // the SAME exact pairs via PPJoin prefix filtering (Xiao et al. 2008): sorted-set
    // prefixes bound candidacy BEFORE the inverted-index join instead of df-capping hot
    // shingles after — exact at any threshold, candidate space shrinking as t grows;
    // gated by the identical naive-SQL oracle as doc_ngram_jaccard
    "doc_ngram_jaccard_prefix" -> ((s, dir) =>
      DedupOps.ngramJaccardPrefix(t(s, dir, "documents"), threshold = 0.2)),

    // edit-distance verification of the Jaccard candidates: normalized Levenshtein
    // certifies textual closeness where set-similarity is order-blind; O(len²) DP and
    // the payload join both paid per CANDIDATE pair only
    "doc_edit_verify" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.editVerifiedPairs(d,
        DedupOps.ngramJaccardPairs(d, threshold = 0.2))
    }),

    // asymmetric near-dup: containment |A∩B|/|A| flags doc-in-doc (quotes/subsets) that
    // symmetric Jaccard misses when |B| >> |A|; either direction >= 0.5 surfaces the pair
    "doc_containment" -> ((s, dir) =>
      DedupOps.ngramContainmentPairs(t(s, dir, "documents"))),

    // dedup-threshold sensitivity curve: pair counts per 0.1 jaccard band (from a low
    // 0.05 floor) — the tuning artifact that says what a threshold move costs BEFORE
    // re-running the dedup; same inverted-index pass, one extra bucket rollup
    "doc_jaccard_histogram" -> ((s, dir) =>
      DedupOps.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.05)
        .select(floor(col("jaccard") * 10).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))),

    "doc_fingerprint" -> ((s, dir) => TextOps.fingerprint(t(s, dir, "documents"))),

    // near-dup clustering: connected components over the exact-verified pair graph; the
    // canonical-survivor map a pipeline joins against to drop duplicate cluster members.
    // Oracle = DuckDB recursive-CTE transitive closure over the same pair list.
    "doc_dup_clusters" -> ((s, dir) =>
      DedupOps.duplicateClusters(
        DedupOps.minhashLshVerifiedPairs(t(s, dir, "documents"), threshold = 0.2))),

    // greedy k-center coreset: 8 diverse representatives by farthest-point traversal
    "emb_kcenter" -> ((s, dir) =>
      VectorOps.kcenterSelect(t(s, dir, "embeddings"), k = 8)),

    // quality-aware canonical selection: each dup cluster keeps its longest member
    "doc_dup_keep_best" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.keepBest(
        DedupOps.duplicateClusters(
          DedupOps.minhashLshVerifiedPairs(d, threshold = 0.2)),
        d, scoreCol = "n_chars")
    }),

    // ---- training-data ops: text analysis -----------------------------------------------------

    // reproducible content-hash train/test split (membership invariant under re-runs)
    "doc_hash_split" -> ((s, dir) => TextOps.hashSplit(t(s, dir, "documents"))),

    // PII scrubbing (4 typed classes): the synthetic contact line makes every
    // redaction class observable on the testdata corpus — same SQL-expressible
    // suffix in both engines, so all four counters are provably non-vacuous and
    // the scrubbed-text hash pins pattern semantics AND replacement order
    "doc_pii_scrub" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("text",
        concat(col("text"), lit(" contact: user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 call 555-867-5309 ssn 123-45-6789")))
      TextOps.piiScrub(d)
    }),

    "doc_repetition" -> ((s, dir) => TextOps.repetitionScore(t(s, dir, "documents"))),

    // canonicalization: NFC + control strip + whitespace collapse; the appended decomposed
    // e+COMBINING ACUTE, tab and double space make every normalization step observable in
    // the digest (the corpus itself is clean ASCII)
    "doc_normalize" -> ((s, dir) => {
      val noisy = t(s, dir, "documents").withColumn("text",
        concat(col("text"), lit("  cafe\u0301\t(x) ")))
      TextOps.normalizeText(noisy)
    }),

    // token-window chunking (doc -> embedding units): narrow map + explode, zero shuffle;
    // small window/stride so the ragged-tail and overlap arithmetic is observable at sf0.01
    "doc_chunk" -> ((s, dir) =>
      TextOps.chunkTokens(t(s, dir, "documents"), window = 12, stride = 8)),

    // top-5 TF-IDF terms per doc: map-side-combined (doc,token) tf, vocabulary-sized df
    // broadcast back, one ranking window; decimal-quantized scores, token tie-break
    "doc_tfidf" -> ((s, dir) => TextOps.tfidfTopK(t(s, dir, "documents"), k = 5)),

    "doc_langid" -> ((s, dir) => TextOps.langId(t(s, dir, "documents"))),
    "doc_quality" -> ((s, dir) => TextOps.qualityScore(t(s, dir, "documents"))),

    // Exact ROC-AUC of the rule-based quality score against the planted n_chars>300
    // label — the threshold-free eval every trained quality filter ships with. Grouped
    // Mann-Whitney rank-sum with half-credit ties: state is bounded by the score's 4dp
    // grid, not the corpus (see MlOps.groupedAuc); numer2/n_pos/n_neg exact LONGs.
    "doc_quality_auc" -> ((s, dir) => {
      val scored = TextOps.qualityScore(t(s, dir, "documents"), keep = Seq("n_chars"))
        .withColumn("label", (col("n_chars") > 300).cast("int"))
      MlOps.groupedAuc(scored, "quality_score", "label")
    }),

    // Flesch reading-ease / Flesch-Kincaid grade with the vowel-run syllable heuristic —
    // narrow per-row map, zero shuffle
    "doc_readability" -> ((s, dir) => TextOps.readability(t(s, dir, "documents"))),

    // the Gopher rule TABLE (per-rule flags + conjunction verdict) at the published
    // thresholds; zero shuffle, one tokenize pass behind the Generate barrier
    "doc_gopher_quality" -> ((s, dir) => TextOps.gopherRules(t(s, dir, "documents"))),

    // corpus-health diagnostic: Zipf slope/intercept/R^2 over the top-1000 rank-
    // frequency head (one corpus exchange, bounded-heap top-k, k-row regression)
    "doc_zipf" -> ((s, dir) => TextOps.zipfFit(t(s, dir, "documents"))),

    "doc_burstiness" -> ((s, dir) => TextOps.burstiness(t(s, dir, "documents"))),

    "doc_distinct_ngrams" -> ((s, dir) => TextOps.distinctNgrams(t(s, dir, "documents"))),

    // exact trigram decontamination screen vs the src0 reference slice (the data-card
    // "13-gram overlap" test, n sized to this corpus); src0's own row pins novelty 0
    "doc_ngram_novelty" -> ((s, dir) =>
      TextOps.ngramNovelty(t(s, dir, "documents"), refSource = "src0", n = 3)),

    "doc_fightin_words" -> ((s, dir) =>
      TextOps.fightinWords(t(s, dir, "documents"), targetSource = "src0")),

    // Heaps'-law vocabulary growth V(n) = K·n^beta over 10 doc-id-ordered checkpoints —
    // the corpus-level dedup-health twin of doc_zipf (duplication flattens beta)
    "doc_heaps_fit" -> ((s, dir) => TextOps.heapsFit(t(s, dir, "documents"))),

    // Jensen-Shannon divergence between per-source unigram distributions — the
    // distribution-shift check before mixture re-weighting; one corpus exchange,
    // vocab-sized pair joins, per-term DECIMAL(18,12) quantization
    "doc_js_divergence" -> ((s, dir) =>
      TextOps.jsDivergence(t(s, dir, "documents"), JsdPairs)),

    // MOSS winnowing fingerprints (Schleimer et al. 2003): per window of 4 consecutive
    // shingle hashes keep the minimum — positionally-robust selection with the
    // guarantee that any shared run of >= w+n-1 tokens yields a shared fingerprint
    // (bottom-k `doc_fingerprint` has no such locality guarantee). Zero shuffle: the
    // positional hash array materializes once behind the Generate barrier, windows are
    // a transform+slice chain, output explodes the distinct selections
    // (md5-60 positional hashes here for the oracle, per the repo convention; the
    // one-pass xxh64 `shingleHashes` kernel is the drop-in at 100 TB)
    "doc_winnowing" -> ((s, dir) => winnowingMd5Fps(s, dir)),

    // winnowing-pairs near-dup detection — the MOSS use-case the fingerprints exist for:
    // pairs ranked by shared selected fingerprints, with the locality guarantee that any
    // shared token run of >= w+n-1 tokens contributes at least one shared fingerprint.
    // df-capped fingerprint blocking -> equi-join candidates -> shared-count verify
    // (the minhashLshVerifiedPairs shape over winnowing's selection); md5-60 gated form
    // here so DuckDB replays it exactly — the bench runs the xxh64 kernel twin
    "doc_winnowing_pairs" -> ((s, dir) =>
      DedupOps.fingerprintPairs(winnowingMd5Fps(s, dir), minShared = 2, dfCap = 20)),

    // per-source corpus datasheet (the "data card" table every corpus release ships):
    // doc/lang counts, volume, exact-dup rate (distinct md5 over n), mean quality —
    // one scan + one grouped aggregation; the two exact countDistincts expand the
    // aggregate input 3x (inherent to exact dup/lang counting), digests not texts shuffle
    "doc_source_report" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("text_md5", md5(col("text")))
      TextOps.qualityScore(d, keep = Seq("source", "lang", "n_chars", "text_md5"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          round((count(lit(1)) - countDistinct(col("text_md5"))).cast("double") /
            count(lit(1)), 4).as("dup_rate"),
          round(sum(col("quality_score").cast(DecimalType(18, 4))).cast("double") /
            count(lit(1)), 4).as("mean_quality"))
    }),
    "doc_tokens" -> ((s, dir) => TextOps.tokenStats(t(s, dir, "documents"))),

    // unigram log-probability score (the CCNet-style LM-free perplexity proxy): corpus
    // token frequencies broadcast back onto the token stream — no shuffle for the probe,
    // one groupBy(doc) exchange. Per-token log10 goes through DECIMAL(18,8) before the
    // sum so both engines add EXACTLY (fp sum order differs; ulp-level log10 differences
    // are absorbed by the 1e-8 quantization).
    "doc_unigram_logprob" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokensCol(col("text"))).as("token"))
      val freq = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      // total token count folds off the tiny frequency table — NOT a third
      // tokenize-and-explode pass over the corpus
      val total = freq.agg(sum(col("cnt")).as("total"))
      toks.join(broadcast(freq), "token").crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          round((sum(log(10.0, col("cnt").cast(DoubleType) / col("total"))
            .cast(DecimalType(18, 8))).cast(DoubleType) / count(lit(1))), 4).as("avg_logprob"))
    }),

    // longest repeated token n-gram per doc (intra-doc memorization/looping signal):
    // one native-expression call per document, zero shuffle; representative pinned to
    // the lexicographically smallest maximal repeat so both engines agree
    "doc_longest_repeat" -> ((s, dir) =>
      TextOps.longestRepeatedSpan(t(s, dir, "documents"))),

    "doc_bigram_logprob" -> ((s, dir) =>
      TextOps.bigramLogprob(t(s, dir, "documents"))),

    "doc_kn_logprob" -> ((s, dir) =>
      TextOps.knLogprob(t(s, dir, "documents"))),

    "doc_ccnet_buckets" -> ((s, dir) =>
      TextOps.ccnetBuckets(t(s, dir, "documents"))),

    // trained-classifier labeling pass: multinomial NB fit on the hashSplit train
    // bucket predicts lang for the held-out bucket (the fastText-filter shape; exact
    // decimal scores, full vocab-x-label Laplace grid)
    "doc_nb_langid" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 100
      TextOps.naiveBayesClassify(d.filter(bucket < 90), d.filter(bucket >= 90))
    }),

    // NB confusion matrix — the per-class error breakdown behind the accuracy number
    // (which wrong language absorbs the misclassifications); same train/score replay,
    // |langs|² rollup
    "doc_nb_confusion" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 100
      TextOps.naiveBayesClassify(d.filter(bucket < 90), d.filter(bucket >= 90))
        .groupBy(col("lang"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
    }),

    // per-class precision/recall/F1 from the SAME confusion counts (the metric table a
    // model card ships): all three are single fixed-order divisions of exact integers —
    // F1 in its division-free-denominator form 2·tp/(n_pred + n_act), so no chained
    // rounding of precision/recall feeds it. |classes|-bounded state.
    "doc_nb_prf" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 100
      val cm = TextOps.naiveBayesClassify(d.filter(bucket < 90), d.filter(bucket >= 90))
        .groupBy(col("lang"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
      val act = cm.groupBy(col("lang"))
        .agg(sum(col("n")).cast("long").as("n_act"),
          sum(when(col("lang") === col("pred_label"), col("n")).otherwise(0L))
            .cast("long").as("tp"))
      val pred = cm.groupBy(col("pred_label").as("__cls"))
        .agg(sum(col("n")).cast("long").as("n_pred"))
      act.join(pred, col("lang") === col("__cls"), "left")
        .select(col("lang"), col("tp"), col("n_act"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          when(coalesce(col("n_pred"), lit(0L)) > 0,
            round(col("tp").cast(DoubleType) / col("n_pred"), 6)).as("prec"),
          round(col("tp").cast(DoubleType) / col("n_act"), 6).as("recall"),
          round(lit(2.0) * col("tp") / (coalesce(col("n_pred"), lit(0L)) + col("n_act")), 6)
            .as("f1"))
    }),

    // Population Stability Index (the model-monitoring drift metric next to the
    // information-theoretic ev_load_shift JSD): value distribution binned on the SHARED
    // integer cents grid (10 equal-width bins from the global min/max), first half-month
    // vs second compared by Σ (p−q)·ln(p/q). Per-bin terms DECIMAL(18,12)-quantized
    // before the sum (the JSD discipline — libm 1-ulp differences can't flip the
    // rounded artifact); bins empty on either side are excluded and counted.
    "ev_psi" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("value").isNotNull)
        .select((dec(col("value"), 18, 4) * 10000).cast("long").as("c"),
          (dayofmonth(col("ts")) <= 15).as("__h1"))
      val st = e.agg(min(col("c")).as("__mn"), max(col("c")).as("__mx"))
      val binned = e.crossJoin(st)
        .select(expr("((c - __mn) * 10) div (__mx - __mn + 1)").as("bin"), col("__h1"))
        .groupBy(col("bin"))
        .agg(sum(when(col("__h1"), 1L).otherwise(0L)).cast("long").as("n1"),
          sum(when(!col("__h1"), 1L).otherwise(0L)).cast("long").as("n2"))
      val tot = binned.agg(sum(col("n1")).cast("long").as("__t1"),
        sum(col("n2")).cast("long").as("__t2"), count(lit(1)).as("__nb"))
      binned.crossJoin(tot)
        .select(col("n1"), col("n2"), col("__t1"), col("__t2"), col("__nb"),
          when(col("n1") > 0 && col("n2") > 0,
            ((col("n1").cast(DoubleType) / col("__t1") - col("n2").cast(DoubleType) / col("__t2"))
              * log(col("n1").cast(DoubleType) / col("__t1")
                / (col("n2").cast(DoubleType) / col("__t2"))))
              .cast(DecimalType(18, 12))).as("__term"))
        .agg(first(col("__t1")).as("n_first_half"), first(col("__t2")).as("n_second_half"),
          first(col("__nb")).as("n_bins"),
          count(col("__term")).as("n_bins_used"),
          round(sum(col("__term")).cast(DoubleType), 6).as("psi"))
    }),

    // per-doc Shannon entropy of the token distribution (degenerate/looped text filter):
    // H = log10(n) - (sum c*log10(c))/n over per-doc counts — (doc_id, token) count rows
    // shuffle, texts never do; terms decimal-quantized per the cross-engine discipline
    "doc_entropy" -> ((s, dir) => TextOps.tokenEntropy(t(s, dir, "documents"))),

    // ---- training-data ops: corpus shaping (sampling / packing / contamination) ---------------

    // deterministic stratified downsampling: content-hash buckets, per-language rates —
    // membership is a pure function of text, stable across re-runs and re-partitioning
    "doc_stratified_sample" -> ((s, dir) =>
      SampleOps.stratifiedSample(t(s, dir, "documents"),
        rates = Map("en" -> 50, "zh" -> 100), defaultPct = 20)),

    // exactly-k uniform carve-out (eval-set sized, same members every re-run): k smallest
    // content hashes via TakeOrderedAndProject — per-task k-row heaps, no global sort
    "doc_uniform_take" -> ((s, dir) =>
      SampleOps.uniformTakeK(t(s, dir, "documents"), k = 100)),

    // Efraimidis–Spirakis exact-k weighted sample: inclusion odds proportional to length
    "doc_weighted_sample" -> ((s, dir) =>
      SampleOps.weightedTakeK(t(s, dir, "documents"), k = 100)),

    // DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram features,
    // target-vs-raw Laplace LM importance weights, deterministic Gumbel-top-k — the
    // "make the sample look like the target domain" corpus draw
    "doc_dsir_sample" -> ((s, dir) =>
      SampleOps.dsirSample(t(s, dir, "documents"), k = 100)),

    // per-domain quota: keep the top-N docs of each source by quality (the web-corpus
    // domain cap); deterministic tie-break by doc_id
    "doc_quota_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // quality computed in the scan projection (keep=source), so the whole plan is ONE
      // exchange on the group key + the quota window — no self-join on doc_id
      val q = TextOps.qualityScore(d, keep = Seq("source"))
        .select(col("doc_id"), col("source"), col("quality_score"))
      SampleOps.quotaSample(q, groupCol = "source", orderCol = "quality_score", quota = 5)
    }),

    // greedy token-budget sequence packing: running-sum window per language, bin id by
    // exact integral division — the doc→training-sequence batcher
    "doc_pack_greedy" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val stats = TextOps.tokenStats(d, keep = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      SampleOps.packGreedy(stats, tokenCol = "n_tokens", budget = 2048L)
    }),

    // packing-efficiency audit: per-(stratum) fill/waste profile of the greedy packer —
    // the batch-efficiency number a training job reports (pad tokens = wasted FLOPs).
    // Rolls the per-doc pack assignment up to bins, then to one row per stratum:
    // full bins (every bin but the open tail can exceed budget only by its last doc's
    // spill, so fill is capped at budget for the waste calc), exact integer token sums.
    "doc_pack_efficiency" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val stats = TextOps.tokenStats(d, keep = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      val budget = 2048L
      val bins = SampleOps.packGreedy(stats, tokenCol = "n_tokens", budget = budget)
        .groupBy(col("lang"), col("bin_id"))
        .agg(sum(col("n_tokens")).cast("long").as("fill"), count(lit(1)).as("n_docs"))
      bins.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
          sum(col("fill")).as("tokens"),
          sum(least(col("fill"), lit(budget))).as("capped_fill"),
          max(col("fill")).as("max_fill"))
        .select(col("lang"), col("n_bins"), col("n_docs"), col("tokens"), col("max_fill"),
          round(col("capped_fill").cast(DoubleType) / (col("n_bins") * budget), 6)
            .as("fill_ratio"))
    }),

    // incremental NEAR-dup admission, self-verifying verdict gate (like the ANN gates):
    // src0 docs play the ingested corpus (present only as minhash sigs); the batch is the
    // other sources plus PLANTED near-copies of indexed docs (one appended token,
    // jaccard >> threshold). The verdict asserts (a) every planted copy was rejected,
    // (b) no admitted doc is an exact-shingle near-dup of the index at threshold+margin
    // (margin 0.6 where banding detection is ~1-6e-7, so recall noise can't flip the row)
    "doc_incremental_neardup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("source") === "src0")
      val indexSigs = DedupOps.minhashSigs(corpus)
      val planted = corpus.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text"))
      val batch = d.filter(col("source") =!= "src0").select(col("doc_id"), col("text"))
        .union(planted)
      val admitted = DedupOps.nearDupAdmission(batch, indexSigs, threshold = 0.4)
      // exact-Jaccard audit of the admitted set vs the index (shared-shingle counting,
      // candidate-bounded like ngramJaccardPairs — never |admitted| x |index|)
      def shingleSets(df: DataFrame) = df.select(col("doc_id").as("id"), array_distinct(
        TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3)).as("sh"))
      val aSh = shingleSets(batch.join(admitted.select(col("id").as("doc_id")), "doc_id"))
      val iSh = shingleSets(corpus)
      val inter = aSh.select(col("id"), size(col("sh")).as("n_a"), explode(col("sh")).as("h"))
        .join(iSh.select(col("id").as("ing_id"), size(col("sh")).as("n_i"), explode(col("sh")).as("h")), "h")
        .groupBy("id", "ing_id", "n_a", "n_i").agg(count(lit(1)).as("inter"))
      val dirty = inter.filter(
        col("inter").cast("double") / (col("n_a") + col("n_i") - col("inter")) >= 0.6)
      // verdict computed IN-PLAN (like q_approx_sketch): one lazy single-row plan, no
      // eager driver actions at query-construction time
      admitted.agg(count(lit(1)).as("n_admitted"),
          coalesce(sum(when(col("id") >= 5000000L, 1L).otherwise(0L)), lit(0L))
            .as("n_planted_admitted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
        .crossJoin(dirty.agg(count(lit(1)).as("n_dirty")))
        .select(
          col("n_planted"),
          (col("n_planted_admitted") === 0).as("planted_rejected_ok"),
          (col("n_dirty") === 0).as("admitted_clean_ok"),
          (col("n_admitted") > 0).as("some_admitted_ok"))
    }),

    // dataset-release diff: the 'after' snapshot drops id%7 docs, edits id%5 texts and
    // adds id-shifted copies of id%11 — every change class observable; digests-only join
    "doc_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val after = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .union(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      DedupOps.snapshotDiff(d, after)
    }),

    // corpus-percentile length buckets (curriculum mixing) — broadcast thresholds, map
    // assignment; NOT a global NTILE sort
    "doc_length_buckets" -> ((s, dir) =>
      SampleOps.percentileBuckets(t(s, dir, "documents"), valueCol = "n_chars")),

    // incremental-ingestion dedup: docs with id%3==0 play the already-ingested corpus
    // (present only as their digest index); the batch re-offers every doc plus an
    // id-shifted copy (batch-internal dupes). Admitted = novel digests, min-id survivor
    "doc_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val index = d.filter(col("doc_id") % 3 === 0).select(md5(col("text")).as("content_md5"))
      val batch = d.select(col("doc_id"), col("text"))
        .union(d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      DedupOps.incrementalDedup(batch, index)
    }),

    // C4-style line-level boilerplate removal: the corpus is single-line, so compose
    // observable multi-line docs — two boilerplate footers shared by every doc (frequency
    // > maxDocs, removed) plus a per-doc ref line (unique, kept); originals are kept or
    // dropped purely by their cross-document frequency, identically in both engines
    "doc_line_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("text",
        concat_ws("\n", col("text"),
          lit("Subscribe to our newsletter!"),
          lit("(c) 2026 Example Corp"),
          concat(lit("ref#"), col("doc_id"))))
      DedupOps.lineDedup(d)
    }),

    // per-SOURCE boilerplate strip (C4 rule at source granularity): a line is chrome iff
    // it repeats across >2 docs of the SAME source — planted source-templated footers are
    // removed, the per-doc ref line survives; cross-source sharing alone doesn't strip
    "doc_boilerplate" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("text",
        concat_ws("\n", col("text"),
          concat(lit("From "), col("source"), lit(" newsroom")),
          lit("All rights reserved."),
          concat(lit("ref#"), col("doc_id"))))
      DedupOps.boilerplateStrip(d)
    }),

    // exact duplicated-span detection (Lee et al. 2022 ExactSubstr semantics at fixed
    // window k): runs of consecutive duplicated 12-token windows = shared substrings
    "doc_span_dedup" -> ((s, dir) =>
      DedupOps.spanDedupStats(t(s, dir, "documents"), k = 12)),

    // span REMOVAL at the paper's 50-token grain (the doc_span_dedup big sibling):
    // keeper election per duplicated window + per-doc merged removal intervals —
    // suffix-free (digest aggregation + gaps-and-islands, no suffix array). Overlaps
    // are PLANTED deterministically (docs with doc_id % 101 == 0 get a doubled-text
    // twin at doc_id + 10,000,000), so cross-doc AND within-doc duplicated 50-token
    // spans exist at every sf; both engines build the identical planted corpus.
    // kernel = false is this gate's md5-60 choice (library default: xxh64 chain).
    "doc_span_dedup50" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = base.filter(pmod(col("doc_id"), lit(101)) === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat_ws(" ", col("text"), col("text")).as("text"))
      DedupOps.spanRemoveStats(base.unionByName(planted), k = 50, kernel = false)
    }),

    // incremental span-dedup admission: batch docs screened against the persisted
    // window-hash index of the ingested corpus (src0), O(batch) semi-join probe
    "doc_incremental_spandedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val index = DedupOps.windowHashes(d.filter(col("source") === "src0"), k = 12)
      DedupOps.spanAdmission(d.filter(col("source") =!= "src0"), index,
        k = 12, maxSharedFrac = 0.5)
    }),

    // exact heavy hitters (tokens above 0.5% of all occurrences) via the two-phase
    // local-candidates-then-exact-recount scheme — the tail never shuffles
    "doc_heavy_hitters" -> ((s, dir) =>
      TextOps.heavyHitters(t(s, dir, "documents"), invPhi = 200)),

    // DSIR importance weights (hashed-unigram likelihood ratio vs the lang='en' target
    // slice) — the data-SELECTION stage next to the dedup/quality gates
    "doc_dsir_weights" -> ((s, dir) =>
      SampleOps.dsirWeights(t(s, dir, "documents"), isTarget = col("lang") === "en")),

    // CMS heavy-hitter profile: the approximate path for unbounded vocabularies, audited
    // in-gate against the exact two-phase heavy hitters (never-underestimate + eps*N bound)
    "doc_cms_heavy" -> ((s, dir) =>
      TextOps.cmsHeavyVerdict(t(s, dir, "documents"), invPhi = 200)),

    // PMI collocation mining: adjacent-pair pointwise mutual information at min-count 5
    "doc_pmi_pairs" -> ((s, dir) =>
      TextOps.pmiPairs(t(s, dir, "documents"), minCount = 5)),

    // Dunning G² collocations (Dunning 1993) — PMI's sparse-robust sibling: the
    // full 2×2 bigram contingency table instead of the rare-pair-exploding ratio;
    // 9 x·log10(x) terms in one fixed operand order, margins from the bigram
    // table itself (TextOps.llrPairs)
    "doc_llr_pairs" -> ((s, dir) =>
      TextOps.llrPairs(t(s, dir, "documents"), minCount = 5)),

    // Benchmark decontamination (GPT-3 appendix-C rule, kept by Dolma/RefinedWeb):
    // flag training docs sharing any 13-gram with the held-out eval slice
    // (doc_id % 97 == 0 — ~1%, the benchmark-sized side, broadcast). kernel = false
    // is THIS gate's explicit choice: md5-60 digests make the overlap
    // DuckDB-replayable; the library DEFAULT is the slice-hash xxh64 kernel
    // (the 100 TB form, what the bench times).
    "doc_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.decontaminate(
        d.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(97)) === 0), n = 13, kernel = false)
    }),

    // INCREMENTAL decontamination (streaming/IncrementalDecontaminate): the eval
    // digest store is maintained as state (two eval waves, novel digests only),
    // then the corpus streams in three deterministic waves — each wave tokenizes
    // only ITSELF and probes the store. A doc's flag row is a pure function of
    // (doc text, eval digest set), so the unioned per-batch rows are row-identical
    // to one-shot doc_decontaminate — the SAME oracle pins it. kernel = false is
    // this gate's explicit md5-60 choice (library default stays the slice kernel).
    "doc_decontaminate_incremental" -> ((s, dir) => {
      import graft.streaming.IncrementalDecontaminate
      val d = t(s, dir, "documents").localCheckpoint(true)
      val evalSet = d.filter(pmod(col("doc_id"), lit(97)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      val root = java.nio.file.Files.createTempDirectory("graft-idec").toString
      for (b <- 0 to 1)
        IncrementalDecontaminate.addEvalBatch(
          evalSet.filter(pmod(col("doc_id"), lit(2)) === b), b.toLong,
          s"$root/eval", kernel = false)
      for (b <- 0 to 2)
        IncrementalDecontaminate.applyBatch(
          corpus.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong,
          s"$root/eval", s"$root/out", kernel = false)
      val out = IncrementalDecontaminate.results(s, s"$root/out").localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      out
    }),

    // TextRank keyword extraction: integer PageRank over the frequent-vocab word
    // co-occurrence graph (window 2, undirected), top-50 by exact BIGINT rank
    "doc_textrank" -> ((s, dir) =>
      TextOps.textRank(t(s, dir, "documents"), minCount = 5, topK = 50)),

    // RAKE keyword extraction (Rose et al. 2010) — the PHRASE extractor beside
    // doc_textrank's word graph: stopword-delimited candidate runs, word score
    // deg/freq as exact BIGINT e6 ratios, phrase score an integer SUM of them
    // (no float addition order anywhere). Doc-keyed window for the phrase ids,
    // vocab-bounded word stats (TextOps.rake).
    "doc_rake" -> ((s, dir) =>
      TextOps.rake(t(s, dir, "documents"), topK = 20)),

    // INCREMENTAL RAKE (streaming/IncrementalRake): three deterministic document
    // waves against versioned (tok → freq, deg) + (phrase → occ) count state — each
    // wave extracts phrases from ITSELF only (phrase extraction is doc-local); the
    // top-k ranking recomputes at read time from the Heaps-bounded state and is
    // row-identical to one-shot doc_rake — the SAME oracle pins it.
    "doc_rake_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents").localCheckpoint(true)
      val state = java.nio.file.Files.createTempDirectory("graft-irake").toString
      for (b <- 0 to 2)
        graft.streaming.IncrementalRake.applyBatch(
          d.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong, state)
      val out = graft.streaming.IncrementalRake.current(s, state, topK = 20)
        .localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(state))
      out
    }),

    // INCREMENTAL TextRank (streaming/IncrementalTextRank): the corpus arrives in
    // three deterministic waves against versioned unigram/pair count state — each
    // wave tokenizes only ITSELF; the keyword ranking recomputes at read time on the
    // Heaps-bounded vocabulary graph. Counts are associative sums and everything
    // downstream is a pure function of them, so the maintained result is
    // row-identical to the one-shot doc_textrank — the SAME oracle pins it.
    "doc_textrank_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents").localCheckpoint(true)
      val state = java.nio.file.Files.createTempDirectory("graft-itr").toString
      for (b <- 0 to 2)
        graft.streaming.IncrementalTextRank.applyBatch(
          d.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong, state)
      val out = graft.streaming.IncrementalTextRank
        .current(s, state, minCount = 5, topK = 50).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(state))
      out
    }),

    // compressibility quality signal, as a self-verifying verdict row (raw zlib output
    // is engine-specific, so per-doc ratios can't be oracle-compared — instead the gate
    // audits engine-independent invariants over the REAL per-doc operator output and the
    // oracle pins them TRUE): corpus cardinalities match, every ratio is in (0, 1.05],
    // appending a doc to itself never worsens its ratio (DEFLATE back-references the
    // second copy), and planted repetitive/noise docs land in their bands
    "doc_compress_ratio" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val per = TextOps.compressionRatio(d)
      val dbl = d.select(col("doc_id"),
        (col("text").isNull || length(col("text")) === 0).as("trivial"),
        TextFunctions.deflateRatio(concat(col("text"), col("text"))).as("ratio2"))
      val agg = per.join(dbl, "doc_id").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("band").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(when(col("band") === "empty", 1L).otherwise(0L)).as("n_empty"),
        coalesce(min(when(!col("trivial"),
          col("deflate_ratio") > 0.0 && col("deflate_ratio") <= 1.05)), lit(true))
          .as("ratios_bounded_ok"),
        coalesce(min(when(!col("trivial"),
          col("ratio2") <= col("deflate_ratio") + 0.02)), lit(true)).as("doubling_ok"))
      // planted probes exercise the same native expression the per-doc pass uses;
      // thresholds match the band edges with the determinism pinned in ScalaTest
      val rnd = new scala.util.Random(53)
      val noise = Array.fill(4000)((rnd.nextInt(94) + 33).toChar).mkString
      val probes = s.range(1).select(
        (TextFunctions.deflateRatio(lit("spam spam spam " * 300)) < 0.35).as("planted_low_ok"),
        (TextFunctions.deflateRatio(lit(noise)) > 0.8).as("planted_high_ok"))
      agg.crossJoin(probes)
    }),

    // KMV bottom-k sketch overlap between the en and non-en corpus halves: every output
    // column (integer sketch stats + one exactly-rounded division) reproduces
    // bit-for-bit in DuckDB — a FULL-oracle sketch, not a verdict row
    "doc_kmv_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.kmvOverlap(d.filter(col("lang") === "en"), d.filter(col("lang") =!= "en"))
    }),

    // distributed BPE tokenizer training: ONE corpus scan (word counts), then
    // vocabulary-bounded merge rounds. The verdict cross-checks round 1 in DuckDB
    // (same weighted pair counts, same count-then-lexicographic tie-break), pins the
    // winning-count monotonicity invariant (a merge can never create a pair more
    // frequent than the pair it consumed), and audits the standalone rank-priority
    // encoder against the training segmentation for EVERY distinct word
    "doc_bpe_train" -> ((s, dir) => {
      val r = graft.ops.BpeOps.bpeTrain(t(s, dir, "documents"), nMerges = 30)
      val first = r.merges.where(col("rank") === 0).select(
        col("left").as("first_left"), col("right").as("first_right"),
        col("n").as("first_n"))
      val mono = r.merges
        .withColumn("prev_n", lag(col("n"), 1).over(Window.orderBy(col("rank"))))
        .agg(count(lit(1)).as("n_merges"),
          coalesce(min(col("n") <= coalesce(col("prev_n"), col("n"))), lit(true))
            .as("counts_nonincreasing_ok"))
      val model = r.model
      val enc = udf((w: String) => graft.ops.BpeOps.encodeWord(w, model).toSeq)
      val audit = r.words.agg(
        coalesce(min(concat_ws("", col("syms")) === col("word")), lit(true))
          .as("roundtrip_ok"),
        coalesce(min(enc(col("word")) === col("syms")), lit(true))
          .as("encoder_matches_training_ok"))
      first.crossJoin(mono).crossJoin(audit)
    }),

    // Tokenizer FERTILITY per language (subword tokens per word) — the multilingual
    // tokenizer-efficiency metric (a language with fertility ≫ 1 pays more context
    // budget per sentence; the number drives vocab-size and mixture decisions).
    // Word/doc counts are oracle-exact; the fertility value needs the trained merges
    // (not SQL-replayable), so it gates through the encode invariants: ≥1 token per
    // word, ≤ the per-word char bound.
    "doc_bpe_fertility" -> ((s, dir) => {
      val model = bpeModels.getOrElseUpdate(dir,
        graft.ops.BpeOps.bpeTrain(t(s, dir, "documents"), nMerges = 30).model)
      val d = t(s, dir, "documents")
      val toks = TextOps.tokensCol(col("text"))
      val base = d.select(col("doc_id"), col("lang"),
        coalesce(size(toks).cast("long"), lit(0L)).as("__w"),
        length(concat_ws("", toks)).cast("long").as("__wc"))
      graft.ops.BpeOps.bpeEncode(d, model)
        .join(base, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__w")).cast("long").as("n_words"),
          sum(col("n_bpe_tokens")).cast("long").as("__nb"),
          sum(col("__wc")).cast("long").as("__nc"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          (col("__nb") >= col("n_words")).as("fertility_ge_1_ok"),
          (col("__nb") <= col("__nc")).as("fertility_le_chars_ok"))
    }),

    // BPE ENCODE as a per-doc gated query (the 100 TB path: broadcast model, narrow
    // map). Oracle leverage: concatenating a word's subword tokens rebuilds the word,
    // so the digest of the concatenated token stream equals the digest of the
    // concatenated WORD stream — which DuckDB computes from the raw text; token counts
    // bound per row (>= one per word, <= one per char) ride as pinned booleans
    "doc_bpe_encode" -> ((s, dir) => {
      val model = bpeModels.getOrElseUpdate(dir,
        graft.ops.BpeOps.bpeTrain(t(s, dir, "documents"), nMerges = 30).model)
      val toks = TextOps.tokensCol(col("text"))
      graft.ops.BpeOps.bpeEncode(t(s, dir, "documents"), model)
        .join(t(s, dir, "documents").select(col("doc_id"),
          coalesce(size(toks).cast("long"), lit(0L)).as("n_words"),
          length(concat_ws("", toks)).cast("long").as("n_word_chars")), "doc_id")
        .select(col("doc_id"),
          md5(concat_ws("", col("bpe_tokens"))).as("stream_md5"),
          col("n_words"),
          (col("n_bpe_tokens") >= col("n_words")).as("at_least_one_per_word"),
          (col("n_bpe_tokens") <= col("n_word_chars")).as("at_most_one_per_char"))
    }),

    // raw-crawl text extraction: docs wrapped in deterministic synthetic markup, then
    // script/style blocks dropped, tags stripped, entities decoded, whitespace collapsed
    "doc_markup_strip" -> ((s, dir) => {
      val wrapped = t(s, dir, "documents").withColumn("text",
        concat(lit("<html><head><style>body { color: red; }</style></head><body><h1>Doc "),
          col("doc_id"), lit("</h1><p>"), col("text"),
          lit(" &amp; more &lt;tags&gt;</p><script>var x = 1;</script></body></html>")))
      TextOps.markupStrip(wrapped)
    }),

    // deterministic epoch shuffle: seeded-hash shard + intra-shard order, reproducible
    // under re-runs/re-partitioning (vs orderBy(rand())); one exchange + per-shard sort
    "doc_shuffle_shards" -> ((s, dir) =>
      SampleOps.shuffleShards(t(s, dir, "documents"), nShards = 8, seed = "graft")),

    // BM25 lexical top-k retrieval (the keyword half of the retrieval stack, next to the
    // ANN operators): three fixed keyword queries against the corpus; per-term scores
    // quantize to DECIMAL(18,8) pre-sum so DuckDB reproduces ranks bit-for-bit
    "doc_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"),
        Seq("q1" -> "spark join window", "q2" -> "vector hash merge", "q3" -> "customer query"),
        k = 10)),

    // hybrid retrieval: BM25 and cosine top-10 lists fused by Reciprocal Rank Fusion —
    // each query carries a text and a query-vector id; fusion touches only ranked lists
    "doc_hybrid_rrf" -> ((s, dir) =>
      RetrievalOps.hybridRrfTopK(t(s, dir, "documents"), t(s, dir, "embeddings"),
        Seq(("q1", "spark join window", 1L), ("q2", "vector hash merge", 2L),
          ("q3", "customer query", 3L)),
        k = 5, kPer = 10)),

    // MMR diversified re-ranking, EXACT-oracle form (vs the emb_mmr_rerank verdict
    // gate): Carbonell & Goldstein 1998 greedy over the ANN candidate
    // pool: greedy argmax of 0.7·rel − 0.3·max-sim-to-selected, ties on id — the
    // oracle replays the greedy EXACTLY via a recursive CTE carrying the selected
    // list; weights enter as correctly-rounded /10 divisions so both engines compare
    // bit-identical doubles
    "emb_mmr_exact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      RetrievalOps.mmrRerank(e, e.filter(col("vec_id").isin(1L, 2L, 3L)), k = 5, kPer = 10)
    }),

    // NDCG@10 of the BM25 ranking — the retrieval-EVAL operator: graded relevance
    // derived from the data (distinct query terms present), discounts from a fixed
    // shared decimal table (zero libm), ideal ranking over the full corpus via the
    // bounded heap
    "doc_bm25_ndcg" -> ((s, dir) =>
      RetrievalOps.ndcgAtK(t(s, dir, "documents"),
        Seq("q1" -> "spark join window", "q2" -> "vector hash merge", "q3" -> "customer query"),
        k = 10)),

    // training-mixture construction: 50/25/25 en/de/fr token mixture, binding stratum kept
    // whole, others hash-downsampled — deterministic membership, corpus never shuffled
    // UniMax-style temperature mixture: target shares p_l ∝ T_l^0.3 from the data
    // itself (flattens toward uniform, lifts low-resource langs), binding stratum kept
    // whole — the multilingual balance step before training
    "doc_temperature_mixture" -> ((s, dir) =>
      SampleOps.temperatureMixture(t(s, dir, "documents"), alpha = 0.3)),

    "doc_mixture_sample" -> ((s, dir) =>
      SampleOps.mixtureSample(t(s, dir, "documents"),
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25))),

    // benchmark-contamination screen: fraction of each corpus doc's distinct trigrams that
    // appear in the benchmark set (src0 plays the eval set); benchmark inventory broadcasts
    "doc_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      SampleOps.contamination(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
    }),

    // Bloom-filter decontamination (the deny-list-outgrows-the-broadcast form): the
    // benchmark inventory compresses to Bloom bits and membership probes in the scan.
    // Verdict audits the sketch against the exact screen ON THIS CORPUS: zero false
    // negatives (Bloom guarantee — every exactly-contaminated shingle flags) and the
    // over-report bounded by 3x the nominal fpp (seed-pinned deterministic filter: a
    // red here means re-check the data/seed pairing before suspecting the operator)
    "doc_bloom_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("source") =!= "src0")
      val bench = d.filter(col("source") === "src0")
      val fpp = 0.01
      val exact = SampleOps.contamination(corpus, bench)
        .select(col("doc_id"), col("n_contaminated"))
      val bloom = SampleOps.bloomContamination(corpus, bench, fpp = fpp)
        .select(col("doc_id"), col("n_flagged"))
      val probes = corpus
        .select(size(array_distinct(graft.functions.TextFunctions.shingleHashes(
          graft.functions.TextFunctions.tokens(col("text")), 3))).cast("long").as("ns"))
        .agg(sum(col("ns")).as("total_probes"))
      exact.join(bloom, Seq("doc_id"), "full_outer")
        .select(coalesce(col("n_contaminated"), lit(0L)).as("ne"),
          coalesce(col("n_flagged"), lit(0L)).as("nf"))
        .agg(count(when(col("ne") > 0, 1)).as("n_docs_exact"),
          coalesce(max(when(col("nf") < col("ne"), 1).otherwise(0)), lit(0)).as("fn"),
          coalesce(sum(col("nf") - col("ne")), lit(0L)).as("extra"))
        .crossJoin(broadcast(probes))
        .select(col("n_docs_exact").cast("long").as("n_docs_exact"),
          (col("fn") === 0).as("no_false_neg_ok"),
          (col("extra").cast("double") <=
            greatest(lit(50.0), col("total_probes") * 3 * fpp)).as("fp_bounded_ok"))
    }),

    // ---- training-data ops: similarity search -------------------------------------------------

    "emb_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 3)
        .withColumn("sim", round(col("sim"), 4))
    }),

    // Per-class outlier exemplar: the vector least aligned with its label centroid
    // (mislabel/contamination triage); narrow scoring map, decimal-quantized per-row
    // HOF sums make it a FULL oracle
    "emb_class_outliers" -> ((s, dir) =>
      VectorOps.classOutliers(t(s, dir, "embeddings"))),

    // Per-label centroid cosine matrix — class separation / embedding drift audit;
    // cos(mean_a, mean_b) = cos(sum_a, sum_b), so exact decimal sums + one pinned
    // double division make this a FULL oracle (no verdict needed)
    "emb_centroid_profile" -> ((s, dir) =>
      VectorOps.centroidProfile(t(s, dir, "embeddings"))),

    // MMR diversity re-rank of the cosine shortlist (Carbonell & Goldstein 1998) —
    // verdict gate: leads with exact top-1, kOut members all from the shortlist, and
    // average pairwise cosine no higher than the plain top-k's (diversity never worse)
    "emb_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.mmrGate(e, e.filter(col("vec_id") < 8), kCand = 24, kOut = 8, lambdaPct = 50)
    }),

    // fixed-iteration PageRank over the directed kNN edge list: each iteration is one
    // (dst, long) digest shuffle + node-keyed aggregate; ranks are BIGINT 1e-12 units
    // with floor division — zero floating point, bit-identical in any engine
    "emb_pagerank" -> ((s, dir) => {
      val edges = VectorOps.knnEdges(t(s, dir, "embeddings"), k = 4)
      graft.ops.GraphOps.pageRank(edges, iters = 3, dampingPct = 85)
        .select(col("id").as("vec_id"), col("rank_e12"))
    }),

    // HITS hubs/authorities on the same directed kNN graph — the OTHER eigenvector
    // centrality (a node is a good hub if it points at good authorities and vice versa;
    // on a kNN graph high authority = a density peak many neighborhoods agree on). Exact
    // unnormalized integer sweeps, replayed in SQL by unrolling — see GraphOps.hits.
    // Davies-Bouldin components (Davies & Bouldin 1979) — the third clustering-eval
    // metric next to purity and silhouette: per-label cosine scatter (mean member→
    // centroid distance) and the worst (sᵢ+sⱼ)/dᵢⱼ ratio against every other centroid.
    // All vector algebra rides the exact-decimal sum discipline of emb_centroid_profile
    // (cos(x,Σ) = cos(x,mean)); per-member terms DECIMAL(18,8)-quantized so the fold is
    // engine-exact; the k×k ratio grid is tiny. Per-label rows, no cross-row double sum.
    "emb_davies_bouldin" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val el = e.select(col("vec_id"), col("label").as("lbl"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("lbl"), col("i"), col("x").cast(DoubleType).as("x"))
      val sums = el.groupBy(col("lbl"), col("i"))
        .agg(sum(col("x").cast(DecimalType(18, 8))).as("sv"))
      val nn = sums.groupBy(col("lbl"))
        .agg(sum((col("sv").cast(DoubleType) * col("sv").cast(DoubleType))
          .cast(DecimalType(28, 10))).as("nn"))
      val mem = el
        .join(broadcast(sums.select(col("lbl").as("__l"), col("i").as("__i"),
          col("sv").cast(DoubleType).as("__sv"))),
          col("lbl") === col("__l") && col("i") === col("__i"))
        .groupBy(col("vec_id"), col("lbl"))
        .agg(sum((col("x") * col("__sv")).cast(DecimalType(28, 10))).as("__dot"),
          sum((col("x") * col("x")).cast(DecimalType(28, 10))).as("__xx"))
      val scat = mem
        .join(broadcast(nn.select(col("lbl").as("__l2"), col("nn"))), col("lbl") === col("__l2"))
        .select(col("lbl"),
          (lit(1.0) - col("__dot").cast(DoubleType)
            / (sqrt(col("__xx").cast(DoubleType)) * sqrt(col("nn").cast(DoubleType))))
            .cast(DecimalType(18, 8)).as("__td"))
        .groupBy(col("lbl"))
        .agg((sum(col("__td")).cast(DoubleType) / count(lit(1))).as("__s"),
          count(lit(1)).as("n"))
      val cd = sums.select(col("lbl").as("la"), col("i"), col("sv").cast(DoubleType).as("sa"))
        .join(sums.select(col("lbl").as("lb"), col("i"), col("sv").cast(DoubleType).as("sb")),
          "i")
        .filter(col("la") =!= col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(sum((col("sa") * col("sb")).cast(DecimalType(28, 10))).as("__dab"))
        .join(broadcast(nn.select(col("lbl").as("la"), col("nn").as("__nna"))), "la")
        .join(broadcast(nn.select(col("lbl").as("lb"), col("nn").as("__nnb"))), "lb")
        .select(col("la"), col("lb"),
          (lit(1.0) - col("__dab").cast(DoubleType)
            / (sqrt(col("__nna").cast(DoubleType)) * sqrt(col("__nnb").cast(DoubleType))))
            .as("__d"))
      cd.join(scat.select(col("lbl").as("la"), col("__s").as("__si")), "la")
        .join(scat.select(col("lbl").as("lb"), col("__s").as("__sj")), "lb")
        .groupBy(col("la"))
        .agg(max((col("__si") + col("__sj")) / col("__d")).as("__r"))
        .join(scat.select(col("lbl").as("la"), col("__s"), col("n")), "la")
        .select(col("la").as("label"), col("n"),
          round(col("__s"), 6).as("scatter"), round(col("__r"), 6).as("db_component"))
    }),

    "emb_hits" -> ((s, dir) => {
      val edges = VectorOps.knnEdges(t(s, dir, "embeddings"), k = 4)
      graft.ops.GraphOps.hits(edges, iters = 2)
        .select(col("id").as("vec_id"), col("hub"), col("auth"))
    }),

    // market-basket graph analytics: parts co-ordered >= 2 times form undirected edges;
    // triangle/wedge/clustering stats via DEGREE-ORDERED wedge joins (out-degree bounded
    // by O(sqrt m) — the orientation that keeps power-law hubs from exploding a reducer).
    // The count is orientation-invariant, so the id-ordered DuckDB 3-way join replays it
    // exactly; pair expansion is bounded by basket size (TPC-H <= 7 parts/order).
    "q_basket_triangles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = graft.ops.GraphOps.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        minCount = 2)
      graft.ops.GraphOps.triangleStats(edges)
    }),

    // the same triangle stats under the power-law guard: baskets above the group-size
    // cap are EXCLUDED (Sigma |g|^2 per-group pair expansion must be bounded before a
    // web-session corpus hits it), and the output row audits the cap's effect —
    // n_dropped_groups baskets excluded at group_cap = 5 (TPC-H baskets reach 7, so
    // the guard genuinely fires here, unlike the uncapped demo)
    "q_basket_triangles_capped" -> ((s, dir) =>
      graft.ops.GraphOps.triangleStatsCapped(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minCount = 2, maxGroupSize = 5)),

    // LSH banding S-curve advisor (MMDS §3.4.3) for the library's threshold-derived
    // banding at k = 64, t = 0.5 (⇒ r = 4, b = 16 via lshBandsFor): candidate
    // probability p(s) = 1 − (1 − s⁴)¹⁶ over the similarity grid — the table an
    // operator picks its banding from BEFORE paying a corpus-sized candidate join.
    // Powers are EXPLICIT squarings (never Math.pow), so both engines produce the same
    // IEEE bits at every grid point.
    "doc_lsh_scurve" -> ((s, dir) => {
      val grid = s.range(1, 20).toDF("s20")
      grid.select((col("s20").cast(DoubleType) / 20).as("jaccard"))
        .withColumn("__x", col("jaccard") * col("jaccard") * col("jaccard") * col("jaccard"))
        .withColumn("__y", lit(1.0) - col("__x"))
        .withColumn("__y2", col("__y") * col("__y"))
        .withColumn("__y4", col("__y2") * col("__y2"))
        .withColumn("__y8", col("__y4") * col("__y4"))
        .withColumn("__y16", col("__y8") * col("__y8"))
        .select(col("jaccard"), lit(16).as("bands"), lit(4).as("rows_per_band"),
          round(lit(1.0) - col("__y16"), 6).as("p_candidate"))
    }),

    // Yule's K vocabulary richness (Yule 1944) + hapax profile — the repetitiveness
    // characteristic K = 10⁴·(Σf² − N)/N² over the token frequency spectrum: every
    // moment an exact integer from ONE vocabulary-bounded aggregate, the final K a
    // fixed-order double expression (N² formed in doubles so the formula survives
    // N > 3·10⁹ tokens).
    "doc_yule_k" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      counts.agg(sum(col("c")).cast("long").as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(col("c") * col("c")).cast("long").as("__s2"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("hapax"))
        .select(col("n_tokens"), col("vocab"), col("hapax"),
          round(lit(10000.0) * (col("__s2") - col("n_tokens"))
            / (col("n_tokens").cast(DoubleType) * col("n_tokens")), 6).as("yule_k"))
    }),

    // Vocabulary-coverage curve (the tokenizer-budget metric: what fraction of corpus
    // tokens does a top-k vocabulary cover — 1−coverage is the OOV rate a k-entry
    // tokenizer pays). One corpus exchange (token counts); ranking and the cumulative
    // run on the VOCABULARY-bounded count table; checkpoints at k ∈ {5,10,20,30}.
    "doc_vocab_coverage" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val tot = counts.agg(sum(col("c")).cast("long").as("__t"))
      val w = Window.orderBy(col("c").desc, col("tok"))
      counts.select(col("c"), row_number().over(w).as("rn"))
        .select(col("rn"), sum(col("c"))
          .over(Window.orderBy(col("rn"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long").as("covered"))
        .filter(col("rn").isin(5, 10, 20, 30))
        .crossJoin(tot)
        .select(col("rn").cast("int").as("vocab_k"), col("covered"),
          round(col("covered").cast(DoubleType) / col("__t"), 6).as("coverage"))
    }),

    // ABC inventory classification (the 80/95 Pareto tiering): customers ranked by
    // exact e2 spend, class boundaries as PURE INTEGER comparisons on the cumulative
    // (cum·5 ≤ total·4 ⇒ A, cum·20 ≤ total·19 ⇒ B, else C) — no percentage float can
    // disagree; ties broken by key so both engines tier identically.
    "q_abc_class" -> ((s, dir) => {
      val pk = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("v"))
      // customer-cardinality cumulative via the range-partitioned prefix sum
      // (assignPrefixSums) — never a single-partition running window
      val tot = pk.agg(sum(col("v")).as("__t"))
      Cdc.assignPrefixSums(pk, Seq(col("v").desc, col("o_custkey")), Seq("v"))
        .select(col("v"), col("v_cum").as("cum"))
        .crossJoin(tot)
        .select(col("v"), col("__t"),
          when(col("cum") * 5 <= col("__t") * 4, "A")
            .when(col("cum") * 20 <= col("__t") * 19, "B")
            .otherwise("C").as("cls"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_cust"), sum(col("v")).cast("long").as("rev_cents"),
          round(sum(col("v")).cast(DoubleType) / first(col("__t")), 6).as("share"))
    }),

    // Decile gain chart (the marketing-analytics lift table): customers ranked by exact
    // e2-quantized spend, split into 10 equal-count bins by INTEGER rank arithmetic
    // (decile = ((rn−1)·10) div n — no percentile float boundary), per-decile revenue
    // share + cumulative share as single fixed-order divisions. Rank ties broken by key
    // so both engines assign identical bins. State: |customers| rank rows, 10-row output.
    "q_decile_lift" -> ((s, dir) => {
      val pk = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("v"))
      // customer-cardinality rank: range-partitioned exact global order
      // (assignEventOrder), never a single-partition row_number window
      val n = pk.agg(count(lit(1)).as("__n"), sum(col("v")).as("__t"))
      Cdc.assignEventOrder(pk, Seq(col("v").desc, col("o_custkey")))
        .select(col("v"), (col(Cdc.OrderCol) + 1).as("rn"))
        .crossJoin(n)
        .select(expr("((rn - 1) * 10) div __n").as("decile"), col("v"), col("__t"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("v")).cast("long").as("rev_cents"),
          first(col("__t")).as("__t"))
        .select(col("decile"), col("n_cust"), col("rev_cents"),
          round(col("rev_cents").cast(DoubleType) / col("__t"), 6).as("share"),
          round(sum(col("rev_cents"))
              .over(Window.orderBy(col("decile"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast(DoubleType) / col("__t"), 6).as("cum_share"))
    }),

    // TPC-H Q2 shape: min-cost supplier per part — the correlated argmin subquery
    // DECORRELATED into a per-part min aggregate joined back on (part, min) equality
    // (ties keep all witnesses, exactly Q2's semantics). The supplier side is snowflake-
    // filtered (region→nation→supplier, all broadcast); the fact-derived link table
    // (distinct (part, supp) pairs) stands in for partsupp. Completes the 22-shape
    // TPC-H lattice (Q1-Q22 all represented).
    "q2_min_cost_supplier" -> ((s, dir) => {
      val links = t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey")).distinct()
      val nr = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name").as("nation"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), dec(col("s_acctbal")).as("__acct"),
          col("nation"))
      val p = t(s, dir, "part").filter(col("p_size") === 15)
        .select(col("p_partkey"), col("p_brand"))
      val cand = links.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
      val minC = cand.groupBy(col("p_partkey").as("__pk")).agg(min(col("__acct")).as("__min"))
      cand.join(minC, col("p_partkey") === col("__pk") && col("__acct") === col("__min"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"), col("nation"),
          col("__acct").cast(DoubleType).as("acctbal"))
    }),

    // Events ops-dashboard capstone (the ev-side twin of doc_dataset_card): volume,
    // reach, cadence, latest-day DAU (argmax via struct ordering), engagement and
    // conversion rates — one row composed from already-gated primitives, each rate a
    // single fixed-order division of exact counts.
    "ev_health_card" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val base = e.agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).cast("long").as("__err"),
        countDistinct(when(col("event_type") === "signup", col("user_id"))).as("__ns"),
        countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("__np"))
      val dau = e.select(to_date(col("ts")).as("d"), col("user_id"))
        .groupBy(col("d")).agg(countDistinct(col("user_id")).as("u"))
        .agg(max(struct(col("d"), col("u"))).as("__m"))
        .select(col("__m.u").as("dau_last_day"))
      base.crossJoin(dau)
        .select(col("n_events"), col("n_users"), col("n_days"), col("dau_last_day"),
          round(col("n_events").cast(DoubleType) / col("n_users"), 6).as("events_per_user"),
          round(col("__err").cast(DoubleType) / col("n_events"), 6).as("error_rate"),
          round(col("__np").cast(DoubleType) / col("__ns"), 6).as("signup_to_purchase"))
    }),

    // PERCENTILE_DISC vs PERCENTILE_CONT with EXACT arithmetic — the classic
    // cross-engine divergence (interpolation in floats never hash-matches) done right:
    // disc = type-1 rank selection on the e4 grid; cont's linear interpolation
    // v_k + (v_{k+1} − v_k)·frac runs ENTIRELY in integers by carrying the result in
    // e4·100 units (r = (n−1)·p splits as 100·k + rem, so cont_e6 = v1·100 +
    // (v2 − v1)·rem exactly). Histogram rank selection per group — grid-bounded state.
    "ev_percentile_cont" -> ((s, dir) => {
      val v = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"), (dec(col("value"), 18, 4) * 10000).cast("long").as("c"))
      val hist = v.groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("event_type"), col("c"), col("cnt"),
        sum(col("cnt")).over(w).as("cum"),
        sum(col("cnt")).over(Window.partitionBy(col("event_type"))).as("n"))
      def rankVal(rankExpr: String) =
        min(when(col("cum") >= expr(rankExpr), col("c")))
      val agged = cum.groupBy(col("event_type")).agg(
        first(col("n")).as("n"),
        (for (p <- Seq(50, 90, 99)) yield Seq(
          rankVal(s"((n - 1) * $p) div 100 + 1").as(s"v1_$p"),
          rankVal(s"least(((n - 1) * $p) div 100 + 2, n)").as(s"v2_$p"),
          rankVal(s"($p * n + 99) div 100").as(s"disc_$p"),
          first(expr(s"((n - 1) * $p) % 100")).as(s"rem_$p"))).flatten: _*)
      agged.selectExpr("event_type", "n", s"""stack(3,
          50, disc_50, v1_50 * 100 + (v2_50 - v1_50) * rem_50,
          90, disc_90, v1_90 * 100 + (v2_90 - v1_90) * rem_90,
          99, disc_99, v1_99 * 100 + (v2_99 - v1_99) * rem_99
        ) AS (p, disc_e4, cont_e6)""")
    }),

    // IQR outlier fences per group (the Tukey box-plot rule): Q1/Q3 as exact type-1
    // quantiles on the e4-quantized value grid (rank selection over the per-group value
    // histogram — state bounded by the grid, never the corpus), fences evaluated as the
    // INTEGER comparisons 2v < 5·q1 − 3·q3 / 2v > 5·q3 − 3·q1 (≡ v outside
    // Q1−1.5·IQR..Q3+1.5·IQR with no fractional boundary to disagree on).
    "ev_iqr_outliers" -> ((s, dir) => {
      val v = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), (dec(col("value"), 18, 4) * 10000).cast("long").as("c"))
      val hist = v.groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val cum = hist.select(col("event_type"), col("c"), col("cnt"),
        sum(col("cnt")).over(w).as("cum"), sum(col("cnt")).over(wAll).as("tot"))
      val fences = cum.groupBy(col("event_type"))
        .agg(first(col("tot")).as("n"),
          min(when(col("cum") >= expr("(tot + 3) div 4"), col("c"))).as("q1"),
          min(when(col("cum") >= expr("(3 * tot + 3) div 4"), col("c"))).as("q3"))
      hist.join(fences.select(col("event_type").as("__et"), col("n"), col("q1"), col("q3")),
          col("event_type") === col("__et"))
        .groupBy(col("event_type"))
        .agg(first(col("n")).as("n"), first(col("q1")).as("q1_e4"), first(col("q3")).as("q3_e4"),
          sum(when(col("c") * 2 < col("q1") * 5 - col("q3") * 3
              || col("c") * 2 > col("q3") * 5 - col("q1") * 3, col("cnt"))
            .otherwise(lit(0L))).cast("long").as("n_outliers"))
    }),

    // Referential-integrity pre-flight: orphan counts for every fact→dim relation in the
    // star, each an anti-join that AQE turns into broadcast-null-aware or shuffled-hash
    // as the dim size dictates. THE audit to run before committing a 100 TB join plan —
    // orphans silently vanish from inner joins and corrupt every downstream aggregate.
    // NULL semantics are pinned cross-engine (ADVICE r7): the oracle uses NOT EXISTS,
    // whose treatment of NULL child keys (counted as orphans) and NULL parent keys
    // (never match) is identical to left_anti — a NOT IN oracle would diverge on both.
    "q_fk_audit" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val sup = t(s, dir, "supplier")
      val p = t(s, dir, "part"); val n = t(s, dir, "nation")
      def audit(rel: String, child: DataFrame, key: String, parent: DataFrame, pkey: String) = {
        val nc = child.agg(count(lit(1)).as("__n"))
        val no = child.join(parent.select(col(pkey)), col(key) === col(pkey), "left_anti")
          .agg(count(lit(1)).as("__o"))
        nc.crossJoin(no).select(lit(rel).as("relation"),
          col("__n").as("n_child"), col("__o").as("n_orphans"))
      }
      audit("lineitem->orders", l, "l_orderkey", o, "o_orderkey")
        .unionAll(audit("lineitem->part", l, "l_partkey", p, "p_partkey"))
        .unionAll(audit("lineitem->supplier", l, "l_suppkey", sup, "s_suppkey"))
        .unionAll(audit("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionAll(audit("customer->nation", c.select(col("c_nationkey").cast("long").as("ck")),
          "ck", n.select(col("n_nationkey").cast("long").as("nk")), "nk"))
    }),

    // Exact equi-width histogram of a money column — 20 integer-boundary bins over the
    // e2-quantized value: bin = (c−min)·20 div (max−min+1), every boundary an exact
    // integer comparison (no float binning drift between engines). One scan for the
    // (min, max, n) scalars, one for the counts; the scalar row broadcasts back.
    "q_value_histogram" -> ((s, dir) => {
      val v = t(s, dir, "orders").select((dec(col("o_totalprice")) * 100).cast("long").as("c"))
      val st = v.agg(min(col("c")).as("__mn"), max(col("c")).as("__mx"))
      v.crossJoin(st)
        .select(expr("((c - __mn) * 20) div (__mx - __mn + 1)").as("bin"),
          col("__mn"), col("__mx"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), first(col("__mn")).as("min_cents"),
          first(col("__mx")).as("max_cents"))
    }),

    // Pearson correlation matrix over the lineitem measures — EXACT integer moments
    // (e2/e4-quantized Σx, Σy, Σxy, Σx², Σy² as wide DECIMALs, one scan, one aggregate
    // row) unpivoted to a row per pair; the r formula is evaluated in doubles from the
    // exactly-agreed moments in ONE fixed operand order, so both engines emit identical
    // bits before the final round.
    "q_corr_matrix" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select(
        (dec(col("l_quantity")) * 100).cast("long").cast(DecimalType(18, 0)).as("x1"),
        (dec(col("l_extendedprice")) * 100).cast("long").cast(DecimalType(18, 0)).as("x2"),
        (dec(col("l_discount"), 6, 4) * 10000).cast("long").cast(DecimalType(18, 0)).as("x3"))
      val m = l.agg(
        count(lit(1)).cast(DecimalType(18, 0)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("x3")).as("s3"),
        sum(col("x1") * col("x1")).as("q1"), sum(col("x2") * col("x2")).as("q2"),
        sum(col("x3") * col("x3")).as("q3"),
        sum(col("x1") * col("x2")).as("p12"), sum(col("x1") * col("x3")).as("p13"),
        sum(col("x2") * col("x3")).as("p23"))
      def r(sx: String, sy: String, qx: String, qy: String, pxy: String) =
        round((col("n").cast(DoubleType) * col(pxy).cast(DoubleType)
            - col(sx).cast(DoubleType) * col(sy).cast(DoubleType))
          / (sqrt(col("n").cast(DoubleType) * col(qx).cast(DoubleType)
              - col(sx).cast(DoubleType) * col(sx).cast(DoubleType))
            * sqrt(col("n").cast(DoubleType) * col(qy).cast(DoubleType)
              - col(sy).cast(DoubleType) * col(sy).cast(DoubleType))), 6)
      m.select(
          r("s1", "s2", "q1", "q2", "p12").as("r12"),
          r("s1", "s3", "q1", "q3", "p13").as("r13"),
          r("s2", "s3", "q2", "q3", "p23").as("r23"))
        .selectExpr("""stack(3,
          'quantity~extendedprice', r12,
          'quantity~discount',      r13,
          'extendedprice~discount', r23) AS (pair, r)""")
    }),

    // GROUPING SETS — the third grouping-lattice shape next to q_rollup/q_cube: two
    // disjoint single-column groupings plus the grand total from ONE scan (a single
    // Expand of 3× rows pre-shuffle), the standard multi-dim summary-table builder.
    "q_grouping_sets" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("revenue"))
    }),

    // k-core decomposition of the basket graph (Seidman 1983): 4 bounded peel rounds at
    // k = 2 — the dense-subgraph extractor (spam rings, duplicate farms, power-user
    // cliques). The fixed round budget makes the fixpoint SQL-replayable by unrolling;
    // survivors carry their in-core degree. requireConverged (ADVICE r7) embeds an
    // assert_true(|E_r| == |E_r+1|) in the plan: if the corpus ever needs another peel
    // the query RAISES instead of silently shipping a non-core the same-depth oracle
    // would happily co-sign. That assert did its job immediately: the r7 gate ran
    // rounds=4 and was green at BOTH scale factors, yet the sf0.1 basket graph needs
    // FIVE peels (7146 -> 726 -> 110 -> 20 -> 8 -> 6 directed edges) — the "2-core"
    // both engines agreed on contained two nodes outside the true core. rounds=8 is
    // 1.6x the observed depth; extra rounds on a converged set are no-op semi-joins
    // over a six-row table.
    "q_basket_kcore" -> ((s, dir) => {
      val edges = graft.ops.GraphOps.coOccurrenceEdges(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minCount = 2)
      graft.ops.GraphOps.kCore(edges, k = 2, rounds = 8, requireConverged = true)
    }),

    // k-truss (Cohen 2008) — the EDGE-grain cohesion sibling of q_basket_kcore:
    // every surviving edge must sit in ≥ k−2 triangles (strictly stronger than
    // degree; hubs without closed wedges fall out). Per round: per-edge triangle
    // support via the oriented-wedge kernel (each triangle found once at its
    // lowest-degree corner), peel, repeat to an ASSERTED fixpoint within the round
    // budget (GraphOps.kTruss).
    "q_basket_ktruss" -> ((s, dir) => {
      val edges = graft.ops.GraphOps.coOccurrenceEdges(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minCount = 2)
      graft.ops.GraphOps.kTruss(edges, k = 3, rounds = 8, requireConverged = true)
    }),

    // Densest subgraph, 3-approx by ε=1/2 distributed peeling (Bahmani et al. 2012):
    // every round shrinks |V| by ≥ 1/3, the driver stops at the first EMPTY round
    // (adaptive, the CC-family idiom — a static 28-round unroll measured 6.4 s at
    // sf0.1 against ~4 real rounds), the best observed |E|/|V| wins; removal
    // threshold and cross-round argmax are pure BIGINT comparisons. The sequential
    // Charikar greedy would be |V| rounds. The 28-round unrolled oracle replays the
    // same stats (its empty tail rounds filter out identically).
    "q_basket_densest" -> ((s, dir) => {
      val edges = graft.ops.GraphOps.coOccurrenceEdges(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minCount = 2)
      graft.ops.GraphOps.densestSubgraph(edges)
    }),

    // The window-function surface in ONE gated query: lag/lead, ntile, percent_rank,
    // cume_dist, first/last value (full-frame), and a running count — all sharing ONE
    // keyed exchange+sort (the partitionBy(priority).orderBy(key) spec), the property
    // PlanQualitySpec pins for cdc_scd2. Ratio outputs are exact-ordinal ratios rounded
    // once; everything else is integral.
    "q_window_suite" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          first(col("o_orderkey")).over(w).as("first_key"),
          last(col("o_orderkey")).over(wAll).as("last_key"),
          count(lit(1)).over(wRun).as("running_n"))
    }),

    // Association rules on the basket graph (Agrawal & Srikant 1994's support/confidence
    // plus lift): pair supports from the basket-bounded self-join (|basket|² expansion,
    // TPC-H ≤ 7; cap upstream via maxGroupSize for power-law corpora), item supports one
    // group-by, lift = n_ab·N / (n_a·n_b) as a single fixed-operand-order double
    // division over exact integer counts. The support floor (n_ab ≥ 2) keeps the rule
    // table |frequent-pairs|-bounded — the thing that makes it shippable at 100 TB.
    "q_basket_lift" -> ((s, dir) => {
      val pp = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val nB = pp.select(col("ok")).distinct().agg(count(lit(1)).as("__nb"))
      val item = pp.groupBy(col("pk")).agg(count(lit(1)).as("c"))
      val pairs = pp.as("a").join(pp.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      pairs
        .join(item.select(col("pk").as("__pa"), col("c").as("n_a")), col("part_a") === col("__pa"))
        .join(item.select(col("pk").as("__pb"), col("c").as("n_b")), col("part_b") === col("__pb"))
        .crossJoin(nB)
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
          round(col("n_ab").cast(DoubleType) * col("__nb") / (col("n_a") * col("n_b")), 6)
            .as("lift"),
          round(col("n_ab").cast(DoubleType) / col("n_a"), 6).as("confidence"))
    }),

    // Theil-Sen robust trend (Theil 1950 / Sen 1968): the median of all pairwise slopes
    // of the daily-revenue series — the estimator a 30%-outlier day can't move, unlike
    // the OLS q_brand_trend. The series collapses to |days| rows first (the only fact
    // exchange); the pair table is C(|days|,2) tiny rows; each slope is ONE double
    // division of exact integer (e4-quantized revenue, epoch-day) differences, so both
    // engines order identical doubles; the median picks by row_number (mean of the two
    // middles when even).
    "ev_theil_sen" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"), 18, 4)).as("__rev"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
          (col("__rev") * 10000).cast("long").as("y"))
      val slopes = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
        .select(((col("b.y") - col("a.y")).cast(DoubleType) / (col("b.d") - col("a.d")))
          .as("slope"))
      val w = Window.orderBy(col("slope"))
      val ranked = slopes.select(col("slope"), row_number().over(w).as("rn"))
      val stats = slopes.agg(count(lit(1)).as("__n"))
      ranked.crossJoin(stats)
        .filter(col("rn") === expr("(__n + 1) div 2") || col("rn") === expr("(__n + 2) div 2"))
        .agg(count(lit(1)).as("__k"), sum(col("slope")).as("__s"),
          first(col("__n")).as("n_pairs"))
        .select(col("n_pairs").cast("long").as("n_pairs"),
          round((col("__s") / col("__k")) / 10000.0, 6).as("slope_per_day"))
    }),

    // Mann-Kendall trend test over the daily revenue series — the SIGNIFICANCE
    // companion to ev_theil_sen's Sen slope (the standard pairing for monotone-trend
    // detection): S = Σ_{i<j} sign(y_j − y_i) is an exact integer over the day-pair
    // table (bounded by days², never events), the tie-corrected variance ships as the
    // exact integer var18 = 18·Var(S), and z is one fixed-operand-order double
    // expression. The pair join is the same series-sized shape as ev_theil_sen.
    "ev_mann_kendall" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"), 18, 4)).as("__rev"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
          (col("__rev") * 10000).cast("long").as("y"))
      val sAgg = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
        .agg(sum(when(col("b.y") > col("a.y"), 1L)
          .when(col("b.y") < col("a.y"), -1L).otherwise(0L)).as("s"))
      val ties = daily.groupBy("y").agg(count(lit(1)).as("__t"))
        .agg(coalesce(sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5)), lit(0L))
          .as("__tsum"))
      daily.agg(count(lit(1)).as("n_days")).crossJoin(sAgg).crossJoin(ties)
        .select(col("n_days"), col("s").cast("long").as("s"),
          (col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5) - col("__tsum"))
            .cast("long").as("var18"))
        .select(col("n_days"), col("s"), col("var18"),
          round(when(col("s") > 0,
              (col("s") - 1).cast(DoubleType) / sqrt(col("var18") / lit(18.0)))
            .when(col("s") < 0,
              (col("s") + 1).cast(DoubleType) / sqrt(col("var18") / lit(18.0)))
            .otherwise(lit(0.0)), 6).as("z"))
    }),

    // Kendall tau-b rank correlation between the daily event-count and daily revenue
    // series — "do busy days earn more?" with no linearity assumption. S and both
    // tie moments are exact integers over the day-pair table; tau is one
    // fixed-operand-order double expression. Completes the rank-stat family
    // (Mann-Whitney two-sample, Kruskal-Wallis k-sample, Mann-Kendall vs time).
    // The day-pair self-join is O(days^2) BY CONSTRUCTION but bounded by the DAY
    // GRID, never the corpus — like its ev_mann_kendall sibling: a decade is ~3.7k
    // days => ~7M sign pairs, constant in corpus size (the corpus contributes one
    // count exchange to daily grain). At truly long grids Knight's O(n log n)
    // merge-sort inversion count is the known swap.
    "ev_kendall_tau" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"), (sum(dec(col("value"), 18, 4)) * 10000)
          .cast("long").as("y"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
          col("x").cast("long").as("x"), col("y"))
      val sAgg = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
        .agg(sum((when(col("b.x") > col("a.x"), 1L).when(col("b.x") < col("a.x"), -1L)
            .otherwise(0L))
          * (when(col("b.y") > col("a.y"), 1L).when(col("b.y") < col("a.y"), -1L)
            .otherwise(0L))).as("s_tau"))
      val tiesX = daily.groupBy("x").agg(count(lit(1)).as("__t"))
        .agg(coalesce(sum(col("__t") * (col("__t") - 1)), lit(0L)).as("tx2"))
      val tiesY = daily.groupBy("y").agg(count(lit(1)).as("__t"))
        .agg(coalesce(sum(col("__t") * (col("__t") - 1)), lit(0L)).as("ty2"))
      daily.agg(count(lit(1)).as("n_days")).crossJoin(sAgg)
        .crossJoin(tiesX).crossJoin(tiesY)
        .select(col("n_days"), col("s_tau").cast("long").as("s_tau"),
          col("tx2").cast("long").as("tx2"), col("ty2").cast("long").as("ty2"),
          round(col("s_tau").cast(DoubleType)
            / sqrt((col("n_days") * (col("n_days") - 1) - col("tx2")).cast(DoubleType) / 2.0
              * ((col("n_days") * (col("n_days") - 1) - col("ty2")).cast(DoubleType) / 2.0)),
            6).as("tau_b"))
    }),

    // Spearman rho between the same two daily series: doubled midranks make every
    // rank exact, the N-scaled centering (the ev_acf/ev_ccf trick, applied to rank
    // vectors) makes all three moments exact integers, and rho is one division.
    "ev_spearman" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"), (sum(dec(col("value"), 18, 4)) * 10000)
          .cast("long").as("y"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
          col("x").cast("long").as("x"), col("y"))
      val rx = daily
        .withColumn("__rk", rank().over(Window.orderBy(col("x"))))
        .withColumn("__eq", count(lit(1)).over(Window.partitionBy(col("x"))))
        .select(col("d"), (col("__rk") * 2 - 2 + col("__eq") + 1).cast("long").as("r2x"))
      val ry = daily
        .withColumn("__rk", rank().over(Window.orderBy(col("y"))))
        .withColumn("__eq", count(lit(1)).over(Window.partitionBy(col("y"))))
        .select(col("d").as("__d2"), (col("__rk") * 2 - 2 + col("__eq") + 1).cast("long").as("r2y"))
      val r = rx.join(ry, col("d") === col("__d2")).select(col("d"), col("r2x"), col("r2y"))
      val tot = r.agg(count(lit(1)).as("__n"), sum(col("r2x")).cast("long").as("__sx"),
        sum(col("r2y")).cast("long").as("__sy"))
      r.crossJoin(tot)
        .select((col("__n") * col("r2x") - col("__sx")).cast("long").as("ux"),
          (col("__n") * col("r2y") - col("__sy")).cast("long").as("uy"), col("__n"))
        .agg(first(col("__n")).as("n_days"),
          sum(col("ux") * col("uy")).cast("long").as("sxy"),
          sum(col("ux") * col("ux")).cast("long").as("sxx"),
          sum(col("uy") * col("uy")).cast("long").as("syy"))
        .select(col("n_days").cast("long").as("n_days"), col("sxy"),
          round(col("sxy").cast(DoubleType)
            / sqrt(col("sxx").cast(DoubleType) * col("syy").cast(DoubleType)), 6)
            .as("rho"))
    }),

    // Pettitt change-point test (Pettitt 1979) on the daily revenue series: with
    // DOUBLED midranks every U_t = Σ_{i≤t} rank2_i − t·(n+1) is an exact integer;
    // the change day is argmax |U_t| (ties → earliest day), K ships exact, and the
    // exponent of the p-value approximation is the exact scaled integer
    // neg_log_e6 = (6·K²·10⁶) // (n³+n²) — p itself is exp of that quantized value,
    // so the only cross-engine float op runs on identical inputs.
    "ev_pettitt" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"), 18, 4)).as("__rev"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
          (col("__rev") * 10000).cast("long").as("y"))
      val ranked = daily
        .withColumn("__rk", rank().over(Window.orderBy(col("y"))))
        .withColumn("__eq", count(lit(1)).over(Window.partitionBy(col("y"))))
        .select(col("d"), (col("__rk") * 2 - 2 + col("__eq") + 1).cast("long").as("__r2"))
      val wd = Window.orderBy(col("d"))
      val u = ranked
        .select(col("d"), row_number().over(wd).cast("long").as("__i"),
          sum(col("__r2")).over(wd.rowsBetween(Window.unboundedPreceding, 0)).as("__cum"))
        .crossJoin(daily.agg(count(lit(1)).as("n_days")))
        .filter(col("__i") < col("n_days"))
        .select(col("n_days"), col("d"),
          (col("__cum") - col("__i") * (col("n_days") + 1)).cast("long").as("__u"))
      u.orderBy(abs(col("__u")).desc, col("d")).limit(1)
        .select(col("n_days"), col("d").as("change_d"), abs(col("__u")).as("k_abs"))
        .withColumn("neg_log_e6",
          expr("(6 * k_abs * k_abs * 1000000) div (n_days*n_days*n_days + n_days*n_days)"))
        .withColumn("p_value",
          round(exp(-col("neg_log_e6") / lit(1000000.0)), 6))
    }),

    // Kruskal-Wallis H across ALL FIVE event types on the e4 value grid — the k-group
    // generalization of ev_mannwhitney (exact doubled rank sums + tie moment on the
    // bounded score grid; per-group H terms DECIMAL(38,6)-quantized before the
    // cross-group sum). See MlOps.kruskalWallis.
    "ev_kruskal_wallis" -> ((s, dir) =>
      MlOps.kruskalWallis(
        t(s, dir, "events").filter(col("value").isNotNull)
          .select((dec(col("value"), 18, 4) * 10000).cast("long").as("s"),
            col("event_type")),
        "s", "event_type")),

    // Lagged cross-correlation (CCF) between the view and purchase daily-count
    // series at lags −7..7 — "does one series lead the other?", the attribution
    // screen before any causal claim. Same N-scaled centering as ev_acf
    // (u = n·x − Σx), so every numerator is an exact integer fold; the denominator
    // is fixed across lags (full-series variances) and r is one double division.
    "ev_ccf" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val tot = daily.agg(count(lit(1)).as("__n"),
        sum(col("x")).cast("long").as("__sx"), sum(col("y")).cast("long").as("__sy"))
      val w = Window.orderBy(col("day"))
      val u = daily.crossJoin(tot)
        .select(col("day"), (col("__n") * col("x") - col("__sx")).cast("long").as("ux"),
          (col("__n") * col("y") - col("__sy")).cast("long").as("uy"))
      val withLeads = u.select(
        (Seq(col("ux"), col("uy"))
          ++ (1 to 7).map(k => lead(col("ux"), k).over(w).as(s"ux$k"))
          ++ (1 to 7).map(k => lead(col("uy"), k).over(w).as(s"uy$k"))): _*)
      val terms = withLeads.select(expr(
        "stack(15, " +
          (-7 to 7).map {
            case k if k < 0 => s"$k, uy * ux${-k}"
            case 0          => "0, ux * uy"
            case k          => s"$k, ux * uy$k"
          }.mkString(", ") + ")").as(Seq("lag", "prod")))
      terms.groupBy(col("lag"))
        .agg(sum(col("prod")).cast("long").as("num"))
        .crossJoin(u.agg(sum(col("ux") * col("ux")).cast("long").as("__dx"),
          sum(col("uy") * col("uy")).cast("long").as("__dy")))
        .select(col("lag"), col("num"),
          round(col("num").cast(DoubleType)
            / sqrt(col("__dx").cast(DoubleType) * col("__dy").cast(DoubleType)), 6)
            .as("ccf"))
    }),

    // Entity resolution over the vocabulary-bounded distinct-name dictionary: block on
    // the first name token (the classic ER blocking key), score within-block pairs with
    // the NATIVE Jaro-Winkler expression (DuckDB-parity semantics — see
    // TextExpressions.JaroWinklerSim), keep pairs above threshold. Scale shape: the
    // entity dictionary is |vocabulary|-bounded (64 names at every SF here — it grows
    // sublinearly with the corpus), the pair space is Σ|block|² over that dictionary,
    // and the raw corpus only ever contributes through the initial distinct.
    "q_er_part_names" -> ((s, dir) => {
      val names = t(s, dir, "part").select(col("p_name").as("name")).distinct()
        .withColumn("blk", split(col("name"), " ").getItem(0))
      val right = names.select(col("name").as("name_b"), col("blk").as("__blk2"))
      names.select(col("name").as("name_a"), col("blk"))
        .join(right, col("blk") === col("__blk2") && col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          TextFunctions.jaroWinkler(col("name_a"), col("name_b")).as("__s"))
        .filter(col("__s") >= 0.84)
        .select(col("name_a"), col("name_b"), round(col("__s"), 4).as("sim"))
    }),

    // Community detection on the same co-occurrence graph: 3 synchronous LPA rounds
    // with deterministic majority/tie rules — exactly replayable in SQL by unrolling
    // the rounds (no randomized visit order, the classic LPA nondeterminism, is ever
    // introduced)
    "q_basket_communities" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = graft.ops.GraphOps.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        minCount = 2)
      graft.ops.GraphOps.labelPropagation(edges, rounds = 3)
    }),

    // Connected components on the co-purchase graph via large-star/small-star
    // contraction (O(log n) rounds regardless of diameter — THE cluster-scale CC).
    // The Spark side runs to a VERIFIED fixed point (every input edge's endpoints
    // must agree, or it throws), so the fixed-round pointer-jumping oracle can't
    // silently co-converge on a wrong answer: oracle under-convergence = loud
    // hash mismatch, never a false pass.
    "q_basket_components" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = graft.ops.GraphOps.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        minCount = 2)
      graft.ops.GraphOps.connectedComponentsStar(edges)
    }),

    // INCREMENTAL connected components (streaming/IncrementalCC): the co-purchase
    // edges arrive in three deterministic waves against a persistent redirect store
    // — each wave costs O(batch + touched roots), the graph-so-far present only as
    // its labels. The final resolution must equal the one-shot batch CC, which is
    // exactly what the shared q_basket_components oracle pins cross-engine.
    "q_components_incremental" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = graft.ops.GraphOps.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        minCount = 2).localCheckpoint(true)
      val store = java.nio.file.Files.createTempDirectory("graft-icc").toString
      for (b <- 0 to 2)
        graft.streaming.IncrementalCC.applyBatch(
          edges.filter(pmod(col("u") + col("v"), lit(3)) === b), b.toLong, store)
      val nodes = edges.select(col("u").as("id"))
        .union(edges.select(col("v").as("id"))).distinct()
      val resolved = graft.streaming.IncrementalCC.resolve(
        graft.streaming.IncrementalCC.readLabels(s, store), nodes)
      // resolve localCheckpoints every round eagerly, so the result no longer reads
      // the parquet store — delete it now (each gate/bench run used to leak one
      // /tmp/graft-icc* directory per invocation)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
      resolved
    }),

    // Multi-source BFS: hop distance from the top-5 co-purchase hubs (degree desc,
    // id asc — deterministic) to a fixed 4-hop horizon. Frontier-based: each round
    // joins ONLY the frontier against the edge table — the scale shape that holds
    // when the reachable set is 10⁹ nodes (see GraphOps.multiSourceBfs).
    "q_basket_bfs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // localCheckpoint: the co-occurrence join feeds BOTH the hub selection and the
      // BFS's own symmetric edge table — without the cut it recomputes per consumer
      // (measured 2× the query cost at sf0.1); checkpoint blocks free via the
      // ContextCleaner once the plan is GC'd (the established idiom, no persist leak)
      val edges = graft.ops.GraphOps.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        minCount = 2).localCheckpoint(true)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      // top-5 hubs via orderBy+limit — plans as TakeOrderedAndProject (per-partition
      // heads merged on the driver), not a node-cardinality single-partition window
      val hubs = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("__deg"))
        .orderBy(col("__deg").desc, col("id")).limit(5).select(col("id"))
      graft.ops.GraphOps.multiSourceBfs(edges, hubs, rounds = 4)
    }),

    // Item-item collaborative filtering: top-3 co-purchase neighbors per part by
    // cosine² — score_e6 = n_ab²·10⁶ // (n_a·n_b) is an EXACT integer, so both the
    // ranking and its ties (part_b asc) are engine-identical with no float compare.
    // Scale shape: the support-floored pair table shuffles (part, part, count)
    // digests only; the per-item top-k is one window over that bounded table.
    "q_item_cf" -> ((s, dir) => {
      val pp = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val item = pp.groupBy(col("pk")).agg(count(lit(1)).as("c"))
      val pairs = pp.join(pp.select(col("ok"), col("pk").as("pk2")), "ok")
        .filter(col("pk") < col("pk2"))
        .groupBy(col("pk"), col("pk2")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      val sym = pairs.select(col("pk").as("part_a"), col("pk2").as("part_b"), col("n_ab"))
        .union(pairs.select(col("pk2").as("part_a"), col("pk").as("part_b"), col("n_ab")))
      val scored = sym
        .join(item.select(col("pk").as("part_a"), col("c").as("n_a")), "part_a")
        .join(item.select(col("pk").as("part_b"), col("c").as("n_b")), "part_b")
        .withColumn("score_e6", expr("(n_ab * n_ab * 1000000) div (n_a * n_b)"))
      scored.withColumn("__rn", row_number().over(
          Window.partitionBy(col("part_a")).orderBy(col("score_e6").desc, col("part_b"))))
        .filter(col("__rn") <= 3)
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
          col("score_e6").cast("long").as("score_e6"))
    }),

    // Apriori level-3 (Agrawal & Srikant 1994) over BRAND baskets: frequent triples
    // generated ONLY through frequent-pair joins — support monotonicity bounds the
    // candidate space by the frequent-pair table, never the item-triple cube; the
    // pruning path cannot change the answer (every floor-support triple has all
    // sub-pairs at the floor), which is exactly what lets the unpruned oracle replay
    // it. Brand grain (25-value dimension) keeps support scale-stable where raw
    // part-level triples go empty as the catalog outgrows the order count.
    "q_basket_triples" -> ((s, dir) => {
      val pp = t(s, dir, "lineitem")
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("pk")).distinct()
      val fp = pp.join(pp.select(col("ok"), col("pk").as("pk2")), "ok")
        .filter(col("pk") < col("pk2"))
        .groupBy(col("pk"), col("pk2")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= 20)
        .select(col("pk").as("a"), col("pk2").as("b"))
      val occAB = pp.select(col("ok"), col("pk").as("a"))
        .join(pp.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .join(fp, Seq("a", "b"), "left_semi")
      val withC = occAB.join(pp.select(col("ok"), col("pk").as("c")), "ok")
        .filter(col("b") < col("c"))
        .join(fp.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
        .join(fp.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"), "left_semi")
      withC.groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("n_abc"))
        .filter(col("n_abc") >= 20)
        .select(col("a").as("brand_a"), col("b").as("brand_b"), col("c").as("brand_c"),
          col("n_abc"))
    }),

    // one auditable Lloyd step of spherical k-means: broadcast seeds, argmax-cosine
    // assignment into a 1-bounded heap, (cluster, dim) mean cells with DECIMAL(18,8)
    // per-term quantization — the training loop is this operator iterated
    "emb_kmeans_step" -> ((s, dir) =>
      VectorOps.kmeansLloydStep(t(s, dir, "embeddings"), k = 8)),

    // blocked k-NN graph + mutual-kNN marking: the shared primitive under graph dedup /
    // clustering / diversity selection; pair space confined to the coarse-partition
    // blocks, per-vertex bounded heap, mutual flag via an id-only edge self-join
    "emb_knn_graph" -> ((s, dir) =>
      VectorOps.knnGraphBlocked(t(s, dir, "embeddings"), k = 4)),

    // the SCALE form of the kNN graph (VERDICT r6 #2): blocks come from a TRAINED
    // quantizer with k = max(8, N/64) cells, so occupancy stays ≈64 as the corpus
    // grows — gated as a verdict row (deterministic n_nodes/n_cells + constant
    // occupancy/candidate caps + recall vs exact top-k), the ANN-gate idiom
    // nProbe=6 is the recall knob (measured: 0.90 at sf0.01 / 0.77 at sf0.1 vs exact
    // top-4; the synthetic embeddings have weak cluster structure, so recall climbs
    // slowly with probes); per-node candidate work stays the CONSTANT nProbe·cellSize
    "emb_knn_graph_ivf" -> ((s, dir) =>
      VectorOps.knnGraphQuantizedGate(t(s, dir, "embeddings"), k = 4,
        nProbe = 6, recallFloor = 0.65)),

    // Connected components OVER the quantizer-blocked kNN graph — the scale twin of
    // q_basket_components (the co-purchase graph barely grows with SF; this one's
    // node count is the corpus). Star contraction's O(log n) rounds on k·N edges;
    // verdict-row gate (quantizer edges aren't oracle-replayable): n_nodes is
    // deterministic, labeled_ok pins total coverage, minimal_ok pins the
    // min-id-canonical contract (no label above its node, every label a
    // self-labeled root), and the op's internal endpoint-agreement verify throws
    // before this row can ever materialize wrong.
    "emb_components_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = VectorOps.knnEdgesQuantized(emb)
        .select(col("src").as("u"), col("dst").as("v"))
      val labels = graft.ops.GraphOps.connectedComponentsStar(edges)
      val n = emb.count()
      val roots = labels.filter(col("id") === col("component_id"))
        .select(col("component_id").as("__r"))
      val byId = labels.agg(count(lit(1)).as("__cnt"),
        countDistinct(col("id")).as("__ids"),
        max((col("component_id") > col("id")).cast("int")).as("__bad"))
      val rootCheck = labels.select(col("component_id")).distinct()
        .join(roots, col("component_id") === col("__r"), "left_anti")
        .agg(count(lit(1)).as("__orph"))
      byId.crossJoin(rootCheck).select(
        lit(n).as("n_nodes"),
        (col("__cnt") === n && col("__ids") === n).as("labeled_ok"),
        (col("__bad") === 0 && col("__orph") === 0).as("minimal_ok"),
        lit(true).as("verify_pass_ok"))
    }),

    // Graph-walk ANN (HNSW family, Malkov & Yashunin TPAMI 2018, reduced to 2 layers):
    // entry layer = min-id representative per block seeding the beam, then 4 greedy
    // beam-8 hops over the global exact k=8 NN graph. Fully deterministic given the
    // graph (double sims compared raw, ties on id), so unlike the trained-quantizer
    // paths this one hash-matches a DuckDB replay of the whole walk — the only ANN
    // family with an EXACT oracle end-to-end. Per-query work after graph build is
    // O(hops·beam·k) comparisons, independent of corpus size. The graph must be
    // similarity-correlated: label-blocked edges put the true top-1 in another
    // component for 15/16 probes here (recall 0) — hence global edges in the demo,
    // knnEdgesQuantized as the linear-cost construction at scale.
    "emb_graph_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // exactGraph = true: the ORACLE DEMO form — the exact all-pairs graph is what
      // makes the walk DuckDB-replayable end-to-end. The library DEFAULT is the
      // linear-cost quantized graph (VERDICT r8 #2), gated by emb_graph_search_ivf.
      VectorOps.graphSearch(e, e.filter(col("vec_id") < 16), k = 8, beam = 8, hops = 4,
        exactGraph = true)
    }),

    // quality gate for the walk: how many of the 16 queries' TRUE nearest neighbors
    // (exact brute-force top-1 over the whole corpus) does the graph walk retrieve in
    // its final beam — the graph-ANN analogue of the IVF/PQ recall gates, and exactly
    // reproducible because both sides are deterministic (16/16 at sf0.01, 15/16 at
    // sf0.1 — the number itself is oracle-replayed, not thresholded)
    "emb_graph_search_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 16)
      val walk = VectorOps.graphSearch(e, qs, k = 8, beam = 8, hops = 4,
          exactGraph = true)
        .select(col("query_id"), col("node_id"))
      val exact = VectorOps.bruteForceTopK(e, qs, 1)
        .select(col("query_id"), col("neighbor_id").as("node_id"))
      exact.join(walk, Seq("query_id", "node_id"), "left_semi")
        .agg(count(lit(1)).as("n_top1_found"))
        .crossJoin(qs.agg(count(lit(1)).as("n_queries")))
        .select(col("n_queries"), col("n_top1_found"))
    }),

    // PageRank over the QUANTIZER-blocked kNN edges — the scale-path twin of
    // emb_pagerank (VERDICT r7 #3: the fixed-8-label edge list upsamples
    // superlinearly BY CONSTRUCTION — every label block grows 10x => pairs x100 —
    // while IVF cell count grows with N, so the sweep stays ~linear; SCALING.md has
    // the measured rows). Trained edges can't hash-match a DuckDB replay, so the gate
    // is the verdict row (ANN-gate idiom): n_nodes EXACT (every vector probes >= its
    // own cell, hence appears as a src), integer rank-mass conservation (sum of ranks
    // = 1e12 minus floor loss, bounded by (|V|+|E|)*iters units), and the teleport
    // floor (a node with no in-edges scores exactly teleport/N; nothing below).
    "emb_pagerank_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val n = e.count()
      val pr = graft.ops.GraphOps.pageRank(
        VectorOps.knnEdgesQuantized(e, k = 4, nProbe = 6), iters = 3, dampingPct = 85)
      pr.agg(count(lit(1)).as("__n"), sum(col("rank_e12")).as("__mass"),
          min(col("rank_e12")).as("__min"))
        .select(lit(n).as("n_nodes"),
          (col("__n") === n).as("nodes_ok"),
          (col("__mass") <= lit(1000000000000L)
            && col("__mass") >= lit(990000000000L)).as("mass_ok"),
          (col("__min") >= lit(150000000000L / n)).as("floor_ok"))
    }),

    // HITS over the same quantizer-blocked edges — same verdict-row contract:
    // n_nodes exact, strictly positive max hub/authority (the graph always has
    // edges), and the sweep identity max h2(i) = max_i sum_{i->j} a2(j) <= sum a2.
    "emb_hits_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val n = e.count()
      val hs = graft.ops.GraphOps.hits(
        VectorOps.knnEdgesQuantized(e, k = 4, nProbe = 6), iters = 2)
      hs.agg(count(lit(1)).as("__n"), max(col("hub")).as("__mh"),
          max(col("auth")).as("__ma"), sum(col("auth")).as("__sa"))
        .select(lit(n).as("n_nodes"),
          (col("__n") === n).as("nodes_ok"),
          (col("__mh") > 0 && col("__ma") > 0).as("pos_ok"),
          (col("__mh") <= col("__sa")).as("bound_ok"))
    }),

    // the SCALE form of the graph walk: edges from the TRAINED quantizer
    // (knnEdgesQuantized — linear-cost construction) instead of the exact all-pairs
    // demo graph; trained edges can't hash-match a DuckDB replay, so the gate is the
    // verdict row (ANN-gate idiom): n_queries exact, walk recall vs the in-Spark
    // exact top-1 above a floor, and the candidate bound that makes graph search
    // graph-size-independent — the final beam can never exceed `beam` per query
    "emb_graph_search_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 16)
      val edges = VectorOps.knnEdgesQuantized(e, k = 8, nProbe = 6)
      val walk = VectorOps.graphSearch(e, qs, k = 8, beam = 8, hops = 4,
          edgesOverride = Some(edges))
        .select(col("query_id"), col("node_id"))
      val exact = VectorOps.bruteForceTopK(e, qs, 1)
        .select(col("query_id"), col("neighbor_id").as("node_id"))
      val hits = exact.join(walk, Seq("query_id", "node_id"), "left_semi")
        .agg(count(lit(1)).as("__h"))
      val beamMax = walk.groupBy("query_id").agg(count(lit(1)).as("__b"))
        .agg(max(col("__b")).as("__bmax"))
      val nQ = qs.agg(count(lit(1)).as("__nq"))
      hits.crossJoin(beamMax).crossJoin(nQ).select(
        col("__nq").as("n_queries"),
        (col("__h") * 2 >= col("__nq")).as("recall_ok"),
        (col("__bmax") <= 8L).as("bounded_ok"))
    }),

    "emb_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.hardNegatives(e, e.filter(col("vec_id") < 8))
    }),

    "emb_knn_label_eval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.knnLabelEval(e, e.filter(col("vec_id") < 64))
    }),

    "emb_knn_calibration" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.knnCalibration(VectorOps.knnLabelEval(e, e.filter(col("vec_id") < 64)))
    }),

    // Matryoshka coarse-to-fine (Kusupati et al. 2022): prefix-dim coarse scan (8 of 64
    // dims), exact full-dim rerank of the 24 survivors — BOTH stages deterministic
    // (cosine desc, id tiebreak), so unlike the recall-gated ANN family the whole
    // two-stage pipeline hash-matches a DuckDB replay
    "emb_mrl_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.mrlRerankTopK(e, e.filter(col("vec_id") < 8), k = 3,
          prefixDims = 8, coarseK = 24)
        .withColumn("sim", round(col("sim"), 4))
    }),

    // ANN recall gates (VERDICT r1): approximate methods can't hash-match exact top-k on
    // weak-structure data, so the gate row asserts recall ≥ floor vs the oracle-green
    // emb_ann_topk AND sub-linear candidate sets (degenerate single-bucket hashing fails
    // bounded_ok even though its recall is 1.0). Oracle pins the expected verdict.
    // boundedness caps scale WITH the corpus (a literal cap is wrong at any other sf:
    // ivf candidates are ~nProbe/nCentroids of the corpus by construction) — the gate's
    // meaning is "sub-linear vs brute force", so the cap is a corpus fraction
    "emb_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      val cands = VectorOps.lshCandidates(e, q, nPlanes = 4, nTables = 16)
      val approx = VectorOps.lshTopK(e, q, k = 3, nPlanes = 4, nTables = 16)
      // 16-table OR-amplification at 4 planes lands ~70% of the corpus in the union
      // (measured stable across sf) — 85% still fails degenerate one-bucket hashing
      VectorOps.annRecallGate(exact, approx, cands, recallFloor = 0.5,
        candCapFloor = 480L, candCapFrac = 0.85, corpus = e)
    }),

    // Johnson–Lindenstrauss random projection (64 -> 32 dims through one seeded Gaussian
    // matrix riding the plan) + coarse top-96 in projected space + exact rerank. The
    // synthetic embeddings are near-isotropic (neighbor similarities are weak), which is
    // the JL worst case — measured recall@3 over 5 independent projection draws bottoms
    // at 0.71 at sf0.01 with these parameters, so 0.5 is a real floor, not slack.
    // Candidates are exactly coarseK per query (bounded by construction, asserted anyway).
    "emb_rp_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      val cands = VectorOps.rpCandidates(e, q)
      val approx = VectorOps.rpTopK(e, q, k = 3)
      VectorOps.annRecallGate(exact, approx, cands, recallFloor = 0.5, candCap = 480L)
    }),

    // PQ: 16-centroid codebooks over 8 subspaces -> 8 codes/vector (16x smaller than the
    // float32 vectors), ADC-scored shortlist, exact rerank. The shortlist (<= 64/query) IS
    // the candidate set, so boundedness holds by construction and is asserted anyway.
    "emb_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      val short = VectorOps.pqTopK(e, q, k = 64, m = 8, kCode = 16, shortlist = 64)
      val approx = VectorOps.rankTopK(short, 3)
      VectorOps.annRecallGate(exact, approx, short, recallFloor = 0.5, candCap = 480L)
    }),

    // residual quantization (two-level RVQ): the REFINEMENT rung next to PQ's
    // subspace split — level-2 codebook on the residuals, additive two-LUT ADC;
    // same recall/boundedness verdict contract. Resolution comes from CODEBOOK
    // size (64 centroids/level → 4096 effective reconstruction cells), not from
    // rerank depth: the r11 N/16 shortlist was an O(N)-per-query exact rerank in
    // disguise; kCode=64 with a FIXED 64-deep shortlist keeps the rerank budget
    // corpus-independent (recall@3 ≥ 0.5 measured at N=500, 2000, 20000).
    "emb_ann_rq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      val short = VectorOps.rqTopK(e, q, k = 64, kCode = 64, shortlist = 64)
      val approx = VectorOps.rankTopK(short, 3)
      VectorOps.annRecallGate(exact, approx, short, recallFloor = 0.5, candCap = 480L)
    }),

    // OPQ-style rotate-then-PQ (Ge et al. 2013, PCA-initialized): the self-verifying
    // gate checks the two OPQ preconditions IN-PLAN — the trained basis is orthonormal
    // (driver check on the model scalar) and cosine top-k is invariant under the pure
    // rotation (exact top-k on rotated == exact top-k on original) — plus the usual
    // recall/boundedness of PQ run in the rotated space
    "emb_ann_opq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val model = VectorOps.opqFit(e)
      val b = model.basis
      val ortho = b.indices.forall(i => b.indices.forall { j =>
        var s = 0.0; var d = 0; while (d < b(i).length) { s += b(i)(d) * b(j)(d); d += 1 }
        math.abs(s - (if (i == j) 1.0 else 0.0)) < 1e-6
      })
      val rot = VectorOps.rotateFull(e, model)
      val rotQ = VectorOps.rotateFull(q, model)
      val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      val exactRot = VectorOps.bruteForceTopK(rot, rotQ, k = 3)
      val short = VectorOps.pqTopK(rot, rotQ, k = 64, m = 8, kCode = 16, shortlist = 64)
      val approx = VectorOps.rankTopK(short, 3)
      val gate = VectorOps.annRecallGate(exact, approx, short, recallFloor = 0.5, candCap = 480L)
      val inv = exact.select("query_id", "neighbor_id")
        .join(exactRot.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_inv"))
      val nEx = exact.agg(count(lit(1)).as("n_ex"))
      gate.crossJoin(broadcast(inv)).crossJoin(broadcast(nEx))
        .select(col("n_queries"), lit(ortho).as("basis_orthonormal_ok"),
          (col("n_inv") === col("n_ex")).as("rotation_topk_ok"),
          col("recall_ok"), col("bounded_ok"))
    }),

    // SQ8: one byte per dimension (4x compression, per-dim resolution — the cheap point
    // before PQ's 16-32x), asymmetric scoring (query floats vs corpus codes, no decode),
    // exact rerank of the <=64/query shortlist; recall floor mirrors emb_ann_pq
    "emb_ann_sq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      val short = VectorOps.sqTopK(e, q, k = 64, shortlist = 64)
      val approx = VectorOps.rankTopK(short, 3)
      VectorOps.annRecallGate(exact, approx, short, recallFloor = 0.5, candCap = 480L)
    }),

    // Frequent Directions matrix sketch (Liberty 2013; mergeable per Ghashami et
    // al. 2016) — the MATRIX member of the sketch family: ℓ×d state preserving the
    // corpus's d×d second-moment structure to additive spectral error
    // ‖AᵀA − BᵀB‖₂ ≤ 2‖A‖_F²/ℓ with AᵀA − BᵀB ⪰ 0. Row values are
    // aggregation-order-dependent (floating SVD), so the gate pins the GUARANTEE
    // against the exact gram (VectorOps.fdGate — the ANN verdict discipline).
    "emb_fd_sketch" -> ((s, dir) =>
      VectorOps.fdGate(t(s, dir, "embeddings"), l = 16)),

    // INCREMENTAL FD (streaming/IncrementalFd): three vector waves against O(ℓ·d)
    // versioned sketch state — each wave aggregates ITSELF distributed, the driver
    // merges ≤ 2ℓ rows through the same shrink path (FD is a mergeable summary).
    // Maintained FD is NOT row-identical to one-shot (the SVD sees another insertion
    // order), so the gate is the same spectral GUARANTEE vs the exact union gram.
    "emb_fd_incremental" -> ((s, dir) => {
      import graft.streaming.IncrementalFd
      val e = t(s, dir, "embeddings").localCheckpoint(true)
      val state = java.nio.file.Files.createTempDirectory("graft-ifd").toString
      for (b <- 0 to 2)
        IncrementalFd.applyBatch(
          e.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong, state, l = 16)
      val sk = IncrementalFd.current(s, state)
      val out = VectorOps.fdGateWithSketch(e, sk, l = 16).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(state))
      out
    }),

    // binary quantization (SimHash sign bits — the 32×-and-beyond end of the
    // compression ladder past SQ8): a 256-bit multi-word signature per vector,
    // summed XOR+POPCNT Hamming candidates, exact-cosine rerank of a FIXED 64-deep
    // shortlist. Resolution comes from the bit budget, not the rerank budget: a
    // 64-bit signature's Hamming ties flooded a fixed shortlist as N grew (the r10
    // recall fail at N=2000), and widening the shortlist to N/16 was an O(N)
    // exact rerank per query — brute force divided by a constant. 256 bits
    // sharpens the angle estimate 2× (std π/(2√bits)) and keeps the rerank a
    // corpus-independent O(shortlist): measured recall@3 ≥ 0.5 at N=500, 2000,
    // and 20000 with this fixed shortlist.
    "emb_ann_bq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      val short = VectorOps.bqTopK(e, q, k = 64, shortlist = 64, bits = 256)
      val approx = VectorOps.rankTopK(short, 3)
      VectorOps.annRecallGate(exact, approx, short, recallFloor = 0.5, candCap = 480L)
    }),

    // the PERSISTED-index form of emb_ann_bq — the steady-state 100 TB probe: the
    // signature index is written once (bits/8 bytes per vector, 8× smaller than the
    // raw floats at d=64), the Hamming candidate scan reads ONLY (id, sig), and the
    // raw vectors are fetched for just the queries×shortlist rerank rows. The gate
    // pins ROW-IDENTITY to the in-scan form (same seeded planes, same heap
    // tie-break): a drifting signature contract or a lossy fetch join fails loudly.
    "emb_ann_bq_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val tmp = java.nio.file.Files.createTempDirectory("graft_bqindex").toString
      VectorOps.bqIndex(e, bits = 256).write.mode("overwrite").parquet(tmp)
      val idx = s.read.parquet(tmp)
      val a = VectorOps.bqTopKFromIndex(idx, e, q, k = 3, shortlist = 64, bits = 256)
        .select(col("query_id"), col("neighbor_id"))
      val b = VectorOps.rankTopK(
        VectorOps.bqTopK(e, q, k = 64, shortlist = 64, bits = 256), 3)
        .select(col("query_id"), col("neighbor_id"))
      val nA = a.agg(count(lit(1)).as("n_via_index"))
      val onlyA = a.exceptAll(b).agg(count(lit(1)).as("n_only_index"))
      val onlyB = b.exceptAll(a).agg(count(lit(1)).as("n_only_inscan"))
      val out = q.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(nA)).crossJoin(broadcast(onlyA)).crossJoin(broadcast(onlyB))
        .select(col("n_queries"),
          (col("n_only_index") === 0 && col("n_only_inscan") === 0).as("index_matches_inscan"),
          (col("n_via_index") === col("n_queries") * 3).as("k_rows_ok"))
        .localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      out
    }),

    // the SUB-LINEAR form of the persisted probe (VERDICT r13 #1): the signature
    // index is written partitionBy(cell) under a coarse k-means quantizer, and a
    // probe's cell set reaches the parquet scan as a literal partition filter —
    // candidate Hamming work drops from O(N) per probe wave to
    // O(N · nProbe / nCentroids), the emb_ann_ivfpq shape over signatures. Gated
    // on recall vs the exact top-k AND corpus-relative candidate boundedness (a
    // degenerate everything-in-one-cell clustering fails bounded_ok).
    "emb_ann_bq_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      val centroids = VectorOps.kmeansFit(e, 16, iters = 2)
      val tmp = java.nio.file.Files.createTempDirectory("graft_bqivf").toString
      VectorOps.bqIvfIndex(e, centroids, bits = 256)
        .write.mode("overwrite").partitionBy("cell").parquet(tmp)
      val idx = s.read.parquet(tmp)
      val cands = VectorOps.bqIvfCandidates(idx, q, centroids, nProbe = 4, bits = 256)
      val approx = VectorOps.bqTopKFromIvfIndex(idx, e, q, k = 3, centroids,
        nProbe = 4, shortlist = 64, bits = 256)
      val out = VectorOps.annRecallGate(exact, approx, cands, recallFloor = 0.25,
        candCapFloor = 400L, candCapFrac = 0.6, corpus = e).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      out
    }),

    // ANN index MAINTENANCE (the streaming reality of a growing corpus): the
    // signature index is maintained wave-by-wave through IncrementalBqIndex —
    // per-batch work is O(batch) signing, waves are _SUCCESS-committed and
    // overwrite-convergent on replay (a naive append index would duplicate
    // signature rows under at-least-once foreachBatch). The gate pins (a) probe
    // ROW-IDENTITY between the 3-wave maintained index and a one-shot build over
    // the same corpus+quantizer, and (b) commit-gating: an injected uncommitted
    // wave full of duplicate ids must be invisible (if it leaked into the probe,
    // duplicate neighbors would break the row identity).
    "emb_ann_bq_index_incremental" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val cents = VectorOps.kmeansFit(e, 16, iters = 2)
      val tmp = java.nio.file.Files.createTempDirectory("graft_bqinc").toString
      for (b <- 0 to 2)
        graft.streaming.IncrementalBqIndex.applyBatch(
          e.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong, tmp, cents, bits = 256)
      // crash junk: a wave written but never committed (no _SUCCESS) — duplicates
      // of already-indexed ids, fatal to the row identity if it leaked
      VectorOps.bqIvfIndex(e.filter(col("vec_id") < 200), cents, bits = 256)
        .write.partitionBy("cell").parquet(s"$tmp/w=99")
      new java.io.File(s"$tmp/w=99/_SUCCESS").delete()
      val idx = graft.streaming.IncrementalBqIndex.index(s, tmp)
      val a = VectorOps.bqTopKFromIvfIndex(idx, e, q, k = 3,
          graft.streaming.IncrementalBqIndex.centroids(s, tmp), nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val tmp2 = java.nio.file.Files.createTempDirectory("graft_bqinc_full").toString
      VectorOps.bqIvfIndex(e, cents, bits = 256)
        .write.mode("overwrite").partitionBy("cell").parquet(tmp2)
      val b2 = VectorOps.bqTopKFromIvfIndex(s.read.parquet(tmp2), e, q, k = 3,
          cents, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val nA = a.agg(count(lit(1)).as("n_via_incremental"))
      val onlyA = a.exceptAll(b2).agg(count(lit(1)).as("n_only_incremental"))
      val onlyB = b2.exceptAll(a).agg(count(lit(1)).as("n_only_full"))
      val out = q.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(nA)).crossJoin(broadcast(onlyA)).crossJoin(broadcast(onlyB))
        .select(col("n_queries"),
          (col("n_only_incremental") === 0 && col("n_only_full") === 0)
            .as("incremental_matches_full"),
          (col("n_via_incremental") === col("n_queries") * 3).as("k_rows_ok"))
        .localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp2))
      out
    }),

    "emb_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      val cands = VectorOps.ivfCandidates(e, q, nCentroids = 16, nProbe = 4)
      val approx = VectorOps.ivfTopK(e, q, k = 3, nCentroids = 16, nProbe = 4)
      // nProbe/nCentroids = 25% of the corpus expected; 60% leaves skew room while
      // still failing a degenerate everything-in-one-cell clustering
      VectorOps.annRecallGate(exact, approx, cands, recallFloor = 0.25,
        candCapFloor = 400L, candCapFrac = 0.6, corpus = e)
    }),

    // Histogram-based join-cardinality prediction — the pre-flight a 100 TB join runs
    // BEFORE committing cluster time: |A ⋈ B| = Σ_k cA(k)·cB(k) over the two key
    // histograms (key-count-sized, tiny next to the join), then the actual join row
    // count alongside — the `cardinality_match` bit is the audit that the estimator
    // (and the stats feeding a cost-based optimizer) is exact, not approximate.
    "q_join_cost_audit" -> ((s, dir) => {
      val ce = t(s, dir, "events").groupBy(col("user_id").as("k"))
        .agg(count(lit(1)).as("ca"))
      val co = t(s, dir, "orders").groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("cb"))
      val pred = ce.join(co, "k")
        .agg(count(lit(1)).as("n_keys_common"),
          sum(col("ca") * col("cb")).cast("long").as("predicted_rows"))
      val actual = t(s, dir, "events")
        .join(t(s, dir, "orders"), col("user_id") === col("o_custkey"))
        .agg(count(lit(1)).as("actual_rows"))
      pred.crossJoin(broadcast(actual))
        .select(col("n_keys_common"), col("predicted_rows"), col("actual_rows"),
          (col("predicted_rows") === col("actual_rows")).as("cardinality_match"))
    }),

    // Dataset CARD — the one-row summary a dataset release ships (HF dataset-card
    // numbers): sizes, language/source spread, English share, mean quality (per-doc
    // scores quantized to DECIMAL before the sum, so the mean replays bit-identically)
    // and the near-dup pair count off the exact Jaccard machinery. Every statistic
    // reuses an already-gated operator; the card is their broadcast join.
    "doc_dataset_card" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val base = d.select(col("lang"), col("source"),
          size(TextOps.tokensCol(col("text"))).cast("long").as("__nt"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).cast("long").as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("__en"))
      val q = TextOps.qualityScore(d)
        .agg(sum(col("quality_score").cast(DecimalType(18, 8))).as("__qs"),
          count(lit(1)).as("__qn"))
      val nd = DedupOps.ngramJaccardPairs(d, threshold = 0.2)
        .agg(count(lit(1)).as("n_neardup_pairs"))
      base.crossJoin(broadcast(q)).crossJoin(broadcast(nd))
        .select(col("n_docs"), col("n_tokens"), col("n_langs"), col("n_sources"),
          round(col("n_tokens").cast(DoubleType) / col("n_docs"), 2).as("mean_doc_tokens"),
          round(col("__en").cast(DoubleType) / col("n_docs"), 4).as("en_share"),
          round(col("__qs").cast(DoubleType) / col("__qn"), 4).as("mean_quality"),
          col("n_neardup_pairs"))
    }),

    // Quality-budget tradeoff curve — "keep everything scoring ≥ s: how many docs and
    // tokens do I get": descending cumulative over the SCORE GRID (quality scores
    // round to 4dp, so state is grid-bounded like q_pareto_cut — never a corpus-sized
    // rank window). The curve is what picks the retention threshold before a 100 TB
    // filter pass.
    "doc_quality_budget" -> ((s, dir) => {
      val q = TextOps.qualityScore(t(s, dir, "documents"))
        .select(col("quality_score"), col("n_tokens"))
      val g = q.groupBy(col("quality_score"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("__tk"))
      val wDesc = Window.orderBy(col("quality_score").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("cum_docs", sum(col("n_docs")).over(wDesc).cast("long"))
        .withColumn("cum_tokens", sum(col("__tk")).over(wDesc).cast("long"))
        .withColumn("__tot", sum(col("__tk")).over(wAll).cast("long"))
        .select(col("quality_score"), col("n_docs"), col("cum_docs"), col("cum_tokens"),
          round(col("cum_tokens").cast(DoubleType) / col("__tot"), 6).as("frac_tokens"))
    }),

    // Duplication–length correlation — the curation diagnostic behind "does dedup
    // bias the corpus": Pearson r between a doc's exact-dup copy count and its
    // length. Every moment is a BIGINT sum of integers (copy counts × n_chars), so
    // the correlation is one fixed-order double expression over exact operands.
    // Shape: md5-group sizes (text never shuffles — the hash joins back on itself),
    // then a single 6-sum fold.
    "doc_dup_length_corr" -> ((s, dir) => {
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"), col("n_chars"))
      // the synthetic corpus has no exact dups — plant copies of every 5th doc (the
      // doc_prefix_dups idiom) so the copy-count variable has variance
      val d = d0.union(d0.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("n_chars")))
      val grp = d.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("x"))
      val m = d.select(md5(col("text")).as("h"), col("n_chars").as("y"))
        .join(grp, "h")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("long").as("sx"), sum(col("y")).cast("long").as("sy"),
          sum(col("x") * col("y")).cast("long").as("sxy"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("y") * col("y")).cast("long").as("syy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
      val den2 = (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
        (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)
      m.select(col("n").as("n_docs"),
        when(col("n") > 1 && den2 > 0, round(num / sqrt(den2), 6))
          .as("corr_copies_chars"))
    }),

    // Clustering-quality eval: PURITY of the k-means assignment against the held
    // labels (Σ over clusters of the majority-label count, / N) plus cluster-usage
    // stats — the embedding-space health check run before trusting any
    // cluster-structured op (semdedup, IVF). Assignments are kmeans-engine-specific,
    // so the gate is verdict-style: exact mass conservation, better-than-chance
    // purity, and no collapsed clustering. One narrow assignment map (broadcast
    // centroids), one (cluster,label)-keyed exchange, label-count-bounded folds.
    "emb_cluster_purity" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = VectorOps.kmeansFit(e, 10, iters = 3)
      val assigned = e.select(col("label"),
        graft.functions.VectorFunctions.nearestCentroids(col("embedding"), model, 1)
          .getItem(0).as("cluster"))
      val cells = assigned.groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("c"))
      val perCluster = cells.groupBy(col("cluster"))
        .agg(sum(col("c")).cast("long").as("n"), max(col("c")).cast("long").as("maj"))
      perCluster.agg(
          sum(col("n")).cast("long").as("n_vecs"),
          count(lit(1)).as("n_clusters_used"),
          sum(col("maj")).cast("long").as("__m"))
        .crossJoin(broadcast(e.select(countDistinct(col("label")).as("__nl"))))
        .select(col("n_vecs"),
          (col("n_clusters_used") >= 2).as("not_collapsed_ok"),
          // strictly better than the 1/|labels| chance rate
          (col("__m").cast(DoubleType) * col("__nl") > col("n_vecs").cast(DoubleType))
            .as("purity_above_chance_ok"))
    }),

    // IVF recall-vs-nProbe curve — the tuning artifact an ANN deployment reads before
    // fixing its probe budget. Monotonicity is a TRUE INVARIANT (top-nProbe centroid
    // lists nest, so candidate sets nest, and a global-top-k member found in a subset
    // survives in every superset — at most k−1 vectors anywhere beat it); the floor
    // verdict matches emb_ann_ivf's. All four probes share one trained quantizer and
    // one exact reference — no collect, the whole curve is one unioned plan.
    "emb_ivf_recall_curve" -> ((s, dir) =>
      ivfRecallCurve(s, dir, VectorOps.kmeansFit(t(s, dir, "embeddings"), 16, iters = 2))),

    // A/B-test POWER planner per metric stream: from the observed variance, the
    // per-arm sample size for a 5% relative minimum-detectable-effect at α=0.05
    // (two-sided) / 80% power — n = 2σ²(z_{α/2}+z_β)²/δ². Moments ride the repo's
    // exact-decimal discipline (same as ev_ab_ttest); the z-constant is the fixed
    // literal 7.8489 ≈ (1.959964+0.841621)². Reported as a rounded double (no ceil —
    // a boundary-sensitive integer would be the one non-reproducible bit).
    "ev_power_analysis" -> ((s, dir) => {
      val xq = col("value").cast(DecimalType(18, 8))
      val m = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), xq.as("__x"),
          (xq * xq).cast(DecimalType(28, 10)).as("__x2"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("__x")).as("__s1"), sum(col("__x2")).as("__s2"))
        // an n=1 arm has no sample variance: (n-1)=0 divides to Infinity in Spark but
        // diverges in DuckDB — degenerate groups are excluded in BOTH engines
        // (ADVICE r6)
        .filter(col("n") >= 2)
      val mean = col("__s1").cast(DoubleType) / col("n")
      val vr = (col("__s2").cast(DoubleType) -
        col("__s1").cast(DoubleType) * col("__s1").cast(DoubleType) / col("n")) / (col("n") - 1)
      val mde = mean * 0.05
      m.select(col("event_type"), col("n"),
        round(mean, 4).as("mean"), round(vr, 4).as("variance"),
        round(lit(2.0) * vr * 7.8489 / (mde * mde), 2).as("n_per_arm"))
    }),

    // Per-user PATH PERPLEXITY — the bigram-LM discipline applied to behavior: score
    // each user's event-type transition stream against the CORPUS transition model
    // (maximum-likelihood P(next|cur) from the global counts); low average logprob =
    // an unusual navigation pattern (fraud/bot/broken-client triage, the behavioral
    // twin of doc_bigram_logprob). Exactness: the per-transition log10 quantizes to
    // DECIMAL(18,8) and multiplies integer multiplicities — the repo's LM sum
    // discipline, bit-replayable. Shape: one user-keyed window builds transitions,
    // the transition model is |types|² and broadcasts back.
    "ev_path_perplexity" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val tr = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type").as("cur"),
          unix_millis(col("ts")).as("ms"))
        .withColumn("nxt", lead(col("cur"), 1).over(w))
        .filter(col("nxt").isNotNull)
      // materialize the collapsed (user, cur, nxt, k) table: the model, the from-totals
      // and the final scoring all fold off it — without this the user-window pass over
      // the raw events would run three times. localCheckpoint, NOT persist: a bare
      // persist() in a returned plan leaks a cache entry the caller can never release
      // (ADVICE r6); checkpoint blocks are freed by the ContextCleaner once the plan
      // is garbage-collected
      val perUser = tr.groupBy(col("user_id"), col("cur"), col("nxt"))
        .agg(count(lit(1)).as("k")).localCheckpoint(eager = true)
      val model = perUser.groupBy(col("cur"), col("nxt"))
        .agg(sum(col("k")).cast("long").as("cb"))
      val fromTot = model.groupBy(col("cur")).agg(sum(col("cb")).cast("long").as("cf"))
      val lp = log(10.0, col("cb").cast(DoubleType) / col("cf"))
        .cast(DecimalType(18, 8))
      perUser
        .join(broadcast(model), Seq("cur", "nxt"))
        .join(broadcast(fromTot), Seq("cur"))
        .groupBy(col("user_id"))
        .agg(sum(col("k")).cast("long").as("n_transitions"),
          round(sum(col("k").cast(DecimalType(10, 0)) * lp).cast(DoubleType)
            / sum(col("k")), 4).as("avg_logprob"))
    }),

    // DAU/WAU stickiness — the engagement ratio product analytics reads daily: for
    // each day, distinct actives that day over distinct actives in the trailing 7
    // days. Exact distinct via the DEDUPLICATED (day, user) pair table (one corpus
    // exchange); the trailing window is a bounded 7× fan-out of that pair table
    // against the broadcast day grid — never a distinct-over-window on raw events.
    "ev_stickiness" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("d"), col("user_id"))
        .distinct()
      val days = ud.select(col("d").as("day")).distinct()
      val dau = ud.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
      val wau = ud.join(broadcast(days),
          col("d").between(col("day") - 6, col("day")))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast(DoubleType) / col("wau"), 6).as("stickiness"))
    }),

    // Workload DRIFT between observation halves: Jensen-Shannon divergence of the
    // (dow, hour) activity distributions, first half vs second half — the time-side
    // twin of doc_js_divergence (same per-term DECIMAL(18,12) ln quantization, same
    // zero-termed full-outer shape), over a 168-cell grid so every post-count step is
    // constant-size. The midpoint is integer-derived from the data, no wall clock.
    "ev_load_shift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("d"),
          expr("(unix_millis(ts) div 3600000) % 24").as("hour"))
      // collapse to the (day, hour) grid FIRST — the midpoint window and the half
      // split then ride ≤ |days|·24 rows, and the corpus pays exactly one exchange
      val grid = ev.groupBy(col("d"), col("hour")).agg(count(lit(1)).as("c"))
      val wAll = Window.partitionBy(lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val marked = grid
        .withColumn("__mn", min(col("d")).over(wAll))
        .withColumn("__mx", max(col("d")).over(wAll))
        .withColumn("h1", col("d") < expr("(__mn + __mx + 1) div 2"))
      val cells = marked
        .groupBy(expr("(d + 4) % 7").as("dow"), col("hour"))
        .agg(sum(when(col("h1"), col("c")).otherwise(0L)).cast("long").as("ca"),
          sum(when(!col("h1"), col("c")).otherwise(0L)).cast("long").as("cb"))
      val tot = cells.agg(sum(col("ca")).cast("long").as("na"),
        sum(col("cb")).cast("long").as("nb"))
      val dec12 = DecimalType(18, 12)
      val pa = col("ca").cast(DoubleType) / col("na")
      val pb = col("cb").cast(DoubleType) / col("nb")
      val den = pa + pb
      val termA = when(col("ca") > 0, (pa * log((pa * 2) / den)).cast(dec12))
        .otherwise(lit(0).cast(dec12))
      val termB = when(col("cb") > 0, (pb * log((pb * 2) / den)).cast(dec12))
        .otherwise(lit(0).cast(dec12))
      cells.crossJoin(broadcast(tot))
        .agg(count(when(col("ca") > 0 && col("cb") > 0, 1)).as("n_common_cells"),
          sum(termA).as("__sa"), sum(termB).as("__sb"))
        .select(col("n_common_cells"),
          round((col("__sa") + col("__sb")).cast(DoubleType) / 2, 8).as("jsd_nats"))
    }),

    // Forecast BACKTEST with the seasonal-naive baseline (predict today = same
    // weekday last week) — the sanity floor every real forecaster must beat, and the
    // backtest harness is the deliverable: per-day absolute/percentage errors over
    // the evaluable window, all from exact integer counts (MAE/MAPE are the only
    // rounded divisions). Self-joining the DAILY series on day−7 is collapsed-series
    // work; the corpus contributes one count exchange.
    "ev_forecast_backtest" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      val pred = daily.select((col("day") + 7).as("day"), col("c").as("pred"))
      daily.join(pred, "day")
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("c") - col("pred"))).cast("long").as("__sae"),
          sum((abs(col("c") - col("pred")).cast(DoubleType) / col("c"))
            .cast(DecimalType(18, 8))).as("__sape"))
        .select(col("n_days"),
          round(col("__sae").cast(DoubleType) / col("n_days"), 4).as("mae"),
          round(col("__sape").cast(DoubleType) / col("n_days"), 6).as("mape"))
    }),

    // Holt-Winters additive triple exponential smoothing (level/trend/weekly season;
    // Winters 1960) over the per-type daily series, h=1..7 forecasts — the classic
    // forecaster the seasonal-naive backtest above is the floor for. EXACT integer
    // recursion: counts scaled to 1e-6 units, smoothing constants as rational
    // multiplies with truncating integer division (alpha=2/10, beta=1/10, gamma=3/10;
    // Spark `div` and DuckDB `//` both truncate toward zero, so every intermediate is
    // the identical BIGINT in both engines — no float drift over any series length).
    // The recursion is inherently sequential PER KEY but keys are independent: the
    // corpus contributes one count exchange to daily grain, then each series folds
    // inside `aggregate` over its (window-length-bounded, ≤ a few thousand entries)
    // array — the same collapsed-series shape as ev_seasonal_decompose. Init: level =
    // first-week mean, trend = 0, season_i = y_i - level; fold starts at day 7.
    "ev_holt_winters" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg((count(lit(1)) * lit(1000000L)).as("y"))
      daily.groupBy(col("event_type"))
        .agg(expr("transform(array_sort(collect_list(struct(day, y))), x -> x.y)").as("ys"))
        .filter(size(col("ys")) >= 14)
        .withColumn("lvl0", expr("aggregate(slice(ys, 1, 7), 0L, (a, x) -> a + x) div 7"))
        .withColumn("fin", expr(
          """aggregate(
            |  slice(ys, 8, size(ys) - 7),
            |  named_struct('lvl', lvl0, 'tr', 0L,
            |    's', transform(slice(ys, 1, 7), x -> x - lvl0), 't', 7L),
            |  (acc, y) -> named_struct(
            |    'lvl', (2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |           + (8 * (acc.lvl + acc.tr)) div 10,
            |    'tr', (((2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |           + (8 * (acc.lvl + acc.tr)) div 10) - acc.lvl) div 10
            |          + (9 * acc.tr) div 10,
            |    's', transform(acc.s, (v, j) -> IF(j = cast(acc.t % 7 as int),
            |           (3 * (y - ((2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |                      + (8 * (acc.lvl + acc.tr)) div 10))) div 10
            |           + (7 * element_at(acc.s, cast(acc.t % 7 as int) + 1)) div 10, v)),
            |    't', acc.t + 1L))""".stripMargin))
        .select(col("event_type"), explode(expr("sequence(1, 7)")).as("horizon"), col("fin"))
        .select(col("event_type"), col("horizon"),
          expr("fin.lvl + horizon * fin.tr + " +
            "element_at(fin.s, cast((fin.t + horizon - 1) % 7 as int) + 1)").as("forecast_e6"))
    }),

    // DAMPED-trend Holt-Winters (Gardner & McKenzie 1985) — the production-forecasting
    // default: an un-damped linear trend extrapolates h·tr forever and overshoots at
    // long horizons; damping multiplies the trend by φ = 9/10 at every step, so the
    // forecast trend contribution is the CONVERGING sum Σ φ^j·tr. Same integer-exact
    // discipline as ev_holt_winters: φ·tr is one more truncating rational multiply
    // ((9·tr) div 10), the forecast damped sum is an ITERATED truncation
    // (ft_{j+1} = (9·ft_j) div 10) — every intermediate the identical BIGINT in both
    // engines. Same collapsed-series scale shape: one count exchange, per-key fold.
    // Streaming twin: graft.streaming.HoltWinters(phiNum = 9).
    "ev_holt_damped" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg((count(lit(1)) * lit(1000000L)).as("y"))
      daily.groupBy(col("event_type"))
        .agg(expr("transform(array_sort(collect_list(struct(day, y))), x -> x.y)").as("ys"))
        .filter(size(col("ys")) >= 14)
        .withColumn("lvl0", expr("aggregate(slice(ys, 1, 7), 0L, (a, x) -> a + x) div 7"))
        .withColumn("fin", expr(
          """aggregate(
            |  slice(ys, 8, size(ys) - 7),
            |  named_struct('lvl', lvl0, 'tr', 0L,
            |    's', transform(slice(ys, 1, 7), x -> x - lvl0), 't', 7L),
            |  (acc, y) -> named_struct(
            |    'lvl', (2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |           + (8 * (acc.lvl + (9 * acc.tr) div 10)) div 10,
            |    'tr', (((2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |           + (8 * (acc.lvl + (9 * acc.tr) div 10)) div 10) - acc.lvl) div 10
            |          + (9 * ((9 * acc.tr) div 10)) div 10,
            |    's', transform(acc.s, (v, j) -> IF(j = cast(acc.t % 7 as int),
            |           (3 * (y - ((2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |                      + (8 * (acc.lvl + (9 * acc.tr) div 10)) div 10))) div 10
            |           + (7 * element_at(acc.s, cast(acc.t % 7 as int) + 1)) div 10, v)),
            |    't', acc.t + 1L))""".stripMargin))
        .select(col("event_type"), explode(expr("sequence(1, 7)")).as("horizon"), col("fin"))
        .select(col("event_type"), col("horizon"),
          expr("fin.lvl + aggregate(sequence(1, horizon), " +
            "named_struct('acc', 0L, 'ft', fin.tr), " +
            "(a, j) -> named_struct('acc', a.acc + (9 * a.ft) div 10, " +
            "'ft', (9 * a.ft) div 10)).acc + " +
            "element_at(fin.s, cast((fin.t + horizon - 1) % 7 as int) + 1)").as("forecast_e6"))
    }),

    // MULTIPLICATIVE Holt-Winters — completes the forecasting triple (additive,
    // damped, multiplicative): seasonality as a RATIO around the level (the right
    // model when weekly swing grows with traffic, e.g. a corpus that doubles —
    // additive seasonals under-swing, multiplicative ones scale). Integer-exact via
    // e6-scaled seasonal indices: deseasonalize = (y·10⁶) div sᵢ, reseasonalize =
    // (lvl·sᵢ) div 10⁶, each ONE truncating BIGINT division identical under Spark
    // `div` and DuckDB `//`. Bound: y ≤ ~10¹² (count·10⁶) keeps y·10⁶ ≤ 10¹⁸ < 2⁶³.
    // Init: level = first-week mean, trend 0, sᵢ = (yᵢ·10⁶) div lvl0. Divisors are
    // clamped `greatest(·, 1)` IDENTICALLY here and in the oracle (ADVICE r9 #2):
    // a seasonal index can truncate to 0 under extreme skew (one init-week day's
    // y·10⁶ < lvl0) and lvl2 can go non-positive on a steeply declining series —
    // unclamped, ANSI Spark throws and DuckDB errors; clamped, both stay defined
    // and bit-equal.
    "ev_holt_multiplicative" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg((count(lit(1)) * lit(1000000L)).as("y"))
      daily.groupBy(col("event_type"))
        .agg(expr("transform(array_sort(collect_list(struct(day, y))), x -> x.y)").as("ys"))
        .filter(size(col("ys")) >= 14)
        .withColumn("lvl0", expr("aggregate(slice(ys, 1, 7), 0L, (a, x) -> a + x) div 7"))
        .withColumn("fin", expr(
          """aggregate(
            |  slice(ys, 8, size(ys) - 7),
            |  named_struct('lvl', lvl0, 'tr', 0L,
            |    's', transform(slice(ys, 1, 7), x -> (x * 1000000L) div lvl0), 't', 7L),
            |  (acc, y) -> named_struct(
            |    'lvl', (2 * ((y * 1000000L) div greatest(element_at(acc.s, cast(acc.t % 7 as int) + 1), 1L))) div 10
            |           + (8 * (acc.lvl + acc.tr)) div 10,
            |    'tr', (((2 * ((y * 1000000L) div greatest(element_at(acc.s, cast(acc.t % 7 as int) + 1), 1L))) div 10
            |           + (8 * (acc.lvl + acc.tr)) div 10) - acc.lvl) div 10
            |          + (9 * acc.tr) div 10,
            |    's', transform(acc.s, (v, j) -> IF(j = cast(acc.t % 7 as int),
            |           (3 * ((y * 1000000L) div
            |                 greatest((2 * ((y * 1000000L) div greatest(element_at(acc.s, cast(acc.t % 7 as int) + 1), 1L))) div 10
            |                  + (8 * (acc.lvl + acc.tr)) div 10, 1L))) div 10
            |           + (7 * element_at(acc.s, cast(acc.t % 7 as int) + 1)) div 10, v)),
            |    't', acc.t + 1L))""".stripMargin))
        .select(col("event_type"), explode(expr("sequence(1, 7)")).as("horizon"), col("fin"))
        .select(col("event_type"), col("horizon"),
          expr("((fin.lvl + horizon * fin.tr) * " +
            "element_at(fin.s, cast((fin.t + horizon - 1) % 7 as int) + 1)) div 1000000L")
            .as("forecast_e6"))
    }),

    // Survival-analysis hazard table (the Kaplan-Meier life table without the
    // cumulative product — every column stays an EXACT integer or one rounded ratio):
    // per user, lifespan = last−first event day; users still active in the final 3
    // days of the observation window are right-CENSORED (they leave the risk set
    // without counting as churn). Per distinct lifespan t: n_risk = users with
    // lifespan ≥ t, n_churn = uncensored deaths at t, hazard = n_churn/n_risk.
    // Shape: one user-keyed exchange to lifespans, then a histogram + descending
    // cumulative bounded by the DAY GRID (≤ window length), never |users|.
    "ev_survival_hazard" -> ((s, dir) => {
      // ONE corpus scan: collapse to the checkpointed (lifespan, last-day) grid
      // (≤ days² cells); the observation end and the life table both read it — no
      // second scan, no unit-cardinality window (same shape as SampleOps.kaplanMeier)
      val lifeGrid = t(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("d"))
        .groupBy(col("user_id"))
        .agg(min(col("d")).as("__f"), max(col("d")).as("__l"))
        .groupBy((col("__l") - col("__f")).as("t"), col("__l"))
        .agg(count(lit(1)).as("__n"))
        .localCheckpoint(eager = false)
      val end = lifeGrid.agg(max(col("__l")).as("__end"))
      val grid = lifeGrid.crossJoin(broadcast(end))
        .groupBy(col("t"))
        .agg(sum(col("__n")).as("__n_at"),
          sum(when(col("__l") < col("__end") - 2, col("__n")).otherwise(0L))
            .as("n_churn"))
      val wDesc = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      grid
        .withColumn("n_risk", sum(col("__n_at")).over(wDesc).cast("long"))
        .select(col("t"), col("n_risk"), col("n_churn"),
          round(col("n_churn").cast(DoubleType) / col("n_risk"), 6).as("hazard"))
    }),

    // Kaplan–Meier product-limit curve — the cumulative-survival completion of
    // ev_survival_hazard's life table (same risk sets, same 3-day right-censoring).
    // The float product Π(1−dᵢ/nᵢ) has no cross-engine bit guarantee, so survival is
    // the exact-BIGINT truncating recurrence sₖ = sₖ₋₁·(nᵢ−dᵢ) div nᵢ at e12 scale
    // (the Holt-Winters fold idiom; exact to ~9.2M units at risk, DECIMAL(38,0)
    // beyond). Day-grid bounded after one user-keyed exchange (SampleOps.kaplanMeier).
    "ev_kaplan_meier" -> ((s, dir) =>
      SampleOps.kaplanMeier(t(s, dir, "events"), col("user_id"),
        expr("unix_millis(ts) div 86400000"))),

    // Bot/automation screen from inter-event timing: a scripted client's gaps are
    // near-constant, a human's are overdispersed. Per user (≥ 5 gaps): mean gap and
    // the squared coefficient of variation cv² = (n·Σg² − (Σg)²)/(Σg)² — SCALE-FREE
    // and division-free to the last rounded step (gaps are exact epoch-ms LONGs).
    // Poisson arrivals give cv² ≈ 1; cv² < 0.1 flags metronome regularity. One
    // user-keyed window for the lag, one user-keyed aggregate — same exchange.
    "ev_bot_score" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
        .withColumn("g", col("ms") - lag(col("ms"), 1).over(w))
        .filter(col("g").isNotNull)
      // g² of a month-long ms gap is ~7e18 — a LONG sum overflows, so the moments run
      // in DECIMAL (DuckDB's BIGINT sums auto-promote to HUGEINT; this is the twin)
      val gd = col("g").cast(DecimalType(18, 0))
      val num = (col("n_gaps") * col("__sg2") - col("__sg") * col("__sg")).cast(DoubleType)
      val den = (col("__sg") * col("__sg")).cast(DoubleType)
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(gd).as("__sg"), sum(gd * gd).as("__sg2"))
        .filter(col("n_gaps") >= 5)
        .select(col("user_id"), col("n_gaps"),
          round(col("__sg").cast(DoubleType) / col("n_gaps"), 2).as("mean_gap_ms"),
          round(num / den, 4).as("cv2"),
          (num / den < 0.1).as("is_regular"))
    }),

    // IVF cell-balance audit — doc_block_audit's vector-side twin: profile the coarse
    // quantizer's cell occupancy BEFORE committing to it (a collapsed clustering makes
    // every probe a full scan). Occupancy values are kmeans-engine-specific, so the
    // gate pins mass conservation (assignments sum to the corpus — catches dropped
    // rows), spread (> 1 cell used), and non-degeneracy (no cell holds everything).
    "emb_ivf_balance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val centroids = VectorOps.kmeansFit(e, 16, iters = 2)
      val cells = e.select(graft.functions.VectorFunctions
          .nearestCentroids(col("embedding"), centroids, 1).getItem(0).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      val n = e.agg(count(lit(1)).as("n_vectors"))
      cells.agg(sum(col("sz")).as("__mass"), count(lit(1)).as("__used"),
          max(col("sz")).as("__mx"), sum(col("sz") * col("sz")).as("__cost"))
        .crossJoin(broadcast(n))
        .select(col("n_vectors"),
          (col("__mass") === col("n_vectors")).as("mass_ok"),
          (col("__used") > 1).as("spread_ok"),
          (col("__mx") < col("n_vectors")).as("nondegenerate_ok"))
    }),

    // composed IVF-PQ (IVFADC): both models fit once and feed both the candidate set
    // and the probe — the gate's recall/boundedness contract matches emb_ann_ivf
    "emb_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val cents = VectorOps.kmeansFit(e, 16, iters = 2)
      val books = VectorOps.pqFit(e, m = 8, k = 16)
      val exact = VectorOps.bruteForceTopK(e, q, k = 3)
      val cands = VectorOps.ivfPqCandidates(e, q, nCentroids = 16, nProbe = 4, m = 8,
        kCode = 16, trainedIvf = Some(cents), trainedPq = Some(books))
      val approx = VectorOps.ivfPqTopK(e, q, k = 3, nCentroids = 16, nProbe = 4, m = 8,
        kCode = 16, shortlist = 64, trainedIvf = Some(cents), trainedPq = Some(books))
      VectorOps.annRecallGate(exact, approx, cands, recallFloor = 0.25,
        candCapFloor = 400L, candCapFrac = 0.6, corpus = e)
    }),

    // the offline-train / persist / reload / probe artifact lifecycle every production
    // ANN deployment runs (models are cluster artifacts shared across jobs, not per-job
    // state — the same contract as the reference's artifact store,
    // db_components/db_common/artefacts.py:27-83): fit all four model kinds, round-trip
    // each through ModelStore parquet, verify bit-exactness driver-side, and gate that
    // the IVF and PQ probes through the LOADED artifacts return row-identical top-k to
    // the in-memory models
    "emb_ann_store_roundtrip" -> ((s, dir) => {
      import graft.ops.ModelStore
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val tmp = java.nio.file.Files.createTempDirectory("graft_modelstore").toString
      val cents = VectorOps.kmeansFit(e, 16, iters = 2)
      ModelStore.saveCentroids(s, cents, s"$tmp/cents")
      val centsL = ModelStore.loadCentroids(s, s"$tmp/cents")
      val books = VectorOps.pqFit(e, m = 8, k = 16)
      ModelStore.savePqBooks(s, books, s"$tmp/books")
      val booksL = ModelStore.loadPqBooks(s, s"$tmp/books")
      val sq = VectorOps.sqFit(e)
      ModelStore.saveSqModel(s, sq, s"$tmp/sq")
      val sqL = ModelStore.loadSqModel(s, s"$tmp/sq")
      val pca = VectorOps.pcaFit(e, k = 8)
      ModelStore.savePcaModel(s, pca, s"$tmp/pca")
      val pcaL = ModelStore.loadPcaModel(s, s"$tmp/pca")
      // the r11-new compression rungs' artifacts: the RQ codebook PAIR and the OPQ
      // rotation (a PcaModel — same persistence, separate artifact and probe)
      val rq = VectorOps.rqFit(e, kCode = 16)
      ModelStore.saveRqBooks(s, rq, s"$tmp/rq")
      val rqL = ModelStore.loadRqBooks(s, s"$tmp/rq")
      val opq = VectorOps.opqFit(e)
      ModelStore.savePcaModel(s, opq, s"$tmp/opq")
      val opqL = ModelStore.loadPcaModel(s, s"$tmp/opq")
      val centsOk = cents.corresponds(centsL)((a, b) => a.sameElements(b))
      def booksEq(x: Array[Array[Array[Float]]], y: Array[Array[Array[Float]]]) =
        x.corresponds(y)((ba, bb) => ba.corresponds(bb)((a, b) => a.sameElements(b)))
      val booksOk = booksEq(books, booksL)
      val rqOk = booksEq(rq._1, rqL._1) && booksEq(rq._2, rqL._2)
      val sqOk = sq.mins.sameElements(sqL.mins) && sq.maxs.sameElements(sqL.maxs)
      def pcaEq(a: VectorOps.PcaModel, b: VectorOps.PcaModel) =
        a.mean.sameElements(b.mean) &&
          a.basis.corresponds(b.basis)((x, y) => x.sameElements(y)) &&
          a.eigenvalues.sameElements(b.eigenvalues)
      val pcaOk = pcaEq(pca, pcaL)
      val opqOk = pcaEq(opq, opqL)
      // probe identity: identical model bits => identical arithmetic => identical rows
      def sameRows(a: DataFrame, b: DataFrame): Boolean =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      val ivfSame = sameRows(
        VectorOps.ivfTopK(e, q, k = 3, nCentroids = 16, nProbe = 4, trained = Some(cents)),
        VectorOps.ivfTopK(e, q, k = 3, nCentroids = 16, nProbe = 4, trained = Some(centsL)))
      val pqSame = sameRows(
        VectorOps.pqTopK(e, q, k = 3, m = 8, kCode = 16, shortlist = 64, trained = Some(books)),
        VectorOps.pqTopK(e, q, k = 3, m = 8, kCode = 16, shortlist = 64, trained = Some(booksL)))
      val rqSame = sameRows(
        VectorOps.rqTopK(e, q, k = 3, kCode = 16, shortlist = 64, trained = Some(rq)),
        VectorOps.rqTopK(e, q, k = 3, kCode = 16, shortlist = 64, trained = Some(rqL)))
      // OPQ probe = the rotation itself: identical basis bits => identical rotated rows
      val opqSame = sameRows(VectorOps.rotateFull(q, opq), VectorOps.rotateFull(q, opqL))
      q.agg(count(lit(1)).as("n_queries")).select(col("n_queries"),
        lit(centsOk).as("centroids_roundtrip_ok"),
        lit(booksOk).as("pq_roundtrip_ok"),
        lit(rqOk).as("rq_roundtrip_ok"),
        lit(sqOk).as("sq_roundtrip_ok"),
        lit(pcaOk).as("pca_roundtrip_ok"),
        lit(opqOk).as("opq_roundtrip_ok"),
        lit(ivfSame).as("ivf_probe_identical"),
        lit(pqSame).as("pq_probe_identical"),
        lit(rqSame).as("rq_probe_identical"),
        lit(opqSame).as("opq_probe_identical"))
    }),

    // distributed PCA: one treeAggregate moment pass + driver Jacobi; the verdict audits
    // the model ON THE CORPUS — per-component variance of the projected vectors must
    // equal the eigenvalues (the basis really diagonalizes the corpus covariance),
    // basis orthonormal, eigenvalues non-increasing, captured variance sane
    "emb_pca" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val kC = 8
      val model = VectorOps.pcaFit(e, k = kC)
      val dim = model.mean.length
      val ortho = (0 until kC).forall(i => (0 until kC).forall { j =>
        val dot = (0 until dim).map(d => model.basis(i)(d) * model.basis(j)(d)).sum
        math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9
      })
      val nonInc = model.eigenvalues.zip(model.eigenvalues.tail)
        .forall { case (a, b) => b <= a + 1e-12 }
      val trace = model.eigenvalues.sum // top-k portion of total variance
      val capture = model.eigenvalues.forall(_ >= -1e-9) && trace >= 0.0
      val proj = VectorOps.pcaProject(e, model)
      val varExprs = (0 until kC).map(c =>
        var_pop(col("components").getItem(c).cast("double")).as(s"v$c"))
      val varOk = (0 until kC).map(c =>
          abs(col(s"v$c") - model.eigenvalues(c)) <=
            greatest(lit(model.eigenvalues(c) * 1e-3), lit(1e-6)))
        .reduce(_ && _)
      val audit = proj.agg(varExprs.head, varExprs.tail: _*)
        .select(varOk.as("variance_match_ok"))
      e.agg(count(lit(1)).as("n_vectors")).crossJoin(audit).select(
        col("n_vectors"), lit(kC.toLong).as("k"),
        lit(ortho).as("basis_orthonormal_ok"),
        lit(nonInc).as("eigvals_nonincreasing_ok"),
        col("variance_match_ok"),
        lit(capture).as("capture_ok"))
    }),

    "emb_dedup_cosine" -> ((s, dir) => {
      VectorOps.cosineNearDupPairsExact(t(s, dir, "embeddings"), threshold = 0.4, blockCol = "label")
        .withColumn("sim", round(col("sim"), 4))
    }),

    // Linear-time MMD² two-sample drift between the even/odd vec_id streams
    // (Gretton et al. 2012 Lemma 14): O(n) kernel evals via consecutive
    // id-quadruples, degree-2 polynomial kernel on e3-quantized integer vectors so
    // every h is an exact integer (RBF's exp() has no cross-engine bit guarantee);
    // one hash aggregate, no window, no join. The parity split of one distribution
    // must read as NO drift — the statistic's null behavior is the gate.
    "emb_mmd_drift" -> ((s, dir) =>
      VectorOps.mmdDrift(t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        dim = 64)),

    // incremental semantic dedup — streaming admission over the maintained BQ
    // index (dedup-before-training for a continuously-fed corpus). ORACLE-EXACT:
    // wave 0 (the full table) must admit exactly COUNT(DISTINCT embedding) rows
    // (exact duplicates collapse in-cell — identical vectors share a cell and
    // dominance keeps the min id; no natural distinct pair crosses eps=0.9 in
    // this data, which this gate itself verifies); wave 1 (verbatim copies of 20
    // admitted vectors under fresh ids) must admit ZERO — exact-duplicate
    // rejection is guaranteed, not probabilistic; wave 2 (the NEGATION of every
    // vector — far from all admitted: cos(-v,u) = -cos(v,u) < eps) must admit
    // exactly the distinct count again
    "emb_semdedup_incremental" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = VectorOps.kmeansFit(e, 16, iters = 2)
      val store = java.nio.file.Files.createTempDirectory("graft_semdd").toString
      val dups = e.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(10000000L))
      val far = e.withColumn("vec_id", col("vec_id") + lit(20000000L))
        .withColumn("embedding", transform(col("embedding"), x => (-x).cast("float")))
      val n0 = graft.streaming.IncrementalSemDedup.applyBatch(e, 0L, store, cents, eps = 0.9)
      val n1 = graft.streaming.IncrementalSemDedup.applyBatch(dups, 1L, store, cents, eps = 0.9)
      val n2 = graft.streaming.IncrementalSemDedup.applyBatch(far, 2L, store, cents, eps = 0.9)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
      s.range(1).select(
        lit(n0).as("n_w0_admitted"), lit(n1).as("n_dup_admitted"),
        lit(n2).as("n_far_admitted"), lit(n0 + n1 + n2).as("n_admitted_total"))
    }),

    // SemDeDup (k-means-blocked semantic dedup) as a self-verifying gate: 20 planted
    // exact copies (larger ids, cosine 1.0 with their source, same cell by construction)
    // must all drop; the kept set must contain NO in-cell pair at sim>=eps (the greedy
    // keep-lowest-id invariant, audited by an independent pairwise pass); cluster
    // blocking must actually split the space (max cell < 80% of corpus)
    "emb_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // planted ids start past the real id range (max+1), so they can never collide
      // with genuine vectors at any scale factor; the max rides the plan as a broadcast
      // scalar (no eager action at query-construction time), and the planted count is
      // derived from the same vec_id < 20 predicate the oracle uses — never a literal
      val mx = e.agg(max(col("vec_id")).as("__mx"))
      val planted = e.filter(col("vec_id") < 20).crossJoin(broadcast(mx))
        .select((col("vec_id") + col("__mx") + 1).as("vec_id"), col("embedding"))
      val corpus = e.unionByName(planted)
      val res = VectorOps.semDeDup(corpus, eps = 0.99, nClusters = 8, iters = 3)
      val counts = res.crossJoin(broadcast(mx)).agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("vec_id") > col("__mx"), 1L).otherwise(0L)).as("n_planted"),
        sum(when(col("vec_id") > col("__mx") && !col("kept"), 1L).otherwise(0L)).as("n_planted_dropped"))
      val keptVecs = res.filter(col("kept")).join(corpus, "vec_id")
      val viol = VectorOps.cosineNearDupPairsExact(keptVecs, threshold = 0.99, blockCol = "cell")
        .agg(count(lit(1)).as("n_viol"))
      val cells = res.groupBy("cell").agg(count(lit(1)).as("nc"))
        .agg(max(col("nc")).as("max_cell"), sum(col("nc")).as("n_tot"))
      counts.crossJoin(viol).crossJoin(cells).select(
        col("n_vectors"), col("n_planted"),
        (col("n_planted_dropped") === col("n_planted")).as("planted_dropped_ok"),
        (col("n_viol") === 0).as("kept_independent_ok"),
        (col("max_cell") < col("n_tot") * 0.8).as("bounded_ok"))
    }),

    // SemDeDup with the paper's keep-FARTHEST-from-centroid representative policy: the
    // same planted-copy contract as emb_semdedup (exact copies tie on centroid distance,
    // so the id tie-break still drops every planted copy — dominated by its own source
    // regardless of third parties), plus a policy audit: in every similar kept/dropped
    // pair, the kept side must dominate under the (distance desc, id asc) total order
    "emb_semdedup_far" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val mx = e.agg(max(col("vec_id")).as("__mx"))
      val planted = e.filter(col("vec_id") < 20).crossJoin(broadcast(mx))
        .select((col("vec_id") + col("__mx") + 1).as("vec_id"), col("embedding"))
      val corpus = e.unionByName(planted)
      val res = VectorOps.semDeDup(corpus, eps = 0.99, nClusters = 8, iters = 3,
        keep = "farthest")
      val counts = res.crossJoin(broadcast(mx)).agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("vec_id") > col("__mx"), 1L).otherwise(0L)).as("n_planted"),
        sum(when(col("vec_id") > col("__mx") && !col("kept"), 1L).otherwise(0L))
          .as("n_planted_dropped"))
      val kd = res.join(corpus, "vec_id")
      val viol = VectorOps.cosineNearDupPairsExact(kd.filter(col("kept")),
        threshold = 0.99, blockCol = "cell").agg(count(lit(1)).as("n_viol"))
      val flags = res.select(col("vec_id"), col("kept"), col("cdist"))
      val domOk = VectorOps.cosineNearDupPairsExact(kd, threshold = 0.99, blockCol = "cell")
        .join(flags.select(col("vec_id").as("id_a"), col("kept").as("kept_a"),
          col("cdist").as("dist_a")), "id_a")
        .join(flags.select(col("vec_id").as("id_b"), col("kept").as("kept_b"),
          col("cdist").as("dist_b")), "id_b")
        .filter(col("kept_a") =!= col("kept_b"))
        .agg(coalesce(min(when(col("kept_a"),
            col("dist_a") > col("dist_b") ||
              (col("dist_a") === col("dist_b") && col("id_a") < col("id_b")))
          .otherwise(
            col("dist_b") > col("dist_a") ||
              (col("dist_b") === col("dist_a") && col("id_b") < col("id_a")))),
          lit(true)).as("dominance_ok"))
      counts.crossJoin(viol).crossJoin(domOk).select(
        col("n_vectors"), col("n_planted"),
        (col("n_planted_dropped") === col("n_planted")).as("planted_dropped_ok"),
        (col("n_viol") === 0).as("kept_independent_ok"),
        col("dominance_ok"))
    }),

    // ---- training-data ops: multimodal plumbing -----------------------------------------------

    // frame sampling through the REAL mapPartitions row-expansion path (binary slices);
    // the deterministic stub decode makes every sampled frame's digest SQL-checkable —
    // the gate hashes the hex rendering because the oracle engine can't slice blobs
    "mm_frame_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      MultimodalOps.sampleFrames(d.select(col("doc_id"), col("blob")), "blob", "doc_id", everyN = 5)
        .select(col("doc_id"), col("frame_idx"), md5(hex(col("frame_bytes"))).as("frame_md5"))
    }),

    // REAL image math over raw grayscale buffers (the post-decode half of an image
    // pipeline — implementable without codecs): integer-arithmetic nearest-neighbor
    // resize, byte-exact against the oracle's hex-pair reconstruction
    "mm_resize" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      MultimodalOps.resizeNearest(d.select(col("doc_id"), col("blob")), "blob", "doc_id")
        .select(col("doc_id"), col("src_h"),
          when(col("resized").isNotNull,
            concat_ws(",", transform(sequence(lit(0), lit(63)),
              i => conv(hex(col("resized")).substr(i * 2 + 1, lit(2)), 16, 10))))
            .as("pixels"))
    }),

    // perceptual near-dup fingerprint (aHash over the 8x8 thumbnail) — the image analog
    // of SimHash, 60-bit for signed-long safety in both engines
    "mm_ahash" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      MultimodalOps.aHash(d.select(col("doc_id"), col("blob")), "blob", "doc_id")
    }),

    // DCT perceptual hash (pHash) — verdict gate (fixed-point DCT is integer-exact but
    // not SQL-expressible). Honest contract on NOISE-LIKE blobs (text bytes have no
    // low-frequency structure, so absolute edit budgets only hold on image-like smooth
    // content — pinned in PHashSpec on gradient buffers): (a) the distributed path is
    // deterministic (re-hash equals), (b) an 8-byte local edit stays MEANINGFULLY
    // closer than unrelated pairs on average (measured 18.3 vs 31.4 at sf0.01),
    // (c) src_h is byte-exact len div 32 on every row.
    "mm_phash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("blob", encode(col("text"), "UTF-8"))
        .filter(length(col("blob")) >= 256)
      val ids = d.select(col("doc_id"), col("blob"), length(col("blob")).as("len"))
      val orig = MultimodalOps.pHash(ids, "blob", "doc_id")
        .withColumnRenamed("phash", "h0").withColumnRenamed("src_h", "sh0")
      val again = MultimodalOps.pHash(ids, "blob", "doc_id")
        .select(col("doc_id"), col("phash").as("h0b"))
      val editedBlob = concat(substring(col("blob"), 1, 100),
        lit(Array.fill[Byte](8)(0)), substring(col("blob"), 109, 1 << 24))
      val edited = MultimodalOps.pHash(
        d.select(col("doc_id"), editedBlob.as("blob")), "blob", "doc_id")
        .select(col("doc_id"), col("phash").as("h1"))
      val lens = ids.select(col("doc_id"), col("len"))
      val editJoin = orig.join(edited, "doc_id").join(again, "doc_id").join(lens, "doc_id")
        .select(expr("bit_count(h0 ^ h1)").as("ham"),
          (col("h0") === col("h0b")).as("same"),
          (col("sh0") === expr("len div 32")).as("shok"))
      val pairs = orig.select(col("doc_id"), col("h0"))
        .join(orig.select((col("doc_id") - 1).as("doc_id"), col("h0").as("hN")), "doc_id")
        .select(expr("bit_count(h0 ^ hN)").as("hamp"))
      val eAgg = editJoin.agg(count(lit(1)).as("n_docs"), avg(col("ham")).as("__avge"),
        min(col("same").cast("int")).as("__det"), min(col("shok").cast("int")).as("__sh"))
      val pAgg = pairs.agg(avg(col("hamp")).as("__avgp"))
      eAgg.crossJoin(pAgg).select(
        col("n_docs"),
        (col("__det") === 1 && col("__sh") === 1).as("deterministic_ok"),
        (col("__avge") + 6.0 <= col("__avgp")).as("edit_closer_ok"))
    }),

    // image near-dup pairs: aHash + 15-bit-chunk pigeonhole blocking (the SimHash
    // scheme on the image modality) — candidates from an equality join, never pairwise
    "mm_ahash_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      MultimodalOps.aHashPairs(d.select(col("doc_id"), col("blob")), "blob", "doc_id")
    }),

    // audio-modality features over raw 8-bit PCM: integer-exact energy/peak/ZCR — the
    // primitives behind silence/clipping/voicedness filters on audio corpora
    "mm_audio_features" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      MultimodalOps.audioFeatures(d.select(col("doc_id"), col("blob")), "blob", "doc_id")
    }),

    // Shazam-style constellation match: strided-band peaks -> (band-pair, dt, energy
    // quantum) integer fingerprints -> df-capped equality join -> offset-histogram vote
    "mm_audio_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      // materialize the fingerprint stream: the match join reads it four ways (df-cap
      // aggregate + both join sides) and the PCM scan behind it must not re-run —
      // at 100 TB the fingerprints are a persisted table, this is the in-session twin.
      // localCheckpoint, not persist: no cache entry left for the caller to leak
      // (ADVICE r6); blocks are ContextCleaner-released with the plan
      val fp = MultimodalOps.audioFingerprints(
        d.select(col("doc_id"), col("blob")), "blob", "doc_id").localCheckpoint(eager = true)
      MultimodalOps.audioFingerprintMatches(fp)
    }),

    // video-level near-dup: sampled frames -> per-frame aHash -> pigeonhole-blocked
    // frame pairs -> rollup to video pairs sharing near-dup frames (re-upload/clip
    // detection); frame bytes never shuffle, only 8-byte fingerprints reach the join
    "mm_frame_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      MultimodalOps.frameNearDup(d.select(col("doc_id"), col("blob")), "blob", "doc_id",
        everyN = 5)
    }),

    // energy-threshold VAD: active windows (integer mean-energy test) merge into speech
    // segments via gaps-and-islands; exchanges carry window stats, never audio bytes
    "mm_audio_vad" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      MultimodalOps.audioVad(d.select(col("doc_id"), col("blob")), "blob", "doc_id",
        windowSize = 256, meanEnergyThr = 400L)
    }),

    // shot-boundary detection: consecutive-frame aHash jumps >= 8 bits mark scene cuts;
    // exchanges carry (id, frame_idx, hash) rows only, never frame bytes
    "mm_scene_cuts" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      MultimodalOps.sceneCuts(d.select(col("doc_id"), col("blob")), "blob", "doc_id",
        everyN = 1, minHamming = 8)
    }),

    // segment-granularity audio features (what silence segmentation / VAD consume):
    // one row per 256-sample window, explode-shaped mapPartitions like frame sampling
    "mm_audio_windows" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      MultimodalOps.audioWindows(d.select(col("doc_id"), col("blob")), "blob", "doc_id")
    }),

    "mm_media_meta" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8"))
      val meta = MultimodalOps.withMediaMeta(d, "blob")
        .select(col("doc_id"), col("media_meta.content_md5").as("content_md5"),
          col("media_meta.n_bytes").as("n_bytes"))
      val decoded = MultimodalOps.decodeMedia(d.select(col("doc_id"), col("blob")), "blob", "doc_id")
      meta.join(decoded, "doc_id")
    }),

    // Per-media byte-entropy QA: Shannon entropy (bits/byte) of each blob's byte
    // histogram — near 0 flags constant/corrupt payloads, near 8 flags encrypted or
    // already-compressed media that downstream codecs should skip. Entropy folds from
    // INTEGER counts (H = log2 T - (Σ c·log2 c)/T) with per-term c·log10(c) quantized
    // to DECIMAL(18,8) — log10 of an exact integer is the same double in both engines,
    // the token-entropy discipline. Byte explode is hex-pair chunking (2M rows at
    // sf0.01), grouped map-side.
    // INCREMENTAL chunk-store admission: three blob waves maintain the persistent
    // (chunk_hash, len) index — per batch only NOVEL chunks append (O(batch) probe,
    // the IngestDedup marker/guard/compaction discipline via ChunkStore) — and the
    // maintained unique-chunk census must equal the one-shot corpus census exactly.
    // n_blobs/total_bytes stay oracle-pinned; the equality booleans are the
    // self-verifying verdict rows.
    "mm_cdc_incremental" -> ((s, dir) => {
      import graft.streaming.ChunkStore
      val all = cdcPlantedBlobs(s, dir).localCheckpoint(true)
      val store = java.nio.file.Files.createTempDirectory("graft-chunks").toString
      for (b <- 0 to 2)
        ChunkStore.applyBatch(all.filter(pmod(col("id"), lit(3)) === b),
          b.toLong, store, "blob", "id")
      val oneShot = MultimodalOps.cdcChunks(all, "blob", "id")
        .select(col("chunk_hash"), col("len")).distinct()
        .agg(count(lit(1)).as("os_chunks"), sum(col("len").cast("long")).as("os_bytes"))
      val totals = all.agg(count(lit(1)).as("n_blobs"),
        sum(expr("octet_length(blob)").cast("long")).as("total_bytes"))
      val out = totals.crossJoin(broadcast(ChunkStore.census(s, store)))
        .crossJoin(broadcast(oneShot))
        .select(col("n_blobs"), col("total_bytes"),
          (col("n_chunks") === col("os_chunks")).as("census_count_ok"),
          (col("uniq_bytes") === col("os_bytes")).as("census_bytes_ok"),
          (col("uniq_bytes") < col("total_bytes")).as("dedup_saves_ok"))
        .localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
      out
    }),

    // Content-defined chunking dedup (FastCDC, Xia et al. 2016): the byte-grain dedup
    // a 100 TB media store runs — identical AND shifted payloads share chunks because
    // Gear boundaries re-synchronize past an edit. The gate plants both failure modes
    // (exact copies and 7-byte-prefixed copies of a tenth of the corpus each) and
    // verifies: chunk size bounds, exact byte coverage, copy → identical hash
    // sequence, shifted copy → ≥ 40% shared bytes, and that hash-grain dedup saves
    // bytes. n_blobs/total_bytes are oracle-pinned exactly; the booleans are the
    // self-verifying verdict rows (the sketch/ANN gate idiom).
    "mm_cdc_chunks" -> ((s, dir) => {
      import graft.functions.TextFunctions
      val all = cdcPlantedBlobs(s, dir)
      val chunks = MultimodalOps.cdcChunks(
        all.withColumnRenamed("id", "cid"), "blob", "cid")
        .join(all.select(col("id").as("cid"), col("orig"), col("kind")), "cid")
      // per-blob structural invariants: bounds (short chunk only as the tail) + coverage
      val per = chunks.groupBy(col("cid"), col("kind"), col("n_bytes"))
        .agg(sum(col("len")).as("covered"), min(col("off")).as("off0"),
          max(col("off") + col("len")).as("endmax"),
          sum(when(col("len") > lit(128), 1).otherwise(0)).as("n_over"),
          sum(when(col("len") < lit(16) && col("off") + col("len") =!= col("n_bytes"), 1)
            .otherwise(0)).as("n_short_mid"))
      val structOk = per.agg(count(lit(1)).as("n_blobs"), sum(col("n_bytes")).as("total_bytes"),
        (sum(col("n_over")) === 0 && sum(col("n_short_mid")) === 0).as("bounds_ok"),
        (sum(when(col("covered") === col("n_bytes") && col("off0") === 0 &&
          col("endmax") === col("n_bytes"), 0).otherwise(1)) === 0).as("coverage_ok"))
      // planted exact copies must chunk to the IDENTICAL hash sequence
      val seq = all.select(col("orig"), col("kind"),
        transform(TextFunctions.gearChunks(col("blob"), 16, 4, 128),
          c => c.getField("hash")).as("hseq"))
      val dupOk = seq.filter(col("kind") === 0).select(col("orig"), col("hseq").as("h0"))
        .join(seq.filter(col("kind") === 1).select(col("orig"), col("hseq").as("h1")), "orig")
        .agg((sum(when(col("h0") === col("h1"), 0).otherwise(1)) === 0 &&
          count(lit(1)) > 0).as("dup_exact_ok"))
      // shifted copies re-sync: shared (hash,len) bytes ≥ 40% of the original on average
      val oCh = chunks.filter(col("kind") === 0 && pmod(col("orig"), lit(10)) === 5)
        .select(col("orig"), col("chunk_hash"), col("len"), col("n_bytes")).distinct()
      val sCh = chunks.filter(col("kind") === 2)
        .select(col("orig"), col("chunk_hash"), col("len")).distinct()
      val resync = oCh.join(sCh, Seq("orig", "chunk_hash", "len"))
        .groupBy(col("orig"), col("n_bytes")).agg(sum(col("len")).as("shared"))
        .agg((count(lit(1)) > 0 &&
          avg(col("shared").cast(DoubleType) / col("n_bytes")) >= 0.4).as("resync_ok"))
      // hash-grain dedup must save bytes (the planted copies guarantee it)
      val saves = chunks.select(col("chunk_hash"), col("len")).distinct()
        .agg(sum(col("len")).as("uniq"))
      structOk.crossJoin(broadcast(dupOk)).crossJoin(broadcast(resync))
        .crossJoin(broadcast(saves))
        .select(col("n_blobs"), col("total_bytes"), col("bounds_ok"), col("coverage_ok"),
          col("dup_exact_ok"), col("resync_ok"),
          (col("uniq") < col("total_bytes")).as("dedup_saves_ok"))
    }),

    "mm_byte_entropy" -> ((s, dir) => {
      // ZERO-shuffle form (r7 rewrite of the hex-explode + two-aggregate plan, the same
      // move as the r6 token-entropy fix): the 256-cell byte histogram folds per row
      // inside ByteEntropySignals, quantization bit-identical to the grouped plan the
      // DuckDB oracle still replays (sum of per-count DECIMAL(18,8) HALF_UP terms).
      val log2_10 = 3.321928094887362 // 1/log10(2): converts log10 folds to bits
      t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), TextFunctions.byteEntropySignals(col("text")).as("__b"))
        .select(col("doc_id"), col("__b.n_bytes").as("n_bytes"),
          col("__b.n_distinct_bytes").as("n_distinct_bytes"),
          round((log(10.0, col("__b.n_bytes").cast(DoubleType))
            - col("__b.slgc").cast(DoubleType) / col("__b.n_bytes")) * log2_10, 4)
            .as("entropy_bits"))
    }),

    // Trainable quality classifier (the CCNet/GPT-3-style curation stage: logreg over
    // cheap per-doc signals, trained distributed, scored corpus-wide). Labels are the
    // PLANTED rule `n_chars > 300` — SQL-expressible, so the oracle pins n_docs/n_pos
    // exactly while the accuracy verdicts gate that the penalized-Newton trainer (8
    // full-data passes, quadratic convergence — the scale form; 60-iteration GD remains
    // as the spec'd reference trainer) over the one-scan docSignals features actually
    // learned the rule (the feature set contains a standardized copy of n_chars, so the
    // rule is linearly separable and >= 0.97/0.95 train/holdout accuracy is a stable
    // floor at every sf). Holdout = doc_id % 5 == 0, the engine-agnostic split idiom.
    "doc_quality_classifier" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val feats = TextOps.docSignals(d, keep = Seq("n_chars", "lang"))
        .withColumn("label", (col("n_chars") > 300).cast("int"))
        .withColumn("is_test", pmod(col("doc_id"), lit(5)) === 0)
      val featCols = Seq("n_chars", "n_tokens", "quality_score", "top_bigram_frac")
      val model = MlOps.logregTrainNewton(feats.filter(!col("is_test")), featCols, "label")
      val scored = MlOps.logregScore(feats, featCols, model)
      MlOps.logregVerdict(scored, "label", "is_test", trainFloor = 0.97, testFloor = 0.95)
    }))

  // Offline ANN models, trained once per data dir and fed back through the operators'
  // `trained` params — at 100 TB model training is an offline step whose output ships
  // inside the probe plan; only the bench surface uses these (the gates keep training
  // in-query so the whole path stays under the oracle).
  private val ivfModels = scala.collection.concurrent.TrieMap.empty[String, Array[Array[Float]]]
  private val pqModels = scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Float]]]]
  private val bpeModels = scala.collection.concurrent.TrieMap.empty[String, graft.ops.BpeOps.BpeModel]
  private val sqModels = scala.collection.concurrent.TrieMap.empty[String, VectorOps.SqModel]
  private val pcaModels = scala.collection.concurrent.TrieMap.empty[String, VectorOps.PcaModel]
  private val storeModels = scala.collection.concurrent.TrieMap.empty[String, Array[Array[Float]]]
  // trained coarse quantizer (k = N/64 cells) for the bench's graph sweeps
  private val graphQuantModels = scala.collection.concurrent.TrieMap.empty[String, Array[Array[Float]]]
  private val opqModels = scala.collection.concurrent.TrieMap
    .empty[String, (VectorOps.PcaModel, Array[Array[Array[Float]]])]
  private val rqModels = scala.collection.concurrent.TrieMap
    .empty[String, (Array[Array[Array[Float]]], Array[Array[Array[Float]]])]
  private val bqIndexPaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private val bqIvfIndexPaths = scala.collection.concurrent.TrieMap.empty[String, String]
  // the bench process reuses one index per sf dir across its sweep; without this the
  // cached temp dirs outlive the JVM (one leaked parquet index per sf dir per run)
  locally {
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
      (bqIndexPaths.values ++ bqIvfIndexPaths.values).foreach { p =>
        try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
        catch { case _: Throwable => () }
      }))
  }

  /**
   * Bench-facing variants (VERDICT r3 #1): the same operators as `queries`, WITHOUT the
   * in-plan exact audits and in-query model training those entries carry as correctness
   * gates. `graft.Verify` keeps running `queries` — all gates stay oracle-checked — while
   * `graft.Bench` times what a user actually runs at scale:
   *  - ANN probes against pre-trained models (`trained = Some(...)`), not probe+training;
   *  - sketch profiling without its exact `countDistinct`/`percentile` twins;
   *  - near-dup admission without the exact-shingle audit or planted-copy scaffolding.
   * Every other query benches identically to its gated form.
   */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] = queries ++ Map(

    // tokenizer TRAINING is the offline sample-scale step; what runs over 100 TB is
    // ENCODE with the broadcast model — a narrow map — so that is what the bench times
    "doc_bpe_train" -> ((s, dir) => {
      val model = bpeModels.getOrElseUpdate(dir,
        graft.ops.BpeOps.bpeTrain(t(s, dir, "documents"), nMerges = 30).model)
      graft.ops.BpeOps.bpeEncode(t(s, dir, "documents"), model)
    }),

    // the bench draws bootstrap multiplicities from codegen'd xxhash64 — the scale form;
    // the md5-60 draw stays the Verify gate (same 60-bit thresholds, same rank CI)
    "q_bootstrap_ci" -> ((s, dir) =>
      SampleOps.poissonBootstrapCi(t(s, dir, "orders"), col("o_orderkey"),
        col("o_totalprice"), md5Draw = false)),

    "ev_bootstrap_ci" -> ((s, dir) =>
      SampleOps.poissonBootstrapCiGrouped(t(s, dir, "events"), col("event_type"),
        col("event_id"), col("value"), md5Draw = false)),

    "ev_bootstrap_diff" -> ((s, dir) =>
      SampleOps.poissonBootstrapDiffCi(t(s, dir, "events"),
        pmod(col("user_id"), lit(2)), col("event_id"), col("value"), md5Draw = false)),

    // the bench times the slice-hash kernel (no n-gram string ever materializes) —
    // the form a 100 TB run ships; the md5-60 string twin stays the Verify gate
    // (the winnowing pairing). The win is NOT the digest: xxh64 over the same
    // strings measured 19.4 s vs md5's 16.3 s — building ~40M 13-token strings is
    // the cost the kernel removes.
    "doc_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.decontaminate(
        d.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(97)) === 0), n = 13, kernel = true)
    }),

    // the bench times the slice-hash kernel store+probe (the library default) — the
    // md5-60 string twin stays the Verify gate, same waves (the decontaminate pairing:
    // the cost is materializing n-gram strings, paid here across FIVE tokenize+shingle
    // passes — md5 form measured 10.6 s, kernel 4.4 s at sf0.1; the remainder is the
    // ~11 sequential state-store job chains, the honest incremental overhead)
    "doc_decontaminate_incremental" -> ((s, dir) => {
      import graft.streaming.IncrementalDecontaminate
      val d = t(s, dir, "documents").localCheckpoint(true)
      val evalSet = d.filter(pmod(col("doc_id"), lit(97)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      val root = java.nio.file.Files.createTempDirectory("graft-idec-b").toString
      for (b <- 0 to 1)
        IncrementalDecontaminate.addEvalBatch(
          evalSet.filter(pmod(col("doc_id"), lit(2)) === b), b.toLong, s"$root/eval")
      for (b <- 0 to 2)
        IncrementalDecontaminate.applyBatch(
          corpus.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong,
          s"$root/eval", s"$root/out")
      val out = IncrementalDecontaminate.results(s, s"$root/out").localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      out
    }),

    // the bench times the xxh64 rolling-chain digests (the library default) — the
    // md5-60 string twin stays the Verify gate, same planted corpus
    "doc_span_dedup50" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = base.filter(pmod(col("doc_id"), lit(101)) === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat_ws(" ", col("text"), col("text")).as("text"))
      DedupOps.spanRemoveStats(base.unionByName(planted), k = 50)
    }),

    // the bench times the one-pass xxh64 monotone-deque winnowing kernel — the form a
    // 100 TB run ships; the md5-60 HOF twin stays the Verify gate (VERDICT r5 #2)
    "doc_winnowing" -> ((s, dir) => winnowingKernelFps(s, dir)),
    "doc_winnowing_pairs" -> ((s, dir) =>
      DedupOps.fingerprintPairs(winnowingKernelFps(s, dir), minShared = 2, dfCap = 20)),

    // steady-state artifact consumption: probe through centroids LOADED from a persisted
    // ModelStore parquet (saved+loaded once per sf dir) — training and the identity
    // audit are the Verify gate's business
    "emb_ann_store_roundtrip" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = storeModels.getOrElseUpdate(dir, {
        val tmp = java.nio.file.Files.createTempDirectory("graft_modelstore_bench").toString
        graft.ops.ModelStore.saveCentroids(s, VectorOps.kmeansFit(e, 16, iters = 2), tmp)
        graft.ops.ModelStore.loadCentroids(s, tmp)
      })
      VectorOps.ivfTopK(e, e.filter(col("vec_id") < 8), k = 3, nCentroids = 16,
        nProbe = 4, trained = Some(cents))
    }),

    "q_approx_sketch" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_median"))),

    "doc_incremental_neardup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val indexSigs = DedupOps.minhashSigs(d.filter(col("source") === "src0"))
      val batch = d.filter(col("source") =!= "src0").select(col("doc_id"), col("text"))
      DedupOps.nearDupAdmission(batch, indexSigs, threshold = 0.4)
    }),

    // the sketch alone — the exact countDistinct twin is the Verify gate's audit
    "ev_daily_users" -> ((s, dir) =>
      t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
        .groupBy("day").agg(expr("approx_count_distinct(user_id, 0.02)").as("approx"))),

    "emb_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.lshTopK(e, e.filter(col("vec_id") < 8), k = 3, nPlanes = 4, nTables = 16)
    }),

    // the bench times the quantizer-blocked GRAPH (train + assign + probe + top-k) —
    // the exact-recall audit is the Verify gate's business, like the other ANN entries
    "emb_knn_graph_ivf" -> ((s, dir) =>
      VectorOps.knnGraphQuantized(t(s, dir, "embeddings"), k = 4, nProbe = 6)),

    // graph sweeps off a PRE-TRAINED quantizer (memoized per sf dir, the ivfModels
    // idiom): the bench times assign + probe + top-k + the PageRank/HITS iterations —
    // training is a once-per-corpus offline step (and the flat k ∝ N assignment scan
    // is O(N·k·d) = quadratic: the component a billion-scale run replaces with a
    // hierarchical quantizer, so timing it in the sweep would measure the wrong thing)
    "emb_pagerank_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.GraphOps.pageRank(
        VectorOps.knnEdgesQuantized(e, k = 4, nProbe = 6,
          trained = Some(graphQuantModels.getOrElseUpdate(dir,
            VectorOps.kmeansFit(e, math.max(8, (e.count() / 64).toInt), iters = 2)))),
        iters = 3, dampingPct = 85)
    }),
    "emb_hits_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.GraphOps.hits(
        VectorOps.knnEdgesQuantized(e, k = 4, nProbe = 6,
          trained = Some(graphQuantModels.getOrElseUpdate(dir,
            VectorOps.kmeansFit(e, math.max(8, (e.count() / 64).toInt), iters = 2)))),
        iters = 2)
    }),

    "emb_rp_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.rpTopK(e, e.filter(col("vec_id") < 8), k = 3)
    }),

    "emb_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = ivfModels.getOrElseUpdate(dir, VectorOps.kmeansFit(e, 16, iters = 2))
      VectorOps.ivfTopK(e, e.filter(col("vec_id") < 8), k = 3, nCentroids = 16, nProbe = 4,
        trained = Some(model))
    }),

    // the bench sweeps the PROBE curve off a pre-trained quantizer; training (and the
    // in-plan exact audits) are the Verify gate's business
    "emb_ivf_recall_curve" -> ((s, dir) =>
      ivfRecallCurve(s, dir, ivfModels.getOrElseUpdate(dir,
        VectorOps.kmeansFit(t(s, dir, "embeddings"), 16, iters = 2)))),

    "emb_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val books = pqModels.getOrElseUpdate(dir, VectorOps.pqFit(e, m = 8, k = 16))
      VectorOps.pqTopK(e, e.filter(col("vec_id") < 8), k = 3, m = 8, kCode = 16,
        shortlist = 64, trained = Some(books))
    }),

    "emb_ann_opq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (model, books) = opqModels.getOrElseUpdate(dir, {
        val m = VectorOps.opqFit(e)
        (m, VectorOps.pqFit(VectorOps.rotateFull(e, m), m = 8, k = 16))
      })
      VectorOps.pqTopK(VectorOps.rotateFull(e, model),
        VectorOps.rotateFull(e.filter(col("vec_id") < 8), model),
        k = 3, m = 8, kCode = 16, shortlist = 64, trained = Some(books))
    }),

    "emb_ann_sq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = sqModels.getOrElseUpdate(dir, VectorOps.sqFit(e))
      VectorOps.sqTopK(e, e.filter(col("vec_id") < 8), k = 3, shortlist = 64,
        trained = Some(model))
    }),

    // index probe only (the steady-state op): the index is written once per sf dir;
    // the in-scan twin + exceptAll identity audit are the Verify gate's business
    "emb_ann_bq_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idxPath = bqIndexPaths.getOrElseUpdate(dir, {
        val tmp = java.nio.file.Files.createTempDirectory("graft_bqindex_bench").toString
        VectorOps.bqIndex(e, bits = 256).write.mode("overwrite").parquet(tmp)
        tmp
      })
      VectorOps.bqTopKFromIndex(s.read.parquet(idxPath), e,
        e.filter(col("vec_id") < 8), k = 3, shortlist = 64, bits = 256)
    }),

    // sub-linear index probe: coarse quantizer + index are per-sf-dir artifacts
    // (the offline 100 TB shape); the timed work is the partition-pruned Hamming
    // scan over nProbe/nCentroids of the signatures plus the fixed-shortlist rerank
    "emb_ann_bq_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = ivfModels.getOrElseUpdate(dir, VectorOps.kmeansFit(e, 16, iters = 2))
      val idxPath = bqIvfIndexPaths.getOrElseUpdate(dir, {
        val tmp = java.nio.file.Files.createTempDirectory("graft_bqivf_bench").toString
        VectorOps.bqIvfIndex(e, cents, bits = 256)
          .write.mode("overwrite").partitionBy("cell").parquet(tmp)
        tmp
      })
      VectorOps.bqTopKFromIvfIndex(s.read.parquet(idxPath), e,
        e.filter(col("vec_id") < 8), k = 3, cents, nProbe = 4, shortlist = 64, bits = 256)
    }),

    // index maintenance + probe (no one-shot twin, no junk-injection audit): the
    // timed work is 3 waves of O(batch) signing plus the partition-pruned probe
    "emb_ann_bq_index_incremental" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = ivfModels.getOrElseUpdate(dir, VectorOps.kmeansFit(e, 16, iters = 2))
      val tmp = java.nio.file.Files.createTempDirectory("graft_bqinc_bench").toString
      for (b <- 0 to 2)
        graft.streaming.IncrementalBqIndex.applyBatch(
          e.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong, tmp, cents, bits = 256)
      val out = VectorOps.bqTopKFromIvfIndex(
        graft.streaming.IncrementalBqIndex.index(s, tmp), e,
        e.filter(col("vec_id") < 8), k = 3, cents, nProbe = 4).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      out
    }),

    // RQ probe off the pre-trained codebook pair (rqFit trains two sequential
    // full-space k-means — at kCode=64 that dominated the gated form's bench time;
    // at 100 TB the pair is an offline ModelStore artifact, so the bench times the
    // two-LUT additive ADC probe, the steady-state cost)
    "emb_ann_rq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val rq = rqModels.getOrElseUpdate(dir, VectorOps.rqFit(e, kCode = 64))
      VectorOps.rqTopK(e, e.filter(col("vec_id") < 8), k = 3, kCode = 64,
        shortlist = 64, trained = Some(rq))
    }),

    "emb_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = ivfModels.getOrElseUpdate(dir, VectorOps.kmeansFit(e, 16, iters = 2))
      val books = pqModels.getOrElseUpdate(dir, VectorOps.pqFit(e, m = 8, k = 16))
      VectorOps.ivfPqTopK(e, e.filter(col("vec_id") < 8), k = 3, nCentroids = 16,
        nProbe = 4, m = 8, kCode = 16, shortlist = 64,
        trainedIvf = Some(cents), trainedPq = Some(books))
    }),

    "emb_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = ivfModels.getOrElseUpdate(dir + "#semdedup8",
        VectorOps.kmeansFit(e, 8, iters = 3))
      VectorOps.semDeDup(e, eps = 0.99, nClusters = 8, trained = Some(model))
    }),

    "emb_semdedup_far" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = ivfModels.getOrElseUpdate(dir + "#semdedup8",
        VectorOps.kmeansFit(e, 8, iters = 3))
      VectorOps.semDeDup(e, eps = 0.99, nClusters = 8, trained = Some(model),
        keep = "farthest")
    }),

    // streaming admission off the PRE-TRAINED quantizer (the ivfModels idiom —
    // at 100 TB the coarse quantizer is an offline ModelStore artifact shared by
    // every admission wave): the timed work is the three admission waves (index
    // probe, in-cell dominance, store maintenance) — the operator's steady-state
    // cost; the gated form keeps training inline and stays the Verify surface
    "emb_semdedup_incremental" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = ivfModels.getOrElseUpdate(dir, VectorOps.kmeansFit(e, 16, iters = 2))
      val store = java.nio.file.Files.createTempDirectory("graft_semdd_b").toString
      val dups = e.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(10000000L))
      val far = e.withColumn("vec_id", col("vec_id") + lit(20000000L))
        .withColumn("embedding", transform(col("embedding"), x => (-x).cast("float")))
      val n0 = graft.streaming.IncrementalSemDedup.applyBatch(e, 0L, store, cents, eps = 0.9)
      val n1 = graft.streaming.IncrementalSemDedup.applyBatch(dups, 1L, store, cents, eps = 0.9)
      val n2 = graft.streaming.IncrementalSemDedup.applyBatch(far, 2L, store, cents, eps = 0.9)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
      s.range(1).select(
        lit(n0).as("n_w0_admitted"), lit(n1).as("n_dup_admitted"),
        lit(n2).as("n_far_admitted"), lit(n0 + n1 + n2).as("n_admitted_total"))
    }),

    // fit is the offline step; the 100 TB path is the broadcast projection map
    "emb_pca" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = pcaModels.getOrElseUpdate(dir, VectorOps.pcaFit(e, k = 8))
      VectorOps.pcaProject(e, model)
    }),

    // the user-facing screen is the Bloom probe alone; the exact-screen audit (a second
    // full contamination pass + full-outer join) stays in Verify only
    "doc_bloom_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      SampleOps.bloomContamination(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
    }),

    // the sketch build IS the operator at scale; the gate's exact heavy-hitter audit
    // (three more tokenize scans + driver probes) stays in Verify only
    "doc_cms_heavy" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextOps.tokensCol(col("text"))).as("token"))
        .agg(expr("count_min_sketch(token, 0.0001d, 0.99d, 42)").as("cms"),
          count(lit(1)).as("n_total"))))

  /** Exact distinct-3-gram-shingle Jaccard pairs ≥ 0.2 — the shared oracle for the
    * minhash-LSH (verified) and inverted-index pair queries, and the edge list for the
    * cluster oracle's transitive closure. */
  private def jaccardPairsOracleAt(threshold: Double): String =
    s"""WITH t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |shl AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
      |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh FROM t),
      |sizes AS (SELECT doc_id, len(sh) AS n FROM shl),
      |inv AS (SELECT doc_id, unnest(sh) AS h FROM shl),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT p.id_a, p.id_b, ROUND(CAST(p.inter AS DOUBLE)/(sa.n + sb.n - p.inter), 6) AS jaccard
      |FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
      |WHERE CAST(p.inter AS DOUBLE)/(sa.n + sb.n - p.inter) >= $threshold""".stripMargin

  private val jaccardPairsOracle = jaccardPairsOracleAt(0.2)

  /** Unrolled shortcut+hook min-label CC oracle over the co-purchase graph: round k
    * takes LEAST(own label, min neighbor label, label-of-label). See
    * `q_basket_components` for the convergence-margin argument. */
  /** Shared by `ev_isotonic_calibration` and `ev_isotonic_incremental`: the bin
    * counts are associative sums (the incremental form maintains them as
    * grouping-sets MV state) and the minimax fit is a pure function of them, so the
    * maintained result is row-identical and one oracle gates both. */
  /** Generated 16-round unroll of the densest-subgraph peel — the kCore oracle
    * discipline (AS MATERIALIZED per round so DuckDB plans each round once), with
    * the exact-integer removal threshold and cross-round argmax replicated. */
  private val densestOracle: String = {
    val rounds = 28
    val base =
      """WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |u0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)""".stripMargin
    val peels = (0 until rounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS ne2,
         |  CAST(COUNT(DISTINCT u) AS BIGINT) AS nv FROM u$i),
         |k${i + 1} AS MATERIALIZED (SELECT t.u FROM
         |  (SELECT u, COUNT(*) AS d FROM u$i GROUP BY 1) t, s$i
         |  WHERE t.d * s$i.nv * 2 >= s$i.ne2 * 3),
         |u${i + 1} AS MATERIALIZED (SELECT a.u, a.v FROM u$i a
         |  JOIN k${i + 1} x ON a.u = x.u JOIN k${i + 1} y ON a.v = y.u)""".stripMargin
    }.mkString(",\n")
    val last = s"s$rounds AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS ne2, " +
      s"CAST(COUNT(DISTINCT u) AS BIGINT) AS nv FROM u$rounds)"
    val statsU = (0 to rounds).map(i => s"SELECT $i AS round, nv, ne2 FROM s$i")
      .mkString(" UNION ALL ")
    base + ",\n" + peels + ",\n" + last + ",\n" +
      s"""stats AS (SELECT * FROM ($statsU) WHERE nv > 0)
         |SELECT a.round, a.nv AS n_nodes, a.ne2 // 2 AS n_edges,
         |  ROUND(CAST(a.ne2 AS DOUBLE) / 2.0 / a.nv, 6) AS density,
         |  MAX(CASE WHEN b.ne2 * a.nv > a.ne2 * b.nv
         |    OR (b.ne2 * a.nv = a.ne2 * b.nv AND b.round < a.round)
         |    THEN 1 ELSE 0 END) = 0 AS is_best
         |FROM stats a, stats b GROUP BY 1, 2, 3, 4""".stripMargin
  }

  /** Shared by `ev_msprt` and `ev_msprt_incremental`: the maintained moments are
    * row-identical to the one-shot per-(day, arm) aggregation, so one SQL pins both. */
  private val ebhOracle: String =
    """WITH e AS (SELECT event_type AS metric, user_id % 2 AS a,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events),
      |mo AS (SELECT metric, a, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s1,
      |    SUM(CAST(c AS HUGEINT) * c) AS s2 FROM e GROUP BY 1, 2),
      |p AS (SELECT metric,
      |    MAX(CASE WHEN a = 0 THEN n END) AS na, MAX(CASE WHEN a = 0 THEN s1 END) AS sa1,
      |    MAX(CASE WHEN a = 0 THEN s2 END) AS sa2,
      |    MAX(CASE WHEN a = 1 THEN n END) AS nb, MAX(CASE WHEN a = 1 THEN s1 END) AS sb1,
      |    MAX(CASE WHEN a = 1 THEN s2 END) AS sb2
      |  FROM mo GROUP BY 1
      |  HAVING MAX(CASE WHEN a = 0 THEN n END) >= 2 AND MAX(CASE WHEN a = 1 THEN n END) >= 2),
      |f AS (SELECT metric, na, nb,
      |    CAST(sa1 AS DOUBLE) / na AS ma, CAST(sb1 AS DOUBLE) / nb AS mb,
      |    (CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE)
      |      - na * (CAST(sa1 AS DOUBLE) / na) * (CAST(sa1 AS DOUBLE) / na)
      |      - nb * (CAST(sb1 AS DOUBLE) / nb) * (CAST(sb1 AS DOUBLE) / nb))
      |      / (na + nb - 2) AS s2p FROM p),
      |l AS (SELECT metric, na, nb, ma - mb AS dh, s2p * (1.0 / na + 1.0 / nb) AS v FROM f),
      |sc AS (SELECT metric, na AS n_a, nb AS n_b, ROUND(dh / 100.0, 4) AS mean_diff,
      |    ROUND(0.5 * LOG10(v / (v + 250000.0))
      |      + (dh * dh * 250000.0 / (2.0 * v * (v + 250000.0))) * 0.4342944819032518, 6)
      |      AS log10_e FROM l),
      |rk AS (SELECT *,
      |    CAST(ROW_NUMBER() OVER (ORDER BY log10_e DESC, metric) AS BIGINT) AS k,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS m FROM sc),
      |th AS (SELECT metric, n_a, n_b, mean_diff, log10_e, k,
      |    ROUND(LOG10(CAST(m AS DOUBLE)) - LOG10(CAST(k AS DOUBLE))
      |      - LOG10(0.05), 6) AS threshold_log10 FROM rk),
      |kh AS (SELECT MAX(CASE WHEN log10_e >= threshold_log10 THEN k ELSE 0 END) AS khat FROM th)
      |SELECT metric, n_a, n_b, mean_diff, log10_e, k, threshold_log10,
      |  k <= kh.khat AS discovery
      |FROM th, kh""".stripMargin

  private val zorderLayoutOracle: String = {
      val zTerms = (0 until 8).map(i =>
        s"(((ub >> $i) & 1) << ${2 * i + 1}) + (((vb >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""WITH e AS (SELECT event_id, user_id % 256 AS ub,
         |    LEAST(CAST(FLOOR(value / 4) AS BIGINT), 255) AS vb FROM events),
         |z AS (SELECT event_id, ub, vb, $zTerms AS z FROM e),
         |tl AS (SELECT *, NTILE(16) OVER (ORDER BY z, event_id) AS tile FROM z)
         |SELECT CAST(tile AS INT) AS tile, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(MIN(ub) AS BIGINT) AS min_u, CAST(MAX(ub) AS BIGINT) AS max_u,
         |  CAST(MIN(vb) AS BIGINT) AS min_v, CAST(MAX(vb) AS BIGINT) AS max_v
         |FROM tl GROUP BY tile ORDER BY tile""".stripMargin
    }

  private val hilbertLayoutOracle: String = {
      val n = 256
      val steps = (0 until 8).map { k =>
        val s = 1 << (7 - k)
        s"""h${k + 1} AS (SELECT event_id, ub, vb,
           |  d + ${s.toLong * s} * (CASE WHEN (x // $s) % 2 = 1
           |    THEN 3 - (y // $s) % 2 ELSE (y // $s) % 2 END) AS d,
           |  CASE WHEN (y // $s) % 2 = 1 THEN x
           |    WHEN (x // $s) % 2 = 1 THEN ${n - 1} - y ELSE y END AS x,
           |  CASE WHEN (y // $s) % 2 = 1 THEN y
           |    WHEN (x // $s) % 2 = 1 THEN ${n - 1} - x ELSE x END AS y
           |  FROM h$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH h0 AS (SELECT event_id, user_id % 256 AS ub,
         |    LEAST(CAST(FLOOR(value / 4) AS BIGINT), 255) AS vb,
         |    CAST(user_id % 256 AS BIGINT) AS x,
         |    LEAST(CAST(FLOOR(value / 4) AS BIGINT), 255) AS y,
         |    CAST(0 AS BIGINT) AS d FROM events),
         |$steps,
         |tl AS (SELECT *, NTILE(16) OVER (ORDER BY d, event_id) AS tile FROM h8)
         |SELECT CAST(tile AS INT) AS tile, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(MIN(ub) AS BIGINT) AS min_u, CAST(MAX(ub) AS BIGINT) AS max_u,
         |  CAST(MIN(vb) AS BIGINT) AS min_v, CAST(MAX(vb) AS BIGINT) AS max_v
         |FROM tl GROUP BY tile ORDER BY tile""".stripMargin
    }

  private val layoutCompareOracle: String = {
    def leg(curve: String, sql: String) =
      s"""SELECT '$curve' AS curve, CAST(COUNT(*) AS BIGINT) AS n_tiles,
         |  CAST(SUM((max_u - min_u) * (max_v - min_v)) AS BIGINT) AS area_sum,
         |  CAST(MAX((max_u - min_u) * (max_v - min_v)) AS BIGINT) AS area_max,
         |  ROUND(CAST(SUM((max_u - min_u) * (max_v - min_v)) AS DOUBLE) / COUNT(*), 2) AS avg_area
         |FROM ($sql)""".stripMargin
    leg("hilbert", hilbertLayoutOracle) + "\nUNION ALL\n" + leg("zorder", zorderLayoutOracle)
  }

  private val qteOracle: String =
    """WITH e AS (SELECT user_id % 2 AS arm, CAST(round(value * 100) AS BIGINT) AS g
      |  FROM events WHERE value IS NOT NULL),
      |p AS (SELECT arm,
      |    quantile_cont(g, 0.10) AS p10, quantile_cont(g, 0.25) AS p25,
      |    quantile_cont(g, 0.50) AS p50, quantile_cont(g, 0.75) AS p75,
      |    quantile_cont(g, 0.90) AS p90
      |  FROM e GROUP BY 1),
      |l AS (SELECT arm, 'p10' AS q, p10 AS v FROM p
      |  UNION ALL SELECT arm, 'p25', p25 FROM p
      |  UNION ALL SELECT arm, 'p50', p50 FROM p
      |  UNION ALL SELECT arm, 'p75', p75 FROM p
      |  UNION ALL SELECT arm, 'p90', p90 FROM p)
      |SELECT q AS quantile,
      |  ROUND(MAX(CASE WHEN arm = 0 THEN v END) / 100, 2) AS q_control,
      |  ROUND(MAX(CASE WHEN arm = 1 THEN v END) / 100, 2) AS q_treatment,
      |  ROUND((MAX(CASE WHEN arm = 1 THEN v END)
      |    - MAX(CASE WHEN arm = 0 THEN v END)) / 100, 2) AS qte
      |FROM l GROUP BY 1""".stripMargin

  private val msprtOracle: String =
    """WITH e AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
      |    user_id % 2 AS a,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events),
      |d AS (SELECT day, a, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s1,
      |    SUM(CAST(c AS HUGEINT) * c) AS s2 FROM e GROUP BY 1, 2),
      |g AS (SELECT dd.day, aa.a, COALESCE(d.n, 0) AS n, COALESCE(d.s1, 0) AS s1,
      |    COALESCE(d.s2, 0) AS s2
      |  FROM (SELECT DISTINCT day FROM d) dd
      |  CROSS JOIN (SELECT DISTINCT a FROM d) aa
      |  LEFT JOIN d ON d.day = dd.day AND d.a = aa.a),
      |cum AS (SELECT day, a, SUM(n) OVER w AS cn, SUM(s1) OVER w AS cs1,
      |    SUM(s2) OVER w AS cs2 FROM g
      |  WINDOW w AS (PARTITION BY a ORDER BY day ROWS UNBOUNDED PRECEDING)),
      |p AS (SELECT day,
      |    MAX(CASE WHEN a = 0 THEN cn END) AS na, MAX(CASE WHEN a = 0 THEN cs1 END) AS sa1,
      |    MAX(CASE WHEN a = 0 THEN cs2 END) AS sa2,
      |    MAX(CASE WHEN a = 1 THEN cn END) AS nb, MAX(CASE WHEN a = 1 THEN cs1 END) AS sb1,
      |    MAX(CASE WHEN a = 1 THEN cs2 END) AS sb2
      |  FROM cum GROUP BY 1
      |  HAVING MAX(CASE WHEN a = 0 THEN cn END) >= 2 AND MAX(CASE WHEN a = 1 THEN cn END) >= 2),
      |f AS (SELECT day, na, nb,
      |    CAST(sa1 AS DOUBLE) / na AS ma, CAST(sb1 AS DOUBLE) / nb AS mb,
      |    (CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE)
      |      - na * (CAST(sa1 AS DOUBLE) / na) * (CAST(sa1 AS DOUBLE) / na)
      |      - nb * (CAST(sb1 AS DOUBLE) / nb) * (CAST(sb1 AS DOUBLE) / nb))
      |      / (na + nb - 2) AS s2p FROM p),
      |l AS (SELECT day, na, nb, ma - mb AS dh, s2p * (1.0 / na + 1.0 / nb) AS v FROM f),
      |r AS (SELECT day, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, ROUND(dh / 100.0, 4) AS mean_diff,
      |    LEAST(0.0, -(0.5 * LOG10(v / (v + 250000.0))
      |      + (dh * dh * 250000.0 / (2.0 * v * (v + 250000.0))) * 0.4342944819032518)) AS lp
      |  FROM l)
      |SELECT day, n_a, n_b, mean_diff,
      |  ROUND(MIN(lp) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 6) AS log10_p,
      |  ROUND(MIN(lp) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 6) <= -1.30103 AS rejected
      |FROM r""".stripMargin

  private val isotonicOracle: String =
    """WITH raw AS (SELECT LEAST(CAST(FLOOR(value / 8) AS BIGINT), 63) AS b,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events),
      |bins AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS w, CAST(SUM(y) AS BIGINT) AS y
      |  FROM raw GROUP BY 1),
      |pref AS (SELECT b, w, y,
      |    CAST(SUM(w) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS wc,
      |    CAST(SUM(y) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS yc
      |  FROM bins),
      |pairs AS (SELECT lo.b AS i, hi.b AS j,
      |    CAST(hi.yc - (lo.yc - lo.y) AS DOUBLE) / CAST(hi.wc - (lo.wc - lo.w) AS DOUBLE) AS mean
      |  FROM pref lo JOIN pref hi ON lo.b <= hi.b),
      |sufmin AS (SELECT i, j,
      |    MIN(mean) OVER (PARTITION BY i ORDER BY j DESC ROWS UNBOUNDED PRECEDING) AS mn
      |  FROM pairs),
      |fit AS (SELECT j AS b, MAX(mn) AS iso FROM sufmin GROUP BY 1)
      |SELECT bins.b, bins.w, bins.y,
      |  ROUND(CAST(bins.y AS DOUBLE) / bins.w, 6) AS raw_rate,
      |  ROUND(fit.iso, 6) AS iso_rate
      |FROM bins JOIN fit USING (b) ORDER BY b""".stripMargin

  /** Shared by `doc_decontaminate` and `doc_decontaminate_incremental`: a doc's flag
    * row is a pure function of (doc text, eval digest set), so the incremental form's
    * unioned per-batch rows are row-identical to the one-shot and one oracle gates
    * both. */
  private val decontaminateOracle: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 13 THEN []
      |  ELSE list_transform(range(1, len(toks) - 11),
      |    i -> CAST(('0x'||substring(md5(array_to_string(toks[i:i+12], ' ')),1,15)) AS BIGINT)) END) AS hs
      |  FROM t),
      |ev AS (SELECT DISTINCT u.h FROM g, unnest(g.hs) AS u(h) WHERE doc_id % 97 = 0),
      |c AS (SELECT doc_id, hs FROM g WHERE doc_id % 97 <> 0),
      |sh AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM c, unnest(c.hs) AS u(h) JOIN ev ON ev.h = u.h GROUP BY 1)
      |SELECT c.doc_id, CAST(len(c.hs) AS BIGINT) AS n_ngrams,
      |  COALESCE(sh.n_shared, 0) AS n_shared,
      |  COALESCE(sh.n_shared, 0) >= 1 AS contaminated
      |FROM c LEFT JOIN sh USING (doc_id)""".stripMargin

  /** Shared by `doc_textrank` and `doc_textrank_incremental`: the incremental form
    * maintains the same counts the one-shot derives, so the final ranking is
    * row-identical and one oracle gates both. */
  private val rakeOracle: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |tok AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i, toks[CAST(u.i AS INT)] AS tok
      |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
      |mk AS (SELECT doc_id, tok, i,
      |    CASE WHEN tok IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at')
      |      THEN 1 ELSE 0 END AS st,
      |    SUM(CASE WHEN tok IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at')
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY i) AS grp
      |  FROM tok),
      |w AS (SELECT doc_id, grp, tok, i FROM mk WHERE st = 0),
      |ph AS (SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY i) AS phrase,
      |    CAST(COUNT(*) AS BIGINT) AS len
      |  FROM w GROUP BY 1, 2),
      |ws AS (SELECT w.tok,
      |    CAST(SUM(p.len) AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT) AS s_e6
      |  FROM w JOIN ph p USING (doc_id, grp) GROUP BY 1),
      |sc AS (SELECT w.doc_id, w.grp, MIN(p.phrase) AS phrase,
      |    CAST(SUM(ws.s_e6) AS BIGINT) AS score
      |  FROM w JOIN ph p USING (doc_id, grp) JOIN ws ON ws.tok = w.tok
      |  GROUP BY 1, 2)
      |SELECT phrase, CAST(MAX(score) AS BIGINT) AS score_e6,
      |  CAST(COUNT(*) AS BIGINT) AS n_occurrences
      |FROM sc GROUP BY 1 ORDER BY score_e6 DESC, phrase LIMIT 20""".stripMargin

  private val textRankOracle: String =
    """WITH t AS (SELECT
      |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |uc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1 HAVING COUNT(*) >= 5),
      |bg AS (SELECT u.bg FROM t, unnest(CASE WHEN len(toks) < 2 THEN []
      |  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS u(bg)),
      |pr0 AS (SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b FROM bg),
      |pf AS (SELECT p.a, p.b FROM pr0 p JOIN uc x ON x.tok = p.a JOIN uc y ON y.tok = p.b
      |  WHERE p.a <> p.b),
      |knn AS (SELECT DISTINCT src, dst FROM (
      |  SELECT a AS src, b AS dst FROM pf UNION ALL SELECT b AS src, a AS dst FROM pf)),
      |nodes AS (SELECT DISTINCT id FROM
      |  (SELECT src AS id FROM knn UNION ALL SELECT dst AS id FROM knn)),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM knn GROUP BY 1),
      |r0 AS (SELECT id, 1000000000000 // nn.n AS r FROM nodes CROSS JOIN nn),
      |c1 AS (SELECT k.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
      |  FROM knn k JOIN r0 r ON r.id = k.src JOIN deg d ON d.src = k.src GROUP BY 1),
      |r1 AS (SELECT nodes.id, (150000000000 // nn.n) + ((85 * COALESCE(c.s, 0)) // 100) AS r
      |  FROM nodes LEFT JOIN c1 c ON c.dst = nodes.id CROSS JOIN nn),
      |c2 AS (SELECT k.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
      |  FROM knn k JOIN r1 r ON r.id = k.src JOIN deg d ON d.src = k.src GROUP BY 1),
      |r2 AS (SELECT nodes.id, (150000000000 // nn.n) + ((85 * COALESCE(c.s, 0)) // 100) AS r
      |  FROM nodes LEFT JOIN c2 c ON c.dst = nodes.id CROSS JOIN nn),
      |c3 AS (SELECT k.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
      |  FROM knn k JOIN r2 r ON r.id = k.src JOIN deg d ON d.src = k.src GROUP BY 1),
      |r3 AS (SELECT nodes.id, (150000000000 // nn.n) + ((85 * COALESCE(c.s, 0)) // 100) AS r
      |  FROM nodes LEFT JOIN c3 c ON c.dst = nodes.id CROSS JOIN nn)
      |SELECT r3.id AS token, CAST(r3.r AS BIGINT) AS rank_e12, uc.c AS n_occurrences
      |FROM r3 JOIN uc ON uc.tok = r3.id
      |ORDER BY rank_e12 DESC, token LIMIT 50""".stripMargin

  private def ccStarOracle(rounds: Int): String = {
    val body = (1 to rounds).map { k =>
      val p = s"l${k - 1}"
      s"""c$k AS MATERIALIZED (SELECT e.u AS id, MIN(p.lab) AS nl FROM sym e JOIN $p p ON p.id = e.v GROUP BY 1),
         |j$k AS MATERIALIZED (SELECT p.id, q.lab AS jl FROM $p p JOIN $p q ON q.id = p.lab),
         |l$k AS MATERIALIZED (SELECT p.id, LEAST(p.lab, COALESCE(c.nl, p.lab), COALESCE(j.jl, p.lab)) AS lab
         |  FROM $p p LEFT JOIN c$k c ON c.id = p.id LEFT JOIN j$k j ON j.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |sym AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
       |l0 AS MATERIALIZED (SELECT u AS id, LEAST(u, MIN(v)) AS lab FROM sym GROUP BY 1),
       |$body
       |SELECT id, lab AS component_id FROM l$rounds""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "doc_ngram_jaccard" -> jaccardPairsOracle,

    "doc_ngram_jaccard_prefix" -> jaccardPairsOracle,

    "doc_edit_verify" ->
      (s"""WITH cand AS (${jaccardPairsOracleAt(0.2)})
        |SELECT * FROM (
        |  SELECT c.id_a, c.id_b,
        |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
        |    ROUND(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |      / GREATEST(length(da.text), length(db.text)), 6) AS edit_sim
        |  FROM cand c
        |  JOIN documents da ON da.doc_id = c.id_a
        |  JOIN documents db ON db.doc_id = c.id_b)
        |WHERE edit_sim >= 0.2""").stripMargin,

    "doc_jaccard_histogram" ->
      (s"WITH pr AS (${jaccardPairsOracleAt(0.05)})\n" +
        "SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS bucket, COUNT(*) AS n_pairs " +
        "FROM pr GROUP BY 1"),

    "doc_containment" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh FROM t),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM shl),
        |inv AS (SELECT doc_id, unnest(sh) AS h FROM shl),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, CAST(p.inter AS BIGINT) AS inter,
        |  ROUND(CAST(p.inter AS DOUBLE)/sa.n, 6) AS containment_a,
        |  ROUND(CAST(p.inter AS DOUBLE)/sb.n, 6) AS containment_b
        |FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
        |WHERE CAST(p.inter AS DOUBLE)/sa.n >= 0.5 OR CAST(p.inter AS DOUBLE)/sb.n >= 0.5""".stripMargin,

    "doc_minhash_lsh" -> jaccardPairsOracle,

    // exact cross-split Jaccard pairs, best match per train doc (rounded-j DESC, id ASC)
    "doc_cross_neardup" ->
      """WITH s AS (SELECT doc_id, text, CAST('0x'||substring(md5(text),1,4) AS INT) % 100 AS b FROM documents),
        |t AS (SELECT doc_id, b, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM s),
        |shl AS (SELECT doc_id, b, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh FROM t),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM shl),
        |pairs AS (SELECT a.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS inter
        |  FROM (SELECT doc_id, unnest(sh) AS h FROM shl WHERE b < 90) a
        |  JOIN (SELECT doc_id, unnest(sh) AS h FROM shl WHERE b >= 90) r ON a.h = r.h GROUP BY 1, 2),
        |ver AS (SELECT p.id_a, p.id_b, ROUND(CAST(p.inter AS DOUBLE)/(sa.n + sb.n - p.inter), 6) AS j
        |  FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
        |  WHERE CAST(p.inter AS DOUBLE)/(sa.n + sb.n - p.inter) >= 0.2)
        |SELECT id_a AS doc_id, id_b AS match_id, j AS jaccard FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY j DESC, id_b ASC) AS rn FROM ver)
        |WHERE rn = 1""".stripMargin,

    "doc_corpus_prepare_v3" ->
      (s"WITH RECURSIVE pr AS ($jaccardPairsOracle),\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges GROUP BY src
          |  UNION
          |  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.id),
          |clus AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
          |drop_near AS (SELECT id AS doc_id FROM clus WHERE id <> cluster_id),
          |norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text),
          |  '[\x00-\x08\x0b\x0e-\x1f\x7f]', '', 'g'), '[ \t\n\r\f]+', ' ', 'g')) AS n FROM documents),
          |keep AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(n)),
          |tk AS (SELECT doc_id, lang, text,
          |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
          |qm AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
          |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop FROM tk),
          |q AS (SELECT doc_id, ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
          |    + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score FROM qm),
          |rbase AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          |  CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bigrams FROM tk),
          |rbg AS (SELECT doc_id, u.bg AS bg, COUNT(*) AS c FROM rbase, unnest(rbase.bigrams) AS u(bg) GROUP BY 1, 2),
          |rtop AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM rbg GROUP BY doc_id),
          |rep AS (SELECT b.doc_id,
          |  CASE WHEN b.n_tokens > 1 THEN ROUND(COALESCE(t2.top_bigram_n, 0) / CAST(b.n_tokens - 1 AS DOUBLE), 4) ELSE 0.0 END AS top_bigram_frac
          |  FROM rbase b LEFT JOIN rtop t2 ON b.doc_id = t2.doc_id),
          |tok2 AS (SELECT doc_id, unnest(toks) AS token FROM tk),
          |freq AS (SELECT token, COUNT(*) AS cnt FROM tok2 GROUP BY token),
          |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
          |lp AS (SELECT t.doc_id,
          |  ROUND(CAST(SUM(CAST(LOG10(CAST(f.cnt AS DOUBLE) / t2.total) AS DECIMAL(18,8))) AS DOUBLE)
          |    / COUNT(*), 4) AS avg_logprob
          |  FROM tok2 t JOIN freq f USING (token) CROSS JOIN tot t2 GROUP BY t.doc_id),
          |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          |  CAST('0x' || substring(md5(text), 1, 4) AS INT) % 100 AS bucket FROM tk),
          |surv AS (SELECT d.doc_id, tk.lang, q.quality_score, lp.avg_logprob, nt.n_tokens
          |  FROM documents d
          |  JOIN keep USING (doc_id)
          |  JOIN tk ON tk.doc_id = d.doc_id
          |  JOIN q ON q.doc_id = d.doc_id
          |  JOIN rep ON rep.doc_id = d.doc_id
          |  JOIN lp ON lp.doc_id = d.doc_id
          |  JOIN nt ON nt.doc_id = d.doc_id
          |  WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_near)
          |    AND q.quality_score >= 0.55 AND rep.top_bigram_frac <= 0.08
          |    AND lp.avg_logprob >= -1.5
          |    AND nt.bucket < (CASE WHEN tk.lang = 'en' THEN 50 WHEN tk.lang = 'zh' THEN 100 ELSE 20 END)),
          |w AS (SELECT doc_id, lang, quality_score, avg_logprob, n_tokens,
          |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tokens_before FROM surv)
          |SELECT doc_id, lang, quality_score, avg_logprob, n_tokens, tokens_before,
          |  tokens_before // 2048 AS bin_id FROM w""".stripMargin),

    "doc_dup_clusters" ->
      (s"WITH RECURSIVE pr AS ($jaccardPairsOracle),\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges GROUP BY src
          |  UNION
          |  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.id)
          |SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin),

    // replays the greedy traversal: same 1e-6 sim quantization, same min-id tie rule
    "emb_kcenter" ->
      """WITH RECURSIVE sel AS (
        |  SELECT [(SELECT MIN(vec_id) FROM embeddings)] AS ids, 1 AS k
        |  UNION ALL
        |  SELECT list_append(ids, (
        |      SELECT e.vec_id FROM embeddings e
        |      WHERE NOT list_contains(s.ids, e.vec_id)
        |      ORDER BY CAST(round((SELECT MAX(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))
        |          FROM embeddings c WHERE list_contains(s.ids, c.vec_id)) * 1000000) AS BIGINT) ASC,
        |        e.vec_id ASC
        |      LIMIT 1)), k + 1
        |  FROM sel s WHERE k < 8)
        |SELECT CAST(u.i + 1 AS INT) AS rank, ids[CAST(u.i + 1 AS INT)] AS vec_id
        |FROM (SELECT ids FROM sel WHERE k = 8) t, unnest(range(0, 8)) AS u(i)""".stripMargin,

    "doc_dup_keep_best" ->
      (s"WITH RECURSIVE pr AS ($jaccardPairsOracle),\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges GROUP BY src
          |  UNION
          |  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.id),
          |cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
          |scored AS (SELECT c.id, c.cluster_id, d.n_chars
          |  FROM cl c JOIN documents d ON c.id = d.doc_id),
          |best AS (SELECT cluster_id, id AS keep_id FROM scored
          |  QUALIFY row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, id) = 1)
          |SELECT s.id AS doc_id, s.cluster_id, b.keep_id, s.id = b.keep_id AS kept
          |FROM scored s JOIN best b USING (cluster_id)""".stripMargin),

    "doc_corpus_clean_v2" ->
      (s"WITH RECURSIVE pr AS ($jaccardPairsOracle),\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges GROUP BY src
          |  UNION
          |  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.id),
          |dropids AS (SELECT id FROM reach GROUP BY id HAVING MIN(r) <> id),
          |t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
          |  FROM documents),
          |m AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
          |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
          |  FROM t),
          |q AS (SELECT doc_id,
          |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
          |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score
          |  FROM m),
          |rbase AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
          |  CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bigrams
          |  FROM t),
          |bgc AS (SELECT doc_id, u.bg AS bg, COUNT(*) AS c
          |  FROM rbase, unnest(rbase.bigrams) AS u(bg) GROUP BY 1, 2),
          |rtop AS (SELECT doc_id, MAX(c) AS top_n FROM bgc GROUP BY doc_id),
          |rep AS (SELECT b.doc_id,
          |  CASE WHEN b.n > 1 THEN ROUND(COALESCE(rt.top_n, 0) / CAST(b.n - 1 AS DOUBLE), 4) ELSE 0.0 END AS top_bigram_frac
          |  FROM rbase b LEFT JOIN rtop rt ON b.doc_id = rt.doc_id)
          |SELECT d.doc_id, d.lang, q.quality_score, rep.top_bigram_frac
          |FROM documents d JOIN q USING (doc_id) JOIN rep USING (doc_id)
          |WHERE d.doc_id NOT IN (SELECT id FROM dropids)
          |  AND q.quality_score >= 0.55 AND rep.top_bigram_frac <= 0.08""".stripMargin),

    "doc_block_audit" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, CAST(('0x' || substring(md5(u.tok), 1, 15)) AS BIGINT) AS h
        |  FROM t, unnest(t.toks) AS u(tok)),
        |bits AS (SELECT doc_id, r.range AS b,
        |  SUM(CASE WHEN (h >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(60) r GROUP BY 1, 2),
        |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |full_sh AS (SELECT d.doc_id, COALESCE(sh.simhash, CAST(0 AS BIGINT)) AS simhash
        |  FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id),
        |ch AS (SELECT doc_id, CAST(c.range AS INT) AS chunk_idx,
        |    (simhash >> CAST(c.range * 15 AS INT)) & 32767 AS v
        |  FROM full_sh CROSS JOIN range(4) c),
        |bk AS (SELECT chunk_idx, v, CAST(COUNT(*) AS BIGINT) AS sz FROM ch GROUP BY 1, 2)
        |SELECT chunk_idx, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(MAX(sz) AS BIGINT) AS max_bucket,
        |  CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
        |  CAST(SUM(sz * sz) AS BIGINT) AS pair_cost
        |FROM bk GROUP BY 1""".stripMargin,

    "doc_simhash" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, CAST(('0x' || substring(md5(u.tok), 1, 15)) AS BIGINT) AS h
        |  FROM t, unnest(t.toks) AS u(tok)),
        |bits AS (SELECT doc_id, r.range AS b,
        |  SUM(CASE WHEN (h >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(60) r GROUP BY 1, 2),
        |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(sh.simhash, CAST(0 AS BIGINT)) AS simhash
        |FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id""".stripMargin,

    "doc_decontaminate" -> decontaminateOracle,
    "doc_decontaminate_incremental" -> decontaminateOracle,

    "doc_fingerprint" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh FROM t)
        |SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT))))[1:8], ',') AS fingerprint
        |FROM shl""".stripMargin,

    "emb_ann_lsh" ->
      "SELECT COUNT(*) AS n_queries, TRUE AS recall_ok, TRUE AS bounded_ok FROM embeddings WHERE vec_id < 8",

    "emb_mmr_rerank" ->
      ("SELECT COUNT(*) AS n_queries, TRUE AS first_ok, TRUE AS size_subset_ok, " +
        "TRUE AS diversity_ok FROM embeddings WHERE vec_id < 8"),

    "mm_phash" ->
      ("SELECT COUNT(*) AS n_docs, TRUE AS deterministic_ok, TRUE AS edit_closer_ok " +
        "FROM documents WHERE octet_length(encode(text)) >= 256"),

    "emb_ivf_balance" ->
      ("SELECT COUNT(*) AS n_vectors, TRUE AS mass_ok, TRUE AS spread_ok, " +
        "TRUE AS nondegenerate_ok FROM embeddings"),

    "emb_class_outliers" ->
      """WITH el AS (SELECT vec_id, label AS lbl, generate_subscripts(embedding, 1) AS i,
        |  unnest(embedding) AS x FROM embeddings),
        |s AS (SELECT lbl, i, SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8))) AS s
        |  FROM el GROUP BY 1, 2),
        |snrm AS (SELECT lbl,
        |  SUM(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) AS DECIMAL(28,10))) AS nn
        |  FROM s GROUP BY 1),
        |dots AS (SELECT vec_id, el.lbl,
        |  SUM(CAST(CAST(x AS DOUBLE) * CAST(s.s AS DOUBLE) AS DECIMAL(28,12))) AS dotv,
        |  SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS nv
        |  FROM el JOIN s ON el.lbl = s.lbl AND el.i = s.i GROUP BY 1, 2),
        |c AS (SELECT vec_id, dots.lbl,
        |  CASE WHEN nv = 0 THEN 0.0 ELSE ROUND(CAST(dotv AS DOUBLE)
        |    / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nn AS DOUBLE))), 6) END AS cos
        |  FROM dots JOIN snrm ON snrm.lbl = dots.lbl),
        |cnt AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_members FROM c GROUP BY 1)
        |SELECT c.lbl AS label, vec_id AS outlier_id, cos AS centroid_cosine, n_members
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lbl ORDER BY cos ASC, vec_id ASC) AS rn
        |  FROM c) c JOIN cnt ON cnt.lbl = c.lbl
        |WHERE rn = 1""".stripMargin,

    "emb_davies_bouldin" ->
      """WITH el AS (SELECT vec_id, label AS lbl, generate_subscripts(embedding, 1) AS i,
        |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |s AS (SELECT lbl, i, SUM(CAST(x AS DECIMAL(18,8))) AS sv FROM el GROUP BY 1, 2),
        |nn AS (SELECT lbl,
        |  SUM(CAST(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) AS DECIMAL(28,10))) AS nn
        |  FROM s GROUP BY 1),
        |mem AS (SELECT el.vec_id, el.lbl,
        |  SUM(CAST(el.x * CAST(s.sv AS DOUBLE) AS DECIMAL(28,10))) AS dot,
        |  SUM(CAST(el.x * el.x AS DECIMAL(28,10))) AS xx
        |  FROM el JOIN s ON el.lbl = s.lbl AND el.i = s.i GROUP BY 1, 2),
        |scat AS (SELECT m.lbl,
        |  CAST(SUM(CAST(1.0 - CAST(m.dot AS DOUBLE)
        |    / (sqrt(CAST(m.xx AS DOUBLE)) * sqrt(CAST(nn.nn AS DOUBLE)))
        |    AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS sc,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |  FROM mem m JOIN nn ON nn.lbl = m.lbl GROUP BY 1),
        |cd AS (SELECT a.lbl AS la, b.lbl AS lb,
        |  SUM(CAST(CAST(a.sv AS DOUBLE) * CAST(b.sv AS DOUBLE) AS DECIMAL(28,10))) AS dab
        |  FROM s a JOIN s b ON a.i = b.i AND a.lbl <> b.lbl GROUP BY 1, 2),
        |dd AS (SELECT la, lb, 1.0 - CAST(dab AS DOUBLE)
        |    / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS d
        |  FROM cd JOIN nn na ON na.lbl = cd.la JOIN nn nb ON nb.lbl = cd.lb)
        |SELECT dd.la AS label, sa.n, ROUND(sa.sc, 6) AS scatter,
        |  ROUND(MAX((sa.sc + sb.sc) / dd.d), 6) AS db_component
        |FROM dd JOIN scat sa ON sa.lbl = dd.la JOIN scat sb ON sb.lbl = dd.lb
        |GROUP BY 1, 2, 3""".stripMargin,

    "emb_centroid_profile" ->
      """WITH el AS (SELECT label AS lbl, generate_subscripts(embedding, 1) AS i,
        |  unnest(embedding) AS x FROM embeddings),
        |s AS (SELECT lbl, i,
        |  SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8))) AS s FROM el GROUP BY 1, 2),
        |cnt AS (SELECT label AS lbl, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY 1),
        |nrm AS (SELECT lbl,
        |  SUM(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) AS DECIMAL(28,10))) AS nn
        |  FROM s GROUP BY 1),
        |dt AS (SELECT a.lbl AS la, b.lbl AS lb,
        |  SUM(CAST(CAST(a.s AS DOUBLE) * CAST(b.s AS DOUBLE) AS DECIMAL(28,10))) AS dot
        |  FROM s a JOIN s b USING (i) WHERE a.lbl < b.lbl GROUP BY 1, 2)
        |SELECT la AS label_a, lb AS label_b, ca.n AS n_a, cb.n AS n_b,
        |  ROUND(CAST(dot AS DOUBLE)
        |    / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))), 6) AS centroid_cosine
        |FROM dt
        |JOIN nrm na ON na.lbl = dt.la JOIN nrm nb ON nb.lbl = dt.lb
        |JOIN cnt ca ON ca.lbl = dt.la JOIN cnt cb ON cb.lbl = dt.lb""".stripMargin,

    "emb_rp_recall" ->
      "SELECT COUNT(*) AS n_queries, TRUE AS recall_ok, TRUE AS bounded_ok FROM embeddings WHERE vec_id < 8",

    "emb_ann_sq" ->
      "SELECT COUNT(*) AS n_queries, TRUE AS recall_ok, TRUE AS bounded_ok FROM embeddings WHERE vec_id < 8",

    "emb_ann_bq" ->
      "SELECT COUNT(*) AS n_queries, TRUE AS recall_ok, TRUE AS bounded_ok FROM embeddings WHERE vec_id < 8",

    "emb_ann_bq_index" ->
      ("SELECT COUNT(*) AS n_queries, TRUE AS index_matches_inscan, TRUE AS k_rows_ok " +
        "FROM embeddings WHERE vec_id < 8"),

    "emb_ann_bq_ivf" ->
      "SELECT COUNT(*) AS n_queries, TRUE AS recall_ok, TRUE AS bounded_ok FROM embeddings WHERE vec_id < 8",

    "emb_ann_bq_index_incremental" ->
      ("SELECT COUNT(*) AS n_queries, TRUE AS incremental_matches_full, TRUE AS k_rows_ok " +
        "FROM embeddings WHERE vec_id < 8"),

    "emb_ann_rq" ->
      "SELECT COUNT(*) AS n_queries, TRUE AS recall_ok, TRUE AS bounded_ok FROM embeddings WHERE vec_id < 8",

    "emb_fd_sketch" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS rows_bounded,
        |  TRUE AS bound_ok, TRUE AS psd_ok FROM embeddings""".stripMargin,

    // maintained sketch, same guarantee contract
    "emb_fd_incremental" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS rows_bounded,
        |  TRUE AS bound_ok, TRUE AS psd_ok FROM embeddings""".stripMargin,

    "emb_ann_ivf" ->
      "SELECT COUNT(*) AS n_queries, TRUE AS recall_ok, TRUE AS bounded_ok FROM embeddings WHERE vec_id < 8",

    "emb_ann_pq" ->
      "SELECT COUNT(*) AS n_queries, TRUE AS recall_ok, TRUE AS bounded_ok FROM embeddings WHERE vec_id < 8",

    "emb_ann_opq" ->
      ("SELECT COUNT(*) AS n_queries, TRUE AS basis_orthonormal_ok, TRUE AS rotation_topk_ok, " +
        "TRUE AS recall_ok, TRUE AS bounded_ok FROM embeddings WHERE vec_id < 8"),

    "emb_ann_ivfpq" ->
      "SELECT COUNT(*) AS n_queries, TRUE AS recall_ok, TRUE AS bounded_ok FROM embeddings WHERE vec_id < 8",

    "emb_ann_store_roundtrip" ->
      ("SELECT COUNT(*) AS n_queries, TRUE AS centroids_roundtrip_ok, TRUE AS pq_roundtrip_ok, " +
        "TRUE AS rq_roundtrip_ok, TRUE AS sq_roundtrip_ok, TRUE AS pca_roundtrip_ok, " +
        "TRUE AS opq_roundtrip_ok, TRUE AS ivf_probe_identical, TRUE AS pq_probe_identical, " +
        "TRUE AS rq_probe_identical, TRUE AS opq_probe_identical " +
        "FROM embeddings WHERE vec_id < 8"),

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_rollup" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_cube" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_above_avg_orders" ->
      """WITH s AS (SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price,
        |    COUNT(*) AS n FROM orders GROUP BY 1)
        |SELECT o.o_orderkey, o.o_custkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
        |  CAST(s.n AS BIGINT) AS n_orders
        |FROM orders o JOIN s USING (o_custkey)
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * s.n > s.sum_price""".stripMargin,

    "q22_lost_customers" ->
      """WITH s AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sp, COUNT(*) AS n
        |  FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0)
        |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_custs,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c, s
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * s.n > s.sp
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q3_top_customers" ->
      """SELECT c.c_custkey, c.c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o.o_orderkey) AS n_orders
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |GROUP BY c.c_custkey, c.c_name
        |ORDER BY revenue DESC, c.c_custkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,

    "q_dim_join" ->
      """SELECT r_name, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r_name""".stripMargin,

    "cdc_unwrap" -> (unwrapOracle +
      """SELECT event_id, user_id, et AS "event_type", v AS "value",
        |  op AS "KBC__OPERATION", ts_ms AS "KBC__EVENT_TIMESTAMP_MS", file AS "KBC__FILE",
        |  pos AS "KBC__POS", deleted AS "KBC__DELETED"
        |FROM u""".stripMargin),

    "cdc_outbox_route" -> (unwrapOracle +
      """, r AS (SELECT 'outbox.event.' || et AS topic, user_id, event_id, v, pos
        |  FROM u WHERE op <> 'd')
        |SELECT topic, user_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY topic, user_id ORDER BY pos) AS BIGINT) AS seq,
        |  event_id, v AS "value", pos AS "KBC__POS"
        |FROM r""".stripMargin),

    "cdc_dedupe_lww" -> (unwrapOracle +
      """, d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY pos DESC) AS rn FROM u)
        |SELECT event_id, user_id, et AS "event_type", v AS "value",
        |  op AS "KBC__OPERATION", ts_ms AS "KBC__EVENT_TIMESTAMP_MS", file AS "KBC__FILE",
        |  pos AS "KBC__POS", deleted AS "KBC__DELETED"
        |FROM d WHERE rn = 1""".stripMargin),

    "cdc_tx_boundaries" -> (unwrapOracle +
      """, x AS (SELECT *, pos // 50 AS tx_id, COALESCE(et, 'deleted') AS coll FROM u),
        |pc AS (SELECT tx_id, coll, COUNT(*) AS cnt, MIN(pos) AS mn, MAX(pos) AS mx
        |  FROM x GROUP BY 1, 2)
        |SELECT tx_id, CAST(SUM(cnt) AS BIGINT) AS event_count,
        |  CAST(MIN(mn) AS BIGINT) AS first_pos, CAST(MAX(mx) AS BIGINT) AS last_pos,
        |  string_agg(coll || ':' || cnt, ',' ORDER BY coll || ':' || cnt) AS data_collections
        |FROM pc GROUP BY tx_id ORDER BY tx_id""".stripMargin),

    "cdc_dedupe_salted" -> (unwrapOracle +
      """, d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY pos DESC) AS rn FROM u)
        |SELECT event_id, user_id, et AS "event_type", v AS "value",
        |  op AS "KBC__OPERATION", ts_ms AS "KBC__EVENT_TIMESTAMP_MS", file AS "KBC__FILE",
        |  pos AS "KBC__POS", deleted AS "KBC__DELETED"
        |FROM d WHERE rn = 1""".stripMargin),

    "cdc_dedupe_binlog" ->
      """WITH e AS (SELECT user_id, event_id,
        |  'binlog.00000' || CAST(event_id % 3 + 1 AS VARCHAR) AS f, event_id AS p
        |  FROM events),
        |d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY f DESC, p DESC) AS rn FROM e)
        |SELECT user_id, event_id, f AS "KBC__FILE", p AS "KBC__POS" FROM d WHERE rn = 1""".stripMargin,

    "cdc_dedupe_nopk" ->
      """SELECT user_id, event_type, MAX(event_id) AS "KBC__BATCH_EVENT_ORDER"
        |FROM events GROUP BY user_id, event_type""".stripMargin,

    "cdc_chunk_union" ->
      """SELECT event_id, user_id, event_type, CAST(NULL AS DOUBLE) AS "value",
        |  CAST(NULL AS VARCHAR) AS props
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT event_id, user_id, event_type, value, props
        |FROM events WHERE event_id % 2 = 1""".stripMargin,

    "cdc_event_order" ->
      """SELECT event_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS BIGINT) AS "KBC__BATCH_EVENT_ORDER"
        |FROM events""".stripMargin,

    "cdc_type_render" ->
      """SELECT event_id,
        |  DATE '1970-01-01' + CAST(FLOOR(value) AS INT) AS as_date,
        |  strftime(epoch_ms(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)), '%Y-%m-%d %H:%M:%S.%g') AS as_ts,
        |  to_base64(encode(event_type)) AS as_b64,
        |  hex(encode(event_type)) AS as_hex,
        |  CAST((date_part('hour', CAST(ts AS TIMESTAMP)) * 3600
        |      + date_part('minute', CAST(ts AS TIMESTAMP)) * 60
        |      + date_part('second', CAST(ts AS TIMESTAMP))) * 1000 AS BIGINT) AS ms_of_day
        |FROM events""".stripMargin,

    "cdc_type_render_v3" ->
      """WITH c AS (SELECT event_id, user_id, ts,
        |  lpad(to_hex(user_id % 256), 2, '0') AS bh, event_id % 8 AS mask
        |  FROM events)
        |SELECT event_id,
        |  list_extract(['x','y','z'], CAST(event_id % 3 + 1 AS INT)) AS enum_render,
        |  concat_ws(',',
        |    CASE WHEN mask & 1 > 0 THEN 'a' END,
        |    CASE WHEN mask & 2 > 0 THEN 'b' END,
        |    CASE WHEN mask & 4 > 0 THEN 'c' END) AS set_render,
        |  to_base64(unhex(bh)) AS bit8_render,
        |  to_base64(unhex(bh || '00000000000000')) AS binary8_render,
        |  (event_id % 2 = 1) AS bit1_bool_render,
        |  CAST(year(CAST(ts AS TIMESTAMP)) AS INT) AS year_render
        |FROM c""".stripMargin,

    "cdc_type_render_v2" ->
      """WITH c AS (SELECT event_id, ts,
        |  event_id % 3 AS y, user_id % 12 AS mo, event_id % 28 AS d,
        |  user_id % 24 AS h, event_id % 60 AS mi, user_id % 60 AS s,
        |  user_id, value
        |  FROM events)
        |SELECT event_id,
        |  CAST(((y*12 + mo) * 2629800 + d * 86400 + h * 3600 + mi * 60 + s) * 1000000 AS BIGINT) AS interval_micros,
        |  CAST((h * 3600 + mi * 60 + s) * 1000 AS BIGINT) AS time_ms_of_day,
        |  printf('%02d:%02d:%02dZ', h, mi, s) AS timetz_render,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') || '+00' AS tstz_render,
        |  '{"x":' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)
        |    || ',"y":' || CAST(CAST(value * 2 AS DECIMAL(18,2)) AS VARCHAR)
        |    || ',"srid":null}' AS point_json,
        |  '[' || user_id || ',' || (user_id + 10) || ')' AS int4range_render
        |FROM c""".stripMargin,

    "cdc_scd2" ->
      """WITH g AS (SELECT user_id, event_type, event_id,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |o AS (SELECT *, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM g),
        |c AS (SELECT * FROM o WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ms AS valid_from_ms,
        |  LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS valid_to_ms,
        |  (LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL) AS is_current,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS BIGINT) AS version
        |FROM c""".stripMargin,

    // n_truth = exact jaccard >= 0.5 pair count; recall/boundedness of the
    // engine-specific LSH candidates pin as verdict booleans
    "doc_dedup_eval" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh FROM t),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM shl),
        |inv AS (SELECT doc_id, unnest(sh) AS h FROM shl),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_truth, TRUE AS recall_ok, TRUE AS cand_bounded
        |FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
        |WHERE CAST(p.inter AS DOUBLE)/(sa.n + sb.n - p.inter) >= 0.5""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin,

    "q13_order_dist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |GROUP BY 1""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH lq AS (
        |  SELECT l.*, p.p_brand FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand IN ('Brand#4', 'Brand#2')),
        |s AS (SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
        |  COUNT(*) AS nq FROM lq GROUP BY 1)
        |SELECT lq.p_brand, CAST(COUNT(*) AS BIGINT) AS n_small,
        |  CAST(SUM(CAST(lq.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lq JOIN s USING (l_partkey)
        |WHERE CAST(lq.l_quantity AS DECIMAL(12,2)) * s.nq * 5 < s.sq
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
        |  CAST(big.sum_qty AS DOUBLE) AS sum_qty
        |FROM orders o JOIN big ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,

    "q10_returned_revenue" ->
      """WITH r AS (SELECT o.o_custkey,
        |  SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R' GROUP BY 1)
        |SELECT c.c_custkey, c.c_name, c.c_mktsegment, CAST(rev AS DOUBLE) AS revenue
        |FROM r JOIN customer c ON r.o_custkey = c.c_custkey
        |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |  SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""".stripMargin,

    "q4_exists_priority" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q12_priority_lines" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_promo_share" ->
      """WITH j AS (SELECT p_type,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'),
        |a AS (SELECT
        |  SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(12,2)) END) AS promo,
        |  SUM(rev) AS total FROM j)
        |SELECT CAST(promo AS DOUBLE) AS promo_revenue,
        |  CAST(total AS DOUBLE) AS total_revenue,
        |  ROUND(CAST(promo AS DOUBLE) * 100 / CAST(total AS DOUBLE), 6) AS promo_share_pct
        |FROM a""".stripMargin,

    "q6_revenue_change" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "q8_market_share" ->
      """WITH rn AS (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |j AS (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev,
        |  sn.supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'MEDIUM'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN rn ON c_nationkey = rn.n_nationkey
        |  JOIN sn ON l_suppkey = sn.s_suppkey)
        |SELECT o_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS nation_revenue,
        |  CAST(SUM(rev) AS DOUBLE) AS total_revenue,
        |  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |    / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share
        |FROM j GROUP BY 1""".stripMargin,

    "q19_disjunctive" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 40 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q21_waiting_supplier" ->
      """WITH l1 AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM l1
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,

    "q9_product_profit" ->
      """SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_profit
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
        |GROUP BY 1, 2""".stripMargin,

    "q11_important_parts" ->
      """WITH v AS (SELECT l_partkey,
        |  SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS value
        |  FROM lineitem GROUP BY 1)
        |SELECT l_partkey, CAST(value AS DOUBLE) AS part_value
        |FROM v, (SELECT SUM(value) AS t, COUNT(*) AS n FROM v) tt
        |WHERE value * tt.n * 2 > tt.t * 3""".stripMargin,

    "q16_supplier_cnt" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
        |  CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#4' AND p.p_type <> 'ECONOMY'
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q20_excess_suppliers" ->
      """WITH slice AS (
        |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS DECIMAL(12,2)) AS q
        |  FROM lineitem
        |  WHERE year(l_shipdate) = 1997
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')),
        |spq AS (SELECT l_partkey, l_suppkey, SUM(q) AS sq FROM slice GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, SUM(q) AS tq FROM slice GROUP BY 1)
        |SELECT s.s_name, n.n_name AS nation
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE s.s_suppkey IN (
        |  SELECT spq.l_suppkey FROM spq JOIN pt ON spq.l_partkey = pt.l_partkey
        |  WHERE spq.sq * 4 > pt.tq)""".stripMargin,

    "ev_acf" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s FROM daily),
        |u AS (SELECT day, CAST(tot.n * x - tot.s AS BIGINT) AS u FROM daily, tot),
        |leads AS (SELECT u,
        |  lead(u, 1) OVER (ORDER BY day) AS u1, lead(u, 2) OVER (ORDER BY day) AS u2,
        |  lead(u, 3) OVER (ORDER BY day) AS u3, lead(u, 4) OVER (ORDER BY day) AS u4,
        |  lead(u, 5) OVER (ORDER BY day) AS u5, lead(u, 6) OVER (ORDER BY day) AS u6,
        |  lead(u, 7) OVER (ORDER BY day) AS u7 FROM u),
        |den AS (SELECT CAST(SUM(u * u) AS BIGINT) AS den FROM u),
        |pr AS (
        |  SELECT 1 AS lag, u * u1 AS prod FROM leads UNION ALL
        |  SELECT 2, u * u2 FROM leads UNION ALL
        |  SELECT 3, u * u3 FROM leads UNION ALL
        |  SELECT 4, u * u4 FROM leads UNION ALL
        |  SELECT 5, u * u5 FROM leads UNION ALL
        |  SELECT 6, u * u6 FROM leads UNION ALL
        |  SELECT 7, u * u7 FROM leads)
        |SELECT lag, ROUND(CAST(num AS DOUBLE) / den, 6) AS acf
        |FROM (SELECT lag, CAST(SUM(prod) AS BIGINT) AS num FROM pr GROUP BY 1), den""".stripMargin,

    "q_pareto_cut" ->
      """WITH pk AS (SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |h AS (SELECT v, COUNT(*) AS nc, v * COUNT(*) AS sv FROM pk GROUP BY 1),
        |c AS (SELECT v, nc, sv,
        |  SUM(sv) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS cum,
        |  SUM(nc) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS cumc FROM h),
        |tt AS (SELECT CAST(SUM(v) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n_keys FROM pk)
        |SELECT n_keys, t AS total_cents, v AS v_star_cents,
        |  CAST(cumc - nc + ((t*4+4)//5 - (cum - sv) + v - 1)//v AS BIGINT) AS n_top,
        |  ROUND(CAST(cumc - nc + ((t*4+4)//5 - (cum - sv) + v - 1)//v AS DOUBLE) / n_keys, 6) AS top_frac
        |FROM c, tt WHERE cum >= (t*4+4)//5 AND cum - sv < (t*4+4)//5""".stripMargin,

    // the naive O(n²) dominance definition — the grid-collapsed Spark plan must
    // reproduce it row for row
    "q_skyline" ->
      """WITH p AS (SELECT p_partkey, p_size,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
        |  FROM part)
        |SELECT a.p_partkey, a.p_size, a.price_cents
        |FROM p a WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.p_size >= a.p_size AND b.price_cents <= a.price_cents
        |    AND (b.p_size > a.p_size OR b.price_cents < a.price_cents))""".stripMargin,

    "q_bootstrap_ci" ->
      """WITH base AS (SELECT CAST(o_orderkey AS VARCHAR) AS k,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders),
        |rep AS (SELECT k, v, r FROM base, UNNEST(generate_series(0, 49)) AS t(r)),
        |drawn AS (SELECT r, v,
        |  CAST('0x' || substring(md5(k || ':' || CAST(r AS VARCHAR)), 1, 15) AS BIGINT) AS u
        |  FROM rep),
        |mult AS (SELECT r, v, CASE
        |  WHEN u < 424136118829305329 THEN 0 WHEN u < 848272237658610659 THEN 1
        |  WHEN u < 1060340297073263324 THEN 2 WHEN u < 1131029650211480879 THEN 3
        |  WHEN u < 1148701988496035267 THEN 4 WHEN u < 1152236456152946145 THEN 5
        |  WHEN u < 1152825534095764625 THEN 6 WHEN u < 1152909688087595836 THEN 7
        |  ELSE 8 END AS c FROM drawn),
        |means AS (SELECT r, CAST(SUM(c * v) AS DOUBLE) / SUM(c) AS m FROM mult GROUP BY 1),
        |ranked AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, r) AS rk FROM means),
        |pt AS (SELECT CAST(SUM(v) AS BIGINT) AS tv, CAST(COUNT(*) AS BIGINT) AS n FROM base)
        |SELECT n AS n_rows, CAST(50 AS BIGINT) AS n_replicas,
        |  ROUND(CAST(tv AS DOUBLE) / n / 100, 6) AS mean,
        |  ROUND(MIN(CASE WHEN rk = 2 THEN m END) / 100, 6) AS ci_lo,
        |  ROUND(MIN(CASE WHEN rk = 49 THEN m END) / 100, 6) AS ci_hi
        |FROM ranked, pt WHERE rk IN (2, 49) GROUP BY n, tv""".stripMargin,

    "q_benford" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |f AS (SELECT digit FROM d WHERE digit BETWEEN 1 AND 9),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM f),
        |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM f GROUP BY 1),
        |e(digit, exp_share) AS (VALUES
        |  (1, CAST(0.30103 AS DOUBLE)), (2, CAST(0.176091 AS DOUBLE)),
        |  (3, CAST(0.124939 AS DOUBLE)), (4, CAST(0.09691 AS DOUBLE)),
        |  (5, CAST(0.079181 AS DOUBLE)), (6, CAST(0.066947 AS DOUBLE)),
        |  (7, CAST(0.057992 AS DOUBLE)), (8, CAST(0.051153 AS DOUBLE)),
        |  (9, CAST(0.045757 AS DOUBLE)))
        |SELECT digit, n_obs, n_total,
        |  ROUND(CAST(n_obs AS DOUBLE) / n_total, 6) AS obs_share, exp_share,
        |  ROUND(dev * dev / (exp_share * n_total), 6) AS chi2_term
        |FROM (SELECT g.digit, n_obs, n_total, exp_share,
        |  CAST(n_obs AS DOUBLE) - exp_share * n_total AS dev
        |  FROM g JOIN e USING (digit), n)
        |ORDER BY digit""".stripMargin,

    "ev_funnel3" ->
      """WITH e AS (SELECT user_id, event_type,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms, event_id FROM events),
        |w1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ms END) OVER
        |  (PARTITION BY user_id ORDER BY ms, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s1run FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND s1run < ms THEN ms END AS q2ms FROM w1),
        |w3 AS (SELECT *, MIN(q2ms) OVER
        |  (PARTITION BY user_id ORDER BY ms, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s2run FROM w2),
        |w4 AS (SELECT *, CASE WHEN event_type = 'purchase' AND s2run < ms THEN ms END AS q3ms FROM w3),
        |pu AS (SELECT user_id,
        |  MIN(CASE WHEN event_type = 'view' THEN ms END) AS s1,
        |  MIN(q2ms) AS s2, MIN(q3ms) AS s3 FROM w4 GROUP BY 1)
        |SELECT CAST(COUNT(s1) AS BIGINT) AS n_view,
        |  CAST(COUNT(s2) AS BIGINT) AS n_click_after,
        |  CAST(COUNT(s3) AS BIGINT) AS n_purchase_after,
        |  ROUND(CAST(COUNT(s2) AS DOUBLE) / COUNT(s1), 6) AS rate_12,
        |  ROUND(CAST(COUNT(s3) AS DOUBLE) / COUNT(s1), 6) AS rate_13
        |FROM pu""".stripMargin,

    "ev_hour_of_week" ->
      """WITH b AS (SELECT
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d,
        |  (CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 3600000) % 24 AS hour
        |  FROM events)
        |SELECT (d + 4) % 7 AS dow, hour, COUNT(*) AS n_events
        |FROM b GROUP BY 1, 2""".stripMargin,

    "emb_ivf_recall_curve" ->
      """SELECT CAST(24 AS BIGINT) AS n_exact, TRUE AS mono_ok, TRUE AS recall8_ok""",

    "emb_cluster_purity" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, TRUE AS not_collapsed_ok,
        |  TRUE AS purity_above_chance_ok FROM embeddings""".stripMargin,

    "q_join_cost_audit" ->
      """WITH ce AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS ca FROM events GROUP BY 1),
        |co AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cb FROM orders GROUP BY 1),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys_common,
        |  CAST(SUM(ca * cb) AS BIGINT) AS predicted_rows FROM ce JOIN co USING (k)),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
        |  FROM events e JOIN orders o ON e.user_id = o.o_custkey)
        |SELECT n_keys_common, predicted_rows, actual_rows,
        |  (predicted_rows = actual_rows) AS cardinality_match
        |FROM p, a""".stripMargin,

    "doc_dataset_card" ->
      (s"""WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
        |  FROM (${jaccardPairsOracleAt(0.2)})),
        |tq AS (SELECT lang, source,
        |  list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(COALESCE(len(toks), 0)) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en FROM tq),
        |qm AS (SELECT CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM tq),
        |qs AS (SELECT SUM(CAST(
        |    ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4)
        |    AS DECIMAL(18,8))) AS sq, CAST(COUNT(*) AS BIGINT) AS qn FROM qm)
        |SELECT b.n_docs, b.n_tokens, b.n_langs, b.n_sources,
        |  ROUND(CAST(b.n_tokens AS DOUBLE) / b.n_docs, 2) AS mean_doc_tokens,
        |  ROUND(CAST(b.en AS DOUBLE) / b.n_docs, 4) AS en_share,
        |  ROUND(CAST(qs.sq AS DOUBLE) / qs.qn, 4) AS mean_quality,
        |  nd.n_neardup_pairs
        |FROM b, qs, nd""").stripMargin,

    "doc_quality_budget" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM t),
        |sc AS (SELECT n_tokens,
        |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score
        |  FROM m),
        |g AS (SELECT quality_score, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tk FROM sc GROUP BY 1),
        |c AS (SELECT quality_score, n_docs,
        |  CAST(SUM(n_docs) OVER (ORDER BY quality_score DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
        |  CAST(SUM(tk) OVER (ORDER BY quality_score DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(SUM(tk) OVER () AS BIGINT) AS tot FROM g)
        |SELECT quality_score, n_docs, cum_docs, cum_tokens,
        |  ROUND(CAST(cum_tokens AS DOUBLE) / tot, 6) AS frac_tokens
        |FROM c""".stripMargin,

    "doc_dup_length_corr" ->
      """WITH u AS (SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, n_chars FROM documents WHERE doc_id % 5 = 0),
        |g AS (SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS x FROM u GROUP BY 1),
        |j AS (SELECT g.x, u.n_chars AS y FROM u JOIN g ON md5(u.text) = g.h),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |  CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
        |  CAST(SUM(y*y) AS BIGINT) AS syy FROM j)
        |SELECT n AS n_docs,
        |  CASE WHEN n > 1 AND CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE) > 0
        |    THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |  END AS corr_copies_chars
        |FROM m""".stripMargin,

    "ev_power_analysis" ->
      """WITH m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(value AS DECIMAL(18,8))) AS s1,
        |  -- DECIMAL(19,8): int128 multiply path (18-digit operands square in int64
        |  -- and overflow); the product value is identical
        |  SUM(CAST(CAST(value AS DECIMAL(19,8)) * CAST(value AS DECIMAL(19,8)) AS DECIMAL(28,10))) AS s2
        |  FROM events WHERE value IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT event_type, n, ROUND(CAST(s1 AS DOUBLE) / n, 4) AS mean,
        |  ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1), 4) AS variance,
        |  ROUND(2.0 * ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) * 7.8489
        |    / ((CAST(s1 AS DOUBLE) / n * 0.05) * (CAST(s1 AS DOUBLE) / n * 0.05)), 2) AS n_per_arm
        |FROM m""".stripMargin,

    "doc_bpe_fertility" ->
      """WITH t AS (SELECT lang,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(COALESCE(len(toks), 0)) AS BIGINT) AS n_words,
        |  TRUE AS fertility_ge_1_ok, TRUE AS fertility_le_chars_ok
        |FROM t GROUP BY 1""".stripMargin,

    "ev_path_perplexity" ->
      """WITH e AS (SELECT user_id, event_id, event_type AS cur,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |tr AS (SELECT user_id, cur,
        |  LEAD(cur) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS nxt FROM e),
        |f AS (SELECT user_id, cur, nxt FROM tr WHERE nxt IS NOT NULL),
        |pu AS (SELECT user_id, cur, nxt, CAST(COUNT(*) AS BIGINT) AS k FROM f GROUP BY 1, 2, 3),
        |mdl AS (SELECT cur, nxt, CAST(SUM(k) AS BIGINT) AS cb FROM pu GROUP BY 1, 2),
        |ft AS (SELECT cur, CAST(SUM(cb) AS BIGINT) AS cf FROM mdl GROUP BY 1),
        |lp AS (SELECT mdl.cur, mdl.nxt,
        |  CAST(LOG10(CAST(cb AS DOUBLE) / cf) AS DECIMAL(18,8)) AS lp
        |  FROM mdl JOIN ft USING (cur))
        |SELECT pu.user_id, CAST(SUM(pu.k) AS BIGINT) AS n_transitions,
        |  ROUND(CAST(SUM(CAST(pu.k AS DECIMAL(10,0)) * lp.lp) AS DOUBLE) / SUM(pu.k), 4)
        |    AS avg_logprob
        |FROM pu JOIN lp ON lp.cur = pu.cur AND lp.nxt = pu.nxt
        |GROUP BY 1""".stripMargin,

    "ev_stickiness" ->
      """WITH ud AS (SELECT DISTINCT
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT days.day, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau
        |  FROM ud JOIN days ON ud.d BETWEEN days.day - 6 AND days.day GROUP BY 1)
        |SELECT day, dau, wau, ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
        |FROM dau JOIN wau USING (day)""".stripMargin,

    "ev_load_shift" ->
      """WITH ev AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d,
        |  (CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 3600000) % 24 AS hour FROM events),
        |grid AS (SELECT d, hour, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2),
        |mid AS (SELECT (MIN(d) + MAX(d) + 1) // 2 AS m FROM grid),
        |cells AS (SELECT (d + 4) % 7 AS dow, hour,
        |  CAST(SUM(CASE WHEN d < mid.m THEN c ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(SUM(CASE WHEN d >= mid.m THEN c ELSE 0 END) AS BIGINT) AS cb
        |  FROM grid, mid GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM cells),
        |terms AS (SELECT ca, cb,
        |  CASE WHEN ca > 0 THEN CAST((CAST(ca AS DOUBLE) / na)
        |    * LN(((CAST(ca AS DOUBLE) / na) * 2) / ((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb)))
        |    AS DECIMAL(18,12)) ELSE CAST(0 AS DECIMAL(18,12)) END AS ta,
        |  CASE WHEN cb > 0 THEN CAST((CAST(cb AS DOUBLE) / nb)
        |    * LN(((CAST(cb AS DOUBLE) / nb) * 2) / ((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb)))
        |    AS DECIMAL(18,12)) ELSE CAST(0 AS DECIMAL(18,12)) END AS tb
        |  FROM cells, tot)
        |SELECT CAST(COUNT(CASE WHEN ca > 0 AND cb > 0 THEN 1 END) AS BIGINT) AS n_common_cells,
        |  ROUND(CAST(SUM(ta) + SUM(tb) AS DOUBLE) / 2, 8) AS jsd_nats
        |FROM terms""".stripMargin,

    "ev_forecast_backtest" ->
      """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |j AS (SELECT a.c, p.c AS pred FROM d a JOIN d p ON p.day + 7 = a.day),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(ABS(c - pred)) AS BIGINT) AS sae,
        |  SUM(CAST(CAST(ABS(c - pred) AS DOUBLE) / c AS DECIMAL(18,8))) AS sape FROM j)
        |SELECT n_days, ROUND(CAST(sae AS DOUBLE) / n_days, 4) AS mae,
        |  ROUND(CAST(sape AS DOUBLE) / n_days, 6) AS mape
        |FROM m""".stripMargin,

    // the identical integer recursion as a recursive CTE: one row per (event_type,
    // t) carrying (level, trend, season LIST); nested subqueries stage level' so
    // trend'/season' reference it without recomputation — values still bit-identical
    // to Spark's textually-substituted form because every op is exact BIGINT
    "ev_holt_winters" ->
      """WITH RECURSIVE
        |d AS (SELECT event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |    CAST(COUNT(*) AS BIGINT) * 1000000 AS y
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, y,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) - 1 AS t
        |  FROM d),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt FROM ser GROUP BY 1
        |  HAVING COUNT(*) >= 14),
        |lvl0 AS (SELECT event_type, CAST(SUM(y) AS BIGINT) // 7 AS lvl
        |  FROM ser WHERE t < 7 GROUP BY 1),
        |s0 AS (SELECT s.event_type, LIST(s.y - l.lvl ORDER BY s.t) AS sn
        |  FROM ser s JOIN lvl0 l USING (event_type) WHERE s.t < 7 GROUP BY 1),
        |rec AS (
        |  SELECT n.event_type, l.lvl, CAST(0 AS BIGINT) AS tr, s0.sn, CAST(7 AS BIGINT) AS t
        |  FROM n JOIN lvl0 l USING (event_type) JOIN s0 USING (event_type)
        |  UNION ALL
        |  SELECT event_type, lvl2 AS lvl,
        |    (lvl2 - lvl1) // 10 + (9 * tr1) // 10 AS tr,
        |    list_transform(range(1, 8), j -> CASE WHEN j = (t1 % 7) + 1
        |      THEN (3 * (y - lvl2)) // 10 + (7 * si) // 10 ELSE sn1[CAST(j AS INT)] END) AS sn,
        |    t1 + 1 AS t
        |  FROM (
        |    SELECT r.event_type, r.lvl AS lvl1, r.tr AS tr1, r.sn AS sn1, r.t AS t1, s.y,
        |      r.sn[CAST(r.t % 7 AS INT) + 1] AS si,
        |      (2 * (s.y - r.sn[CAST(r.t % 7 AS INT) + 1])) // 10
        |        + (8 * (r.lvl + r.tr)) // 10 AS lvl2
        |    FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.t = r.t) x),
        |fin AS (SELECT r.* FROM rec r JOIN n USING (event_type) WHERE r.t = n.nt)
        |SELECT f.event_type, CAST(h.h AS INT) AS horizon,
        |  f.lvl + h.h * f.tr + f.sn[CAST((f.t + h.h - 1) % 7 AS INT) + 1] AS forecast_e6
        |FROM fin f CROSS JOIN (SELECT UNNEST(range(1, 8)) AS h) h""".stripMargin,

    "ev_holt_damped" ->
      """WITH RECURSIVE
        |d AS (SELECT event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |    CAST(COUNT(*) AS BIGINT) * 1000000 AS y
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, y,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) - 1 AS t
        |  FROM d),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt FROM ser GROUP BY 1
        |  HAVING COUNT(*) >= 14),
        |lvl0 AS (SELECT event_type, CAST(SUM(y) AS BIGINT) // 7 AS lvl
        |  FROM ser WHERE t < 7 GROUP BY 1),
        |s0 AS (SELECT s.event_type, LIST(s.y - l.lvl ORDER BY s.t) AS sn
        |  FROM ser s JOIN lvl0 l USING (event_type) WHERE s.t < 7 GROUP BY 1),
        |rec AS (
        |  SELECT n.event_type, l.lvl, CAST(0 AS BIGINT) AS tr, s0.sn, CAST(7 AS BIGINT) AS t
        |  FROM n JOIN lvl0 l USING (event_type) JOIN s0 USING (event_type)
        |  UNION ALL
        |  SELECT event_type, lvl2 AS lvl,
        |    (lvl2 - lvl1) // 10 + (9 * phtr) // 10 AS tr,
        |    list_transform(range(1, 8), j -> CASE WHEN j = (t1 % 7) + 1
        |      THEN (3 * (y - lvl2)) // 10 + (7 * si) // 10 ELSE sn1[CAST(j AS INT)] END) AS sn,
        |    t1 + 1 AS t
        |  FROM (
        |    SELECT r.event_type, r.lvl AS lvl1, r.tr AS tr1, r.sn AS sn1, r.t AS t1, s.y,
        |      r.sn[CAST(r.t % 7 AS INT) + 1] AS si,
        |      (9 * r.tr) // 10 AS phtr,
        |      (2 * (s.y - r.sn[CAST(r.t % 7 AS INT) + 1])) // 10
        |        + (8 * (r.lvl + (9 * r.tr) // 10)) // 10 AS lvl2
        |    FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.t = r.t) x),
        |fin AS (SELECT r.* FROM rec r JOIN n USING (event_type) WHERE r.t = n.nt),
        |ds AS (
        |  SELECT event_type, CAST(1 AS BIGINT) AS h,
        |    (9 * tr) // 10 AS ft, (9 * tr) // 10 AS acc FROM fin
        |  UNION ALL
        |  SELECT event_type, h + 1, (9 * ft) // 10, acc + (9 * ft) // 10
        |  FROM ds WHERE h < 7)
        |SELECT f.event_type, CAST(ds.h AS INT) AS horizon,
        |  f.lvl + ds.acc + f.sn[CAST((f.t + ds.h - 1) % 7 AS INT) + 1] AS forecast_e6
        |FROM fin f JOIN ds USING (event_type)""".stripMargin,

    "ev_holt_multiplicative" ->
      """WITH RECURSIVE
        |d AS (SELECT event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |    CAST(COUNT(*) AS BIGINT) * 1000000 AS y
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, y,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) - 1 AS t
        |  FROM d),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt FROM ser GROUP BY 1
        |  HAVING COUNT(*) >= 14),
        |lvl0 AS (SELECT event_type, CAST(SUM(y) AS BIGINT) // 7 AS lvl
        |  FROM ser WHERE t < 7 GROUP BY 1),
        |s0 AS (SELECT s.event_type, LIST((s.y * 1000000) // l.lvl ORDER BY s.t) AS sn
        |  FROM ser s JOIN lvl0 l USING (event_type) WHERE s.t < 7 GROUP BY 1),
        |rec AS (
        |  SELECT n.event_type, l.lvl, CAST(0 AS BIGINT) AS tr, s0.sn, CAST(7 AS BIGINT) AS t
        |  FROM n JOIN lvl0 l USING (event_type) JOIN s0 USING (event_type)
        |  UNION ALL
        |  SELECT event_type, lvl2 AS lvl,
        |    (lvl2 - lvl1) // 10 + (9 * tr1) // 10 AS tr,
        |    list_transform(range(1, 8), j -> CASE WHEN j = (t1 % 7) + 1
        |      THEN (3 * ((y * 1000000) // GREATEST(lvl2, 1))) // 10 + (7 * si) // 10
        |      ELSE sn1[CAST(j AS INT)] END) AS sn,
        |    t1 + 1 AS t
        |  FROM (
        |    SELECT r.event_type, r.lvl AS lvl1, r.tr AS tr1, r.sn AS sn1, r.t AS t1, s.y,
        |      r.sn[CAST(r.t % 7 AS INT) + 1] AS si,
        |      (2 * ((s.y * 1000000) // GREATEST(r.sn[CAST(r.t % 7 AS INT) + 1], 1))) // 10
        |        + (8 * (r.lvl + r.tr)) // 10 AS lvl2
        |    FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.t = r.t) x),
        |fin AS (SELECT r.* FROM rec r JOIN n USING (event_type) WHERE r.t = n.nt)
        |SELECT f.event_type, CAST(h.h AS INT) AS horizon,
        |  ((f.lvl + h.h * f.tr) * f.sn[CAST((f.t + h.h - 1) % 7 AS INT) + 1]) // 1000000 AS forecast_e6
        |FROM fin f CROSS JOIN (SELECT UNNEST(range(1, 8)) AS h) h""".stripMargin,

    "ev_survival_hazard" ->
      """WITH life AS (SELECT user_id,
        |  MIN(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS f,
        |  MAX(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS l
        |  FROM events GROUP BY 1),
        |e AS (SELECT MAX(l) AS endd FROM life),
        |m AS (SELECT l - f AS t, (l >= e.endd - 2) AS cens FROM life, e),
        |g AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_at,
        |  CAST(SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS n_churn
        |  FROM m GROUP BY 1)
        |SELECT t, CAST(SUM(n_at) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk,
        |  n_churn,
        |  ROUND(CAST(n_churn AS DOUBLE) /
        |    CAST(SUM(n_at) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT), 6) AS hazard
        |FROM g""".stripMargin,

    "ev_kaplan_meier" ->
      """WITH RECURSIVE life AS (SELECT user_id,
        |  MIN(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS f,
        |  MAX(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS l
        |  FROM events GROUP BY 1),
        |e AS (SELECT MAX(l) AS endd FROM life),
        |m AS (SELECT l - f AS t, (l >= e.endd - 2) AS cens FROM life, e),
        |g AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_at,
        |  CAST(SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS n_churn
        |  FROM m GROUP BY 1),
        |haz AS (SELECT CAST(t AS BIGINT) AS t,
        |  CAST(SUM(n_at) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk,
        |  n_churn FROM g),
        |ord AS (SELECT t, n_risk, n_churn,
        |  CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS rn FROM haz),
        |rec AS (
        |  SELECT CAST(0 AS BIGINT) AS rn, CAST(1000000000000 AS BIGINT) AS s
        |  UNION ALL
        |  SELECT o.rn, r.s * (o.n_risk - o.n_churn) // o.n_risk
        |  FROM rec r JOIN ord o ON o.rn = r.rn + 1)
        |SELECT o.t, o.n_risk, o.n_churn, r.s AS s_e12,
        |  ROUND(r.s / 1000000000000.0, 6) AS survival
        |FROM rec r JOIN ord o USING (rn)""".stripMargin,

    "ev_bot_score" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |g AS (SELECT user_id,
        |  ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS g FROM e),
        |f AS (SELECT user_id, g FROM g WHERE g IS NOT NULL),
        |m AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, SUM(g) AS sg, SUM(g*g) AS sg2
        |  FROM f GROUP BY 1)
        |SELECT user_id, n AS n_gaps,
        |  ROUND(CAST(sg AS DOUBLE) / n, 2) AS mean_gap_ms,
        |  ROUND(CAST(n * sg2 - sg * sg AS DOUBLE) / CAST(sg * sg AS DOUBLE), 4) AS cv2,
        |  (CAST(n * sg2 - sg * sg AS DOUBLE) / CAST(sg * sg AS DOUBLE) < 0.1) AS is_regular
        |FROM m WHERE n >= 5""".stripMargin,

    "q_chi2_independence" ->
      """WITH j AS (SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |cells AS (SELECT seg, pri, CAST(COUNT(*) AS BIGINT) AS o FROM j GROUP BY 1, 2),
        |rt AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT pri, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        |terms AS (SELECT
        |  CAST((CAST(o AS DOUBLE) - CAST(rt.rt AS DOUBLE) * ct.ct / n.n)
        |     * (CAST(o AS DOUBLE) - CAST(rt.rt AS DOUBLE) * ct.ct / n.n)
        |     / (CAST(rt.rt AS DOUBLE) * ct.ct / n.n) AS DECIMAL(18,8)) AS term,
        |  cells.seg, cells.pri
        |  FROM cells JOIN rt USING (seg) JOIN ct USING (pri), n)
        |SELECT ROUND(CAST(SUM(term) AS DOUBLE), 4) AS chi2,
        |  CAST((COUNT(DISTINCT seg) - 1) * (COUNT(DISTINCT pri) - 1) AS BIGINT) AS dof
        |FROM terms""".stripMargin,

    "q_set_ops" ->
      """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_intersect,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)) AS n_intersect_all,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_except,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)) AS n_except_all""".stripMargin,

    "doc_prefix_dups" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, 1, 250) FROM documents WHERE doc_id % 7 = 0),
        |h AS (SELECT doc_id, md5(substring(text, 1, 200)) AS prefix_md5, md5(text) AS full_md5 FROM u)
        |SELECT prefix_md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT full_md5) AS BIGINT) AS n_distinct_full,
        |  MIN(doc_id) AS keeper_id,
        |  (COUNT(DISTINCT full_md5) > 1) AS is_truncation_group
        |FROM h GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,

    "emb_norm_audit" ->
      """WITH n AS (SELECT label,
        |  CAST(SQRT(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS DECIMAL(18,8)) AS nr
        |  FROM embeddings)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN nr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  ROUND(CAST(MIN(nr) AS DOUBLE), 6) AS min_norm,
        |  ROUND(CAST(MAX(nr) AS DOUBLE), 6) AS max_norm,
        |  ROUND(CAST(SUM(nr) AS DOUBLE) / COUNT(*), 6) AS mean_norm
        |FROM n GROUP BY 1""".stripMargin,

    "emb_silhouette" ->
      """WITH q AS (SELECT vec_id AS anchor_id, label AS anchor_label, embedding
        |  FROM embeddings WHERE vec_id < 64),
        |p AS (SELECT q.anchor_id, q.anchor_label, c.label AS cand_label,
        |  CAST(1.0 - list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])) AS DECIMAL(18,8)) AS d
        |  FROM q JOIN embeddings c ON c.vec_id <> q.anchor_id),
        |m AS (SELECT anchor_id, anchor_label, cand_label,
        |  CAST(SUM(d) AS DOUBLE) / COUNT(*) AS md FROM p GROUP BY 1, 2, 3),
        |a AS (SELECT anchor_id, anchor_label AS label, md AS ad FROM m
        |  WHERE cand_label = anchor_label),
        |b AS (SELECT anchor_id, MIN(md) AS bd FROM m
        |  WHERE cand_label <> anchor_label GROUP BY 1)
        |SELECT a.anchor_id, a.label, ROUND(a.ad, 6) AS a_dist, ROUND(b.bd, 6) AS b_dist,
        |  ROUND((b.bd - a.ad) / GREATEST(a.ad, b.bd), 4) AS silhouette
        |FROM a JOIN b USING (anchor_id)""".stripMargin,

    "ev_layout_skip_audit" ->
      """WITH st AS (SELECT MAX(event_id) AS mx FROM events),
        |nat AS (SELECT (event_id * 64) // (mx + 1) AS f, user_id FROM events, st),
        |nf AS (SELECT f, MIN(user_id) AS mn, MAX(user_id) AS mxu FROM nat GROUP BY 1),
        |pr AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
        |tc AS (SELECT p.user_id, CAST(COUNT(*) AS BIGINT) AS c FROM pr p
        |  JOIN nf ON p.user_id BETWEEN nf.mn AND nf.mxu GROUP BY 1)
        |SELECT CAST(64 AS INT) AS n_files, CAST(COUNT(*) AS BIGINT) AS n_probes,
        |  ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*), 6) AS nat_avg_files,
        |  TRUE AS range_avg_4x_ok, TRUE AS range_max_files_ok
        |FROM tc""".stripMargin,

    "q_null_semantics" ->
      """SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |     WHERE o_custkey IN (SELECT nullif(c_custkey, 7) FROM customer)) AS n_in,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |     WHERE o_custkey NOT IN (SELECT nullif(c_custkey, 7) FROM customer)) AS n_not_in,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE nullif(c.c_custkey, 7) = o.o_custkey)) AS n_not_exists,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders""".stripMargin,

    "doc_mixture_plan" ->
      """WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1
        |  HAVING SUM(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> ''))) > 0),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS k FROM s)
        |SELECT source, n_docs, n_tokens,
        |  ROUND(CAST(n_tokens AS DOUBLE) / total, 6) AS current_share,
        |  ROUND(1.0 / k, 6) AS target_share,
        |  total // (k * n_tokens) AS n_epochs,
        |  ROUND(CAST(total % (k * n_tokens) AS DOUBLE) / (k * n_tokens), 6) AS resid_rate
        |FROM s, t""".stripMargin,

    // unsalted replay: the salt is a pure execution-layout device, so the oracle joins
    // on event_type alone — identical results prove salting changed the plan, not the
    // answer
    "ev_skew_join_salted" ->
      """WITH d AS (SELECT event_type, SUM(CAST(value AS DECIMAL(18,8))) AS s1,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(CASE WHEN CAST(e.value AS DECIMAL(19,8)) * d.n
        |    > CAST(d.s1 AS DECIMAL(38,8)) THEN 1 END) AS BIGINT) AS n_above_mean
        |FROM events e JOIN d USING (event_type) GROUP BY 1""".stripMargin,

    "ev_gini" ->
      """WITH uc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |h AS (SELECT c AS v, CAST(COUNT(*) AS BIGINT) AS nk FROM uc GROUP BY 1),
        |cum AS (SELECT v, nk, COALESCE(CAST(SUM(nk) OVER
        |  (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS r
        |  FROM h),
        |a AS (SELECT CAST(SUM(v * (2 * nk * r + nk * (nk + 1))) AS BIGINT) AS s2,
        |  CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(v * nk) AS BIGINT) AS t FROM cum)
        |SELECT n AS n_users, t AS total_events,
        |  ROUND(CAST(s2 AS DOUBLE) / (n * t) - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM a""".stripMargin,

    "ev_qini" ->
      """WITH e AS (SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d FROM events),
        |d0 AS (SELECT MIN(d) AS d0 FROM e),
        |u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN d < d0 + 15 THEN c ELSE 0 END) AS BIGINT) AS score,
        |    CAST(SUM(CASE WHEN d >= d0 + 15 THEN c ELSE 0 END) AS BIGINT) AS y,
        |    user_id % 2 = 1 AS tr
        |  FROM e, d0 GROUP BY user_id, d0),
        |g AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n_at,
        |    CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS nt_at,
        |    CAST(SUM(CASE WHEN tr THEN y ELSE 0 END) AS BIGINT) AS yt_at,
        |    CAST(SUM(CASE WHEN NOT tr THEN y ELSE 0 END) AS BIGINT) AS yc_at
        |  FROM u GROUP BY 1),
        |cum AS (SELECT score, n_at,
        |    CAST(SUM(n_at) OVER w AS BIGINT) AS cumn,
        |    CAST(SUM(nt_at) OVER w AS BIGINT) AS nt,
        |    CAST(SUM(yt_at) OVER w AS BIGINT) AS yt,
        |    CAST(SUM(yc_at) OVER w AS BIGINT) AS yc
        |  FROM g WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM u),
        |dd AS (SELECT CAST(x.d AS BIGINT) AS decile FROM unnest(range(1, 11)) AS x(d)),
        |j AS (SELECT decile, (decile * n_users + 9) // 10 AS b, cum.*
        |  FROM cum CROSS JOIN tot CROSS JOIN dd)
        |SELECT decile, cumn AS n_included, nt AS n_treat,
        |  cumn - nt AS n_ctrl,
        |  ROUND(CASE WHEN cumn - nt > 0 THEN
        |    (CAST(yt AS DOUBLE) - CAST(yc AS DOUBLE) * nt / (cumn - nt)) / 100.0
        |  END, 4) AS qini_dollars
        |FROM j WHERE cumn >= b AND cumn - n_at < b""".stripMargin,

    "ev_lorenz" ->
      """WITH uc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |h AS (SELECT c AS v, CAST(COUNT(*) AS BIGINT) AS nk FROM uc GROUP BY 1),
        |cum AS (SELECT v, nk,
        |  COALESCE(CAST(SUM(nk) OVER
        |    (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS r,
        |  COALESCE(CAST(SUM(v * nk) OVER
        |    (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS ce
        |  FROM h),
        |tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS n_users,
        |  CAST(SUM(v * nk) AS BIGINT) AS total_events FROM h),
        |dd AS (SELECT CAST(u.d AS BIGINT) AS decile FROM unnest(range(1, 11)) AS u(d)),
        |j AS (SELECT decile, (decile * n_users + 9) // 10 AS b, v, nk, r, ce, total_events
        |  FROM cum CROSS JOIN tot CROSS JOIN dd)
        |SELECT decile, b AS n_users_cum,
        |  CAST(ce + (b - r) * v AS BIGINT) AS events_cum,
        |  ROUND(CAST(ce + (b - r) * v AS DOUBLE) / total_events, 6) AS share
        |FROM j WHERE r < b AND b <= r + nk""".stripMargin,

    "ev_cusum" ->
      """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS total FROM d),
        |s AS (SELECT day, c,
        |  CAST(SUM(c) OVER (ORDER BY day) AS BIGINT) AS cum,
        |  CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS pos FROM d),
        |sc AS (SELECT day, c, n.n * s.cum - s.pos * n.total AS s_scaled, n.n AS nn
        |  FROM s, n)
        |SELECT day, c AS n_events, CAST(s_scaled AS BIGINT) AS s_scaled,
        |  ROUND(CAST(s_scaled AS DOUBLE) / nn, 6) AS cusum,
        |  (ROW_NUMBER() OVER (ORDER BY ABS(s_scaled) DESC, day) = 1) AS is_peak
        |FROM sc""".stripMargin,

    "ev_seasonal_decompose" ->
      """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |w AS (SELECT day, c,
        |  CASE WHEN COUNT(*) OVER win = 7 THEN CAST(SUM(c) OVER win AS BIGINT) END AS s7
        |  FROM d WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (SELECT day, c, s7, 7 * c - s7 AS detr, (day + 4) % 7 AS dow FROM w),
        |sea AS (SELECT dow, CAST(SUM(detr) AS BIGINT) AS ss, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM det WHERE detr IS NOT NULL GROUP BY 1)
        |SELECT det.day, det.dow, det.c AS n_events,
        |  ROUND(CAST(det.s7 AS DOUBLE) / 7, 6) AS trend,
        |  ROUND(CAST(sea.ss AS DOUBLE) / (7 * sea.cnt), 6) AS seasonal,
        |  ROUND(CAST(det.detr * sea.cnt - sea.ss AS DOUBLE) / (7 * sea.cnt), 6) AS residual
        |FROM det LEFT JOIN sea USING (dow)""".stripMargin,

    "q_skew_audit" ->
      """WITH ec AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(MAX(c) AS BIGINT) AS max_c, CAST(SUM(c*c) AS BIGINT) AS pair_cost FROM ec)
        |SELECT n_keys, n_rows, max_c, pair_cost,
        |  ROUND(CAST(max_c AS DOUBLE) * n_keys / n_rows, 6) AS skew_ratio,
        |  ROUND(CAST(pair_cost AS DOUBLE) * n_keys / (n_rows * n_rows), 6) AS amplification
        |FROM m""".stripMargin,

    "q_profile" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM orders)
        |SELECT 'o_orderkey' AS col_name,
        |  CAST(n.n - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(MIN(o_orderkey) AS DOUBLE) AS min_num, CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM orders, n GROUP BY n.n
        |UNION ALL
        |SELECT 'o_custkey', CAST(n.n - COUNT(o_custkey) AS BIGINT),
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
        |  CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE), NULL, NULL
        |FROM orders, n GROUP BY n.n
        |UNION ALL
        |SELECT 'o_totalprice', CAST(n.n - COUNT(o_totalprice) AS BIGINT),
        |  CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
        |  CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), NULL, NULL
        |FROM orders, n GROUP BY n.n
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(n.n - COUNT(o_orderstatus) AS BIGINT),
        |  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), MIN(o_orderstatus), MAX(o_orderstatus)
        |FROM orders, n GROUP BY n.n
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(n.n - COUNT(o_orderpriority) AS BIGINT),
        |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), MIN(o_orderpriority), MAX(o_orderpriority)
        |FROM orders, n GROUP BY n.n""".stripMargin,

    "q_dq_audit" ->
      """WITH checks(check_name, n_violations) AS (
        |  SELECT 'orders_custkey_in_customer',
        |    CAST((SELECT COUNT(*) FROM orders o
        |      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        |  UNION ALL SELECT 'lineitem_quantity_range',
        |    CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity < 0 OR l_quantity > 60) AS BIGINT)
        |  UNION ALL SELECT 'orders_status_domain',
        |    CAST((SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('F','O','P')) AS BIGINT)
        |  UNION ALL SELECT 'customer_custkey_unique',
        |    CAST((SELECT COALESCE(SUM(c - 1), 0) FROM
        |      (SELECT COUNT(*) AS c FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1)) AS BIGINT)
        |  UNION ALL SELECT 'lineitem_shipdate_not_null',
        |    CAST((SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL) AS BIGINT))
        |SELECT check_name, n_violations, (n_violations = 0) AS pass FROM checks""".stripMargin,

    "q_topn_per_group" ->
      """SELECT o_custkey, CAST(rn AS INT) AS rank, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "ev_cohort_ltv" ->
      """WITH e AS (SELECT user_id,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 604800000 AS wk,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1)
        |SELECT c.cohort_wk, CAST(e.wk - c.cohort_wk AS INT) AS week_offset,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(e.v) AS DOUBLE) AS revenue
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // the incremental path must REPRODUCE the full-stream semantics — same SQL as cdc_scd2
    "cdc_scd2_incremental" ->
      """WITH g AS (SELECT user_id, event_type, event_id,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |o AS (SELECT *, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM g),
        |c AS (SELECT * FROM o WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ms AS valid_from_ms,
        |  LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS valid_to_ms,
        |  (LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL) AS is_current,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS BIGINT) AS version
        |FROM c""".stripMargin,

    "emb_kmeans_step" ->
      """WITH seeds AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS c
        |  FROM embeddings WHERE vec_id < 8),
        |sim AS (SELECT e.vec_id, s.cid, e.embedding,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(s.c AS DOUBLE[])) AS sim
        |  FROM embeddings e CROSS JOIN seeds s),
        |asg AS (SELECT vec_id, cid, embedding FROM sim
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
        |px AS (SELECT a.cid, CAST(u.i AS INT) AS dim_idx,
        |    CAST(a.embedding[CAST(u.i + 1 AS INT)] AS DECIMAL(18,8)) AS xq
        |  FROM asg a, unnest(range(len(a.embedding))) AS u(i))
        |SELECT cid, dim_idx,
        |  ROUND(CAST(SUM(xq) AS DOUBLE) / COUNT(*), 6) AS mean_val,
        |  CAST(COUNT(*) AS BIGINT) AS n_assigned
        |FROM px GROUP BY 1, 2""".stripMargin,

    // integer-exact type-1 quintile thresholds (t_i = min v with 5*cum >= i*n) — zero
    // floating-point interpolation, so both engines agree bit-for-bit
    "q_rfm" ->
      """WITH per AS (SELECT o_custkey, MAX(o_orderdate) AS last_d, COUNT(*) AS frequency,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS mon FROM orders GROUP BY 1),
        |ref AS (SELECT MAX(o_orderdate) AS ref_d FROM orders),
        |base AS (SELECT o_custkey,
        |    CAST(date_diff('day', CAST(last_d AS DATE), CAST(ref_d AS DATE)) AS BIGINT) AS recency_days,
        |    CAST(frequency AS BIGINT) AS frequency,
        |    CAST(mon * 100 AS BIGINT) AS cents
        |  FROM per CROSS JOIN ref),
        |st AS (SELECT 0 AS cid, recency_days AS v FROM base
        |  UNION ALL SELECT 1, frequency FROM base
        |  UNION ALL SELECT 2, cents FROM base),
        |h AS (SELECT cid, v, COUNT(*) AS c FROM st GROUP BY 1, 2),
        |n AS (SELECT cid, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY 1),
        |cu AS (SELECT h.cid, h.v,
        |    CAST(SUM(h.c) OVER (PARTITION BY h.cid ORDER BY h.v) AS BIGINT) AS cum, n.n
        |  FROM h JOIN n USING (cid)),
        |th AS (SELECT cid,
        |    MIN(CASE WHEN cum * 5 >= n THEN v END) AS t1,
        |    MIN(CASE WHEN cum * 5 >= n * 2 THEN v END) AS t2,
        |    MIN(CASE WHEN cum * 5 >= n * 3 THEN v END) AS t3,
        |    MIN(CASE WHEN cum * 5 >= n * 4 THEN v END) AS t4
        |  FROM cu GROUP BY 1),
        |tr AS (SELECT
        |    MAX(CASE WHEN cid = 0 THEN t1 END) AS r1, MAX(CASE WHEN cid = 0 THEN t2 END) AS r2,
        |    MAX(CASE WHEN cid = 0 THEN t3 END) AS r3, MAX(CASE WHEN cid = 0 THEN t4 END) AS r4,
        |    MAX(CASE WHEN cid = 1 THEN t1 END) AS f1, MAX(CASE WHEN cid = 1 THEN t2 END) AS f2,
        |    MAX(CASE WHEN cid = 1 THEN t3 END) AS f3, MAX(CASE WHEN cid = 1 THEN t4 END) AS f4,
        |    MAX(CASE WHEN cid = 2 THEN t1 END) AS m1, MAX(CASE WHEN cid = 2 THEN t2 END) AS m2,
        |    MAX(CASE WHEN cid = 2 THEN t3 END) AS m3, MAX(CASE WHEN cid = 2 THEN t4 END) AS m4
        |  FROM th)
        |SELECT b.o_custkey, b.recency_days, b.frequency,
        |  CAST(b.cents AS DOUBLE) / 100 AS monetary,
        |  CAST(1 + (b.recency_days < r1)::INT + (b.recency_days < r2)::INT
        |         + (b.recency_days < r3)::INT + (b.recency_days < r4)::INT AS INT) AS r_score,
        |  CAST(1 + (b.frequency > f1)::INT + (b.frequency > f2)::INT
        |         + (b.frequency > f3)::INT + (b.frequency > f4)::INT AS INT) AS f_score,
        |  CAST(1 + (b.cents > m1)::INT + (b.cents > m2)::INT
        |         + (b.cents > m3)::INT + (b.cents > m4)::INT AS INT) AS m_score,
        |  CAST((1 + (b.recency_days < r1)::INT + (b.recency_days < r2)::INT
        |          + (b.recency_days < r3)::INT + (b.recency_days < r4)::INT) * 100
        |     + (1 + (b.frequency > f1)::INT + (b.frequency > f2)::INT
        |          + (b.frequency > f3)::INT + (b.frequency > f4)::INT) * 10
        |     + (1 + (b.cents > m1)::INT + (b.cents > m2)::INT
        |          + (b.cents > m3)::INT + (b.cents > m4)::INT) AS INT) AS rfm
        |FROM base b CROSS JOIN tr""".stripMargin,

    // cents-long grid like the Spark side; interpolation over scaled integers /100 is the
    // unscaled percentile exactly
    "q_percentiles" ->
      """SELECT ROUND(quantile_cont(CAST(round(l_quantity * 100) AS BIGINT), 0.5) / 100, 2) AS median_qty,
        |  ROUND(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.95) / 100, 2) AS p95_price,
        |  ROUND(quantile_cont(CAST(round(l_discount * 100) AS BIGINT), 0.25) / 100, 2) AS p25_discount
        |FROM lineitem""".stripMargin,

    "q_approx_sketch" ->
      """SELECT CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_groups,
        |  TRUE AS hll_ok, TRUE AS pctl_ok FROM lineitem""".stripMargin,

    "cdc_anti_join" ->
      """SELECT user_id, event_id FROM events e1
        |WHERE event_id < 500 AND NOT EXISTS (
        |  SELECT 1 FROM events e2
        |  WHERE e2.event_id >= 500 AND e2.user_id % 3 = 0 AND e2.user_id = e1.user_id)""".stripMargin,

    "cdc_semi_join" ->
      """SELECT DISTINCT user_id FROM events e1
        |WHERE EXISTS (SELECT 1 FROM events e2 WHERE e2.event_type = 'error' AND e2.user_id = e1.user_id)""".stripMargin,

    "cdc_csv_roundtrip" -> "SELECT * FROM nation",
    "cdc_orc_roundtrip" -> "SELECT * FROM nation",
    "cdc_json_roundtrip" -> "SELECT * FROM nation",

    "cdc_column_filter" -> "SELECT event_id, user_id, event_type FROM events",

    "cdc_reconcile" ->
      "SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS legacy_score FROM events",

    "ev_window_agg" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS hour_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "ev_running_window" ->
      """SELECT event_id, user_id,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events""".stripMargin,

    "ev_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms,
        |    LAG(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)) OVER
        |      (PARTITION BY user_id ORDER BY CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT), event_id) AS prev_ms
        |  FROM events),
        |s AS (
        |  SELECT user_id, ms,
        |    SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY ms, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events,
        |  MIN(ms) AS start_ms, MAX(ms) AS end_ms
        |FROM s GROUP BY user_id, session_idx""".stripMargin,

    "ev_session_score" ->
      """WITH g AS (SELECT user_id, event_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |l AS (SELECT *,
        |    LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_type,
        |    LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_ms FROM g),
        |s AS (SELECT *,
        |    SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ms, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM l),
        |tr AS (SELECT user_id, session_idx, event_type AS from_type, next_type AS to_type
        |  FROM s WHERE next_type IS NOT NULL AND next_ms - ms <= 1800000),
        |m AS (SELECT from_type, to_type, COUNT(*) AS n FROM tr GROUP BY 1, 2),
        |lp AS (SELECT from_type, to_type,
        |    CAST(LOG10(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE))
        |      AS DECIMAL(18,8)) AS lp FROM m)
        |SELECT t.user_id, CAST(t.session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_trans,
        |  ROUND(CAST(SUM(l2.lp) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
        |FROM tr t JOIN lp l2 USING (from_type, to_type) GROUP BY 1, 2""".stripMargin,

    "ev_mannwhitney" ->
      """WITH v AS (SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |g AS (SELECT s, CAST(SUM(label) AS BIGINT) AS pos,
        |  CAST(COUNT(*) - SUM(label) AS BIGINT) AS neg FROM v GROUP BY 1),
        |c AS (SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY s
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg FROM g),
        |a AS (SELECT CAST(SUM(pos) AS BIGINT) AS n1, CAST(SUM(neg) AS BIGINT) AS n2,
        |  CAST(SUM(pos * (cumneg * 2 + neg)) AS BIGINT) AS u2,
        |  CAST(SUM((pos+neg)*(pos+neg)*(pos+neg) - (pos+neg)) AS BIGINT) AS tie3 FROM c)
        |SELECT n1, n2, u2, tie3,
        |  ROUND(CAST(u2 - n1*n2 AS DOUBLE)
        |    / (2.0 * sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
        |      * (CAST(n1 + n2 + 1 AS DOUBLE)
        |        - CAST(tie3 AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))), 6)
        |    AS z
        |FROM a""".stripMargin,

    // ordered-EMD on exact HUGEINT cumulative products; one double division per group
    "ev_t_closeness" ->
      """WITH e AS (SELECT event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |    (CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 3600000) % 24 AS h FROM events),
        |cells AS (SELECT event_type, day, h, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2, 3),
        |grid AS (SELECT g.event_type, g.day, hh.h, COALESCE(c.c, 0) AS c
        |  FROM (SELECT DISTINCT event_type, day FROM cells) g
        |  CROSS JOIN (SELECT DISTINCT h FROM e) hh
        |  LEFT JOIN cells c ON c.event_type = g.event_type AND c.day = g.day AND c.h = hh.h),
        |gl AS (SELECT h, CAST(SUM(c) AS BIGINT) AS gc FROM grid GROUP BY 1),
        |gcum AS (SELECT h, SUM(gc) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS ccumg,
        |    (SELECT SUM(gc) FROM gl) AS nn FROM gl),
        |ng AS (SELECT event_type, day, CAST(SUM(c) AS BIGINT) AS n_g FROM grid GROUP BY 1, 2),
        |terms AS (SELECT gr.event_type, gr.day, ng.n_g, gcum.nn,
        |    ABS(CAST(SUM(gr.c) OVER (PARTITION BY gr.event_type, gr.day ORDER BY gr.h
        |        ROWS UNBOUNDED PRECEDING) AS HUGEINT) * gcum.nn
        |      - CAST(gcum.ccumg AS HUGEINT) * ng.n_g) AS term
        |  FROM grid gr JOIN gcum ON gr.h = gcum.h
        |  JOIN ng ON ng.event_type = gr.event_type AND ng.day = gr.day),
        |pg AS (SELECT n_g, nn, SUM(term) AS num FROM terms GROUP BY event_type, day, n_g, nn),
        |pg2 AS (SELECT n_g, nn, CAST(num AS DOUBLE) / n_g / nn / 23.0 AS t,
        |    num * 5 > CAST(n_g AS HUGEINT) * nn * 23 AS over_ FROM pg)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups, CAST(MAX(nn) AS BIGINT) AS n_rows,
        |  ROUND(MAX(t), 6) AS max_t_closeness,
        |  CAST(SUM(CASE WHEN over_ THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_over_02,
        |  CAST(SUM(CASE WHEN over_ THEN n_g ELSE 0 END) AS BIGINT) AS rows_over_02
        |FROM pg2""".stripMargin,

    "ev_l_diversity" ->
      """WITH qi AS (SELECT event_type,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(FLOOR(value / 100) AS BIGINT) AS vbucket, user_id FROM events),
        |g AS (SELECT event_type, day, vbucket, CAST(COUNT(*) AS BIGINT) AS k,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l FROM qi GROUP BY 1, 2, 3),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(MIN(l) AS BIGINT) AS min_l,
        |  CAST(COUNT(CASE WHEN l = 1 THEN 1 END) AS BIGINT) AS n_l1_groups,
        |  CAST(SUM(CASE WHEN l = 1 THEN k ELSE 0 END) AS BIGINT) AS n_rows_identified,
        |  CAST(SUM(k) AS BIGINT) AS n_rows FROM g)
        |SELECT *, ROUND(CAST(n_rows_identified AS DOUBLE) / n_rows, 6) AS identified_rate
        |FROM a""".stripMargin,

    "ev_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day FROM events),
        |i AS (SELECT user_id,
        |  day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM ud),
        |s AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len FROM i GROUP BY 1, 2),
        |m AS (SELECT user_id, CAST(MAX(len) AS BIGINT) AS max_streak FROM s GROUP BY 1)
        |SELECT max_streak, CAST(COUNT(*) AS BIGINT) AS n_users FROM m GROUP BY 1"""
        .stripMargin,

    "ev_k_anonymity" ->
      """WITH qi AS (SELECT event_type,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(FLOOR(value / 100) AS BIGINT) AS vbucket FROM events),
        |g AS (SELECT event_type, day, vbucket, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM qi GROUP BY 1, 2, 3),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(MIN(k) AS BIGINT) AS min_k,
        |  CAST(COUNT(CASE WHEN k < 5 THEN 1 END) AS BIGINT) AS n_small_groups,
        |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(SUM(k) AS BIGINT) AS n_rows FROM g)
        |SELECT *, ROUND(CAST(n_rows_at_risk AS DOUBLE) / n_rows, 6) AS risk_rate
        |FROM a""".stripMargin,

    "emb_intrinsic_dim" ->
      """WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 64),
        |nn AS (SELECT q.qid,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS s
        |  FROM q JOIN embeddings c ON c.vec_id <> q.qid
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY s DESC, c.vec_id) <= 2),
        |m AS (SELECT qid, MAX(s) AS s1, MIN(s) AS s2 FROM nn GROUP BY 1),
        |l AS (SELECT CAST(LOG10((1.0 - s2) / (1.0 - s1)) AS DECIMAL(18,8)) AS lg FROM m
        |  WHERE s1 < 1.0 AND s2 < s1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
        |  ROUND(CAST(SUM(lg) AS DOUBLE), 6) AS sum_log10_mu,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / (2.302585092994046 * CAST(SUM(lg) AS DOUBLE)), 4)
        |    AS id_hat
        |FROM l""".stripMargin,

    "q_spend_percentile" ->
      """WITH sp AS (SELECT c_custkey, c_mktsegment,
        |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2)
        |SELECT c_custkey, c_mktsegment, CAST(spend AS DOUBLE) AS total_spend,
        |  ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY spend, c_custkey), 6)
        |    AS spend_pct
        |FROM sp""".stripMargin,

    "ev_session_window" ->
      """WITH g AS (SELECT user_id,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |o AS (SELECT user_id, ms,
        |  CASE WHEN LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |    OR ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) > 1800000
        |    THEN 1 ELSE 0 END AS brk FROM g),
        |s AS (SELECT user_id, ms, SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) + 1800000 AS end_ms,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "ev_isotonic_incremental" -> isotonicOracle,
    "ev_isotonic_calibration" -> isotonicOracle,

    // maintained-state twin: row-identical to one-shot ev_msprt, same oracle
    "ev_msprt_incremental" -> msprtOracle,
    // the same cumulative cents algebra in log10 space, day-grid windows
    "ev_msprt" -> msprtOracle,

    // exact HUGEINT cent moments (n·Sxy exceeds int64), closed-form doubles — the
    // same arithmetic SampleOps.cuped runs on DECIMAL(38,0)
    "ev_cuped" ->
      """WITH e AS (SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d FROM events),
        |d0 AS (SELECT MIN(d) AS d0 FROM e),
        |u AS (SELECT user_id, user_id % 2 AS arm,
        |    SUM(CASE WHEN d < d0 + 15 THEN c ELSE 0 END) AS xc,
        |    SUM(CASE WHEN d >= d0 + 15 THEN c ELSE 0 END) AS yc,
        |    COUNT(CASE WHEN d >= d0 + 15 THEN 1 END) AS n_exp
        |  FROM e, d0 GROUP BY 1, 2, d0 HAVING COUNT(CASE WHEN d >= d0 + 15 THEN 1 END) > 0),
        |p AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(xc) AS HUGEINT) AS sx, CAST(SUM(yc) AS HUGEINT) AS sy,
        |    SUM(CAST(xc AS HUGEINT) * xc) AS sxx,
        |    SUM(CAST(xc AS HUGEINT) * yc) AS sxy,
        |    SUM(CAST(yc AS HUGEINT) * yc) AS syy FROM u),
        |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_units,
        |    SUM(xc) AS sxa, SUM(yc) AS sya FROM u GROUP BY 1),
        |f AS (SELECT arm, n_units,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS den,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS deny,
        |    CAST(sya AS DOUBLE) / n_units AS myc,
        |    CAST(sxa AS DOUBLE) / n_units AS mxc,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mxp
        |  FROM a, p)
        |SELECT arm, n_units, ROUND(myc / 100.0, 6) AS mean_y,
        |  ROUND((myc - (num / den) * (mxc - mxp)) / 100.0, 6) AS mean_y_adj,
        |  ROUND(num / den, 6) AS theta,
        |  ROUND(num * num / (den * deny), 6) AS var_reduction
        |FROM f ORDER BY arm""".stripMargin,

    // two-covariate normal equations on exact HUGEINT cross-moments, Cramer solve
    "ev_cuped_multi" ->
      """WITH e AS (SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d FROM events),
        |d0 AS (SELECT MIN(d) AS d0 FROM e),
        |u AS (SELECT user_id, user_id % 2 AS arm,
        |    SUM(CASE WHEN d < d0 + 15 THEN c ELSE 0 END) AS x1,
        |    COUNT(CASE WHEN d < d0 + 15 THEN 1 END) AS x2,
        |    SUM(CASE WHEN d >= d0 + 15 THEN c ELSE 0 END) AS yc,
        |    COUNT(CASE WHEN d >= d0 + 15 THEN 1 END) AS n_exp
        |  FROM e, d0 GROUP BY 1, 2, d0 HAVING COUNT(CASE WHEN d >= d0 + 15 THEN 1 END) > 0),
        |p AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
        |    CAST(SUM(yc) AS HUGEINT) AS sy,
        |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11, SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
        |    SUM(CAST(x2 AS HUGEINT) * x2) AS s22, SUM(CAST(x1 AS HUGEINT) * yc) AS s1y,
        |    SUM(CAST(x2 AS HUGEINT) * yc) AS s2y, SUM(CAST(yc AS HUGEINT) * yc) AS syy
        |  FROM u),
        |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_units,
        |    SUM(x1) AS sa1, SUM(x2) AS sa2, SUM(yc) AS say FROM u GROUP BY 1),
        |f AS (SELECT arm, n_units,
        |    CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
        |    CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12,
        |    CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
        |    CAST(n * s1y - s1 * sy AS DOUBLE) AS c1y,
        |    CAST(n * s2y - s2 * sy AS DOUBLE) AS c2y,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
        |    CAST(say AS DOUBLE) / n_units AS may,
        |    CAST(sa1 AS DOUBLE) / n_units AS ma1,
        |    CAST(sa2 AS DOUBLE) / n_units AS ma2,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mp1,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS mp2
        |  FROM a, p),
        |g AS (SELECT arm, n_units, may, ma1, ma2, mp1, mp2, c1y, c2y, cyy,
        |    c11 * c22 - c12 * c12 AS det,
        |    (c1y * c22 - c2y * c12) AS n1, (c2y * c11 - c1y * c12) AS n2
        |  FROM f)
        |SELECT arm, n_units, ROUND(may / 100.0, 6) AS mean_y,
        |  ROUND(CASE WHEN det <> 0 THEN
        |    (may - (n1 / det) * (ma1 - mp1) - (n2 / det) * (ma2 - mp2)) / 100.0 END, 6)
        |    AS mean_y_adj,
        |  ROUND(CASE WHEN det <> 0 THEN n1 / det END, 6) AS theta_value,
        |  ROUND(CASE WHEN det <> 0 THEN (n2 / det) / 100.0 END, 6) AS theta_count,
        |  ROUND(CASE WHEN det <> 0 THEN ((n1 / det) * c1y + (n2 / det) * c2y) / cyy END, 6)
        |    AS var_reduction
        |FROM g ORDER BY arm""".stripMargin,

    "ev_did" ->
      """WITH e AS (SELECT event_type, user_id % 2 = 1 AS tr,
        |    CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d FROM events),
        |d0 AS (SELECT MIN(d) AS d0 FROM e),
        |b AS (SELECT event_type, tr, d >= d0 + 15 AS po, v FROM e, d0),
        |a AS (SELECT COALESCE(event_type, 'ALL') AS grp,
        |    CAST(SUM(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_pre,
        |    SUM(CASE WHEN tr AND NOT po THEN v END) AS s_tp0,
        |    CAST(SUM(CASE WHEN tr AND po THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_post,
        |    SUM(CASE WHEN tr AND po THEN v END) AS s_tp1,
        |    CAST(SUM(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_pre,
        |    SUM(CASE WHEN NOT tr AND NOT po THEN v END) AS s_cp0,
        |    CAST(SUM(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_post,
        |    SUM(CASE WHEN NOT tr AND po THEN v END) AS s_cp1
        |  FROM b GROUP BY ROLLUP(event_type))
        |SELECT grp, n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
        |  ROUND(CAST(s_tp0 AS DOUBLE) / n_treat_pre, 4) AS mean_treat_pre,
        |  ROUND(CAST(s_tp1 AS DOUBLE) / n_treat_post, 4) AS mean_treat_post,
        |  ROUND(CAST(s_cp0 AS DOUBLE) / n_ctrl_pre, 4) AS mean_ctrl_pre,
        |  ROUND(CAST(s_cp1 AS DOUBLE) / n_ctrl_post, 4) AS mean_ctrl_post,
        |  ROUND((CAST(s_tp1 AS DOUBLE) / n_treat_post - CAST(s_tp0 AS DOUBLE) / n_treat_pre)
        |    - (CAST(s_cp1 AS DOUBLE) / n_ctrl_post - CAST(s_cp0 AS DOUBLE) / n_ctrl_pre), 4) AS did
        |FROM a""".stripMargin,

    "ev_fdr_ebh" -> ebhOracle,

    "ev_fdr_ebh_incremental" -> ebhOracle,

    // the conformal construction per group: same integer algebra, windows
    // partitioned by g
    "ev_conformal_grouped" ->
      """WITH e AS (SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    event_id % 2 = 0 AS cal FROM events),
        |f AS (SELECT g, SUM(c) // COUNT(*) AS yhat FROM e WHERE cal GROUP BY 1),
        |r AS (SELECT e.g, e.cal, ABS(e.c - f.yhat) AS r FROM e JOIN f USING (g)),
        |h AS (SELECT g, r, CAST(COUNT(*) AS BIGINT) AS c FROM r WHERE cal GROUP BY 1, 2),
        |n AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_cal FROM h GROUP BY 1),
        |cum AS (SELECT h.g, h.r, n.n_cal,
        |    SUM(h.c) OVER (PARTITION BY h.g ORDER BY h.r ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h JOIN n ON h.g = n.g),
        |q AS (SELECT g, MIN(CASE WHEN cum >= ((n_cal + 1) * 9 + 9) // 10 THEN r END) AS q,
        |    MIN(n_cal) AS n_cal FROM cum GROUP BY 1),
        |t AS (SELECT r.g, MIN(q.n_cal) AS n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
        |    MIN(q.q) AS q, SUM(CASE WHEN r.r <= q.q THEN 1 ELSE 0 END) AS n_cov
        |  FROM r JOIN q ON r.g = q.g WHERE NOT r.cal GROUP BY 1)
        |SELECT g, n_cal, n_test, ROUND(CAST(q AS DOUBLE) / 100.0, 2) AS q_hat,
        |  ROUND(CAST(n_cov AS DOUBLE) / n_test, 6) AS coverage,
        |  ABS(CAST(n_cov AS DOUBLE) / n_test - 0.9) <= 0.05 AS coverage_near_target
        |FROM t""".stripMargin,

    // day-grid delete-one ratios from exact BIGINT sums; DECIMAL(18,12) folds
    "ev_ratio_jackknife" ->
      """WITH e AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS b,
        |    CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END AS n_,
        |    CASE WHEN event_type = 'view' THEN CAST(1 AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END AS d_ FROM events),
        |pb AS (SELECT b, CAST(SUM(n_) * 100 AS BIGINT) AS nc,
        |    CAST(SUM(d_) * 100 AS BIGINT) AS dc FROM e GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS tn, CAST(SUM(dc) AS BIGINT) AS td,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM pb),
        |ri AS (SELECT n, CAST(tn AS DOUBLE) AS tnd, CAST(td AS DOUBLE) AS tdd,
        |    CAST(CAST(tn - nc AS DOUBLE) / (td - dc) AS DECIMAL(18,12)) AS ri
        |  FROM pb, tot WHERE td - dc > 0),
        |rb AS (SELECT n, tnd, tdd, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(ri) AS DOUBLE) / COUNT(*) AS rbar FROM ri GROUP BY 1, 2, 3),
        |dev AS (SELECT rb.nb, rb.rbar, rb.tnd, rb.tdd,
        |    SUM(CAST((CAST(ri.ri AS DOUBLE) - rb.rbar) * (CAST(ri.ri AS DOUBLE) - rb.rbar)
        |      AS DECIMAL(18,12))) AS sd2
        |  FROM ri, rb GROUP BY 1, 2, 3, 4)
        |SELECT nb AS n_blocks, ROUND(tnd / tdd, 6) AS ratio,
        |  ROUND(sqrt((nb - 1) / CAST(nb AS DOUBLE) * CAST(sd2 AS DOUBLE)), 6) AS jk_se,
        |  ROUND(tnd / tdd - 1.959964 * sqrt((nb - 1) / CAST(nb AS DOUBLE) * CAST(sd2 AS DOUBLE)), 6) AS ci_lo,
        |  ROUND(tnd / tdd + 1.959964 * sqrt((nb - 1) / CAST(nb AS DOUBLE) * CAST(sd2 AS DOUBLE)), 6) AS ci_hi
        |FROM dev""".stripMargin,

    // rank algebra on the per-type cents histogram; every count exact
    "ev_trimmed_mean" ->
      """WITH e AS (SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events),
        |h AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
        |t AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(v * c) AS BIGINT) AS sv
        |  FROM h GROUP BY 1),
        |cum AS (SELECT h.g, h.v, h.c, t.n, t.sv, t.n * 1 // 20 AS k,
        |    SUM(h.c) OVER (PARTITION BY h.g ORDER BY h.v ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h JOIN t ON h.g = t.g),
        |eff AS (SELECT g, v, n, sv, k, cum,
        |    GREATEST(LEAST(cum, n - k) - GREATEST(cum - c, k), 0) AS ceff FROM cum),
        |agg AS (SELECT g, MIN(n) AS n, CAST(MIN(k) AS BIGINT) AS k_trim,
        |    MIN(sv) AS sv, CAST(SUM(v * ceff) AS BIGINT) AS interior,
        |    MIN(CASE WHEN cum >= k + 1 THEN v END) AS v_lo,
        |    MIN(CASE WHEN cum >= n - k THEN v END) AS v_hi
        |  FROM eff GROUP BY 1)
        |SELECT g, n, k_trim,
        |  ROUND(CAST(sv AS DOUBLE) / n / 100.0, 4) AS mean_raw,
        |  ROUND(CAST(interior AS DOUBLE) / (n - k_trim * 2) / 100.0, 4) AS mean_trimmed,
        |  ROUND(CAST(interior + k_trim * (v_lo + v_hi) AS DOUBLE) / n / 100.0, 4)
        |    AS mean_winsorized
        |FROM agg""".stripMargin,

    // per-type BIGINT floor-division predictor, k-th order statistic over the
    // residual histogram, exact integer coverage — conformalSplit's replica
    "ev_conformal" ->
      """WITH e AS (SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    event_id % 2 = 0 AS cal FROM events),
        |f AS (SELECT g, SUM(c) // COUNT(*) AS yhat FROM e WHERE cal GROUP BY 1),
        |r AS (SELECT e.cal, ABS(e.c - f.yhat) AS r FROM e JOIN f USING (g)),
        |h AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS c FROM r WHERE cal GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_cal FROM h),
        |q AS (SELECT MIN(CASE WHEN cum >= ((n_cal + 1) * 9 + 9) // 10 THEN r END) AS q,
        |    MIN(n_cal) AS n_cal
        |  FROM (SELECT r, SUM(c) OVER (ORDER BY r) AS cum FROM h), n),
        |t AS (SELECT MIN(q.n_cal) AS n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
        |    MIN(q.q) AS q,
        |    SUM(CASE WHEN r.r <= q.q THEN 1 ELSE 0 END) AS n_covered
        |  FROM r, q WHERE NOT r.cal)
        |SELECT n_cal, n_test, ROUND(CAST(q AS DOUBLE) / 100.0, 2) AS q_hat,
        |  ROUND(CAST(n_covered AS DOUBLE) / n_test, 6) AS coverage,
        |  ABS(CAST(n_covered AS DOUBLE) / n_test - 0.9) <= 0.05 AS coverage_near_target
        |FROM t""".stripMargin,

    "ev_conversion_wilson" ->
      """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT)
        |    AS n_conv
        |  FROM events GROUP BY 1),
        |c AS (SELECT *, CAST(n_conv AS DOUBLE) / n_users AS p,
        |  3.841458881296 AS z2, 1.959964 AS z, CAST(n_users AS DOUBLE) AS n FROM d)
        |SELECT day, n_users, n_conv, ROUND(p, 6) AS conv_rate,
        |  ROUND((p + z2/(2*n))/(1 + z2/n)
        |    - (z * sqrt(p*(1-p)/n + z2/(4*n*n)))/(1 + z2/n), 6) AS wilson_lo,
        |  ROUND((p + z2/(2*n))/(1 + z2/n)
        |    + (z * sqrt(p*(1-p)/n + z2/(4*n*n)))/(1 + z2/n), 6) AS wilson_hi
        |FROM c""".stripMargin,

    "emb_centroid_shift" ->
      """WITH m AS (SELECT (MIN(vec_id) + MAX(vec_id) + 1) // 2 AS mid FROM embeddings),
        |x AS (SELECT label, (vec_id < m.mid) AS fh,
        |  generate_subscripts(embedding, 1) AS pos,
        |  CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,8)) AS x
        |  FROM embeddings CROSS JOIN m),
        |cells AS (SELECT label, fh, pos, CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mv
        |  FROM x GROUP BY 1, 2, 3),
        |j AS (SELECT a.label, CAST(a.mv * b.mv AS DECIMAL(28,12)) AS dot,
        |  CAST(a.mv * a.mv AS DECIMAL(28,12)) AS na, CAST(b.mv * b.mv AS DECIMAL(28,12)) AS nb
        |  FROM cells a JOIN cells b ON a.label = b.label AND a.pos = b.pos
        |  WHERE a.fh AND NOT b.fh)
        |SELECT label, ROUND(CAST(SUM(dot) AS DOUBLE)
        |  / (sqrt(CAST(SUM(na) AS DOUBLE)) * sqrt(CAST(SUM(nb) AS DOUBLE))), 6)
        |  AS centroid_cosine
        |FROM j GROUP BY 1""".stripMargin,

    "ev_cumulative_users" ->
      """WITH f AS (SELECT user_id,
        |  MIN(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS first_day
        |  FROM events GROUP BY 1),
        |d AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new_users
        |  FROM f GROUP BY 1)
        |SELECT day, n_new_users,
        |  CAST(SUM(n_new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cumulative_users
        |FROM d""".stripMargin,

    "ev_dormancy" ->
      """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  user_id FROM events),
        |m AS (SELECT MAX(day) AS maxd FROM d),
        |l AS (SELECT user_id, MAX(day) AS last FROM d GROUP BY 1)
        |SELECT m.maxd - l.last AS days_dormant, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM l CROSS JOIN m GROUP BY 1""".stripMargin,

    "q_nation_matrix" ->
      """WITH cn AS (SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey),
        |sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey)
        |SELECT cust_nation, supp_nation, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN cn ON o_custkey = c_custkey
        |JOIN sn ON l_suppkey = s_suppkey
        |GROUP BY 1, 2""".stripMargin,

    "q_brand_trend" ->
      """WITH by AS (SELECT p_brand, CAST(year(l_shipdate) AS INT) AS y,
        |  SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |m AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_years,
        |  SUM(y) AS sx, SUM(rev) AS sy, SUM(y * rev) AS sxy, SUM(CAST(y AS BIGINT) * y) AS sx2
        |  FROM by GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT p_brand, n_years, CAST(sy AS DOUBLE) AS total_revenue,
        |  ROUND(CAST(n_years * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_years * sx2 - sx * sx AS DOUBLE), 4) AS trend_slope
        |FROM m""".stripMargin,

    "mm_byte_entropy" ->
      """WITH h AS (SELECT doc_id, to_hex(CAST(encode(text) AS BLOB)) AS hx FROM documents),
        |b AS (SELECT doc_id, substring(hx, 2*i - 1, 2) AS b
        |  FROM h, unnest(range(1, len(hx) // 2 + 1)) AS u(i)),
        |c AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes,
        |  CAST(SUM(c) AS BIGINT) AS n_bytes,
        |  SUM(CAST(CAST(c AS DOUBLE) * LOG10(CAST(c AS DOUBLE)) AS DECIMAL(18,8))) AS slgc
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_bytes, n_distinct_bytes,
        |  ROUND((LOG10(CAST(n_bytes AS DOUBLE)) - CAST(slgc AS DOUBLE) / n_bytes)
        |    * 3.321928094887362, 4) AS entropy_bits
        |FROM a""".stripMargin,

    "q_yoy_growth" ->
      """WITH y AS (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT o_year, n_orders, CAST(rev AS DOUBLE) AS revenue,
        |  ROUND(CAST(rev - LAG(rev) OVER (ORDER BY o_year) AS DOUBLE)
        |    / CAST(LAG(rev) OVER (ORDER BY o_year) AS DOUBLE) * 100, 4) AS yoy_growth_pct
        |FROM y""".stripMargin,

    "ev_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
        |a AS (SELECT
        |  CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_a,
        |  CAST(COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_b FROM u)
        |SELECT n_a, n_b,
        |  ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6) AS chi2,
        |  CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 100000000 >
        |    CAST(n_a + n_b AS HUGEINT) * 384145882 AS srm_detected
        |FROM a""".stripMargin,

    "ev_new_vs_returning" ->
      """WITH du AS (SELECT DISTINCT
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day, user_id
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS first_day FROM du GROUP BY 1)
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
        |  CAST(COUNT(CASE WHEN day = first_day THEN 1 END) AS BIGINT) AS n_new,
        |  CAST(COUNT(*) - COUNT(CASE WHEN day = first_day THEN 1 END) AS BIGINT)
        |    AS n_returning,
        |  ROUND(CAST(COUNT(CASE WHEN day = first_day THEN 1 END) AS DOUBLE)
        |    / COUNT(*), 6) AS new_rate
        |FROM du JOIN f USING (user_id) GROUP BY 1""".stripMargin,

    "ev_churn" ->
      """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  user_id FROM events),
        |m AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM d),
        |fl AS (SELECT user_id,
        |  MAX(CASE WHEN day < m.mid THEN 1 ELSE 0 END) AS a,
        |  MAX(CASE WHEN day >= m.mid THEN 1 ELSE 0 END) AS b
        |  FROM d CROSS JOIN m GROUP BY 1),
        |agg AS (SELECT CAST(SUM(a) AS BIGINT) AS n_active_first_half,
        |  CAST(SUM(b) AS BIGINT) AS n_active_second_half,
        |  CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
        |  CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM fl)
        |SELECT *, ROUND(CAST(n_churned AS DOUBLE) / n_active_first_half, 6) AS churn_rate
        |FROM agg""".stripMargin,

    "ev_interarrival" ->
      """WITH g AS (SELECT user_id, event_type, event_id,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |gp AS (SELECT event_type,
        |  ms - LAG(ms) OVER (PARTITION BY user_id, event_type ORDER BY ms, event_id) AS gap
        |  FROM g QUALIFY gap IS NOT NULL),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  SUM(CAST(gap AS DECIMAL(38,0))) AS s1,
        |  SUM(CAST(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS s2
        |  FROM gp GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT event_type, n_gaps,
        |  ROUND(CAST(s1 AS DOUBLE) / n_gaps, 4) AS mean_gap_ms,
        |  ROUND(SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_gaps)
        |    / (n_gaps - 1)), 4) AS sd_gap_ms,
        |  ROUND(SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_gaps)
        |    / (n_gaps - 1)) / (CAST(s1 AS DOUBLE) / n_gaps), 6) AS cv
        |FROM a""".stripMargin,

    "ev_markov_eval" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |tr AS (
        |  SELECT event_type AS cur,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS nxt
        |  FROM g QUALIFY nxt IS NOT NULL),
        |m AS (SELECT cur, nxt, COUNT(*) AS c FROM tr GROUP BY 1, 2),
        |best AS (SELECT cur, nxt AS pred_next FROM m
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cur ORDER BY c DESC, nxt) = 1)
        |SELECT tr.cur AS event_type, b.pred_next,
        |  CAST(COUNT(*) AS BIGINT) AS n_transitions,
        |  CAST(COUNT(CASE WHEN tr.nxt = b.pred_next THEN 1 END) AS BIGINT) AS n_correct,
        |  ROUND(CAST(COUNT(CASE WHEN tr.nxt = b.pred_next THEN 1 END) AS DOUBLE)
        |    / COUNT(*), 6) AS accuracy
        |FROM tr JOIN best b ON b.cur = tr.cur GROUP BY 1, 2""".stripMargin,

    "ev_transitions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |w AS (
        |  SELECT event_type, ms,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_type,
        |    LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_ms
        |  FROM g),
        |c AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n FROM w
        |  WHERE next_type IS NOT NULL AND next_ms - ms <= 1800000 GROUP BY 1, 2)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS prob
        |FROM c""".stripMargin,

    "ev_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |s AS (SELECT user_id, MIN(ms) AS signup_ms FROM e WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT user_id, ms FROM e WHERE event_type = 'purchase'),
        |agg AS (SELECT s.user_id, s.signup_ms,
        |    MIN(CASE WHEN p.ms >= s.signup_ms THEN p.ms END) AS first_purchase_ms
        |  FROM s LEFT JOIN p USING (user_id) GROUP BY 1, 2)
        |SELECT user_id, signup_ms, first_purchase_ms,
        |  first_purchase_ms IS NOT NULL AS converted,
        |  first_purchase_ms - signup_ms AS latency_ms
        |FROM agg""".stripMargin,

    "ev_percentiles" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) / 100, 2) AS p50,
        |  ROUND(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.95) / 100, 2) AS p95,
        |  ROUND(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.99) / 100, 2) AS p99
        |FROM events GROUP BY event_type""".stripMargin,

    "ev_daily_users" ->
      """SELECT COUNT(DISTINCT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS n_days,
        |  TRUE AS sketch_ok FROM events""".stripMargin,

    "ev_anomaly_mad" ->
      """WITH e AS (SELECT event_id, event_type, CAST(round(value*100) AS BIGINT) AS g FROM events),
        |med AS (SELECT event_type, quantile_cont(g, 0.5) AS m FROM e GROUP BY 1),
        |d AS (SELECT e.event_id, e.event_type, ABS(2*e.g - CAST(2*med.m AS BIGINT)) AS dd, med.m
        |  FROM e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(dd, 0.5) AS m2 FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, ROUND(d.m/100, 2) AS med, ROUND(mad.m2/200, 4) AS mad,
        |  ROUND(dd / mad.m2, 4) AS rz
        |FROM d JOIN mad USING (event_type)
        |WHERE mad.m2 > 0 AND dd > 3 * mad.m2""".stripMargin,

    "ev_zscore" ->
      """WITH e AS (SELECT event_id, event_type, CAST(value AS DECIMAL(12,6)) AS v FROM events),
        |st0 AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(v) AS DOUBLE) AS s1, CAST(SUM(v*v) AS DOUBLE) AS s2
        |  FROM e GROUP BY 1),
        |st AS (SELECT *, s2/n - (s1/n)*(s1/n) AS variance FROM st0 WHERE s2/n - (s1/n)*(s1/n) > 0),
        |sc AS (SELECT e.event_id, e.event_type,
        |    ROUND((CAST(e.v AS DOUBLE) - st.s1/st.n) / sqrt(st.variance), 4) AS z
        |  FROM e JOIN st USING (event_type))
        |SELECT event_id, event_type, z FROM sc WHERE abs(z) > 2.0""".stripMargin,

    // weights are 0.5^(k+1) written as exact decimal literals (powers of two parse to
    // exact doubles); the + chain is left-associative in both engines, so the fp sum
    // order is pinned and the values match bit-for-bit; FLOOR-quantized (not ROUND —
    // half-tie handling differs between engines on exact decimal ties)
    "ev_ewma" ->
      """SELECT event_id, user_id, FLOOR((
        |    value * 0.5
        |  + COALESCE(lag(value, 1) OVER w, 0) * 0.25
        |  + COALESCE(lag(value, 2) OVER w, 0) * 0.125
        |  + COALESCE(lag(value, 3) OVER w, 0) * 0.0625
        |  + COALESCE(lag(value, 4) OVER w, 0) * 0.03125
        |  + COALESCE(lag(value, 5) OVER w, 0) * 0.015625
        |  + COALESCE(lag(value, 6) OVER w, 0) * 0.0078125
        |  + COALESCE(lag(value, 7) OVER w, 0) * 0.00390625
        |  + COALESCE(lag(value, 8) OVER w, 0) * 0.001953125
        |  + COALESCE(lag(value, 9) OVER w, 0) * 0.0009765625
        |  + COALESCE(lag(value, 10) OVER w, 0) * 0.00048828125
        |  + COALESCE(lag(value, 11) OVER w, 0) * 0.000244140625
        |  + COALESCE(lag(value, 12) OVER w, 0) * 0.0001220703125
        |  + COALESCE(lag(value, 13) OVER w, 0) * 0.00006103515625
        |  + COALESCE(lag(value, 14) OVER w, 0) * 0.000030517578125
        |  + COALESCE(lag(value, 15) OVER w, 0) * 0.0000152587890625
        |  ) * 1000000.0) / 1000000.0 AS ewma
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "ev_props_extract" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS ks
        |  FROM events),
        |k AS (SELECT event_type,
        |    CASE WHEN regexp_matches(ks, '^-?[0-9]+$') THEN CAST(ks AS BIGINT) END AS k
        |  FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, CAST(MAX(k) AS BIGINT) AS max_k
        |FROM k GROUP BY event_type""".stripMargin,

    "ev_pivot" ->
      """SELECT user_id,
        |  CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
        |  CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
        |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
        |  CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
        |  CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error
        |FROM events GROUP BY user_id""".stripMargin,

    "ev_retention" ->
      """WITH e AS (SELECT user_id,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, week FROM e)
        |SELECT c.cohort_week, CAST((a.week - c.cohort_week) // 7 AS INT) AS week_offset,
        |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "ev_gapfill" ->
      """WITH d AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,8))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM d GROUP BY 1),
        |g AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM s)
        |SELECT g.user_id, g.day,
        |  last_value(d.day_value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
        |  d.day_value IS NULL AS is_gap
        |FROM g LEFT JOIN d ON g.user_id = d.user_id AND g.day = d.day""".stripMargin,

    "ev_asof_join" ->
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |s AS (SELECT user_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms,
        |    MAX(event_id) AS signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ms, s.signup_id AS asof_signup_id
        |FROM e ASOF LEFT JOIN s ON e.user_id = s.user_id AND e.ms >= s.ms""".stripMargin,

    "ev_top_paths" ->
      """WITH g AS (SELECT user_id, event_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM g),
        |s AS (SELECT *, SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ms, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM l),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
        |    ORDER BY ms, event_id) AS rn FROM s),
        |p AS (SELECT user_id, session_idx, concat_ws('>',
        |    MAX(CASE WHEN rn = 1 THEN event_type END),
        |    MAX(CASE WHEN rn = 2 THEN event_type END),
        |    MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1
        |QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) <= 10""".stripMargin,

    "ev_user_similarity" ->
      """WITH v AS (SELECT user_id AS vec_id, CAST(list_value(
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)) AS DOUBLE[]) AS emb
        |  FROM events GROUP BY 1)
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  ROUND(list_cosine_similarity(q.emb, c.emb), 4) AS sim
        |FROM v q JOIN v c ON c.vec_id <> q.vec_id
        |WHERE q.vec_id <= 5
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id) <= 3""".stripMargin,

    "ev_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |s AS (SELECT user_id, MIN(ms) AS signup_ms FROM e WHERE event_type = 'signup' GROUP BY 1),
        |fp AS (SELECT s.user_id, s.signup_ms,
        |    MIN(CASE WHEN p.ms >= s.signup_ms THEN p.ms END) AS fpms
        |  FROM s LEFT JOIN e p ON p.user_id = s.user_id AND p.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |lat AS (SELECT fpms - signup_ms AS lat FROM fp WHERE fpms IS NOT NULL)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        |  ROUND(quantile_cont(lat, 0.5), 2) AS p50_latency_ms,
        |  ROUND(quantile_cont(lat, 0.9), 2) AS p90_latency_ms
        |FROM lat""".stripMargin,

    "ev_range_window" ->
      """SELECT event_id, user_id,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)
        |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum
        |FROM events""".stripMargin,

    "cdc_gap_audit" ->
      """WITH s AS (SELECT 'binlog.00000' || CAST(event_id % 3 + 1 AS VARCHAR) AS file,
        |    event_id AS pos FROM events WHERE event_id % 1000 <> 7),
        |l AS (SELECT file, pos, LAG(pos) OVER (PARTITION BY file ORDER BY pos) AS prev FROM s)
        |SELECT file, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(pos) AS min_pos, MAX(pos) AS max_pos,
        |  CAST(SUM(CASE WHEN prev IS NOT NULL AND pos - prev > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(COALESCE(MAX(CASE WHEN prev IS NOT NULL THEN pos - prev END), 0) AS BIGINT) AS max_stride
        |FROM l GROUP BY 1""".stripMargin,

    "cdc_mv_maintain" ->
      """WITH e AS (SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    (event_type = 'error') AS is_del, event_id
        |  FROM events WHERE value IS NOT NULL),
        |l AS (SELECT *, LAG(v) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_v,
        |    LAG(is_del) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_del FROM e),
        |d AS (SELECT user_id,
        |    CASE WHEN (prev_v IS NULL OR prev_del) AND is_del THEN CAST(0 AS DECIMAL(18,2))
        |         WHEN (prev_v IS NULL OR prev_del) THEN v
        |         WHEN is_del THEN -prev_v
        |         ELSE v - prev_v END AS delta FROM l),
        |m AS (SELECT user_id, SUM(delta) AS m FROM d GROUP BY 1),
        |f AS (SELECT user_id,
        |    CASE WHEN is_del THEN CAST(0 AS DECIMAL(18,2)) ELSE v END AS f
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM e) WHERE rn = 1)
        |SELECT m.user_id, CAST(m.m AS DOUBLE) AS maintained,
        |  CAST(f.f AS DOUBLE) AS final_state, (m.m = f.f) AS consistent
        |FROM m JOIN f USING (user_id)""".stripMargin,

    // sketch impls are engine-specific -> verdict-row gate: the oracle pins week count
    // and the 5%-accuracy boolean
    "ev_sketch_rollup" ->
      """WITH e AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |    user_id FROM events)
        |SELECT CAST(COUNT(DISTINCT day // 7) AS BIGINT) AS n_weeks, TRUE AS sketch_ok
        |FROM e""".stripMargin,

    "ev_zorder_layout" -> zorderLayoutOracle,

    // the unrolled quadrant-rotation recurrence of HilbertCurve.xy2d: per level
    // s = 128..1, d += s²·((3rx)⊕ry) with (3rx)⊕ry spelled CASE-wise (rx=1 → 3−ry),
    // then the conditional flip+swap — exact integer algebra, bit-equal to the
    // Spark expression by construction
    "ev_hilbert_layout" -> hilbertLayoutOracle,

    "ev_layout_compare" -> layoutCompareOracle,

    "ev_quantile_sketch" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        |  TRUE AS q10_ok, TRUE AS q50_ok, TRUE AS q90_ok, TRUE AS q99_ok,
        |  (SELECT CAST(COUNT(DISTINCT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000)
        |     AS BIGINT) FROM events) AS n_days
        |FROM events""".stripMargin,

    "ev_granger" -> {
      def leg(name: String, y: String, x: String) =
        s"""SELECT '$name' AS direction, CAST(n AS BIGINT) AS n_days,
           |  ROUND(CASE WHEN rssu > 0
           |    THEN (rssr - rssu) * CAST(n - 3 AS DOUBLE) / rssu END, 4) AS f_stat FROM (
           |  SELECT n, cyy - cyl * cyl / cll AS rssr,
           |    cyy - ((cyl * cxx - cyx * clx) / (cll * cxx - clx * clx)) * cyl
           |        - ((cyx * cll - cyl * clx) / (cll * cxx - clx * clx)) * cyx AS rssu
           |  FROM (
           |    SELECT n,
           |      CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
           |      CAST(n * sll - sl * sl AS DOUBLE) AS cll,
           |      CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
           |      CAST(n * syl - sy * sl AS DOUBLE) AS cyl,
           |      CAST(n * syx - sy * sx AS DOUBLE) AS cyx,
           |      CAST(n * slx - sl * sx AS DOUBLE) AS clx
           |    FROM (
           |      SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |        CAST(SUM(yt) AS BIGINT) AS sy, CAST(SUM(yl) AS BIGINT) AS sl,
           |        CAST(SUM(xl) AS BIGINT) AS sx,
           |        CAST(SUM(yt * yt) AS BIGINT) AS syy, CAST(SUM(yl * yl) AS BIGINT) AS sll,
           |        CAST(SUM(xl * xl) AS BIGINT) AS sxx, CAST(SUM(yt * yl) AS BIGINT) AS syl,
           |        CAST(SUM(yt * xl) AS BIGINT) AS syx, CAST(SUM(yl * xl) AS BIGINT) AS slx
           |      FROM (
           |        SELECT $y AS yt, LAG($y) OVER (ORDER BY day) AS yl,
           |          LAG($x) OVER (ORDER BY day) AS xl FROM daily) q
           |      WHERE yl IS NOT NULL) s0) s1) s2""".stripMargin
      s"""WITH daily AS (
         |  SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
         |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
         |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1)
         |${leg("clicks->purchases", "purchases", "clicks")}
         |UNION ALL
         |${leg("purchases->clicks", "clicks", "purchases")}""".stripMargin
    },

    "ev_breslow_day" ->
      """WITH e AS (SELECT (CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) % 7 AS s,
        |    user_id % 2 = 1 AS ex, event_type = 'purchase' AS y FROM events),
        |cells AS (SELECT s,
        |    CAST(SUM(CASE WHEN ex AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN ex AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ex AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT ex AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM e GROUP BY 1 HAVING a + b + c + d >= 2),
        |psi AS (SELECT
        |    CAST(SUM(CAST(CAST(a AS DOUBLE) * d / (a + b + c + d) AS DECIMAL(18,12))) AS DOUBLE) /
        |    CAST(SUM(CAST(CAST(b AS DOUBLE) * c / (a + b + c + d) AS DECIMAL(18,12))) AS DOUBLE) AS psi
        |  FROM cells),
        |q AS (SELECT a,
        |    CAST(a + b + c + d AS DOUBLE) AS n,
        |    CAST(a + b AS DOUBLE) AS r1, CAST(a + c AS DOUBLE) AS s1, psi
        |  FROM cells, psi),
        |q2 AS (SELECT a, n, r1, s1, psi,
        |    1.0 - psi AS qa,
        |    (n - r1 - s1) + psi * (r1 + s1) AS qb,
        |    -psi * r1 * s1 AS qc,
        |    GREATEST(0.0, r1 + s1 - n) AS lo, LEAST(r1, s1) AS hi
        |  FROM q),
        |q3 AS (SELECT a, n, r1, s1, qa,
        |    (-qb + SQRT(qb * qb - 4.0 * qa * qc)) / (2.0 * qa) AS root1,
        |    (-qb - SQRT(qb * qb - 4.0 * qa * qc)) / (2.0 * qa) AS root2,
        |    lo, hi FROM q2),
        |ah AS (SELECT a, n, r1, s1,
        |    CASE WHEN ABS(qa) < 1e-12 THEN r1 * s1 / n
        |         WHEN root1 >= lo AND root1 <= hi THEN root1
        |         ELSE root2 END AS ahat
        |  FROM q3),
        |t AS (SELECT CAST((CAST(a AS DOUBLE) - ahat) * (CAST(a AS DOUBLE) - ahat) *
        |    (1.0 / ahat + 1.0 / (r1 - ahat) + 1.0 / (s1 - ahat)
        |      + 1.0 / (n - r1 - s1 + ahat)) AS DECIMAL(18,12)) AS t
        |  FROM ah)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |  CAST(COUNT(*) - 1 AS BIGINT) AS df,
        |  ROUND(CAST(SUM(t) AS DOUBLE), 6) AS chi2_bd
        |FROM t""".stripMargin,

    "ev_cmh_test" ->
      """WITH e AS (SELECT (CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) % 7 AS s,
        |    user_id % 2 = 1 AS ex, event_type = 'purchase' AS y FROM events),
        |cells AS (SELECT s,
        |    CAST(SUM(CASE WHEN ex AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN ex AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ex AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT ex AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM e GROUP BY 1),
        |t AS (SELECT
        |    CAST(CAST(a AS DOUBLE) - CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d)
        |      AS DECIMAL(18,12)) AS t,
        |    CAST(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d) /
        |      (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d) * (a + b + c + d - 1))
        |      AS DECIMAL(18,12)) AS v,
        |    CAST(CAST(a AS DOUBLE) * d / (a + b + c + d) AS DECIMAL(18,12)) AS r,
        |    CAST(CAST(b AS DOUBLE) * c / (a + b + c + d) AS DECIMAL(18,12)) AS x
        |  FROM cells WHERE a + b + c + d >= 2),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata, SUM(t) AS st, SUM(v) AS sv,
        |    SUM(r) AS sr, SUM(x) AS sx FROM t)
        |SELECT n_strata,
        |  ROUND((ABS(CAST(st AS DOUBLE)) - 0.5) * (ABS(CAST(st AS DOUBLE)) - 0.5)
        |    / CAST(sv AS DOUBLE), 6) AS chi2_cmh,
        |  ROUND(CAST(sr AS DOUBLE) / CAST(sx AS DOUBLE), 6) AS or_mh
        |FROM agg""".stripMargin,

    "ev_ks_test" ->
      """WITH e AS (SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |grid AS (SELECT v,
        |    CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM e GROUP BY 1),
        |cum AS (SELECT v, CAST(SUM(c1) OVER w AS BIGINT) AS c1c,
        |    CAST(SUM(c2) OVER w AS BIGINT) AS c2c
        |  FROM grid WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |tot AS (SELECT MAX(c1c) AS n1, MAX(c2c) AS n2 FROM cum),
        |m AS (SELECT CAST(MAX(ABS(c1c * n2 - c2c * n1)) AS BIGINT) AS d_num FROM cum, tot)
        |SELECT n1, n2, d_num,
        |  ROUND(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) AS d,
        |  CAST(d_num AS HUGEINT) * d_num * 1000000 >
        |    CAST(n1 + n2 AS HUGEINT) * n1 * n2 * 1844164 AS reject_05
        |FROM m, tot""".stripMargin,

    // formula structure mirrors SampleOps.welchTTest term for term
    "ev_ab_ttest" ->
      """WITH m AS (SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(value AS DECIMAL(18,8))) AS s1,
        |    -- DECIMAL(19,8) forces DuckDB's int128 multiply path (18-digit operands
        |    -- would square in int64 and overflow); the product value is identical
        |    SUM(CAST(CAST(value AS DECIMAL(19,8)) * CAST(value AS DECIMAL(19,8)) AS DECIMAL(28,10))) AS s2
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |  GROUP BY 1),
        |r AS (SELECT
        |    MAX(CASE WHEN g = 'click' THEN n END) AS n_a,
        |    MAX(CASE WHEN g = 'click' THEN s1 END) AS s1a,
        |    MAX(CASE WHEN g = 'click' THEN s2 END) AS s2a,
        |    MAX(CASE WHEN g = 'view' THEN n END) AS n_b,
        |    MAX(CASE WHEN g = 'view' THEN s1 END) AS s1b,
        |    MAX(CASE WHEN g = 'view' THEN s2 END) AS s2b
        |  FROM m),
        |c AS (SELECT n_a, n_b,
        |    CAST(s1a AS DOUBLE) / n_a AS mean_a,
        |    CAST(s1b AS DOUBLE) / n_b AS mean_b,
        |    (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / n_a) / (n_a - 1) AS va,
        |    (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / n_b) / (n_b - 1) AS vb
        |  FROM r),
        |s AS (SELECT *, va / n_a + vb / n_b AS se2 FROM c)
        |SELECT n_a, n_b, ROUND(mean_a, 4) AS mean_a, ROUND(mean_b, 4) AS mean_b,
        |  ROUND((mean_a - mean_b) / sqrt(se2), 4) AS t_stat,
        |  ROUND(se2 * se2 / ((va / n_a) * (va / n_a) / (n_a - 1)
        |                   + (vb / n_b) * (vb / n_b) / (n_b - 1)), 2) AS df_welch,
        |  (ABS((mean_a - mean_b) / sqrt(se2)) > 1.96) AS significant
        |FROM s""".stripMargin,

    // exact cent moments per (metric, arm); identical double MDE formula
    "ev_power_mde" ->
      """WITH e AS (SELECT event_type AS m, user_id % 2 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT m, a, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s1,
        |    SUM(CAST(c AS HUGEINT) * c) AS s2 FROM e GROUP BY 1, 2),
        |p AS (SELECT m,
        |    MAX(CASE WHEN a = 0 THEN n END) AS n_a, MAX(CASE WHEN a = 0 THEN s1 END) AS s1a,
        |    MAX(CASE WHEN a = 0 THEN s2 END) AS s2a,
        |    MAX(CASE WHEN a = 1 THEN n END) AS n_b, MAX(CASE WHEN a = 1 THEN s1 END) AS s1b,
        |    MAX(CASE WHEN a = 1 THEN s2 END) AS s2b
        |  FROM g GROUP BY 1
        |  HAVING MAX(CASE WHEN a = 0 THEN n END) >= 2 AND MAX(CASE WHEN a = 1 THEN n END) >= 2),
        |f AS (SELECT m, n_a, n_b,
        |    (CAST(s2a AS DOUBLE) + CAST(s2b AS DOUBLE)
        |      - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / n_a
        |      - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / n_b) / (n_a + n_b - 2) AS sp2,
        |    CAST(s1a + s1b AS DOUBLE) / (n_a + n_b) AS gm FROM p),
        |w AS (SELECT m, n_a, n_b, gm,
        |    (1.959964 + 0.841621) * sqrt(sp2 * (1.0 / n_a + 1.0 / n_b)) AS mde FROM f)
        |SELECT m AS metric, n_a, n_b, ROUND(gm / 100.0, 4) AS mean,
        |  ROUND(mde / 100.0, 4) AS mde_abs, ROUND(mde / gm, 6) AS mde_rel
        |FROM w""".stripMargin,

    // per-arm quantile_cont on the same cents grid, UNION-pivoted to QTE rows
    "ev_qte" -> qteOracle,

    // maintained (arm, cents) counts finish to the identical rows — same oracle
    "ev_qte_incremental" -> qteOracle,

    // same draw keyed by arm; per-replica effect pivot, CI excludes zero
    "ev_bootstrap_diff" ->
      """WITH base AS (SELECT user_id % 2 AS a, CAST(event_id AS VARCHAR) AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |rep AS (SELECT a, k, v, r FROM base, UNNEST(generate_series(0, 39)) AS t(r)),
        |drawn AS (SELECT a, r, v,
        |  CAST('0x' || substring(md5(k || ':' || CAST(r AS VARCHAR)), 1, 15) AS BIGINT) AS u
        |  FROM rep),
        |mult AS (SELECT a, r, v, CASE
        |  WHEN u < 424136118829305329 THEN 0 WHEN u < 848272237658610659 THEN 1
        |  WHEN u < 1060340297073263324 THEN 2 WHEN u < 1131029650211480879 THEN 3
        |  WHEN u < 1148701988496035267 THEN 4 WHEN u < 1152236456152946145 THEN 5
        |  WHEN u < 1152825534095764625 THEN 6 WHEN u < 1152909688087595836 THEN 7
        |  ELSE 8 END AS c FROM drawn),
        |cells AS (SELECT a, r, CAST(SUM(c * v) AS BIGINT) AS sv, CAST(SUM(c) AS BIGINT) AS sk
        |  FROM mult GROUP BY 1, 2),
        |diffs AS (SELECT r,
        |    CAST(MAX(CASE WHEN a = 1 THEN sv END) AS DOUBLE)
        |      / MAX(CASE WHEN a = 1 THEN sk END)
        |    - CAST(MAX(CASE WHEN a = 0 THEN sv END) AS DOUBLE)
        |      / MAX(CASE WHEN a = 0 THEN sk END) AS d
        |  FROM cells GROUP BY 1
        |  HAVING MAX(CASE WHEN a = 0 THEN sk END) > 0 AND MAX(CASE WHEN a = 1 THEN sk END) > 0),
        |ranked AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d, r) AS rk,
        |    COUNT(*) OVER () AS nn FROM diffs),
        |ci AS (SELECT CAST(MAX(nn) AS BIGINT) AS n_replicas,
        |    MIN(CASE WHEN rk = 1 THEN d END) AS dlo,
        |    MIN(CASE WHEN rk = LEAST(39, nn) THEN d END) AS dhi
        |  FROM ranked),
        |pt AS (SELECT
        |    CAST(MAX(CASE WHEN a = 1 THEN tv END) AS DOUBLE)
        |      / MAX(CASE WHEN a = 1 THEN n END)
        |    - CAST(MAX(CASE WHEN a = 0 THEN tv END) AS DOUBLE)
        |      / MAX(CASE WHEN a = 0 THEN n END) AS eff,
        |    CAST(SUM(n) AS BIGINT) AS nr
        |  FROM (SELECT a, CAST(SUM(v) AS BIGINT) AS tv, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM base GROUP BY 1))
        |SELECT nr AS n_rows, n_replicas, ROUND(eff / 100, 6) AS effect,
        |  ROUND(dlo / 100, 6) AS ci_lo, ROUND(dhi / 100, 6) AS ci_hi,
        |  (dlo > 0 OR dhi < 0) AS significant
        |FROM ci, pt""".stripMargin,

    // q_bootstrap_ci's md5 draw + integer CDF thresholds, keyed by metric; rank
    // windows per metric
    "ev_bootstrap_ci" ->
      """WITH base AS (SELECT event_type AS g, CAST(event_id AS VARCHAR) AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |rep AS (SELECT g, k, v, r FROM base, UNNEST(generate_series(0, 39)) AS t(r)),
        |drawn AS (SELECT g, r, v,
        |  CAST('0x' || substring(md5(k || ':' || CAST(r AS VARCHAR)), 1, 15) AS BIGINT) AS u
        |  FROM rep),
        |mult AS (SELECT g, r, v, CASE
        |  WHEN u < 424136118829305329 THEN 0 WHEN u < 848272237658610659 THEN 1
        |  WHEN u < 1060340297073263324 THEN 2 WHEN u < 1131029650211480879 THEN 3
        |  WHEN u < 1148701988496035267 THEN 4 WHEN u < 1152236456152946145 THEN 5
        |  WHEN u < 1152825534095764625 THEN 6 WHEN u < 1152909688087595836 THEN 7
        |  ELSE 8 END AS c FROM drawn),
        |means AS (SELECT g, r, CAST(SUM(c * v) AS DOUBLE) / SUM(c) AS m
        |  FROM mult GROUP BY 1, 2 HAVING SUM(c) > 0),
        |ranked AS (SELECT g, m,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY m, r) AS rk,
        |    COUNT(*) OVER (PARTITION BY g) AS nn FROM means),
        |ci AS (SELECT g, CAST(MAX(nn) AS BIGINT) AS n_replicas,
        |    MIN(CASE WHEN rk = 1 THEN m END) AS mlo,
        |    MIN(CASE WHEN rk = LEAST(39, nn) THEN m END) AS mhi
        |  FROM ranked GROUP BY 1),
        |pt AS (SELECT g, CAST(SUM(v) AS BIGINT) AS tv, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1)
        |SELECT ci.g AS metric, n AS n_rows, n_replicas,
        |  ROUND(CAST(tv AS DOUBLE) / n / 100, 6) AS mean,
        |  ROUND(mlo / 100, 6) AS ci_lo, ROUND(mhi / 100, 6) AS ci_hi
        |FROM ci JOIN pt ON ci.g = pt.g""".stripMargin,

    // the same subset-lattice construction: exact e9 worth per touched-set mask,
    // factorial-weighted integer numerators, one double division
    "ev_shapley_attribution" ->
      """WITH ch AS (SELECT channel,
        |    CAST(ROW_NUMBER() OVER (ORDER BY channel) - 1 AS BIGINT) AS bit
        |  FROM (SELECT DISTINCT event_type AS channel FROM events
        |        WHERE event_type <> 'purchase')),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ch),
        |touched AS (SELECT DISTINCT e.user_id, c.bit
        |  FROM events e JOIN ch c ON c.channel = e.event_type),
        |um AS (SELECT user_id, CAST(SUM(1::BIGINT << CAST(bit AS INT)) AS BIGINT) AS mask
        |  FROM touched GROUP BY 1),
        |cv AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT a.user_id, COALESCE(um.mask, 0) AS mask,
        |    CASE WHEN cv.user_id IS NULL THEN 0 ELSE 1 END AS c
        |  FROM (SELECT DISTINCT user_id FROM events) a
        |  LEFT JOIN um USING (user_id) LEFT JOIN cv ON cv.user_id = a.user_id),
        |vt AS (SELECT mask, CAST(SUM(c) AS BIGINT) * 1000000000 // CAST(COUNT(*) AS BIGINT) AS v
        |  FROM u GROUP BY 1),
        |grid AS (SELECT CAST(g.m AS BIGINT) AS mask, COALESCE(vt.v, 0) AS v
        |  FROM (SELECT UNNEST(range(0, (SELECT 1::BIGINT << CAST(n AS INT) FROM nn))) AS m) g
        |  LEFT JOIN vt ON vt.mask = CAST(g.m AS BIGINT)),
        |f AS (SELECT [1,1,2,6,24,120,720,5040,40320,362880,3628800]::BIGINT[] AS fa),
        |terms AS (SELECT c.channel,
        |    (b.v - a.v) * fa[CAST(bit_count(a.mask) AS INT) + 1]
        |      * fa[CAST(nn.n - bit_count(a.mask) AS INT)] AS term
        |  FROM ch c CROSS JOIN nn CROSS JOIN f
        |  JOIN grid a ON (a.mask & (1::BIGINT << CAST(c.bit AS INT))) = 0
        |  JOIN grid b ON b.mask = a.mask + (1::BIGINT << CAST(c.bit AS INT)))
        |SELECT channel,
        |  ROUND(CAST(SUM(term) AS DOUBLE) /
        |    ((SELECT fa[CAST(n AS INT) + 1] FROM nn, f) * 1000000000.0), 6) AS shapley
        |FROM terms GROUP BY 1""".stripMargin,

    "ev_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |conv AS (SELECT event_id AS conv_id, user_id, ms FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT * FROM e WHERE event_type <> 'purchase'),
        |p AS (SELECT c.conv_id, t.event_id, t.event_type, t.ms AS t_ms
        |  FROM conv c JOIN t ON t.user_id = c.user_id
        |    AND t.ms >= c.ms - 604800000 AND t.ms <= c.ms - 1),
        |f AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY t_ms, event_id) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY t_ms DESC, event_id DESC) AS rl,
        |    COUNT(*) OVER (PARTITION BY conv_id) AS n FROM p)
        |SELECT event_type AS channel,
        |  CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
        |  CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
        |  ROUND(CAST(SUM(CAST(1.0 / n AS DECIMAL(18,8))) AS DOUBLE), 6) AS linear_credit,
        |  COUNT(*) AS n_touches
        |FROM f GROUP BY 1""".stripMargin,

    "ev_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events)
        |SELECT l.event_id AS click_id, r.event_id AS error_id, (r.ms - l.ms) AS dt_ms
        |FROM e l JOIN e r ON r.user_id = l.user_id
        |  AND l.event_type = 'click' AND r.event_type = 'error'
        |  AND r.ms >= l.ms + 1 AND r.ms <= l.ms + 86400000""".stripMargin,

    "doc_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |  CAST('0x' || substring(md5(COALESCE(text, CAST(doc_id AS VARCHAR))), 1, 4) AS INT) % 100 AS bucket,
        |  CASE WHEN lang = 'en' THEN 50 WHEN lang = 'zh' THEN 100 ELSE 20 END AS keep_pct
        |  FROM documents)
        |SELECT doc_id, lang, bucket, keep_pct FROM b WHERE bucket < keep_pct""".stripMargin,

    "doc_quota_sample" ->
      """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, source, CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM t),
        |q AS (SELECT doc_id, source,
        |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score
        |  FROM m),
        |r AS (SELECT doc_id, source, quality_score,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id ASC) AS rank_in_group
        |  FROM q)
        |SELECT doc_id, source, quality_score, CAST(rank_in_group AS INT) AS rank_in_group
        |FROM r WHERE rank_in_group <= 5""".stripMargin,

    "doc_pack_greedy" ->
      """WITH tk AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |w AS (SELECT doc_id, lang, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tokens_before
        |  FROM tk)
        |SELECT doc_id, lang, n_tokens, tokens_before, tokens_before // 2048 AS bin_id FROM w""".stripMargin,

    "doc_pack_efficiency" ->
      """WITH tk AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |w AS (SELECT doc_id, lang, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tokens_before
        |  FROM tk),
        |bins AS (SELECT lang, tokens_before // 2048 AS bin_id,
        |  CAST(SUM(n_tokens) AS BIGINT) AS fill, COUNT(*) AS n_docs FROM w GROUP BY 1, 2)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bins, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  CAST(SUM(fill) AS BIGINT) AS tokens, CAST(MAX(fill) AS BIGINT) AS max_fill,
        |  ROUND(CAST(SUM(LEAST(fill, 2048)) AS DOUBLE) / (COUNT(*) * 2048), 6) AS fill_ratio
        |FROM bins GROUP BY 1""".stripMargin,

    // BM25: identical formula with the SAME double-op order — composite constants appear
    // as (1.2 + 1.0)/(1.0 - 0.75) so both engines fold them with the same IEEE ops, and
    // per-term scores quantize to DECIMAL(18,8) before the sum (fp-sum-order safety)
    "doc_bm25_topk" ->
      """WITH q(query_id, query_text) AS (VALUES
        |  ('q1', 'spark join window'), ('q2', 'vector hash merge'), ('q3', 'customer query')),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents),
        |qt AS (SELECT query_id, unnest(list_distinct(
        |  list_filter(string_split_regex(lower(query_text), '[^\p{L}\p{N}]+'), x -> x <> ''))) AS token
        |  FROM q),
        |tf AS (SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM tok),
        |tfc AS (SELECT doc_id, token, MAX(dl) AS dl, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS sum_dl FROM tok),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, tfc.doc_id,
        |    ROUND(CAST(SUM(CAST(
        |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tfc.tf * (1.2 + 1.0) /
        |      (tfc.tf + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(tfc.dl * n_docs AS DOUBLE) / sum_dl))
        |    AS DECIMAL(18,8))) AS DOUBLE), 6) AS score
        |  FROM tfc JOIN qt USING (token) JOIN dfreq USING (token) CROSS JOIN stats
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, score FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) <= 10""".stripMargin,

    // same BM25 pipeline as doc_bm25_topk feeding the NDCG@10 metric; the discount
    // table is the identical fixed-decimal literal list as RetrievalOps.NdcgDiscounts
    "doc_bm25_ndcg" ->
      """WITH q(query_id, query_text) AS (VALUES
        |  ('q1', 'spark join window'), ('q2', 'vector hash merge'), ('q3', 'customer query')),
        |disc(rank, d) AS (VALUES
        |  (1, CAST(1.00000000 AS DECIMAL(18,8))), (2, CAST(0.63092975 AS DECIMAL(18,8))),
        |  (3, CAST(0.50000000 AS DECIMAL(18,8))), (4, CAST(0.43067656 AS DECIMAL(18,8))),
        |  (5, CAST(0.38685281 AS DECIMAL(18,8))), (6, CAST(0.35620719 AS DECIMAL(18,8))),
        |  (7, CAST(0.33333333 AS DECIMAL(18,8))), (8, CAST(0.31546488 AS DECIMAL(18,8))),
        |  (9, CAST(0.30103000 AS DECIMAL(18,8))), (10, CAST(0.28906483 AS DECIMAL(18,8)))),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents),
        |qterms AS (SELECT query_id, list_distinct(
        |  list_filter(string_split_regex(lower(query_text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS qt
        |  FROM q),
        |qt AS (SELECT query_id, unnest(qt) AS token FROM qterms),
        |tf AS (SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM tok),
        |tfc AS (SELECT doc_id, token, MAX(dl) AS dl, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS sum_dl FROM tok),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, tfc.doc_id,
        |    ROUND(CAST(SUM(CAST(
        |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tfc.tf * (1.2 + 1.0) /
        |      (tfc.tf + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(tfc.dl * n_docs AS DOUBLE) / sum_dl))
        |    AS DECIMAL(18,8))) AS DOUBLE), 6) AS score
        |  FROM tfc JOIN qt USING (token) JOIN dfreq USING (token) CROSS JOIN stats
        |  GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) <= 10),
        |rel AS (SELECT qs.query_id, tok.doc_id,
        |    len(list_filter(list_distinct(tok.t), x -> list_contains(qs.qt, x))) AS rel
        |  FROM tok CROSS JOIN qterms qs),
        |dcg AS (SELECT r.query_id,
        |    SUM(CAST(CAST(rel.rel AS DECIMAL(18,8)) * disc.d AS DECIMAL(18,8))) AS dcg
        |  FROM ranked r
        |  JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
        |  JOIN disc ON disc.rank = r.rank GROUP BY 1),
        |ideal AS (SELECT query_id, rel,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS rank
        |  FROM rel
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) <= 10),
        |idcg AS (SELECT query_id,
        |    SUM(CAST(CAST(rel AS DECIMAL(18,8)) * d AS DECIMAL(18,8))) AS idcg
        |  FROM ideal JOIN disc USING (rank) GROUP BY 1)
        |SELECT dcg.query_id, CAST(dcg.dcg AS DOUBLE) AS dcg, CAST(idcg.idcg AS DOUBLE) AS idcg,
        |  CASE WHEN idcg.idcg > 0
        |    THEN ROUND(CAST(dcg.dcg AS DOUBLE) / CAST(idcg.idcg AS DOUBLE), 4)
        |    ELSE 0.0 END AS ndcg
        |FROM dcg JOIN idcg USING (query_id)""".stripMargin,

    "doc_hybrid_rrf" ->
      """WITH q(query_id, query_text, qvec) AS (VALUES
        |  ('q1', 'spark join window', 1), ('q2', 'vector hash merge', 2), ('q3', 'customer query', 3)),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents),
        |qt AS (SELECT query_id, unnest(list_distinct(
        |  list_filter(string_split_regex(lower(query_text), '[^\p{L}\p{N}]+'), x -> x <> ''))) AS token
        |  FROM q),
        |tf AS (SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM tok),
        |tfc AS (SELECT doc_id, token, MAX(dl) AS dl, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS sum_dl FROM tok),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, tfc.doc_id,
        |    ROUND(CAST(SUM(CAST(
        |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tfc.tf * (1.2 + 1.0) /
        |      (tfc.tf + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(tfc.dl * n_docs AS DOUBLE) / sum_dl))
        |    AS DECIMAL(18,8))) AS DOUBLE), 6) AS score
        |  FROM tfc JOIN qt USING (token) JOIN dfreq USING (token) CROSS JOIN stats
        |  GROUP BY 1, 2),
        |lexr AS (SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS lex_rank
        |  FROM scored QUALIFY lex_rank <= 10),
        |annx AS (SELECT q.query_id, c.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.query_id ORDER BY
        |      list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
        |      c.vec_id ASC) AS ann_rank
        |  FROM q JOIN embeddings qe ON qe.vec_id = q.qvec
        |       JOIN embeddings c ON c.vec_id <> q.qvec
        |  QUALIFY ann_rank <= 10),
        |f AS (SELECT COALESCE(l.query_id, a.query_id) AS query_id,
        |    COALESCE(l.doc_id, a.doc_id) AS doc_id,
        |    COALESCE(1.0/(60 + l.lex_rank), 0.0) + COALESCE(1.0/(60 + a.ann_rank), 0.0) AS rrf
        |  FROM lexr l FULL OUTER JOIN annx a ON a.query_id = l.query_id AND a.doc_id = l.doc_id)
        |SELECT query_id, doc_id, ROUND(rrf, 6) AS rrf_score,
        |  row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS fused_rank
        |FROM f QUALIFY fused_rank <= 5""".stripMargin,

    // mixture sampling: same rate formula with the same double-op order; membership is the
    // shared 20-bit md5 bucket rendering
    // weights quantize to DECIMAL(18,6) right after the one libm pow; the share
    // denominator is an exact decimal sum, every later step pinned operand order
    "doc_temperature_mixture" ->
      """WITH tot AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS t FROM documents GROUP BY 1),
        |w AS (SELECT lang, t, CAST(ROUND(pow(CAST(t AS DOUBLE), 0.3), 6) AS DECIMAL(18,6)) AS wq FROM tot),
        |ws AS (SELECT SUM(wq) AS wsq FROM w),
        |sh AS (SELECT lang, t, CAST(wq AS DOUBLE) / CAST(ws.wsq AS DOUBLE) AS p FROM w CROSS JOIN ws),
        |o AS (SELECT MIN(CAST(t AS DOUBLE) / p) AS o FROM sh),
        |rates AS (SELECT sh.lang, sh.p * o.o / CAST(sh.t AS DOUBLE) AS rate FROM sh CROSS JOIN o)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE CAST('0x' || substring(md5(d.text), 1, 5) AS BIGINT) < r.rate * 1048576.0""".stripMargin,

    "doc_mixture_sample" ->
      """WITH w(lang, wt) AS (VALUES ('en', 0.5), ('de', 0.25), ('fr', 0.25)),
        |totals AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS t FROM documents
        |  WHERE lang IN ('en', 'de', 'fr') GROUP BY 1),
        |o AS (SELECT MIN(CAST(t AS DOUBLE) / wt) AS o FROM totals JOIN w USING (lang)),
        |rates AS (SELECT totals.lang, wt * o.o / CAST(t AS DOUBLE) AS rate
        |  FROM totals JOIN w USING (lang) CROSS JOIN o)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE CAST('0x' || substring(md5(d.text), 1, 5) AS BIGINT) < r.rate * 1048576.0""".stripMargin,

    "doc_contamination" ->
      """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, source, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE source = 'src0'),
        |corp AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles, unnest(sh) AS shingle
        |  FROM sh WHERE source <> 'src0')
        |SELECT c.doc_id, c.n_shingles, COUNT(*) AS n_contaminated,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / n_shingles, 6) AS contaminated_frac
        |FROM corp c JOIN bench b ON c.shingle = b.shingle
        |GROUP BY c.doc_id, c.n_shingles""".stripMargin,

    // n_docs_exact replicates the doc_contamination oracle's contaminated-doc count;
    // the two booleans pin the sketch-vs-exact audit verdict
    "doc_bloom_contamination" ->
      """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, source, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE source = 'src0'),
        |corp AS (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE source <> 'src0')
        |SELECT CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_docs_exact,
        |  TRUE AS no_false_neg_ok, TRUE AS fp_bounded_ok
        |FROM corp c JOIN bench b ON c.shingle = b.shingle""".stripMargin,

    "doc_incremental_neardup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |  TRUE AS planted_rejected_ok, TRUE AS admitted_clean_ok, TRUE AS some_admitted_ok
        |FROM documents WHERE source = 'src0' AND doc_id % 2 = 0""".stripMargin,

    "doc_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS md5_before FROM documents),
        |b0 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 7 <> 0
        |       UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 11 = 0),
        |b AS (SELECT doc_id, md5(text) AS md5_after FROM b0),
        |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.md5_before <> b.md5_after THEN 'changed'
        |         ELSE 'unchanged' END AS change,
        |    a.md5_before, b.md5_after
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, change, md5_before, md5_after FROM j
        |WHERE change <> 'unchanged'""".stripMargin,

    "doc_length_buckets" ->
      """WITH thr AS (SELECT quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS thr
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(len(list_filter(thr.thr, t -> t <= n_chars)) AS INT) AS bucket
        |FROM documents CROSS JOIN thr""".stripMargin,

    "doc_incremental_dedup" ->
      """WITH idx AS (SELECT md5(text) AS content_md5 FROM documents WHERE doc_id % 3 = 0),
        |b AS (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |s AS (SELECT md5(text) AS content_md5, MIN(doc_id) AS doc_id FROM b GROUP BY 1)
        |SELECT s.doc_id, s.content_md5 FROM s
        |WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.content_md5 = s.content_md5)""".stripMargin,

    "doc_line_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    text || chr(10) || 'Subscribe to our newsletter!' || chr(10) || '(c) 2026 Example Corp'
        |         || chr(10) || 'ref#' || CAST(doc_id AS VARCHAR) AS text FROM documents),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM d),
        |ln AS (SELECT doc_id, unnest(arr) AS line FROM l),
        |fr AS (SELECT COALESCE(list(h), []) AS freqs FROM (
        |    SELECT md5(line) AS h FROM ln GROUP BY md5(line) HAVING COUNT(DISTINCT doc_id) > 2)),
        |k AS (SELECT l.doc_id, l.arr,
        |    list_filter(l.arr, x -> NOT list_contains(fr.freqs, md5(x))) AS kept
        |  FROM l CROSS JOIN fr)
        |SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
        |  md5(array_to_string(kept, chr(10))) AS clean_md5
        |FROM k""".stripMargin,

    "doc_boilerplate" ->
      """WITH d AS (SELECT doc_id, source,
        |    text || chr(10) || 'From ' || source || ' newsroom' || chr(10) || 'All rights reserved.'
        |         || chr(10) || 'ref#' || CAST(doc_id AS VARCHAR) AS text FROM documents),
        |l AS (SELECT doc_id, source, string_split(text, chr(10)) AS arr FROM d),
        |ln AS (SELECT doc_id, source, unnest(arr) AS line FROM l),
        |fr AS (SELECT source, COALESCE(list(h), []) AS freqs FROM (
        |    SELECT source, md5(line) AS h FROM ln
        |    GROUP BY source, md5(line) HAVING COUNT(DISTINCT doc_id) > 2) GROUP BY source),
        |k AS (SELECT l.doc_id, l.source, l.arr,
        |    list_filter(l.arr, x -> NOT list_contains(COALESCE(fr.freqs, []), md5(x))) AS kept
        |  FROM l LEFT JOIN fr USING (source))
        |SELECT doc_id, source, CAST(len(arr) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  md5(array_to_string(kept, chr(10))) AS clean_md5
        |FROM k""".stripMargin,

    "doc_span_dedup" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT doc_id, u.i AS win_idx, list_aggregate(toks[u.i:u.i+11], 'string_agg', ' ') AS win
        |  FROM t, unnest(CASE WHEN len(toks) < 12 THEN [] ELSE range(1, len(toks)-10) END) AS u(i)),
        |dup AS (SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) > 1),
        |m AS (SELECT w.doc_id, w.win_idx, (d2.win IS NOT NULL) AS is_dup
        |  FROM w LEFT JOIN dup d2 ON d2.win = w.win),
        |runs AS (SELECT doc_id, win_idx - ROW_NUMBER() OVER (PARTITION BY doc_id, is_dup ORDER BY win_idx) AS grp
        |  FROM m WHERE is_dup),
        |mr AS (SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS max_dup_run FROM
        |  (SELECT doc_id, grp, COUNT(*) AS cnt FROM runs GROUP BY 1, 2) GROUP BY 1),
        |st AS (SELECT doc_id, COUNT(*) AS n_windows,
        |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows FROM m GROUP BY 1)
        |SELECT d.doc_id, COALESCE(st.n_windows, 0) AS n_windows,
        |  COALESCE(st.n_dup_windows, 0) AS n_dup_windows, COALESCE(mr.max_dup_run, 0) AS max_dup_run
        |FROM documents d LEFT JOIN st ON st.doc_id = d.doc_id LEFT JOIN mr ON mr.doc_id = d.doc_id""".stripMargin,

    "doc_span_dedup50" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text || ' ' || text AS text
        |  FROM documents WHERE doc_id % 101 = 0),
        |t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM corpus),
        |w AS (SELECT doc_id, COALESCE(CAST(len(toks) AS BIGINT), 0) AS n_tokens,
        |    CASE WHEN len(toks) < 50 THEN [] ELSE list_transform(range(1, len(toks) - 48),
        |      i -> CAST(('0x'||substring(md5(array_to_string(toks[i:i+49], ' ')),1,15)) AS BIGINT)) END AS hs
        |  FROM t),
        |occ AS (SELECT doc_id, hs[CAST(u.i AS INT) + 1] AS h, CAST(u.i AS BIGINT) AS idx
        |  FROM w, unnest(CASE WHEN len(hs) = 0 THEN [] ELSE range(0, len(hs)) END) AS u(i)),
        |dup AS (SELECT h, FIRST(doc_id ORDER BY doc_id, idx) AS kd,
        |    FIRST(idx ORDER BY doc_id, idx) AS ki
        |  FROM occ GROUP BY h HAVING COUNT(*) > 1),
        |losers AS (SELECT o.doc_id, o.idx FROM occ o JOIN dup d USING (h)
        |  WHERE NOT (o.doc_id = d.kd AND o.idx = d.ki)),
        |pe AS (SELECT doc_id, idx, MAX(idx + 49) OVER (PARTITION BY doc_id ORDER BY idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM losers),
        |g AS (SELECT doc_id, idx,
        |    SUM(CASE WHEN prev_end IS NULL OR idx > prev_end + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY idx ROWS UNBOUNDED PRECEDING) AS grp FROM pe),
        |sp AS (SELECT doc_id, grp, MAX(idx) - MIN(idx) + 50 AS removed, COUNT(*) AS nl
        |  FROM g GROUP BY 1, 2),
        |pd AS (SELECT doc_id, CAST(SUM(nl) AS BIGINT) AS n_loser_windows,
        |    CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
        |    CAST(SUM(removed) AS BIGINT) AS n_removed_tokens
        |  FROM sp GROUP BY 1)
        |SELECT w.doc_id, w.n_tokens, CAST(len(w.hs) AS BIGINT) AS n_windows,
        |  COALESCE(pd.n_loser_windows, 0) AS n_loser_windows,
        |  COALESCE(pd.n_dup_spans, 0) AS n_dup_spans,
        |  COALESCE(pd.n_removed_tokens, 0) AS n_removed_tokens
        |FROM w LEFT JOIN pd USING (doc_id)""".stripMargin,

    "doc_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n_total FROM toks)
        |SELECT token, COUNT(*) AS n FROM toks CROSS JOIN tot
        |GROUP BY token, tot.n_total HAVING COUNT(*) * 200 > tot.n_total""".stripMargin,

    "doc_cms_heavy" ->
      """WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n_total FROM toks),
        |hh AS (SELECT token, COUNT(*) AS n FROM toks CROSS JOIN tot
        |  GROUP BY token, tot.n_total HAVING COUNT(*) * 200 > tot.n_total)
        |SELECT COUNT(*) AS n_heavy, TRUE AS overestimate_ok, TRUE AS bound_ok FROM hh""".stripMargin,

    "doc_kmv_overlap" ->
      """WITH t AS (SELECT lang = 'en' AS is_a,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (SELECT is_a, unnest(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM t),
        |h AS (SELECT is_a, CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) AS h FROM sh),
        |sa AS (SELECT DISTINCT h FROM h WHERE is_a ORDER BY h LIMIT 256),
        |sb AS (SELECT DISTINCT h FROM h WHERE NOT is_a ORDER BY h LIMIT 256),
        |u AS (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb) ORDER BY h LIMIT 256),
        |st AS (SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sa) AS n_a,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sb) AS n_b,
        |  COALESCE((SELECT MAX(h) FROM sa), -1) AS a_kth_min,
        |  COALESCE((SELECT MAX(h) FROM sb), -1) AS b_kth_min,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_union,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM u WHERE h IN (SELECT h FROM sa)) AS n_in_a,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM u WHERE h IN (SELECT h FROM sb)) AS n_in_b,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM u
        |     WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)) AS n_shared)
        |SELECT CAST(256 AS BIGINT) AS k, n_a, n_b, a_kth_min, b_kth_min, n_union,
        |  n_in_a, n_in_b, n_shared,
        |  CASE WHEN n_union = 0 THEN 0.0
        |       ELSE CAST(n_shared AS DOUBLE) / n_union END AS est_jaccard,
        |  CASE WHEN n_in_a = 0 THEN 0.0
        |       ELSE CAST(n_shared AS DOUBLE) / n_in_a END AS est_containment_a,
        |  CASE WHEN n_in_b = 0 THEN 0.0
        |       ELSE CAST(n_shared AS DOUBLE) / n_in_b END AS est_containment_b
        |FROM st""".stripMargin,

    // round-1 of BPE training is fully DuckDB-expressible (weighted adjacent char-pair
    // counts over the ASCII word-frequency table, count-desc then lexicographic
    // tie-break); later rounds need merge application, so they gate via the pinned
    // invariants. range(1, len) is end-exclusive: positions 1..len-1 = the len-1 pairs.
    "doc_bpe_train" ->
      """WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS word
        |  FROM documents),
        |aw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        |  WHERE regexp_matches(word, '^[\x21-\x7e]+$') GROUP BY 1),
        |pairs AS (SELECT substring(word, i, 1) AS l, substring(word, i + 1, 1) AS r,
        |    CAST(SUM(c) AS BIGINT) AS n
        |  FROM aw, unnest(range(1, length(word))) AS u(i) GROUP BY 1, 2)
        |SELECT l AS first_left, r AS first_right, n AS first_n,
        |  CAST(30 AS BIGINT) AS n_merges, TRUE AS counts_nonincreasing_ok,
        |  TRUE AS roundtrip_ok, TRUE AS encoder_matches_training_ok
        |FROM pairs ORDER BY n DESC, l, r LIMIT 1""".stripMargin,

    // encode gate: the concatenated subword stream rebuilds the concatenated word
    // stream, so its digest is computable from raw text alone; count bounds pinned
    "doc_bpe_encode" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, md5(COALESCE(list_aggregate(toks, 'string_agg', ''), '')) AS stream_md5,
        |  CAST(COALESCE(len(toks), 0) AS BIGINT) AS n_words,
        |  TRUE AS at_least_one_per_word, TRUE AS at_most_one_per_char
        |FROM t""".stripMargin,

    // zlib bytes are engine-specific, so the verdict checks engine-independent
    // invariants of the per-doc ratio pass; cardinalities come from the raw table
    "doc_compress_ratio" ->
      """SELECT COUNT(*) AS n_docs,
        |  COUNT(*) FILTER (WHERE text IS NULL) AS n_null,
        |  COUNT(*) FILTER (WHERE text = '') AS n_empty,
        |  TRUE AS ratios_bounded_ok, TRUE AS doubling_ok,
        |  TRUE AS planted_low_ok, TRUE AS planted_high_ok
        |FROM documents""".stripMargin,

    "doc_pmi_pairs" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
        |uni AS (SELECT unnest(toks) AS tok FROM t),
        |uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1),
        |nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_u FROM uni),
        |bg AS (SELECT u.bg FROM t, unnest(CASE WHEN len(toks) < 2 THEN []
        |  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS u(bg)),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM bg),
        |bc AS (SELECT bg AS pair, COUNT(*) AS n_pair FROM bg GROUP BY 1 HAVING COUNT(*) >= 5),
        |sp AS (SELECT pair, n_pair, string_split(pair, ' ')[1] AS tok_a, string_split(pair, ' ')[2] AS tok_b FROM bc)
        |SELECT sp.pair, sp.n_pair,
        |  ROUND(LOG10((CAST(sp.n_pair AS DOUBLE) * nu.n_u * nu.n_u) /
        |    (CAST(nb.n_b AS DOUBLE) * a.c * b.c)), 6) AS pmi
        |FROM sp JOIN uc a ON a.tok = sp.tok_a JOIN uc b ON b.tok = sp.tok_b
        |CROSS JOIN nu CROSS JOIN nb""".stripMargin,

    // same 9-term x·log10(x) composition in the same operand order; 0·log 0 = 0
    "doc_llr_pairs" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
        |bg AS (SELECT u.bg FROM t, unnest(CASE WHEN len(toks) < 2 THEN []
        |  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS u(bg)),
        |bc AS (SELECT bg AS pair, CAST(COUNT(*) AS BIGINT) AS n_pair,
        |  string_split(bg, ' ')[1] AS tok_a, string_split(bg, ' ')[2] AS tok_b
        |  FROM bg GROUP BY 1),
        |ra AS (SELECT tok_a, CAST(SUM(n_pair) AS BIGINT) AS ra FROM bc GROUP BY 1),
        |cbt AS (SELECT tok_b, CAST(SUM(n_pair) AS BIGINT) AS cb FROM bc GROUP BY 1),
        |nn AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS nn FROM bc),
        |j AS (SELECT bc.pair, bc.n_pair AS k11, ra.ra, cbt.cb, nn.nn
        |  FROM bc JOIN ra USING (tok_a) JOIN cbt USING (tok_b) CROSS JOIN nn
        |  WHERE bc.n_pair >= 5),
        |x AS (SELECT pair, k11, ra, cb, nn,
        |  ra - k11 AS k12, cb - k11 AS k21, nn - ra - cb + k11 AS k22 FROM j)
        |SELECT pair, k11 AS n_pair, ROUND(2.0 * (
        |  (CASE WHEN k11 >= 1 THEN CAST(k11 AS DOUBLE) * LOG10(CAST(k11 AS DOUBLE)) ELSE 0.0 END)
        |  + (CASE WHEN k12 >= 1 THEN CAST(k12 AS DOUBLE) * LOG10(CAST(k12 AS DOUBLE)) ELSE 0.0 END)
        |  + (CASE WHEN k21 >= 1 THEN CAST(k21 AS DOUBLE) * LOG10(CAST(k21 AS DOUBLE)) ELSE 0.0 END)
        |  + (CASE WHEN k22 >= 1 THEN CAST(k22 AS DOUBLE) * LOG10(CAST(k22 AS DOUBLE)) ELSE 0.0 END)
        |  - (CASE WHEN ra >= 1 THEN CAST(ra AS DOUBLE) * LOG10(CAST(ra AS DOUBLE)) ELSE 0.0 END)
        |  - (CASE WHEN nn - ra >= 1 THEN CAST(nn - ra AS DOUBLE) * LOG10(CAST(nn - ra AS DOUBLE)) ELSE 0.0 END)
        |  - (CASE WHEN cb >= 1 THEN CAST(cb AS DOUBLE) * LOG10(CAST(cb AS DOUBLE)) ELSE 0.0 END)
        |  - (CASE WHEN nn - cb >= 1 THEN CAST(nn - cb AS DOUBLE) * LOG10(CAST(nn - cb AS DOUBLE)) ELSE 0.0 END)
        |  + (CASE WHEN nn >= 1 THEN CAST(nn AS DOUBLE) * LOG10(CAST(nn AS DOUBLE)) ELSE 0.0 END)), 4) AS llr10
        |FROM x""".stripMargin,

    // token graph + the same unrolled fixed-point PageRank as emb_pagerank (BIGINT
    // 1e-12 units, floor division) over the frequent-vocab co-occurrence edges
    "doc_textrank" -> textRankOracle,

    "doc_rake" -> rakeOracle,

    // maintained counts are associative sums and the ranking is a pure function of
    // them — row-identical to one-shot doc_rake, so the SAME oracle pins it
    "doc_rake_incremental" -> rakeOracle,
    // the incremental form maintains the same counts the one-shot derives — final
    // resolution is row-identical, so the identical oracle gates it
    "doc_textrank_incremental" -> textRankOracle,

    "doc_markup_strip" ->
      """WITH w AS (SELECT doc_id,
        |  '<html><head><style>body { color: red; }</style></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR)
        |    || '</h1><p>' || text || ' &amp; more &lt;tags&gt;</p><script>var x = 1;</script></body></html>' AS raw
        |  FROM documents),
        |s1 AS (SELECT doc_id, raw,
        |  regexp_replace(regexp_replace(raw,
        |    '(?is)<script(\s[^>]*)?>.*?(</script\s*>|$)', ' ', 'g'),
        |    '(?is)<style(\s[^>]*)?>.*?(</style\s*>|$)', ' ', 'g') AS a FROM w),
        |s2 AS (SELECT doc_id, raw, regexp_replace(a, '<[^>]*>', ' ', 'g') AS b FROM s1),
        |s3 AS (SELECT doc_id, raw, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(
        |  b, '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |  '&#39;', '''', 'g'), '&apos;', '''', 'g'), '&amp;', '&', 'g') AS c
        |  FROM s2),
        |s4 AS (SELECT doc_id, raw, trim(regexp_replace(c, '[ \t\n\r\f]+', ' ', 'g')) AS clean FROM s3)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_chars_raw,
        |  CAST(length(clean) AS BIGINT) AS n_chars_text, clean AS extracted
        |FROM s4""".stripMargin,

    "doc_incremental_spandedup" ->
      """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT doc_id, source, u.win FROM t, unnest(CASE WHEN len(toks) < 12 THEN []
        |  ELSE list_transform(range(1, len(toks)-10), i -> list_aggregate(toks[i:i+11], 'string_agg', ' ')) END) AS u(win)),
        |iw AS (SELECT DISTINCT win FROM w WHERE source = 'src0'),
        |bw AS (SELECT doc_id, win FROM w WHERE source <> 'src0'),
        |sh AS (SELECT bw.doc_id, COUNT(*) AS n_shared FROM bw JOIN iw ON iw.win = bw.win GROUP BY 1),
        |nw AS (SELECT doc_id, CAST(CASE WHEN len(toks) < 12 THEN 0 ELSE len(toks) - 11 END AS BIGINT) AS n_windows
        |  FROM t WHERE source <> 'src0')
        |SELECT nw.doc_id, nw.n_windows, COALESCE(sh.n_shared, 0) AS n_shared,
        |  CASE WHEN nw.n_windows > 0
        |    THEN ROUND(COALESCE(sh.n_shared, 0) / CAST(nw.n_windows AS DOUBLE), 6) ELSE 0.0 END AS shared_frac,
        |  CASE WHEN nw.n_windows > 0
        |    THEN COALESCE(sh.n_shared, 0) / CAST(nw.n_windows AS DOUBLE) <= 0.5 ELSE TRUE END AS admitted
        |FROM nw LEFT JOIN sh ON sh.doc_id = nw.doc_id""".stripMargin,

    "emb_semdedup_incremental" ->
      """SELECT CAST(COUNT(DISTINCT embedding) AS BIGINT) AS n_w0_admitted,
        |  CAST(0 AS BIGINT) AS n_dup_admitted,
        |  CAST(COUNT(DISTINCT embedding) AS BIGINT) AS n_far_admitted,
        |  CAST(2 * COUNT(DISTINCT embedding) AS BIGINT) AS n_admitted_total
        |FROM embeddings""".stripMargin,

    "emb_semdedup" ->
      """SELECT COUNT(*) + COUNT(*) FILTER (WHERE vec_id < 20) AS n_vectors,
        |  CAST(COUNT(*) FILTER (WHERE vec_id < 20) AS BIGINT) AS n_planted,
        |  TRUE AS planted_dropped_ok, TRUE AS kept_independent_ok, TRUE AS bounded_ok
        |FROM embeddings""".stripMargin,

    "emb_pca" ->
      """SELECT COUNT(*) AS n_vectors, CAST(8 AS BIGINT) AS k,
        |  TRUE AS basis_orthonormal_ok, TRUE AS eigvals_nonincreasing_ok,
        |  TRUE AS variance_match_ok, TRUE AS capture_ok
        |FROM embeddings""".stripMargin,

    "emb_semdedup_far" ->
      """SELECT COUNT(*) + COUNT(*) FILTER (WHERE vec_id < 20) AS n_vectors,
        |  CAST(COUNT(*) FILTER (WHERE vec_id < 20) AS BIGINT) AS n_planted,
        |  TRUE AS planted_dropped_ok, TRUE AS kept_independent_ok, TRUE AS dominance_ok
        |FROM embeddings""".stripMargin,

    "doc_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, (lang = 'en') AS is_target,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |b AS (SELECT doc_id, is_target,
        |  CAST('0x' || substring(md5(token), 1, 15) AS BIGINT) % 64 AS bucket FROM toks),
        |g AS (SELECT bucket, COUNT(*) AS n_raw,
        |  CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt FROM b GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_raw) AS BIGINT) AS t_raw, CAST(SUM(n_tgt) AS BIGINT) AS t_tgt FROM g),
        |lr AS (SELECT bucket,
        |  CAST(LOG10(CAST(g.n_tgt + 1 AS DOUBLE) / (tot.t_tgt + 64))
        |     - LOG10(CAST(g.n_raw + 1 AS DOUBLE) / (tot.t_raw + 64)) AS DECIMAL(18,8)) AS lr
        |  FROM g CROSS JOIN tot),
        |pd AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |w AS (SELECT pd.doc_id, ROUND(CAST(SUM(pd.c * lr.lr) AS DOUBLE), 4) AS dsir_weight
        |  FROM pd JOIN lr USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(w.dsir_weight, 0.0) AS dsir_weight
        |FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id""".stripMargin,

    "doc_shuffle_shards" ->
      """WITH h AS (SELECT doc_id,
        |    md5('graft:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |s AS (SELECT doc_id, h,
        |    CAST(CAST('0x' || substring(h, 1, 4) AS INT) % 8 AS INT) AS shard FROM h)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS ord
        |FROM s""".stripMargin,

    "doc_top_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents)
        |SELECT token, COUNT(*) AS n FROM toks GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,

    "doc_dedup_exact" ->
      """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "doc_corpus_clean" ->
      """WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM t),
        |q AS (SELECT doc_id,
        |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score
        |  FROM m)
        |SELECT d.doc_id, d.lang, q.quality_score
        |FROM documents d JOIN keep USING (doc_id) JOIN q USING (doc_id)
        |WHERE q.quality_score >= 0.55""".stripMargin,

    "doc_hash_split" ->
      """SELECT doc_id,
        |  CAST(CAST(('0x' || substring(md5(text), 1, 4)) AS INT) % 100 AS INT) AS bucket,
        |  CASE WHEN CAST(('0x' || substring(md5(text), 1, 4)) AS INT) % 100 < 90
        |       THEN 'train' ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "doc_pii_scrub" ->
      """WITH d AS (SELECT doc_id,
        |  text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.7 call 555-867-5309 ssn 123-45-6789' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')) AS scrubbed_md5
        |FROM d""".stripMargin,

    "doc_winnowing" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1),
        |    i -> CAST(('0x'||substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15)) AS BIGINT)) END AS hs
        |  FROM t)
        |SELECT doc_id, unnest(list_distinct(CASE
        |  WHEN len(hs) >= 4 THEN list_transform(range(1, len(hs) - 2), i -> list_aggregate(hs[i:i+3], 'min'))
        |  ELSE [list_aggregate(hs, 'min')] END)) AS fp
        |FROM shl WHERE len(hs) > 0""".stripMargin,

    "doc_winnowing_pairs" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1),
        |    i -> CAST(('0x'||substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15)) AS BIGINT)) END AS hs
        |  FROM t),
        |fps AS (SELECT doc_id, unnest(list_distinct(CASE
        |  WHEN len(hs) >= 4 THEN list_transform(range(1, len(hs) - 2), i -> list_aggregate(hs[i:i+3], 'min'))
        |  ELSE [list_aggregate(hs, 'min')] END)) AS fp
        |  FROM shl WHERE len(hs) > 0),
        |dfc AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY 1),
        |keep AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfc d ON f.fp = d.fp WHERE d.df <= 20),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM keep GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |  FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, CAST(p.n_shared AS BIGINT) AS n_shared,
        |  ROUND(CAST(p.n_shared AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
        |FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
        |WHERE p.n_shared >= 2""".stripMargin,

    "doc_source_report" ->
      """WITH t AS (SELECT source, lang, n_chars, md5(text) AS h,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT source, lang, n_chars, h,
        |  CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM t),
        |q AS (SELECT source, lang, n_chars, h,
        |  CAST(ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |    + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS DECIMAL(18,4)) AS qs
        |  FROM m)
        |SELECT source, COUNT(*) AS n_docs, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  ROUND(CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 4) AS dup_rate,
        |  ROUND(CAST(SUM(qs) AS DOUBLE) / COUNT(*), 4) AS mean_quality
        |FROM q GROUP BY source""".stripMargin,

    // identical fixed operand-order chain: decimal sums -> double casts -> one
    // least-squares expression; bit-identical up to the final 6dp round
    "doc_zipf" ->
      """WITH toks AS (SELECT
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1),
        |top AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS r
        |  FROM freq ORDER BY cnt DESC, token ASC LIMIT 1000),
        |q AS (SELECT CAST(LOG10(CAST(r AS DOUBLE)) AS DECIMAL(18,8)) AS x,
        |             CAST(LOG10(CAST(cnt AS DOUBLE)) AS DECIMAL(18,8)) AS y FROM top),
        |s AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |  CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx,
        |  CAST(SUM(y*y) AS DOUBLE) AS syy FROM q)
        |SELECT CAST(n AS BIGINT) AS n_ranks,
        |  ROUND((CAST(n AS DOUBLE)*sxy - sx*sy) / (CAST(n AS DOUBLE)*sxx - sx*sx), 6) AS slope,
        |  ROUND((sy - ((CAST(n AS DOUBLE)*sxy - sx*sy) / (CAST(n AS DOUBLE)*sxx - sx*sx)) * sx)
        |    / CAST(n AS DOUBLE), 6) AS intercept,
        |  ROUND((CAST(n AS DOUBLE)*sxy - sx*sy) * (CAST(n AS DOUBLE)*sxy - sx*sy)
        |    / ((CAST(n AS DOUBLE)*sxx - sx*sx) * (CAST(n AS DOUBLE)*syy - sy*sy)), 6) AS r2
        |FROM s""".stripMargin,

    "doc_burstiness" ->
      """WITH tk AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT doc_id, token, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
        |m AS (SELECT token, CAST(SUM(c) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df,
        |  CAST(SUM(c*c) AS BIGINT) AS sc2 FROM c GROUP BY 1)
        |SELECT token, tf, df,
        |  ROUND(CAST(tf AS DOUBLE) / df, 6) AS burst,
        |  ROUND(CAST(n.n * sc2 - tf * tf AS DOUBLE) / (n.n * tf), 6) AS vmr
        |FROM m, n WHERE tf >= 5""".stripMargin,

    "doc_ngram_novelty" ->
      """WITH t AS (SELECT source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT DISTINCT source, unnest(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |  ELSE [] END) AS g FROM t),
        |r AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
        |s AS (SELECT g.source, CAST(COUNT(*) AS BIGINT) AS n_seen FROM g
        |  JOIN r USING (g) GROUP BY 1),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ngrams FROM g GROUP BY 1)
        |SELECT tot.source, tot.n_ngrams,
        |  CAST(COALESCE(s.n_seen, 0) AS BIGINT) AS n_seen_in_ref,
        |  ROUND(1.0 - CAST(COALESCE(s.n_seen, 0) AS DOUBLE) / tot.n_ngrams, 6) AS novelty_rate
        |FROM tot LEFT JOIN s ON s.source = tot.source""".stripMargin,

    "doc_distinct_ngrams" ->
      """WITH t AS (SELECT source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |u AS (SELECT source, 1 AS n, unnest(toks) AS gram FROM t),
        |b AS (SELECT source, 2 AS n, unnest(CASE WHEN len(toks) >= 2
        |  THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |  ELSE [] END) AS gram FROM t),
        |a AS (SELECT * FROM u UNION ALL SELECT * FROM b),
        |g AS (SELECT source, n, gram, COUNT(*) AS c FROM a GROUP BY 1, 2, 3),
        |r AS (SELECT source, n, CAST(SUM(c) AS BIGINT) AS occ,
        |  CAST(COUNT(*) AS BIGINT) AS types FROM g GROUP BY 1, 2)
        |SELECT source,
        |  CAST(SUM(CASE WHEN n = 1 THEN occ END) AS BIGINT) AS n_unigrams,
        |  CAST(SUM(CASE WHEN n = 1 THEN types END) AS BIGINT) AS d1_types,
        |  ROUND(CAST(SUM(CASE WHEN n = 1 THEN types END) AS DOUBLE)
        |    / SUM(CASE WHEN n = 1 THEN occ END), 6) AS distinct1,
        |  CAST(SUM(CASE WHEN n = 2 THEN occ END) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN n = 2 THEN types END) AS BIGINT) AS d2_types,
        |  ROUND(CAST(SUM(CASE WHEN n = 2 THEN types END) AS DOUBLE)
        |    / SUM(CASE WHEN n = 2 THEN occ END), 6) AS distinct2
        |FROM r GROUP BY 1""".stripMargin,

    "doc_fightin_words" ->
      """WITH tk AS (SELECT (source = 'src0') AS t,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token,
        |  CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS y1,
        |  CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS y2 FROM tk GROUP BY 1),
        |tt AS (SELECT CAST(SUM(y1) AS BIGINT) AS n1, CAST(SUM(y2) AS BIGINT) AS n2,
        |  CAST(COUNT(*) AS BIGINT) AS v FROM c),
        |sc AS (SELECT token, y1, y2,
        |  CAST(LOG10((y1 + 0.5) / (n1 + CAST(v AS DOUBLE) * 0.5 - y1 - 0.5))
        |     - LOG10((y2 + 0.5) / (n2 + CAST(v AS DOUBLE) * 0.5 - y2 - 0.5)) AS DECIMAL(18,8)) AS d,
        |  CAST((LOG10((y1 + 0.5) / (n1 + CAST(v AS DOUBLE) * 0.5 - y1 - 0.5))
        |      - LOG10((y2 + 0.5) / (n2 + CAST(v AS DOUBLE) * 0.5 - y2 - 0.5)))
        |    / SQRT(1.0 / (y1 + 0.5) + 1.0 / (y2 + 0.5)) AS DECIMAL(18,8)) AS z
        |  FROM c, tt)
        |SELECT token, y1, y2, ROUND(CAST(d AS DOUBLE), 6) AS log_odds,
        |  ROUND(CAST(z AS DOUBLE), 6) AS zscore, rank
        |FROM (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY z DESC, token ASC) AS INT) AS rank
        |  FROM sc) WHERE rank <= 20""".stripMargin,

    "doc_heaps_fit" ->
      """WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        |toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |fs AS (SELECT token, MIN(doc_id) AS fd FROM toks GROUP BY 1),
        |tb AS (SELECT LEAST(9, (fd * 10) // (mx.mx + 1)) AS b, COUNT(*) AS nt
        |  FROM fs, mx GROUP BY 1),
        |wb AS (SELECT LEAST(9, (doc_id * 10) // (mx.mx + 1)) AS b,
        |  SUM(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> ''))) AS nw
        |  FROM documents, mx GROUP BY 1),
        |pts AS (SELECT b,
        |  SUM(COALESCE(nt, 0)) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_types,
        |  SUM(COALESCE(nw, 0)) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM tb FULL OUTER JOIN wb USING (b)),
        |q AS (SELECT CAST(LOG10(CAST(cum_tokens AS DOUBLE)) AS DECIMAL(18,8)) AS x,
        |             CAST(LOG10(CAST(cum_types AS DOUBLE)) AS DECIMAL(18,8)) AS y
        |  FROM pts WHERE cum_types > 0 AND cum_tokens > 0),
        |s AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |  CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx,
        |  CAST(SUM(y*y) AS DOUBLE) AS syy FROM q),
        |d AS (SELECT n, sx, sy, sxy, sxx, syy,
        |  CAST(n AS DOUBLE)*sxy - sx*sy AS num,
        |  CAST(n AS DOUBLE)*sxx - sx*sx AS denx,
        |  CAST(n AS DOUBLE)*syy - sy*sy AS deny FROM s),
        |sl AS (SELECT *, CASE WHEN sxy IS NULL OR denx = 0 THEN 0.0 ELSE num/denx END AS slope FROM d)
        |SELECT CAST(n AS BIGINT) AS n_ckpts,
        |  ROUND(slope, 6) AS beta,
        |  ROUND((sy - slope * sx) / CAST(n AS DOUBLE), 6) AS log10_k,
        |  ROUND(CASE WHEN denx = 0 OR deny = 0 THEN 0.0 ELSE num*num/(denx*deny) END, 6) AS r2
        |FROM sl""".stripMargin,

    "doc_js_divergence" -> {
      val head =
        """WITH toks AS (SELECT source AS src,
          |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
          |  FROM documents),
          |cnt AS (SELECT src, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
          |tot AS (SELECT src, SUM(c) AS n FROM cnt GROUP BY 1),
          |freq AS (SELECT cnt.src, token, CAST(c AS DOUBLE)/n AS p FROM cnt JOIN tot USING (src))
          |""".stripMargin
      head + JsdPairs.map { case (a, b) =>
        s"""SELECT '$a' AS src_a, '$b' AS src_b,
           |  CAST(COUNT(CASE WHEN pa > 0 AND pb > 0 THEN 1 END) AS BIGINT) AS n_common,
           |  ROUND(CAST(SUM(ta) + SUM(tb) AS DOUBLE) / 2, 8) AS jsd_nats
           |FROM (
           |  SELECT pa, pb,
           |    CASE WHEN pa > 0 THEN CAST(pa * ln((pa * 2) / (pa + pb)) AS DECIMAL(18,12))
           |         ELSE CAST(0 AS DECIMAL(18,12)) END AS ta,
           |    CASE WHEN pb > 0 THEN CAST(pb * ln((pb * 2) / (pa + pb)) AS DECIMAL(18,12))
           |         ELSE CAST(0 AS DECIMAL(18,12)) END AS tb
           |  FROM (SELECT COALESCE(fa.p, 0) AS pa, COALESCE(fb.p, 0) AS pb
           |    FROM (SELECT token, p FROM freq WHERE src = '$a') fa
           |    FULL OUTER JOIN (SELECT token, p FROM freq WHERE src = '$b') fb USING (token)))""".stripMargin
      }.mkString("\nUNION ALL\n")
    },

    // rule comparisons on the ROUNDED 4dp ratios in both engines — no ulp can flip a flag
    "doc_gopher_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n,
        |  CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bigrams
        |  FROM t),
        |top AS (SELECT doc_id, MAX(c) AS tb FROM (
        |  SELECT doc_id, u.bg, COUNT(*) AS c FROM base, unnest(base.bigrams) AS u(bg) GROUP BY 1, 2)
        |  GROUP BY doc_id),
        |m AS (SELECT b.doc_id, b.n AS n_words,
        |  CASE WHEN b.n > 0 THEN ROUND(CAST(list_aggregate(list_transform(b.toks, x -> len(x)), 'sum') AS DOUBLE) / b.n, 4) ELSE 0.0 END AS mean_word_len,
        |  CASE WHEN b.n > 0 THEN ROUND(CAST(len(list_filter(b.toks, x -> regexp_matches(x, '\p{L}'))) AS DOUBLE) / b.n, 4) ELSE 0.0 END AS alpha_frac,
        |  CASE WHEN b.n > 0 THEN ROUND((CAST(len(b.text) - len(replace(b.text, '#', '')) AS DOUBLE)
        |    + (len(b.text) - len(replace(b.text, '...', ''))) / 3.0) / b.n, 4) ELSE 0.0 END AS symbol_ratio,
        |  CAST(len(list_filter(b.toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'], x))) AS BIGINT) AS n_stop,
        |  CASE WHEN b.n > 1 THEN ROUND(COALESCE(t2.tb, 0) / CAST(b.n - 1 AS DOUBLE), 4) ELSE 0.0 END AS top_bigram_frac
        |  FROM base b LEFT JOIN top t2 ON b.doc_id = t2.doc_id)
        |SELECT *,
        |  (n_words >= 50 AND n_words <= 100000) AS wc_ok,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS mwl_ok,
        |  (alpha_frac >= 0.8) AS alpha_ok,
        |  (symbol_ratio <= 0.1) AS symbol_ok,
        |  (n_stop >= 2) AS stop_ok,
        |  (top_bigram_frac <= 0.18) AS bigram_ok,
        |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND alpha_frac >= 0.8 AND symbol_ratio <= 0.1 AND n_stop >= 2
        |   AND top_bigram_frac <= 0.18) AS pass
        |FROM m""".stripMargin,

    "doc_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bigrams
        |  FROM t),
        |bg AS (SELECT doc_id, u.bg AS bg, COUNT(*) AS c
        |  FROM base, unnest(base.bigrams) AS u(bg) GROUP BY 1, 2),
        |top AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM bg GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  CASE WHEN b.n_tokens > 0 THEN ROUND(b.n_distinct / CAST(b.n_tokens AS DOUBLE), 4) ELSE 0.0 END AS distinct_ratio,
        |  CASE WHEN b.n_tokens > 1 THEN ROUND(COALESCE(t2.top_bigram_n, 0) / CAST(b.n_tokens - 1 AS DOUBLE), 4) ELSE 0.0 END AS top_bigram_frac
        |FROM base b LEFT JOIN top t2 ON b.doc_id = t2.doc_id""".stripMargin,

    "doc_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT COUNT(*) AS total FROM toks)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(LOG10(CAST(f.cnt AS DOUBLE) / t2.total) AS DECIMAL(18,8))) AS DOUBLE)
        |    / COUNT(*), 4) AS avg_logprob
        |FROM toks t JOIN freq f USING (token) CROSS JOIN tot t2
        |GROUP BY t.doc_id""".stripMargin,

    // interpolated bigram LM: per-occurrence quantized log terms summed per doc — the
    // Spark side sums k * quantized(term) over distinct (doc,bigram), identical in
    // decimal arithmetic
    "doc_bigram_logprob" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS l
        |  FROM documents),
        |uni AS (SELECT unnest(l) AS w FROM toks),
        |ufreq AS (SELECT w, COUNT(*) AS cu FROM uni GROUP BY w),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM uni),
        |big AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(l)), i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS bg
        |  FROM toks WHERE len(l) >= 2),
        |bs AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
        |bfreq AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bs GROUP BY w1, w2)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(LOG10(
        |      (0.5 * (CAST(f.cb AS DOUBLE) / u1.cu)) + (0.5 * (CAST(u2.cu AS DOUBLE) / t.total))
        |    ) AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
        |FROM bs s JOIN bfreq f USING (w1, w2)
        |JOIN ufreq u1 ON s.w1 = u1.w JOIN ufreq u2 ON s.w2 = u2.w CROSS JOIN tot t
        |GROUP BY s.doc_id""".stripMargin,

    // interpolated Kneser-Ney bigram LM (D = 0.75): every model table folds off the
    // bigram-type table; operand order mirrors TextOps.knLogprob verbatim, constants
    // cast to DOUBLE so DuckDB never routes 0.75 through DECIMAL arithmetic
    "doc_kn_logprob" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS l
        |  FROM documents),
        |big AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(l)), i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS bg
        |  FROM toks WHERE len(l) >= 2),
        |bs AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
        |bfreq AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bs GROUP BY w1, w2),
        |ls AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1, CAST(COUNT(*) AS BIGINT) AS n1p
        |  FROM bfreq GROUP BY w1),
        |cs AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ct FROM bfreq GROUP BY w2),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM bfreq)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(LOG10(
        |      (GREATEST(CAST(f.cb AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE)) / ls.c1)
        |      + (((CAST(0.75 AS DOUBLE) * ls.n1p) / ls.c1) * (CAST(cs.ct AS DOUBLE) / t.ntypes))
        |    ) AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
        |FROM bs s JOIN bfreq f USING (w1, w2)
        |JOIN ls ON s.w1 = ls.w1 JOIN cs ON s.w2 = cs.w2 CROSS JOIN tot t
        |GROUP BY s.doc_id""".stripMargin,

    // CCNet head/middle/tail terciles per language: discrete rank rule over the 1e-4
    // score grid — integer comparisons only, no interpolation to drift cross-engine
    "doc_ccnet_buckets" ->
      """WITH toks AS (SELECT doc_id, lang,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT COUNT(*) AS total FROM toks),
        |perdoc AS (SELECT t.doc_id, t.lang,
        |    ROUND(CAST(SUM(CAST(LOG10(CAST(f.cnt AS DOUBLE) / t2.total) AS DECIMAL(18,8))) AS DOUBLE)
        |      / COUNT(*), 4) AS avg_logprob
        |  FROM toks t JOIN freq f USING (token) CROSS JOIN tot t2
        |  GROUP BY t.doc_id, t.lang),
        |grid AS (SELECT doc_id, lang, avg_logprob,
        |    CAST(round(avg_logprob * 10000) AS BIGINT) AS g FROM perdoc),
        |hist AS (SELECT lang, g, COUNT(*) AS c FROM grid GROUP BY lang, g),
        |cum AS (SELECT lang, g, SUM(c) OVER (PARTITION BY lang ORDER BY g) AS cum FROM hist),
        |n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM grid GROUP BY lang),
        |thr AS (SELECT c.lang,
        |    MIN(CASE WHEN c.cum >= CEIL(n.n / 3.0) THEN c.g END) AS t1,
        |    MIN(CASE WHEN c.cum >= CEIL((n.n * 2) / 3.0) THEN c.g END) AS t2
        |  FROM cum c JOIN n USING (lang) GROUP BY c.lang)
        |SELECT g.doc_id, g.lang, g.avg_logprob,
        |  CASE WHEN g.g > t.t2 THEN 'head' WHEN g.g > t.t1 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM grid g JOIN thr t USING (lang)""".stripMargin,

    // full NB replay: Laplace grid over vocab x label (LEFT join gives unseen-in-class
    // tokens their floor), decimal-quantized log terms, argmax by score DESC then label
    "doc_nb_langid" -> (nbReplayCte +
      """SELECT doc_id, lang, label AS pred_label, (label = lang) AS correct
        |FROM best WHERE rn = 1""".stripMargin),

    "doc_nb_confusion" -> (nbReplayCte +
      """SELECT lang, label AS pred_label, COUNT(*) AS n
        |FROM best WHERE rn = 1 GROUP BY 1, 2""".stripMargin),

    "doc_nb_prf" -> (nbReplayCte +
      """, cm AS (SELECT lang, label AS pred_label, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM best WHERE rn = 1 GROUP BY 1, 2),
        |act AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_act,
        |  CAST(SUM(CASE WHEN lang = pred_label THEN n ELSE 0 END) AS BIGINT) AS tp
        |  FROM cm GROUP BY 1),
        |prd AS (SELECT pred_label AS cls, CAST(SUM(n) AS BIGINT) AS n_pred FROM cm GROUP BY 1)
        |SELECT act.lang, act.tp, act.n_act, CAST(COALESCE(prd.n_pred, 0) AS BIGINT) AS n_pred,
        |  CASE WHEN COALESCE(prd.n_pred, 0) > 0
        |    THEN ROUND(CAST(act.tp AS DOUBLE) / prd.n_pred, 6) END AS prec,
        |  ROUND(CAST(act.tp AS DOUBLE) / act.n_act, 6) AS recall,
        |  ROUND(2.0 * act.tp / (COALESCE(prd.n_pred, 0) + act.n_act), 6) AS f1
        |FROM act LEFT JOIN prd ON act.lang = prd.cls""".stripMargin),

    "ev_psi" ->
      """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS c,
        |    (day(CAST(ts AS TIMESTAMP)) <= 15) AS h1
        |  FROM events WHERE value IS NOT NULL),
        |st AS (SELECT CAST(MIN(c) AS BIGINT) AS mn, CAST(MAX(c) AS BIGINT) AS mx FROM e),
        |b AS (SELECT ((c - mn) * 10) // (mx - mn + 1) AS bin, h1 FROM e, st),
        |g AS (SELECT bin, CAST(SUM(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN NOT h1 THEN 1 ELSE 0 END) AS BIGINT) AS n2 FROM b GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2,
        |  CAST(COUNT(*) AS BIGINT) AS nb FROM g),
        |terms AS (SELECT CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST((CAST(n1 AS DOUBLE)/t1 - CAST(n2 AS DOUBLE)/t2)
        |      * LN(CAST(n1 AS DOUBLE)/t1 / (CAST(n2 AS DOUBLE)/t2)) AS DECIMAL(18,12))
        |  END AS term FROM g, tt)
        |SELECT tt.t1 AS n_first_half, tt.t2 AS n_second_half, tt.nb AS n_bins,
        |  CAST(COUNT(term) AS BIGINT) AS n_bins_used,
        |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
        |FROM terms, tt GROUP BY 1, 2, 3""".stripMargin,

    "doc_uniform_take" ->
      """SELECT doc_id, CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
        |FROM documents ORDER BY h, doc_id LIMIT 100""".stripMargin,

    "doc_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    LN((CAST(CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS DOUBLE) + 1.0)
        |      / 1152921504606846976.0) / n_chars AS key
        |  FROM documents WHERE n_chars > 0)
        |ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,

    // replica of SampleOps.dsirSample: hashed unigram+bigram buckets (md5-60 % 256),
    // target(lang='en')-vs-raw Laplace log-ratio quantized to DECIMAL(18,8) per
    // bucket term, content-hash Gumbel key — term order mirrors the Spark plan
    "doc_dsir_sample" ->
      """WITH t AS (SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS l
        |  FROM documents),
        |uni AS (SELECT doc_id, lang, unnest(l) AS g FROM t),
        |bi AS (SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS g
        |  FROM t WHERE len(l) >= 2),
        |f AS (SELECT doc_id, lang,
        |    CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % 256 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |m AS (SELECT b,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(COUNT(*) AS BIGINT) AS cq
        |  FROM f GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cq) AS BIGINT) AS qq FROM m),
        |db AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
        |    SUM(CAST(CAST(c AS DOUBLE) *
        |      (LOG10(CAST(ct + 1 AS DOUBLE)) - LOG10(CAST(cq + 1 AS DOUBLE)))
        |      AS DECIMAL(18,8))) AS s
        |  FROM db JOIN m USING (b) GROUP BY 1),
        |w AS (SELECT doc_id, n_feats,
        |    CAST(s AS DOUBLE) + CAST(n_feats AS DOUBLE) *
        |      (LOG10(CAST(qq + 256 AS DOUBLE)) - LOG10(CAST(tt + 256 AS DOUBLE))) AS logw
        |  FROM d, tot),
        |g AS (SELECT w.doc_id, n_feats, logw,
        |    logw - LOG10(-LN((CAST(CAST('0x' || substring(md5(dd.text), 1, 15) AS BIGINT)
        |      AS DOUBLE) + 1.0) / 1152921504606846976.0)) AS gk
        |  FROM w JOIN documents dd ON w.doc_id = dd.doc_id)
        |SELECT doc_id, n_feats, ROUND(logw, 4) AS log10_w
        |FROM g ORDER BY gk DESC, doc_id LIMIT 100""".stripMargin,

    // the oracle brute-forces ALL n-gram lengths (O(n^2) per doc — fine at gate SF);
    // Spark binary-searches the monotone "has repeat of length L" predicate per doc
    "doc_longest_repeat" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |l AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
        |g AS (SELECT doc_id, CAST(r1.L AS INT) AS L,
        |    array_to_string(toks[s.s+1 : s.s+CAST(r1.L AS INT)], ' ') AS gram
        |  FROM l, unnest(range(1, n)) AS r1(L), unnest(range(0, n - r1.L + 1)) AS s(s)),
        |rep AS (SELECT doc_id, L, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
        |best AS (SELECT doc_id, MAX(L) AS rep_len FROM rep GROUP BY 1),
        |pick AS (SELECT r.doc_id, r.L AS rep_len, r.gram, r.cnt,
        |    ROW_NUMBER() OVER (PARTITION BY r.doc_id ORDER BY r.gram) AS rn
        |  FROM rep r JOIN best b ON r.doc_id = b.doc_id AND r.L = b.rep_len)
        |SELECT doc_id, CAST(rep_len AS INT) AS rep_len, gram AS rep_text,
        |  CAST(cnt AS BIGINT) AS n_occ
        |FROM pick WHERE rn = 1""".stripMargin,

    "doc_entropy" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY doc_id, token),
        |a AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  SUM(CAST(CAST(cnt AS DOUBLE) * LOG10(CAST(cnt AS DOUBLE)) AS DECIMAL(18,8))) AS s
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  ROUND(CAST(CAST(LOG10(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,8)) AS DOUBLE)
        |    - CAST(s AS DOUBLE) / n_tokens, 4) AS entropy10
        |FROM a""".stripMargin,

    "doc_normalize" ->
      """WITH noisy AS (SELECT doc_id,
        |  text || '  cafe' || chr(769) || chr(9) || '(x) ' AS text FROM documents),
        |n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |  '[\x00-\x08\x0b\x0e-\x1f\x7f]', '', 'g'), '[ \t\n\r\f]+', ' ', 'g')) AS norm FROM noisy)
        |SELECT doc_id, md5(norm) AS norm_md5, CAST(length(norm) AS BIGINT) AS n_chars_norm
        |FROM n""".stripMargin,

    "doc_chunk" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS start
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id, CAST(start // 8 AS INT) AS chunk_id,
        |  array_to_string(toks[start+1 : start+12], ' ') AS chunk_text,
        |  CAST(least(len(toks) - start, 12) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin,

    "doc_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
        |    ROUND(CAST(CAST(tf.tf * (LN(CAST(1 + n.n_docs AS DOUBLE) / (1 + df.df)) + 1.0)
        |      AS DECIMAL(18,8)) AS DOUBLE), 6) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token ASC) AS rank FROM s)
        |SELECT doc_id, token, tf, tfidf, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,

    "doc_langid" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','los','de','y','es','no'))) AS BIGINT) AS score_es
        |  FROM t)
        |SELECT doc_id, score_en, score_de, score_es,
        |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en > 0 THEN 'en'
        |       WHEN score_de >= score_es AND score_de > 0 THEN 'de'
        |       WHEN score_es > 0 THEN 'es' ELSE 'und' END AS lang_pred
        |FROM s""".stripMargin,

    "doc_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(length(text) AS DOUBLE) AS n_char,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) AS n_space
        |  FROM t)
        |SELECT doc_id,
        |  CAST(n_tok AS BIGINT) AS n_tokens,
        |  CASE WHEN n_tok > 0 THEN ROUND(n_char / n_tok, 4) ELSE 0.0 END AS mean_token_len,
        |  CASE WHEN n_char > 0 THEN ROUND(n_space / n_char, 4) ELSE 0.0 END AS space_ratio,
        |  CASE WHEN n_tok > 0 THEN ROUND(n_stop / n_tok, 4) ELSE 0.0 END AS stopword_ratio,
        |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score
        |FROM m""".stripMargin,

    "doc_quality_auc" ->
      """WITH t AS (SELECT doc_id, n_chars,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, n_chars, CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM t),
        |sc AS (SELECT
        |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS s,
        |  CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS label FROM m),
        |g AS (SELECT s, CAST(SUM(label) AS BIGINT) AS pos,
        |  CAST(COUNT(*) - SUM(label) AS BIGINT) AS neg FROM sc GROUP BY 1),
        |c AS (SELECT pos, neg, COALESCE(SUM(neg) OVER
        |  (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg FROM g)
        |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
        |  CAST(SUM(pos * (cumneg * 2 + neg)) AS BIGINT) AS numer2,
        |  ROUND(CAST(SUM(pos * (cumneg * 2 + neg)) AS DOUBLE)
        |    / (SUM(pos) * SUM(neg) * 2), 6) AS auc
        |FROM c""".stripMargin,

    // formula term order mirrors the Spark expression exactly (left-assoc a*b/c) so the
    // double bits agree before ROUND
    "doc_readability" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(GREATEST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')), 1) AS DOUBLE) AS w,
        |  CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS s,
        |  CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS DOUBLE) AS syl
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(w AS BIGINT) AS n_words,
        |  CAST(s AS BIGINT) AS n_sentences,
        |  CAST(syl AS BIGINT) AS n_syllables,
        |  ROUND(206.835 - 1.015 * w / s - 84.6 * syl / w, 4) AS flesch_ease,
        |  ROUND(0.39 * w / s + 11.8 * syl / w - 15.59, 4) AS fk_grade
        |FROM m""".stripMargin,

    "doc_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_bpe_est
        |FROM documents""".stripMargin,

    "emb_ann_topk" ->
      """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS sim
        |FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |WHERE q.vec_id < 8
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
        |           c.vec_id) <= 3""".stripMargin,

    // 3 unrolled fixed-point PageRank iterations over the replayed kNN edges — BIGINT
    // 1e-12 units with floor division, zero floating point
    "emb_pagerank" ->
      """WITH p AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id),
        |knn AS (SELECT src, dst FROM p
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY s DESC, dst) <= 4),
        |nodes AS (SELECT DISTINCT id FROM
        |  (SELECT src AS id FROM knn UNION ALL SELECT dst AS id FROM knn)),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM knn GROUP BY 1),
        |r0 AS (SELECT id, 1000000000000 // nn.n AS r FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT k.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
        |  FROM knn k JOIN r0 r ON r.id = k.src JOIN deg d ON d.src = k.src GROUP BY 1),
        |r1 AS (SELECT nodes.id, (150000000000 // nn.n) + ((85 * COALESCE(c.s, 0)) // 100) AS r
        |  FROM nodes LEFT JOIN c1 c ON c.dst = nodes.id CROSS JOIN nn),
        |c2 AS (SELECT k.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
        |  FROM knn k JOIN r1 r ON r.id = k.src JOIN deg d ON d.src = k.src GROUP BY 1),
        |r2 AS (SELECT nodes.id, (150000000000 // nn.n) + ((85 * COALESCE(c.s, 0)) // 100) AS r
        |  FROM nodes LEFT JOIN c2 c ON c.dst = nodes.id CROSS JOIN nn),
        |c3 AS (SELECT k.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
        |  FROM knn k JOIN r2 r ON r.id = k.src JOIN deg d ON d.src = k.src GROUP BY 1),
        |r3 AS (SELECT nodes.id, (150000000000 // nn.n) + ((85 * COALESCE(c.s, 0)) // 100) AS r
        |  FROM nodes LEFT JOIN c3 c ON c.dst = nodes.id CROSS JOIN nn)
        |SELECT id AS vec_id, CAST(r AS BIGINT) AS rank_e12 FROM r3""".stripMargin,

    "emb_mmr_exact" ->
      """WITH RECURSIVE
        |q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (1, 2, 3)),
        |cand AS (SELECT q.vec_id AS query_id, e.vec_id AS d,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS rel
        |  FROM embeddings e JOIN q ON e.vec_id <> q.vec_id
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY rel DESC, e.vec_id) <= 10),
        |ps AS (SELECT c1.query_id, c1.d AS d1, c2.d AS d2,
        |    list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]), CAST(e2.embedding AS DOUBLE[])) AS s
        |  FROM cand c1 JOIN cand c2 USING (query_id)
        |  JOIN embeddings e1 ON e1.vec_id = c1.d JOIN embeddings e2 ON e2.vec_id = c2.d
        |  WHERE c1.d <> c2.d),
        |sel AS (
        |  (SELECT query_id, 1 AS r, d, [d] AS chosen FROM cand
        |   QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, d) = 1)
        |  UNION ALL
        |  SELECT s.query_id, s.r + 1, pick.d, list_append(s.chosen, pick.d)
        |  FROM sel s, LATERAL (
        |    SELECT c.d
        |    FROM cand c
        |    WHERE c.query_id = s.query_id AND NOT list_contains(s.chosen, c.d)
        |    ORDER BY 0.7 * c.rel - 0.3 * (SELECT MAX(p.s) FROM ps p
        |      WHERE p.query_id = s.query_id AND p.d1 = c.d AND list_contains(s.chosen, p.d2)) DESC, c.d
        |    LIMIT 1) pick
        |  WHERE s.r < 5)
        |SELECT query_id, d AS vec_id, CAST(r AS INT) AS mmr_rank
        |FROM sel""".stripMargin,

    "emb_hits" ->
      """WITH p AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id),
        |knn AS (SELECT src, dst FROM p
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY s DESC, dst) <= 4),
        |nodes AS (SELECT DISTINCT id FROM
        |  (SELECT src AS id FROM knn UNION ALL SELECT dst AS id FROM knn)),
        |a1 AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS a FROM knn GROUP BY 1),
        |a1f AS (SELECT id, COALESCE(a, 0) AS a FROM nodes LEFT JOIN a1 ON a1.dst = nodes.id),
        |h1 AS (SELECT src, CAST(SUM(a) AS BIGINT) AS h FROM knn JOIN a1f ON a1f.id = knn.dst GROUP BY 1),
        |h1f AS (SELECT id, COALESCE(h, 0) AS h FROM nodes LEFT JOIN h1 ON h1.src = nodes.id),
        |a2 AS (SELECT dst, CAST(SUM(h) AS BIGINT) AS a FROM knn JOIN h1f ON h1f.id = knn.src GROUP BY 1),
        |a2f AS (SELECT id, COALESCE(a, 0) AS a FROM nodes LEFT JOIN a2 ON a2.dst = nodes.id),
        |h2 AS (SELECT src, CAST(SUM(a) AS BIGINT) AS h FROM knn JOIN a2f ON a2f.id = knn.dst GROUP BY 1),
        |h2f AS (SELECT id, COALESCE(h, 0) AS h FROM nodes LEFT JOIN h2 ON h2.src = nodes.id)
        |SELECT h2f.id AS vec_id, CAST(h2f.h AS BIGINT) AS hub, CAST(a2f.a AS BIGINT) AS auth
        |FROM h2f JOIN a2f ON a2f.id = h2f.id""".stripMargin,

    "doc_lsh_scurve" ->
      """WITH g AS (SELECT CAST(x AS DOUBLE) / 20 AS jaccard FROM range(1, 20) t(x)),
        |c AS (SELECT jaccard, jaccard*jaccard*jaccard*jaccard AS x4 FROM g),
        |y AS (SELECT jaccard, 1.0 - x4 AS y FROM c),
        |y2 AS (SELECT jaccard, y*y AS y2 FROM y),
        |y4 AS (SELECT jaccard, y2*y2 AS y4 FROM y2),
        |y8 AS (SELECT jaccard, y4*y4 AS y8 FROM y4),
        |y16 AS (SELECT jaccard, y8*y8 AS y16 FROM y8)
        |SELECT jaccard, 16 AS bands, 4 AS rows_per_band,
        |  ROUND(1.0 - y16, 6) AS p_candidate FROM y16""".stripMargin,

    "doc_yule_k" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  ROUND(10000.0 * (SUM(c*c) - SUM(c))
        |    / (CAST(SUM(c) AS DOUBLE) * SUM(c)), 6) AS yule_k
        |FROM c""".stripMargin,

    "doc_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM c),
        |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn FROM c),
        |cum AS (SELECT rn, CAST(SUM(c) OVER (ORDER BY rn
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS covered FROM r)
        |SELECT CAST(rn AS INT) AS vocab_k, covered,
        |  ROUND(CAST(covered AS DOUBLE) / t.t, 6) AS coverage
        |FROM cum, t WHERE rn IN (5, 10, 20, 30)""".stripMargin,

    "q_abc_class" ->
      """WITH pk AS (SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(SUM(v) AS BIGINT) AS t FROM pk),
        |c AS (SELECT v, t.t,
        |  CAST(SUM(v) OVER (ORDER BY v DESC, o_custkey ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum FROM pk, t),
        |cls AS (SELECT v, t,
        |  CASE WHEN cum * 5 <= t * 4 THEN 'A'
        |       WHEN cum * 20 <= t * 19 THEN 'B' ELSE 'C' END AS cls FROM c)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_cust, CAST(SUM(v) AS BIGINT) AS rev_cents,
        |  ROUND(CAST(SUM(v) AS DOUBLE) / MAX(t), 6) AS share
        |FROM cls GROUP BY 1""".stripMargin,

    "q_decile_lift" ->
      """WITH pk AS (SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS t FROM pk),
        |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC, o_custkey) AS rn FROM pk),
        |d AS (SELECT ((rn - 1) * 10) // n.n AS decile, v, n.t FROM r, n),
        |g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(v) AS BIGINT) AS rev_cents, CAST(MAX(t) AS BIGINT) AS t
        |  FROM d GROUP BY 1)
        |SELECT decile, n_cust, rev_cents,
        |  ROUND(CAST(rev_cents AS DOUBLE) / t, 6) AS share,
        |  ROUND(CAST(SUM(rev_cents) OVER (ORDER BY decile
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t, 6) AS cum_share
        |FROM g""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH links AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |sup AS (SELECT s_suppkey, s_name, CAST(s_acctbal AS DECIMAL(18,2)) AS acct,
        |    n.n_name AS nation
        |  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey WHERE r.r_name = 'AMERICA'),
        |cand AS (SELECT p.p_partkey, p.p_brand, sup.s_name, sup.nation, sup.acct
        |  FROM links JOIN part p ON links.l_partkey = p.p_partkey AND p.p_size = 15
        |  JOIN sup ON links.l_suppkey = sup.s_suppkey)
        |SELECT p_partkey, p_brand, s_name, nation, CAST(acct AS DOUBLE) AS acctbal
        |FROM cand c
        |WHERE acct = (SELECT MIN(acct) FROM cand c2 WHERE c2.p_partkey = c.p_partkey)"""
        .stripMargin,

    "ev_health_card" ->
      """WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err,
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'signup' THEN user_id END) AS BIGINT) AS ns,
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS np
        |  FROM events),
        |d AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u
        |  FROM events GROUP BY 1),
        |last AS (SELECT u AS dau_last_day FROM d ORDER BY d DESC LIMIT 1)
        |SELECT n_events, n_users, n_days, dau_last_day,
        |  ROUND(CAST(n_events AS DOUBLE) / n_users, 6) AS events_per_user,
        |  ROUND(CAST(err AS DOUBLE) / n_events, 6) AS error_rate,
        |  ROUND(CAST(np AS DOUBLE) / ns, 6) AS signup_to_purchase
        |FROM base, last""".stripMargin,

    "ev_percentile_cont" ->
      """WITH v AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |hist AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cnt,
        |  SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  SUM(cnt) OVER (PARTITION BY event_type) AS n FROM hist),
        |a AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cum >= ((n-1)*50)//100 + 1 THEN c END) AS BIGINT) AS v1_50,
        |  CAST(MIN(CASE WHEN cum >= LEAST(((n-1)*50)//100 + 2, n) THEN c END) AS BIGINT) AS v2_50,
        |  CAST(MIN(CASE WHEN cum >= (50*n + 99)//100 THEN c END) AS BIGINT) AS disc_50,
        |  CAST(MAX(((n-1)*50) % 100) AS BIGINT) AS rem_50,
        |  CAST(MIN(CASE WHEN cum >= ((n-1)*90)//100 + 1 THEN c END) AS BIGINT) AS v1_90,
        |  CAST(MIN(CASE WHEN cum >= LEAST(((n-1)*90)//100 + 2, n) THEN c END) AS BIGINT) AS v2_90,
        |  CAST(MIN(CASE WHEN cum >= (90*n + 99)//100 THEN c END) AS BIGINT) AS disc_90,
        |  CAST(MAX(((n-1)*90) % 100) AS BIGINT) AS rem_90,
        |  CAST(MIN(CASE WHEN cum >= ((n-1)*99)//100 + 1 THEN c END) AS BIGINT) AS v1_99,
        |  CAST(MIN(CASE WHEN cum >= LEAST(((n-1)*99)//100 + 2, n) THEN c END) AS BIGINT) AS v2_99,
        |  CAST(MIN(CASE WHEN cum >= (99*n + 99)//100 THEN c END) AS BIGINT) AS disc_99,
        |  CAST(MAX(((n-1)*99) % 100) AS BIGINT) AS rem_99
        |  FROM cum GROUP BY 1)
        |SELECT event_type, n, 50 AS p, disc_50 AS disc_e4,
        |  v1_50*100 + (v2_50-v1_50)*rem_50 AS cont_e6 FROM a
        |UNION ALL SELECT event_type, n, 90, disc_90,
        |  v1_90*100 + (v2_90-v1_90)*rem_90 FROM a
        |UNION ALL SELECT event_type, n, 99, disc_99,
        |  v1_99*100 + (v2_99-v1_99)*rem_99 FROM a""".stripMargin,

    "ev_iqr_outliers" ->
      """WITH v AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |hist AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cnt,
        |  SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  SUM(cnt) OVER (PARTITION BY event_type) AS tot FROM hist),
        |f AS (SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cum >= (tot + 3) // 4 THEN c END) AS BIGINT) AS q1,
        |  CAST(MIN(CASE WHEN cum >= (3 * tot + 3) // 4 THEN c END) AS BIGINT) AS q3
        |  FROM cum GROUP BY 1)
        |SELECT h.event_type, f.n, f.q1 AS q1_e4, f.q3 AS q3_e4,
        |  CAST(SUM(CASE WHEN h.c * 2 < f.q1 * 5 - f.q3 * 3
        |    OR h.c * 2 > f.q3 * 5 - f.q1 * 3 THEN h.cnt ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM hist h JOIN f ON h.event_type = f.event_type
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // NOT EXISTS, not NOT IN (ADVICE r7): NOT IN diverges from the Spark side's
    // left_anti when keys are NULL (a NULL child key makes NOT IN evaluate to NULL and
    // a NULL in the parent set zeroes the orphan count); NOT EXISTS with an equality
    // correlate matches anti-join semantics exactly, NULLs included.
    "q_fk_audit" ->
      """SELECT 'lineitem->orders' AS relation,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE l.l_orderkey = o.o_orderkey)) AS n_orphans
        |UNION ALL SELECT 'lineitem->part',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM part p WHERE l.l_partkey = p.p_partkey))
        |UNION ALL SELECT 'lineitem->supplier',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE l.l_suppkey = s.s_suppkey))
        |UNION ALL SELECT 'orders->customer',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE o.o_custkey = c.c_custkey))
        |UNION ALL SELECT 'customer->nation',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE c.c_nationkey = n.n_nationkey))""".stripMargin,

    "q_value_histogram" ->
      """WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM orders),
        |st AS (SELECT CAST(MIN(c) AS BIGINT) AS mn, CAST(MAX(c) AS BIGINT) AS mx FROM v)
        |SELECT ((c - mn) * 20) // (mx - mn + 1) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  mn AS min_cents, mx AS max_cents
        |FROM v, st GROUP BY 1, 3, 4""".stripMargin,

    "q_corr_matrix" ->
      """WITH l AS (SELECT
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2,
        |  CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT) AS x3 FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x2) AS DOUBLE) AS s2,
        |  CAST(SUM(x3) AS DOUBLE) AS s3,
        |  CAST(SUM(x1*x1) AS DOUBLE) AS q1, CAST(SUM(x2*x2) AS DOUBLE) AS q2,
        |  CAST(SUM(x3*x3) AS DOUBLE) AS q3,
        |  CAST(SUM(x1*x2) AS DOUBLE) AS p12, CAST(SUM(x1*x3) AS DOUBLE) AS p13,
        |  CAST(SUM(x2*x3) AS DOUBLE) AS p23 FROM l)
        |SELECT 'quantity~extendedprice' AS pair,
        |  ROUND((n*p12 - s1*s2)/(sqrt(n*q1 - s1*s1)*sqrt(n*q2 - s2*s2)), 6) AS r FROM m
        |UNION ALL SELECT 'quantity~discount',
        |  ROUND((n*p13 - s1*s3)/(sqrt(n*q1 - s1*s1)*sqrt(n*q3 - s3*s3)), 6) FROM m
        |UNION ALL SELECT 'extendedprice~discount',
        |  ROUND((n*p23 - s2*s3)/(sqrt(n*q2 - s2*s2)*sqrt(n*q3 - s3*s3)), 6) FROM m""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin,

    // generated 16-round peel unroll; exact-integer threshold and argmax
    "q_basket_densest" -> densestOracle,

    // the unrolled 8-round truss peel: per round, support(a,b) = common-neighbor
    // count over the symmetric closure (the same number the oriented kernel counts),
    // then the >= k-2 filter; MATERIALIZED for the kcore oracle's inlining reason
    "q_basket_ktruss" -> {
      val rounds = (0 until 8).map { r =>
        s"""sym$r AS MATERIALIZED (SELECT a AS u, b AS v FROM e$r UNION ALL SELECT b, a FROM e$r),
           |s$r AS MATERIALIZED (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS sup
           |  FROM e$r e JOIN sym$r s1 ON s1.u = e.a JOIN sym$r s2 ON s2.u = e.b AND s2.v = s1.v
           |  GROUP BY 1, 2),
           |e${r + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$r e
           |  JOIN s$r s ON s.a = e.a AND s.b = e.b WHERE s.sup >= 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e0 AS MATERIALIZED (SELECT a.pk AS a, b.pk AS b FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |$rounds,
         |symf AS (SELECT a AS u, b AS v FROM e8 UNION ALL SELECT b, a FROM e8),
         |sf AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS sup
         |  FROM e8 e JOIN symf s1 ON s1.u = e.a JOIN symf s2 ON s2.u = e.b AND s2.v = s1.v
         |  GROUP BY 1, 2)
         |SELECT e.a, e.b, COALESCE(sf.sup, 0) AS support
         |FROM e8 e LEFT JOIN sf ON sf.a = e.a AND sf.b = e.b""".stripMargin
    },

    "q_basket_kcore" ->
      // AS MATERIALIZED throughout: each unrolled round references the previous round
      // THREE times (k_i once, the two semi-join sides once each); DuckDB inlines
      // plain CTEs, so an 8-round unroll re-plans the base scan 3^8 times and dies on
      // "Too many open files" — materialization makes each round compute once.
      """WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |u0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |k1 AS MATERIALIZED (SELECT u FROM u0 GROUP BY 1 HAVING COUNT(*) >= 2),
        |u1 AS MATERIALIZED (SELECT a.u, a.v FROM u0 a JOIN k1 x ON a.u = x.u JOIN k1 y ON a.v = y.u),
        |k2 AS MATERIALIZED (SELECT u FROM u1 GROUP BY 1 HAVING COUNT(*) >= 2),
        |u2 AS MATERIALIZED (SELECT a.u, a.v FROM u1 a JOIN k2 x ON a.u = x.u JOIN k2 y ON a.v = y.u),
        |k3 AS MATERIALIZED (SELECT u FROM u2 GROUP BY 1 HAVING COUNT(*) >= 2),
        |u3 AS MATERIALIZED (SELECT a.u, a.v FROM u2 a JOIN k3 x ON a.u = x.u JOIN k3 y ON a.v = y.u),
        |k4 AS MATERIALIZED (SELECT u FROM u3 GROUP BY 1 HAVING COUNT(*) >= 2),
        |u4 AS MATERIALIZED (SELECT a.u, a.v FROM u3 a JOIN k4 x ON a.u = x.u JOIN k4 y ON a.v = y.u),
        |k5 AS MATERIALIZED (SELECT u FROM u4 GROUP BY 1 HAVING COUNT(*) >= 2),
        |u5 AS MATERIALIZED (SELECT a.u, a.v FROM u4 a JOIN k5 x ON a.u = x.u JOIN k5 y ON a.v = y.u),
        |k6 AS MATERIALIZED (SELECT u FROM u5 GROUP BY 1 HAVING COUNT(*) >= 2),
        |u6 AS MATERIALIZED (SELECT a.u, a.v FROM u5 a JOIN k6 x ON a.u = x.u JOIN k6 y ON a.v = y.u),
        |k7 AS MATERIALIZED (SELECT u FROM u6 GROUP BY 1 HAVING COUNT(*) >= 2),
        |u7 AS MATERIALIZED (SELECT a.u, a.v FROM u6 a JOIN k7 x ON a.u = x.u JOIN k7 y ON a.v = y.u),
        |k8 AS MATERIALIZED (SELECT u FROM u7 GROUP BY 1 HAVING COUNT(*) >= 2),
        |u8 AS MATERIALIZED (SELECT a.u, a.v FROM u7 a JOIN k8 x ON a.u = x.u JOIN k8 y ON a.v = y.u)
        |SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS degree FROM u8 GROUP BY 1""".stripMargin,

    // min-label propagation with pointer jumping (shortcut + hook-by-min): each round
    // takes the min over (own label, neighbor labels, label-of-label). The measured
    // fixpoint depth of this recurrence on the co-purchase graph is 8 rounds at
    // sf0.01 / 7 at sf0.1 / 3 at sf0.001; 12 unrolled rounds give margin, and the
    // Spark side is a VERIFIED fixed point (endpoint-agreement assertion), so if
    // this unroll ever under-converges at a future SF the gate fails LOUDLY with a
    // hash mismatch — it can never silently co-converge on a wrong answer.
    "q_basket_components" -> ccStarOracle(rounds = 12),

    // incremental CC must land on the one-shot batch answer — same oracle
    "q_components_incremental" -> ccStarOracle(rounds = 12),

    "q_window_suite" ->
      """SELECT o_orderkey, o_orderpriority,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  ROUND(percent_rank() OVER w, 6) AS pr,
        |  ROUND(cume_dist() OVER w, 6) AS cd,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
        |  CAST(COUNT(*) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)""".stripMargin,

    "q_basket_lift" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |nb AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM pp),
        |item AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM pp GROUP BY 1),
        |pr AS (SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT pr.part_a, pr.part_b, pr.n_ab, ia.c AS n_a, ib.c AS n_b,
        |  ROUND(CAST(pr.n_ab AS DOUBLE) * nb.n / (ia.c * ib.c), 6) AS lift,
        |  ROUND(CAST(pr.n_ab AS DOUBLE) / ia.c, 6) AS confidence
        |FROM pr JOIN item ia ON pr.part_a = ia.pk
        |JOIN item ib ON pr.part_b = ib.pk CROSS JOIN nb""".stripMargin,

    "ev_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |slopes AS (SELECT CAST(b.y - a.y AS DOUBLE) / (b.d - a.d) AS slope
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM slopes),
        |ranked AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn FROM slopes)
        |SELECT n.n AS n_pairs,
        |  ROUND((SUM(slope) / COUNT(*)) / 10000.0, 6) AS slope_per_day
        |FROM ranked, n
        |WHERE rn = (n.n + 1) // 2 OR rn = (n.n + 2) // 2
        |GROUP BY 1""".stripMargin,

    "ev_mann_kendall" ->
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        |sg AS (SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |ties AS (SELECT CAST(COALESCE(SUM(t*(t-1)*(t*2+5)), 0) AS BIGINT) AS tsum FROM
        |  (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y)),
        |v AS (SELECT n.n_days, sg.s,
        |  CAST(n.n_days*(n.n_days-1)*(n.n_days*2+5) - ties.tsum AS BIGINT) AS var18
        |  FROM n, sg, ties)
        |SELECT n_days, s, var18,
        |  ROUND(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / SQRT(var18 / 18.0)
        |             WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / SQRT(var18 / 18.0)
        |             ELSE 0.0 END, 6) AS z
        |FROM v""".stripMargin,

    "ev_kendall_tau" ->
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        |sg AS (SELECT CAST(SUM(
        |    (CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)
        |  * (CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)) AS BIGINT) AS s_tau
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |tx AS (SELECT CAST(COALESCE(SUM(t*(t-1)), 0) AS BIGINT) AS tx2
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x)),
        |ty AS (SELECT CAST(COALESCE(SUM(t*(t-1)), 0) AS BIGINT) AS ty2
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y))
        |SELECT n.n_days, sg.s_tau, tx.tx2, ty.ty2,
        |  ROUND(CAST(sg.s_tau AS DOUBLE)
        |    / SQRT(CAST(n.n_days*(n.n_days-1) - tx.tx2 AS DOUBLE) / 2.0
        |      * (CAST(n.n_days*(n.n_days-1) - ty.ty2 AS DOUBLE) / 2.0)), 6) AS tau_b
        |FROM n, sg, tx, ty""".stripMargin,

    "ev_spearman" ->
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |rx AS (SELECT d, CAST(RANK() OVER (ORDER BY x) * 2 - 2
        |  + COUNT(*) OVER (PARTITION BY x) + 1 AS BIGINT) AS r2x FROM daily),
        |ry AS (SELECT d, CAST(RANK() OVER (ORDER BY y) * 2 - 2
        |  + COUNT(*) OVER (PARTITION BY y) + 1 AS BIGINT) AS r2y FROM daily),
        |r AS (SELECT rx.d, rx.r2x, ry.r2y FROM rx JOIN ry ON rx.d = ry.d),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r2x) AS BIGINT) AS sx,
        |  CAST(SUM(r2y) AS BIGINT) AS sy FROM r),
        |u AS (SELECT CAST(tot.n * r2x - tot.sx AS BIGINT) AS ux,
        |  CAST(tot.n * r2y - tot.sy AS BIGINT) AS uy FROM r, tot),
        |m AS (SELECT CAST(SUM(ux*uy) AS BIGINT) AS sxy, CAST(SUM(ux*ux) AS BIGINT) AS sxx,
        |  CAST(SUM(uy*uy) AS BIGINT) AS syy FROM u)
        |SELECT tot.n AS n_days, m.sxy,
        |  ROUND(CAST(m.sxy AS DOUBLE) / SQRT(CAST(m.sxx AS DOUBLE) * CAST(m.syy AS DOUBLE)), 6) AS rho
        |FROM m, tot""".stripMargin,

    "ev_pettitt" ->
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        |rk AS (SELECT d, CAST(RANK() OVER (ORDER BY y) * 2 - 2
        |    + COUNT(*) OVER (PARTITION BY y) + 1 AS BIGINT) AS r2 FROM daily),
        |u AS (SELECT d, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i,
        |  CAST(SUM(r2) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM rk),
        |uu AS (SELECT n.n_days, u.d, CAST(u.cum - u.i * (n.n_days + 1) AS BIGINT) AS uv
        |  FROM u, n WHERE u.i < n.n_days),
        |best AS (SELECT n_days, d AS change_d, CAST(ABS(uv) AS BIGINT) AS k_abs
        |  FROM uu ORDER BY ABS(uv) DESC, d LIMIT 1)
        |SELECT n_days, change_d, k_abs,
        |  CAST((6 * k_abs * k_abs * 1000000) // (n_days*n_days*n_days + n_days*n_days) AS BIGINT) AS neg_log_e6,
        |  ROUND(EXP(-(CAST((6 * k_abs * k_abs * 1000000) // (n_days*n_days*n_days + n_days*n_days) AS BIGINT) / 1000000.0)), 6) AS p_value
        |FROM best""".stripMargin,

    "ev_kruskal_wallis" ->
      """WITH sc AS (SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS s, event_type AS g
        |  FROM events WHERE value IS NOT NULL),
        |gc AS (SELECT s, g, CAST(COUNT(*) AS BIGINT) AS c FROM sc GROUP BY 1, 2),
        |ps AS (SELECT s, CAST(SUM(c) AS BIGINT) AS t FROM gc GROUP BY 1),
        |rk AS (SELECT s, t, CAST(COALESCE(SUM(t) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + t + 1 AS BIGINT) AS r2 FROM ps),
        |pg AS (SELECT gc.g, CAST(SUM(gc.c) AS BIGINT) AS ng,
        |  CAST(SUM(CAST(gc.c AS DECIMAL(38,0)) * rk.r2) AS DECIMAL(38,0)) AS r2sum
        |  FROM gc JOIN rk ON gc.s = rk.s GROUP BY 1),
        |tm AS (SELECT CAST(SUM(CAST(t AS DECIMAL(38,0))*t*t - t) AS DECIMAL(38,0)) AS tie3,
        |  CAST(SUM(t) AS BIGINT) AS n FROM ps),
        |terms AS (SELECT g, ng,
        |  CAST(CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE) / (4.0 * ng) AS DECIMAL(38,6)) AS term FROM pg),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(term) AS tt FROM terms)
        |SELECT tm.n, agg.k, CAST(tm.tie3 AS BIGINT) AS tie3,
        |  ROUND(12.0 * CAST(agg.tt AS DOUBLE) / tm.n / (tm.n + 1) - 3.0 * (tm.n + 1), 6) AS h,
        |  ROUND((12.0 * CAST(agg.tt AS DOUBLE) / tm.n / (tm.n + 1) - 3.0 * (tm.n + 1))
        |    / (1.0 - CAST(tm.tie3 AS DOUBLE) / (CAST(tm.n AS DOUBLE) * tm.n * tm.n - tm.n)), 6) AS h_corrected
        |FROM agg, tm""".stripMargin,

    "ev_ccf" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |  CAST(SUM(y) AS BIGINT) AS sy FROM daily),
        |u AS (SELECT day, CAST(tot.n * x - tot.sx AS BIGINT) AS ux,
        |  CAST(tot.n * y - tot.sy AS BIGINT) AS uy FROM daily, tot),
        |leads AS (SELECT ux, uy,
        |  lead(ux, 1) OVER (ORDER BY day) AS ux1, lead(ux, 2) OVER (ORDER BY day) AS ux2,
        |  lead(ux, 3) OVER (ORDER BY day) AS ux3, lead(ux, 4) OVER (ORDER BY day) AS ux4,
        |  lead(ux, 5) OVER (ORDER BY day) AS ux5, lead(ux, 6) OVER (ORDER BY day) AS ux6,
        |  lead(ux, 7) OVER (ORDER BY day) AS ux7,
        |  lead(uy, 1) OVER (ORDER BY day) AS uy1, lead(uy, 2) OVER (ORDER BY day) AS uy2,
        |  lead(uy, 3) OVER (ORDER BY day) AS uy3, lead(uy, 4) OVER (ORDER BY day) AS uy4,
        |  lead(uy, 5) OVER (ORDER BY day) AS uy5, lead(uy, 6) OVER (ORDER BY day) AS uy6,
        |  lead(uy, 7) OVER (ORDER BY day) AS uy7 FROM u),
        |den AS (SELECT CAST(SUM(ux * ux) AS BIGINT) AS dx, CAST(SUM(uy * uy) AS BIGINT) AS dy FROM u),
        |pr AS (
        |  SELECT -7 AS lag, uy * ux7 AS prod FROM leads UNION ALL
        |  SELECT -6, uy * ux6 FROM leads UNION ALL
        |  SELECT -5, uy * ux5 FROM leads UNION ALL
        |  SELECT -4, uy * ux4 FROM leads UNION ALL
        |  SELECT -3, uy * ux3 FROM leads UNION ALL
        |  SELECT -2, uy * ux2 FROM leads UNION ALL
        |  SELECT -1, uy * ux1 FROM leads UNION ALL
        |  SELECT 0, ux * uy FROM leads UNION ALL
        |  SELECT 1, ux * uy1 FROM leads UNION ALL
        |  SELECT 2, ux * uy2 FROM leads UNION ALL
        |  SELECT 3, ux * uy3 FROM leads UNION ALL
        |  SELECT 4, ux * uy4 FROM leads UNION ALL
        |  SELECT 5, ux * uy5 FROM leads UNION ALL
        |  SELECT 6, ux * uy6 FROM leads UNION ALL
        |  SELECT 7, ux * uy7 FROM leads)
        |SELECT lag, num, ROUND(CAST(num AS DOUBLE) / SQRT(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) AS ccf
        |FROM (SELECT lag, CAST(SUM(prod) AS BIGINT) AS num FROM pr GROUP BY 1), den""".stripMargin,

    "q_basket_bfs" ->
      """WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |hubs AS (SELECT u AS id FROM (SELECT u, COUNT(*) AS deg FROM sym GROUP BY 1) t
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY deg DESC, u) <= 5),
        |d0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS dist FROM hubs),
        |n1 AS (SELECT DISTINCT e.v AS id FROM sym e JOIN d0 ON d0.id = e.u),
        |d1 AS MATERIALIZED (SELECT * FROM d0 UNION ALL
        |  SELECT n1.id, CAST(1 AS BIGINT) FROM n1 LEFT JOIN d0 ON d0.id = n1.id WHERE d0.id IS NULL),
        |f1 AS (SELECT id FROM d1 WHERE dist = 1),
        |n2 AS (SELECT DISTINCT e.v AS id FROM sym e JOIN f1 ON f1.id = e.u),
        |d2 AS MATERIALIZED (SELECT * FROM d1 UNION ALL
        |  SELECT n2.id, CAST(2 AS BIGINT) FROM n2 LEFT JOIN d1 ON d1.id = n2.id WHERE d1.id IS NULL),
        |f2 AS (SELECT id FROM d2 WHERE dist = 2),
        |n3 AS (SELECT DISTINCT e.v AS id FROM sym e JOIN f2 ON f2.id = e.u),
        |d3 AS MATERIALIZED (SELECT * FROM d2 UNION ALL
        |  SELECT n3.id, CAST(3 AS BIGINT) FROM n3 LEFT JOIN d2 ON d2.id = n3.id WHERE d2.id IS NULL),
        |f3 AS (SELECT id FROM d3 WHERE dist = 3),
        |n4 AS (SELECT DISTINCT e.v AS id FROM sym e JOIN f3 ON f3.id = e.u),
        |d4 AS MATERIALIZED (SELECT * FROM d3 UNION ALL
        |  SELECT n4.id, CAST(4 AS BIGINT) FROM n4 LEFT JOIN d3 ON d3.id = n4.id WHERE d3.id IS NULL)
        |SELECT id, dist FROM d4""".stripMargin,

    "q_item_cf" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |item AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM pp GROUP BY 1),
        |pr AS (SELECT a.pk AS pa, b.pk AS pb, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT pa AS part_a, pb AS part_b, n_ab FROM pr
        |  UNION ALL SELECT pb, pa, n_ab FROM pr),
        |sc AS (SELECT s.part_a, s.part_b, s.n_ab, ia.c AS n_a, ib.c AS n_b,
        |  CAST((s.n_ab * s.n_ab * 1000000) // (ia.c * ib.c) AS BIGINT) AS score_e6
        |  FROM sym s JOIN item ia ON s.part_a = ia.pk JOIN item ib ON s.part_b = ib.pk)
        |SELECT part_a, part_b, n_ab, n_a, n_b, score_e6 FROM sc
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY part_a ORDER BY score_e6 DESC, part_b) <= 3""".stripMargin,

    "q_basket_triples" ->
      """WITH pp AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS pk
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT a.pk AS brand_a, b.pk AS brand_b, c.pk AS brand_c, CAST(COUNT(*) AS BIGINT) AS n_abc
        |FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
        |JOIN pp c ON b.ok = c.ok AND b.pk < c.pk
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 20""".stripMargin,

    "q_er_part_names" ->
      """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
        |b AS (SELECT name, split_part(name, ' ', 1) AS blk FROM names)
        |SELECT a.name AS name_a, b2.name AS name_b,
        |  ROUND(jaro_winkler_similarity(a.name, b2.name), 4) AS sim
        |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name
        |WHERE jaro_winkler_similarity(a.name, b2.name) >= 0.84""".stripMargin,

    // id-ordered triangle replay of the degree-ordered Spark plan (the count is
    // orientation-invariant)
    "q_basket_triangles" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS u, b.pk AS v FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
        |  (SELECT n_tri FROM tri) AS n_triangles,
        |  (SELECT CAST(CAST(3.0 * n_tri / (SELECT SUM(d * (d - 1) // 2) FROM deg)
        |     AS DECIMAL(18,8)) AS DOUBLE) FROM tri) AS clustering""".stripMargin,

    "q_basket_triangles_capped" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |gs AS (SELECT ok, CAST(COUNT(*) AS BIGINT) AS n FROM pp GROUP BY 1),
        |keep AS (SELECT pp.ok, pp.pk FROM pp JOIN gs USING (ok) WHERE gs.n <= 5),
        |e AS (SELECT a.pk AS u, b.pk AS v FROM keep a JOIN keep b ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
        |  (SELECT n_tri FROM tri) AS n_triangles,
        |  (SELECT CAST(CAST(3.0 * n_tri / (SELECT SUM(d * (d - 1) // 2) FROM deg)
        |     AS DECIMAL(18,8)) AS DOUBLE) FROM tri) AS clustering,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM gs WHERE n > 5) AS n_dropped_groups,
        |  CAST(5 AS INT) AS group_cap""".stripMargin,

    "q_basket_communities" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS u, b.pk AS v FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |und AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
        |r1 AS (SELECT und.a, l0.label, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM und JOIN l0 ON l0.node = und.b GROUP BY 1, 2),
        |l1 AS (SELECT a AS node, label FROM r1
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, label) = 1),
        |r2 AS (SELECT und.a, l1.label, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM und JOIN l1 ON l1.node = und.b GROUP BY 1, 2),
        |l2 AS (SELECT a AS node, label FROM r2
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, label) = 1),
        |r3 AS (SELECT und.a, l2.label, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM und JOIN l2 ON l2.node = und.b GROUP BY 1, 2),
        |l3 AS (SELECT a AS node, label FROM r3
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, label) = 1)
        |SELECT node, label AS community FROM l3""".stripMargin,

    "emb_knn_graph" ->
      """WITH p AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id),
        |knn AS (SELECT src, dst, s FROM p
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY s DESC, dst) <= 4)
        |SELECT k.src, k.dst, ROUND(k.s, 4) AS sim, (r.src IS NOT NULL) AS mutual
        |FROM knn k LEFT JOIN knn r ON r.src = k.dst AND r.dst = k.src""".stripMargin,

    "emb_knn_graph_ivf" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(GREATEST(8, COUNT(*) // 64) AS INT) AS n_cells,
        |  TRUE AS occupancy_ok, TRUE AS bounded_ok, TRUE AS recall_ok
        |FROM embeddings""".stripMargin,

    "emb_components_ivf" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  TRUE AS labeled_ok, TRUE AS minimal_ok, TRUE AS verify_pass_ok
        |FROM embeddings""".stripMargin,

    "emb_pagerank_ivf" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, TRUE AS nodes_ok,
        |  TRUE AS mass_ok, TRUE AS floor_ok
        |FROM embeddings""".stripMargin,

    "emb_hits_ivf" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, TRUE AS nodes_ok,
        |  TRUE AS pos_ok, TRUE AS bound_ok
        |FROM embeddings""".stripMargin,

    "emb_graph_search_ivf" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
        |  TRUE AS bounded_ok
        |FROM embeddings WHERE vec_id < 16""".stripMargin,

    // full replay of the 2-layer greedy walk: entry reps seed the beam -> 4 unrolled
    // expand-and-keep-beam-8 hops over the global exact k=8 NN graph; deterministic
    // because sims are compared raw (both engines compute the identical double) and
    // ties break on node id. The knn prefix ranks top-9 PER UNIQUE VECTOR and
    // re-ranks per src after dropping the self row — exactly equivalent to the
    // naive all-pairs window (at most ONE candidate, the src itself, is excluded
    // per src, so the top-8-excluding-self is a prefix of the top-9), but the
    // window sorts |unique| x N pairs instead of N^2: at sf1 (GenScale replicates
    // embeddings verbatim) that is 10x fewer pairs, which is what keeps the
    // DuckDB side runnable — equivalence proven row-identical at sf0.01
    "emb_graph_search" ->
      """WITH uv AS (SELECT embedding, MIN(vec_id) AS rep FROM embeddings GROUP BY embedding),
        |p9 AS (
        |  SELECT u.rep, b.vec_id AS dst,
        |    list_cosine_similarity(CAST(u.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM uv u JOIN embeddings b ON true),
        |k9 AS (SELECT rep, dst, s FROM p9
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY rep ORDER BY s DESC, dst) <= 9),
        |knn AS (SELECT src, dst FROM (
        |  SELECT a.vec_id AS src, k.dst, k.s FROM embeddings a
        |  JOIN uv u ON a.embedding = u.embedding
        |  JOIN k9 k ON k.rep = u.rep AND k.dst <> a.vec_id
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY k.s DESC, k.dst) <= 8)),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 16),
        |ev AS (SELECT vec_id AS node_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |reps AS (SELECT MIN(vec_id) AS node_id FROM embeddings GROUP BY label),
        |s0 AS (SELECT q.query_id, r.node_id, list_cosine_similarity(q.qv, ev.nv) AS s
        |  FROM q CROSS JOIN reps r JOIN ev ON ev.node_id = r.node_id),
        |v0 AS (SELECT query_id, node_id FROM s0
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) <= 8),
        |c1 AS (SELECT DISTINCT query_id, node_id FROM (
        |    SELECT query_id, node_id FROM v0
        |    UNION ALL SELECT v0.query_id, k.dst AS node_id FROM v0 JOIN knn k ON k.src = v0.node_id
        |  ) u),
        |s1 AS (SELECT c.query_id, c.node_id, list_cosine_similarity(q.qv, ev.nv) AS s
        |  FROM c1 c JOIN q USING (query_id) JOIN ev USING (node_id)),
        |v1 AS (SELECT query_id, node_id FROM s1
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) <= 8),
        |c2 AS (SELECT DISTINCT query_id, node_id FROM (
        |    SELECT query_id, node_id FROM v1
        |    UNION ALL SELECT v1.query_id, k.dst AS node_id FROM v1 JOIN knn k ON k.src = v1.node_id
        |  ) u),
        |s2 AS (SELECT c.query_id, c.node_id, list_cosine_similarity(q.qv, ev.nv) AS s
        |  FROM c2 c JOIN q USING (query_id) JOIN ev USING (node_id)),
        |v2 AS (SELECT query_id, node_id FROM s2
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) <= 8),
        |c3 AS (SELECT DISTINCT query_id, node_id FROM (
        |    SELECT query_id, node_id FROM v2
        |    UNION ALL SELECT v2.query_id, k.dst AS node_id FROM v2 JOIN knn k ON k.src = v2.node_id
        |  ) u),
        |s3 AS (SELECT c.query_id, c.node_id, list_cosine_similarity(q.qv, ev.nv) AS s
        |  FROM c3 c JOIN q USING (query_id) JOIN ev USING (node_id)),
        |v3 AS (SELECT query_id, node_id FROM s3
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) <= 8),
        |c4 AS (SELECT DISTINCT query_id, node_id FROM (
        |    SELECT query_id, node_id FROM v3
        |    UNION ALL SELECT v3.query_id, k.dst AS node_id FROM v3 JOIN knn k ON k.src = v3.node_id
        |  ) u),
        |s4 AS (SELECT c.query_id, c.node_id, list_cosine_similarity(q.qv, ev.nv) AS s
        |  FROM c4 c JOIN q USING (query_id) JOIN ev USING (node_id)),
        |v4 AS (SELECT query_id, node_id, s FROM s4
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) <= 8)
        |SELECT query_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) AS INT) AS ord,
        |  node_id, ROUND(s, 4) AS sim_r
        |FROM v4 WHERE node_id <> query_id""".stripMargin,

    "emb_graph_search_recall" ->
      """WITH uv AS (SELECT embedding, MIN(vec_id) AS rep FROM embeddings GROUP BY embedding),
        |p9 AS (
        |  SELECT u.rep, b.vec_id AS dst,
        |    list_cosine_similarity(CAST(u.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM uv u JOIN embeddings b ON true),
        |k9 AS (SELECT rep, dst, s FROM p9
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY rep ORDER BY s DESC, dst) <= 9),
        |knn AS (SELECT src, dst FROM (
        |  SELECT a.vec_id AS src, k.dst, k.s FROM embeddings a
        |  JOIN uv u ON a.embedding = u.embedding
        |  JOIN k9 k ON k.rep = u.rep AND k.dst <> a.vec_id
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY k.s DESC, k.dst) <= 8)),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 16),
        |ev AS (SELECT vec_id AS node_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |reps AS (SELECT MIN(vec_id) AS node_id FROM embeddings GROUP BY label),
        |s0 AS (SELECT q.query_id, r.node_id, list_cosine_similarity(q.qv, ev.nv) AS s
        |  FROM q CROSS JOIN reps r JOIN ev ON ev.node_id = r.node_id),
        |v0 AS (SELECT query_id, node_id FROM s0
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) <= 8),
        |c1 AS (SELECT DISTINCT query_id, node_id FROM (
        |    SELECT query_id, node_id FROM v0
        |    UNION ALL SELECT v0.query_id, k.dst AS node_id FROM v0 JOIN knn k ON k.src = v0.node_id
        |  ) u),
        |s1 AS (SELECT c.query_id, c.node_id, list_cosine_similarity(q.qv, ev.nv) AS s
        |  FROM c1 c JOIN q USING (query_id) JOIN ev USING (node_id)),
        |v1 AS (SELECT query_id, node_id FROM s1
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) <= 8),
        |c2 AS (SELECT DISTINCT query_id, node_id FROM (
        |    SELECT query_id, node_id FROM v1
        |    UNION ALL SELECT v1.query_id, k.dst AS node_id FROM v1 JOIN knn k ON k.src = v1.node_id
        |  ) u),
        |s2 AS (SELECT c.query_id, c.node_id, list_cosine_similarity(q.qv, ev.nv) AS s
        |  FROM c2 c JOIN q USING (query_id) JOIN ev USING (node_id)),
        |v2 AS (SELECT query_id, node_id FROM s2
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) <= 8),
        |c3 AS (SELECT DISTINCT query_id, node_id FROM (
        |    SELECT query_id, node_id FROM v2
        |    UNION ALL SELECT v2.query_id, k.dst AS node_id FROM v2 JOIN knn k ON k.src = v2.node_id
        |  ) u),
        |s3 AS (SELECT c.query_id, c.node_id, list_cosine_similarity(q.qv, ev.nv) AS s
        |  FROM c3 c JOIN q USING (query_id) JOIN ev USING (node_id)),
        |v3 AS (SELECT query_id, node_id FROM s3
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) <= 8),
        |c4 AS (SELECT DISTINCT query_id, node_id FROM (
        |    SELECT query_id, node_id FROM v3
        |    UNION ALL SELECT v3.query_id, k.dst AS node_id FROM v3 JOIN knn k ON k.src = v3.node_id
        |  ) u),
        |s4 AS (SELECT c.query_id, c.node_id, list_cosine_similarity(q.qv, ev.nv) AS s
        |  FROM c4 c JOIN q USING (query_id) JOIN ev USING (node_id)),
        |v4 AS (SELECT query_id, node_id FROM s4
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, node_id) <= 8),
        |exact AS (SELECT q.query_id, ev.node_id
        |  FROM q JOIN ev ON ev.node_id <> q.query_id
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.query_id
        |    ORDER BY list_cosine_similarity(q.qv, ev.nv) DESC, ev.node_id) = 1),
        |found AS (SELECT e.query_id FROM exact e
        |  JOIN v4 w ON w.query_id = e.query_id AND w.node_id = e.node_id)
        |SELECT (SELECT COUNT(*) FROM q) AS n_queries,
        |  (SELECT COUNT(*) FROM found) AS n_top1_found""".stripMargin,

    "emb_knn_label_eval" ->
      """WITH q AS (SELECT vec_id AS anchor_id, embedding, label FROM embeddings WHERE vec_id < 64),
        |nn AS (SELECT q.anchor_id, c.label AS nlabel,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
        |  FROM q JOIN embeddings c ON c.vec_id <> q.anchor_id
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.anchor_id ORDER BY sim DESC, c.vec_id) <= 5),
        |v AS (SELECT anchor_id, nlabel, CAST(COUNT(*) AS BIGINT) AS v FROM nn GROUP BY 1, 2),
        |p AS (SELECT anchor_id, nlabel AS pred_label, v AS votes FROM v
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY v DESC, nlabel) = 1)
        |SELECT p.anchor_id, q.label AS true_label, CAST(p.pred_label AS INT) AS pred_label,
        |  p.votes, (q.label = p.pred_label) AS correct
        |FROM p JOIN q USING (anchor_id)""".stripMargin,

    "emb_knn_calibration" ->
      """WITH q AS (SELECT vec_id AS anchor_id, embedding, label FROM embeddings WHERE vec_id < 64),
        |nn AS (SELECT q.anchor_id, c.label AS nlabel,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
        |  FROM q JOIN embeddings c ON c.vec_id <> q.anchor_id
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.anchor_id ORDER BY sim DESC, c.vec_id) <= 5),
        |v AS (SELECT anchor_id, nlabel, CAST(COUNT(*) AS BIGINT) AS v FROM nn GROUP BY 1, 2),
        |p AS (SELECT anchor_id, nlabel AS pred_label, v AS votes FROM v
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY v DESC, nlabel) = 1),
        |e AS (SELECT p.votes, CASE WHEN q.label = p.pred_label THEN 1 ELSE 0 END AS c
        |  FROM p JOIN q USING (anchor_id)),
        |g AS (SELECT votes, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS nc,
        |  CAST(SUM((votes - 5*c) * (votes - 5*c)) AS BIGINT) AS sbt FROM e GROUP BY 1)
        |SELECT votes, ROUND(CAST(votes AS DOUBLE) / 5, 6) AS confidence,
        |  n AS n_anchors, nc AS n_correct,
        |  ROUND(CAST(nc AS DOUBLE) / n, 6) AS accuracy,
        |  ROUND(CAST(sbt AS DOUBLE) / (25 * n), 6) AS brier
        |FROM g""".stripMargin,

    "emb_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS anchor_id, embedding, label FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT q.anchor_id, c.vec_id AS cand_id, (c.label = q.label) AS same,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
        |  FROM q JOIN embeddings c ON c.vec_id <> q.anchor_id),
        |p AS (SELECT anchor_id, cand_id, sim FROM s WHERE same
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY sim DESC, cand_id) = 1),
        |n AS (SELECT anchor_id, cand_id, sim FROM s WHERE NOT same
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY sim DESC, cand_id) = 1)
        |SELECT p.anchor_id, p.cand_id AS pos_id, ROUND(p.sim, 4) AS sim_pos,
        |  n.cand_id AS neg_id, ROUND(n.sim, 4) AS sim_neg,
        |  ROUND(p.sim - n.sim, 4) AS margin
        |FROM p JOIN n USING (anchor_id)""".stripMargin,

    "emb_mrl_rerank" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
        |coarse AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(CAST(q.embedding[1:8] AS DOUBLE[]),
        |                                    CAST(c.embedding[1:8] AS DOUBLE[])) DESC,
        |             c.vec_id) <= 24)
        |SELECT co.query_id, co.neighbor_id,
        |  ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS sim
        |FROM coarse co
        |JOIN embeddings c ON c.vec_id = co.neighbor_id
        |JOIN q ON q.vec_id = co.query_id
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY co.query_id
        |  ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
        |           co.neighbor_id) <= 3""".stripMargin,

    "emb_dedup_cosine" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin,

    // the same exact-integer pipeline: e3-quantize, 4 BIGINT dots per quadruple,
    // squares in int128 (Spark: DECIMAL(38,0)), one fixed-order final division
    "emb_mmd_drift" ->
      """WITH q AS (SELECT vec_id // 4 AS g, vec_id % 4 AS r,
        |    list_transform(embedding, e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |quad AS (SELECT a.g, a.qv AS x1, b.qv AS y1, c.qv AS x2, d.qv AS y2
        |  FROM q a JOIN q b ON b.g = a.g AND b.r = 1
        |    JOIN q c ON c.g = a.g AND c.r = 2
        |    JOIN q d ON d.g = a.g AND d.r = 3
        |  WHERE a.r = 0),
        |dots AS (SELECT
        |    CAST(list_sum(list_transform(list_zip(x1, x2), z -> z[1]*z[2])) AS HUGEINT) AS d12,
        |    CAST(list_sum(list_transform(list_zip(y1, y2), z -> z[1]*z[2])) AS HUGEINT) AS d34,
        |    CAST(list_sum(list_transform(list_zip(x1, y2), z -> z[1]*z[2])) AS HUGEINT) AS d13,
        |    CAST(list_sum(list_transform(list_zip(x2, y1), z -> z[1]*z[2])) AS HUGEINT) AS d24
        |  FROM quad),
        |h AS (SELECT d12*d12 + d34*d34 - d13*d13 - d24*d24 AS h FROM dots),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, SUM(h) AS sh FROM h)
        |SELECT n_pairs,
        |  ROUND(CAST(sh AS DOUBLE) / (CAST(n_pairs AS DOUBLE) * 4096000000000000.0), 8) AS mmd2,
        |  ABS(ROUND(CAST(sh AS DOUBLE) / (CAST(n_pairs AS DOUBLE) * 4096000000000000.0), 8)) > 0.001 AS drift
        |FROM agg""".stripMargin,

    "mm_frame_sample" ->
      """WITH d AS (SELECT doc_id, encode(text) AS blob FROM documents),
        |m AS (SELECT doc_id, hex(blob) AS hexb, CAST(octet_length(blob) AS BIGINT) AS n,
        |  CAST(octet_length(blob) % 30 + 1 AS INT) AS n_frames FROM d),
        |f AS (SELECT doc_id, hexb, n, n_frames,
        |  GREATEST(1, n // n_frames) AS frame_len FROM m),
        |idx AS (SELECT doc_id, hexb, n, frame_len, CAST(u.i AS INT) AS frame_idx
        |  FROM f, unnest(range(0, CAST(n_frames AS BIGINT), 5)) AS u(i))
        |SELECT doc_id, frame_idx,
        |  md5(substring(hexb, LEAST(frame_idx * frame_len, n) * 2 + 1,
        |    LEAST(frame_len, n - LEAST(frame_idx * frame_len, n)) * 2)) AS frame_md5
        |FROM idx""".stripMargin,

    "mm_media_meta" ->
      """SELECT doc_id, md5(text) AS content_md5,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
        |  CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
        |  CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
        |FROM documents""".stripMargin,

    // byte-exact resize reconstruction from the blob's hex rendering: pixel p of the
    // 8x8 thumbnail reads source byte ((p//8)*h//8)*32 + (p%8)*4 (integer math on both
    // sides); DuckDB can't substring a BLOB, so bytes address via hex pairs
    "mm_resize" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) // 32 AS h FROM documents),
        |px AS (SELECT doc_id, r.range AS p,
        |    CAST(('0x' || substring(hx,
        |      CAST(2 * ((((r.range // 8) * h) // 8) * 32 + (r.range % 8) * 4) + 1 AS INT),
        |      2)) AS INT) AS v
        |  FROM b CROSS JOIN range(64) r WHERE h >= 1),
        |agg AS (SELECT doc_id, string_agg(CAST(v AS VARCHAR), ',' ORDER BY p) AS pixels
        |  FROM px GROUP BY doc_id)
        |SELECT b.doc_id, CAST(COALESCE(b.h, 0) AS INT) AS src_h, agg.pixels
        |FROM b LEFT JOIN agg USING (doc_id)""".stripMargin,

    "mm_ahash_pairs" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) // 32 AS h FROM documents),
        |px AS (SELECT doc_id, r.range AS p,
        |    CAST(('0x' || substring(hx,
        |      CAST(2 * ((((r.range // 8) * h) // 8) * 32 + (r.range % 8) * 4) + 1 AS INT),
        |      2)) AS INT) AS v
        |  FROM b CROSS JOIN range(64) r WHERE h >= 1),
        |m AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) // 64 AS mean FROM px GROUP BY doc_id),
        |hs AS (SELECT px.doc_id AS id,
        |    CAST(SUM(CASE WHEN px.v > m.mean AND px.p < 60
        |      THEN (CAST(1 AS BIGINT) << CAST(px.p AS INT)) ELSE 0 END) AS BIGINT) AS ahash
        |  FROM px JOIN m USING (doc_id) GROUP BY px.doc_id),
        |ch AS (SELECT id, ahash, c.range AS c,
        |    (ahash >> CAST(c.range * 15 AS INT)) & 32767 AS v
        |  FROM hs CROSS JOIN range(4) c),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.ahash AS h_a, b.ahash AS h_b
        |  FROM ch a JOIN ch b ON a.c = b.c AND a.v = b.v AND a.id < b.id)
        |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3""".stripMargin,

    // same blob census; the maintained-store equality booleans are self-verifying
    "mm_cdc_incremental" ->
      """WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |  FROM documents)
        |SELECT
        |  (SELECT COUNT(*) FROM b) + (SELECT COUNT(*) FROM b WHERE doc_id % 10 = 0)
        |    + (SELECT COUNT(*) FROM b WHERE doc_id % 10 = 5) AS n_blobs,
        |  CAST((SELECT SUM(n) FROM b) + (SELECT SUM(n) FROM b WHERE doc_id % 10 = 0)
        |    + (SELECT SUM(n + 7) FROM b WHERE doc_id % 10 = 5) AS BIGINT) AS total_bytes,
        |  TRUE AS census_count_ok, TRUE AS census_bytes_ok,
        |  TRUE AS dedup_saves_ok""".stripMargin,

    // blob census is exact SQL (base + tenth duplicated + tenth shifted by the 7-byte
    // header); the chunking invariants are self-verifying verdict booleans — a
    // sequential rolling hash has no SQL replica (the sketch/ANN gate idiom)
    "mm_cdc_chunks" ->
      """WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |  FROM documents)
        |SELECT
        |  (SELECT COUNT(*) FROM b) + (SELECT COUNT(*) FROM b WHERE doc_id % 10 = 0)
        |    + (SELECT COUNT(*) FROM b WHERE doc_id % 10 = 5) AS n_blobs,
        |  CAST((SELECT SUM(n) FROM b) + (SELECT SUM(n) FROM b WHERE doc_id % 10 = 0)
        |    + (SELECT SUM(n + 7) FROM b WHERE doc_id % 10 = 5) AS BIGINT) AS total_bytes,
        |  TRUE AS bounds_ok, TRUE AS coverage_ok, TRUE AS dup_exact_ok,
        |  TRUE AS resync_ok, TRUE AS dedup_saves_ok""".stripMargin,

    // frame slicing (mm_frame_sample's CTE chain) composed with per-frame aHash
    // reconstruction (mm_ahash_pairs' pixel algebra) — the oracle mirrors the provable
    // chunk blocking so it stays an equality join too
    "mm_scene_cuts" ->
      """WITH d AS (SELECT doc_id, encode(text) AS blob FROM documents),
        |m AS (SELECT doc_id, hex(blob) AS hexb, CAST(octet_length(blob) AS BIGINT) AS n,
        |  CAST(octet_length(blob) % 30 + 1 AS INT) AS n_frames FROM d),
        |f AS (SELECT doc_id, hexb, n, n_frames,
        |  GREATEST(1, n // n_frames) AS frame_len FROM m),
        |fr AS (SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
        |    substring(hexb, CAST(LEAST(u.i * frame_len, n) * 2 + 1 AS INT),
        |      CAST(LEAST(frame_len, n - LEAST(u.i * frame_len, n)) * 2 AS INT)) AS fhx
        |  FROM f, unnest(range(0, CAST(n_frames AS BIGINT), 1)) AS u(i)),
        |b AS (SELECT doc_id, frame_idx, fhx, length(fhx) // 2 // 32 AS h FROM fr),
        |px AS (SELECT doc_id, frame_idx, r.range AS p,
        |    CAST(('0x' || substring(fhx,
        |      CAST(2 * ((((r.range // 8) * h) // 8) * 32 + (r.range % 8) * 4) + 1 AS INT),
        |      2)) AS INT) AS v
        |  FROM b CROSS JOIN range(64) r WHERE h >= 1),
        |mn AS (SELECT doc_id, frame_idx, CAST(SUM(v) AS BIGINT) // 64 AS mean
        |  FROM px GROUP BY doc_id, frame_idx),
        |hs AS (SELECT px.doc_id, px.frame_idx,
        |    CAST(SUM(CASE WHEN px.v > mn.mean AND px.p < 60
        |      THEN (CAST(1 AS BIGINT) << CAST(px.p AS INT)) ELSE 0 END) AS BIGINT) AS ahash
        |  FROM px JOIN mn USING (doc_id, frame_idx) GROUP BY px.doc_id, px.frame_idx),
        |lagd AS (SELECT doc_id, frame_idx, ahash,
        |    LAG(ahash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM hs)
        |SELECT doc_id, frame_idx, CAST(bit_count(xor(ahash, prev)) AS INT) AS hamming
        |FROM lagd WHERE prev IS NOT NULL AND bit_count(xor(ahash, prev)) >= 8""".stripMargin,

    "mm_frame_dedup" ->
      """WITH d AS (SELECT doc_id, encode(text) AS blob FROM documents),
        |m AS (SELECT doc_id, hex(blob) AS hexb, CAST(octet_length(blob) AS BIGINT) AS n,
        |  CAST(octet_length(blob) % 30 + 1 AS INT) AS n_frames FROM d),
        |f AS (SELECT doc_id, hexb, n, n_frames,
        |  GREATEST(1, n // n_frames) AS frame_len FROM m),
        |fr AS (SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
        |    substring(hexb, CAST(LEAST(u.i * frame_len, n) * 2 + 1 AS INT),
        |      CAST(LEAST(frame_len, n - LEAST(u.i * frame_len, n)) * 2 AS INT)) AS fhx
        |  FROM f, unnest(range(0, CAST(n_frames AS BIGINT), 5)) AS u(i)),
        |b AS (SELECT doc_id, frame_idx, fhx, length(fhx) // 2 // 32 AS h FROM fr),
        |px AS (SELECT doc_id, frame_idx, r.range AS p,
        |    CAST(('0x' || substring(fhx,
        |      CAST(2 * ((((r.range // 8) * h) // 8) * 32 + (r.range % 8) * 4) + 1 AS INT),
        |      2)) AS INT) AS v
        |  FROM b CROSS JOIN range(64) r WHERE h >= 1),
        |mn AS (SELECT doc_id, frame_idx, CAST(SUM(v) AS BIGINT) // 64 AS mean
        |  FROM px GROUP BY doc_id, frame_idx),
        |hs AS (SELECT px.doc_id, px.frame_idx,
        |    CAST(SUM(CASE WHEN px.v > mn.mean AND px.p < 60
        |      THEN (CAST(1 AS BIGINT) << CAST(px.p AS INT)) ELSE 0 END) AS BIGINT) AS ahash
        |  FROM px JOIN mn USING (doc_id, frame_idx) GROUP BY px.doc_id, px.frame_idx),
        |ch AS (SELECT doc_id, frame_idx, ahash, c.range AS c,
        |    (ahash >> CAST(c.range * 15 AS INT)) & 32767 AS v
        |  FROM hs CROSS JOIN range(4) c),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, a.frame_idx AS fa, a.ahash AS h_a,
        |    b.doc_id AS id_b, b.frame_idx AS fb, b.ahash AS h_b
        |  FROM ch a JOIN ch b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared,
        |  CAST(MIN(bit_count(xor(h_a, h_b))) AS INT) AS min_hamming
        |FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
        |GROUP BY id_a, id_b""".stripMargin,

    "mm_audio_features" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n FROM documents),
        |s AS (SELECT doc_id, u.p,
        |    CAST(('0x' || substring(hx, CAST(2 * u.p + 1 AS INT), 2)) AS INT) - 128 AS v
        |  FROM b, unnest(range(0, n)) AS u(p) WHERE n > 0),
        |zc AS (SELECT doc_id, v, p,
        |    CASE WHEN (v >= 0) <> (lag(v) OVER (PARTITION BY doc_id ORDER BY p) >= 0)
        |      THEN 1 ELSE 0 END AS flip FROM s),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |    CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS energy,
        |    CAST(MAX(ABS(v)) AS INT) AS peak,
        |    CAST(SUM(flip) AS BIGINT) AS n_zero_cross
        |  FROM zc GROUP BY doc_id)
        |SELECT b.doc_id, COALESCE(agg.n_samples, 0) AS n_samples,
        |  agg.energy, agg.peak, agg.n_zero_cross
        |FROM b LEFT JOIN agg USING (doc_id)""".stripMargin,

    "mm_audio_fingerprint" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n FROM documents),
        |s AS (SELECT doc_id, CAST(u.p // 64 AS INT) AS w, CAST(u.p % 8 AS INT) AS band,
        |    CAST(('0x' || substring(hx, CAST(2 * u.p + 1 AS INT), 2)) AS INT) - 128 AS v
        |  FROM b, unnest(range(0, n)) AS u(p) WHERE n > 0),
        |be AS (SELECT doc_id, w, band, CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS e
        |  FROM s GROUP BY 1, 2, 3),
        |pk AS (SELECT doc_id, w, band AS pb, e FROM be
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY e DESC, band) = 1),
        |fp AS (SELECT a.doc_id, a.w AS t,
        |    CAST(((a.pb * 8 + c.pb) * 4 + (c.w - a.w)) * 32 + LEAST(31, a.e // 1024) AS INT) AS f
        |  FROM pk a JOIN pk c ON c.doc_id = a.doc_id AND c.w - a.w BETWEEN 1 AND 3),
        |keep AS (SELECT f FROM (SELECT f, COUNT(DISTINCT doc_id) AS d FROM fp GROUP BY 1)
        |  WHERE d <= 20),
        |k AS (SELECT fp.* FROM fp JOIN keep USING (f)),
        |votes AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.t - y.t AS dt,
        |    CAST(COUNT(*) AS BIGINT) AS votes
        |  FROM k x JOIN k y ON x.f = y.f AND x.doc_id < y.doc_id GROUP BY 1, 2, 3)
        |SELECT * FROM (SELECT id_a, id_b, votes AS n_matches, CAST(dt AS INT) AS dt
        |  FROM votes
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id_a, id_b ORDER BY votes DESC, dt) = 1)
        |WHERE n_matches >= 2""".stripMargin,

    "mm_audio_vad" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n FROM documents),
        |s AS (SELECT doc_id, u.p, CAST(u.p // 256 AS INT) AS win_idx,
        |    CAST(('0x' || substring(hx, CAST(2 * u.p + 1 AS INT), 2)) AS INT) - 128 AS v
        |  FROM b, unnest(range(0, n)) AS u(p) WHERE n > 0),
        |wnd AS (SELECT doc_id, win_idx, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |    CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS energy
        |  FROM s GROUP BY doc_id, win_idx),
        |act AS (SELECT doc_id, win_idx, energy FROM wnd WHERE energy > 400 * n_samples),
        |g AS (SELECT *, win_idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY win_idx) AS grp
        |  FROM act)
        |SELECT doc_id, CAST(MIN(win_idx) AS INT) AS start_win,
        |  CAST(MAX(win_idx) AS INT) AS end_win,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(energy) AS BIGINT) AS total_energy
        |FROM g GROUP BY doc_id, grp""".stripMargin,

    "mm_audio_windows" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n FROM documents),
        |s AS (SELECT doc_id, u.p, CAST(u.p // 256 AS INT) AS win_idx,
        |    CAST(('0x' || substring(hx, CAST(2 * u.p + 1 AS INT), 2)) AS INT) - 128 AS v
        |  FROM b, unnest(range(0, n)) AS u(p) WHERE n > 0),
        |zc AS (SELECT doc_id, win_idx, v, p,
        |    CASE WHEN (v >= 0) <> (lag(v) OVER (PARTITION BY doc_id, win_idx ORDER BY p) >= 0)
        |      THEN 1 ELSE 0 END AS flip FROM s)
        |SELECT doc_id, win_idx, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS energy,
        |  CAST(MAX(ABS(v)) AS INT) AS peak,
        |  CAST(SUM(flip) AS BIGINT) AS n_zero_cross
        |FROM zc GROUP BY doc_id, win_idx""".stripMargin,

    "mm_ahash" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) // 32 AS h FROM documents),
        |px AS (SELECT doc_id, r.range AS p,
        |    CAST(('0x' || substring(hx,
        |      CAST(2 * ((((r.range // 8) * h) // 8) * 32 + (r.range % 8) * 4) + 1 AS INT),
        |      2)) AS INT) AS v
        |  FROM b CROSS JOIN range(64) r WHERE h >= 1),
        |m AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) // 64 AS mean FROM px GROUP BY doc_id),
        |hsh AS (SELECT px.doc_id,
        |    CAST(SUM(CASE WHEN px.v > m.mean AND px.p < 60
        |      THEN (CAST(1 AS BIGINT) << CAST(px.p AS INT)) ELSE 0 END) AS BIGINT) AS ahash
        |  FROM px JOIN m USING (doc_id) GROUP BY px.doc_id)
        |SELECT b.doc_id, CAST(COALESCE(b.h, 0) AS INT) AS src_h, hsh.ahash
        |FROM b LEFT JOIN hsh USING (doc_id)""".stripMargin,

    "doc_quality_classifier" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(COUNT(*) FILTER (WHERE n_chars > 300) AS BIGINT) AS n_pos,
        |  TRUE AS train_acc_ok, TRUE AS test_acc_ok
        |FROM documents""".stripMargin)
}
