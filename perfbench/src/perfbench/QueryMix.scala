package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/**
 * `query_mix`: timed passes over three groups of `SparkEntry.benchQueries` entries in a
 * seed-permuted order. A timed pass writes each query through the noop sink, which
 * evaluates every column without moving rows to the driver; a query that throws fails
 * the pass. The untimed warm-up pass before set-up, which pays codegen and JIT warm-up,
 * collects each result and compares its row count (and, where the result is
 * deterministic, an order-insensitive hash) with the committed expectation.
 */
final class QueryMix(a: Main.Args) extends Workload(a) {
  import QueryMix._
  val setupReps = 3
  override val minOps = 2
  private val expected = loadExpected(a.expected)
  private val order = new scala.util.Random(a.seed).shuffle(All)
  private var spark: SparkSession = _

  def setUp(k: Int): Seq[Op] = {
    spark = Sessions.start(a.out)
    SparkEntry.benchQueries(WarmUp)(spark, a.data).write.format("noop").mode("overwrite").save()
    Nil
  }

  override def warmUp(): Seq[Op] = {
    spark = Sessions.start(a.out)
    Seq(checkPass())
  }

  def op(i: Int, traced: Boolean): Op = {
    if (traced) tracer.attach(spark)
    val times = mutable.LinkedHashMap.empty[String, Double]
    val windows = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    val errors = mutable.ArrayBuffer.empty[String]
    val b0 = Context.fsBytesWritten
    val p0ms = System.currentTimeMillis()
    val p0 = System.nanoTime()
    order.foreach { q =>
      val fs0 = CountingLocalFileSystem.calls.get()
      val q0ms = System.currentTimeMillis()
      val q0 = System.nanoTime()
      try {
        query(q).write.format("noop").mode("overwrite").save()
        times(q) = Stats.secs(q0)
        windows += ((q, q0ms, System.currentTimeMillis(), CountingLocalFileSystem.calls.get() - fs0))
      } catch { case e: Throwable => errors += s"pass $i: $q threw ${e.getClass.getName}: ${e.getMessage}" }
      spark.catalog.clearCache()
    }
    val wall = Stats.secs(p0)
    val bytes = Context.fsBytesWritten - b0
    val layers = if (!traced) None else {
      tracer.detach(spark)
      Some(passLayers(i, p0ms, wall, times.toMap, windows.toSeq))
    }
    Main.mark(f"pass $i: $wall%.3f s${if (errors.isEmpty) "" else " FAILED"}")
    Op(wall, times.toMap, order.size, bytes, errors.toSeq, layers)
  }

  def finish(): Extras = Extras(Map.empty, Map(
    "queries" -> All.size, "groups" -> Map("cdc" -> Cdc.size, "incremental" -> Incremental.size,
      "hot" -> Hot.size), "data" -> Paths.get(a.data).getFileName.toString))

  private def query(q: String): DataFrame = SparkEntry.benchQueries(q)(spark, a.data)

  /** One untimed pass in `order` that collects each result and checks it. */
  private def checkPass(): Op = {
    val p0 = System.nanoTime()
    val errors = order.flatMap { q =>
      val err = try {
        val got = summarize(query(q).collect())
        expected.get(q) match {
          case None => Some(s"$q: no committed expectation")
          case Some(e) if e.rows != got.rows => Some(s"$q: ${got.rows} rows, expected ${e.rows}")
          case Some(e) if e.hash.exists(_ != got.hash) => Some(s"$q: result hash differs from expectation")
          case _ => None
        }
      } catch { case e: Throwable => Some(s"$q threw ${e.getClass.getName}: ${e.getMessage}") }
      spark.catalog.clearCache()
      err.map(m => s"warm-up pass: $m")
    }
    val secs = Stats.secs(p0)
    Main.mark(f"warm-up pass: $secs%.3f s${if (errors.isEmpty) "" else " FAILED"}")
    Op(secs, Map.empty, order.size, 0L, errors)
  }

  /** Spans of one traced pass (pass → query → job → stage) and its layer metrics. */
  private def passLayers(i: Int, p0ms: Long, wall: Double, times: Map[String, Double],
      windows: Seq[(String, Long, Long, Long)]): Map[String, Double] = tracer.rec.synchronized {
    val rec = tracer.rec
    val passSpan = log.add(wlSpan, "op", s"pass $i", p0ms, p0ms + (wall * 1000).toLong)
    val jobsOf = windows.map { case (q, s, e, _) =>
      q -> rec.jobs.values.filter(j => j.startMs >= s && j.startMs <= e).toSeq
    }.toMap
    windows.foreach { case (q, s, e, fs) =>
      val qs = log.add(passSpan, "query", q, s, e, Map("group" -> groupOf(q), "fs_calls" -> fs,
        "seconds" -> times.getOrElse(q, -1.0)))
      tracer.addJobs(qs, jobsOf(q))
    }
    def sumGroup(g: Seq[String]): Double = g.flatMap(times.get).sum
    Map(
      "stores.fs_calls" -> windows.filter(w => Incremental.contains(w._1)).map(_._4).sum.toDouble,
      "stores.jobs" -> Incremental.map(q => jobsOf.getOrElse(q, Nil).size).sum.toDouble,
      "stores.s" -> sumGroup(Incremental),
      "ops.cdc.s" -> sumGroup(Cdc),
      "ops.incremental.s" -> sumGroup(Incremental),
      "ops.hot.s" -> sumGroup(Hot),
      "trace.coverage" -> Trace.unionMs(windows.map(w => (w._2, w._3))) / 1000.0 / wall
    ) ++ tracer.sparkMetrics(wall)
  }
}

object QueryMix {
  val WarmUp = "cdc_json_roundtrip"
  val Cdc: Seq[String] = Seq("cdc_unwrap", "cdc_dedupe_lww", "cdc_tx_boundaries")
  val Incremental: Seq[String] = Seq("ev_isotonic_incremental")
  val Hot: Seq[String] = Seq("q_basket_kcore")
  val All: Seq[String] = (Cdc ++ Incremental ++ Hot).distinct

  def groupOf(q: String): String =
    if (Incremental.contains(q)) "incremental" else if (Hot.contains(q)) "hot" else "cdc"

  final case class Expect(rows: Long, hash: Option[String])
  final case class Summary(rows: Long, hash: String)

  /** Row count plus an order-insensitive hash: the sum of per-row 64-bit hashes of a
    * canonical rendering (doubles rounded to 9 significant digits). */
  def summarize(rows: Array[Row]): Summary = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val b = md.digest(render(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(b).getLong
    }
    Summary(rows.length.toLong, java.lang.Long.toHexString(sum))
  }

  private def render(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString

  def loadExpected(path: String): Map[String, Expect] = {
    val root = Json.mapper.readTree(Files.readString(Paths.get(path)))
    root.get("queries").properties().asScala.map { e =>
      val h = e.getValue.get("hash")
      e.getKey -> Expect(e.getValue.get("rows").asLong,
        if (h == null || h.isNull) None else Some(h.asText))
    }.toMap
  }

  /** Maintainer mode: computes every query's summary three times, in three orders, and
    * writes the expectation file; a hash that differs between executions is stored as
    * null (the result is not deterministic), a row count that differs is an error. */
  def record(a: Main.Args): Int = {
    val spark = Sessions.start(a.out)
    val seen = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Summary]]
    for (k <- 0 until 3; q <- new scala.util.Random(k).shuffle(All)) {
      seen.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
        summarize(SparkEntry.benchQueries(q)(spark, a.data).collect())
      spark.catalog.clearCache()
    }
    Sessions.stop()
    val bad = seen.filter(_._2.map(_.rows).distinct.size > 1).keys
    bad.foreach(q => println(s"[record] $q: row count differs between executions"))
    val queries = All.map { q =>
      val s = seen(q)
      val hashes = s.map(_.hash).distinct
      q -> ListMap("rows" -> s.head.rows, "hash" -> (if (hashes.size == 1) hashes.headOption else None))
    }
    Files.writeString(Paths.get(a.expected), Json.pretty(ListMap(
      "data" -> Paths.get(a.data).getFileName.toString, "queries" -> ListMap(queries: _*))) + "\n")
    println(s"[record] wrote ${a.expected}")
    if (bad.isEmpty) 0 else 1
  }
}
