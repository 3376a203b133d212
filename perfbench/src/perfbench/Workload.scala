package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One op: its wall seconds, the seconds of its parts (the queries of a pass; a CDC run is
  * one part), input events, bytes written, check errors and, for traced ops, layer metrics. */
final case class Op(secs: Double, parts: Map[String, Double], events: Long, bytesWritten: Long,
    errors: Seq[String], layers: Option[Map[String, Double]] = None)

/** What a workload hands over after its timed loop: isolated single-layer timings (traced
  * runs) and the base sizes of its inputs. */
final case class Extras(layers: Map[String, Double], sizes: Map[String, Any])

/**
 * A workload supplies set-up and one op; [[Runner]] does the timing. `warmUp` runs once,
 * untimed, before set-up. `setUp` then runs `setupReps` times (each one a fresh
 * SparkSession; the last one is measured against). Both return the ops they checked.
 */
abstract class Workload(val a: Main.Args) {
  val setupReps: Int
  val minOps = 3
  val log = new SpanLog
  val tracer = new Tracer(log)
  val wlSpan: Int = log.add(-1, "workload", a.workload, 0L, 0L)

  def setUp(rep: Int): Seq[Op]
  def warmUp(): Seq[Op] = Nil
  def op(i: Int, traced: Boolean): Op
  def finish(): Extras
}

/** What a workload measured: metrics by name as (value, unit), derived figures that are
  * printed but not reported, op counts, check errors (`failed` ops produced them). */
final case class Measured(endToEnd: Seq[(String, (Double, String))],
    derived: Seq[(String, (Double, String))], layers: Seq[(String, (Double, String))],
    attempted: Int, failed: Int, errors: Seq[String], sizes: Map[String, Any],
    trace: Option[Map[String, Any]])

/**
 * The driver loop shared by every workload: warm-up, timed set-ups, then ops until `--seconds` have
 * passed and at least `minOps` ran. A traced run alternates untraced and traced ops, so the
 * tracing overhead is measured in the same process; end-to-end metrics come from the
 * untraced ops only, and a failed op adds no time to any metric.
 */
object Runner {
  def measure(w: Workload): Measured = {
    val a = w.a
    val checked = mutable.ArrayBuffer.empty[Op]
    checked ++= w.warmUp()
    Main.mark("warm-up done")
    val setups = (0 until w.setupReps).map { k =>
      val t0 = System.nanoTime()
      checked ++= w.setUp(k)
      Stats.secs(t0)
    }
    Main.mark(s"set-up done: ${setups.map(s => f"$s%.3f").mkString(" ")} s")
    val ops = mutable.ArrayBuffer.empty[(Op, Boolean)]
    val loopStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var i = 0
    while (i < w.minOps || Stats.secs(t0) < a.seconds) {
      val traced = a.trace && i % 2 == 1
      ops += w.op(i, traced) -> traced
      i += 1
    }
    w.log.setTimes(w.wlSpan, loopStart, System.currentTimeMillis())
    val extra = w.finish()

    val good = ops.filter(_._1.errors.isEmpty).toSeq
    val plain = good.filterNot(_._2).map(_._1)
    val traced = good.filter(_._2).map(_._1)
    // per part the fastest timed execution, as graft.Bench takes its best of 2: slowdowns
    // from the host are one-sided, and a part's few executions cannot average them out
    val fastest = plain.flatMap(_.parts.keys).distinct.map(p => p -> plain.flatMap(_.parts.get(p)).min)
    val endToEnd = Seq(
      "run_s" -> (Stats.median(plain.map(_.secs)), "s"),
      "query_geomean_s" -> (Stats.geomean(fastest.map(_._2)), "s"),
      "setup_s" -> (Stats.median(setups), "s"),
      "bytes_written_per_event" ->
        (Stats.median(plain.map(o => o.bytesWritten.toDouble / math.max(1L, o.events))), "B"),
      "peak_rss_mb" -> (Context.peakRssMb, "MB"))
    val derived = Seq(
      "events_per_s" -> (Stats.median(plain.map(o => o.events / o.secs)), "1/s"))
    val tracedLayers = traced.flatMap(_.layers)
    val layers = Layers.medians(tracedLayers) ++ extra.layers ++ Map(
      "trace.overhead_pct" -> Stats.overheadPct(good.map { case (o, t) => (o.secs, t) }),
      "trace.coverage" -> tracedLayers.flatMap(_.get("trace.coverage")).minOption.getOrElse(0.0))
    val all = checked.toSeq ++ ops.map(_._1)
    Measured(endToEnd, derived, Layers.of(layers), all.size, all.count(_.errors.nonEmpty),
      all.flatMap(_.errors), extra.sizes ++ Map("setup_seconds" -> setups,
        "ops_timed" -> plain.size, "ops_traced" -> traced.size, "op_seconds" -> ops.map(_._1.secs),
        "part_fastest_s" -> fastest.to(ListMap)),
      if (a.trace) Some(ListMap("workload" -> a.workload, "seed" -> a.seed, "spans" -> w.log.rows))
      else None)
  }
}
