package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/**
 * The benchmark harness: one workload per JVM, measured from outside the program through
 * its public entry points. Prints human-readable lines and writes `result.json` (the
 * result line), `context.json` (machine context and base sizes) and, for traced
 * runs, `trace.json` (the span tree) into `--out`.
 *
 * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir> --data <dir>
 *             --expected <file>
 *        Main --selftest --out <dir>
 *        Main --record-expected --out <dir> --data <dir> --expected <file>
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: Path, data: String, expected: String, mode: String)

  def parse(args: Array[String]): Args = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val mode = if (args.contains("--selftest")) "selftest"
      else if (args.contains("--record-expected")) "record" else "run"
    Args(m.getOrElse("--workload", ""), m.getOrElse("--seed", "1").toLong,
      m.getOrElse("--seconds", "8").toDouble, m.getOrElse("--trace", "0") == "1",
      Paths.get(m.getOrElse("--out", "perfbench-out")).toAbsolutePath,
      m.getOrElse("--data", ""), m.getOrElse("--expected", ""), mode)
  }

  val started: Long = System.nanoTime()

  /** Progress line on stderr, with seconds since the JVM started. */
  def mark(what: String): Unit = System.err.println(f"[perfbench ${Stats.secs(started)}%7.2fs] $what")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val code = a.mode match {
      case "selftest" =>
        val errs = Inputs.selfTest(a.out.resolve("selftest"))
        Dirs.delete(a.out.resolve("selftest"))
        errs.foreach(e => println(s"[selftest] FAIL $e"))
        if (errs.isEmpty) println("[selftest] ok: same seed -> byte-identical spools, other seed -> different")
        if (errs.isEmpty) 0 else 1
      case "record" => QueryMix.record(a)
      case _ => run(a)
    }
    sys.exit(code)
  }

  /** One measured workload run. Exit code 0 only when every op passed its output check. */
  def run(a: Args): Int = {
    val wl: Workload = a.workload match {
      case "cdc_churn" => new CdcChurn(a)
      case "cdc_resume" => new CdcResume(a)
      case "query_mix" => new QueryMix(a)
      case other => System.err.println(s"unknown workload '$other'"); return 2
    }
    val probeBefore = Context.probe()
    val r = try Runner.measure(wl) finally Sessions.stop()
    val probeAfter = Context.probe()
    val failedRatio = r.failed.toDouble / math.max(1, r.attempted)
    val metrics = if (a.trace) r.layers else r.endToEnd
    val result = Json.write(ListMap(
      "correct" -> (r.failed == 0),
      "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
        .to(ListMap)))
    val context = Json.write(Context.of(a, probeBefore, probeAfter, r.sizes, failedRatio, r.errors))
    Files.writeString(a.out.resolve("context.json"), context)
    Files.writeString(a.out.resolve("result.json"), result)
    r.trace.foreach(t => Files.writeString(a.out.resolve("trace.json"), Json.pretty(t)))
    r.errors.take(20).foreach(e => println(s"[${a.workload}] CHECK FAILED: $e"))
    println(s"[${a.workload}] seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"ops=${r.attempted} failed=${r.failed} failed_ratio=$failedRatio")
    metrics.foreach { case (k, (v, u)) => println(f"[${a.workload}]   $k%-32s $v $u") }
    if (!a.trace) r.derived.foreach { case (k, (v, u)) =>
      println(f"[${a.workload}]   $k%-32s $v $u (derived from run_s, not reported)") }
    println(s"[${a.workload}] context $context")
    if (r.failed == 0) 0 else 1
  }
}

/** JSON output, through the Jackson mapper on Spark's classpath. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def pretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)
}

object Context {
  val ProbeFlagFactor = 1.5

  /** Machine context recorded with every result. */
  def of(a: Main.Args, before: Double, after: Double, sizes: Map[String, Any],
      failedRatio: Double, errors: Seq[String]): Map[String, Any] = ListMap(
    "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "load_avg" -> Context.loadAvg,
    "cpu_probe_before_s" -> before, "cpu_probe_after_s" -> after,
    // flagged against this run's own before-probe, never against a constant
    "cpu_probe_flag" -> (after > before * Context.ProbeFlagFactor),
    "failed_ratio" -> failedRatio, "errors" -> errors.take(20), "sizes" -> sizes,
    "jvm_wall_s" -> Stats.secs(Main.started))

  def loadAvg: Seq[Double] = try {
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).map(_.toDouble).toSeq
  } catch { case _: Exception => Nil }

  /** Fixed single-thread CPU probe (integer mixing, no allocation, no IO): the best of five
    * timings of the same 2^23-step loop, in seconds. */
  def probe(): Double = {
    var best = Double.MaxValue
    var sink = 0L
    for (_ <- 0 until 5) {
      val t0 = System.nanoTime()
      var z = 1L
      var i = 0
      while (i < (1 << 23)) { z = LwwModel.mix(z + i); i += 1 }
      sink ^= z
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    if (sink == 42L) println("") // a use of the result, so the loop cannot be elided
    best
  }

  /** Peak resident set size of this process (VmHWM), MB. */
  def peakRssMb: Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  } catch { case _: Exception => 0.0 }

  def gcSeconds: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Bytes written through Hadoop's `file:` filesystem so far (parquet, CSV, checkpoint). */
  def fsBytesWritten: Long = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** The benchmark's SparkSession: local[4], the program's own tuning, scratch under `--out`. */
object Sessions {
  val Cpus = 4
  private var current: Option[SparkSession] = None

  def start(out: Path): SparkSession = {
    stop()
    val s = graft.GraftConf.tune(SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    current = Some(s)
    s
  }

  def stop(): Unit = { current.foreach(_.stop()); current = None }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Tracing overhead, %: each traced op against the mean of its untraced neighbours (ops
    * alternate, so both sides of a traced op ran in the same state of JIT warm-up); the
    * median over traced ops. */
  def overheadPct(ops: Seq[(Double, Boolean)]): Double = {
    val ratios = ops.indices.filter(i => ops(i)._2).flatMap { i =>
      val plain = Seq(i - 1, i + 1).filter(j => ops.indices.contains(j) && !ops(j)._2).map(ops(_)._1)
      if (plain.isEmpty) None else Some((ops(i)._1 / (plain.sum / plain.size) - 1) * 100)
    }
    median(ratios)
  }
}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }
  def files(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(f => Files.isRegularFile(f)).toSeq finally s.close()
  }
  def bytes(p: Path, suffix: String = ""): Long =
    files(p).filter(_.getFileName.toString.endsWith(suffix)).map(f => Files.size(f)).sum
}
