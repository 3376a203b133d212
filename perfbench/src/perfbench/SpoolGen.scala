package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Expected survivors of one table: row count, payload columns in first-seen order, and an
  * order-insensitive digest over (pk, op, deleted, order) of every surviving row. */
final case class TableExpect(rows: Long, columns: Seq[String], digest: Long)

/** What one spool file set holds: events written, bytes, and the global start position of
  * its last line (the program's `last_offset` is that position + 1). */
final case class SpoolStats(events: Long, bytes: Long, lastLineStart: Long, files: Int)

/**
 * Independent last-write-wins model of a CDC run: plain collections, no Spark, no code of
 * the program under test. Each table keeps its first-seen column order and, per key, the
 * latest event's (op, order). Deletes survive as deleted rows, as the dedupe contract says.
 */
final class LwwModel private (
    cols: mutable.LinkedHashMap[String, mutable.LinkedHashSet[String]],
    latest: mutable.HashMap[String, mutable.LongMap[(String, Long)]]) {

  def this() = this(mutable.LinkedHashMap.empty, mutable.HashMap.empty)

  def observe(table: String, keys: Seq[String], id: Long, op: String, pos: Long): Unit = {
    val t = LwwModel.safeId(table)
    cols.getOrElseUpdate(t, mutable.LinkedHashSet.empty) ++= keys
    latest.getOrElseUpdate(t, mutable.LongMap.empty).update(id, (op, pos))
  }

  def copy(): LwwModel = new LwwModel(
    mutable.LinkedHashMap.from(cols.map { case (k, v) => k -> v.clone() }),
    mutable.HashMap.from(latest.map { case (k, v) => k -> v.clone() }))

  /** Live (not deleted) keys per table, for generators that update existing rows. */
  def liveKeys(table: String): Array[Long] =
    latest.get(LwwModel.safeId(table)).map(_.iterator.collect {
      case (id, (op, _)) if op != "d" => id
    }.toArray.sorted).getOrElse(Array.empty)

  def expected: Map[String, TableExpect] = latest.map { case (t, m) =>
    var d = 0L
    m.foreach { case (id, (op, pos)) => d += LwwModel.rowHash(id, op, op == "d", pos) }
    t -> TableExpect(m.size.toLong, cols(t).toSeq, d)
  }.toMap
}

object LwwModel {
  def safeId(table: String): String = table.replace('.', '_')

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rowHash(id: Long, op: String, deleted: Boolean, pos: Long): Long =
    mix(mix(mix(id) ^ op.hashCode.toLong) ^ (if (deleted) 1L else 2L)) ^ mix(pos)
}

/**
 * Seeded generator of routed-envelope JSONL spools
 * (`{"table":…,"op":…,"after"|"before":{…},"source":{"ts_ms":…}}`, one event per line).
 * The same seed writes byte-identical files. Every event is also fed to an [[LwwModel]], so
 * the generator returns the expected output of a dedupe run over what it wrote.
 *
 * Positions are global byte offsets over the name-sorted spool directory, so a generator
 * appending to an existing spool starts at `basePos` = the bytes already there.
 */
final class SpoolGen(dir: Path, basePos: Long, model: LwwModel) {
  private var pos = basePos
  private var lastStart = -1L
  private var events = 0L
  private var files = 0
  private var out: BufferedOutputStream = _
  private val sb = new java.lang.StringBuilder(256)

  def startFile(name: String): Unit = {
    closeFile()
    Files.createDirectories(dir)
    out = new BufferedOutputStream(new FileOutputStream(dir.resolve(name).toFile), 1 << 16)
    files += 1
  }

  /** One change event. `payload` values are JSON literals, in column order; deletes carry
    * the key alone in `before`, like a Postgres default-replica-identity delete. */
  def emit(table: String, op: String, id: Long, payload: Seq[(String, String)], tsMs: Long): Unit = {
    sb.setLength(0)
    sb.append("{\"table\":\"").append(table).append("\",\"op\":\"").append(op).append("\",")
    val fields = if (op == "d") Seq("id" -> id.toString) else ("id" -> id.toString) +: payload
    sb.append(if (op == "d") "\"before\":{" else "\"after\":{")
    var first = true
    fields.foreach { case (k, v) =>
      if (!first) sb.append(',')
      sb.append('"').append(k).append("\":").append(v)
      first = false
    }
    sb.append("},\"source\":{\"ts_ms\":").append(tsMs).append("}}\n")
    val bytes = sb.toString.getBytes(US_ASCII)
    out.write(bytes)
    model.observe(table, fields.map(_._1), id, op, pos)
    lastStart = pos
    pos += bytes.length
    events += 1
  }

  def closeFile(): Unit = if (out != null) { out.close(); out = null }

  def finish(): SpoolStats = {
    closeFile()
    SpoolStats(events, pos - basePos, lastStart, files)
  }
}

/** The benchmark's input families, each a pure function of (seed, sizes). */
object Inputs {
  val TsBase = 1700000000000L

  private def zipfWeights(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val z = w.sum
    w.map(_ / z)
  }

  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def word(r: SplittableRandom): String = {
    val n = 4 + r.nextInt(6)
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = ('a' + r.nextInt(26)).toChar; i += 1 }
    "\"" + new String(c) + "\""
  }

  final case class Churn(events: Int, tables: Int, files: Int, keysPerTableEvent: Double)

  /**
   * Churn spool: `events` routed envelopes over `tables` tables with Zipf(1.1) sizes and
   * a small key set per table, ~10% deletes. From the midpoint every event
   * carries a new `note` column (E1 inference); from 70% on, table `t00`'s long column `v`
   * receives fractional values (a long→double widening, which rewrites staged history).
   */
  def churn(dir: Path, seed: Long, c: Churn): (SpoolStats, LwwModel) = {
    val r = new SplittableRandom(seed)
    val model = new LwwModel
    val gen = new SpoolGen(dir, 0L, model)
    val cdf = zipfWeights(c.tables, 1.1).scanLeft(0.0)(_ + _).tail
    val keys = Array.tabulate(c.tables)(i =>
      math.max(8, (c.events * (if (i == 0) cdf(0) else cdf(i) - cdf(i - 1)) *
        c.keysPerTableEvent).toInt))
    val live = Array.fill(c.tables)(mutable.BitSet.empty)
    val perFile = (c.events + c.files - 1) / c.files
    var e = 0
    while (e < c.events) {
      if (e % perFile == 0) gen.startFile(f"c${e / perFile}%03d.jsonl")
      val ti = pick(cdf, r.nextDouble())
      val table = f"bench.t$ti%02d"
      val id = r.nextInt(keys(ti)).toLong
      val op =
        if (!live(ti)(id.toInt)) "c"
        else if (r.nextDouble() < 0.1) "d" else "u"
      if (op == "d") live(ti) -= id.toInt else live(ti) += id.toInt
      val v = if (ti == 0 && e >= c.events * 7 / 10) s"${r.nextInt(1000)}.5"
        else r.nextInt(1000).toString
      val base = Seq("name" -> word(r), "v" -> v, "qty" -> r.nextInt(50).toString)
      val payload = if (e >= c.events / 2) base :+ ("note" -> word(r)) else base
      gen.emit(table, op, id, payload, TsBase + e)
      e += 1
    }
    (gen.finish(), model)
  }

  final case class History(keys: Int, tables: Int, files: Int)

  /** Insert-heavy history: every key of every table inserted once, plus 5% updates; table
    * sizes Zipf(0.8)-skewed. */
  def history(dir: Path, seed: Long, h: History): (SpoolStats, LwwModel) = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val model = new LwwModel
    val gen = new SpoolGen(dir, 0L, model)
    val cdf = zipfWeights(h.tables, 0.8).scanLeft(0.0)(_ + _).tail
    val next = new Array[Long](h.tables)
    val updateShare = 0.05
    val total = h.keys + (h.keys * updateShare).toInt
    val perFile = (total + h.files - 1) / h.files
    var e = 0
    while (e < total) {
      if (e % perFile == 0) gen.startFile(f"h${e / perFile}%03d.jsonl")
      val ti = pick(cdf, r.nextDouble())
      val update = next(ti) > 0 && r.nextDouble() < updateShare
      val id = if (update) r.nextLong(next(ti)) else { next(ti) += 1; next(ti) - 1 }
      val payload = Seq("name" -> word(r), "v" -> r.nextInt(1000).toString,
        "qty" -> r.nextInt(50).toString)
      gen.emit(f"bench.h$ti%02d", if (update) "u" else "c", id, payload, TsBase + e)
      e += 1
    }
    (gen.finish(), model)
  }

  /**
   * Resume batch `n`: `events` mixed events over `touched` of the history's tables —
   * updates of live keys, inserts of new keys and deletes — appended as one new spool file
   * after `basePos` bytes. Every event of the batch carries a column named after the batch,
   * so each resume run adds a column (E1).
   */
  def resume(dir: Path, seed: Long, n: Int, basePos: Long, tables: Int, touched: Int,
      events: Int, history: LwwModel): (SpoolStats, LwwModel) = {
    val r = new SplittableRandom(LwwModel.mix(seed) ^ n.toLong)
    val model = history.copy()
    val gen = new SpoolGen(dir, basePos, model)
    val live = Array.tabulate(tables)(ti => model.liveKeys(f"bench.h$ti%02d"))
    val next = live.map(ks => if (ks.isEmpty) 0L else ks.max + 1_000_000L)
    val gone = Array.fill(tables)(mutable.HashSet.empty[Long])
    val hit = {
      val all = mutable.ArrayBuffer.range(0, tables)
      Array.fill(math.min(touched, tables))(all.remove(r.nextInt(all.size)))
    }
    gen.startFile(f"r$n%06d.jsonl")
    var e = 0
    while (e < events) {
      val ti = hit(r.nextInt(hit.length))
      val table = f"bench.h$ti%02d"
      val u = r.nextDouble()
      val (op, id) =
        if (u < 0.2 || live(ti).isEmpty) { next(ti) += 1; ("c", next(ti)) }
        else {
          val k = live(ti)(r.nextInt(live(ti).length))
          if (gone(ti)(k)) ("c", k)
          else if (u < 0.3) { gone(ti) += k; ("d", k) }
          else ("u", k)
        }
      if (op == "c") gone(ti) -= id
      val payload = Seq("name" -> word(r), "v" -> r.nextInt(1000).toString,
        "qty" -> r.nextInt(50).toString, f"x$n%06d" -> r.nextInt(9).toString)
      gen.emit(table, op, id, payload, TsBase + 10_000_000L * n + e)
      e += 1
    }
    (gen.finish(), model)
  }

  /** Self-test: the same seed writes byte-identical spools, another seed different ones. */
  def selfTest(root: Path): Seq[String] = {
    val c = Churn(events = 5000, tables = 6, files = 3, keysPerTableEvent = 0.05)
    val h = History(keys = 3000, tables = 4, files = 2)
    def bytes(d: Path): Seq[(String, Seq[Byte])] = {
      val s = Files.list(d); try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.toSeq.sortBy(_.getFileName.toString)
          .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
      } finally s.close()
    }
    def spools(tag: String, seed: Long): Seq[(String, Seq[Byte])] = {
      val d = root.resolve(s"$tag-$seed")
      churn(d.resolve("c"), seed, c)
      val (hs, hm) = history(d.resolve("h"), seed, h)
      resume(d.resolve("h"), seed, 1, hs.bytes, h.tables, 2, 500, hm)
      bytes(d.resolve("c")) ++ bytes(d.resolve("h"))
    }
    val a = spools("a", 7L); val b = spools("b", 7L); val o = spools("o", 8L)
    Seq(
      if (a == b) None else Some("same seed wrote different spools"),
      if (a.map(_._1) == o.map(_._1) && a != o) None
      else Some("another seed wrote the same spools (or other file names)"),
      if (a.nonEmpty) None else Some("no spool files written")).flatten
  }
}
