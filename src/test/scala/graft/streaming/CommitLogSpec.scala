package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import graft.SparkSpec

/** The shared commit log: committed ids, the reset guard, the prune and the marker
  * log, checked as properties over random store roots; plus the one-listing-per-wave
  * contract of a versioned store. */
class CommitLogSpec extends SparkSpec {

  private val fs = FileSystem.getLocal(new Configuration())
  private val TwoTables = Seq("words/_SUCCESS", "phrases/_SUCCESS")

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(60), p)
    assert(r.passed, Pretty.pretty(r))
  }

  private def touch(p: Path): Unit = fs.create(p, true).close()

  /** A version dir as a crash can leave it: all markers, none, or only the first. */
  sealed trait Kind
  case object Committed extends Kind
  case object Junk extends Kind
  case object Half extends Kind

  private def writeVersion(root: Path, id: Long, kind: Kind, markers: Seq[String]): Unit = {
    val d = new Path(root, s"v=$id")
    fs.delete(d, true)
    fs.mkdirs(d)
    val present = kind match {
      case Committed => markers
      case Junk => Nil
      case Half => markers.take(1)
    }
    present.foreach(m => touch(new Path(d, m)))
    touch(new Path(d, "part-00000.parquet"))
  }

  /** A random store root: distinct version ids, each committed, junk or half-committed,
    * beside a `meta` file and a marker file that the prune must leave alone. */
  private val genStore: Gen[(Map[Long, Kind], Boolean)] = for {
    ids <- Gen.containerOf[Set, Long](Gen.choose(0L, 30L))
    kinds <- Gen.listOfN(ids.size, Gen.oneOf(Committed, Junk, Half))
    twoTables <- Gen.oneOf(true, false)
  } yield (ids.toSeq.zip(kinds).toMap, twoTables)

  private def materialize(store: Map[Long, Kind], markers: Seq[String]): Path = {
    val root = new Path(Files.createTempDirectory("graft-commitlog").toString)
    store.foreach { case (id, k) => writeVersion(root, id, k, markers) }
    touch(new Path(root, "meta"))
    touch(new Path(root, "_batch_7"))
    root
  }

  private def committedOf(store: Map[Long, Kind], twoTables: Boolean): Seq[Long] =
    store.collect {
      case (id, Committed) => id
      case (id, Half) if !twoTables => id // one marker is all a one-table version has
    }.toSeq.sorted

  test("committed ids: exactly the dirs whose every marker exists") {
    check(Prop.forAll(genStore) { case (store, twoTables) =>
      val markers = if (twoTables) TwoTables else Seq("_SUCCESS")
      val root = materialize(store, markers)
      try CommitLog.list(fs, root.toString).versions(markers = markers).ids ==
        committedOf(store, twoTables)
      finally fs.delete(root, true): Unit
    })
    assert(CommitLog.list(fs, "/nonexistent/graft-commitlog").versions().ids.isEmpty)
  }

  test("reset guard throws iff the incoming id is below the newest committed one") {
    check(Prop.forAll(genStore, Gen.choose(-1L, 32L)) { case ((store, twoTables), in) =>
      val markers = if (twoTables) TwoTables else Seq("_SUCCESS")
      val root = materialize(store, markers)
      try {
        val vs = CommitLog.list(fs, root.toString).versions(markers = markers)
        val threw =
          try { vs.guard("test state", in); false }
          catch {
            case e: IllegalStateException =>
              assert(e.getMessage.contains("checkpoint was reset"), e.getMessage); true
          }
        threw == committedOf(store, twoTables).lastOption.exists(_ > in)
      } finally fs.delete(root, true): Unit
    })
  }

  test("prune after a commit keeps the two newest committed versions, nothing else") {
    check(Prop.forAll(genStore, Gen.choose(0L, 3L)) { case ((store, twoTables), ahead) =>
      val markers = if (twoTables) TwoTables else Seq("_SUCCESS")
      val root = materialize(store, markers)
      try {
        val committed = committedOf(store, twoTables)
        // a batch the guard admits: a replay of the newest committed id, or a newer one
        val b = committed.lastOption.getOrElse(0L) + ahead
        val vs = CommitLog.list(fs, root.toString).versions(markers = markers)
        writeVersion(root, b, Committed, markers) // the batch's own commit
        vs.prune(b)
        val left = fs.listStatus(root).map(_.getPath.getName).toSet
        val expectV = (committed.filter(_ < b) :+ b).takeRight(2).map(v => s"v=$v").toSet
        left.filter(_.startsWith("v=")) == expectV &&
          left.contains("meta") && left.contains("_batch_7")
      } finally fs.delete(root, true): Unit
    })
  }

  test("marker log: max, record, guard and the data-file count") {
    val genLog = for {
      marked <- Gen.containerOf[Set, Long](Gen.choose(0L, 40L))
      nData <- Gen.choose(0, 5)
      in <- Gen.choose(0L, 42L)
    } yield (marked, nData, in)
    check(Prop.forAll(genLog) { case (marked, nData, in) =>
      val root = Files.createTempDirectory("graft-markerlog").toString
      try {
        marked.foreach(m => CommitLog.mark(fs, root, m))
        (0 until nData).foreach(i => touch(new Path(root, f"part-$i%05d.parquet")))
        fs.mkdirs(new Path(root, "batch=0")) // an output dir, not a data file
        val log = CommitLog.list(fs, root)
        val threw =
          try { CommitLog.guard("test store", root, log.maxMarked(), in); false }
          catch { case e: IllegalStateException => e.getMessage.contains("checkpoint was reset") }
        CommitLog.mark(fs, root, in)
        log.maxMarked() == marked.maxOption &&
          log.dataFiles.length == nData && // marker files and their .crc twins excluded
          threw == marked.maxOption.exists(_ > in) &&
          CommitLog.list(fs, root).maxMarked() == Some((marked + in).max) &&
          CommitLog.list(fs, root).maxMarked("_applied_").isEmpty
      } finally fs.delete(new Path(root), true): Unit
    })
  }

  test("GroupingSetsMv.applyBatch lists its state root once per wave") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-commitlog-mv").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      for (b <- 0 to 3) {
        val wave = Seq((b.toLong, "all", 100L * b), (b.toLong + 1, "all", 7L))
          .toDF("k", "scope", "c")
        CountingFs.listed.clear()
        GroupingSetsMv.applyBatch(wave, b.toLong, root, "k", "scope", "c")
        val rootListings = CountingFs.listed.asScala.count(_ == new Path(root).toString)
        assert(rootListings == 1, s"wave $b listed the state root $rootListings times")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    val vs = CommitLog.list(spark, root).versions()
    assert(vs.ids == Seq(2L, 3L), s"prune must keep the two newest versions: ${vs.ids}")
  }
}

/** A local file system that records every directory it lists (scheme stripped). */
class CountingFs extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.listed.add(Path.getPathWithoutSchemeAndAuthority(p).toString)
    super.listStatus(p)
  }
}

object CountingFs {
  val listed = new ConcurrentLinkedQueue[String]()
}
