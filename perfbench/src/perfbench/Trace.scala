package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `file:` filesystem that counts the metadata and open/create calls made through it.
  * Installed as `fs.file.impl` for traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.calls
  override def getFileStatus(f: Path): FileStatus = { calls.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { calls.incrementAndGet(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    calls.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    calls.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { calls.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    calls.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    calls.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val calls = new AtomicLong(0)
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int],
    batchId: Option[Long], site: String)

final case class StageRec(id: Int, startMs: Long, endMs: Long, tasks: Int, taskMs: Long,
    shuffleBytes: Long, inputBytes: Long, outputBytes: Long, spillBytes: Long)

final case class Progress(batchId: Long, startMs: Long, durations: Map[String, Long], rows: Long,
    endOffset: String)

/** Collects job, stage and streaming-progress records while enabled. */
final class Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val progress = mutable.ArrayBuffer.empty[Progress]
  /** SQL execution id → where in the program it was submitted from. */
  val executionSites = mutable.HashMap.empty[Long, String]
  @volatile var terminatedFsCalls = -1L
  @volatile var enabled = false

  // Jobs inside a micro-batch all carry the stream's start call site, so jobs are
  // attributed through their SQL execution: its call stack and its plan's output paths.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if enabled => synchronized {
      executionSites(x.executionId) = Trace.site(x.details, x.physicalPlanDescription)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds,
      prop("streaming.sql.batchId").map(_.toLong),
      prop("spark.sql.execution.id").flatMap(id => executionSites.get(id.toLong)).getOrElse("other"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages(si.stageId) = StageRec(si.stageId,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) Recorder.this.synchronized {
        val p = e.progress
        progress += Progress(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
          p.sources.headOption.map(_.endOffset).getOrElse(""))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (enabled) terminatedFsCalls = CountingLocalFileSystem.calls.get()
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); progress.clear(); executionSites.clear()
    terminatedFsCalls = -1L
  }
}

/** A span of the trace tree; times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String, startMs: Long,
    endMs: Long, attrs: Map[String, Any] = Map.empty) {
  def ms: Long = endMs - startMs
}

/** In-memory span store: spans are appended as ops finish and written once, at run end. */
final class SpanLog {
  val spans = mutable.ArrayBuffer.empty[Span]
  def add(parent: Int, kind: String, name: String, startMs: Long, endMs: Long,
      attrs: Map[String, Any] = Map.empty): Int = {
    val id = spans.size
    spans += Span(id, parent, kind, name, startMs, endMs, attrs)
    id
  }

  /** Self time of each span: its duration minus the union of its children's intervals. */
  def selfMs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      s.id -> math.max(0L, s.ms - Trace.unionMs(ivs.toSeq))
    }.toMap
  }

  def setTimes(id: Int, startMs: Long, endMs: Long): Unit =
    spans(id) = spans(id).copy(startMs = startMs, endMs = endMs)

  /** The spans as rows for the trace file, each with its derived self time. */
  def rows: Seq[ListMap[String, Any]] = {
    val self = selfMs
    spans.toSeq.map { s =>
      ListMap[String, Any]("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "dur_ms" -> s.ms, "self_ms" -> self(s.id)) ++ s.attrs
    }
  }
}

object Trace {
  /** Total length of the union of intervals. */
  def unionMs(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Where in the program a SQL execution was submitted from, judged by the path its plan
    * writes to (staging appends, staging retype rewrites) or else by its user call stack. */
  def site(callSite: String, plan: String): String = {
    // the formatted plan lists the write target as the Arguments line of the write node
    val lines = plan.linesIterator.toSeq
    val node = lines.indexWhere(l => l.startsWith("(") && l.contains(") Execute InsertIntoHadoopFsRelationCommand"))
    val written = if (node < 0) "" else lines.drop(node).find(_.startsWith("Arguments:")).getOrElse("")
    if (written.contains("/staging/.retype_")) "StagingCatalog.retype"
    else if (written.contains("/staging/")) "staging-write"
    else if (callSite.contains("CsvManifestSink")) "CsvManifestSink"
    else if (callSite.contains("StagingCatalog")) "StagingCatalog"
    else if (callSite.contains("graft.operators.Cdc")) "Cdc"
    else if (callSite.contains("CdcRunner")) "CdcRunner"
    else "other"
  }
}
