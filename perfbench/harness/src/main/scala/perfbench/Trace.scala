package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the shared SparkContext's listener bus delivers, kept in
  * memory with its wall-clock time so the runner can assign it to a pass
  * and a row afterwards. Stream rows run on child sessions, so progress
  * is taken from `onOtherEvent` at the SparkContext, which sees every
  * session's queries. Micro-batch progress is always recorded (it feeds
  * end-to-end metrics); jobs, stages, tasks and plans only while
  * [[Trace.on]] is set. */
object Trace extends SparkListener {
  @volatile var on = false

  final case class JobRec(start: Long, end: Long, stages: Int)
  final case class StageRec(id: Int, completed: Long)
  final case class TaskRec(stage: Int, finish: Long, runMs: Long, cpuNs: Long,
                           inBytes: Long, inRecords: Long, shReadBytes: Long,
                           shWriteBytes: Long, shWriteRecords: Long,
                           resultBytes: Long, resultStage: Boolean)
  final case class ActionRec(end: Long, durMs: Double, planMs: Double,
                             scanFiles: Long, scanMs: Long)

  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val started = new AtomicLong()
  val terminated = new AtomicLong()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val actions = new ConcurrentLinkedQueue[ActionRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case _: StreamingQueryListener.QueryStartedEvent => started.incrementAndGet()
    case e: StreamingQueryListener.QueryProgressEvent => progress.add(e.progress)
    case _: StreamingQueryListener.QueryTerminatedEvent => terminated.incrementAndGet()
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) jobStarts.put(e.jobId, (e.time, e.stageIds.size))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, n) =>
      jobs.add(JobRec(t0, e.time, n))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.completionTime.getOrElse(0L)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      val r = m.shuffleReadMetrics
      val w = m.shuffleWriteMetrics
      tasks.add(TaskRec(e.stageId, e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        r.remoteBytesRead + r.localBytesRead, w.bytesWritten,
        w.recordsWritten, m.resultSize,
        e.taskType == "ResultTask"))
    }

  /** Blocks until every started stream's terminated event has been
    * delivered; the bus delivers in order, so its progress events have
    * been delivered too. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (terminated.get < started.get && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // task and job ends posted just before the last action returned
  }
}

/** Planning time and file-scan metrics of every Dataset action, from the
  * public listener API. Installed through the static
  * `spark.sql.queryExecutionListeners` conf in the traced run, so every
  * session, child sessions of stream rows included, gets an instance. */
class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.on) {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum.toDouble
      val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      Trace.actions.add(Trace.ActionRec(System.currentTimeMillis(), durationNs / 1e6,
        planMs, scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "scanTime")).sum))
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The local filesystem with per-operation counters, installed as
  * `fs.file.impl` in the traced run only. Counts what goes through the
  * Hadoop `FileSystem` API; checkpoint files written through
  * `FileContext` and `java.nio` calls are not seen. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  private def count(c: AtomicLong): Unit = if (Trace.on) c.incrementAndGet()

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    count(creates)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { count(renames); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { count(deletes); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { count(lists); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { count(opens); super.open(f, bufferSize) }
}

object CountingFileSystem {
  val creates, renames, deletes, lists, opens = new AtomicLong()
  def snapshot: Map[String, Long] = Map("creates" -> creates.get, "renames" -> renames.get,
    "deletes" -> deletes.get, "lists" -> lists.get, "opens" -> opens.get)
}

/** Minimal JSON writer for the raw record the runner hands to run.py. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: java.util.Map[_, _] => apply(m.asScala)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
