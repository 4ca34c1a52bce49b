package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run. The listeners and the counting
  * filesystem below are installed only through the traced session's
  * config; they record while `on` is set and the harness reads deltas of
  * `snapshot()` around each op, after draining the listener bus. */
object Trace {
  @volatile var on = false

  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val triggers = new ConcurrentLinkedQueue[java.lang.Double]()

  def add(key: String, v: Double): Unit =
    if (on) counters.computeIfAbsent(key, _ => new DoubleAdder).add(v)

  def jobStarted(id: Int, t: Long): Unit = if (on) {
    jobStarts.put(id, t); add("exec.jobs", 1)
  }
  def jobEnded(id: Int, t: Long): Unit =
    Option(jobStarts.remove(id)).foreach(s => jobSpans.add((s.longValue, t)))
  def trigger(seconds: Double): Unit = if (on) triggers.add(seconds)

  /** Job (start, end) epoch-ms intervals finished since the last call. */
  def takeJobSpans(): Seq[(Long, Long)] =
    Iterator.continually(jobSpans.poll()).takeWhile(_ != null).toSeq
  /** Trigger durations (s) recorded since the last call. */
  def takeTriggers(): Seq[Double] =
    Iterator.continually(triggers.poll()).takeWhile(_ != null).map(_.doubleValue).toSeq

  /** Monotonic totals: listener counters, `file:` filesystem byte counts,
    * JVM GC and JIT time, and codegen compiles. */
  def snapshot(): Map[String, Double] = {
    val fsStats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    val jvm = Map(
      "fs.bytes_read" -> fsStats.map(_.getBytesRead).sum.toDouble,
      "fs.bytes_written" -> fsStats.map(_.getBytesWritten).sum.toDouble,
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ > 0).sum / 1e3,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "codegen.compiles" -> org.apache.spark.PerfbenchBridge.codegenCompiles.toDouble)
    counters.asScala.map { case (k, v) => k -> v.sum }.toMap ++ jvm
  }
}

/** Job, stage and task events: the `exec` layer. */
class JobTrace extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStarted(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnded(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.add("exec.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Trace.add("exec.task_s", m.executorRunTime / 1e3)
      Trace.add("exec.task_gc_s", m.jvmGCTime / 1e3)
      Trace.add("exec.scan_rows", m.inputMetrics.recordsRead.toDouble)
      Trace.add("exec.scan_bytes", m.inputMetrics.bytesRead.toDouble)
      Trace.add("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Trace.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => Trace.add("catalyst.aqe_replans", 1)
    case _ => ()
  }
}

/** Catalyst phase times of every executed query, in every session
  * (registered through the static `spark.sql.queryExecutionListeners`). */
class PlanTrace extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def s(p: String): Double = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    Trace.add("catalyst.plans", 1)
    Trace.add("catalyst.analysis_s", s("analysis"))
    Trace.add("catalyst.optimizer_s", s("optimization"))
    Trace.add("catalyst.planning_s", s("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Per-trigger `durationMs` of every streaming query, in every session. */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val d = e.progress.durationMs.asScala
    def s(k: String): Double = d.get(k).map(_.longValue / 1e3).getOrElse(0.0)
    Trace.add("streaming.triggers", 1)
    Trace.add("streaming.add_batch_s", s("addBatch"))
    Trace.add("streaming.wal_commit_s", s("walCommit"))
    Trace.add("streaming.commit_offsets_s", s("commitOffsets"))
    Trace.add("streaming.query_planning_s", s("queryPlanning"))
    Trace.add("streaming.latest_offset_s", s("latestOffset"))
    Trace.add("streaming.input_rows", e.progress.numInputRows.toDouble)
    Trace.trigger(s("triggerExecution"))
  }
}

/** The `file:` Hadoop filesystem with per-call counters: the file I/O of
  * `sources`, `core.EpochManifest` and streaming checkpoints. */
class CountingFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    Trace.add("fs.creates", 1)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Trace.add("fs.renames", 1); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Trace.add("fs.deletes", 1); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    Trace.add("fs.mkdirs", 1); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Trace.add("fs.mkdirs", 1); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    Trace.add("fs.lists", 1); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Trace.add("fs.opens", 1); super.open(f, bufferSize)
  }
}
