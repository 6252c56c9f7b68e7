package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one run: harness spans around the calls into each
  * layer, Spark jobs and query plans from the listener bus, and file-system
  * counts. Only a traced run installs the listeners and the counting file
  * system, and it records only while `on` is set (its timed phase). Times
  * are epoch milliseconds with sub-ms digits, derived from
  * `System.nanoTime` so that spans and listener events share one clock. */
object Trace {
  @volatile var on = false

  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  final case class Span(name: String, start: Double, end: Double, parent: Int, op: Int)
  val spans = ArrayBuffer.empty[Span]

  /** Record a finished span; returns its id for children to name as parent. */
  def span(name: String, start: Double, end: Double, parent: Int, op: Int): Int =
    synchronized { spans += Span(name, start, end, parent, op); spans.length - 1 }

  final case class Job(group: String, start: Double, var end: Double,
                       var taskMs: Double = 0, var inputBytes: Long = 0,
                       var shuffleBytes: Long = 0, var spillBytes: Long = 0,
                       var writtenBytes: Long = 0)
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  /** SQL execution starts; `write` marks a file-writing command. */
  final case class Sql(start: Double, write: Boolean)
  val sqls = ArrayBuffer.empty[Sql]

  final case class Plan(start: Double, planMs: Double)
  val plans = ArrayBuffer.empty[Plan]

  /** Named counters a workload adds to from its own harness code. */
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit =
    synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }
}

/** Spark jobs on the SparkContext bus, with the task metrics of their
  * stages; `spark.jobGroup.id` (`graft-<routeId>-<uuid>`) names the route
  * that ran them. */
final class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.on) Trace.synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    Trace.jobs(e.jobId) = Trace.Job(group, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => Trace.stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
    Trace.jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if Trace.on => Trace.synchronized {
      Trace.sqls += Trace.Sql(s.time.toDouble,
        s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
    }
    case _ => ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
    for (jid <- Trace.stageJob.get(e.stageId); j <- Trace.jobs.get(jid);
         m <- Option(e.taskMetrics)) {
      j.taskMs += m.executorRunTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.writtenBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Planning time (analysis + optimization + planning phases) of every
  * query execution. Registered through the static
  * `spark.sql.queryExecutionListeners` conf, so every session — including
  * the `newSession()` each graft execution runs in — reports here. */
final class PlanListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = if (Trace.on) {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) Trace.synchronized {
      Trace.plans += Trace.Plan(phases.map(_.startTimeMs).min.toDouble,
        phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    }
  }
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** A `LocalFileSystem` that counts the calls made on it (Hadoop's own
  * statistics stay 0 for the local file system). Only the outermost call
  * of a thread counts, so one `exists` is one metadata op however the
  * checksum layer implements it. */
final class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  private def counted[T](c: AtomicLong)(body: => T): T = {
    val d = depth.get
    if (d == 0 && Trace.on) c.incrementAndGet()
    depth.set(d + 1)
    try body finally depth.set(d)
  }
  override def getFileStatus(p: Path): FileStatus = counted(meta)(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = counted(meta)(super.listStatus(p))
  override def listStatusIterator(p: Path) = counted(meta)(super.listStatusIterator(p))
  override def listLocatedStatus(p: Path) = counted(meta)(super.listLocatedStatus(p))
  override def listLocatedStatus(p: Path, f: PathFilter) =
    counted(meta)(super.listLocatedStatus(p, f))
  override def mkdirs(p: Path): Boolean = counted(meta)(super.mkdirs(p))
  override def mkdirs(p: Path, perm: FsPermission): Boolean = counted(meta)(super.mkdirs(p, perm))
  override def rename(a: Path, b: Path): Boolean = counted(meta)(super.rename(a, b))
  override def delete(p: Path, recursive: Boolean): Boolean =
    counted(meta)(super.delete(p, recursive))
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) =
    counted(creates)(super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress))
}

object CountingLocalFileSystem {
  val meta = new AtomicLong
  val creates = new AtomicLong
  private val depth = ThreadLocal.withInitial[Int](() => 0)
}
