package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The local filesystem with a count of metadata and data operations.
  * Hadoop's own statistics do not count local listings or renames, so a
  * traced run installs this class as `fs.file.impl`. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.ops
  override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path) = { ops.incrementAndGet(); super.listLocatedStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { ops.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { ops.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { ops.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { ops.incrementAndGet(); super.mkdirs(f, permission) }
}

object Tracer {
  private final case class Job(start: Long, var end: Long)
  private final case class Task(launch: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long)
}

object CountingLocalFileSystem {
  val ops = new AtomicLong
}

/** One timed library call. Windows are wall-clock milliseconds, the clock
  * Spark stamps its job, task and planning events with; `wall` is measured
  * with the monotonic clock. */
final case class Span(name: String, startMs: Long, endMs: Long, wall: Double,
                      fsOps: Long, filesLive: Option[Long])

/** Times spans around library calls and, when `detailed`, attributes
  * Spark jobs, tasks, CPU, shuffle, spill, planning and filesystem
  * operations to them. Attribution is by time window — a job belongs to
  * the span its start time falls in, a task to the span its launch time
  * falls in — never by thread-local job group, so work the library
  * submits from its own thread pools is attributed like any other.
  * Spans therefore must not overlap; [[span]] starts each one on a
  * later millisecond than the previous one ended. */
final class Tracer(spark: SparkSession, val detailed: Boolean)
    extends SparkListener with QueryExecutionListener {

  import Tracer.{Job, Task}

  private val taskCpuNs = new AtomicLong
  private val jobs = mutable.Map[Int, Job]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val plans = mutable.ArrayBuffer[(Long, Long)]() // (phase start ms, duration ms)
  private val spans = mutable.ArrayBuffer[Span]()
  private var lastEndMs = 0L
  private val callbackNs = new AtomicLong // time spent recording events

  spark.sparkContext.addSparkListener(this)
  if (detailed) spark.listenerManager.register(this)

  private def record(body: => Unit): Unit = if (detailed) {
    val t0 = System.nanoTime()
    synchronized(body)
    callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    record { jobs(e.jobId) = Job(e.time, Long.MaxValue) }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    record { jobs.get(e.jobId).foreach(_.end = e.time) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      record {
        tasks += Task(e.taskInfo.launchTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)
  private def recordPlan(qe: QueryExecution): Unit =
    record { qe.tracker.phases.values.foreach(p => plans += (p.startTimeMs -> p.durationMs)) }

  /** Seconds the tracer spent recording events since the last [[reset]]:
    * listener-bus time taken from the workload by tracing. */
  def callbackSeconds: Double = { drain(); callbackNs.get / 1e9 }

  /** Executor-task CPU seconds of every task finished so far. */
  def cpuSeconds: Double = { drain(); taskCpuNs.get / 1e9 }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Time `body` as span `name`. `filesLive` is a count the caller took
    * just before the call (the store's data files, for probes). */
  def span[T](name: String, filesLive: Option[Long] = None)(body: => T): T = {
    var startMs = System.currentTimeMillis()
    while (startMs <= lastEndMs) { Thread.sleep(0, 200000); startMs = System.currentTimeMillis() }
    val ops0 = CountingLocalFileSystem.ops.get
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      lastEndMs = endMs
      System.err.println(f"perfbench span $name $wall%.3f s")
      synchronized {
        spans += Span(name, startMs, endMs, wall, CountingLocalFileSystem.ops.get - ops0, filesLive)
      }
    }
  }

  /** Spans recorded since the last call, and forget them together with
    * the events they cover. */
  def takeSpans(): Seq[Span] = { drain(); synchronized { val s = spans.toList; spans.clear(); s } }

  /** Per-span counters for `ss`, from the events recorded while they ran;
    * clears the event buffers. */
  def attribute(ss: Seq[Span]): Seq[(Span, Map[String, Double])] = {
    drain()
    synchronized {
      val out = ss.map { s =>
        def in(t: Long) = t >= s.startMs && t <= s.endMs
        val js = jobs.values.filter(j => in(j.start)).toSeq
        val ts = tasks.filter(t => in(t.launch))
        val busyMs = unionMs(js.map(j => (j.start, math.min(j.end, s.endMs))))
        val c = Map(
          "wall_s" -> s.wall,
          "outside_jobs_s" -> math.max(0.0, s.wall - busyMs / 1e3),
          "plan_s" -> plans.filter(p => in(p._1)).map(_._2).sum / 1e3,
          "jobs" -> js.size.toDouble,
          "tasks" -> ts.size.toDouble,
          "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
          "shuffle_mb" -> ts.map(_.shuffleBytes).sum / 1e6,
          "spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
          "fs_ops" -> s.fsOps.toDouble) ++
          s.filesLive.map(n => "files_live" -> n.toDouble)
        s -> c
      }
      jobs.clear(); tasks.clear(); plans.clear()
      out
    }
  }

  /** Events recorded outside every span in `ss` (jobs), after which the
    * buffers are cleared — a nonzero count means a call escaped its span. */
  def unattributedJobs(ss: Seq[Span]): Int = synchronized {
    jobs.values.count(j => !ss.exists(s => j.start >= s.startMs && j.start <= s.endMs))
  }

  /** Forget recorded events and spans (used between passes). */
  def reset(): Unit = {
    drain()
    synchronized { jobs.clear(); tasks.clear(); plans.clear(); spans.clear() }
    callbackNs.set(0)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}
