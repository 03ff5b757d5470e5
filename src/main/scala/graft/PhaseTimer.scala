package graft

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** The one measurement path: per-phase wall and Spark counters for the
  * multi-phase "lifecycle bundle" queries, and per-query counters for
  * [[Bench]]. A bundle lambda opens a record with [[start]] and wraps
  * its internal actions in the returned recorder; every phase records
  * its wall, and — once [[Bench]] installed the listener ([[listen]]) —
  * the Spark jobs and tasks it ran, their executor CPU and GC time, and
  * the part of its wall during which no job ran (`outside_jobs_s`).
  *
  * Attribution is by time window, never by thread-local label: a job
  * belongs to the innermost phase open when it started, a task to the
  * innermost phase open when it launched, so jobs submitted from the
  * shared store pool or a streaming query's own thread count like any
  * other. While listening, every phase boundary waits for the next
  * millisecond (Spark stamps events in wall-clock ms), so a job started
  * before a boundary and one started after it never share a stamp with
  * it. `jobs`, `tasks`, `cpu_s` and `gc_s` count only what no nested
  * phase claimed, so they sum across phases; `wall_s` and
  * `outside_jobs_s` cover the phase's whole window.
  *
  * Memory contract: [[start]] REPLACES the query's in-flight record,
  * so callers outside Bench (Verify, specs) hold at most one record
  * per query. The listener keeps events only until the next
  * [[measure]], which forgets them all. Phase names repeat freely
  * (s11 snapshots stats four times); [[measure]] sums same-named
  * phases. */
object PhaseTimer {
  /** Counter names, in publishing order. */
  val Keys: Seq[String] = Seq("wall_s", "jobs", "tasks", "cpu_s", "gc_s", "outside_jobs_s")

  private final class Window(val name: String) {
    val openMs: Long = boundary()
    private val t0 = System.nanoTime()
    @volatile var closeMs: Long = Long.MaxValue
    @volatile var wall: Double = 0.0
    def close(): Unit = { wall = (System.nanoTime() - t0) / 1e9; closeMs = boundary() }
    def holds(t: Long): Boolean = t > openMs && t <= closeMs
  }

  final class Rec private[PhaseTimer] (query: String, buf: mutable.ArrayBuffer[Window]) {
    /** Run `body` as phase `name`. Also labels the phase's Spark jobs
      * (`"<query>: <name>"`) for the UI and the event log; the label
      * is thread-local and the PREVIOUS one is restored after the
      * phase, so a nested phase hands its outer phase's label back. */
    def apply[T](name: String)(body: => T): T = {
      val sc = org.apache.spark.sql.SparkSession.getActiveSession.map(_.sparkContext)
      val prev = sc.map(_.getLocalProperty("spark.job.description"))
      sc.foreach(_.setJobDescription(s"$query: $name"))
      val w = new Window(name)
      try body
      finally {
        w.close()
        buf.synchronized { buf += w }
        sc.zip(prev).foreach { case (c, p) => c.setJobDescription(p) }
      }
    }
  }

  private val runs = new java.util.concurrent.ConcurrentHashMap[String, mutable.ArrayBuffer[Window]]()

  def start(query: String): Rec = {
    val buf = mutable.ArrayBuffer[Window]()
    runs.put(query, buf)
    new Rec(query, buf)
  }

  /** Run `body` as the whole window of `query` — [[Bench]]'s timed
    * region: `wall_s` is the monotonic time of `body` alone — then
    * drain: remove the query's record and forget every listener event.
    * Returns body's result, the window's counters (every job and task
    * in it), and the record's phases, in order of completion with
    * same-named phases summed, followed by the residual phase `exec`
    * (query minus the phases: the deferred execution of the frame a
    * bundle returns); no phases for a non-bundle query. Without the
    * listener the job and task counters read 0. */
  private[graft] def measure(query: String)(body: => Boolean)
      : (Boolean, Map[String, Double], Seq[(String, Map[String, Double])]) = {
    val w = new Window(query)
    val ok = try body finally w.close()
    listening.foreach(drainBus)
    val ws = Option(runs.remove(query)).map(b => b.synchronized(b.toList)).getOrElse(Nil)
    val (q, phases) = Events.take { (jobs, tasks) =>
      def innermost(t: Long) = ws.filter(_.holds(t)).maxByOption(_.openMs)
      val phases = mutable.LinkedHashMap[String, Map[String, Double]]()
      ws.foreach { p =>
        val c = counters(p, jobs, tasks, t => innermost(t).contains(p))
        phases(p.name) = phases.get(p.name).fold(c)(o => Keys.map(k => k -> (o(k) + c(k))).toMap)
      }
      (counters(w, jobs, tasks, w.holds), phases.toSeq)
    }
    val exec = Keys.map(k => k -> math.max(0.0, q(k) - phases.map(_._2(k)).sum)).toMap
    (ok, q, if (phases.isEmpty) phases else phases :+ ("exec" -> exec))
  }

  /** Install the listener on `sc` — [[Bench]] only; library code never
    * listens. */
  private[graft] def listen(sc: SparkContext): Unit = synchronized {
    sc.addSparkListener(Events)
    listening = Some(sc)
  }

  private[graft] def stopListening(): Unit = synchronized {
    listening.foreach(_.removeSparkListener(Events))
    listening = None
    Events.take((_, _) => ())
  }

  /** Events held by the listener (0 after every [[measure]]). */
  private[graft] def heldEvents: Int = Events.held

  @volatile private var listening: Option[SparkContext] = None

  private def boundary(): Long = {
    val ms = System.currentTimeMillis()
    if (listening.isDefined)
      while (System.currentTimeMillis() <= ms) Thread.sleep(0, 200000)
    ms
  }

  /** Deliver every queued listener event (`waitUntilEmpty` is
    * private[spark] at the Scala level only). */
  private def drainBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private def counters(w: Window, jobs: Seq[(Long, Long)], tasks: Seq[(Long, Long, Long)],
                       own: Long => Boolean): Map[String, Double] = {
    val mine = tasks.filter(t => own(t._1))
    val busy = jobs.filter(j => w.holds(j._1)).map { case (s, e) => (s, math.min(e, w.closeMs)) }
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e)) }._1
    Map("wall_s" -> w.wall, "jobs" -> jobs.count(j => own(j._1)).toDouble,
      "tasks" -> mine.size.toDouble, "cpu_s" -> mine.map(_._2).sum / 1e9,
      "gc_s" -> mine.map(_._3).sum / 1e3, "outside_jobs_s" -> math.max(0.0, w.wall - busy / 1e3))
  }

  /** Job (start ms, end ms) and task (launch ms, cpu ns, gc ms) events. */
  private object Events extends SparkListener {
    private val jobs = mutable.Map[Int, (Long, Long)]()
    private val tasks = mutable.ArrayBuffer[(Long, Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs(e.jobId) = (e.time, Long.MaxValue) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(j => jobs(e.jobId) = (j._1, e.time)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        tasks += ((e.taskInfo.launchTime, m.executorCpuTime, m.jvmGCTime))
      }
    }

    def held: Int = synchronized(jobs.size + tasks.size)

    /** Apply `f` to the events held, then forget them all. */
    def take[T](f: (Seq[(Long, Long)], Seq[(Long, Long, Long)]) => T): T = synchronized {
      try f(jobs.values.toSeq, tasks.toSeq) finally { jobs.clear(); tasks.clear() }
    }
  }
}
