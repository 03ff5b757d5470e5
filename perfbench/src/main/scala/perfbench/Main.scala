package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** What a timed pass leaves besides its spans: figures of its own the
  * spans cannot give (a store's size on disk), and the output check, run
  * once the pass's CPU has been read. */
final case class PassOut(extra: Seq[(String, Double)], check: () => Seq[String])

trait Workload {
  /** Generate the seeded inputs under `dir` (parquet + facts.json). */
  def generate(seed: Long, dir: String): Unit
  /** One timed pass over the generated inputs; scratch output under `out`. */
  def pass(t: Tracer, dir: String, out: String): PassOut
  /** One pass's figures of this workload alone (a probe latency, an
    * epoch), from the walls of its spans. They are printed on stderr
    * with their quartiles; the result line holds only the metrics every
    * workload reports. */
  def samples(spans: Seq[Span]): Seq[(String, Double)]
}

/** Workloads run back to back in one pass, each on its own inputs and
  * output directory; a pass's spans, figures and checks are theirs. */
final class Chain(parts: Workload*) extends Workload {
  private def sub(dir: String, i: Int) = s"$dir/part-$i"
  def generate(seed: Long, dir: String): Unit =
    parts.zipWithIndex.foreach { case (w, i) => w.generate(seed, sub(dir, i)) }
  def pass(t: Tracer, dir: String, out: String): PassOut = {
    val outs = parts.zipWithIndex.map { case (w, i) => w.pass(t, sub(dir, i), sub(out, i)) }
    PassOut(outs.flatMap(_.extra), () => outs.flatMap(_.check()))
  }
  def samples(spans: Seq[Span]): Seq[(String, Double)] = parts.flatMap(_.samples(spans))
}

/** Runs one workload for a time budget and prints one JSON result line:
  *
  *   perfbench.Main --workload batch|index --seed N --seconds S
  *                  --trace 0|1 --work DIR
  *
  * Set-up is reported as `setup_s`: session start plus input generation
  * (repeated three times, the median kept). Timed passes then run from a
  * cold start until `--seconds` have elapsed, at least one. A cold pass
  * is what a batch job or an ingest client started afresh pays. Every
  * workload reports the same metrics: untraced, `setup_s` and `pass_s` (the median pass wall);
  * traced, the median over passes of a pass's totals per layer of the
  * stack (driver, planner, scheduler, executors, shuffle, filesystem)
  * over its spans, of the time the tracer's own callbacks took
  * (`trace.overhead_s`) and of the share of the pass wall the spans
  * cover. The workload's own figures (a probe latency, an epoch, the
  * pass's executor CPU) and, traced, every span's counters go to stderr
  * with their quartiles. Exits 1 when an output check fails. */
object Main {

  /** Layer metric → (span counter summed over a pass's spans, unit). */
  val Layers: Seq[(String, String, String)] = Seq(
    ("driver.outside_jobs_s", "outside_jobs_s", "s"),
    ("sql.plan_s", "plan_s", "s"),
    ("scheduler.jobs", "jobs", "count"),
    ("scheduler.tasks", "tasks", "count"),
    ("executor.cpu_s", "cpu_s", "s"),
    ("shuffle.write_mb", "shuffle_mb", "MB"),
    ("fs.ops", "fs_ops", "count"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = opts.getOrElse(k, sys.error(s"--$k is required"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new File(arg("work")).getAbsoluteFile
    deleteTree(work)
    work.mkdirs()

    val cores = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.driver.extraJavaOptions", s"-Dderby.system.home=$work")
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, name, seed, seconds, traced, work)
      finally {
        spark.stop()
        deleteTree(work)
      }
    sys.exit(code)
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
                  traced: Boolean, work: File): Int = {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val wl = workload(name, spark, seed)
    val data = new File(work, "data").toString
    val genS = (1 to 3).map(_ => timed(wl.generate(seed, data)))
    val setupS = sessionS + Stats.median(genS)
    System.err.println(f"perfbench setup: session $sessionS%.3f s, generate ${genS.mkString(" ")} s")
    val tracer = new Tracer(spark, traced)
    var passNo = 0
    def nextOut(): String = { passNo += 1; new File(work, s"out-$passNo").toString }
    val samples = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val counters = scala.collection.mutable.ArrayBuffer[(String, Map[String, Double])]()
    val layers = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var attempted = 0
    var failedOps = 0
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val cpu0 = tracer.cpuSeconds
      val p0 = System.nanoTime()
      val p = wl.pass(tracer, data, nextOut())
      val wall = (System.nanoTime() - p0) / 1e9
      val ss = tracer.takeSpans()
      samples ++= wl.samples(ss) ++ p.extra ++ Seq("pass_s" -> wall, "cpu_s" -> (tracer.cpuSeconds - cpu0))
      val bad = scala.collection.mutable.ArrayBuffer[String]()
      if (traced) {
        // the trace reconciles: every job starts inside a span, and only
        // the benchmark's own glue (DataFrame handles, file counts,
        // releasing cached data) runs between spans
        val stray = tracer.unattributedJobs(ss)
        if (stray > 0) bad += s"$stray Spark jobs started outside every span"
        val share = ss.map(_.wall).sum / wall
        if (share < 0.9) bad += f"span walls cover only $share%.3f of the pass wall"
        val cs = tracer.attribute(ss).map { case (s, c) => s.name -> c }
        counters ++= cs
        layers ++= Layers.map { case (name, c, _) => name -> cs.map(_._2(c)).sum } ++ Seq(
          "trace.wall_s" -> wall,
          "trace.overhead_s" -> tracer.callbackSeconds,
          "trace.span_share" -> share)
      }
      bad ++= p.check()
      tracer.reset()
      // every span is one timed operation; when a pass fails a check,
      // all of that pass's operations count as failed
      attempted += ss.size
      if (bad.nonEmpty) failedOps += ss.size
      failures ++= bad
      passes += 1
    }
    failures.foreach(f => System.err.println(s"check failed: $f"))

    def byName(xs: Seq[(String, Double)]): Map[String, Seq[Double]] =
      xs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // each figure's sample count and, given two or more, its median and
    // quartiles within this run
    def report(title: String, xs: Seq[(String, Double)]): Unit = {
      System.err.println(s"$title ($passes passes):")
      byName(xs).toSeq.sortBy(_._1).foreach { case (k, v) =>
        val q = if (v.size < 2) f" value ${v.head}%.4f" else {
          val (q1, q2, q3) = Stats.quartiles(v)
          f" median $q2%.4f Q1 $q1%.4f Q3 $q3%.4f"
        }
        System.err.println(s"  $k n=${v.size}$q")
      }
    }
    report("samples", samples.toSeq)
    def m(v: Double, unit: String) = s"""{"value": ${fmt(v)}, "unit": "$unit"}"""
    val metrics: Seq[(String, String)] =
      if (!traced) {
        val by = byName(samples.toSeq)
        Seq("setup_s" -> m(setupS, "s"), "pass_s" -> m(Stats.median(by("pass_s")), "s"))
      } else {
        report("span counters", counters.toSeq.flatMap { case (span, c) => c.map { case (k, v) => s"$span.$k" -> v } })
        val by = byName(layers.toSeq)
        (Layers.map { case (name, _, unit) => (name, unit) } ++ Seq(
          "trace.wall_s" -> "s", "trace.overhead_s" -> "s", "trace.span_share" -> "ratio"))
          .map { case (name, unit) => name -> m(Stats.median(by(name)), unit) }
      }
    val correct = failures.isEmpty
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failedOps, "metrics": {""" +
      metrics.map { case (k, v) => s""""$k": $v""" }.mkString(", ") + "}}")
    if (correct) 0 else 1
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    // the curation job and the training loop share a run, so the fixed
    // per-run cost (JVM, session, cold code) is paid once for both; see
    // "Why two workloads" in perfbench/README.md
    case "batch" => new Chain(new Curate(spark, docs = 1000), new Train(spark, seed, rows = 5000, epochs = 3))
    case "index" => new Index(spark, corpusDocs = 1000, rounds = 1, batchDocs = 500, probeDocs = 100)
    case other => sys.error(s"unknown workload: $other")
  }

  def timed(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"non-finite metric value $v") else v.toString

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Data files (parquet) under a store directory, live or not. */
  def parquetFiles(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    walk(new File(dir))
  }

  /** Bytes of every regular file under `dir`. */
  def bytesOnDisk(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length
    walk(new File(dir))
  }
}
