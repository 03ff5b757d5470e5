package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with SparkSuite {

  test("two sequential calls get disjoint job sets, attributed by time window") {
    // an independent record of every job the two calls start
    val started = scala.collection.mutable.Map[Int, Long]()
    val all = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.synchronized { started(e.jobId) = e.time }
    }
    spark.sparkContext.addSparkListener(all)
    val t = new Tracer(spark, detailed = true)
    t.span("first") { spark.range(0, 1000, 1, 3).selectExpr("sum(id)").collect() }
    // the second call submits its job from another thread, as the
    // library's pooled writes do: a thread-local job group would miss it
    t.span("second") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
      try pool.submit(new Runnable {
        def run(): Unit = spark.range(0, 1000, 1, 4).repartition(2).count()
      }).get()
      finally pool.shutdown()
    }
    val spans = t.takeSpans()
    spark.sparkContext.removeSparkListener(all)
    assert(spans.map(_.name) == Seq("first", "second"))
    assert(spans(0).endMs < spans(1).startMs)
    assert(t.unattributedJobs(spans) == 0)
    val c = t.attribute(spans).map { case (s, m) => s.name -> m }.toMap
    assert(c("first")("jobs") >= 1 && c("second")("jobs") >= 1)
    assert(c("first")("tasks") >= 3)
    assert(c("second")("tasks") >= 4)
    assert(c("second")("shuffle_mb") > 0 && c("first")("shuffle_mb") < c("second")("shuffle_mb"))
    for (s <- spans; m = c(s.name)) {
      assert(m("wall_s") == s.wall)
      assert(m("outside_jobs_s") >= 0 && m("outside_jobs_s") <= s.wall)
      assert(m("cpu_s") > 0)
    }
    // the two windows split the jobs: each started job falls in exactly
    // one span, so the spans' job sets are disjoint, and every span's
    // count is its share of them
    val ids = spans.map(s => s.name -> started.filter { case (_, at) => at >= s.startMs && at <= s.endMs }.keySet).toMap
    assert(started.nonEmpty && ids.values.forall(_.nonEmpty))
    assert((ids("first") & ids("second")).isEmpty)
    assert(ids("first") ++ ids("second") == started.keySet)
    for (s <- spans) assert(c(s.name)("jobs") == ids(s.name).size)
  }

  test("untraced spans only time the call") {
    val t = new Tracer(spark, detailed = false)
    t.span("only") { spark.range(10).count() }
    val spans = t.takeSpans()
    assert(spans.size == 1 && spans.head.wall > 0)
    assert(t.cpuSeconds > 0)
  }
}
