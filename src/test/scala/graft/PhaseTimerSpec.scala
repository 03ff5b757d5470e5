package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PartitionedStore

/** PhaseTimer's counters against an independent listener: every job a
  * phase ran counts in it, whichever thread submitted it — the caller,
  * the shared store pool, or a streaming query's own thread. */
class PhaseTimerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("jobs attribute to the innermost open phase by time window, from every thread") {
    val sc = spark.sparkContext
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[Int])
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e.jobId)
    }
    def jobsSoFar(): Set[Int] = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      seen.toArray.map(_.asInstanceOf[Int]).toSet
    }
    sc.addSparkListener(plain)
    PhaseTimer.listen(sc)
    try {
      var (outer, inner) = (Set.empty[Int], Set.empty[Int])
      var restored = ""
      val before = jobsSoFar()
      val (ok, query, phases) = PhaseTimer.measure("pt_spec") {
        val rec = PhaseTimer.start("pt_spec")
        rec("outer") {
          val in = jobsSoFar()
          spark.range(1000).selectExpr("sum(id)").collect() // a plain job
          PartitionedStore.parallel(spark, 1 to 4)(i => spark.range(i * 100L).count())
          import spark.implicits._
          implicit val sqlCtx = spark.sqlContext
          val mem = MemoryStream[Int]
          val stream = mem.toDF().writeStream.format("memory").queryName("pt_spec_sink").start()
          try { mem.addData(1, 2, 3); stream.processAllAvailable() } finally stream.stop()
          rec("inner") {
            val innerIn = jobsSoFar()
            spark.range(10).count()
            inner = jobsSoFar() -- innerIn
          }
          restored = sc.getLocalProperty("spark.job.description")
          outer = jobsSoFar() -- in -- inner
        }
        spark.range(5).count() // after every phase: the residual exec
        true
      }
      val all = jobsSoFar() -- before
      val byName = phases.toMap
      assert(ok && phases.map(_._1) == Seq("inner", "outer", "exec"))
      assert(inner.nonEmpty && outer.size >= 7, s"fixture: inner $inner, outer $outer")
      assert(byName("inner")("jobs") == inner.size)
      assert(byName("outer")("jobs") == outer.size)
      assert(query("jobs") == all.size)
      assert(byName("exec")("jobs") == all.size - outer.size - inner.size)
      assert(byName("outer")("cpu_s") > 0 && query("cpu_s") >= byName("outer")("cpu_s"))
      assert(byName("outer")("tasks") >= byName("outer")("jobs"))
      assert(restored == "pt_spec: outer", "the nested phase must restore the outer label")
      assert(PhaseTimer.heldEvents == 0, "a drain must leave the listener empty")
    } finally {
      PhaseTimer.stopListening()
      sc.removeSparkListener(plain)
    }
  }
}
