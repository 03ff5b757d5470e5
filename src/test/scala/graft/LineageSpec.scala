package graft

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** The one lineage-cut policy ([[graft.functions.Lineage]]): a reliable
  * checkpoint exactly when the session has a checkpoint dir, a local
  * one otherwise, and the same rows either way from every loop that
  * cuts through it. */
class LineageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Each path (no dir, then a fresh dir) once; the dir path also
    * checks that checkpoint files landed there. */
  private def bothPaths[T](run: => T): (T, T) = {
    assert(sc.getCheckpointDir.isEmpty)
    val local = run
    val reliable = SparkTestSession.withCheckpointDir { dir =>
      assert(sc.getCheckpointDir.isDefined)
      val out = run
      val files = java.nio.file.Files.walk(dir)
      try assert(files.anyMatch(java.nio.file.Files.isRegularFile(_)),
        s"no checkpoint files under $dir")
      finally files.close()
      out
    }
    assert(sc.getCheckpointDir.isEmpty, "withCheckpointDir must clear the dir")
    (local, reliable)
  }

  test("a cut's eager job completes an observation on both paths; an empty input sums to null") {
    // nearDupClusters reads its per-round change count this way: the
    // observed frame is cut, and the cut's own job fills the metric
    def observed(n: Long): (Long, Option[Long]) = {
      val obs = Observation()
      val cut = Lineage.cut(spark.range(n).toDF("id")
        .observe(obs, sum(when(col("id") % 3 === 0, 1L)).as("n")))
      val row = Await.result(obs.future, 2.minutes)
      (cut.count(), if (row.isNullAt(0)) None else Some(row.getLong(0)))
    }
    val (local, reliable) = bothPaths((observed(100L), observed(0L)))
    assert(local == ((100L, Some(34L)), (0L, None)))
    // a reliable checkpoint may recompute its input: only > 0 is pinned
    val ((rows, count), empty) = reliable
    assert(rows == 100L && count.exists(_ > 0) && empty == ((0L, None)))
  }

  test("every iterative loop returns the same rows with and without a checkpoint dir") {
    val pairs = ((0L until 63L).map(i => (i, i + 1)) :+ ((200L, 201L)))
      .toDF("a", "b")
    val nodes = spark.range(40).toDF("id")
    // the x52b shape: out-degree 1..3, every 7th node a sink
    val edges = nodes.crossJoin(spark.range(1, 4).toDF("j"))
      .filter(col("j") <= lit(1L) + col("id") % 3L && col("id") % 7L =!= 0L)
      .select(col("id").as("src"), ((col("id") * 37L + col("j") * 911L) % 40L).as("dst"))
    val vecs = (0 until 80).map { i =>
      (i.toLong, (0 until 8).map(d => math.sin((i % 6) * 31.0 + d * 7.0) + 0.01 * ((i * d) % 5)))
    }.toDF("vec_id", "embedding")
    val words = Seq("low low low lower lower newest newest newest widest widest")
      .toDF("text")
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    def all() = {
      val clusters = DedupFunctions.nearDupClusters(pairs)
      try (rows(clusters),
        rows(GraphFunctions.pageRankMicro(nodes, edges, iters = 15, dampPct = 85,
          danglingRedistribute = true)),
        rows(SimilarityFunctions.semDedup(vecs, "vec_id", "embedding",
          clusters = 6, threshold = 0.95)),
        BpeFunctions.bpeTrain(words, "text", numMerges = 8, minPairFreq = 1L,
          collectVocabMax = 0L))
      finally clusters.unpersist()
    }
    val (local, reliable) = bothPaths(all())
    assert(reliable == local)
    assert(local._1.size == 66 && local._2.size == 40 && local._4.nonEmpty)
    assert(local._3.size == 80 && local._3.exists(_.endsWith(",true]")))
  }
}
