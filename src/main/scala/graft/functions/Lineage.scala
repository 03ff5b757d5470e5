package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one lineage-cut policy of the iterative loops (the cluster
  * labels of [[DedupFunctions.nearDupClusters]], the dangling arm of
  * [[GraphFunctions.pageRankMicro]], the SemDeDup assignment, the
  * subword merge trainers). The SparkContext's own setting decides: with a
  * checkpoint dir (`spark.sparkContext.setCheckpointDir` on durable
  * storage, the cluster setup) the cut is a fault-tolerant
  * `checkpoint()`, so an executor lost mid-loop costs a re-read, not
  * the run; without one it is a `localCheckpoint()`, whose blocks live
  * on the executors (right for single-JVM runs). A cut also keeps every
  * later plan over it short: its plan is one [[LogicalRDD]] leaf, and
  * AQE renders the whole plan string again on every stage update. A
  * cut nobody references is freed at the next GC (Spark's
  * ContextCleaner), and `Dataset.unpersist` does not free a cut:
  * [[release]] does. */
object Lineage {

  /** Materialize `df` eagerly and cut its lineage. */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Free the blocks behind the cut `df`. `Dataset.unpersist` does not
    * do this: a cut's analyzed plan is a [[LogicalRDD]] over an RDD
    * persisted at checkpoint time, outside the CacheManager (a
    * fault-tolerant cut holds no blocks: a no-op). */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `cut(next)`, then [[release]] the cut `prev` it was computed from,
    * so a loop holds at most two generations live. */
  def advance(prev: DataFrame, next: DataFrame): DataFrame = {
    val out = cut(next)
    release(prev)
    out
  }
}
