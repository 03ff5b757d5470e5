package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Parallelism valve for heavy per-row kernels over small scans
  * (optimization r18, guide §2.5 "input skew"): a fixture-scale
  * parquet table is a single row group, so its scan is ONE task no
  * matter the core count — and a map-heavy kernel above it (CDC
  * boundary walk, winnowing minima) runs sequentially while 31 cores
  * idle (d19b at sf0.1: wall ≈ cpu ≈ 3.5 s). Split-size configs can't
  * help: parquet cannot split inside a row group.
  *
  * [[ensureScanParallelism]] hash-repartitions by the given column to
  * the session's shuffle parallelism ONLY when the frame's planned
  * partition count is below half of it — at corpus scale the scan has
  * ≥ parallelism splits and this is the identity (no exchange is
  * added where the data already feeds the machine). The exchange it
  * adds at fixture scale carries the scan's own bytes once (MBs).
  *
  * The partition-count probe walks `df.rdd`, which finalizes the
  * physical plan — under AQE that EXECUTES every shuffle stage below
  * the probed frame, at plan-construction time, with the results
  * thrown away (ADVICE r18). So the probe is structurally gated
  * (optimization r19): it runs only when the analyzed logical plan is
  * exchange-free — narrow nodes (project/filter/union/alias) over
  * relation leaves, the only shapes the kernel entry points build —
  * where no AQE wrapping exists and `df.rdd` is metadata-only. Any
  * other shape (a caller passing a joined/aggregated/repartitioned
  * frame) returns the frame unchanged: such a frame has already been
  * partitioned by its own exchange, which is exactly the "data
  * already feeds the machine" case the valve must not touch.
  *
  * Re-measured against its removal (CHANGES.md, the md5-only change;
  * 4-core VM, 5 interleaved pairs each, median [quartiles]): perfbench
  * `index` traced `band.save` cpu 4.39 [4.24–4.79] s with the valve,
  * 5.27 [5.05–5.56] s without, wall 5.34 [5.16–5.68] vs 5.75
  * [5.56–5.86] s; Bench sf0.1 `SPARK_GRAFT_REPS=3` d16 wall 7.90
  * [7.72–8.31] vs 12.00 [10.36–12.31] s (its save phase 2.31 vs
  * 3.97 s), d19b 5.05 [4.75–5.41] vs 5.25 [5.17–5.58] s (inside the
  * noise on 4 cores; the CDC walk's serial-scan cost above is a
  * 32-core measurement).
  */
private[graft] object ScanParallelism {
  import org.apache.spark.sql.catalyst.plans.logical._

  /** True when `plan` provably contains no exchange: narrow unary
    * nodes and unions over leaf relations only. Conservative — an
    * unrecognized node counts as "might shuffle" and disables the
    * probe. */
  private def exchangeFree(plan: LogicalPlan): Boolean = plan match {
    case p: Project       => exchangeFree(p.child)
    case f: Filter        => exchangeFree(f.child)
    case a: SubqueryAlias => exchangeFree(a.child)
    case u: Union         => u.children.forall(exchangeFree)
    case _: LeafNode      => true // scans, local/one-row relations
    case _                => false
  }

  def ensureScanParallelism(df: DataFrame, keyCol: String): DataFrame = {
    if (!exchangeFree(df.queryExecution.analyzed)) df
    else {
      val p = df.sparkSession.sessionState.conf.numShufflePartitions
      if (df.rdd.getNumPartitions * 2 >= p) df
      else df.repartition(p, col(keyCol))
    }
  }
}
