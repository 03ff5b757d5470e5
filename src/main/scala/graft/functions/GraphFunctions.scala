package graft.functions

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Link-graph quality scoring (beyond-reference surface): the
  * PageRank-family centrality real web-corpus curation uses as a
  * document/host quality prior (Page et al. 1999; Common-Crawl-scale
  * pipelines rank hosts before sampling). The reference has no graph
  * surface at all.
  *
  * Deterministic INTEGER-MICRO arithmetic (the x19 perplexity
  * discipline): ranks live in millionths, the damping update is
  * `(100−d)·10⁴ + (d · Σ floor(rank/outdeg)) DIV 100` in BIGINT —
  * floor division at every step, so both engines compute identical
  * bits and the oracle gates rank VALUES, not rounded shadows.
  * Float PageRank would drift across engines after one iteration.
  *
  * Scale shape: a FIXED number of iterations, each one edge-sized
  * join + one groupBy(dst) aggregation (map-side partial sums) and a
  * node-sized left join back — exchange ∝ edges per iteration, the
  * standard distributed-PageRank envelope. No driver-side state
  * beyond the loop counter; the lineage is `iters` joins deep (x52b
  * gates iters = 15 with the dangling-mass redistribution arm).
  */
object GraphFunctions {

  /** `iters` synchronous PageRank iterations over `edges` (columns
    * `src`, `dst`; parallel edges each contribute, matching the
    * degree count), damping `dampPct`/100, ranks in millionths
    * starting at 10⁶ per node. Nodes must appear in `nodes` (column
    * `id`). Returns (id, rank_micro: long).
    *
    * Sink (dangling) nodes: by default they leak mass — the simplest
    * deterministic convention, fine for fixed-iteration quality
    * priors. `danglingRedistribute = true` adds the convention real
    * host-rank uses (Page et al. 1999 §2.7): each iteration the sink
    * nodes' total rank is shared to EVERY node as `floor(Σ_sink rank
    * / n)` before damping, in the same integer-micro arithmetic —
    * the sink total is a 1-row aggregate crossJoined onto the
    * node-sized update (Catalyst broadcasts it); sinks are read off
    * the rank frame's carried `__rdeg` column (null = no out-edges),
    * so finding them is a filter, not a join; n is read once at entry
    * (a count, the only driver-side scalar).
    *
    * Lineage: the plain arm references the evolving rank once per
    * iteration, so its lazy chain grows linearly and is never cut; the
    * dangling arm's sink-mass aggregate references it twice, so that
    * arm cuts the edges, the static frame and every generation through
    * [[Lineage.cut]] (the A/Bs: OPTIMIZATION_r18.md, OPTIMIZATION_r19.md). */
  def pageRankMicro(nodes: DataFrame, edges: DataFrame,
                    iters: Int, dampPct: Int,
                    danglingRedistribute: Boolean = false): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("__deg"))
    val base = (100L - dampPct) * 10000L
    val n = if (danglingRedistribute) nodes.count() else 0L
    def sever(df: DataFrame) = if (danglingRedistribute) Lineage.cut(df) else df
    val e = sever(edges.select("src", "dst"))
    val rankStatic = sever(nodes.join(deg, nodes("id") === deg("src"), "left")
      .select(nodes("id"), lit(1000000L).as("rank_micro"),
        col("__deg").as("__rdeg")))
    var rank = rankStatic
    for (_ <- 1 to iters) {
      // src's out-degree == its rank row's __rdeg (non-null whenever an
      // edge exists), so `rank_micro DIV __rdeg` is bit-identical to the
      // old `rank_micro DIV __deg` against the edges⨝deg relation
      val contrib = e.join(rank, e("src") === rank("id"))
        .select(col("dst"), expr("rank_micro DIV __rdeg").as("__c"))
        .groupBy("dst").agg(sum("__c").as("__s"))
      // __rdeg is iteration-invariant: joining the static frame keeps
      // this the plain arm's ONLY reference to the evolving rank chain
      val withS = rankStatic.join(contrib,
        rankStatic("id") === contrib("dst"), "left")
      val next =
        if (!danglingRedistribute)
          withS.select(rankStatic("id"),
            (lit(base) + expr(s"($dampPct * coalesce(__s, 0L)) DIV 100"))
              .as("rank_micro"),
            rankStatic("__rdeg"))
        else {
          // sinks are exactly the rank rows with no out-degree — the
          // same set the old left_anti against deg produced
          val sinkMass = rank.filter(col("__rdeg").isNull)
            .agg(coalesce(sum("rank_micro"), lit(0L)).as("__dm"))
          withS.crossJoin(sinkMass)
            .select(rankStatic("id"),
              (lit(base) + expr(
                s"($dampPct * (coalesce(__s, 0L) + __dm DIV $n)) DIV 100"))
                .as("rank_micro"),
              rankStatic("__rdeg"))
        }
      rank = sever(next)
    }
    rank.select("id", "rank_micro")
  }
}
