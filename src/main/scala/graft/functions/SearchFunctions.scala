package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text retrieval over the documents corpus: Okapi BM25 scoring
  * with a bounded top-k rerank. Parity-plus (the reference has no
  * search surface); the canonical quality-filter / RAG-retrieval
  * primitive a training-data pipeline needs next to the dedup and ANN
  * families.
  */
object SearchFunctions {

  /** The ONE tokenize pass the whole lexical family shares: per-(doc,
    * term) frequencies. bm25TopK (x23, the hybrids' lexical side)
    * derives dl / postings / df from it and TfIdf derives its tf. The
    * relation is (doc, distinct-term)-sized — the inverted-index
    * payload itself. Lazy: a caller that reads it more than once cuts
    * it ([[Lineage.cut]]), so one call tokenizes the corpus once and
    * keeps nothing afterwards. */
  def termFreq(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // the id keeps its ORIGINAL type: a cast here would NULL
    // non-numeric ids for every consumer (the ahashNearDuplicates
    // bug class); bm25 applies its own long cast downstream.
    // token_counts kernel (optimization r18): per-doc counting is
    // local, so the old explode(split) + groupBy pushed one row
    // per token OCCURRENCE (~3M at sf0.1, 3–6 s cpu per build)
    // through hash-agg for a relation this map pass emits
    // directly (row-identical; SearchSpec pins kernel ≡ reference)
    docs.select(col(idCol).as("__id"),
        explode(graft.expressions.ShingleExpressions
          .token_counts(col(textCol))).as("__kv"))
      .select(col("__id"), col("__kv.w").as("__w"),
        col("__kv.tf").as("__tf"))

  /** Okapi BM25 top-k retrieval (Robertson et al., "Okapi at TREC-3",
    * 1994), idf in the non-negative ln(1 + (N−df+0.5)/(df+0.5)) form
    * so scores stay positive at any document frequency.
    *
    * Plan shape — every exchange is postings-sized, never token-sized:
    *  - ONE corpus scan → (doc, term, tf) hash aggregate (map-side
    *    partials); per-doc lengths `dl` reduce from tf, i.e. from the
    *    distinct-terms relation, not the raw token stream
    *  - (N, avgdl) is a 1-row aggregate broadcast via crossJoin (same
    *    judged-benign shape as the x19 vocab-size aggregate)
    *  - the query set is a literal local relation (broadcast); tf is
    *    semi-filtered down to QUERY-TERM POSTINGS before any further
    *    join, so downstream shuffles carry Σ_t df(t) rows over the
    *    query terms — at 100 TB that is the inverted-index read, not
    *    a corpus pass
    *  - df(t) reduces exactly from those postings (tf rows are
    *    distinct per (doc, term)); the tiny (term → df) relation is
    *    broadcast back
    *  - the per-(query, doc) totals rerank through the bounded_topk
    *    map-side heap ([[graft.expressions.BoundedTopK]]): the final
    *    exchange is k×partitions per query, independent of how many
    *    docs matched
    *
    * Determinism (cross-engine exactness): per-(query, doc, term)
    * partial scores are rounded to integer MICROS (round(x·10⁶) as
    * long) and summed in exact long arithmetic — the x19 fixed-point
    * pattern — so tie-breaks and the final 6-digit score are
    * bit-identical to the DuckDB oracle; the top-k order
    * (micro desc, doc_id asc) is total. IEEE op order mirrors the
    * oracle SQL term-for-term (left-assoc, same literals), so the
    * doubles agree to the last bit before rounding.
    *
    * Duplicate terms within one query count once (standard bag-of-
    * words BM25 over the distinct query vocabulary); terms absent
    * from the corpus contribute nothing and a query with no matching
    * term returns no rows.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(Int, String)], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "need k >= 1")
    val perDoc = bm25PerDoc(docs, idCol, textCol, queries, k1, b)
    perDoc.groupBy("qid")
      .agg(graft.expressions.TopKAggregate.bounded_topk(
        struct((-col("__micro")).as("__o"), col("__id")),
        struct(col("__id"), col("__micro"), col("terms_hit")), k).as("__top"))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.__id").as("doc_id"),
        round(col("col.__micro").cast("double") / lit(1e6), 6).as("score"),
        col("col.terms_hit").as("terms_hit"))
  }

  /** The BM25-scored (qid, doc, micro-score) relation [[bm25TopK]]
    * reranks — factored out so the score-fusion hybrids can keep the
    * exact long micros instead of re-deriving them from the rounded
    * public score. */
  private def bm25PerDoc(docs: DataFrame, idCol: String, textCol: String,
                         queries: Seq[(Int, String)],
                         k1: Double, b: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // cut: tf is read twice (dl and the postings), and the corpus is
    // tokenized once, inside the cut
    val tf = Lineage.cut(termFreq(docs, idCol, textCol))
      .withColumn("__id", col("__id").cast("long"))
    val dl = tf.groupBy("__id").agg(sum("__tf").as("__dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("__n"),
      (sum("__dl").cast("double") / count(lit(1)).cast("double")).as("__avgdl"))

    val qt = queries.toDF("qid", "__qtext")
      .select(col("qid"), explode(split(col("__qtext"), " ")).as("__w"))
      .filter(col("__w") =!= "").distinct()
    // The postings (tf semi-filtered to the query terms) are
    // referenced three times downstream (df(t), the dl semi-join, the
    // scoring join); cut, they compute once — postings are
    // index-read-sized (Σ_t df(t) over the query terms), so the cut is
    // small at any corpus size. With tf cut too, the call pays ONE
    // corpus pass (r9's uncached form paid four — ADVICE r9), and both
    // cuts are freed once nothing references the returned frame.
    val postings = Lineage.cut(tf.join(broadcast(qt.select("__w").distinct()), "__w"))
    val dfq = postings.groupBy("__w")
      .agg(count(lit(1)).cast("double").as("__df"))
    // dl is corpus-sized (one row per doc); the scoring join only needs
    // lengths for docs that matched a query term, so semi-reduce it to
    // the postings' doc set first. The semi itself costs at most the dl
    // shuffle the direct join already paid, and when queries are
    // selective the scoring join then builds/ships a matched-sized
    // relation instead of every document's length (at sf0.1 Spark
    // broadcasts full dl either way; at the 100-TB regime this is the
    // difference between a 16-bytes-×-corpus exchange and an
    // index-read-sized one).
    val dlMatched = dl.join(postings.select("__id"), Seq("__id"), "leftsemi")

    // op order mirrors the oracle SQL exactly: (n − df + 0.5),
    // tf·(k1 + 1.0), k1·((1.0 − b) + b·dl/avgdl), ((idf·tfn)·10⁶)
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val tfD = col("__tf").cast("double")
    val tfn = (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl").cast("double") / col("__avgdl")))
    val scored = postings
      .join(broadcast(qt), "__w")
      .join(broadcast(dfq), "__w")
      .join(dlMatched, "__id")
      .crossJoin(broadcast(stats))
      .withColumn("__micro", round(idf * tfn * lit(1e6)).cast("long"))

    scored.groupBy("qid", "__id")
      .agg(sum("__micro").as("__micro"), count(lit(1)).as("terms_hit"))
  }

  /** Per-(query, doc) cosine-to-anchor scores in integer micros —
    * ONE corpus-embeddings pass with the per-query anchor vectors
    * broadcast; shared by the RRF and score-normalization hybrids. */
  private def denseCosineMicros(embeds: DataFrame, vecIdCol: String,
                                embCol: String,
                                anchors: Seq[(Int, Long)]): DataFrame = {
    val spark = embeds.sparkSession
    import spark.implicits._
    val av = anchors.toDF("qid", "__aid")
      .join(embeds, col("__aid") === col(vecIdCol))
      .select(col("qid"), col(embCol).as("__av"),
        graft.functions.SimilarityFunctions.l2Norm(col(embCol)).as("__an"))
    // norms precomputed per SIDE (optimization r19): one dot per
    // (query, doc) pair instead of three — scores bit-identical
    embeds.select(col(vecIdCol).as("doc_id"), col(embCol).as("__v"),
        graft.functions.SimilarityFunctions.l2Norm(col(embCol)).as("__vn"))
      .crossJoin(broadcast(av))
      .select(col("qid"), col("doc_id"),
        round(graft.functions.SimilarityFunctions.cosinePrenorm(
          col("__v"), col("__av"), col("__vn"), col("__an"))
          * lit(1e6)).cast("long").as("__cm"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
    * SIGIR 2009): each query is (keywords, anchor doc) — the
    * "more like this plus keywords" shape — scored by fusing the BM25
    * top-`fuseN` lexical ranks with the top-`fuseN` cosine-to-anchor
    * dense ranks as score = Σ_lists 1/(rrfK + rank), a doc absent
    * from a list contributing nothing. Rank fusion needs no score
    * calibration between the two systems, which is why it is the
    * default hybrid in production retrieval stacks.
    *
    * Determinism: each RRF term is computed in integer micros
    * (round(10⁶/(rrfK + rank))) and summed in exact long arithmetic,
    * and every rank comes from a totally-ordered sort (micro-score
    * desc, id asc) — bit-identical across engines by construction.
    *
    * Plan shape at scale: the lexical side is [[bm25TopK]] (postings-
    * sized exchanges); the dense side broadcasts the per-query anchor
    * vectors, scores in ONE corpus pass, and reranks through the
    * bounded_topk map-side heap — k×partitions exchange, never a
    * corpus sort. The fusion full-outer join is over two
    * (queries × fuseN)-row relations: driver-trivial at any corpus
    * size. For corpora where one pass per query batch is too much,
    * the dense side composes with the IVF/LSH bucketed ANN paths
    * (SimilarityFunctions) — the fusion stage is unchanged.
    */
  def hybridRrfTopK(docs: DataFrame, idCol: String, textCol: String,
                    embeds: DataFrame, vecIdCol: String, embCol: String,
                    queries: Seq[(Int, String, Long)], k: Int,
                    rrfK: Int = 60, fuseN: Int = 50): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k >= 1 && fuseN >= k, "need 1 <= k <= fuseN")

    // lexical ranks: BM25 top-fuseN per query
    val lex = bm25TopK(docs, idCol, textCol, queries.map(q => (q._1, q._2)), fuseN)
      .select(col("qid"), col("doc_id"), col("rank").as("lex_rank"))

    // dense ranks: cosine to the query's anchor embedding, one corpus
    // pass with the (tiny) anchor relation broadcast, bounded_topk heap
    val cmicro = denseCosineMicros(embeds, vecIdCol, embCol,
      queries.map(q => (q._1, q._3)))
    val dense = cmicro.groupBy("qid")
      .agg(graft.expressions.TopKAggregate.bounded_topk(
        struct((-col("__cm")).as("__o"), col("doc_id")),
        struct(col("doc_id"), col("__cm")), fuseN).as("__top"))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid"), col("col.doc_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("dense_rank"))

    // RRF in integer micros; absent list membership contributes 0
    def term(rank: Column): Column =
      coalesce(round(lit(1e6) / (lit(rrfK) + rank)).cast("long"), lit(0L))
    val fused = lex.join(dense, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (term(col("lex_rank")) + term(col("dense_rank"))).as("__micro"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"))
    fused.groupBy("qid")
      .agg(graft.expressions.TopKAggregate.bounded_topk(
        struct((-col("__micro")).as("__o"), col("doc_id")),
        struct(col("doc_id"), col("__micro"), col("lex_rank"), col("dense_rank")),
        k).as("__top"))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.doc_id").as("doc_id"),
        round(col("col.__micro").cast("double") / lit(1e6), 6).as("rrf"),
        col("col.lex_rank").as("lex_rank"),
        col("col.dense_rank").as("dense_rank"))
  }

  /** Hybrid retrieval with SCORE-normalization fusion — the standard
    * eval-harness alternative to [[hybridRrfTopK]]'s rank fusion
    * (e.g. the BEIR/dense-retrieval convention): each side's
    * top-`fuseN` score list is normalized onto a common scale, then
    * fused as 0.5·lex + 0.5·dense, a doc absent from a list
    * contributing 0 on that side. Two normalization modes, both
    * emitted (column `mode`):
    *  - `minmax`: (s − min)/(max − min) over the list, ∈ [0,1]; a
    *    constant list (max = min) normalizes to 1.0 by convention
    *  - `zscore`: (s − mean)/stddev_pop over the list; a constant
    *    list normalizes to 0.0
    *
    * Determinism: both sides score in integer micros (exact longs —
    * [[bm25PerDoc]] / [[denseCosineMicros]]); list statistics are
    * exact long sums (Σs, Σs², min, max — order-free), so the ONLY
    * doubles are the final normalization expressions, whose IEEE op
    * order mirrors the oracle SQL term-for-term. Never
    * `stddev_pop`/`avg` over doubles: their partial-aggregation
    * order is nondeterministic. The fused score is re-rounded to
    * micros and the top-k order (fused micro desc, doc_id asc) is
    * total.
    *
    * Plan shape at scale: identical to [[hybridRrfTopK]] — postings-
    * sized lexical exchanges, one broadcast-anchor corpus pass dense,
    * bounded_topk map-side heaps; the normalization stats are a
    * ≤(queries)-row aggregate over the (queries × fuseN)-row top
    * lists, broadcast back. */
  def hybridNormTopK(docs: DataFrame, idCol: String, textCol: String,
                     embeds: DataFrame, vecIdCol: String, embCol: String,
                     queries: Seq[(Int, String, Long)], k: Int,
                     fuseN: Int = 50): DataFrame = {
    require(k >= 1 && fuseN >= k, "need 1 <= k <= fuseN")
    val perDoc = bm25PerDoc(docs, idCol, textCol,
      queries.map(q => (q._1, q._2)), 1.2, 0.75)
    // per-list statistics ride along as WINDOW aggregates over the
    // exploded top list (exact longs: min/max/Σ/Σ² — micro² of a
    // ±~20·10⁶ score × fuseN rows stays far under 2⁶³; count doubles
    // for the divisions). A groupBy-stats + join-back here evaluated
    // the whole lexical rerank and the dense corpus pass TWICE each
    // (the stats subtree is not shared with the join input); the
    // window form computes each side once over its own
    // (queries × fuseN)-row list.
    val wq = org.apache.spark.sql.expressions.Window.partitionBy("qid")
    def withStats(top: DataFrame, mic: String, p: String): DataFrame =
      top.withColumn(s"__${p}min", min(mic).over(wq))
        .withColumn(s"__${p}max", max(mic).over(wq))
        .withColumn(s"__${p}sum", sum(mic).over(wq))
        .withColumn(s"__${p}sq", sum(col(mic) * col(mic)).over(wq))
        .withColumn(s"__${p}n", count(lit(1)).over(wq).cast("double"))
    val lexTop = withStats(perDoc.groupBy("qid")
      .agg(graft.expressions.TopKAggregate.bounded_topk(
        struct((-col("__micro")).as("__o"), col("__id")),
        struct(col("__id"), col("__micro")), fuseN).as("__top"))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid"), col("col.__id").as("doc_id"),
        col("col.__micro").as("__lm"),
        (col("pos") + 1).cast("int").as("lex_rank")), "__lm", "l")
    val denTop = withStats(denseCosineMicros(embeds, vecIdCol, embCol,
        queries.map(q => (q._1, q._3)))
      .groupBy("qid")
      .agg(graft.expressions.TopKAggregate.bounded_topk(
        struct((-col("__cm")).as("__o"), col("doc_id")),
        struct(col("doc_id"), col("__cm")), fuseN).as("__top"))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid"), col("col.doc_id").as("doc_id"),
        col("col.__cm").as("__dm"),
        (col("pos") + 1).cast("int").as("dense_rank")), "__dm", "d")
    val joined = lexTop
      .join(denTop, Seq("qid", "doc_id"), "full_outer")

    // op order mirrors the oracle SQL exactly; the absent-side NULL
    // check comes FIRST so a degenerate list never lifts missing docs
    def minmaxN(mic: Column, mn: Column, mx: Column): Column =
      when(mic.isNull, lit(0.0))
        .when(mx === mn, lit(1.0))
        .otherwise((mic - mn).cast("double") / (mx - mn).cast("double"))
    def zscoreN(mic: Column, sm: Column, sq: Column, n: Column): Column = {
      val mean = sm.cast("double") / n
      val std = sqrt(greatest(
        (sq.cast("double") - sm.cast("double") * sm.cast("double") / n) / n,
        lit(0.0)))
      when(mic.isNull, lit(0.0))
        .when(std <= lit(0.0), lit(0.0))
        .otherwise((mic.cast("double") - mean) / std)
    }
    def fuseMicro(nl: Column, nd: Column): Column =
      round((lit(0.5) * nl + lit(0.5) * nd) * lit(1e6)).cast("long")
    val fusedBoth = joined.select(col("qid"), col("doc_id"),
      coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
      coalesce(col("dense_rank"), lit(0)).as("dense_rank"),
      fuseMicro(
        minmaxN(col("__lm"), col("__lmin"), col("__lmax")),
        minmaxN(col("__dm"), col("__dmin"), col("__dmax"))).as("__fmm"),
      fuseMicro(
        zscoreN(col("__lm"), col("__lsum"), col("__lsq"), col("__ln")),
        zscoreN(col("__dm"), col("__dsum"), col("__dsq"), col("__dn"))).as("__fz"))
    val byMode = fusedBoth.select(col("qid"), col("doc_id"),
        col("lex_rank"), col("dense_rank"),
        explode(map(lit("minmax"), col("__fmm"),
          lit("zscore"), col("__fz"))).as(Seq("mode", "__fm")))
    byMode.groupBy("qid", "mode")
      .agg(graft.expressions.TopKAggregate.bounded_topk(
        struct((-col("__fm")).as("__o"), col("doc_id")),
        struct(col("doc_id"), col("__fm"), col("lex_rank"), col("dense_rank")),
        k).as("__top"))
      .select(col("qid"), col("mode"), posexplode(col("__top")))
      .select(col("qid"), col("mode"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.doc_id").as("doc_id"),
        round(col("col.__fm").cast("double") / lit(1e6), 6).as("fused"),
        col("col.lex_rank").as("lex_rank"),
        col("col.dense_rank").as("dense_rank"))
  }

  /** Maximal Marginal Relevance diversification (Carbonell & Goldstein,
    * SIGIR 1998) over the dense retrieval candidates: greedily select
    * k of the top-`candN` cosine-to-anchor docs, each step maximizing
    *
    *   mmr(d) = λ·rel(d) − (1−λ)·max_{s ∈ selected} sim(d, s)
    *
    * with the second term 0 on the first pick. The standard rerank for
    * near-duplicate-heavy corpora, where plain top-k returns k copies
    * of one document.
    *
    * Determinism: rel and sim are cosine in integer micros (the
    * sequential-fold dot kernel the ANN oracles mirror); λ is a
    * percentage so every MMR score is the exact long
    * `λpct·rel − (100−λpct)·maxSim`; ties break doc_id asc. The
    * greedy runs as ONE declarative higher-order-function fold per
    * query row — no driver loop, no collect — so a million-query
    * batch diversifies in a single distributed pass.
    *
    * Plan shape at scale: candidates come from one broadcast-anchor
    * corpus pass + the bounded_topk map-side heap (k×partitions
    * exchange); the candidate sim matrix is (queries × candN²) rows —
    * candN is a small constant, so both the matrix and the per-row
    * greedy (k·candN² map lookups) are bounded per query. For larger
    * corpora the candidate stage composes with the IVF/LSH bucketed
    * ANN paths unchanged. */
  def mmrRerank(embeds: DataFrame, vecIdCol: String, embCol: String,
                anchors: Seq[(Int, Long)], k: Int, candN: Int,
                lambdaPct: Int = 70): DataFrame = {
    require(k >= 1 && candN >= k, "need 1 <= k <= candN")
    require(lambdaPct >= 0 && lambdaPct <= 100, "lambdaPct in [0,100]")
    val spark = embeds.sparkSession
    import spark.implicits._
    val av = anchors.toDF("qid", "__aid")
      .join(embeds, col("__aid") === col(vecIdCol))
      .select(col("qid"), col(embCol).as("__av"),
        SimilarityFunctions.l2Norm(col(embCol)).as("__an"))
    val cmicro = embeds
      .select(col(vecIdCol).as("doc_id"), col(embCol).as("__v"),
        SimilarityFunctions.l2Norm(col(embCol)).as("__vn"))
      .crossJoin(broadcast(av))
      .select(col("qid"), col("doc_id"),
        round(SimilarityFunctions.cosinePrenorm(col("__v"), col("__av"),
          col("__vn"), col("__an")) * lit(1e6))
          .cast("long").as("__cm"))
    val cand = cmicro.groupBy("qid")
      .agg(graft.expressions.TopKAggregate.bounded_topk(
        struct((-col("__cm")).as("__o"), col("doc_id")),
        struct(col("doc_id"), col("__cm")), candN).as("__top"))
      .select(col("qid"), explode(col("__top")).as("c"))
      .select(col("qid"), col("c.doc_id").as("doc_id"), col("c.__cm").as("rel"))
    // reattach vectors for the candidate-pair sim matrix (cand is
    // (queries × candN) rows — broadcast against the corpus)
    val cv = broadcast(cand)
      .join(embeds.select(col(vecIdCol).as("doc_id"), col(embCol).as("__v"),
          SimilarityFunctions.l2Norm(col(embCol)).as("__n")),
        Seq("doc_id"))
    val sims = cv.as("a").join(cv.as("b"),
        col("a.qid") === col("b.qid") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.qid").as("qid"),
        concat(col("a.doc_id"), lit(":"), col("b.doc_id")).as("__key"),
        round(SimilarityFunctions.cosinePrenorm(col("a.__v"), col("b.__v"),
          col("a.__n"), col("b.__n")) * lit(1e6))
          .cast("long").as("__sim"))
    val simMaps = sims.groupBy("qid")
      .agg(map_from_entries(collect_list(struct(col("__key"), col("__sim"))))
        .as("__sm"))
    // left join: a query whose candidate set is a single doc produces
    // no sims rows (the pair matrix needs >= 2 docs) — it must still
    // return its one candidate, not vanish. __sm stays null for such
    // rows; element_at(null, k) is null and the maxSim coalesce floor
    // absorbs it (that path is only reachable after the sole pick,
    // where the exhaustion guard below stops the fold anyway).
    val packed = cand.groupBy("qid")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("rel"))))
        .as("__cands"))
      .join(simMaps, Seq("qid"), "left")
    // one greedy step: argmax over unselected candidates of
    // λpct·rel − (100−λpct)·maxSim(selected), ties doc_id asc —
    // encoded as min of (negMmr, doc_id) structs
    def step(sel: Column): Column = {
      // fold floor: cosine micros are >= -1e6, so -2e6 is strictly
      // below any real sim and safe against λ-weight overflow
      def maxSim(c: Column): Column =
        when(size(sel) === 0, lit(0L)).otherwise(
          aggregate(sel, lit(-2000000L),
            (m, s) => greatest(m, coalesce(
              element_at(col("__sm"),
                concat(c.getField("doc_id"), lit(":"), s.getField("doc_id"))),
              lit(-2000000L)))))
      // get() (0-based, null out of bounds) not element_at: a query
      // with fewer than k candidates exhausts the filtered array and
      // element_at(…, 1) on it errors under ANSI mode — the null is
      // the fold's stop signal below
      get(array_sort(transform(
        filter(col("__cands"),
          c => !exists(sel, s => s.getField("doc_id") === c.getField("doc_id"))),
        c => struct(
          (-(lit(lambdaPct.toLong) * c.getField("rel")
            - lit((100 - lambdaPct).toLong) * maxSim(c))).as("negMmr"),
          c.getField("doc_id").as("doc_id")))), lit(0))
    }
    val emptySel =
      array().cast("array<struct<negMmr:bigint,doc_id:bigint>>")
    // exhaustion guard: once candidates run out, step() is null and
    // the selection stops growing — a query returns min(k, candidates)
    // rows instead of erroring / emitting null rows
    def grow(sel: Column): Column = {
      val s = step(sel)
      when(s.isNull, sel).otherwise(concat(sel, array(s)))
    }
    val selected =
      if (k == 1) grow(emptySel)
      else aggregate(sequence(lit(2), lit(k)), grow(emptySel),
        (sel, _) => grow(sel))
    packed.select(col("qid"), posexplode(selected))
      .select(col("qid"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.doc_id").as("doc_id"),
        round((-col("col.negMmr")).cast("double") / lit(1e8), 6).as("mmr"))
  }
}
