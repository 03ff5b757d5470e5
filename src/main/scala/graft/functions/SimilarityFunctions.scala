package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.{VectorExpressions, VectorKernels}

/** Similarity search over embedding columns (ArrayType(FloatType)).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan
  * the corpus once — at 100 TB this is one pass, perfectly parallel,
  * no shuffle of the corpus). Scale path: random-hyperplane LSH
  * bucketing that prunes the corpus before the exact rerank.
  *
  * All vector math is native kernels or higher-order functions over
  * double-promoted elements — codegen'd, deterministic fold order, no
  * UDFs.
  *
  * Centroid-based stages (IVF cells, PQ codebooks, k-means, SemDeDup
  * clusters) share one discipline: the centroid set is driver-side
  * (C·dim doubles — the same KB-scale readback boundary as Factory's
  * trial store) and assignment is a PER-ROW kernel expression
  * ([[graft.expressions.VectorKernels]]) — no crossJoin, no window, no
  * exchange; the assignment stage costs exactly one corpus scan. The
  * dense-broadcast boundary (C beyond ~10⁵ at dim 64) has a bucketed
  * escape hatch: [[bucketedAssign]].
  */
object SimilarityFunctions {

  // array-level cast, NOT transform(_, _.cast): Cast is codegen'd and a
  // no-op on already-double arrays, while the lambda form is interpreted
  // per evaluation — inside an O(n²) pair scan that was the dominant
  // cost (d5's pair scan measured 5.0 s -> 2.3 s, BENCH.md round 2)
  private def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-fold dot product of two float-array columns. Runs as a
    * native kernel (graft.expressions.DoubleDot) with the exact fold
    * order of `aggregate(zip_with(_*_), 0.0, _+_)` — bit-identical to
    * the HOF form the oracles mirror, ~20× faster. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.HashExpressions.double_dot(asDouble(a), asDouble(b))

  /** The HOF reference formulation of `dot` (kept for equivalence
    * testing against the native kernel). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** [[cosine]] with both norms supplied as precomputed columns
    * (optimization r19, guide §1.2 per-task work): inside a pair scan
    * `cosine(a, b)` evaluates THREE dot kernels per candidate pair,
    * but `dot(a,a)`/`dot(b,b)` depend on one side each — computing
    * `l2Norm` once per input row (corpus rows: once, not once per
    * candidate; s16's 3M-candidate scan was 2/3 norm recomputation)
    * and scoring each pair as `dot(a,b) / (na * nb)` evaluates the
    * exact same double-expression tree per VALUE — sqrt(double_dot)
    * products in the same order — so scores are bit-identical to
    * [[cosine]]. */
  def cosinePrenorm(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  def l2Distance(a: Column, b: Column): Column =
    sqrt(graft.expressions.HashExpressions.double_l2_squared(asDouble(a), asDouble(b)))

  /** The HOF reference formulation of `l2Distance` (kept for
    * equivalence testing against the native kernel). */
  def l2DistanceHof(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v))

  /** Exact rerank shared by every ANN path: top-k (neighbor_id,
    * scoreCol) rows per query_id ordered by (score desc — or asc for
    * distances — then neighbor_id asc), ranks 1..k.
    *
    * Runs as the bounded_topk heap aggregate
    * ([[graft.expressions.BoundedTopK]]), NOT a row_number window: the
    * window form shuffled every candidate row to rank them and threw
    * away all but k — candidate-sized exchange; the heap combines
    * map-side, so the exchange carries at most k rows per (task,
    * query) regardless of candidate count. The (score, id) order is
    * total, so the selection is merge-order-insensitive —
    * bit-identical to the window form.
    *
    * Null/NaN scores (a zero-norm vector's cosine, a null payload) are
    * dropped: under the negated-ord heap they would sort opposite to the
    * window form's NULLS LAST / NaN-greatest semantics, so excluding
    * them is what keeps the bit-identical claim true for malformed
    * vectors (well-formed inputs are unaffected). The heap drops them
    * itself (a null/NaN leading ord field): a filter on the score would
    * be pushed into the candidate join's condition and evaluate each
    * pair's score a second and third time. */
  private def rankTopK(scored: DataFrame, k: Int, scoreCol: String,
                       ascending: Boolean): DataFrame = {
    // negation turns desc into asc exactly (doubles negate losslessly)
    val ordScore = if (ascending) col(scoreCol) else -col(scoreCol)
    scored.groupBy("query_id")
      .agg(graft.expressions.TopKAggregate.bounded_topk(
        struct(ordScore.as("__o"), col("neighbor_id")),
        struct(col("neighbor_id"), col(scoreCol)), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"),
        col("col").getField("neighbor_id").as("neighbor_id"),
        col("col").getField(scoreCol).as(scoreCol),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Brute-force cosine top-k: for each row of `queries` (small,
    * broadcast), the k nearest rows of `corpus` (scanned once).
    * Scores are rounded to `roundDigits` before ranking so ordering is
    * reproducible across engines; ties break by corpus id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     roundDigits: Int = 6): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", l2Norm(col("__qv"))))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        l2Norm(col(vecCol)).as("__cn"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(cosinePrenorm(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")), roundDigits))
    rankTopK(scored, k, "score", ascending = false)
  }

  /** Scalar-quantized (SQ8) L2 top-k — the FAISS ScalarQuantizer arm
    * that completes the quantization family next to [[pqTopK]]: each
    * DIMENSION is trained to its corpus [min, max] range and every
    * component stored as one 8-bit level
    * `round((x − min)/(max − min) · 255)`; distances are asymmetric
    * (full-precision query vs dequantized levels). Codes cost `dim`
    * bytes/vector (4× under float32) and, unlike PQ, encode/decode is
    * pure arithmetic — no codebook lookup in the scan.
    *
    * Train is one exact per-dim min/max aggregate (order-free, so
    * engine-exact); the 2·dim range values are a driver-side KB pull
    * (the collectCentroids precedent) re-broadcast as literals.
    * Encode + scan is ONE corpus pass of per-row HOFs with the query
    * set broadcast; rerank is the bounded_topk map-side heap.
    * Deterministic: level rounding is exact-positive HALF_UP in both
    * engines, est distances round to 6 before ranking, ties break
    * neighbor_id asc. A dimension with max = min dequantizes to that
    * constant (its quantization error is 0 by definition). */
  def sq8TopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, dim: Int): DataFrame = {
    val mm = corpus.select(posexplode(asDouble(col(vecCol))))
      .toDF("__i", "__x")
      .groupBy("__i").agg(min("__x").as("mn"), max("__x").as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(mm.length == dim, s"expected $dim dims, got ${mm.length}")
    val mins = typedlit(mm.map(_._2).toSeq)
    val maxs = typedlit(mm.map(_._3).toSeq)
    def mn(i: Column): Column = element_at(mins, i + 1)
    def mx(i: Column): Column = element_at(maxs, i + 1)
    val deq = transform(asDouble(col("__cv")), (x, i) =>
      when(mx(i) > mn(i),
        mn(i) + least(greatest(round(((x - mn(i)) / (mx(i) - mn(i))) * 255), lit(0.0)),
          lit(255.0)) / 255.0 * (mx(i) - mn(i)))
        .otherwise(mn(i)))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__dv", deq)
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("est", round(sqrt(
        graft.expressions.HashExpressions.double_l2_squared(col("__qv"), col("__dv"))), 6))
    rankTopK(scored, k, "est", ascending = true)
  }

  /** Deterministic pseudo-random unit hyperplanes: component d of plane
    * p derives from md5("seed:p:d") — reproducible, no RNG state to
    * ship to executors (and embeddable as literals in the SQL oracle).
    * Returns plane p as an array literal column. */
  private[graft] def hyperplane(seed: Long, p: Int, dim: Int): Array[Double] = {
    val comps = Array.tabulate(dim) { d =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$p:$d".getBytes("UTF-8"))
        .take(7).map("%02x".format(_)).mkString
      // uniform in [-1, 1) from 56 hash bits
      java.lang.Long.parseLong(hex, 16).toDouble / math.pow(2, 55) - 1.0
    }
    val n = math.sqrt(comps.map(x => x * x).sum)
    comps.map(_ / n)
  }

  /** Sign-bit bucket key under `planes` random hyperplanes. */
  def lshBucket(vec: Column, seed: Long, planes: Int, dim: Int): Column = {
    val bits = (0 until planes).map { p =>
      val plane = hyperplane(seed, p, dim)
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      when(dot(vec, planeCol) >= 0, lit(1L)).otherwise(lit(0L)) * lit(1L << p)
    }
    bits.reduce(_ + _)
  }

  /** Multi-probe bucket list (Lv et al.'s recall-recovery dial for
    * sign-bit LSH): the vector's own bucket first, then the buckets
    * reached by flipping the planes the vector is CLOSEST to (smallest
    * |dot| margin — the flips most likely to hold a true neighbor that
    * landed just across a boundary), margin-ordered, plane-id
    * tie-broken. `probes` = number of buckets returned (1 degenerates
    * to `array(lshBucket(...))`; max planes+1 single-bit flips).
    * Deterministic like everything in this family — same md5 planes,
    * total (margin, plane) order, margins ROUNDED to 6 digits before
    * comparison so the flip choice is engine-reproducible (the same
    * round(…, 6) convention every cross-engine compare in this file
    * uses — the s2b oracle replicates the probe set exactly). */
  def lshProbeBuckets(vec: Column, seed: Long, planes: Int, dim: Int,
                      probes: Int): Column = {
    require(probes >= 1 && probes <= planes + 1,
      s"probes must be in [1, planes+1] = [1, ${planes + 1}], got $probes")
    val base = lshBucket(vec, seed, planes, dim)
    if (probes == 1) array(base)
    else {
      val margins = (0 until planes).map { p =>
        val plane = hyperplane(seed, p, dim)
        val planeCol = array(plane.toIndexedSeq.map(lit): _*)
        struct(round(abs(dot(vec, planeCol)), 6).as("m"), lit(p).as("p"))
      }
      // lexicographic struct sort = margin asc, plane asc
      val ranked = array_sort(array(margins: _*))
      val flips = (0 until probes - 1).map { i =>
        val p = element_at(ranked, i + 1).getField("p")
        // 1L << p as exact double pow (p < 53 always; planes is small)
        base.bitwiseXOR(pow(lit(2.0), p.cast("double")).cast("long"))
      }
      array(base +: flips: _*)
    }
  }

  /** Driver-side centroid seeds: the deterministic "first C corpus
    * vectors" convention shared by IVF / PQ / k-means / SemDeDup (the
    * oracles replicate it). The readback is C·dim doubles — KB-scale,
    * the same documented boundary as Factory's trial store. The id is
    * cast to long alongside the vector cast (a non-long id column
    * would otherwise throw on the driver, and a pre-filtered corpus
    * with no ids below C would silently assign nothing — both
    * round-5 advice items). */
  private[graft] def collectCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                               centroids: Int): Seq[(Long, Seq[Double])] = {
    require(centroids >= 1, "need centroids >= 1")
    val rows = corpus.filter(col(idCol) < centroids)
      .select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .collect()
    require(rows.nonEmpty, s"no centroid seeds: the corpus has no ids in " +
      s"[0, $centroids) — first-C seeding needs the id space to start at 0")
    rows.map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors are
    * assigned once to their nearest of C centroids (deterministic
    * "sample": the first C corpus vectors); each query probes its
    * `nprobe` nearest centroids and reranks exactly within those
    * cells.
    *
    * At scale: the centroid list is a KB driver readback; assignment
    * and probing are per-row kernel expressions (no exchange at all —
    * the corpus×C window shuffle of the round-5 plan is gone); the
    * probe join prunes the corpus ~C/nprobe-fold before rerank. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              centroids: Int, nprobe: Int): DataFrame = {
    val cent = collectCentroids(corpus, idCol, vecCol, centroids)
      .map { case (cid, v) => (cid, v.toArray) }
    ivfProbeAssigned(ivfAssign(corpus, idCol, vecCol, cent),
      queries, idCol, vecCol, cent, k, nprobe)
  }

  /** The build half of [[ivfTopK]]: one per-row kernel assignment of
    * each corpus vector to its nearest centroid — the exact rows
    * [[graft.functions.AnnIndex]] persists as the IVF-flat inverted
    * file. Vectors keep their ORIGINAL element type so a parquet
    * round-trip re-scores bit-identically. */
  private[graft] def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                               cent: Seq[(Long, Array[Double])]): DataFrame =
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cid", element_at(VectorExpressions.nearest_centroids(
        asDouble(col("__cv")), cent, 1, VectorKernels.MetricCosine), 1).getField("cid"))

  /** The probe half of [[ivfTopK]], over a prebuilt (neighbor_id,
    * __cv, __cid) inverted file — in-session or loaded from a
    * persisted index. With `broadcastQueries` (the default — a probe
    * LIST is small by construction) the query side broadcast-joins;
    * [[ivfKnnJoin]] passes false for corpus-sized query tables, where
    * the join keys both sides on the cell id and Catalyst/AQE picks
    * the strategy from actual sizes — forcing a broadcast there would
    * ship the query corpus to every task. */
  private[graft] def ivfProbeAssigned(assigned: DataFrame, queries: DataFrame,
                                      idCol: String, vecCol: String,
                                      cent: Seq[(Long, Array[Double])],
                                      k: Int, nprobe: Int,
                                      broadcastQueries: Boolean = true,
                                      excludeSelf: Boolean = true): DataFrame = {
    require(nprobe >= 1, "need nprobe >= 1")
    // per-side double casts and norms BEFORE the join (and before the
    // nprobe explode, so each is computed once per input row): the
    // rerank below scores each candidate pair with ONE dot instead of
    // three, and casts no vector (the casts inside `dot` are then
    // no-ops Catalyst removes)
    val assignedN = assigned.withColumn("__cv", asDouble(col("__cv")))
      .withColumn("__cn", l2Norm(col("__cv")))
    val probes = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", l2Norm(col("__qv")))
      .withColumn("__pc", explode(VectorExpressions.nearest_centroids(
        asDouble(col("__qv")), cent, nprobe, VectorKernels.MetricCosine)))
      .withColumn("__cid", col("__pc").getField("cid"))
      .drop("__pc")
    val joined =
      if (broadcastQueries) assignedN.join(broadcast(probes), Seq("__cid"))
      else {
        // Batch-join parallelism floor (optimization r18, re-measured
        // r19 after the prenorm rerank change): the candidate
        // EXPLOSION (output ∝ |cell|·probes-per-cell) happens after
        // this exchange, so the pre-join partitioning — a tiny parquet
        // scan (often ONE split) or an AQE-coalesced exchange, both
        // sized from pre-explosion bytes — can leave the cosine+rerank
        // work on a handful of tasks (s16 at sf0.1 pre-r18: cpu 5.9 s
        // ≈ wall 6.4 s on 32 cores — one task did everything). The
        // explicit user repartition on the cell id pins the exchange
        // at the session's shuffle parallelism (AQE does not coalesce
        // user repartitions), spreading the rerank across the cell
        // space; the join then reuses this exchange (same key, same
        // partition count), so no shuffle is added at corpus scale —
        // it IS the join's own exchange, just not coalescible.
        //
        // r18 additionally SALTED each cell S = ceil(2p/cells) ways
        // (probe rows by pmod(xxhash64(query_id), S), corpus rows
        // replicated S-fold) when cells < 2p. Re-measured in r19 with
        // the prenormed rerank (one dot per pair instead of three),
        // the salting LOSES at the bench shape — s16b wall 1.49 vs
        // 1.18 s, cpu 4.7 vs 3.5 s — because the S-fold corpus
        // replication and the wider exchange now cost more than the
        // residual per-task imbalance (≤ 2 cells per task at 16 cells
        // into 32 partitions); at production cell counts (≥ 2p) the
        // salting was the identity anyway, so it is removed rather
        // than kept as dead tuning.
        val p = assigned.sparkSession.sessionState.conf.numShufflePartitions
        assignedN.repartition(p, col("__cid"))
          .join(probes, Seq("__cid"))
      }
    // self-SEARCH semantics (queries drawn from the indexed corpus):
    // a row is not its own neighbor. A join of two UNRELATED tables
    // must pass excludeSelf = false — their id spaces coincide by
    // convention (both 0-based), and the id-equality filter would
    // silently drop true neighbors (review r17).
    val scored = (if (excludeSelf)
        joined.filter(col("neighbor_id") =!= col("query_id"))
      else joined)
      .withColumn("score", round(cosinePrenorm(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")), 6))
    rankTopK(scored, k, "score", ascending = false)
  }

  /** Batch kNN JOIN via IVF — the retrieval join where BOTH sides are
    * large (the SemDeDup/embedding-retrieval primitive: every query
    * row of one table gets its approximate top-k from another). The
    * [[knnJoin]] LSH form covers the all-pairs near-dup regime; this
    * is the asymmetric regime — a query CORPUS against an inverted
    * file, the batch analogue of [[ivfTopK]] whose broadcast of the
    * query side would be corpus-sized here.
    *
    * Scale shape: both sides reach the join keyed by cell id after
    * per-row kernel assignment (zero exchange up to the join);
    * exchange ∝ corpus + queries·nprobe, candidates ∝
    * queries · nprobe · corpus/cells (never queries × corpus), and
    * the rerank is the bounded_topk map-side heap (≤ k rows per
    * task·query). Join strategy is left to Catalyst/AQE: at fixture
    * scale it may legitimately broadcast a genuinely small side; at
    * 100 TB both sides shuffle on the cell id. Cell count is the
    * parallelism dial — production indexes run thousands of cells,
    * so the cid key space is not a skew bottleneck; a hot cell is
    * exactly what [[AnnIndex.resplitCell]] exists for.
    *
    * Deterministic end to end (first-C centroids, rounded cosine, id
    * tie-breaks) — the DuckDB oracle replays the full join.
    *
    * `excludeSelf` (default true) encodes self-search: queries drawn
    * from the indexed corpus never retrieve themselves. Joining two
    * UNRELATED tables whose 0-based id spaces merely coincide MUST
    * pass false, or id-equal true neighbors are silently dropped. */
  def ivfKnnJoin(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 centroids: Int, nprobe: Int,
                 excludeSelf: Boolean = true): DataFrame = {
    val cent = collectCentroids(corpus, idCol, vecCol, centroids)
      .map { case (cid, v) => (cid, v.toArray) }
    ivfProbeAssigned(ivfAssign(corpus, idCol, vecCol, cent),
      queries, idCol, vecCol, cent, k, nprobe, broadcastQueries = false,
      excludeSelf = excludeSelf)
  }

  /** Product-quantization top-k with ADC (asymmetric distance
    * computation) — the fourth ANN family next to brute force, LSH and
    * IVF, and the one real vector stores use for memory: each vector
    * is stored as m sub-codes (here m sub-blocks × `centroids`-entry
    * codebooks; deterministic codebooks = the first `centroids` corpus
    * vectors' sub-blocks, the same "first C" convention as IVF, so the
    * oracle replicates them exactly). A query computes one small
    * distance table (m × centroids) and every corpus vector's distance
    * estimate is m table lookups + an m-term sum — the corpus is
    * scanned as codes, never as floats.
    *
    * Scale shape: the codebooks are a KB driver readback; encoding is
    * m per-row argmin kernels in ONE corpus scan (the round-5 plan
    * shuffled corpus×m rows through a per-block window — gone); the
    * ADC scan joins the (tiny, broadcast) query distance table to the
    * code table — shuffle ∝ corpus × m, no floats move. Every
    * distance is rounded to 6 digits before argmin/ranking with id
    * tie-breaks; the m-term sum folds in block order (explicit
    * d0+d1+…, not an agg) — bit-reproducible in both engines. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             m: Int, centroids: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"need dim divisible by m, got $dim / $m")
    val sub = dim / m
    val full = collectCentroids(corpus, idCol, vecCol, centroids)
    // per-block codebooks: the first-C vectors' sub-blocks
    def blockCent(b: Int): Seq[(Long, Array[Double])] =
      full.map { case (cid, v) =>
        (cid, v.slice(b * sub, (b + 1) * sub).toArray)
      }
    // encode: per (vector, block) the nearest codebook entry — m
    // per-row argmin kernels, one corpus scan, zero exchange
    val codes = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__dv"))
      .select(col("neighbor_id"), posexplode(array((0 until m).map { b =>
        element_at(VectorExpressions.nearest_centroids(
          slice(col("__dv"), b * sub + 1, sub), blockCent(b), 1,
          VectorKernels.MetricL2), 1).getField("cid")
      }: _*)))
      .toDF("neighbor_id", "__b", "__cid")
    // query ADC table: ALL m×C distances per query — the same kernel
    // with n = centroids returns every codeword with its rounded
    // distance, so no second corpus scan builds a codeword relation
    val qdist = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      .select(col("query_id"), posexplode(array((0 until m).map { b =>
        VectorExpressions.nearest_centroids(
          slice(col("__qv"), b * sub + 1, sub), blockCent(b), centroids,
          VectorKernels.MetricL2)
      }: _*)))
      .toDF("query_id", "__b", "__ds")
      .select(col("query_id"), col("__b"), explode(col("__ds")).as("__d"))
      .select(col("query_id"), col("__b"),
        col("__d").getField("cid").as("__cid"),
        col("__d").getField("score").as("__qd"))
    // ADC scan: m lookups per (query, neighbor), summed in block order
    val perBlock = codes.join(broadcast(qdist), Seq("__b", "__cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
    def blockD(b: Int): Column = max(when(col("__b") === b, col("__qd")))
    val est = perBlock.groupBy("query_id", "neighbor_id")
      .agg(round((0 until m).map(blockD).reduce(_ + _), 6).as("est"))
    rankTopK(est, k, "est", ascending = true)
  }

  /** IVF-PQ composed top-k — the coarse-quantizer + product-code
    * layout real vector stores run at scale (the FAISS IVFPQ shape):
    * corpus vectors are assigned once to their nearest of `cells`
    * coarse centroids AND encoded once as m sub-codes; a query probes
    * its `nprobe` nearest cells and ranks ONLY those cells' members
    * by the ADC estimate (m table lookups per member, no floats
    * touched at scan time). Composes the ivfTopK cell machinery with
    * the pqTopK code machinery: both the assignment and the encoding
    * are per-row kernels (one corpus scan, zero exchange), the probe
    * and distance tables broadcast, the candidate join keys on the
    * cell id, and the rerank is the bounded_topk heap — every stage's
    * exchange ∝ corpus or ∝ k.
    *
    * With `residual = false` (default) codes quantize the RAW vectors
    * (the first-`codebook` convention shared with pqTopK, so the
    * oracle replicates them exactly). `residual = true` is production
    * IVFPQ: codes quantize v − centroid(v) — removing the cell mean
    * leaves only the within-cell variation for the codebook to spend
    * its entries on, so codes are tighter and recall rises on
    * clustered corpora (SimilaritySpec pins residual ≥ raw on a
    * planted fixture). Same plan shape and exchange profile: the cell
    * centroids broadcast-join into the corpus scan (still one scan),
    * and the ADC table becomes per-(query, probed cell) — still a
    * tiny broadcast, now keyed by cell. The codebook in residual mode
    * is the first-`codebook` vectors' OWN residuals — deterministic,
    * driver-side KB math. Deterministic end to end either way:
    * rounded distances, id tie-breaks, block-ordered sums. */
  def ivfpqTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                cells: Int, nprobe: Int,
                m: Int, codebook: Int, dim: Int,
                residual: Boolean = false): DataFrame = {
    val cellCent = collectCentroids(corpus, idCol, vecCol, cells)
      .map { case (cid, v) => (cid, v.toArray) }
    val codeSeeds = ivfpqCodeSeeds(
      collectCentroids(corpus, idCol, vecCol, codebook), cellCent, residual)
    val codes = ivfpqEncode(corpus, idCol, vecCol, cellCent, codeSeeds,
      m, dim, residual)
    ivfpqProbeCodes(codes, queries, idCol, vecCol, cellCent, codeSeeds,
      k, nprobe, m, dim, residual)
  }

  /** Codebook seeds for [[ivfpqTopK]]/[[AnnIndex]]. In residual mode
    * seeds live in residual space — each seed minus ITS nearest cell
    * centroid (cosine argmax, rounded, lowest-cid ties: the kernel's
    * own ordering, replicated here in driver-side KB math). */
  private[graft] def ivfpqCodeSeeds(full: Seq[(Long, Seq[Double])],
                                    cellCent: Seq[(Long, Array[Double])],
                                    residual: Boolean): Seq[(Long, Seq[Double])] = {
    def nearestCell(v: Seq[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      cellCent.map { case (cid, cv) =>
        val cn = math.sqrt(cv.map(x => x * x).sum)
        val cos = v.zip(cv).map { case (a, b) => a * b }.sum / (n * cn)
        (-VectorKernels.round6(cos), cid, cv)
      }.minBy { case (negCos, cid, _) => (negCos, cid) }._3
    }
    if (!residual) full
    else full.map { case (cid, v) =>
      (cid, v.zip(nearestCell(v)).map { case (x, c) => x - c })
    }
  }

  private def blockCentOf(codeSeeds: Seq[(Long, Seq[Double])], sub: Int)(b: Int)
      : Seq[(Long, Array[Double])] =
    codeSeeds.map { case (cid, v) => (cid, v.slice(b * sub, (b + 1) * sub).toArray) }

  /** The build half of [[ivfpqTopK]]: ONE corpus scan producing cell
    * assignment + m block codes as (neighbor_id, __cell, __b, __cid)
    * rows — the exact rows [[AnnIndex]] persists as the IVF-PQ code
    * table. In residual mode the encoded vector is __dv −
    * centroid(cell) — the centroid table broadcast-joins into the
    * scan (no exchange). */
  private[graft] def ivfpqEncode(corpus: DataFrame, idCol: String, vecCol: String,
                                 cellCent: Seq[(Long, Array[Double])],
                                 codeSeeds: Seq[(Long, Seq[Double])],
                                 m: Int, dim: Int, residual: Boolean): DataFrame = {
    require(m >= 1 && dim % m == 0, s"need dim divisible by m, got $dim / $m")
    val sub = dim / m
    val blockCent = blockCentOf(codeSeeds, sub) _
    val session = corpus.sparkSession
    import session.implicits._
    val centDf = broadcast(
      cellCent.map { case (cid, v) => (cid, v.toSeq) }.toDF("__cell", "__centv"))
    val base = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__dv"))
      .withColumn("__cell", element_at(VectorExpressions.nearest_centroids(
        col("__dv"), cellCent, 1, VectorKernels.MetricCosine), 1).getField("cid"))
    val withEnc =
      if (!residual) base.withColumn("__ev", col("__dv"))
      else base.join(centDf, Seq("__cell"))
        .withColumn("__ev", zip_with(col("__dv"), col("__centv"), (x, c) => x - c))
    withEnc
      .select(col("neighbor_id"), col("__cell"),
        posexplode(array((0 until m).map { b =>
          element_at(VectorExpressions.nearest_centroids(
            slice(col("__ev"), b * sub + 1, sub), blockCent(b), 1,
            VectorKernels.MetricL2), 1).getField("cid")
        }: _*)))
      .toDF("neighbor_id", "__cell", "__b", "__cid")
  }

  /** The probe half of [[ivfpqTopK]], over a prebuilt code table —
    * in-session or loaded from a persisted index. */
  private[graft] def ivfpqProbeCodes(codes: DataFrame, queries: DataFrame,
                                     idCol: String, vecCol: String,
                                     cellCent: Seq[(Long, Array[Double])],
                                     codeSeeds: Seq[(Long, Seq[Double])],
                                     k: Int, nprobe: Int, m: Int, dim: Int,
                                     residual: Boolean): DataFrame = {
    require(nprobe >= 1, "need nprobe >= 1")
    val sub = dim / m
    val codebook = codeSeeds.size
    val blockCent = blockCentOf(codeSeeds, sub) _
    val session = codes.sparkSession
    import session.implicits._
    val centDf = broadcast(
      cellCent.map { case (cid, v) => (cid, v.toSeq) }.toDF("__cell", "__centv"))
    // query-side tables (tiny, broadcast): probed cells, and the ADC
    // distance table — the same kernel with n = codebook returns ALL
    // codewords with their rounded distances in one evaluation. In
    // residual mode the table is per-(query, probed cell): the query
    // residual differs per cell, so the join below also keys on it.
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
    val probes = q
      .withColumn("__pc", explode(VectorExpressions.nearest_centroids(
        col("__qv"), cellCent, nprobe, VectorKernels.MetricCosine)))
      .select(col("query_id"), col("__qv"), col("__pc").getField("cid").as("__cell"))
    val qSide =
      if (!residual) q.withColumn("__cell", lit(-1L)).withColumn("__rv", col("__qv"))
      else probes.join(centDf, Seq("__cell"))
        .withColumn("__rv", zip_with(col("__qv"), col("__centv"), (x, c) => x - c))
        .select(col("query_id"), col("__cell"), col("__rv"))
    val qdist = qSide
      .select(col("query_id"), col("__cell"), posexplode(array((0 until m).map { b =>
        VectorExpressions.nearest_centroids(
          slice(col("__rv"), b * sub + 1, sub), blockCent(b), codebook,
          VectorKernels.MetricL2)
      }: _*)))
      .toDF("query_id", "__cell", "__b", "__ds")
      .select(col("query_id"), col("__cell"), col("__b"), explode(col("__ds")).as("__d"))
      .select(col("query_id"), col("__cell"), col("__b"),
        col("__d").getField("cid").as("__cid"),
        col("__d").getField("score").as("__qd"))
    // ADC scan over probed cells only: candidate join keys on the
    // cell id, m lookups per (query, member), block-ordered sum
    val adcKeys =
      if (residual) Seq("query_id", "__cell", "__b", "__cid")
      else Seq("query_id", "__b", "__cid")
    val perBlock = codes
      .join(broadcast(probes.select("query_id", "__cell")), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(qdist.drop(if (residual) "" else "__cell")), adcKeys)
    def blockD(b: Int): Column = max(when(col("__b") === b, col("__qd")))
    val est = perBlock.groupBy("query_id", "neighbor_id")
      .agg(round((0 until m).map(blockD).reduce(_ + _), 6).as("est"))
    rankTopK(est, k, "est", ascending = true)
  }

  /** Full k-NN self-join: top-k neighbors for EVERY corpus vector (the
    * all-pairs version of lshTopK — semantic-dedup and
    * cluster-then-sample pipelines need the whole neighbor graph, not a
    * handful of queries, so nothing is broadcast).
    *
    * Both sides of the candidate join are the bucketed corpus itself:
    * shuffle ∝ corpus, candidates ∝ corpus²/2^planes. `planes` is the
    * recall/cost dial — at 100 TB it scales with log₂(corpus) to hold
    * per-vector candidate counts roughly constant. `probes` > 1 is the
    * OTHER dial ([[lshProbeBuckets]]): the query side probes its own
    * bucket plus the probes−1 lowest-margin single-bit flips, so
    * recall recovers without re-bucketing the corpus — candidates ∝
    * probes × corpus²/2^planes, same plan shape (the corpus index
    * side stays single-bucket, so no pair is produced twice).
    * probes = 1 keeps the exact s5-oracle plan. Deterministic md5
    * planes → the oracle replicates the bucketing bit-for-bit. */
  def knnJoin(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
              seed: Long, planes: Int, dim: Int,
              probes: Int = 1): DataFrame = {
    val bucket = lshBucket(col(vecCol), seed, planes, dim)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"), bucket.as("__bucket"))
    val q =
      if (probes == 1)
        corpus.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
          l2Norm(col(vecCol)).as("__qn"), bucket.as("__bucket"))
      else
        corpus.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
          l2Norm(col(vecCol)).as("__qn"),
          explode(lshProbeBuckets(col(vecCol), seed, planes, dim, probes))
            .as("__bucket"))
    val scored = c.join(q, Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(cosinePrenorm(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")), 6))
    rankTopK(scored, k, "score", ascending = false)
  }

  /** LSH-pruned approximate top-k: corpus and queries are bucketed by
    * hyperplane sign bits; candidates share the query's bucket, then
    * exact cosine reranks. At scale the bucket join replaces the full
    * cross product — shuffle ∝ corpus, candidates ∝ corpus/2^planes
    * per query. `probes` > 1 ([[lshProbeBuckets]]) widens each query
    * to its lowest-margin neighbor buckets — recall recovers at
    * probes× candidate cost, same plan shape, corpus untouched;
    * probes = 1 keeps the exact s2-oracle plan. Approximate (recall
    * < 1 by design), yet exactly reproducible: the md5-derived planes
    * are deterministic, so the s2_ann_lsh oracle replicates the
    * bucketing bit-for-bit and the gate compares exact results. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              seed: Long, planes: Int, dim: Int,
              probes: Int = 1): DataFrame = {
    val bucket = lshBucket(col(vecCol), seed, planes, dim)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"), bucket.as("__bucket"))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2Norm(col(vecCol)).as("__qn"))
    val q = broadcast(
      if (probes == 1)
        qBase.withColumn("__bucket", lshBucket(col("__qv"), seed, planes, dim))
      else qBase.withColumn("__bucket",
        explode(lshProbeBuckets(col("__qv"), seed, planes, dim, probes))))
    val scored = c.join(q, Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(cosinePrenorm(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")), 6))
    rankTopK(scored, k, "score", ascending = false)
  }

  /** Deterministic Lloyd (k-means) refinement of the first-C seed
    * centroids — the clustering primitive behind IVF cells and
    * SemDeDup buckets, as an actual iterative optimizer instead of
    * the raw seed convention. Each iteration is (a) one corpus pass
    * assigning every vector to its nearest centroid by round(cos, 6)
    * with centroid-id tie-break, and (b) a per-(cluster, dimension)
    * mean recompute. Returns the assignment to the LAST refined
    * centroids: (id, cluster, score).
    *
    * Cross-engine determinism: a distributed double sum is
    * fold-order-dependent, so each component is fixed-pointed to
    * integer micros (round(x·10⁶) as long) and summed in exact long
    * arithmetic; the mean is then one double division — bit-identical
    * at any parallelism and in the oracle, which rebuilds the same
    * centroid lists with `list(… ORDER BY dim)`. Empty clusters drop
    * out in both engines (GROUP BY emits no row).
    *
    * Scale shape: per iteration one corpus scan with a per-row
    * assignment kernel (NO exchange — the corpus×C argmin window of
    * the round-5 plan is gone) + one map-side-combined (cluster, dim)
    * agg of C·dim cells; the driver materializes only the C·dim mean
    * table (KB — the same tiny-readback boundary as Factory's trial
    * store). Iterations are a small constant (Lloyd converges in few
    * steps for bucketing purposes); everything corpus-sized stays
    * distributed. */
  def kmeansRefine(corpus: DataFrame, idCol: String, vecCol: String,
                   clusters: Int, iters: Int): DataFrame = {
    require(clusters >= 1 && iters >= 0, "need clusters >= 1, iters >= 0")
    val e = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val assigned = assignToCentroids(e, refineCentroids(e, clusters, iters))
    assigned.select(col("__id").as(idCol), col("__cid").as("cluster"),
      col("__cs").as("score"))
  }

  /** Nearest-centroid assignment of (__id, __v) rows to a driver-side
    * centroid list, as a single per-row kernel expression:
    * rounded-cosine argmax, centroid-id tie-break — identical decision
    * to the old crossJoin+window form, with ZERO exchange (the window
    * shuffled corpus×C rows; the kernel is part of the scan
    * projection). Keeps __id, __v, __cid, __cs. */
  private def assignToCentroids(e: DataFrame,
                                cent: Seq[(Long, Seq[Double])]): DataFrame = {
    require(cent.nonEmpty, "empty centroid set: nothing to assign to " +
      "(first-C seeding needs the id space to start at 0)")
    val best = element_at(VectorExpressions.nearest_centroids(
      col("__v"), cent.map { case (cid, v) => (cid, v.toArray) }, 1,
      VectorKernels.MetricCosine), 1)
    e.withColumn("__best", best)
      .select(col("__id"), col("__v"),
        col("__best").getField("cid").as("__cid"),
        col("__best").getField("score").as("__cs"))
  }

  /** Bucketed (large-C) assignment path: when C grows past the dense
    * broadcast boundary (~10⁵ centroids at dim 64 — semDedup scaladoc),
    * ship the centroids through an LSH bucket join instead of a dense
    * per-row scan: centroids and vectors bucket by the same hyperplane
    * signs (lshBucket), candidates share the vector's bucket, and the
    * per-vector argmax is a map-side-combined `max(struct)` — exchange
    * ∝ corpus (one hash agg), never corpus×C. APPROXIMATE by design
    * (the true nearest centroid can land in another bucket — recall is
    * the planes dial, exactly lshTopK's contract); on well-separated
    * clusters it equals dense assignment (SimilaritySpec pins this at
    * C=4096). Vectors whose bucket holds no centroid drop out — callers
    * needing total cover union a fallback or lower `planes`. */
  def bucketedAssign(e: DataFrame, cent: DataFrame,
                     seed: Long, planes: Int, dim: Int): DataFrame = {
    val vb = e.select(col("__id"), col("__v"),
      l2Norm(col("__v")).as("__vn"),
      lshBucket(col("__v"), seed, planes, dim).as("__bucket"))
    val cb = cent.select(col("__cid"), col("__centv"),
      l2Norm(col("__centv")).as("__centn"),
      lshBucket(col("__centv"), seed, planes, dim).as("__bucket"))
    vb.join(cb, Seq("__bucket"))
      .withColumn("__cs", round(cosinePrenorm(col("__v"), col("__centv"),
        col("__vn"), col("__centn")), 6))
      // lexicographic struct max = (score desc, cid asc) argmax: the
      // negated cid makes the tie-break pick the SMALLEST cid — a
      // first-class hash agg with map-side partial combine
      .groupBy("__id")
      .agg(max(struct(col("__cs"), (-col("__cid")).as("__ncid"),
        col("__v"))).as("__best"))
      .select(col("__id"),
        col("__best").getField("__v").as("__v"),
        (-col("__best").getField("__ncid")).as("__cid"),
        col("__best").getField("__cs").as("__cs"))
  }

  /** [[refineCentroids]] over a raw (id, vec) corpus — the entry
    * point [[graft.functions.AnnIndex.ivfIndexSave]] uses for its
    * `trainIters` arm: first-C seeds tightened by `iters`
    * deterministic Lloyd steps (integer-micro sums, floor-free exact
    * means — bit-identical at any parallelism, replayable by an
    * unrolled SQL oracle). Returns (cid, centroid) with the SEED ids
    * kept, so downstream cell ids stay stable; clusters that empty
    * out during refinement drop from the list (GROUP BY emits no
    * row), which is legal everywhere a centroid list flows. */
  private[graft] def trainedCentroids(corpus: DataFrame, idCol: String,
                                      vecCol: String, clusters: Int,
                                      iters: Int): Seq[(Long, Array[Double])] = {
    require(clusters >= 1 && iters >= 0, "need clusters >= 1, iters >= 0")
    val e = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    refineCentroids(e, clusters, iters).map { case (c, v) => (c, v.toArray) }
  }

  /** First-C seeds refined by `iters` Lloyd steps (fixed-point micro
    * means — see kmeansRefine). iters = 0 returns the raw seeds. */
  private def refineCentroids(e: DataFrame, clusters: Int,
                              iters: Int): Seq[(Long, Seq[Double])] = {
    val seeds = e.filter(col("__id") < clusters)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    require(seeds.nonEmpty, s"no seed centroids: the corpus has no ids in " +
      s"[0, $clusters) — first-C seeding needs the id space to start at 0")
    var cent: Seq[(Long, Seq[Double])] = seeds
    for (_ <- 1 to iters) {
      val means = assignToCentroids(e, cent)
        .select(col("__cid"), posexplode(col("__v")).as(Seq("__dim", "__x")))
        .groupBy("__cid", "__dim")
        .agg(sum(round(col("__x") * lit(1e6)).cast("long")).as("__s"),
          count(lit(1)).as("__n"))
        .withColumn("__m",
          col("__s").cast("double") / lit(1e6) / col("__n").cast("double"))
        .select("__cid", "__dim", "__m")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      cent = means.groupBy(_._1).map { case (cid, rs) =>
        (cid, rs.sortBy(_._2).map(_._3).toSeq)
      }.toSeq.sortBy(_._1)
    }
    cent
  }

  /** SemDeDup — semantic (embedding-space) deduplication, the
    * cluster-then-prune recipe: assign every vector to its nearest of
    * C centroids, then within each cluster mark a vector a duplicate
    * when some LOWER-id cluster-mate is cosine-similar at or above
    * `threshold` — the lowest id of each similarity group survives as
    * the representative. Centroids are the deterministic "first C
    * corpus vectors" convention shared with ivfTopK/pqTopK, so the
    * oracle replicates the clustering decision-for-decision.
    *
    * Scale shape: assignment is ONE corpus scan with a per-row kernel
    * (no exchange — see assignToCentroids), locally checkpointed so
    * the three consumers (both self-join sides, the final left join)
    * read the materialized assignment instead of re-running the scan;
    * the duplicate scan is a self-join KEYED ON THE CLUSTER ID —
    * shuffle ∝ corpus, pair work ∝ Σ cluster² ≈ corpus · (corpus/C).
    * The production dial is C ∝ corpus: constant cluster size makes
    * pair work linear in the corpus (real deployments use tens of
    * thousands of clusters for 100M+ vectors); a hot cluster is
    * AQE-skew-join territory, and the per-cluster pair scan never
    * leaves its shuffle partition. Honest boundary of the assignment
    * stage: the dense centroid matrix costs C·dim·8 bytes per task —
    * fine through C ~ 10⁵ at dim 64 (beyond that, [[bucketedAssign]]
    * is the large-C assignment plan).
    *
    * Returns one row per corpus vector: (id, cluster, is_dup). The
    * reference has no embedding dedup — parity-plus surface.
    *
    * The assignment is materialized once through [[Lineage.cut]]. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               clusters: Int, threshold: Double): DataFrame = {
    require(clusters >= 1, "need clusters >= 1")
    val e = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    // one assignment pass, materialized: the checkpoint cuts the
    // lineage so the three consumers below read the materialized
    // assignment instead of re-running the scan
    // the norm rides the materialized assignment (computed once per
    // row, not once per within-cluster pair — optimization r19)
    val assigned = Lineage.cut(assignToCentroids(e, refineCentroids(e, clusters, 0))
      .select(col("__id"), col("__v"), col("__cid"),
        l2Norm(col("__v")).as("__n")))
    // within-cluster scan: only (lower-id → higher-id) direction, so
    // the group representative can never be marked
    val dup = assigned.select(col("__cid"), col("__id"), col("__v"),
        col("__n")).as("x")
      .join(assigned.select(col("__cid"), col("__id").as("__lo"),
        col("__v").as("__lov"), col("__n").as("__lon")).as("y"),
        col("x.__cid") === col("y.__cid") && col("__lo") < col("__id"))
      .filter(round(cosinePrenorm(col("__v"), col("__lov"),
        col("x.__n"), col("__lon")), 6) >= threshold)
      .select(col("__id")).distinct()
      .withColumn("__isdup", lit(true))
    assigned.join(dup, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__cid").as("cluster"),
        coalesce(col("__isdup"), lit(false)).as("is_dup"))
  }
}
