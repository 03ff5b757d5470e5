package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.SimilarityFunctions._

/** Similarity-search queries over the `embeddings` table. */
object SimilarityQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-5 for 10 query vectors (exact baseline).
    "s1_ann_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed approximate top-5 (the 100 TB scale path: bucket
    // join prunes the corpus before exact rerank). Approximate w.r.t.
    // s1 but fully deterministic (md5-derived hyperplanes), so the
    // oracle replicates the bucketing exactly; SimilaritySpec
    // additionally measures recall vs s1.
    "s2_ann_lsh" -> ((s, d) => {
      val e = embeddings(s, d)
      lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, seed = 42L, planes = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // ANN index-quality report: recall@5 of the LSH path against the
    // brute-force truth, per query — the measurement a production ANN
    // deployment runs on a sampled query set before trusting an index
    // config. Both sides are deterministic, so recall itself is
    // oracle-exact.
    "s9_ann_recall" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val brute = bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id")
      val approx = lshTopK(e, q, "vec_id", "embedding",
          k = 5, seed = 42L, planes = 4, dim = 64)
        .select("query_id", "neighbor_id")
      val hits = brute.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).cast("int").as("hits"))
      q.select(col("vec_id").as("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0)).as("hits"),
          round(coalesce(col("hits"), lit(0)).cast("double") / lit(5.0), 6).as("recall"))
        .orderBy("query_id")
    }),

    // Multi-probe LSH top-5: each query probes its own bucket PLUS the
    // bucket across its lowest-margin hyperplane (probes = 2) — the
    // recall-recovery dial with the corpus untouched. Margins are
    // rounded to 6 digits before the argmin (plane-id tie-break), so
    // the oracle replicates the probe set bit-for-bit.
    "s2b_ann_multiprobe" -> ((s, d) => {
      val e = embeddings(s, d)
      lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, seed = 42L, planes = 4, dim = 64, probes = 2)
        .orderBy("query_id", "rank")
    }),

    // IVF approximate top-5: nearest-centroid cells + nprobe probing
    // (the other scale path besides LSH). Deterministic (centroids =
    // first C corpus vectors) → exact oracle; SimilaritySpec measures
    // recall vs s1.
    "s4_ann_ivf" -> ((s, d) => {
      val e = embeddings(s, d)
      ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, centroids = 16, nprobe = 4)
        .orderBy("query_id", "rank")
    }),

    // The ANN TUNING loop: the recall/cost curve a deployment measures
    // before trusting an nprobe setting — mean recall@5 vs brute-force
    // truth and the candidate count (the probe join's row count, the
    // cost that scales) for nprobe = 1, 2, 4, 8 over one corpus and
    // one query set. A bounded PARAMETER sweep, not a data loop: four
    // plans union'd, everything deterministic, so the whole curve is
    // oracle-exact (the operational twin of s9's single-point report).
    "s12_ann_nprobe_curve" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      // re-planned per branch rather than persisted: 4× a corpus×10
      // broadcast scan is trivial at any SF (queries stay bounded) and
      // keeps the query pack stateless across bench passes
      val brute = bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id")
      val cent = collectCentroids(e, "vec_id", "embedding", 16)
        .map { case (cid, v) => (cid, v.toArray) }
      val sizes = ivfAssign(e, "vec_id", "embedding", cent)
        .groupBy(col("__cid")).agg(count(lit(1)).as("__csz"))
      val curves = Seq(1, 2, 4, 8).map { np =>
        val approx = ivfTopK(e, q, "vec_id", "embedding",
          k = 5, centroids = 16, nprobe = np)
          .select("query_id", "neighbor_id")
        val hits = brute.join(approx, Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("hits"))
        val recall = q.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .agg(round(avg(coalesce(col("hits"), lit(0)).cast("double") / 5.0), 6)
            .as("mean_recall"))
        // candidate cost = Σ over (query, probed cell) of cell size,
        // minus the self-match each query's own (always-probed) cell
        // contributes — exactly the rerank join's input row count
        val probes = q
          .select(explode(graft.expressions.VectorExpressions.nearest_centroids(
            col("embedding").cast("array<double>"), cent, np,
            graft.expressions.VectorKernels.MetricCosine)).as("__pc"))
          .select(col("__pc").getField("cid").as("__cid"))
        val cand = probes.join(broadcast(sizes), Seq("__cid"))
          .agg((sum(col("__csz")) - lit(10)).as("candidates"))
        recall.crossJoin(cand)
          .select(lit(np).as("nprobe"), col("mean_recall"), col("candidates"))
      }
      curves.reduce(_ unionByName _).orderBy("nprobe")
    }),

    // Persisted IVF index + incremental add (AnnIndex): build & SAVE
    // the inverted file from the first half of the corpus, APPEND the
    // second half against the saved centroids (no rebuild), then
    // probe the LOADED index. Same oracle as s4 — save/load/addBatch
    // must be invisible to results. Probing reads only the probed
    // cells' parquet partitions. The scratch dir is deterministic per
    // scale dir (bounded leftovers, one per sf) and every save runs
    // in overwrite mode, so sequential re-invocations are idempotent;
    // Verify/Bench run queries one at a time (single-writer).
    "s10_ann_index_persisted" -> ((s, d) => {
      val e = embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ann_flat_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.functions.AnnIndex.ivfIndexSave(
        e.filter(col("vec_id") < 250), "vec_id", "embedding",
        cells = 16, dir = dir)
      graft.functions.AnnIndex.addBatch(s, dir,
        e.filter(col("vec_id") >= 250), "vec_id", "embedding")
      graft.functions.AnnIndex.probe(s, dir,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 4)
        .orderBy("query_id", "rank")
    }),

    // Persisted IVF-PQ index + incremental add: same round-trip for
    // the code-table layout (cells + per-block codes partitioned by
    // cell), probed via the loaded codebook. Same oracle as s8.
    "s10b_ann_ivfpq_persisted" -> ((s, d) => {
      val e = embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ann_pq_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.functions.AnnIndex.ivfpqIndexSave(
        e.filter(col("vec_id") < 250), "vec_id", "embedding",
        cells = 16, m = 4, codebook = 16, dim = 64, residual = false,
        dir = dir)
      graft.functions.AnnIndex.addBatch(s, dir,
        e.filter(col("vec_id") >= 250), "vec_id", "embedding")
      graft.functions.AnnIndex.probe(s, dir,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 4)
        .orderBy("query_id", "rank")
    }),

    // Streaming vector ingest, oracle-gated end-to-end (the st9 twin
    // for the ANN family — r16: before this, vectorIngest's truth
    // rested on StreamingSpec alone): save the first 250 vectors,
    // stream the rest through vectorIngest in two micro-batches, then
    // run the exactly-once REPLAY arm inside the gate (batch 0's
    // marker dropped, same data re-streamed under the same streamId
    // from a fresh checkpoint — the foreachBatch re-run must scrub
    // tag st10-b0 and converge to ONE copy). Final store content is
    // identical to s10's, so the SAME s4 oracle gates it: a replay
    // that loses or doubles a vector changes the probed top-5.
    "st10_vector_ingest" -> ((s, d) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val e = embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ann_stream_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      // fresh store per call: markers/checkpoints from a previous rep
      // would silently skip this rep's batches
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      val pt = graft.PhaseTimer.start("st10_vector_ingest")
      pt("save") { graft.functions.AnnIndex.ivfIndexSave(
        e.filter(col("vec_id") < 250), "vec_id", "embedding",
        cells = 16, dir = dir) }
      val rest = e.filter(col("vec_id") >= 250)
        .select("vec_id", "embedding").orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val (b1, b2) = rest.splitAt(rest.length / 2)
      implicit val sqlCtx = s.sqlContext
      def ingest(ckpt: String)(batches: Seq[Array[(Long, Seq[Float])]]): Unit = {
        val mem = MemoryStream[(Long, Seq[Float])]
        val q = graft.streaming.StreamOps.vectorIngest(
            mem.toDF().toDF("vec_id", "embedding"), dir, "vec_id", "embedding",
            streamId = "st10")
          .option("checkpointLocation", s"$dir/$ckpt")
          .start()
        // one processAllAvailable per addData = one micro-batch each
        // (a single drain would coalesce both payloads into batch 0)
        try batches.foreach { b =>
          mem.addData(b.toSeq: _*); q.processAllAvailable()
        } finally q.stop()
      }
      pt("ingest") { ingest("ckpt")(Seq(b1, b2)) }
      // replay arm: crash-before-marker simulation for batch 0
      pt("replay") {
        val marker = new org.apache.hadoop.fs.Path(s"$dir/ingest_log/st10/batch-0")
        marker.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(marker, false)
        ingest("ckpt2")(Seq(b1))
      }
      // probe is lazy here — its scan cost lands in the bundle's
      // residual "exec" phase (the count Bench runs)
      graft.functions.AnnIndex.probe(s, dir,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 4)
        .orderBy("query_id", "rank")
    }),

    // Index MAINTENANCE round-trip: per-cell stats of a saved ivf_flat
    // index (footer-only counts, no data scan), a deliberately SKEWED
    // ingest — two addBatch micro-batches of 25 clones of vector 3's
    // embedding, all landing in cell 3 — a compactCells pass (the
    // small-files valve; its phase must reproduce the pre-compact
    // counts bit-for-bit), and a resplitCell(3, k=4) that re-centroids
    // the hot cell into sub-cells 16…19 (seeds = its first-4 members
    // by id, the collectCentroids convention). Output = the (phase,
    // cell, n) stats table across the four states; the oracle re-derives every
    // assignment (including the tie-break that sends every clone to
    // the first v3-seeded sub-cell) from the same first-C conventions.
    // Bytes/file columns of indexStats are NOT emitted — parquet
    // physical sizes are encoder-dependent, not oracle-reproducible.
    "s11_ann_index_maintain" -> ((s, d) => {
      import s.implicits._
      val pt = graft.PhaseTimer.start("s11_ann_index_maintain")
      val e = embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ann_maint_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      pt("save") { graft.functions.AnnIndex.ivfIndexSave(
        e.filter(col("vec_id") < 250), "vec_id", "embedding",
        cells = 16, dir = dir) }
      // the four stats snapshots time under ONE "stats" phase
      // (PhaseTimer sums same-named phases)
      def snap(phase: String): Seq[(String, Long, Long)] = pt("stats") {
        graft.functions.AnnIndex.indexStats(s, dir)
          .select(col("cell"), col("n_vectors")).collect()
          .map(r => (phase, r.getLong(0), r.getLong(1))).toSeq }
      val base = snap("1_base")
      val v3 = e.filter(col("vec_id") === 3).select(col("embedding").as("__bv"))
      def batch(lo: Int, hi: Int) =
        s.range(lo, hi).select((col("id") + 10000).as("vec_id"))
          .crossJoin(broadcast(v3)).select(col("vec_id"), col("__bv").as("embedding"))
      // two micro-batches so cell 3 really holds multiple files…
      pt("ingest") {
        graft.functions.AnnIndex.addBatch(s, dir, batch(0, 25), "vec_id", "embedding")
        graft.functions.AnnIndex.addBatch(s, dir, batch(25, 50), "vec_id", "embedding")
      }
      val added = snap("2_added")
      // …and the compaction pass has real work; the hash gate then
      // proves compaction conserves every cell's rows (3_compact must
      // equal 2_added bit-for-bit)
      pt("compact") { graft.functions.AnnIndex.compactCells(s, dir, minFiles = 2) }
      val compacted = snap("3_compact")
      pt("resplit") { graft.functions.AnnIndex.resplitCell(s, dir, cid = 3L, k = 4) }
      val resplit = snap("4_resplit")
      (base ++ added ++ compacted ++ resplit).toDF("phase", "cell", "n")
        .orderBy("phase", "cell")
    }),

    // The s11 life-cycle replayed for the PRODUCTION layout (ivf_pq
    // with the keepVectors raw-vector sidecar): save → two skewed
    // ingest batches → compaction → resplit of the hot PQ cell, each
    // phase snapshotted by indexStats (which reports VECTORS — code
    // rows / m — so the oracle is layout-independent). Cell
    // assignment and the resplit's sub-assignment share the flat
    // path's kernels and conventions, so the s11 oracle gates this
    // verbatim: any vector lost or doubled by the sidecar-driven PQ
    // re-encode breaks the hash.
    "s13_ann_ivfpq_maintain" -> ((s, d) => {
      import s.implicits._
      val pt = graft.PhaseTimer.start("s13_ann_ivfpq_maintain")
      val e = embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ann_pqmaint_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      pt("save") { graft.functions.AnnIndex.ivfpqIndexSave(
        e.filter(col("vec_id") < 250), "vec_id", "embedding",
        cells = 16, m = 4, codebook = 16, dim = 64, residual = false,
        dir = dir, keepVectors = true) }
      def snap(phase: String): Seq[(String, Long, Long)] = pt("stats") {
        graft.functions.AnnIndex.indexStats(s, dir)
          .select(col("cell"), col("n_vectors")).collect()
          .map(r => (phase, r.getLong(0), r.getLong(1))).toSeq }
      val base = snap("1_base")
      val v3 = e.filter(col("vec_id") === 3).select(col("embedding").as("__bv"))
      def batch(lo: Int, hi: Int) =
        s.range(lo, hi).select((col("id") + 10000).as("vec_id"))
          .crossJoin(broadcast(v3)).select(col("vec_id"), col("__bv").as("embedding"))
      pt("ingest") {
        graft.functions.AnnIndex.addBatch(s, dir, batch(0, 25), "vec_id", "embedding")
        graft.functions.AnnIndex.addBatch(s, dir, batch(25, 50), "vec_id", "embedding")
      }
      val added = snap("2_added")
      pt("compact") { graft.functions.AnnIndex.compactCells(s, dir, minFiles = 2) }
      val compacted = snap("3_compact")
      pt("resplit") { graft.functions.AnnIndex.resplitCell(s, dir, cid = 3L, k = 4) }
      val resplit = snap("4_resplit")
      (base ++ added ++ compacted ++ resplit).toDF("phase", "cell", "n")
        .orderBy("phase", "cell")
    }),

    // Full k-NN self-join: top-3 neighbors for EVERY vector via the
    // LSH bucket join (the neighbor-graph builder behind semantic
    // dedup / cluster-then-sample). Nothing broadcast — both join
    // sides are the corpus; candidates ∝ corpus²/2^planes.
    "s5_knn_join" -> ((s, d) => {
      knnJoin(embeddings(s, d), "vec_id", "embedding",
        k = 3, seed = 42L, planes = 6, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // Tombstone delete lifecycle over the persisted IVF index (the
    // GDPR/right-to-erasure arm — the one CRUD op the store lacked):
    // save → committed delete batch (replayed once: must be a no-op)
    // → a CRASHED delete batch left staged-uncommitted (must stay
    // invisible forever) → probe under the mask → vacuum (its
    // write-entry recovery sweeps the crash remnant; bytes reclaimed,
    // tombstones retired) → probe again (identical rows) → second
    // delete batch committed → probe under the new mask. Each arm's rows are
    // collected BEFORE the next mutation, so the gate pins the mask
    // path, the vacuum path, and their equality, not just the final
    // state.
    "s17_ann_delete" -> ((s, d) => {
      import s.implicits._
      val pt = graft.PhaseTimer.start("s17_ann_delete")
      val e = embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ann_del_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      pt("save") { graft.functions.AnnIndex.ivfIndexSave(
        e, "vec_id", "embedding", cells = 16, dir = dir) }
      def probeArm(arm: String): Seq[(String, Long, Long, Double, Int)] =
        pt("probe") {
          graft.functions.AnnIndex.probe(s, dir,
              e.filter(col("vec_id") < 10), "vec_id", "embedding",
              k = 5, nprobe = 4)
            .collect().map(r => (arm, r.getLong(0), r.getLong(1),
              r.getDouble(2), r.getInt(3))).toSeq
        }
      val del1 = e.filter(col("vec_id") % 7 === 3).select("vec_id")
      pt("delete") {
        graft.functions.AnnIndex.deleteIds(s, dir, del1, "vec_id", "del-1")
        // replay of a committed tag: converges, no double batch
        graft.functions.AnnIndex.deleteIds(s, dir, del1, "vec_id", "del-1")
        // a delete that CRASHED before its commit rename: staged ids
        // that must never apply (probes ignore staging; the next
        // write entry sweeps it)
        e.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").cast("long").as("__tomb_id"))
          .write.mode("overwrite").parquet(s"$dir/.staging-del-crash99")
      }
      val masked = probeArm("1_masked")
      val rewrote = pt("vacuum") {
        graft.functions.AnnIndex.vacuumDeletes(s, dir) }
      require(rewrote.nonEmpty, "vacuum rewrote no cells")
      val vacuumed = probeArm("2_vacuumed")
      pt("delete") { graft.functions.AnnIndex.deleteIds(s, dir,
        e.filter(col("vec_id") % 11 === 5).select("vec_id"), "vec_id", "del-2") }
      val masked2 = probeArm("3_masked2")
      (masked ++ vacuumed ++ masked2)
        .toDF("arm", "query_id", "neighbor_id", "score", "rank")
        .orderBy("arm", "query_id", "rank")
    }),

    // Batch kNN JOIN via IVF (the asymmetric big-big retrieval join:
    // every row of a corpus-sized query table gets its top-3 from
    // the inverted file; here queries = the corpus itself). The query
    // side is NOT broadcast — both sides key on the cell id and
    // Catalyst picks the strategy; candidates ∝ queries·nprobe·
    // corpus/cells, rerank is the bounded_topk heap.
    "s16_ann_batch_join" -> ((s, d) => {
      val e = embeddings(s, d)
      ivfKnnJoin(e, e, "vec_id", "embedding",
        k = 3, centroids = 16, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // The TWO-TABLE arm of the batch join (excludeSelf = false —
    // review r17): unrelated tables whose id spaces merely coincide
    // keep id-equal true neighbors; here every query's rank-1 must be
    // its own corpus row (cosine 1.0, lowest-id tie-break), which the
    // self-search arm above is required to drop.
    "s16b_ann_batch_join_2t" -> ((s, d) => {
      val e = embeddings(s, d)
      ivfKnnJoin(e, e, "vec_id", "embedding",
        k = 3, centroids = 16, nprobe = 2, excludeSelf = false)
        .orderBy("query_id", "rank")
    }),

    // PQ-ADC approximate top-5 (the memory-bound ANN family: corpus
    // scanned as 4 sub-codes, distances from a per-query lookup
    // table). Deterministic codebooks (first-16 sub-blocks) → exact
    // oracle; SimilaritySpec measures recall vs s1.
    "s6_ann_pq" -> ((s, d) => {
      val e = embeddings(s, d)
      pqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, m = 4, centroids = 16, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // SQ8 scalar-quantized top-5 (the other quantization family next
    // to PQ): per-dim [min,max] trained on the corpus (exact,
    // order-free aggregate), every component stored as one 8-bit
    // level, asymmetric L2 against the dequantized levels. One
    // corpus pass, queries broadcast. Exact oracle by construction.
    "s14_ann_sq8" -> ((s, d) => {
      val e = embeddings(s, d)
      sq8TopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // Query-time FILTERED probe over the fixed persisted index (the
    // production "filtered vector search" shape): top-5 among the
    // EVEN vec_ids only, the predicate semi-joined into the pruned
    // cell scan before any distance work — one index serves every
    // attribute constraint, and k stays filled however selective the
    // predicate (post-filtering an unfiltered top-k under-fills).
    "s15_ann_filtered" -> ((s, d) => {
      val e = embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ann_filt_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.functions.AnnIndex.ivfIndexSave(e, "vec_id", "embedding",
        cells = 16, dir = dir)
      graft.functions.AnnIndex.probeFiltered(s, dir,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 4,
        allowed = e.filter(col("vec_id") % 2 === 0).select("vec_id"),
        allowedIdCol = "vec_id")
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ composed top-5: coarse cells prune the corpus (nprobe=4
    // of 16), PQ-ADC ranks within the probed cells (4 sub-codes of
    // 16) — the layout real vector stores run at 100 TB; corpus
    // scanned ONCE for cell + codes (per-row kernels, no exchange),
    // candidates keyed on the cell id. Deterministic (first-16
    // conventions) → exact oracle; SimilaritySpec measures recall.
    "s8_ann_ivfpq" -> ((s, d) => {
      val e = embeddings(s, d)
      ivfpqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, cells = 16, nprobe = 4, m = 4, codebook = 16, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // Residual-quantized IVF-PQ: codes quantize v − centroid(v), the
    // production FAISS convention — deterministic end to end (rounded
    // distances, id tie-breaks), so the oracle replicates the cell
    // assignment, the residual codebook (the first-32 seeds' own
    // residuals) and the per-(query, cell) ADC tables exactly. Cells
    // and codebook are DISTINCT prefixes (8 vs 32): with them equal,
    // every seed residual would be the zero vector and the mode
    // degenerates.
    "s8b_ann_ivfpq_residual" -> ((s, d) => {
      val e = embeddings(s, d)
      ivfpqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, cells = 8, nprobe = 2, m = 4, codebook = 32, dim = 64,
        residual = true)
        .orderBy("query_id", "rank")
    }),

    // One deterministic Lloyd step on the first-16 seeds: assignment
    // to the REFINED centroids (per-cluster fixed-point means). The
    // oracle rebuilds the identical means via exact integer micro
    // sums (kmeansRefine scaladoc).
    "s7_kmeans_refine" -> ((s, d) => {
      kmeansRefine(embeddings(s, d), "vec_id", "embedding",
        clusters = 16, iters = 1)
        .orderBy("vec_id")
    }),

    // Large-C bucketed centroid assignment (the dense-broadcast escape
    // hatch, exercised as a first-class oracle query): centroids and
    // vectors bucket by the same md5-derived hyperplane signs; each
    // vector takes the argmax centroid WITHIN its bucket via a
    // map-side max(struct) — exchange ∝ corpus, never corpus×C.
    // Approximate by the LSH contract (vectors in centroid-free
    // buckets drop; a same-bucket centroid may not be the global
    // nearest) yet fully deterministic, so the oracle replicates the
    // decision exactly.
    "d12_bucketed_assign" -> ((s, d) => {
      import graft.functions.SimilarityFunctions.bucketedAssign
      val e = embeddings(s, d)
        .select(col("vec_id").cast("long").as("__id"),
          col("embedding").cast("array<double>").as("__v"))
      val cent = e.filter(col("__id") < 16)
        .select(col("__id").as("__cid"), col("__v").as("__centv"))
      bucketedAssign(e, cent, seed = 5L, planes = 4, dim = 64)
        .select(col("__id").as("vec_id"), col("__cid").as("cluster"),
          col("__cs").as("score"))
        .orderBy("vec_id")
    }),

    // Trained-centroid IVF lifecycle (r17 judge item #2): the first-16
    // seeds are tightened by TWO distributed Lloyd steps before the
    // inverted file is built (ivfIndexSave(trainIters = 2)) — the
    // quality arm the first-C convention skips. Every step is
    // deterministic (integer-micro sums, rounded-cosine argmax with
    // cid tie-break), so the oracle replays BOTH unrolled iterations
    // the t8/t10 way and then probes the refined cells exactly.
    // Probing the LOADED index pins that trained centroids survive
    // the save/load round-trip bit-identically.
    "s18_ann_kmeans" -> ((s, d) => {
      val e = embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ann_km_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val pt = graft.PhaseTimer.start("s18_ann_kmeans")
      pt("train_save") { graft.functions.AnnIndex.ivfIndexSave(
        e, "vec_id", "embedding", cells = 16, dir = dir, trainIters = 2) }
      graft.functions.AnnIndex.probe(s, dir,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 4)
        .orderBy("query_id", "rank")
    }),

    // Trained coarse cells for the LOSSY layout (s18's IVF-PQ twin):
    // ivfpqIndexSave(trainIters = 2) in residual mode — the codebook
    // seeds residualize against the TRAINED cells, so training
    // changes both the cell assignment and the residual space the
    // codes quantize. Oracle = the s8b machinery with the cell list
    // replaced by two unrolled Lloyd steps.
    "s18b_ann_ivfpq_kmeans" -> ((s, d) => {
      val e = embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ann_pqkm_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val pt = graft.PhaseTimer.start("s18b_ann_ivfpq_kmeans")
      pt("train_save") { graft.functions.AnnIndex.ivfpqIndexSave(
        e, "vec_id", "embedding", cells = 8, m = 4, codebook = 32,
        dim = 64, residual = true, dir = dir, trainIters = 2) }
      graft.functions.AnnIndex.probe(s, dir,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // Pairwise L2 distance on a small slice (distance-metric parity).
    "s3_l2_pairs" -> ((s, d) => {
      val e = embeddings(s, d).filter(col("vec_id") < 30)
        .select("vec_id", "embedding")
      e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          round(l2Distance(col("x.embedding"), col("y.embedding")), 6).as("dist"))
        .orderBy("a", "b")
    })
  )

  /** The cosine-score SQL fragment shared by the ANN oracles (same op
    * order as SimilarityFunctions.cosine over double-promoted floats,
    * rounded to 6 digits before ranking). */
  private def cosSql(q: String, v: String): String =
    s"""round(list_sum(list_transform(generate_series(1, 64), i -> $q[i] * $v[i])) /
       |      (sqrt(list_sum(list_transform(generate_series(1, 64), i -> $q[i] * $q[i]))) *
       |       sqrt(list_sum(list_transform(generate_series(1, 64), i -> $v[i] * $v[i])))), 6)""".stripMargin

  /** s2 oracle: replicates lshTopK exactly — the md5-derived unit
    * hyperplanes are computed here (same code path as the Spark plan)
    * and embedded as SQL double literals; Double.toString round-trips,
    * so DuckDB parses the identical plane. Sign-of-dot ties would need
    * the two engines to disagree within one ulp of 0 — not observed
    * (probed exact at sf0.01). */
  private val s1Sql =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      | q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      | s AS (
      |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
      |    round(list_sum(list_transform(generate_series(1, 64), i -> q.qv[i] * e.v[i])) /
      |      (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.qv[i] * q.qv[i]))) *
      |       sqrt(list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * e.v[i])))), 6) AS score
      |  FROM e, q WHERE e.vec_id <> q.qid),
      | r AS (SELECT query_id, neighbor_id, score,
      |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
      |   FROM s)
      |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  private def s2Sql: String = {
    val bucketTerms = (0 until 4).map { p =>
      val plane = graft.functions.SimilarityFunctions.hyperplane(42L, p, 64)
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> v[i] * ($plane)[i])) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("\n   + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | b AS (SELECT vec_id, v, $bucketTerms AS bucket FROM e),
       | q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 10),
       | s AS (
       |  SELECT q.qid AS query_id, b.vec_id AS neighbor_id, ${cosSql("q.qv", "b.v")} AS score
       |  FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id <> q.qid),
       | r AS (SELECT query_id, neighbor_id, score,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |   FROM s)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** s2b oracle: the s2 machinery plus the second probe bucket — the
    * base bucket XOR the bit of the lowest-round(|margin|, 6) plane
    * (ties to the lowest plane index, matching lshProbeBuckets'
    * lexicographic (margin, plane) struct sort). */
  private def s2bSql: String = {
    val planeArrs = (0 until 4).map { p =>
      graft.functions.SimilarityFunctions.hyperplane(42L, p, 64)
        .mkString("[", ", ", "]")
    }
    val bucketTerms = (0 until 4).map { p =>
      s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> v[i] * (${planeArrs(p)})[i])) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("\n   + ")
    val marginTerms = (0 until 4).map { p =>
      s"round(abs(list_sum(list_transform(generate_series(1, 64), i -> v[i] * (${planeArrs(p)})[i]))), 6) AS m$p"
    }.mkString(",\n   ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | b AS (SELECT vec_id, v, $bucketTerms AS bucket FROM e),
       | qm AS (SELECT vec_id AS qid, v AS qv, bucket,
       |   $marginTerms
       |   FROM b WHERE vec_id < 10),
       | qp AS (SELECT qid, qv, bucket,
       |   CASE WHEN m0 <= m1 AND m0 <= m2 AND m0 <= m3 THEN 1
       |        WHEN m1 < m0 AND m1 <= m2 AND m1 <= m3 THEN 2
       |        WHEN m2 < m0 AND m2 < m1 AND m2 <= m3 THEN 4
       |        ELSE 8 END AS flipbit
       |   FROM qm),
       | probes AS (
       |  SELECT qid, qv, bucket FROM qp
       |  UNION ALL
       |  SELECT qid, qv, xor(bucket, flipbit) AS bucket FROM qp),
       | s AS (
       |  SELECT p.qid AS query_id, b.vec_id AS neighbor_id, ${cosSql("p.qv", "b.v")} AS score
       |  FROM b JOIN probes p ON b.bucket = p.bucket AND b.vec_id <> p.qid),
       | r AS (SELECT query_id, neighbor_id, score,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |   FROM s)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** s4 oracle: replicates ivfTopK — centroids are the first 16 corpus
    * vectors, assignment/probing by round(cos, 6) with centroid-id
    * tie-break, exact rerank within probed cells. */
  // s15 oracle: s4's cell machinery with the member side restricted
  // to even ids — save/load/filter must be invisible to results
  private def s15Sql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       | ca AS (
       |  SELECT e.vec_id, e.v, cent.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "cent.cv")} DESC, cent.cid ASC) AS crank
       |  FROM e, cent),
       | assigned AS (SELECT vec_id AS neighbor_id, v, cid FROM ca WHERE crank <= 1 AND vec_id % 2 = 0),
       | qa AS (SELECT vec_id AS query_id, v AS qv, cid FROM ca WHERE crank <= 4 AND vec_id < 10),
       | s AS (
       |  SELECT qa.query_id, b.neighbor_id, ${cosSql("qa.qv", "b.v")} AS score
       |  FROM assigned b JOIN qa ON b.cid = qa.cid AND b.neighbor_id <> qa.query_id),
       | r AS (SELECT query_id, neighbor_id, score,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |   FROM s)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** s17 oracle: the s4 IVF machinery with the assigned relation
    * filtered per arm — 1_masked and 2_vacuumed both exclude the
    * committed del-1 set (% 7 = 3: mask and vacuum must agree row for
    * row), 3_masked2 additionally excludes del-2 (% 11 = 5). The
    * crashed staged batch (% 5 = 0) appears in NO exclusion — those
    * rows must remain in every arm. */
  private def s17Sql: String = {
    def branch(arm: String, excl: String): String =
      s"""SELECT '$arm' AS arm, query_id, neighbor_id, score,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
         | FROM (
         |  SELECT qa.query_id, b.neighbor_id, ${cosSql("qa.qv", "b.v")} AS score
         |  FROM (SELECT vec_id AS neighbor_id, v, cid FROM ca WHERE crank <= 1 AND ($excl)) b
         |  JOIN qa ON b.cid = qa.cid AND b.neighbor_id <> qa.query_id)""".stripMargin
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       | ca AS (
       |  SELECT e.vec_id, e.v, cent.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "cent.cv")} DESC, cent.cid ASC) AS crank
       |  FROM e, cent),
       | qa AS (SELECT vec_id AS query_id, v AS qv, cid FROM ca WHERE crank <= 4 AND vec_id < 10)
       |SELECT arm, query_id, neighbor_id, score, rank FROM (
       |${branch("1_masked", "vec_id % 7 <> 3")}
       | UNION ALL
       |${branch("2_vacuumed", "vec_id % 7 <> 3")}
       | UNION ALL
       |${branch("3_masked2", "vec_id % 7 <> 3 AND vec_id % 11 <> 5")})
       |WHERE rank <= 5 ORDER BY arm, query_id, rank""".stripMargin
  }

  /** s16 oracle: the s4 IVF machinery with the query side widened to
    * the whole table (nprobe = 2, k = 3) — the batch join replayed
    * row for row. */
  private def s16Sql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       | ca AS (
       |  SELECT e.vec_id, e.v, cent.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "cent.cv")} DESC, cent.cid ASC) AS crank
       |  FROM e, cent),
       | assigned AS (SELECT vec_id AS neighbor_id, v, cid FROM ca WHERE crank <= 1),
       | qa AS (SELECT vec_id AS query_id, v AS qv, cid FROM ca WHERE crank <= 2),
       | s AS (
       |  SELECT qa.query_id, b.neighbor_id, ${cosSql("qa.qv", "b.v")} AS score
       |  FROM assigned b JOIN qa ON b.cid = qa.cid AND b.neighbor_id <> qa.query_id),
       | r AS (SELECT query_id, neighbor_id, score,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |   FROM s)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** s16b oracle: s16 WITHOUT the self-pair exclusion — the
    * two-table join semantics replayed. */
  private def s16bSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       | ca AS (
       |  SELECT e.vec_id, e.v, cent.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "cent.cv")} DESC, cent.cid ASC) AS crank
       |  FROM e, cent),
       | assigned AS (SELECT vec_id AS neighbor_id, v, cid FROM ca WHERE crank <= 1),
       | qa AS (SELECT vec_id AS query_id, v AS qv, cid FROM ca WHERE crank <= 2),
       | s AS (
       |  SELECT qa.query_id, b.neighbor_id, ${cosSql("qa.qv", "b.v")} AS score
       |  FROM assigned b JOIN qa ON b.cid = qa.cid),
       | r AS (SELECT query_id, neighbor_id, score,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |   FROM s)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  private def s4Sql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       | ca AS (
       |  SELECT e.vec_id, e.v, cent.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "cent.cv")} DESC, cent.cid ASC) AS crank
       |  FROM e, cent),
       | assigned AS (SELECT vec_id AS neighbor_id, v, cid FROM ca WHERE crank <= 1),
       | qa AS (SELECT vec_id AS query_id, v AS qv, cid FROM ca WHERE crank <= 4 AND vec_id < 10),
       | s AS (
       |  SELECT qa.query_id, b.neighbor_id, ${cosSql("qa.qv", "b.v")} AS score
       |  FROM assigned b JOIN qa ON b.cid = qa.cid AND b.neighbor_id <> qa.query_id),
       | r AS (SELECT query_id, neighbor_id, score,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |   FROM s)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** s18 oracle: ivfIndexSave(trainIters = n) replayed — first-16
    * seeds, then `iters` UNROLLED Lloyd steps (each one CTE pair:
    * rounded-cosine argmax assignment with cid tie-break, then
    * per-(cluster, dim) means from exact BIGINT micro sums rebuilt in
    * dim order — the s7 machinery, chained), then the s4 probe shape
    * over the final centroid list. Clusters that empty out during a
    * step drop in both engines (GROUP BY emits no row). */
  /** The shared unrolled-Lloyd CTE chain (s18/s18b): `c0` = first-C
    * seeds, then per iteration one assignment + one exact-micro-mean
    * CTE pair, ending at `c<iters>`. Assumes `e` and `dims` CTEs
    * exist; comma-terminated. */
  private def lloydCtes(cells: Int, iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"c${i - 1}"
      s""" a$i AS (SELECT vec_id, v, cid FROM (
         |   SELECT e.vec_id, e.v, $prev.cid,
         |     ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", s"$prev.cv")} DESC, $prev.cid ASC) AS rk
         |   FROM e, $prev) WHERE rk = 1),
         | m$i AS (SELECT cid, dim,
         |     CAST(SUM(CAST(round(v[CAST(dim AS INT)] * 1000000.0) AS BIGINT)) AS BIGINT) AS s,
         |     COUNT(*) AS n
         |   FROM a$i, dims GROUP BY 1, 2),
         | c$i AS (SELECT cid, list(CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) ORDER BY dim) AS cv
         |   FROM m$i GROUP BY cid),""".stripMargin
    }.mkString("\n")
    s""" c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $cells),
       |$steps""".stripMargin
  }

  private def s18Sql(iters: Int): String = {
    val fin = s"c$iters"
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
       |${lloydCtes(16, iters)}
       | ca AS (
       |  SELECT e.vec_id, e.v, $fin.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", s"$fin.cv")} DESC, $fin.cid ASC) AS crank
       |  FROM e, $fin),
       | assigned AS (SELECT vec_id AS neighbor_id, v, cid FROM ca WHERE crank <= 1),
       | qa AS (SELECT vec_id AS query_id, v AS qv, cid FROM ca WHERE crank <= 4 AND vec_id < 10),
       | sc AS (
       |  SELECT qa.query_id, b.neighbor_id, ${cosSql("qa.qv", "b.v")} AS score
       |  FROM assigned b JOIN qa ON b.cid = qa.cid AND b.neighbor_id <> qa.query_id),
       | r AS (SELECT query_id, neighbor_id, score,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |   FROM sc)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** s18b oracle: the s8b residual-IVF-PQ machinery with the coarse
    * cell list replaced by `iters` unrolled Lloyd steps (lloydCtes) —
    * trained cells change BOTH the assignment and the residual space
    * the first-32 codebook seeds quantize, and every downstream value
    * (rounded L2² encodes, per-(query, cell) ADC tables) follows
    * deterministically. */
  private def s18bSql(iters: Int): String = {
    def l2(q: String, c: String, off: Int): String =
      s"""round(list_sum(list_transform(generate_series(1, 16),
         |      i -> ($q[i + $off] - $c[i + $off]) * ($q[i + $off] - $c[i + $off]))), 6)""".stripMargin
    val blockSum = (0 until 4).map(b => s"MAX(CASE WHEN codes.b = $b THEN qbd.qd END)").mkString("\n   + ")
    val dists = (0 until 4).map(b =>
      s"SELECT $b AS b, ${l2("r.rv", "s.cv", b * 16)} AS d, r.vec_id, s.cid FROM rve r, seedres s")
      .mkString(" UNION ALL ")
    val qdists = (0 until 4).map(b =>
      s"SELECT query_id, cell, $b AS b, ${l2("q.rv", "s.cv", b * 16)} AS qd, s.cid FROM qrv q, seedres s")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
       |${lloydCtes(8, iters)}
       | cell AS MATERIALIZED (SELECT cid AS ccid, cv AS ccv FROM c$iters),
       | ca AS MATERIALIZED (
       |  SELECT e.vec_id, cell.ccid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "cell.ccv")} DESC, cell.ccid ASC) AS crank
       |  FROM e, cell),
       | assigned AS (SELECT vec_id, ccid AS cell FROM ca WHERE crank = 1),
       | rve AS MATERIALIZED (
       |  SELECT e.vec_id, a.cell,
       |    list_transform(generate_series(1, 64), i -> e.v[i] - c.ccv[i]) AS rv
       |  FROM e JOIN assigned a ON a.vec_id = e.vec_id
       |  JOIN cell c ON c.ccid = a.cell),
       | seedres AS (SELECT vec_id AS cid, rv AS cv FROM rve WHERE vec_id < 32),
       | bd AS ($dists),
       | codes AS (
       |  SELECT vec_id AS neighbor_id, b, cid FROM (
       |    SELECT vec_id, b, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, b ORDER BY d, cid) AS rk
       |    FROM bd) WHERE rk = 1),
       | probes AS (SELECT vec_id AS query_id, ccid AS cell FROM ca WHERE crank <= 2 AND vec_id < 10),
       | qrv AS (
       |  SELECT p.query_id, p.cell,
       |    list_transform(generate_series(1, 64), i -> e.v[i] - c.ccv[i]) AS rv
       |  FROM probes p JOIN e ON e.vec_id = p.query_id
       |  JOIN cell c ON c.ccid = p.cell),
       | qbd AS ($qdists),
       | adc AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, round($blockSum, 6) AS est
       |  FROM codes
       |  JOIN assigned a ON a.vec_id = codes.neighbor_id
       |  JOIN probes p ON a.cell = p.cell
       |  JOIN qbd ON qbd.query_id = p.query_id AND qbd.cell = p.cell
       |    AND qbd.b = codes.b AND qbd.cid = codes.cid
       |  WHERE a.vec_id <> p.query_id
       |  GROUP BY p.query_id, a.vec_id),
       | r AS (SELECT query_id, neighbor_id, est,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY est ASC, neighbor_id ASC) AS INT) AS rank
       |   FROM adc)
       |SELECT query_id, neighbor_id, est, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** s12 oracle: the full tuning curve re-derived — shared first-16
    * assignment machinery (one `ca` ranking), then per-nprobe branches
    * computing mean recall@5 vs the s1 brute-force truth and the
    * candidate count Σ probed-cell sizes − |queries| (each query's
    * always-probed own cell contributes exactly its one self-match). */
  private def s12Sql: String = {
    def branch(np: Int): String =
      s"""SELECT $np AS nprobe,
         |  (SELECT round(avg(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0), 6)
         |   FROM (SELECT vec_id AS query_id FROM e WHERE vec_id < 10) qq
         |   LEFT JOIN (
         |     SELECT a.query_id, COUNT(*) AS hits
         |     FROM brute b JOIN (
         |       SELECT query_id, neighbor_id FROM (
         |         SELECT s.query_id, s.neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY s.score DESC, s.neighbor_id ASC) AS rank
         |         FROM (
         |           SELECT qa.query_id, bb.neighbor_id, ${cosSql("qa.qv", "bb.v")} AS score
         |           FROM assigned bb JOIN (
         |             SELECT vec_id AS query_id, v AS qv, cid FROM ca
         |             WHERE crank <= $np AND vec_id < 10) qa
         |             ON bb.cid = qa.cid AND bb.neighbor_id <> qa.query_id) s)
         |       WHERE rank <= 5) a
         |       ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
         |     GROUP BY 1) h ON h.query_id = qq.query_id) AS mean_recall,
         |  (SELECT CAST(SUM(sizes.n) - 10 AS BIGINT)
         |   FROM (SELECT vec_id, cid FROM ca WHERE crank <= $np AND vec_id < 10) p
         |   JOIN sizes ON p.cid = sizes.cid) AS candidates""".stripMargin
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       | ca AS (SELECT e.vec_id, e.v, cent.cid,
       |   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "cent.cv")} DESC, cent.cid ASC) AS crank
       |   FROM e, cent),
       | assigned AS (SELECT vec_id AS neighbor_id, v, cid FROM ca WHERE crank = 1),
       | sizes AS (SELECT cid, COUNT(*) AS n FROM assigned GROUP BY cid),
       | brute AS (SELECT query_id, neighbor_id FROM ($s1Sql) bq)
       |${Seq(1, 2, 4, 8).map(branch).mkString("", "\nUNION ALL\n", "")}
       |ORDER BY nprobe""".stripMargin
  }

  /** s11 oracle: replays the whole maintenance life-cycle from the
    * first-C conventions — assignment of the 250-vector corpus and the
    * 50 v3-clone batch to the first-16 centroids (cell counts per
    * phase), then the resplit of cell 3: sub-seeds = its first 4
    * members by id mapped to cells 16…19, members re-assigned with the
    * same cos-desc / cid-asc tie-break (which routes every clone to
    * the first v3-valued seed). */
  private def s11Sql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | corpus AS (SELECT vec_id, v FROM e WHERE vec_id < 250),
       | cent AS (SELECT vec_id AS cid, v AS cv FROM corpus WHERE vec_id < 16),
       | batch AS (SELECT 10000 + g.generate_series AS vec_id,
       |           (SELECT v FROM e WHERE vec_id = 3) AS v
       |           FROM generate_series(0, 49) g),
       | allv AS (SELECT * FROM corpus UNION ALL SELECT * FROM batch),
       | ca AS (SELECT a.vec_id, a.v, cent.cid,
       |   ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY ${cosSql("a.v", "cent.cv")} DESC, cent.cid ASC) AS crank
       |   FROM allv a, cent),
       | assigned AS (SELECT vec_id, v, cid FROM ca WHERE crank = 1),
       | c3 AS (SELECT vec_id, v FROM assigned WHERE cid = 3),
       | seeds AS (SELECT vec_id, v, 15 + rn AS scid FROM
       |   (SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM c3)
       |   WHERE rn <= 4),
       | sa AS (SELECT c3.vec_id, seeds.scid,
       |   ROW_NUMBER() OVER (PARTITION BY c3.vec_id ORDER BY ${cosSql("c3.v", "seeds.v")} DESC, seeds.scid ASC) AS srank
       |   FROM c3, seeds),
       | phases AS (
       |   SELECT '1_base' AS phase, cid AS cell, COUNT(*) AS n
       |     FROM assigned WHERE vec_id < 250 GROUP BY cid
       |   UNION ALL
       |   SELECT '2_added', cid, COUNT(*) FROM assigned GROUP BY cid
       |   UNION ALL
       |   SELECT '3_compact', cid, COUNT(*) FROM assigned GROUP BY cid
       |   UNION ALL
       |   SELECT '4_resplit', cid, COUNT(*) FROM assigned WHERE cid <> 3 GROUP BY cid
       |   UNION ALL
       |   SELECT '4_resplit', scid, COUNT(*) FROM sa WHERE srank = 1 GROUP BY scid)
       |SELECT phase, CAST(cell AS BIGINT) AS cell, CAST(n AS BIGINT) AS n
       |FROM phases ORDER BY phase, cell""".stripMargin

  /** s5 oracle: the s2 machinery without the query-set filter — every
    * vector ranks its own bucket's candidates; 6 planes, k=3. */
  private def s5Sql: String = {
    val bucketTerms = (0 until 6).map { p =>
      val plane = graft.functions.SimilarityFunctions.hyperplane(42L, p, 64)
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> v[i] * ($plane)[i])) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("\n   + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | b AS (SELECT vec_id, v, $bucketTerms AS bucket FROM e),
       | s AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, ${cosSql("q.v", "b.v")} AS score
       |  FROM b JOIN b q ON b.bucket = q.bucket AND b.vec_id <> q.vec_id),
       | r AS (SELECT query_id, neighbor_id, score,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |   FROM s)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  /** s6 oracle: replicates pqTopK — codebooks are the first-16
    * vectors' sub-blocks, per-block argmin encoding with rounded L2²
    * and cid tie-break, ADC estimate summed in explicit block order. */
  // s14: SQ8 replayed — per-dim min/max CTE, level round+clamp,
  // dequant, asymmetric L2; round conventions shared with s6
  private val s14Sql =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      | mm AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
      |   FROM e, unnest(generate_series(1, 64)) AS t(i) GROUP BY i),
      | mma AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM mm),
      | dq AS (SELECT vec_id, list_transform(generate_series(1, 64), i ->
      |     CASE WHEN mxs[i] > mns[i]
      |       THEN mns[i] + least(greatest(round(((v[i] - mns[i]) / (mxs[i] - mns[i])) * 255), 0.0), 255.0) / 255.0 * (mxs[i] - mns[i])
      |       ELSE mns[i] END) AS dv
      |   FROM e, mma),
      | q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      | s AS (SELECT q.qid AS query_id, d.vec_id AS neighbor_id,
      |   round(sqrt(list_sum(list_transform(generate_series(1, 64),
      |     i -> (q.qv[i] - d.dv[i]) * (q.qv[i] - d.dv[i])))), 6) AS est
      |   FROM dq d, q WHERE d.vec_id <> q.qid),
      | r AS (SELECT query_id, neighbor_id, est,
      |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY est ASC, neighbor_id ASC) AS INT) AS rank
      |   FROM s)
      |SELECT query_id, neighbor_id, est, rank FROM r WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  private def s6Sql: String = {
    def l2(q: String, c: String, off: Int): String =
      s"""round(list_sum(list_transform(generate_series(1, 16),
         |      i -> ($q[i + $off] - $c[i + $off]) * ($q[i + $off] - $c[i + $off]))), 6)""".stripMargin
    val blockSum = (0 until 4).map(b => s"MAX(CASE WHEN b = $b THEN qd END)").mkString("\n   + ")
    val dists = (0 until 4).map(b => s"SELECT $b AS b, ${l2("e.v", "c.cv", b * 16)} AS d, e.vec_id, c.cid FROM e, cent c").mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       | bd AS ($dists),
       | codes AS (
       |  SELECT vec_id AS neighbor_id, b, cid FROM (
       |    SELECT vec_id, b, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, b ORDER BY d, cid) AS rk
       |    FROM bd) WHERE rk = 1),
       | qd AS (SELECT vec_id AS query_id, b, cid, d AS qd FROM bd WHERE vec_id < 10),
       | adc AS (
       |  SELECT qd.query_id, codes.neighbor_id,
       |    round($blockSum, 6) AS est
       |  FROM codes JOIN qd USING (b, cid)
       |  WHERE codes.neighbor_id <> qd.query_id
       |  GROUP BY qd.query_id, codes.neighbor_id),
       | r AS (SELECT query_id, neighbor_id, est,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY est ASC, neighbor_id ASC) AS INT) AS rank
       |   FROM adc)
       |SELECT query_id, neighbor_id, est, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** s7 oracle: replicates kmeansRefine with iters=1 — first-16
    * seeds, rounded-cosine argmax assignment, per-(cluster, dim)
    * means from exact BIGINT micro sums, centroid lists rebuilt in
    * dim order, re-assignment to the refined centroids. */
  private def s7Sql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       | a0 AS (SELECT vec_id, v, cid FROM (
       |   SELECT e.vec_id, e.v, cent.cid,
       |     ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "cent.cv")} DESC, cent.cid ASC) AS rk
       |   FROM e, cent) WHERE rk = 1),
       | dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
       | m AS (SELECT cid, dim,
       |     CAST(SUM(CAST(round(v[CAST(dim AS INT)] * 1000000.0) AS BIGINT)) AS BIGINT) AS s,
       |     COUNT(*) AS n
       |   FROM a0, dims GROUP BY 1, 2),
       | c1 AS (SELECT cid, list(CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) ORDER BY dim) AS cv
       |   FROM m GROUP BY cid),
       | a1 AS (SELECT vec_id, cid, sc FROM (
       |   SELECT e.vec_id, c1.cid, ${cosSql("e.v", "c1.cv")} AS sc,
       |     ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c1.cv")} DESC, c1.cid ASC) AS rk
       |   FROM e, c1) WHERE rk = 1)
       |SELECT vec_id, cid AS cluster, sc AS score FROM a1
       |ORDER BY vec_id""".stripMargin

  /** d12 oracle: replicates bucketedAssign — seed-5 4-plane buckets
    * (plane literals embedded like s2), inner join on bucket equality
    * (centroid-free buckets drop), per-vector argmax by
    * round(cos, 6) desc with centroid-id tie-break. */
  private def d12Sql: String = {
    val bucketTerms = (0 until 4).map { p =>
      val plane = graft.functions.SimilarityFunctions.hyperplane(5L, p, 64)
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> v[i] * ($plane)[i])) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("\n   + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | b AS (SELECT vec_id, v, $bucketTerms AS bucket FROM e),
       | cent AS (SELECT vec_id AS cid, v AS cv, bucket AS cb FROM b WHERE vec_id < 16),
       | s AS (
       |  SELECT b.vec_id, cent.cid, ${cosSql("b.v", "cent.cv")} AS sc,
       |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |      ORDER BY ${cosSql("b.v", "cent.cv")} DESC, cent.cid ASC) AS rk
       |  FROM b JOIN cent ON b.bucket = cent.cb)
       |SELECT vec_id, cid AS cluster, sc AS score FROM s WHERE rk = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** s8 oracle: replicates ivfpqTopK — first-16 cells with rounded-
    * cosine assignment/probing (the s4 machinery), first-16 sub-block
    * codebooks with rounded-L2² argmin encoding and ADC block sums
    * (the s6 machinery), ranked within probed cells only. */
  private def s8Sql: String = {
    def l2(q: String, c: String, off: Int): String =
      s"""round(list_sum(list_transform(generate_series(1, 16),
         |      i -> ($q[i + $off] - $c[i + $off]) * ($q[i + $off] - $c[i + $off]))), 6)""".stripMargin
    val blockSum = (0 until 4).map(b => s"MAX(CASE WHEN codes.b = $b THEN qd.qd END)").mkString("\n   + ")
    val dists = (0 until 4).map(b =>
      s"SELECT $b AS b, ${l2("e.v", "c.cv", b * 16)} AS d, e.vec_id, c.cid FROM e, cent c")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       | ca AS (
       |  SELECT e.vec_id, cent.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "cent.cv")} DESC, cent.cid ASC) AS crank
       |  FROM e, cent),
       | assigned AS (SELECT vec_id AS neighbor_id, cid AS cell FROM ca WHERE crank = 1),
       | probes AS (SELECT vec_id AS query_id, cid AS cell FROM ca WHERE crank <= 4 AND vec_id < 10),
       | bd AS ($dists),
       | codes AS (
       |  SELECT vec_id AS neighbor_id, b, cid FROM (
       |    SELECT vec_id, b, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, b ORDER BY d, cid) AS rk
       |    FROM bd) WHERE rk = 1),
       | qd AS (SELECT vec_id AS query_id, b, cid, d AS qd FROM bd WHERE vec_id < 10),
       | adc AS (
       |  SELECT p.query_id, a.neighbor_id, round($blockSum, 6) AS est
       |  FROM codes
       |  JOIN assigned a USING (neighbor_id)
       |  JOIN probes p ON a.cell = p.cell
       |  JOIN qd ON qd.query_id = p.query_id AND qd.b = codes.b AND qd.cid = codes.cid
       |  WHERE a.neighbor_id <> p.query_id
       |  GROUP BY p.query_id, a.neighbor_id),
       | r AS (SELECT query_id, neighbor_id, est,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY est ASC, neighbor_id ASC) AS INT) AS rank
       |   FROM adc)
       |SELECT query_id, neighbor_id, est, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** s8b oracle: the s8 machinery in RESIDUAL space — cell assignment
    * as in s8 (rounded cosine argmax, cid tie-break) over the first-8
    * cells; corpus and query vectors become v − cellv; the codebook is
    * the first-32 seeds' OWN residuals (seed minus ITS nearest cell);
    * the ADC table is per-(query, probed cell). Every compared value
    * passes through round(…, 6), so the replication is exact. */
  private def s8bSql: String = {
    def l2(q: String, c: String, off: Int): String =
      s"""round(list_sum(list_transform(generate_series(1, 16),
         |      i -> ($q[i + $off] - $c[i + $off]) * ($q[i + $off] - $c[i + $off]))), 6)""".stripMargin
    val blockSum = (0 until 4).map(b => s"MAX(CASE WHEN codes.b = $b THEN qbd.qd END)").mkString("\n   + ")
    val dists = (0 until 4).map(b =>
      s"SELECT $b AS b, ${l2("r.rv", "s.cv", b * 16)} AS d, r.vec_id, s.cid FROM rve r, seedres s")
      .mkString(" UNION ALL ")
    val qdists = (0 until 4).map(b =>
      s"SELECT query_id, cell, $b AS b, ${l2("q.rv", "s.cv", b * 16)} AS qd, s.cid FROM qrv q, seedres s")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | cell AS (SELECT vec_id AS ccid, v AS ccv FROM e WHERE vec_id < 8),
       | ca AS (
       |  SELECT e.vec_id, cell.ccid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "cell.ccv")} DESC, cell.ccid ASC) AS crank
       |  FROM e, cell),
       | assigned AS (SELECT vec_id, ccid AS cell FROM ca WHERE crank = 1),
       | rve AS (
       |  SELECT e.vec_id, a.cell,
       |    list_transform(generate_series(1, 64), i -> e.v[i] - c.ccv[i]) AS rv
       |  FROM e JOIN assigned a ON a.vec_id = e.vec_id
       |  JOIN cell c ON c.ccid = a.cell),
       | seedres AS (SELECT vec_id AS cid, rv AS cv FROM rve WHERE vec_id < 32),
       | bd AS ($dists),
       | codes AS (
       |  SELECT vec_id AS neighbor_id, b, cid FROM (
       |    SELECT vec_id, b, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, b ORDER BY d, cid) AS rk
       |    FROM bd) WHERE rk = 1),
       | probes AS (SELECT vec_id AS query_id, ccid AS cell FROM ca WHERE crank <= 2 AND vec_id < 10),
       | qrv AS (
       |  SELECT p.query_id, p.cell,
       |    list_transform(generate_series(1, 64), i -> e.v[i] - c.ccv[i]) AS rv
       |  FROM probes p JOIN e ON e.vec_id = p.query_id
       |  JOIN cell c ON c.ccid = p.cell),
       | qbd AS ($qdists),
       | adc AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, round($blockSum, 6) AS est
       |  FROM codes
       |  JOIN assigned a ON a.vec_id = codes.neighbor_id
       |  JOIN probes p ON a.cell = p.cell
       |  JOIN qbd ON qbd.query_id = p.query_id AND qbd.cell = p.cell
       |    AND qbd.b = codes.b AND qbd.cid = codes.cid
       |  WHERE a.vec_id <> p.query_id
       |  GROUP BY p.query_id, a.vec_id),
       | r AS (SELECT query_id, neighbor_id, est,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY est ASC, neighbor_id ASC) AS INT) AS rank
       |   FROM adc)
       |SELECT query_id, neighbor_id, est, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "d12_bucketed_assign" -> d12Sql,
    "s8_ann_ivfpq" -> s8Sql,
    "s8b_ann_ivfpq_residual" -> s8bSql,
    "s7_kmeans_refine" -> s7Sql,
    "s2_ann_lsh" -> s2Sql,
    "s2b_ann_multiprobe" -> s2bSql,
    "s5_knn_join" -> s5Sql,
    "s16_ann_batch_join" -> s16Sql,
    "s16b_ann_batch_join_2t" -> s16bSql,
    "s17_ann_delete" -> s17Sql,
    "s6_ann_pq" -> s6Sql,
    "s14_ann_sq8" -> s14Sql,
    "s4_ann_ivf" -> s4Sql,
    "s15_ann_filtered" -> s15Sql,
    // the persisted-index round-trips must be result-invisible: the
    // oracles ARE the in-session s4/s8 oracles
    "s10_ann_index_persisted" -> s4Sql,
    "s18_ann_kmeans" -> s18Sql(2),
    "s18b_ann_ivfpq_kmeans" -> s18bSql(2),
    // streamed store content == s10's content, so the same oracle
    "st10_vector_ingest" -> s4Sql,
    "s10b_ann_ivfpq_persisted" -> s8Sql,
    "s11_ann_index_maintain" -> s11Sql,
    // the PQ life-cycle's phase counts are assignment-only facts —
    // the flat oracle gates the lossy layout verbatim
    "s13_ann_ivfpq_maintain" -> s11Sql,
    "s12_ann_nprobe_curve" -> s12Sql,
    "s1_ann_topk" -> s1Sql,
    // recall@5 of the LSH path against the brute-force truth, per
    // query: both pipelines' full oracle statements as subqueries
    // (DuckDB allows WITH inside a derived table), matched on
    // (query_id, neighbor_id)
    "s9_ann_recall" ->
      s"""SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS INT) AS hits,
         |  round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0, 6) AS recall
         |FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
         |LEFT JOIN (
         |  SELECT b.query_id, COUNT(*) AS hits
         |  FROM ($s1Sql) b JOIN ($s2Sql) a
         |    ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
         |  GROUP BY 1) h ON h.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin,
    "s3_l2_pairs" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 30)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(sqrt(list_sum(list_transform(generate_series(1, 64),
        |    i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])))), 6) AS dist
        |FROM e a, e b WHERE a.vec_id < b.vec_id ORDER BY a, b""".stripMargin
  )
}
