package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN index: the production 100-TB retrieval shape, where
  * the index is built ONCE, saved, and probed (and grown) by later
  * sessions — the reference has no vector surface at all; this
  * extends the parity-plus ANN family (SimilarityFunctions) the same
  * way dedup already has incremental paths (d10 bloom, d13 band-index
  * probe).
  *
  * Layout under `dir` (all parquet):
  *   meta/      one row: kind ("ivf_flat" | "ivf_pq"), cells, m,
  *              codebook, dim, residual
  *   centroids/ (cid, vec)           — coarse cell centroids, KB-sized
  *   codebook/  (cid, vec)           — PQ seeds (residualized when
  *              residual = true), ivf_pq only, KB-sized
  *   codes/     the DATA-sized inverted file, partitioned BY CELL:
  *              ivf_flat: (id, vec) under cell=…/
  *              ivf_pq:   (id, b, code) under cell=…/
  *   vectors/   (id, vec) under cell=…/ — optional raw-vector sidecar
  *              (ivf_pq with keepVectors = true): never probed, it is
  *              what makes resplitCell legal on a lossy-code layout
  *
  * Scale design: centroids/codebook are the KB driver readback every
  * ANN path already does (SimilarityFunctions.collectCentroids); the
  * codes table is corpus-sized and NEVER collected — `partitionBy
  * (cell)` means a probe reads only the nprobe/cells fraction of it
  * (the probed-cell list is a queries×nprobe KB readback that prunes
  * the scan statically), and [[addBatch]] appends new cell
  * directories without touching existing ones. Probing reuses the
  * EXACT in-session kernels (ivfProbeAssigned / ivfpqProbeCodes), so
  * a saved-then-loaded index returns bit-identical rows to
  * ivfTopK/ivfpqTopK on the same corpus — the s10 queries pin that
  * against the s4/s8 oracles, and vectors are stored in their
  * original element type so scoring survives the round-trip exactly.
  */
object AnnIndex {

  import SimilarityFunctions._

  private def asDouble(c: org.apache.spark.sql.Column) = c.cast("array<double>")

  private val Codes = Subtree("codes", "cell")
  private val Vectors = Subtree("vectors", "cell")

  private object Store extends StoreLifecycle[Meta](Seq(Codes, Vectors)) {
    // an index saved before the keepVectors field existed has no such
    // column in its meta parquet; default it to false instead of
    // letting encoder resolution fail every entry point on old indexes
    override protected def metaFrame(dir: String, raw: DataFrame): DataFrame =
      if (raw.columns.contains("keepVectors")) raw
      else raw.withColumn("keepVectors", lit(false))

    /** Sweeps `cell=<cid>` dirs whose cid is absent from the centroids
      * file. A [[resplitCell]] crash between the centroid swap and the
      * old-dir delete leaves the retired cell on disk forever: probes
      * never read it (cid is gone from the centroids), but indexStats
      * would double-count the split vectors and compactCells keeps
      * compacting a dead partition. Runs AFTER the `.old-` restore so a
      * dead cell parked in backup is restored first and then swept by
      * the same rule. Orphan sub-cell dirs from a resplit that crashed
      * BEFORE its centroid swap are swept by the same rule (their cids
      * are not in the centroids either), which is exactly the scrub the
      * retry would do. (Readers ignore retired dirs without deleting:
      * probe's scan is pruned to centroid-listed cells, indexStats
      * filters its listing to live cids — so a reader concurrent with an
      * in-flight resplit can never sweep the fresh sub-cells out from
      * under the coming centroid swap.) One KB centroid read. */
    override protected def healStore(spark: SparkSession, fs: FileSystem,
                                     dir: String): Unit =
      if (fs.exists(new Path(s"$dir/centroids"))) {
        val liveCids = readCentroids(spark, s"$dir/centroids").map(_._1).toSet
        subtrees.foreach(s => PartitionedStore.partitions(fs, root(dir, s), "cell")
          .filterNot(pd => liveCids(pd.getName.stripPrefix("cell=").toLong))
          .foreach(fs.delete(_, true)))
      }
  }

  /** Build an IVF-flat index from `corpus` (centroids = the first
    * `cells` corpus vectors, the deterministic convention shared with
    * ivfTopK) and save it under `dir`, replacing any prior index.
    *
    * `trainIters > 0` tightens the first-C seeds with that many
    * distributed Lloyd k-means steps before assignment
    * ([[SimilarityFunctions.trainedCentroids]] — integer-micro sums,
    * deterministic at any parallelism, so the s18 oracle replays the
    * unrolled iterations exactly). Trained centroids buy recall per
    * nprobe over the raw first-C convention: the seeds are arbitrary
    * corpus points, so cell populations are whatever the data order
    * gives, while Lloyd moves centroids toward the corpus's actual
    * density modes — the s12-style A/B in SimilaritySpec quantifies
    * the gap. Each step costs one corpus scan (per-row assignment
    * kernel, no exchange) + one map-side-combined C·dim agg; cells
    * that empty out during training drop (fewer, fuller cells). */
  def ivfIndexSave(corpus: DataFrame, idCol: String, vecCol: String,
                   cells: Int, dir: String, trainIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val cent = cellCentroids(corpus, idCol, vecCol, cells, trainIters)
    writeCentroids(spark, s"$dir/centroids", cent.map { case (c, v) => (c, v.toSeq) })
    Store.save(spark, dir, Meta("ivf_flat", cells, 0, 0, 0, residual = false,
      keepVectors = false), Seq(Codes -> assignedRows(corpus, idCol, vecCol, cent)))
  }

  /** Build an IVF-PQ index (optionally residual-quantized) and save it
    * under `dir`, replacing any prior index. Conventions match
    * ivfpqTopK: cells/codebook seeds are the first-C corpus vectors.
    *
    * `keepVectors = true` additionally stores the RAW vectors as a
    * cell-partitioned sidecar (`vectors/`, same layout as the ivf_flat
    * codes table) — the storage-for-operability trade that makes
    * [[resplitCell]] legal on a PQ index: PQ codes are lossy, so
    * re-splitting a hot cell needs its source vectors, and without the
    * sidecar the only remedy for skew is a full rebuild from the
    * source-of-truth corpus. The sidecar is ingest-maintained
    * ([[addBatch]]/[[addBatchTagged]] append to it) and never read by
    * probes. */
  def ivfpqIndexSave(corpus: DataFrame, idCol: String, vecCol: String,
                     cells: Int, m: Int, codebook: Int, dim: Int,
                     residual: Boolean, dir: String,
                     keepVectors: Boolean = false,
                     trainIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    // trainIters > 0: coarse cells tightened by distributed Lloyd
    // (the ivfIndexSave arm, same integer-micro determinism — s18b
    // gates the lossy layout's trained twin; in residual mode the
    // codebook seeds residualize against the TRAINED cells)
    val cellCent = cellCentroids(corpus, idCol, vecCol, cells, trainIters)
    val codeSeeds = ivfpqCodeSeeds(
      collectCentroids(corpus, idCol, vecCol, codebook), cellCent, residual)
    val meta = Meta("ivf_pq", cells, m, codeSeeds.size, dim, residual, keepVectors)
    writeCentroids(spark, s"$dir/centroids", cellCent.map { case (c, v) => (c, v.toSeq) })
    writeCentroids(spark, s"$dir/codebook", codeSeeds)
    Store.save(spark, dir, meta,
      Seq(Codes -> pqRows(corpus, idCol, vecCol, cellCent, codeSeeds, meta)) ++
        (if (keepVectors) Seq(Vectors -> assignedRows(corpus, idCol, vecCol, cellCent))
         else Nil))
  }

  /** The coarse cells of a new index: the first `cells` corpus vectors
    * (the deterministic first-C convention), tightened by `trainIters`
    * distributed Lloyd steps when positive. */
  private def cellCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                            cells: Int, trainIters: Int): Seq[(Long, Array[Double])] =
    if (trainIters > 0) trainedCentroids(corpus, idCol, vecCol, cells, trainIters)
    else collectCentroids(corpus, idCol, vecCol, cells)
      .map { case (cid, v) => (cid, v.toArray) }

  /** (id, vec, cell) rows: each vector under its nearest centroid —
    * the ivf_flat codes and the raw-vector sidecar share this layout. */
  private def assignedRows(df: DataFrame, idCol: String, vecCol: String,
                           cent: Seq[(Long, Array[Double])]): DataFrame =
    ivfAssign(df, idCol, vecCol, cent)
      .select(col("neighbor_id").as("id"), col("__cv").as("vec"),
        col("__cid").as("cell"))

  /** (id, b, code, cell) rows: the ivf_pq codes of each vector. */
  private def pqRows(df: DataFrame, idCol: String, vecCol: String,
                     cent: Seq[(Long, Array[Double])],
                     codeSeeds: Seq[(Long, Seq[Double])], meta: Meta): DataFrame =
    ivfpqEncode(df, idCol, vecCol, cent, codeSeeds, meta.m, meta.dim, meta.residual)
      .select(col("neighbor_id").as("id"), col("__b").as("b"),
        col("__cid").as("code"), col("__cell").as("cell"))

  private def readCodebook(spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    readCentroids(spark, s"$dir/codebook").map { case (c, v) => (c, v.toSeq) }

  /** Encode a delta batch against the SAVED centroids/codebook (no
    * rebuild, no re-read of existing codes) and append it to the
    * inverted file — the incremental-ingest path: [[addBatchTagged]]
    * under a fresh tag. The batch must not repeat ids already indexed
    * (same contract as any append-only store; dedup upstream with
    * d10/d13 if ingest can replay). For a source that RETRIES batches
    * (Structured Streaming foreachBatch), use [[addBatchTagged]] with
    * the source's own tag, whose replay converges to exactly one copy. */
  def addBatch(spark: SparkSession, dir: String, batch: DataFrame,
               idCol: String, vecCol: String): Unit =
    addBatchTagged(spark, dir, batch, idCol, vecCol, Store.freshTag())

  /** Replay-idempotent addBatch ([[StoreLifecycle.ingestTagged]]): the
    * encoded batch (and its raw-vector sidecar rows, when kept — same
    * cell assignment) is staged, then each file is MOVED into its cell
    * directory under the deterministic name `<tag>-<i>.parquet`
    * (rename is atomic per file). Re-running with the same tag first
    * scrubs every `<tag>-*` file from the cell dirs — the leftovers of
    * a crashed prior attempt — so any number of replays converges to
    * exactly one copy of the batch, no matter where the previous
    * attempt died. This is what makes [[graft.streaming.StreamOps
    * .vectorIngest]]'s exactly-once claim true across crashes in the
    * append-to-marker window, not just across clean replays. The entry
    * recovery runs BEFORE writing: a compact crash mid-swap leaves
    * cell=X only as .old-X, and a write would recreate a live cell=X
    * holding just the new rows — the next recovery would then drop
    * .old-X and every pre-compaction vector of that cell with it. */
  def addBatchTagged(spark: SparkSession, dir: String, batch: DataFrame,
                     idCol: String, vecCol: String, tag: String): Unit = {
    Store.recover(spark, dir)
    val meta = Store.readMeta(spark, dir)
    val cellCent = readCentroids(spark, s"$dir/centroids")
    val codes = meta.kind match {
      case "ivf_flat" => assignedRows(batch, idCol, vecCol, cellCent)
      case "ivf_pq" =>
        pqRows(batch, idCol, vecCol, cellCent, readCodebook(spark, dir), meta)
    }
    Store.ingestTagged(spark, dir, tag, Seq(Codes -> codes) ++
      (if (meta.keepVectors) Seq(Vectors -> assignedRows(batch, idCol, vecCol, cellCent))
       else Nil))
  }

  /** Probe a saved index: top-k per query row, bit-identical to the
    * in-session ivfTopK/ivfpqTopK on the indexed corpus. Only the
    * probed cells' partitions of the inverted file are read — AND only
    * they are listed ([[PartitionedStore.prunedRead]]): probe cost,
    * planning included, follows the probe set, never the index size. */
  def probe(spark: SparkSession, dir: String, queries: DataFrame,
            idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame =
    probeImpl(spark, dir, queries, idCol, vecCol, k, nprobe, identity)

  /** Query-time FILTERED probe over a fixed index — the production
    * "filtered vector search" shape (one index serves every attribute
    * constraint): exact top-k among `allowed` ∩ the probed cells'
    * members. The constraint is a semi-join on the stored id applied
    * INSIDE the pruned cell scan, before any distance work
    * (pre-filtering) — so k stays filled however selective the
    * predicate, where post-filtering an unfiltered top-k under-fills
    * and re-probes. Cost: the semi-join touches only probed-cell
    * rows; Catalyst broadcasts a small allowed set and shuffles a
    * large one — never corpus-wide either way. */
  def probeFiltered(spark: SparkSession, dir: String, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int, nprobe: Int,
                    allowed: DataFrame, allowedIdCol: String): DataFrame = {
    val rel = allowed.select(col(allowedIdCol).as("neighbor_id")).distinct()
    probeImpl(spark, dir, queries, idCol, vecCol, k, nprobe,
      df => df.join(rel, Seq("neighbor_id"), "left_semi"))
  }

  private def probeImpl(spark: SparkSession, dir: String, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int, nprobe: Int,
                        restrict: DataFrame => DataFrame): DataFrame = {
    Store.readEntry(spark, dir)
    val meta = Store.readMeta(spark, dir)
    val cellCent = readCentroids(spark, s"$dir/centroids")
    // tombstone mask FIRST (deleted rows must be invisible to every
    // probe shape, filtered included), then the caller's restrict;
    // both are pre-filters inside the pruned cell scan
    val mask: DataFrame => DataFrame = Store.readTombstones(spark, dir) match {
      case Some(t) => df =>
        restrict(df.join(t, df("neighbor_id") === t("__tomb_id"), "left_anti"))
      case None => restrict
    }
    val probedCells = probeCells(queries, idCol, vecCol, cellCent, nprobe)
    meta.kind match {
      case "ivf_flat" =>
        val assigned = mask(PartitionedStore
          .prunedRead(spark, s"$dir/codes", "cell", probedCells)
          .select(col("id").as("neighbor_id"), col("vec").as("__cv"),
            col("cell").cast("long").as("__cid")))
        ivfProbeAssigned(assigned, queries, idCol, vecCol, cellCent, k, nprobe)
      case "ivf_pq" =>
        val codeSeeds = readCodebook(spark, dir)
        val codes = mask(PartitionedStore
          .prunedRead(spark, s"$dir/codes", "cell", probedCells)
          .select(col("id").as("neighbor_id"), col("cell").cast("long").as("__cell"),
            col("b").as("__b"), col("code").as("__cid")))
        ivfpqProbeCodes(codes, queries, idCol, vecCol, cellCent, codeSeeds,
          k, nprobe, meta.m, meta.dim, meta.residual)
    }
  }

  /** Per-cell footprint of a saved index WITHOUT scanning data pages:
    * row counts from parquet FOOTERS, byte/file counts from the
    * partition-dir listing ([[StoreLifecycle.partitionStats]] — one
    * flat Spark job, never the whole-store partition-DISCOVERY job a
    * full-tree read launches past 32 partitions; KB per cell of
    * driver-side metadata, never corpus-sized). This is the skew report
    * that tells an operator which cells [[addBatch]] has grown past
    * their neighbors and [[resplitCell]] should split. Reports PHYSICAL
    * vectors: tombstoned ids stay counted until vacuum. */
  def indexStats(spark: SparkSession, dir: String): DataFrame = {
    Store.readEntry(spark, dir)
    import spark.implicits._
    // ivf_pq stores m code rows per vector — report VECTORS, not rows
    // (still footer-count-only: rows / m is exact, no distinct needed)
    val meta = Store.readMeta(spark, dir)
    val perVec = if (meta.kind == "ivf_pq") meta.m.toLong else 1L
    // read path: IGNORE (don't sweep) dirs retired by a resplit — see
    // the Store's healStore; the centroid read is the KB pull every
    // probe already does
    val liveCids = readCentroids(spark, s"$dir/centroids").map(_._1.toString).toSet
    Store.partitionStats(spark, dir, Codes, keepPart = liveCids)
      .map { case (v, rows, nFiles, bytes) => (v.toLong, rows / perVec, nFiles, bytes) }
      .toDF("cell", "n_vectors", "n_files", "bytes")
      .orderBy("cell")
  }

  /** Split one over-grown cell into `k` sub-cells — the maintenance
    * path for [[addBatch]] skew: hot cells otherwise grow without
    * bound and probe cost follows the hottest cell, not the corpus.
    * Sub-centroid seeds are the cell's first `k` members by id (the
    * same deterministic first-C convention as collectCentroids); the
    * new cells take ids max(cid)+1 … +k in seed order, the old cell id
    * retires. Only the split cell's partitions are read
    * (partition-pruned) and rewritten; every other partition — and
    * therefore every probe that does not rank the split/new centroids
    * into its nprobe set — is untouched (SimilaritySpec pins
    * bit-identical probes for unchanged probe sets).
    *
    * ivf_flat splits from the codes table itself (it stores raw
    * vectors). ivf_pq needs the `keepVectors` sidecar: PQ codes are
    * lossy, so the cell's source vectors are read from `vectors/`,
    * re-encoded against the FIXED stored codebook with the sub-cells
    * as the assignment set (in residual mode the new codes quantize
    * v − subcentroid, exactly what [[SimilarityFunctions.ivfpqEncode]]
    * produces), and both stores' partitions are rewritten. A PQ index
    * saved without the sidecar is rejected — its only skew remedy is
    * a rebuild from the source corpus.
    *
    * Single-writer maintenance op (same contract as addBatch): the new
    * partitions land before the centroid swap and the old directories
    * are removed last, so a crash mid-op leaves a probe-able index
    * whose worst case is the split cell present twice on disk (never
    * in a probe: the probe scan is pruned to centroid-listed cells) —
    * and the next write entry point's recovery sweeps
    * whichever copy the centroids no longer name, so the double-count
    * is not permanent either. */
  def resplitCell(spark: SparkSession, dir: String, cid: Long, k: Int): Unit = {
    // writes cell dirs -> same hazard as addBatch
    Store.recover(spark, dir)
    val meta = Store.readMeta(spark, dir)
    require(meta.kind == "ivf_flat" || meta.keepVectors,
      "resplitCell needs raw vectors: ivf_flat stores them in the codes " +
        "table, ivf_pq only with keepVectors = true (PQ codes are lossy) — " +
        "without the sidecar, re-split by rebuilding from the source corpus")
    require(k >= 2, "need k >= 2 sub-cells")
    val cellCent = readCentroids(spark, s"$dir/centroids")
    require(cellCent.exists(_._1 == cid), s"no cell $cid in $dir")
    val vecSource = if (meta.kind == "ivf_flat") "codes" else "vectors"
    val cellVecs = PartitionedStore
      .prunedRead(spark, s"$dir/$vecSource", "cell", Seq(cid))
      .select(col("id"), col("vec"))
      // materialize before appending to (and later deleting from) the
      // directory the plan reads
      .persist()
    try {
      val seedRows = cellVecs.orderBy("id").limit(k)
        .select(col("id"), asDouble(col("vec"))).collect()
      require(seedRows.length == k,
        s"cell $cid has only ${seedRows.length} vectors; need >= $k to split")
      val base = cellCent.map(_._1).max + 1
      val subCent = seedRows.zipWithIndex.map { case (r, i) =>
        (base + i, r.getSeq[Double](1).toArray) }.toSeq
      // orphan sub-cell dirs from a crashed prior attempt (it died
      // before the centroid swap, so base is recomputed the same and a
      // plain append would double every row) were already swept by the
      // entry recovery: their cids are not in the centroids
      val reassigned = assignedRows(cellVecs, "id", "vec", subCent)
      if (meta.kind == "ivf_flat")
        PartitionedStore.writePartitioned(reassigned, "cell", "append", s"$dir/codes")
      else {
        PartitionedStore.writePartitioned(pqRows(cellVecs, "id", "vec", subCent,
          readCodebook(spark, dir), meta), "cell", "append", s"$dir/codes")
        PartitionedStore.writePartitioned(reassigned, "cell", "append", s"$dir/vectors")
      }
      writeCentroids(spark, s"$dir/centroids",
        (cellCent.filterNot(_._1 == cid).map { case (c, v) => (c, v.toSeq) } ++
          subCent.map { case (c, v) => (c, v.toSeq) }).sortBy(_._1))
      Store.writeMeta(spark, dir, meta.copy(cells = meta.cells + k - 1))
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(s"$dir/codes/cell=$cid"), true)
      if (meta.kind == "ivf_pq") fs.delete(new Path(s"$dir/vectors/cell=$cid"), true)
    } finally cellVecs.unpersist()
  }

  /** Compact every cell whose file count reached `minFiles` back to
    * one file per cell — the other maintenance valve next to
    * [[resplitCell]]: every [[addBatch]] / streaming-ingest
    * micro-batch appends at least one file to each touched cell, so
    * after thousands of batches a probe pays thousands of tiny-file
    * opens per probed cell (the classic small-files failure mode).
    * Only the flagged cells are read and rewritten behind the shared
    * rename swap ([[StoreLifecycle.compact]]); the raw-vector sidecar
    * (when kept) accumulates ingest files at the same rate as the codes
    * and compacts alongside them. Centroids/codebook/meta untouched,
    * results bit-identical (SimilaritySpec pins probe equality). Works
    * for both layouts — compaction moves rows, never re-encodes.
    * Single-writer maintenance op, same contract as addBatch.
    * Returns the compacted cell ids. */
  def compactCells(spark: SparkSession, dir: String, minFiles: Int = 8): Seq[Long] =
    Store.compact(spark, dir, minFiles).collect { case (Codes, v) => v.toLong }

  /** Tombstone-delete: mark `ids` deleted WITHOUT touching the
    * data-sized inverted file (the GDPR/right-to-erasure shape every
    * production vector store needs — FAISS `remove_ids`, the delta
    * tombstones of lakehouse tables). The id list is committed as a
    * batch under `dir/tombstones/<tag>/` ([[StoreLifecycle.deleteIds]]:
    * staged, one atomic rename, replay-idempotent); every probe shape
    * ([[probe]], [[probeFiltered]], both layouts) anti-joins it
    * INSIDE the pruned cell scan before any distance work, so deleted
    * rows are invisible immediately at probe cost ∝ tombstones, and
    * [[vacuumDeletes]] later reclaims the bytes. Deleting an id that
    * was never indexed is legal (the anti-join ignores it); deleting an
    * id twice across batches is legal (set semantics). Single-writer,
    * like every maintenance op. */
  def deleteIds(spark: SparkSession, dir: String, ids: DataFrame,
                idCol: String, tag: String): Unit =
    Store.deleteIds(spark, dir, ids.select(col(idCol).cast("long").as("__tomb_id")), tag)

  /** Physically remove tombstoned rows and retire the applied
    * tombstone batches — the reclaim half of [[deleteIds]]
    * ([[StoreLifecycle.vacuum]]). Affected cells are found by one
    * column-pruned id scan of the inverted file (vacuum is the
    * deliberate heavy op; the probe-time mask is the cheap path); the
    * codes and, when kept, the raw-vector sidecar are rewritten
    * concurrently. A crash at ANY point leaves every cell
    * individually live-or-backup, the next write entry heals it, and
    * the tombstones (retired only after every cell swapped) re-apply
    * idempotently on the retry: probes never see a deleted row,
    * before, during, or after. Returns the rewritten cell ids.
    *
    * Reader-liveness bound: a lazy probe DataFrame planned BEFORE a
    * vacuum stays executable through the vacuum itself but NOT across
    * the NEXT write op — execute (collect/count/write) any such probe
    * before issuing another [[deleteIds]]/[[addBatchTagged]]/
    * [[compactCells]]/[[vacuumDeletes]]. Same contract as
    * [[BandIndex.vacuumDeletes]]. */
  def vacuumDeletes(spark: SparkSession, dir: String): Seq[Long] =
    Store.vacuum(spark, dir) { tombIds =>
      val affected = spark.read.parquet(s"$dir/codes")
        .select(col("id").cast("long").as("id"), col("cell").cast("long").as("cell"))
        .join(tombIds, col("id") === col("__tomb_id"), "left_semi")
        .select("cell").distinct().collect().map(_.getLong(0).toString).toIndexedSeq
      Seq(Codes -> affected) ++
        (if (Store.readMeta(spark, dir).keepVectors) Seq(Vectors -> affected) else Nil)
    }.map(_._2.toLong).distinct.sorted

  /** The distinct cells the query set will probe — a queries×nprobe
    * KB readback (same boundary class as the centroid pull) used to
    * prune the partitioned codes scan before the join. */
  private[graft] def probeCells(queries: DataFrame, idCol: String, vecCol: String,
                         cellCent: Seq[(Long, Array[Double])],
                         nprobe: Int): Seq[Any] =
    queries
      .select(explode(graft.expressions.VectorExpressions.nearest_centroids(
        asDouble(col(vecCol)), cellCent, nprobe,
        graft.expressions.VectorKernels.MetricCosine)).as("__pc"))
      .select(col("__pc").getField("cid")).distinct()
      .collect().map(_.getLong(0)).toSeq

  private[graft] case class Meta(kind: String, cells: Int, m: Int,
                                 codebook: Int, dim: Int, residual: Boolean,
                                 keepVectors: Boolean)

  private def writeCentroids(spark: SparkSession, path: String,
                             cent: Seq[(Long, Seq[Double])]): Unit = {
    import spark.implicits._
    cent.toDF("cid", "vec").coalesce(1).write.mode("overwrite").parquet(path)
  }

  private[graft] def readCentroids(spark: SparkSession, path: String): Seq[(Long, Array[Double])] =
    // fingerprint-memoized like readMeta: the centroid list is the KB
    // readback EVERY probe pays, and resplitCell's rewrite changes the
    // file fingerprint, so a memo hit is always the live centroid set
    PartitionedStore.memoizedReadback(spark, path) {
      spark.read.parquet(path).select("cid", "vec").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    }

}
