package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Persisted MinHash-LSH band index: the dedup analogue of
  * [[AnnIndex]] — nightly near-dup ingestion against a 100-TB corpus
  * cannot re-shingle and re-band the whole history per batch, which is
  * exactly what the in-session incremental path admits it would do
  * ([[DedupFunctions.incrementalNearDuplicates]] builds the "stored"
  * band index in-call). This stores it for real, with the same
  * operability valves the ANN index grew in round 12. The reference
  * has no dedup surface at any size (`fireworks/toolbox/pipes.py`
  * stops at row-level map/filter); this extends its incremental-stream
  * semantics (`pipes.py:62-63` reset/replay) to the LSH family.
  *
  * Layout under `dir` (all parquet):
  *   meta/      one row: shingleN, numHashes, bands, prefixLen,
  *              idBuckets
  *   bands/     the DATA-sized LSH postings, (id, band) partitioned by
  *              `bucket` = the band key's first `prefixLen` hex chars:
  *              a probe reads only its batch's buckets (statically
  *              pruned, the same PartitionFilters story PlanSpec pins
  *              for the ANN codes scan)
  *   shingles/  (id, sh) — the exact-verify sets, partitioned by
  *              `sbucket` = pmod(xxhash64(id), idBuckets) so the
  *              verify stage reads only the candidate ids' buckets
  *
  * Probe semantics are the contract [[DedupFunctions
  * .incrementalNearDuplicates]] defines: verified pairs (a, b, jac)
  * touching at least one batch doc, identical to running
  * [[DedupFunctions.minhashNearDuplicates]] over indexed ∪ batch and
  * keeping pairs with a batch side (the d16 oracle gates exactly
  * that). Ids must be globally unique across the index and every
  * batch, and keep ONE type across save/ingest/probe (sbucket hashes
  * the id value as its column type).
  *
  * Scale shape: ingest cost is ∝ batch (encode + append; existing
  * partitions untouched), probe cost is ∝ batch × bands joining
  * bucket-pruned postings plus a candidates-only verify — never
  * corpus², never a re-band of history. Maintenance is AnnIndex's:
  * both run on one [[StoreLifecycle]] — replay-idempotent
  * tagged ingest for sources that retry (streaming foreachBatch),
  * [[compact]] as the small-files valve, and a recovery pass on every
  * WRITE entry point so a crash anywhere leaves every committed row
  * reachable exactly once (read entry points never mutate — they read
  * THROUGH crash remnants via [[PartitionedStore.readPartitions]] /
  * the orphan-aware [[PartitionedStore.prunedRead]], so a reader
  * concurrent with a live compact can't corrupt it). Single-writer
  * contract for writes.
  */
object BandIndex {

  import DedupFunctions.{wordShingles, bandKeys, jaccard}

  private[graft] case class Meta(shingleN: Int, numHashes: Int, bands: Int,
                                 prefixLen: Int, idBuckets: Int)

  private val Bands = Subtree("bands", "bucket")
  private val Shingles = Subtree("shingles", "sbucket")

  private object Store extends StoreLifecycle[Meta](Seq(Bands, Shingles)) {
    /** Older builds saved a `hashFamily` column. The bands are md5
      * minhash keys; a store banded with any other family would be
      * probed with md5 and silently match nothing, so it is refused. */
    override protected def metaFrame(dir: String, raw: DataFrame): DataFrame =
      if (!raw.columns.contains("hashFamily")) raw
      else {
        val families = raw.select("hashFamily").distinct().collect().map(_.getString(0))
        require(families.forall(_ == "md5"),
          s"band index at $dir was saved with hash family " +
            s"${families.mkString(", ")}; only md5 is supported — rebuild it with BandIndex.save")
        raw.drop("hashFamily")
      }

    /** Settles any crashed [[rebucket]] from its marker: base dir still
      * live → uncommitted, scrub the op's tagged files (exactly what a
      * retry would do); base dir gone → committed, drop the `.retired-`
      * remnant; either way drop the marker ([[StoreLifecycle.recover]]
      * drops leaked `.staging-rebucket-*` dirs). (An unhealed rebucket
      * never breaks a reader: probe candidates are distinct()ed, and [[stats]] skips
      * the uncommitted op's tagged files outright, both without
      * mutating anything.) */
    override protected def healStore(spark: SparkSession, fs: FileSystem,
                                     dir: String): Unit = {
      val bandRoot = root(dir, Bands)
      if (fs.exists(bandRoot)) {
        fs.listStatus(bandRoot)
          .filter(_.getPath.getName.startsWith(".rebucket-inflight-"))
          .foreach { m =>
            val suffix = m.getPath.getName.stripPrefix(".rebucket-inflight-")
            // suffix = <hexbucket>-<gen>; the bucket has no dashes
            val bucket = suffix.substring(0, suffix.lastIndexOf('-'))
            val retired = new Path(bandRoot, s".retired-$bucket")
            if (fs.exists(new Path(bandRoot, s"bucket=$bucket")))
              PartitionedStore.scrubTag(fs, bandRoot, "bucket", s"rebucket-$suffix")
            else if (fs.exists(retired)) fs.delete(retired, true)
            fs.delete(m.getPath, false)
          }
      }
    }
  }

  /** Build the index from `docs` and save it under `dir`, replacing
    * any prior index. Banding parameters match
    * [[DedupFunctions.minhashNearDuplicates]]; `prefixLen` hex chars
    * of the band key form the postings partition (16^prefixLen
    * buckets), `idBuckets` partitions the shingle store by id hash.
    * The two subtree writes share only the persisted shingle set and
    * run concurrently ([[StoreLifecycle.save]]; measured 1.29× over
    * sequential at the d16 shape, SCALE.md r18). */
  def save(docs: DataFrame, idCol: String, textCol: String,
           shingleN: Int, numHashes: Int, bands: Int, dir: String,
           prefixLen: Int = 2, idBuckets: Int = 64): Unit = {
    val meta = checkedMeta(shingleN, numHashes, bands, prefixLen, idBuckets)
    // scan-parallelism valve on the corpus input (optimization r19,
    // guide §2.5): a fixture-scale docs table is one parquet row
    // group = ONE scan task, and the minhash (one md5 per shingle —
    // the save's dominant compute, 2.3 s of the 2.8 s bands write at
    // the d16 shape, OPTIMIZATION_r19.md) runs in whatever
    // partitioning the persisted shingle set inherited. Spreading the
    // SCAN spreads the persist and the minhash (bands write 2.8 →
    // 0.9 s). Identity at corpus scale (≥ parallelism splits) and for
    // non-scan-rooted inputs (d16b's union+crossJoin — its minhash is
    // 0.4 s, its save cost is the 256-dir write instead). Unlike the
    // x18b case this persisted relation is consumed by exactly two
    // write branches, each behind its own exchange — no tiny-task
    // cascade. Persisting beats re-shingling per write at corpus scale.
    val sh = shingled(ScanParallelism.ensureScanParallelism(
      docs.select(col(idCol), col(textCol)), idCol), idCol, textCol, meta)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try Store.save(docs.sparkSession, dir, meta, Seq(
      Shingles -> sh.withColumn("sbucket", sbucketOf(col("id"), meta)),
      Bands -> banded(sh, meta)))
    finally sh.unpersist(blocking = false)
  }

  /** Append a delta batch (encoded against the SAVED banding
    * parameters — no re-read of existing postings) to both stores:
    * [[addBatchTagged]] under a fresh tag. For a source that RETRIES
    * batches use [[addBatchTagged]] with the source's own tag: only a
    * same-tag replay heals a crash between the two subtree moves. */
  def addBatch(spark: SparkSession, dir: String, batch: DataFrame,
               idCol: String, textCol: String): Unit =
    addBatchTagged(spark, dir, batch, idCol, textCol, Store.freshTag())

  /** Replay-idempotent [[addBatch]] ([[StoreLifecycle.ingestTagged]]):
    * both stores' files are staged, then renamed into the live tree
    * under `<tag>-<i>.parquet` names; a re-run with the same tag first
    * scrubs the tag's leftovers from BOTH stores, so any number of
    * replays — including one that crashed between the shingle and band
    * moves — converges to exactly one copy of the batch. */
  def addBatchTagged(spark: SparkSession, dir: String, batch: DataFrame,
                     idCol: String, textCol: String, tag: String): Unit = {
    require(!tag.startsWith("rebucket-"),
      "the rebucket- tag prefix is reserved for [[rebucket]]'s staged moves")
    Store.recover(spark, dir)
    val meta = Store.readMeta(spark, dir)
    val sh = shingled(batch, idCol, textCol, meta)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try Store.ingestTagged(spark, dir, tag, Seq(
      Shingles -> sh.withColumn("sbucket", sbucketOf(col("id"), meta)),
      Bands -> bandedRouted(spark, dir, sh, meta)))
    finally sh.unpersist(blocking = false)
  }

  /** Verified near-dup pairs (a, b, jac) between `batch` and the
    * indexed corpus ∪ batch — exactly [[DedupFunctions
    * .incrementalNearDuplicates]]'s result, with the corpus side
    * served from disk: the batch's band keys select the postings
    * buckets (static partition pruning), the candidate ids' hash
    * buckets select the shingle partitions for the exact verify.
    * The two driver readbacks are bucket-ID lists (≤ 16^prefixLen and
    * ≤ idBuckets values — the probeCells boundary class), never data. */
  def probe(spark: SparkSession, dir: String, batch: DataFrame,
            idCol: String, textCol: String, threshold: Double): DataFrame = {
    Store.readEntry(spark, dir)
    val meta = Store.readMeta(spark, dir)
    val batchSh = shingled(batch, idCol, textCol, meta)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val batchBands = banded(batchSh, meta)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // base (prefixLen) buckets of the batch, widened to the stored
    // values they prefix-match: a [[rebucket]]-split hot bucket stores
    // its postings under LONGER bucket values, and the exact pruned
    // read over the matched names keeps the INSET PartitionFilters
    // shape. ONE root listing serves both the prefix match and the
    // pruned read (readView/prunedReadView — at 16^prefixLen dirs the
    // listing is the probe's dominant metadata cost), and it is the
    // READ view: a bucket parked in `.old-` by a crashed or in-flight
    // compact is served through its backup, never repaired.
    val baseBuckets = batchBands.select("bucket").distinct()
      .collect().map(_.getString(0)).toSet
    val bandRoot = new Path(s"$dir/bands")
    val fsB = bandRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val view = PartitionedStore.readView(fsB, bandRoot, "bucket")
    // Invariant making the O(1) lookup exact: every batch bucket is
    // EXACTLY prefixLen chars ([[banded]] takes substring(band, 1,
    // prefixLen)) and every live dir value is >= prefixLen chars (base
    // dirs are prefixLen, rebucket splits only deepen), so
    // "some base bucket prefixes v" == "v's first prefixLen chars ARE
    // a base bucket". The per-dir startsWith scan this replaces was
    // O(live-dirs x batch-buckets) driver string compares -- 10^10+ at
    // the production dial (pl=5-6, large probe batch) -- r15 finding.
    val buckets = (view._1.map(_.getName.stripPrefix("bucket=")) ++ view._2.keys)
      .filter(v => baseBuckets.contains(v.take(meta.prefixLen)))
    val idxBandsAll = PartitionedStore
      .prunedReadView(spark, s"$dir/bands", "bucket", buckets, view)
      .select("id", "band")
    // tombstone mask: deleted docs generate no candidates (and hence
    // never reach the verify stage) — the same pre-filter-inside-the-
    // pruned-scan shape as the AnnIndex probe mask
    val idxBands = Store.readTombstones(spark, dir) match {
      case Some(t) =>
        idxBandsAll.join(t, idxBandsAll("id") === t("__tomb_id"), "left_anti")
      case None => idxBandsAll
    }
    val cand = probeCandidates(batchBands, idxBands)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sbuckets = cand
      .select(explode(array(col("a"), col("b"))).as("id"))
      .select(sbucketOf(col("id"), meta).as("sb")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val idxSh = PartitionedStore
      .prunedRead(spark, s"$dir/shingles", "sbucket", sbuckets)
      .select("id", "sh")
    val verified = verifyPairs(cand, idxSh.unionByName(batchSh), threshold)
    // Materialize AND sever the result from the store's files via an
    // eager localCheckpoint: the returned plan is a LogicalRDD (fresh
    // RDD id), never plan-equal to a later probe's. Returning a
    // persist()ed frame instead leaves a CacheManager entry whose plan
    // IS equal to the next probe over the same buckets
    // (InMemoryFileIndex equality is rootPaths-only), so after a
    // compact/save swaps files in between, the next probe gets
    // substituted with the stale entry and dies FILE_NOT_EXIST on the
    // swapped-out files — the d16 bench flake, reproduced
    // deterministically in BandIndexSpec's crash test. Pair-sized
    // blocks, GC-released; no caller-side unpersist contract.
    val out = verified.localCheckpoint(true)
    Seq(cand, batchBands, batchSh).foreach(_.unpersist(blocking = false))
    out
  }

  /** Compact every partition of both stores that reached `minFiles`
    * files back to one file — the small-files valve for micro-batch
    * ingest, crash-safe behind [[PartitionedStore]]'s rename swap.
    * Returns (store, partitionValue) per compacted partition. */
  def compact(spark: SparkSession, dir: String,
              minFiles: Int = 8): Seq[(String, String)] =
    Store.compact(spark, dir, minFiles).map { case (s, v) => s.name -> v }

  /** Tombstone-delete for the dedup store — the BandIndex twin of
    * [[AnnIndex.deleteIds]] (right-to-erasure over an indexed corpus:
    * a removed document must stop matching future probes immediately).
    * Same committed-batch discipline ([[StoreLifecycle.deleteIds]]):
    * stage, one atomic rename, replay-idempotent, staging invisible to
    * readers. The probe anti-joins the set against the bucket-pruned
    * postings BEFORE candidate generation, so a deleted doc costs no
    * verify work and appears in no pair; [[vacuumDeletes]] reclaims the
    * bytes. `ids` must keep the store's id type (the sbucket hash is
    * type-sensitive, same contract as ingest). Single-writer. */
  def deleteIds(spark: SparkSession, dir: String, ids: DataFrame,
                idCol: String, tag: String): Unit =
    Store.deleteIds(spark, dir, ids.select(col(idCol).as("__tomb_id")), tag)

  /** Physically remove tombstoned docs from BOTH stores and retire
    * the applied batches ([[StoreLifecycle.vacuum]], which rewrites the
    * two stores concurrently). NO store-wide scan: affected
    * shingle buckets are a pure id hash computed from the tombstone
    * set, and affected band buckets come from re-banding the deleted
    * docs' OWN shingle sets (sbucket-pruned read, routed through any
    * rebucket-deepened dirs by [[bandedRouted]]) — vacuum cost ∝
    * deleted docs + affected partitions, never the store. Returns
    * (store, partitionValue) per rewritten partition.
    *
    * Crash retries: each partition swap is individually crash-safe
    * and the anti-join re-applies idempotently, since the batches are
    * retired last. Band buckets are derivable only while the deleted
    * docs' shingles exist, so the vacuum records them before either
    * rewrite starts and a retry after the shingle rewrite committed
    * still reclaims the postings.
    *
    * Reader-liveness bound: a lazy probe DataFrame planned BEFORE a
    * vacuum stays executable through the vacuum itself but NOT across
    * the NEXT write op — execute (collect/count/write) any such probe
    * before issuing another [[deleteIds]]/[[addBatch]]/[[compact]]/
    * [[vacuumDeletes]]. Same contract as [[AnnIndex.vacuumDeletes]]. */
  def vacuumDeletes(spark: SparkSession, dir: String): Seq[(String, String)] =
    Store.vacuum(spark, dir) { tombIds =>
      val meta = Store.readMeta(spark, dir)
      val sbuckets = tombIds
        .select(sbucketOf(col("__tomb_id"), meta).as("sb"))
        .distinct().collect().map(_.getLong(0)).toIndexedSeq
      val delSh = PartitionedStore
        .prunedRead(spark, s"$dir/shingles", "sbucket", sbuckets)
        .join(tombIds, col("id") === col("__tomb_id"), "left_semi")
        .select("id", "sh")
      val bandBuckets = bandedRouted(spark, dir, delSh, meta)
        .select("bucket").distinct().collect().map(_.getString(0)).toIndexedSeq
      Seq(Bands -> bandBuckets, Shingles -> sbuckets.map(_.toString))
    }.map { case (s, v) => s.name -> v }

  /** Per-bucket footprint of the postings store without scanning data
    * pages (footer row counts + filesystem listing,
    * [[StoreLifecycle.partitionStats]]): the skew report that shows
    * which band buckets ingest has grown hot and how many files
    * [[compact]] would fold. */
  def stats(spark: SparkSession, dir: String): DataFrame =
    stats(spark, dir, prefix = None)

  /** As [[stats]], but when `prefix` is set only buckets whose value
    * starts with it are footprinted — the targeted form for checking
    * ONE split's outcome (d16b) or monitoring one hot region: the
    * root listing is unavoidable (names only, metadata-plane), but
    * per-bucket file listings and footer reads drop from store-wide
    * to the matched region. At 10⁵–10⁶ buckets that is the difference
    * between a store-wide stats job and a handful of footers. */
  def stats(spark: SparkSession, dir: String,
            prefix: Option[String]): DataFrame = {
    Store.readEntry(spark, dir)
    import spark.implicits._
    val root = new Path(s"$dir/bands")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // read-side consistency across a crashed or in-flight rebucket
    // (r15 carried item): while an op's `.rebucket-inflight-` marker
    // exists AND its base dir is still live, the op has NOT committed
    // — the deeper dirs' `rebucket-<bucket>-<gen>-*` files are
    // uncommitted copies of postings the base dir still holds.
    // Exclude exactly those files so stats never double-counts;
    // readers still mutate nothing (the next WRITE entry point's
    // recovery scrubs them for real).
    val uncommittedTags: Seq[String] =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(".rebucket-inflight-"))
        .map(_.stripPrefix(".rebucket-inflight-"))
        .filter { suffix =>
          val bucket = suffix.substring(0, suffix.lastIndexOf('-'))
          fs.exists(new Path(root, s"bucket=$bucket"))
        }
        .map(suffix => s"rebucket-$suffix-")
    Store.partitionStats(spark, dir, Bands,
        keepPart = v => prefix.forall(v.startsWith),
        keepFile = f => !uncommittedTags.exists(f.startsWith))
      .toDF("bucket", "n_postings", "n_files", "bytes")
      .orderBy("bucket")
  }

  /** Split ONE hot postings bucket by the next `extraLen` hex chars of
    * its band keys — the hot-bucket valve `prefixLen`-at-save-time
    * otherwise lacks. What it treats, measured (d16b): a bucket hot
    * from MANY DISTINCT band keys sharing its prefix (hash-collision /
    * ingest-volume skew) — deeper prefixes fan those keys out. What it
    * does NOT treat: a bucket hot from ONE shared band value (a
    * boilerplate flood — hundreds of identical docs): every copy
    * carries the same full 32-char key, so the whole flood lands in a
    * single sub-bucket at any depth (d16b pins this). Value skew must
    * be dedup'd upstream (exact/soft dedup d1/d14, incremental d10)
    * before ingest; the only in-store alternative would be a
    * recall-losing stop-value cap, deliberately not implemented. Only
    * the split
    * bucket's partition is read and rewritten (cost ∝ bucket, never ∝
    * store); shingles are untouched. Probes need no migration flag:
    * they widen each batch bucket to the stored values it prefixes
    * (the [[probe]] prefix match), and ingest routes new postings to the
    * deepest live dir ([[bandedRouted]]), so mixed depths — including
    * a re-split of a split ([[rebucket]] composes) — coexist.
    *
    * Crash protocol (single-writer, shared-machinery shapes): a marker
    * `.rebucket-inflight-<bucket>-<gen>` brackets the op (gen = a
    * per-op stamp, so a later split of a RECREATED base dir never
    * collides with — or scrubs — a completed earlier split's files);
    * the re-bucketed rows are staged and renamed in under the RESERVED
    * tag `rebucket-<bucket>-<gen>`; the old dir retires via an atomic
    * rename to `.retired-<bucket>` before deletion. The next WRITE
    * entry point's recovery heals any crash point: old dir
    * still live → the split never committed, scrub the tag's files
    * (exactly what a retry would do); old dir renamed away →
    * committed, finish the delete. Healing is write-entry-only for the
    * same reason as [[AnnIndex]]'s retired-cell sweep — to a
    * concurrent READER an in-flight split is indistinguishable from a
    * crashed one, and scrubbing it would delete data the commit rename
    * is about to make canonical. Readers need no healing to stay
    * correct: an uncommitted split's postings exist twice (base dir +
    * tagged split files) and probe candidates are `.distinct()`ed, so
    * duplicate postings never change the verified pairs (BandIndexSpec
    * pins both arms and the mid-flight read). */
  def rebucket(spark: SparkSession, dir: String, bucket: String,
               extraLen: Int = 1): Unit = {
    Store.recover(spark, dir)
    require(extraLen >= 1 && bucket.length + extraLen <= 8,
      s"need 1 <= extraLen and bucket+extra <= 8 hex chars, got " +
        s"'$bucket' + $extraLen")
    require(bucket.matches("[0-9a-f]+"), s"bucket must be hex chars: $bucket")
    val bandRoot = new Path(s"$dir/bands")
    val fs = bandRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveDir = new Path(bandRoot, s"bucket=$bucket")
    require(fs.exists(liveDir), s"no live postings bucket '$bucket' in $dir")
    val gen = System.currentTimeMillis
    val tag = s"rebucket-$bucket-$gen"
    val marker = new Path(bandRoot, s".rebucket-inflight-$bucket-$gen")
    fs.create(marker, true).close()
    val staging = new Path(s"$dir/.staging-$tag")
    PartitionedStore.writePartitioned(
      PartitionedStore.prunedRead(spark, bandRoot.toString, "bucket", Seq(bucket))
        .select(col("id"), col("band"),
          substring(col("band"), 1, bucket.length + extraLen).as("bucket")),
      "bucket", "overwrite", staging.toString)
    PartitionedStore.moveStagedTagged(fs, staging, bandRoot, "bucket", tag)
    // commit point: the old dir leaves the live tree atomically
    val retired = new Path(bandRoot, s".retired-$bucket")
    require(fs.rename(liveDir, retired), s"rebucket: retiring $liveDir failed")
    fs.delete(retired, true)
    fs.delete(marker, false)
    PartitionedStore.refresh(spark, dir)
  }

  /** [[banded]] with the bucket column routed to the DEEPEST live dir
    * whose value prefixes the band key — so ingest after a
    * [[rebucket]] keeps feeding the split dirs instead of recreating
    * the retired base dir. Band keys whose split-depth dir does not
    * exist yet fall back to the base (prefixLen) bucket, which probes
    * still find by prefix match. Routing is ONE branch per distinct
    * split DEPTH (≤ 8 − prefixLen branches ever, deepest first), each
    * an O(1) set-membership on the band's depth-prefix — codegen depth
    * is bounded no matter how many buckets an operator has split (a
    * per-VALUE when-chain here went O(splits)-deep, fine for a few hot
    * buckets but degenerate under wide rebucketing — r14 finding).
    * Entry points run recovery first, so the live tree the routing
    * reads is already healed. */
  private[graft] def bandedRouted(spark: SparkSession, dir: String, sh: DataFrame,
                                  meta: Meta): DataFrame = {
    val root = new Path(s"$dir/bands")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deeper = PartitionedStore.partitions(fs, root, "bucket")
      .map(_.getName.stripPrefix("bucket="))
      .filter(_.length > meta.prefixLen)
    val basic = banded(sh, meta)
    if (deeper.isEmpty) basic
    else {
      // per-length prefix lookup: a band's L-prefix can equal at most
      // one live value of length L, so "deepest wins" is the first
      // matching length, descending
      val byLen = deeper.groupBy(_.length).toSeq.sortBy(-_._1)
      val routed = byLen.foldLeft(
        when(lit(false), lit(null: String))) { case (acc, (len, vs)) =>
          val pfx = substring(col("band"), 1, len)
          acc.when(pfx.isInCollection(vs), pfx)
        }.otherwise(col("bucket"))
      basic.withColumn("bucket", routed)
    }
  }

  // ---- the shared banding probe kernel ----
  // ONE implementation of the probe contract, used by both the
  // persisted path ([[probe]], corpus sides served from pruned disk
  // reads) and the in-session path ([[DedupFunctions
  // .incrementalNearDuplicates]], corpus sides as live frames) — the
  // two paths previously hand-rolled identical pipelines that could
  // drift (r13 finding). BandIndexSpec's probe-equality pin is the
  // contract for both.

  /** Candidate pairs of a probe: batch × (corpus ∪ batch) on band-key
    * equality — batch-corpus pairs land once, batch-batch twice (both
    * sides probe) — canonicalized (a < b) and distinct'ed. Inputs any
    * frames with (id, band); extra columns are dropped. Lazy. */
  private[graft] def probeCandidates(batchBands: DataFrame,
                                     corpusBands: DataFrame): DataFrame = {
    val bb = batchBands.select("id", "band")
    bb.as("x")
      .join(corpusBands.select("id", "band").unionByName(bb).as("y"),
        col("x.band") === col("y.band") && col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))
      .distinct()
  }

  /** Exact-Jaccard verify of candidate pairs against a shingle-set
    * relation (id, sh): keeps (a, b, jac) with jac >= threshold.
    * Lazy; caller decides materialization. */
  private[graft] def verifyPairs(cand: DataFrame, sh: DataFrame,
                                 threshold: Double): DataFrame = {
    val s = sh.select("id", "sh")
    cand
      .join(s.withColumnRenamed("id", "a").withColumnRenamed("sh", "__sha"), Seq("a"))
      .join(s.withColumnRenamed("id", "b").withColumnRenamed("sh", "__shb"), Seq("b"))
      .withColumn("jac", jaccard(col("__sha"), col("__shb")))
      .filter(col("jac") >= threshold)
      .select("a", "b", "jac")
  }

  // ---- shared encode / layout helpers ----

  private def checkedMeta(shingleN: Int, numHashes: Int, bands: Int,
                          prefixLen: Int, idBuckets: Int): Meta = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes, bands=$bands)")
    require(prefixLen >= 1 && prefixLen <= 8,
      s"prefixLen must be in [1, 8], got $prefixLen")
    require(idBuckets >= 1, s"idBuckets must be >= 1, got $idBuckets")
    Meta(shingleN, numHashes, bands, prefixLen, idBuckets)
  }

  /** (id, sh) with the no-shingle docs (< shingleN words → NULL set)
    * dropped: they can never band, so neither store carries them —
    * matching the in-session pipelines, where such docs form no
    * candidates. */
  private def shingled(docs: DataFrame, idCol: String, textCol: String,
                       meta: Meta): DataFrame =
    docs.select(col(idCol).as("id"),
        wordShingles(col(textCol), meta.shingleN).as("sh"))
      .filter(col("sh").isNotNull)

  /** (id, band, bucket) — one posting per (doc, band key), bucketed by
    * the key's hex prefix for the probe's static partition pruning. */
  private def banded(sh: DataFrame, meta: Meta): DataFrame =
    sh.withColumn("band", explode(bandKeys(
        graft.expressions.HashExpressions.minhash_signature(col("sh"), meta.numHashes),
        meta.bands, meta.numHashes / meta.bands)))
      .select(col("id"), col("band"),
        substring(col("band"), 1, meta.prefixLen).as("bucket"))

  private def sbucketOf(id: org.apache.spark.sql.Column, meta: Meta) =
    pmod(xxhash64(id), lit(meta.idBuckets.toLong))

  private[graft] def readMeta(spark: SparkSession, dir: String): Meta =
    Store.readMeta(spark, dir)
}
