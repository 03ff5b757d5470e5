package graft.functions

import scala.reflect.runtime.universe.TypeTag
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** One partitioned parquet tree of a store: `<dir>/<name>/<partCol>=<v>/`. */
private[graft] final case class Subtree(name: String, partCol: String)

/** The crash-safe lifecycle both persisted stores share — [[BandIndex]]
  * (`bands/bucket` + `shingles/sbucket`) and [[AnnIndex]] (`codes/cell`
  * + the optional `vectors/cell`). Both are a partition-local posting
  * store behind a router that prunes partitions; only the routing and
  * the encoding differ, and those stay in the stores. A store is a
  * directory holding:
  *   meta/        one row of `M`, read back fingerprint-memoized
  *   <subtree>/   each of `subtrees`, one [[PartitionedStore]] tree
  *   tombstones/  committed delete batches, `<tag>/` parquet dirs of
  *                one `__tomb_id` column
  *
  * Single-writer contract: one write op per store at a time, readers
  * any time. Every WRITE entry point runs [[recover]] first, and only
  * write entry points do: a reader cannot tell a crashed op from one in
  * flight right now, and repairing the latter corrupts it (restoring
  * `.old-` mid-compact makes the writer's staged→live rename fail —
  * ADVICE r14). Read entry points ([[readEntry]]) mutate nothing and
  * read THROUGH crash remnants ([[PartitionedStore.prunedRead]],
  * [[PartitionedStore.readPartitions]]). Fan-out runs on
  * [[PartitionedStore.parallel]]'s shared pool. */
private[graft] abstract class StoreLifecycle[M <: AnyRef with Product: TypeTag](
    val subtrees: Seq[Subtree]) {

  /** The store-specific step of write-entry recovery, run after every
    * subtree's compaction swaps were healed. */
  protected def healStore(spark: SparkSession, fs: FileSystem, dir: String): Unit = ()

  /** The meta parquet of the store at `dir` as read, before decoding —
    * override to default a column that stores saved by older versions
    * lack, or to refuse one they carry. */
  protected def metaFrame(dir: String, raw: DataFrame): DataFrame = raw

  def root(dir: String, s: Subtree): Path = new Path(s"$dir/${s.name}")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- meta

  def writeMeta(spark: SparkSession, dir: String, meta: M): Unit =
    spark.createDataFrame(Seq(meta)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")

  /** Fingerprint-memoized (optimization r18): every probe/ingest/
    * vacuum would otherwise re-read this one-row parquet as a full
    * Spark job. */
  def readMeta(spark: SparkSession, dir: String): M =
    PartitionedStore.memoizedReadback(spark, s"$dir/meta") {
      metaFrame(dir, spark.read.parquet(s"$dir/meta")).as(Encoders.product[M]).head()
    }

  // ---- entry points

  /** Repair whatever a crashed op left behind — WRITE entry points
    * only (see the class note). Sweeps the tombstone batches a prior
    * vacuum parked and every `.staging-*` dir (single-writer: any
    * leftover is a crashed write — ingest stagings are safe to drop,
    * since a replayed tag re-stages in overwrite mode, and an untagged
    * ingest's fresh tag is never replayed), heals every subtree's
    * compaction swaps ([[PartitionedStore.recover]]), runs the
    * store's own step, then re-caches plans over the store: AFTER the
    * FS repairs, since
    * refresh re-executes cached plans lazily against the tree as it
    * stands and recaching against a still-parked `.old-` backup would
    * capture an empty listing for that partition. Listing-only when
    * there is nothing to repair (the common case). */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    sweepRetiredTombstones(fs, dir)
    sweepStagings(fs, dir)
    subtrees.foreach(s => PartitionedStore.recover(fs, root(dir, s), s.partCol))
    healStore(spark, fs, dir)
    PartitionedStore.refresh(spark, dir)
  }

  /** Read-entry prologue: NO filesystem mutation. Only the driver-side
    * catalog refresh (re-lists cached plans over files a prior
    * maintenance op swapped; writes nothing). */
  def readEntry(spark: SparkSession, dir: String): Unit =
    PartitionedStore.refresh(spark, dir)

  /** Full save, replacing any prior store: meta, then the subtree
    * writes (concurrently — they share no state beyond the caller's
    * persisted inputs), then stale tombstones cleared LAST. A crash
    * before the clear leaves the NEW store over-masked, which the
    * retried save clears — fails closed; clearing first would open a
    * window where the OLD store serves with its right-to-erasure
    * deletions silently resurrected (review r17). A crash anywhere
    * leaves a partial new store that only a completed retry makes
    * whole. */
  def save(spark: SparkSession, dir: String, meta: M,
           writes: Seq[(Subtree, DataFrame)]): Unit = {
    writeMeta(spark, dir, meta)
    PartitionedStore.parallel(spark, writes) { case (s, df) =>
      PartitionedStore.writePartitioned(df, s.partCol, "overwrite", root(dir, s).toString)
    }
    clearTombstones(fsOf(spark, dir), dir)
  }

  /** Replay-idempotent ingest; the caller ran [[recover]]. Scrubs the
    * tag's leftovers from EVERY subtree, then stages each write under
    * `dir/.staging-<subtree>-<tag>` and renames its files into the live
    * tree as `<tag>-<i>.parquet`. The subtree writes run concurrently,
    * and crash safety is order-free by construction: a replay with the
    * same tag scrubs all subtrees before re-staging, so a crash during
    * either write, or between the moves in either order, converges to
    * exactly one copy. */
  def ingestTagged(spark: SparkSession, dir: String, tag: String,
                   writes: Seq[(Subtree, DataFrame)]): Unit = {
    require(tag.matches("[A-Za-z0-9_-]+"), s"tag must be a safe file prefix: $tag")
    val fs = fsOf(spark, dir)
    subtrees.foreach(s => PartitionedStore.scrubTag(fs, root(dir, s), s.partCol, tag))
    PartitionedStore.parallel(spark, writes) { case (s, df) =>
      val staging = new Path(s"$dir/.staging-${s.name}-$tag")
      PartitionedStore.writePartitioned(df, s.partCol, "overwrite", staging.toString)
      PartitionedStore.moveStagedTagged(fs, staging, root(dir, s), s.partCol, tag)
    }
  }

  /** A tag for an untagged ingest: the staged tagged path under a name
    * no caller uses, so a crash mid-write leaves nothing in the live
    * tree. (A crash between the subtree moves still leaves one subtree
    * ahead — only a replay of the SAME tag heals that.) */
  def freshTag(): String = s"add-${java.util.UUID.randomUUID}"

  /** Tombstone-delete: commit `ids` (one `__tomb_id` column of the
    * store's id type) as batch `tag`. It stages under
    * `dir/.staging-del-<tag>` and COMMITS by one atomic directory
    * rename — a crash before the rename leaves only staging, which
    * readers never list and the next delete sweeps; re-running a
    * committed tag is a no-op, so replays converge to one copy. */
  def deleteIds(spark: SparkSession, dir: String, ids: DataFrame, tag: String): Unit = {
    require(tag.matches("[A-Za-z0-9_-]+"), s"tag must be a safe file prefix: $tag")
    recover(spark, dir)
    val fs = fsOf(spark, dir)
    val tombs = new Path(s"$dir/tombstones")
    val committed = new Path(tombs, tag)
    if (!fs.exists(committed)) { // else a replayed tag: already committed
      val staging = new Path(s"$dir/.staging-del-$tag")
      ids.select(col("__tomb_id")).distinct()
        .write.mode("overwrite").parquet(staging.toString)
      fs.delete(new Path(staging, "_SUCCESS"), false)
      fs.mkdirs(tombs)
      require(fs.rename(staging, committed), s"tombstone commit rename failed for tag $tag")
    }
    PartitionedStore.refresh(spark, dir)
  }

  /** Physically remove tombstoned rows and retire the applied batches.
    * `affected` maps the persisted tombstone set to each subtree's
    * partition values that may hold a deleted id (the store's routing);
    * the subtrees' rewrites run concurrently, each through
    * [[PartitionedStore.rewriteExcludingAll]]: one rewrite per value
    * below [[PartitionedStore.BulkThreshold]] affected values, one bulk
    * rewrite of all of them from there up. Every partition swap is individually
    * crash-safe and the anti-join re-applies idempotently on a retry,
    * because the batches are retired only after every subtree
    * finished. The affected values are derived from rows the rewrites
    * delete (band buckets from the deleted docs' shingles, ANN cells
    * from their codes), so a retry after one subtree's rewrite
    * committed derives too little: they are therefore recorded next
    * to the batches before any rewrite starts, a retry unions every
    * record with what it derives, and retiring the batches removes
    * the records. Returns (subtree, value) per partition actually
    * rewritten — ids that were never indexed rewrite nothing and do
    * not report.
    *
    * Retired batches are PARKED as `.retired-<tag>`, not deleted: a
    * probe DataFrame planned before the vacuum holds concrete file
    * paths into them (review r17), so it stays executable through the
    * vacuum itself (swapped partitions read through `.old-` backups),
    * but NOT across the next write op, which sweeps the parked files. */
  def vacuum(spark: SparkSession, dir: String)
            (affected: DataFrame => Seq[(Subtree, Seq[String])]): Seq[(Subtree, String)] = {
    recover(spark, dir)
    val fs = fsOf(spark, dir)
    // snapshot the batches being applied: a delete committed after this
    // listing survives this vacuum and applies at the next one
    val listed = tombstoneListing(fs, dir)
    val applied = batchesOf(listed)
    if (applied.isEmpty) return Seq.empty
    val tombIds = readBatches(spark, applied).persist(StorageLevel.MEMORY_AND_DISK)
    val done = try {
      val records = listed.map(_.getPath).filter(_.getName.startsWith(".affected-"))
      val (plan, record) = recordAffected(fs, dir, records, affected(tombIds))
      val done = PartitionedStore.parallel(spark, plan) { case (s, values) =>
        PartitionedStore.rewriteExcludingAll(spark, root(dir, s), s.partCol,
          values, tombIds, "id").map(s -> _)
      }.flatten
      (records ++ record).foreach(fs.delete(_, false))
      applied.foreach { p =>
        val parked = new Path(p.getParent, s".retired-${p.getName}")
        fs.delete(parked, true) // a crashed prior retire of the same tag
        require(fs.rename(p, parked), s"tombstone retire rename $p failed")
      }
      done
    } finally tombIds.unpersist()
    // after the release: refresh re-lists every cached plan over `dir`,
    // and the tombstone relation's paths are the batches just parked
    PartitionedStore.refresh(spark, dir)
    done
  }

  /** Compact every partition of every subtree that reached `minFiles`
    * files back to one file ([[PartitionedStore.compact]]; subtrees run
    * concurrently). Returns (subtree, value) per compacted partition. */
  def compact(spark: SparkSession, dir: String, minFiles: Int): Seq[(Subtree, String)] = {
    recover(spark, dir)
    PartitionedStore.parallel(spark, subtrees)(s =>
      PartitionedStore.compact(spark, root(dir, s), s.partCol, minFiles).map(s -> _)).flatten
  }

  /** Per-partition footprint of one subtree WITHOUT scanning data
    * pages: (value, rows, files, bytes) for every partition the READ
    * view lists (a partition parked in `.old-` by a crashed or
    * in-flight compact is listed through its backup, never restored)
    * that `keepPart` accepts, over its parquet files `keepFile`
    * accepts. Rows come from parquet FOOTERS over exactly those files
    * ([[PartitionedStore.footerCounts]] — one flat Spark job, never the
    * whole-store partition-discovery job a full-tree read launches past
    * 32 partitions), files and bytes from the same listing. The caller
    * ran [[readEntry]]. */
  def partitionStats(spark: SparkSession, dir: String, s: Subtree,
                     keepPart: String => Boolean,
                     keepFile: String => Boolean = _ => true): Seq[(String, Long, Long, Long)] = {
    val fs = fsOf(spark, dir)
    val listed = PartitionedStore.readPartitions(fs, root(dir, s), s.partCol)
      .filter { case (v, _) => keepPart(v) }
      .map { case (v, pd) =>
        v -> fs.listStatus(pd).filter(f => f.isFile &&
          f.getPath.getName.endsWith(".parquet") && keepFile(f.getPath.getName))
      }
    val counts = PartitionedStore.footerCounts(spark,
      listed.flatMap { case (v, files) => files.map(f => (v, f.getPath.toString)) })
    listed.map { case (v, files) =>
      (v, counts.getOrElse(v, 0L), files.length.toLong, files.map(_.getLen).sum)
    }
  }

  // ---- tombstones. Dot-prefixed dirs under `tombstones/` (batches a
  // finished vacuum parked) are not live.

  /** The committed tombstone set as one distinct `__tomb_id` relation,
    * or None when nothing is tombstoned. Never collected — probe masks
    * and vacuums consume it as a relation. */
  def readTombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    Some(batchesOf(tombstoneListing(fsOf(spark, dir), dir))).filter(_.nonEmpty)
      .map(readBatches(spark, _))

  private def readBatches(spark: SparkSession, batches: Seq[Path]): DataFrame =
    spark.read.parquet(batches.map(_.toString): _*).select(col("__tomb_id")).distinct()

  private def tombstoneListing(fs: FileSystem, dir: String): Seq[FileStatus] = {
    val tombs = new Path(s"$dir/tombstones")
    if (!fs.exists(tombs)) Seq.empty else fs.listStatus(tombs).toIndexedSeq
  }

  private def batchesOf(listed: Seq[FileStatus]): Seq[Path] =
    listed.filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
      .map(_.getPath)

  /** The affected values `derived` from the tombstone set, unioned with
    * every crashed vacuum's `records`, and the record written for
    * them: one `<subtree>\t<value>` line each through the FS API (no
    * Spark job), closed by an `end` line. A record without it was cut
    * short by a crash before any rewrite started, so its retry's own
    * derivation covers it. */
  private def recordAffected(fs: FileSystem, dir: String, records: Seq[Path],
                             derived: Seq[(Subtree, Seq[String])])
      : (Seq[(Subtree, Seq[String])], Option[Path]) = {
    val recorded = records.flatMap { p =>
      val in = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
      val lines = try in.getLines().toList finally in.close()
      if (lines.lastOption.contains("end")) lines.init.map(_.split("\t", 2)) else Nil
    }
    val plan = (derived.map(_._1) ++ subtrees).distinct.flatMap { s =>
      val values = (derived.filter(_._1 == s).flatMap(_._2) ++
        recorded.collect { case Array(n, v) if n == s.name => v }).distinct
      if (values.isEmpty && !derived.exists(_._1 == s)) None else Some(s -> values)
    }
    val lines = plan.flatMap { case (s, vs) => vs.map(v => s"${s.name}\t$v\n") }
    if (lines.isEmpty) return (plan, None)
    val record = new Path(s"$dir/tombstones/.affected-${java.util.UUID.randomUUID}")
    val out = fs.create(record, false)
    try out.write((lines.mkString + "end\n").getBytes("UTF-8")) finally out.close()
    (plan, Some(record))
  }

  private def sweepRetiredTombstones(fs: FileSystem, dir: String): Unit = {
    val tombs = new Path(s"$dir/tombstones")
    if (fs.exists(tombs))
      fs.listStatus(tombs)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(".retired-"))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** A full save replaces the store, so tombstones (committed or
    * staged) against the old generation must not survive into the new
    * one. */
  private def clearTombstones(fs: FileSystem, dir: String): Unit = {
    fs.delete(new Path(s"$dir/tombstones"), true)
    sweepStagings(fs, dir)
  }

  /** Crashed stagings of every kind: ingest, delete and the store's own
    * (band rebucket). */
  private def sweepStagings(fs: FileSystem, dir: String): Unit =
    if (fs.exists(new Path(dir)))
      fs.listStatus(new Path(dir)).filter(_.getPath.getName.startsWith(".staging-"))
        .foreach(st => fs.delete(st.getPath, true))
}
