package graft.functions

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.StringType

/** Shared crash-safe maintenance machinery for on-disk stores laid out
  * as a parquet tree partitioned by ONE column ([[AnnIndex]]'s
  * `codes/cell=…`, [[BandIndex]]'s `bands/bucket=…` and
  * `shingles/sbucket=…`): replay-idempotent tagged ingest (scrub the
  * tag's leftovers, stage the partitioned write, rename each staged
  * file to a deterministic `<tag>-<i>.parquet` name), the small-files
  * compaction valve (rewrite a partition to one file behind a
  * live→backup, staged→live rename swap), and the recovery pass that
  * repairs a crash at any point of either. Single-writer contract
  * throughout: one maintenance/ingest op per store at a time, readers
  * any time. [[recover]] runs on WRITE entry points only — a reader
  * cannot distinguish a crashed compact from one that is in flight
  * right now, and "repairing" the latter (restoring the live→backup
  * rename mid-swap) makes the writer's staged→live rename fail. Read
  * entry points never mutate: they read THROUGH crash remnants instead
  * ([[prunedRead]] serves a probed value from its orphaned `.old-`
  * backup, [[readPartitions]] lists backups as their value).
  *
  * The invariant the trio preserves: every committed row is reachable
  * under exactly one live `<part>=<v>` directory, no matter where a
  * previous op crashed — `.old-<v>` holds the rows while a compaction
  * swap is in flight and [[recover]] restores it if the swap never
  * finished; `.compact-*` / staging dirs are invisible to parquet
  * listings (dot-prefixed) and dropped on recovery.
  *
  * This object works on ONE tree; [[StoreLifecycle]] composes it into
  * the whole-store operations (meta, several subtrees, tombstones) both
  * stores share. Every fan-out runs on the one shared pool
  * ([[parallel]]).
  */
private[graft] object PartitionedStore {

  /** The live partition dirs of `root` (empty when the tree does not
    * exist yet — a store before its first write). */
  def partitions(fs: FileSystem, root: Path, partCol: String): Seq[Path] =
    readView(fs, root, partCol)._1

  /** ONE root listing split into the reader's view: (live partition
    * dirs, orphan `.old-<v>` backups with no live twin, keyed by
    * value). The orphans are the rows of a [[compact]] that crashed
    * (or is in flight on another writer RIGHT NOW) between its
    * live→backup and staged→live renames — write entry points heal
    * them via [[recover]]; read entry points must not mutate, so they
    * read through the backup instead. Single listStatus call: at
    * 10⁴–10⁵ partition dirs the root listing is the dominant
    * metadata-plane cost of a probe (the ×100 band-probe runs in
    * SCALE.md), so read paths must never pay it twice for one view. */
  def readView(fs: FileSystem, root: Path, partCol: String)
  : (Seq[Path], Map[String, Path]) =
    if (!fs.exists(root)) (Seq.empty, Map.empty)
    else {
      val sts = fs.listStatus(root).filter(_.isDirectory)
      val live = sts.map(_.getPath)
        .filter(_.getName.startsWith(partCol + "=")).toSeq
      val liveVals = live.map(_.getName.stripPrefix(partCol + "=")).toSet
      val orphans = sts.filter(_.getPath.getName.startsWith(".old-"))
        .map(st => (st.getPath.getName.stripPrefix(".old-"), st.getPath))
        .filterNot { case (v, _) => liveVals(v) }
        .toMap
      (live, orphans)
    }

  /** The partition view a READER should use: (value, dir) for every
    * live partition, plus each orphan backup standing in for its
    * missing value — so stats/listing paths stay correct across a
    * crashed (or concurrently in-flight) compact without repairing
    * anything. One root listing. */
  def readPartitions(fs: FileSystem, root: Path, partCol: String): Seq[(String, Path)] = {
    val (live, orphans) = readView(fs, root, partCol)
    live.map(pd => (pd.getName.stripPrefix(partCol + "="), pd)) ++
      orphans.toSeq.sortBy(_._1)
  }

  /** Re-cache any CACHED plans referencing `dir` — called at every
    * store entry point. The rename swaps these stores do (compact /
    * overwrite / tagged replay) happen behind Spark's back, so a user
    * plan cached over the store before a swap holds a listing of the
    * swapped-out files; refreshByPath re-lists and recomputes it.
    * Fresh `spark.read` calls always re-list (each InMemoryFileIndex
    * gets its own file-status-cache client), so this guards only
    * still-cached plans. NOTE it is belt-and-braces, not sufficient on
    * its own: a cached plan that is plan-EQUAL to a new read
    * (InMemoryFileIndex equality is rootPaths-only) gets substituted
    * by the CacheManager at analysis time, which is why [[BandIndex
    * .probe]] severs its returned frame from the store's files with a
    * localCheckpoint instead of leaving a persisted plan behind. */
  def refresh(spark: SparkSession, dir: String): Unit =
    spark.catalog.refreshByPath(dir)

  /** Read ONLY the named partition values' directories of the tree —
    * discovery ∝ probed, not ∝ store. A plain
    * `spark.read.parquet(root).filter(part isin values)` prunes the
    * DATA pages correctly but pays partition DISCOVERY for the whole
    * tree: the file index lists every `<part>=<v>` directory, and past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * that listing becomes a Spark job per read — so probe PLANNING
    * grows with store size even while probed bytes stay flat (the
    * constant the ×100 ANN run surfaced: probe wall 1.95 s → 4.79 s at
    * a flat 0.1 MB scanned, SCALE.md). Listing the probed dirs under
    * `basePath` keeps discovery at one root listing plus a file index
    * over only the probed dirs. The
    * partition column survives via basePath discovery and the isin
    * filter is re-applied, so the executed plan keeps its `INSET`
    * PartitionFilters shape (PlanSpec pins it). Values absent from the
    * tree are skipped; a fully-absent value set falls back to the
    * full-tree read purely to preserve the result SCHEMA of an empty
    * probe. */
  def prunedRead(spark: SparkSession, rootDir: String, partCol: String,
                 values: Seq[Any]): DataFrame = {
    val root = new Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    prunedReadView(spark, rootDir, partCol, values, readView(fs, root, partCol))
  }

  /** [[prunedRead]] against an ALREADY-LISTED view — for callers that
    * just paid the root listing for their own bookkeeping (e.g. a
    * probe prefix-matching its buckets against the live dirs): at
    * 10⁴–10⁵ partitions each redundant listing is a measurable slice
    * of probe planning. */
  private[graft] def prunedReadView(spark: SparkSession, rootDir: String,
                                    partCol: String, values: Seq[Any],
                                    view: (Seq[Path], Map[String, Path])): DataFrame = {
    val (liveDirs, orphans) = view
    val live = liveDirs.map(_.getName).toSet
    val wanted = values.distinct
    val hit = wanted.map(v => s"$partCol=$v").filter(live)
    // read-through, never repair: a probed value whose live dir is
    // missing but whose `.old-<v>` backup survives is a compact that
    // crashed — or is in flight — between its two renames; serve its
    // rows from the backup dir with the partition column re-attached
    // (the dir's files were written under partitionBy, so they lack
    // it). Write entry points run recover() first and see no orphans.
    val orphanHit = wanted
      .filter(v => !live(s"$partCol=$v") && orphans.contains(v.toString))
    val base =
      if (hit.nonEmpty)
        Some(spark.read.option("basePath", rootDir)
          .parquet(hit.map(d => s"$rootDir/$d"): _*)
          .filter(col(partCol).isin(values: _*)))
      else if (orphanHit.isEmpty)
        // fully-absent value set: full-tree read purely to preserve
        // the result SCHEMA of an empty probe
        Some(spark.read.parquet(rootDir).filter(col(partCol).isin(values: _*)))
      else None
    val orphanReads = orphanHit.map { v =>
      val partType = base.map(_.schema(partCol).dataType).getOrElse(
        org.apache.spark.sql.catalyst.expressions.Literal(v).dataType)
      spark.read.parquet(orphans(v.toString).toString)
        .withColumn(partCol, lit(v).cast(partType))
    }
    (base.toSeq ++ orphanReads).reduce(_ unionByName _)
  }

  /** Write `df` as a tree partitioned by `partCol` under `path`,
    * clustered by the partition column first: one writer (and one
    * file) per partition instead of tasks × partitions small files; at
    * real scale spark.sql.files.maxRecordsPerFile bounds file size. */
  def writePartitioned(df: DataFrame, partCol: String, mode: String,
                       path: String): Unit =
    df.repartition(col(partCol)).write.mode(mode).partitionBy(partCol).parquet(path)

  /** Swap a staged rewrite of partition `value` in for its live dir:
    * park live as `.old-<v>`, rename staged to live, drop the backup.
    * A crash between the renames leaves the value individually
    * live-or-backup for [[recover]]; staged dirs are `.compact-*`,
    * invisible to parquet listings and dropped on recovery. */
  private def swapIn(fs: FileSystem, root: Path, partCol: String,
                     value: String, staged: Path): Unit = {
    val live = new Path(root, s"$partCol=$value")
    val backup = new Path(root, s".old-$value")
    require(fs.rename(live, backup), s"swap: rename $live -> $backup failed")
    require(fs.rename(staged, live), s"swap: rename $staged -> $live failed")
    fs.delete(backup, true)
  }

  /** Rewrite one live partition dir without the tombstoned ids, behind
    * the [[compact]] swap discipline ([[swapIn]]) — a crash at any
    * point leaves the partition individually live-or-backup for
    * [[recover]], and the not-yet-retired tombstones re-apply
    * idempotently on retry. Returns false (untouched) for a partition
    * value with no live dir — so callers report only REAL rewrites. */
  def rewriteExcluding(spark: SparkSession, root: Path, partCol: String,
                       value: String, tombIds: DataFrame,
                       idCol: String): Boolean = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(root, s"$partCol=$value")
    if (!fs.exists(live)) return false
    val staged = new Path(root, s".compact-$value")
    // Output file count is SIZE-based, not a blanket coalesce(1):
    // vacuum is not compaction — a genuinely large partition (GBs at
    // real store scale) rewritten through one task is a single-task
    // straggler that across-partition parallelism can't help (r17
    // session ADVICE). Target ~128 MB of INPUT bytes per output file:
    // small partitions still land as one file (the fixture case, and
    // the small-files valve's preference), large ones keep task
    // parallelism ∝ their size.
    val liveBytes = fs.listStatus(live)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val outFiles = math.max(1L, (liveBytes + (128L << 20) - 1) / (128L << 20)).toInt
    spark.read.parquet(live.toString)
      .join(tombIds, col(idCol) === col("__tomb_id"), "left_anti")
      .coalesce(outFiles)
      .write.mode("overwrite").parquet(staged.toString)
    fs.delete(new Path(staged, "_SUCCESS"), false)
    swapIn(fs, root, partCol, value, staged)
    true
  }

  // ---- the one thread pool of the store code. Every fan-out — twin
  // subtree writes, twin vacuum rewrites, per-partition rewrites and
  // compactions, per-dir listings — goes through [[parallel]]. Each
  // item is a tiny Spark job or FS call, so sequential submission is
  // pure job-launch latency once several are in play.

  /** Cached daemon pool, created on first use: a task that blocks on
    * nested work (band vacuum runs two [[rewriteExcludingAll]] calls at
    * once, each of which may fan out again) gets a fresh thread instead
    * of waiting for a slot, so nesting never deadlocks; idle threads
    * exit after 60 s, and daemon threads never hold the JVM open. */
  private lazy val submitters = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-store-submitter")
    t.setDaemon(true)
    t
  }

  /** Most tasks one [[parallel]] call keeps in flight. */
  private val maxParallel = 8

  /** `f` over `items` on the shared pool, at most [[maxParallel]] at
    * a time, results in input order. Every task runs under the
    * caller's Spark local properties (job group, description,
    * scheduler pool, SQL execution id) and active session, captured at
    * submission the way Spark's own broadcast pool does — a long-lived
    * pool thread inherits none of them at creation. Returns only after
    * every started task stopped; the first failure is rethrown and no
    * further items start after it. */
  def parallel[T, R](spark: SparkSession, items: Seq[T])(f: T => R): Seq[R] = {
    val xs = items.toIndexedSeq
    if (xs.size <= 1) return xs.map(f)
    val out = new Array[Any](xs.size)
    val next = new AtomicInteger
    val failure = new AtomicReference[Throwable]
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Seq.fill(math.min(maxParallel, xs.size))(
      SQLExecution.withThreadLocalCaptured(session, submitters) {
        var i = next.getAndIncrement()
        while (i < xs.size && failure.get == null) {
          try out(i) = f(xs(i))
          catch { case t: Throwable => failure.compareAndSet(null, t) }
          i = next.getAndIncrement()
        }
      }).foreach(_.join())
    Option(failure.get).foreach(t => throw t)
    out.toSeq.asInstanceOf[Seq[R]]
  }

  /** Affected-partition count from which [[rewriteExcludingAll]] and
    * [[compact]] take the bulk arm. MEASURED (OPTIMIZATION_r18.md,
    * "Bulk-maintenance threshold 96 → 8"): at 24 touched fixture
    * partitions bulk is 1.6× faster (1.76 vs 2.81 s — the
    * per-partition path's ~0.11 s/partition dispatch beats the bulk
    * scan's ~0.7 s fixed cost from ~7 partitions up), at 2 touched
    * per-partition wins (0.42 vs 0.72 s). */
  private[graft] val BulkThreshold = 8

  /** [[rewriteExcluding]] over many partition values. Below
    * [[BulkThreshold]] affected partitions each value is rewritten on
    * its own from the shared pool ([[parallel]]), each partition
    * individually live-or-backup for [[recover]] after a crash. From
    * there up, each rewrite's ~3 dispatched jobs (broadcast build,
    * write, AQE stage) dominate — a vacuum touching most of the store
    * paid 3 993 launches = 122 s at ×100 (SCALE.md r18) — so
    * [[rewriteExcludingBulk]] reads all affected partitions in one
    * pruned scan and swaps each behind the same live→backup→live
    * discipline (its `.compact-bulkvac` staging is swept by
    * [[recover]]). */
  def rewriteExcludingAll(spark: SparkSession, root: Path, partCol: String,
                          values: Seq[String], tombIds: DataFrame,
                          idCol: String): Seq[String] =
    if (values.size >= BulkThreshold)
      rewriteExcludingBulk(spark, root, partCol, values, tombIds, idCol)
    else
      values.zip(parallel(spark, values)(v =>
          rewriteExcluding(spark, root, partCol, v, tombIds, idCol)))
        .collect { case (v, true) => v }

  /** The one-job twin of the per-partition rewrite, for vacuums that
    * touch a large share of the store (see [[rewriteExcludingAll]]).
    * Returns the partition values actually rewritten (those with a
    * live dir). One documented difference from the per-partition path:
    * output file count per partition is sized from the AVERAGE
    * affected-partition bytes (~128 MB per file via a salt column in
    * the shuffle key) rather than per-partition exact — the bulk
    * regime is by construction many-partitions, where the average is
    * the right dial. Result-level parity is exact: a partition whose
    * every row is tombstoned (absent from the staged partitionBy
    * output) falls back to the per-partition rewrite, which keeps it
    * as an empty schema-bearing parquet dir — exactly the
    * per-partition path's shape, so an all-deleted store stays
    * READABLE (a parquet-less tree would fail schema inference on the
    * next full-tree read). */
  def rewriteExcludingBulk(spark: SparkSession, root: Path, partCol: String,
                           values: Seq[String], tombIds: DataFrame,
                           idCol: String): Seq[String] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = partitions(fs, root, partCol)
      .map(_.getName.stripPrefix(partCol + "=")).toSet
    val affected = values.distinct.filter(live)
    if (affected.isEmpty) return Seq.empty
    // per-output-file sizing from the average affected bytes (the r17
    // ~128 MB/file discipline, applied at the bulk grain). Listings run
    // from the shared pool — thousands of SERIAL listStatus RPCs on
    // exactly the path whose point is removing per-partition overhead
    // would hand the win back to the metadata plane on an object store.
    val affectedBytes = parallel(spark, affected) { v =>
      fs.listStatus(new Path(root, s"$partCol=$v"))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }.sum
    val splits = math.max(1L,
      (affectedBytes / affected.size + (128L << 20) - 1) / (128L << 20)).toInt
    val emptied = bulkStageAndSwap(spark, root, partCol, affected,
      df => df.join(tombIds, col(idCol) === col("__tomb_id"), "left_anti")
        .withColumn("__vsplit", pmod(xxhash64(col(idCol)), lit(splits)))
        .repartition(col(partCol), col("__vsplit"))
        .drop("__vsplit"))
    // fully-tombstoned partitions (no staged output) go through the
    // per-partition rewrite, which writes the empty schema-bearing
    // file the per-partition path would — exact result parity, and the
    // count is bounded by how many partitions were deleted WHOLE (≈0
    // in any real vacuum)
    parallel(spark, emptied)(v =>
      rewriteExcluding(spark, root, partCol, v, tombIds, idCol))
    affected
  }

  /** Shared core of the bulk maintenance paths ([[rewriteExcludingBulk]]
    * and [[compact]]'s bulk arm): ONE read of the affected live
    * partitions, the caller's transform, one staged `partitionBy` write
    * to `.compact-bulkvac`, then the per-partition [[swapIn]]. Returns
    * the affected values with NO staged output (every row transformed
    * away) — the caller decides what an empty partition becomes. A
    * crash at any point leaves each partition individually
    * live-or-backup for [[recover]], which also sweeps the staging.
    *
    * The partition column is read as the dir-name STRING (a
    * user-specified schema disables type inference for it): the staged
    * partitionBy re-RENDERS the read values as dir names, and inference
    * does not round-trip every name (a hex bucket "1e5" infers as
    * double 100000.0 → staged dir `bucket=100000.0` ≠ live `bucket=1e5`
    * → the swap would drop the partition as fully deleted). The schema
    * lives on the read, not in a session conf, so concurrent bulk
    * calls (twin subtrees from the shared pool) cannot interfere. */
  private def bulkStageAndSwap(spark: SparkSession, root: Path,
                               partCol: String, affected: Seq[String],
                               transform: DataFrame => DataFrame): Seq[String] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(root, ".compact-bulkvac")
    fs.delete(staging, true) // crash remnant of a prior attempt
    val dirs = affected.map(v => s"$root/$partCol=$v")
    val schema = spark.read.parquet(dirs.head).schema.add(partCol, StringType)
    transform(spark.read.schema(schema).option("basePath", root.toString)
        .parquet(dirs: _*))
      .write.partitionBy(partCol).mode("overwrite").parquet(staging.toString)
    fs.delete(new Path(staging, "_SUCCESS"), false)
    val (have, emptied) = affected.partition(v =>
      fs.exists(new Path(staging, s"$partCol=$v")))
    have.foreach(v =>
      swapIn(fs, root, partCol, v, new Path(staging, s"$partCol=$v")))
    fs.delete(staging, true)
    emptied
  }

  /** Delete every `<tag>-*` file from the live partition dirs — the
    * leftovers of a crashed prior attempt at the same tagged batch. */
  def scrubTag(fs: FileSystem, root: Path, partCol: String, tag: String): Unit =
    partitions(fs, root, partCol).foreach { pd =>
      fs.listStatus(pd)
        .filter(f => f.isFile && f.getPath.getName.startsWith(s"$tag-"))
        .foreach(f => fs.delete(f.getPath, false))
    }

  /** Move a staged partitioned write into the live tree under the
    * tag's deterministic file names (rename is atomic per file), then
    * drop the staging dir. Preceded by [[scrubTag]], any number of
    * replays of the same tagged batch converges to exactly one copy,
    * no matter where the previous attempt died. */
  def moveStagedTagged(fs: FileSystem, staging: Path, root: Path,
                       partCol: String, tag: String): Unit = {
    partitions(fs, staging, partCol).foreach { pd =>
      val dest = new Path(root, pd.getName)
      fs.mkdirs(dest)
      fs.listStatus(pd)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          val to = new Path(dest, s"$tag-$i.parquet")
          require(fs.rename(f.getPath, to),
            s"tagged ingest: rename ${f.getPath} -> $to failed")
        }
    }
    fs.delete(staging, true)
  }

  /** Compact every partition holding >= `minFiles` parquet files back
    * to one file — the valve against the classic small-files failure
    * mode (every ingest batch appends at least one file per touched
    * partition). Reads ONLY the flagged partitions, swaps each in
    * behind [[swapIn]] so a crash at any point leaves the rows
    * reachable, and returns the compacted partition VALUES. Caller runs
    * [[recover]] first. Below [[BulkThreshold]] flagged partitions each
    * is rewritten on its own from the shared pool; from there up, one
    * bulk rewrite. */
  def compact(spark: SparkSession, root: Path, partCol: String,
              minFiles: Int): Seq[String] = {
    require(minFiles >= 2, "need minFiles >= 2")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val flagged = partitions(fs, root, partCol).filter { pd =>
      fs.listStatus(pd)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")) >= minFiles
    }.map(_.getName.stripPrefix(partCol + "="))
    if (flagged.isEmpty) return Seq.empty
    // past BulkThreshold flagged partitions, per-partition compaction
    // jobs hit the same dispatch wall the vacuum's bulk arm removes
    // (SCALE.md r18 — heavy micro-batch ingest flags HUNDREDS): one
    // read + one staged partitionBy write + the same swap.
    // repartition by the partition column alone lands each value in
    // one task → exactly one output file per partition, compaction's
    // contract. Compaction drops no rows, so no partition can come
    // back empty (the emptied return is a no-op by construction).
    if (flagged.size >= BulkThreshold)
      bulkStageAndSwap(spark, root, partCol, flagged, _.repartition(col(partCol)))
    else
      parallel(spark, flagged) { v =>
        val staged = new Path(root, s".compact-$v")
        spark.read.parquet(s"$root/$partCol=$v").coalesce(1)
          .write.mode("overwrite").parquet(staged.toString)
        // drop the _SUCCESS marker so the swapped dir holds data files only
        fs.delete(new Path(staged, "_SUCCESS"), false)
        swapIn(fs, root, partCol, v, staged)
      }
    flagged
  }

  /** Parquet footer row counts for an EXPLICIT file list, summed per
    * partition value — the stats-path scan that never touches Spark's
    * partition-discovery machinery: a full-tree `spark.read.parquet`
    * (or an explicit-paths read past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` = 32
    * paths) launches a listing job per call, so whole-store stats paid
    * a discovery job that grew with the store — the same planning
    * constant [[prunedRead]] removed from the probes. Here the caller
    * already holds the file list (the `partitions()` + per-dir listing
    * every stats method does anyway for file/byte counts), and the
    * counts come from one flat Spark job over those paths reading KB
    * footers — no listing, no data pages, cost ∝ files. Input is
    * (partitionValue, filePath); output sums per value. */
  def footerCounts(spark: SparkSession, files: Seq[(String, String)]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    val confB = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val slices = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(files, slices)
      .map { case (v, f) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(f), confB.value.value)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (v, reader.getRecordCount) finally reader.close()
      }
      .reduceByKey(_ + _)
      .collect().toMap
  }

  /** Java-serializable Hadoop `Configuration` carrier (the filesystem
    * credentials/settings the executor-side footer reads need) —
    * `Configuration` is `Writable` but not `Serializable`, so ship it
    * through its own Writable encoding. */
  private class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit =
      value.write(out)
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  // ---- KB-readback memo (optimization r18). Every store entry point
  // re-reads its KB-sized driver metadata (BandIndex meta row, AnnIndex
  // meta row + centroid list) as a fresh parquet read — one Spark job
  // plus its planning gap per call, ~0.1–0.3 s of pure dispatch in a
  // lifecycle bundle that probes three times (d21's probe phase runs
  // 54 jobs; 6+ of them are these rereads). The memo keys on the
  // path's FILE FINGERPRINT (name + length + mtime of every file, one
  // listStatus RPC): a re-save rewrites the files under fresh
  // part-<uuid> names, so staleness is structurally impossible —
  // unlike a mutation counter, this also survives another process
  // rewriting the store. Measured in OPTIMIZATION_r18.md item 2: d21
  // 82 → 78 jobs, and every probe/ingest/vacuum entry across 12 bundle
  // queries sheds 1–2 jobs. Cleared by [[clearReadbackMemo]] (wired
  // into SparkEntry.releaseCaches) so Bench's every-pass-pays-its-own-
  // materialization discipline holds: the memo shares within a pass
  // exactly like the query packs' graft.DfMemo entries.

  // Count-bounded LRU (ADVICE r18): values are KB-scale for the meta
  // rows but an ANN centroid list is cells × dim doubles — a long-lived
  // session touching many indexes must not accumulate driver memory
  // without bound. 64 live stores is far above any bench/pipeline
  // shape; past it the least-recently-USED path re-reads (correctness
  // unaffected — the memo is a pure dispatch-cost cache).
  private val readbackMemoCap = 64
  private val readbackMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (String, AnyRef)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, AnyRef)]): Boolean =
        size() > readbackMemoCap
    })

  /** `read`'s result memoized under `path`, revalidated against the
    * path's file fingerprint on every call. Falls through to `read`
    * (typically failing with the reader's own error) when the path
    * cannot be listed. Values must be KB-scale driver objects. */
  def memoizedReadback[T <: AnyRef](spark: SparkSession, path: String)
                                   (read: => T): T = {
    val p = new Path(path)
    val fp =
      try {
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(p).filter(_.isFile)
          .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
          .sorted.mkString("|")
      } catch { case _: java.io.IOException => return read }
    val cached = readbackMemo.get(path)
    if (cached != null && cached._1 == fp) cached._2.asInstanceOf[T]
    else {
      val v = read
      readbackMemo.put(path, (fp, v))
      v
    }
  }

  def clearReadbackMemo(): Unit = readbackMemo.clear()

  /** Repair a crashed [[compact]]: a `.old-<v>` with no live
    * `<part>=<v>` twin means the crash landed between the two renames
    * — restore it; with a live twin the backup is stale — drop it.
    * Also drops leaked `.compact-*` staging dirs. Listing-only when
    * there is nothing to repair (the common case). WRITE entry points
    * ONLY (single-writer means nothing can be in flight when they
    * run): called from a read path this races a live [[compact]] — a
    * reader restoring the backup between the two renames makes the
    * writer's staged→live rename fail, and deleting `.compact-*`
    * deletes the write in progress. Readers use [[prunedRead]] /
    * [[readPartitions]], which read through the remnants unmutated. */
  def recover(fs: FileSystem, root: Path, partCol: String): Unit =
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        val nm = st.getPath.getName
        if (st.isDirectory && nm.startsWith(".old-")) {
          val live = new Path(root, s"$partCol=${nm.stripPrefix(".old-")}")
          if (!fs.exists(live)) require(fs.rename(st.getPath, live),
            s"crash recovery rename ${st.getPath} -> $live failed")
          else fs.delete(st.getPath, true)
        } else if (st.isDirectory && nm.startsWith(".compact-"))
          fs.delete(st.getPath, true)
      }
}
