package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PartitionedStore

/** The shared one-partition-column store machinery's READ side:
  * [[PartitionedStore.prunedRead]] must be a pure optimization — same
  * rows, same schema, same partition column as the full-tree
  * read + isin filter it replaces (discovery O(probed) is the point;
  * semantics must not move). */
class PartitionedStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def store(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pstore").toString
    (0L until 200L).map(i => (i, i % 8, s"v$i")).toDF("id", "cell", "payload")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    dir
  }

  test("prunedRead equals full-read + isin on present, absent, and mixed value sets") {
    val dir = store()
    def full(vals: Seq[Any]) =
      spark.read.parquet(dir).filter(col("cell").isin(vals: _*))
        .select("id", "payload", "cell")
    def pruned(vals: Seq[Any]) =
      PartitionedStore.prunedRead(spark, dir, "cell", vals)
        .select("id", "payload", "cell")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val present = Seq[Any](1L, 5L)
    assert(rows(pruned(present)) == rows(full(present)))
    assert(rows(pruned(present)).nonEmpty)

    // values with no directory are skipped, not an error
    val mixed = Seq[Any](2L, 99L)
    assert(rows(pruned(mixed)) == rows(full(mixed)))

    // a fully-absent set yields an EMPTY frame with the intact schema
    val absent = Seq[Any](404L)
    val e = pruned(absent)
    assert(e.count() == 0)
    assert(e.schema.fieldNames.toSet == Set("id", "payload", "cell"))

    // the partition column survives the basePath read with its value
    val cells = PartitionedStore.prunedRead(spark, dir, "cell", Seq[Any](3L))
      .select(col("cell").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(cells == Set(3L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("prunedRead keeps the static partition filter in the executed plan") {
    // few values render as IN, many as INSET (OptimizeIn threshold) —
    // both are static PartitionFilters on the partition column, which
    // is the shape PlanSpec pins for the real ANN probe
    val dir = store()
    def planOf(vals: Seq[Any]) =
      PartitionedStore.prunedRead(spark, dir, "cell", vals)
        .queryExecution.executedPlan.toString
    val few = planOf(Seq[Any](1L, 5L))
    assert(few.contains("PartitionFilters") &&
      few.matches("(?s).*PartitionFilters[^\\]]*cell[^\\]]*IN.*"),
      s"pruned read must carry the static partition filter:\n$few")
    val many = planOf((0L until 12L).map(identity[Any]))
    assert(many.contains("PartitionFilters") && many.contains("INSET"),
      s"a wide value set must still plan as INSET PartitionFilters:\n$many")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("prunedRead and readPartitions read through an orphaned .old- backup without mutating") {
    val dir = store()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rows(vals: Seq[Any]) =
      PartitionedStore.prunedRead(spark, dir, "cell", vals)
        .select(col("id"), col("payload"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = Seq[Any](3L, 5L)
    val before = rows(want)
    // simulate a compact crashed (or in flight) between its two
    // renames: the live dir is parked in backup
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, "cell=3"),
      new org.apache.hadoop.fs.Path(dir, ".old-3")))
    assert(rows(want) == before, "prunedRead must serve the orphaned value")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "cell=3")) &&
      fs.exists(new org.apache.hadoop.fs.Path(dir, ".old-3")),
      "a read must not repair the store")
    // the read view lists the backup as its value; the write view does not
    val rp = PartitionedStore.readPartitions(fs, root, "cell").toMap
    assert(rp.keySet.contains("3") && rp("3").getName == ".old-3")
    assert(!PartitionedStore.partitions(fs, root, "cell")
      .exists(_.getName == "cell=3"))
    // a STALE backup (live twin present) is ignored by the read view
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, ".old-3"),
      new org.apache.hadoop.fs.Path(dir, "cell=3")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, ".old-5"))
    assert(PartitionedStore.readPartitions(fs, root, "cell")
      .collect { case (v, p) => (v, p.getName) }.count(_._1 == "5") == 1)
    assert(rows(want) == before)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def tombs(ids: Long*) = {
    import spark.implicits._
    ids.toDF("__tomb_id").select(col("__tomb_id").cast("long"))
  }

  test("rewriteExcludingBulk equals the pooled per-partition rewrite") {
    import spark.implicits._
    def mk(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_bulkvac").toString
      (0L until 200L).map(i => (i, i % 8, s"v$i")).toDF("id", "cell", "payload")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      dir
    }
    val perDir = mk(); val bulkDir = mk()
    // delete ids hitting cells 0..3, plus ALL of cell 7 (7, 15, ...)
    val del = (0L until 200L).filter(i => i % 8 <= 3 && i < 60) ++
      (0L until 200L).filter(_ % 8 == 7)
    val values = (0 until 8).map(_.toString)
    val retPer = values.filter(v => PartitionedStore.rewriteExcluding(spark,
      new org.apache.hadoop.fs.Path(perDir), "cell", v, tombs(del: _*), "id"))
    val retBulk = PartitionedStore.rewriteExcludingBulk(spark,
      new org.apache.hadoop.fs.Path(bulkDir), "cell", values,
      tombs(del: _*), "id")
    assert(retPer.toSet == retBulk.toSet && retBulk.toSet == values.toSet)
    def rows(d: String) = spark.read.parquet(d)
      .select(col("id"), col("payload"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows(perDir) == rows(bulkDir))
    assert(!rows(bulkDir).exists(r => del.contains(r._1)))
    // exact parity with the pooled path: the fully-tombstoned cell 7
    // stays as an empty schema-bearing dir (an all-deleted store must
    // remain READABLE — a parquet-less tree fails schema inference)
    val fs = new org.apache.hadoop.fs.Path(bulkDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(bulkDir, "cell=7")))
    assert(spark.read.parquet(s"$bulkDir/cell=7").count() == 0)
    // and no staging/backup remnants survive a clean bulk run
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(bulkDir))
      .forall(st => !st.getPath.getName.startsWith(".compact-") &&
        !st.getPath.getName.startsWith(".old-")))
    Seq(perDir, bulkDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("rewriteExcludingBulk round-trips inference-hostile partition names") {
    import spark.implicits._
    // "1e5" infers as double, "007" as int (dropping zeros), "3f"
    // stays string — with type inference ON the staged partitionBy
    // would re-render the first two and the swap would DROP them as
    // fully-deleted; the bulk path pins inference off for its read
    val dir = java.nio.file.Files.createTempDirectory("graft_bulknames").toString
    val cells = Seq("1e5", "007", "3f", "12")
    (0L until 80L).map(i => (i, cells((i % 4).toInt), s"v$i"))
      .toDF("id", "cell", "payload")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val ret = PartitionedStore.rewriteExcludingBulk(spark,
      new org.apache.hadoop.fs.Path(dir), "cell", cells,
      tombs(0L, 1L, 2L, 3L), "id")
    assert(ret.toSet == cells.toSet)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    cells.foreach(v => assert(
      fs.exists(new org.apache.hadoop.fs.Path(dir, s"cell=$v")),
      s"partition dir cell=$v must survive the bulk rewrite byte-identically"))
    val out = spark.read.parquet(dir)
      .select(col("id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == (4L until 80L).map(i => (i, cells((i % 4).toInt))).toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("rewriteExcludingAll switches to the bulk path at bulkThreshold") {
    import spark.implicits._
    def mk(cells: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_bulksw").toString
      (0L until 80L).map(i => (i, i % cells, s"v$i")).toDF("id", "cell", "payload")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      dir
    }
    // results are identical by design, so the observable seam is the
    // JOB COUNT: pooled runs one rewrite job per partition, bulk runs
    // one staged write (plus empties) — count via listener
    val del = (0L until 80L).filter(i => i % 2 == 1)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // value counts on each side of the constant
    def run(cells: Int): (Int, Set[Long]) = {
      val dir = mk(cells)
      jobs.set(0)
      spark.sparkContext.addSparkListener(listener)
      try {
        PartitionedStore.rewriteExcludingAll(spark,
          new org.apache.hadoop.fs.Path(dir), "cell",
          (0 until cells).map(_.toString),
          tombs(del: _*), "id")
        // the listener bus is async with no public flush (the
        // indexStats test's caveat) — poll until the count stabilizes
        var last = -1
        var spins = 0
        while (jobs.get() != last && spins < 50) {
          last = jobs.get(); spins += 1; Thread.sleep(100)
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      val n = jobs.get()
      val ids = spark.read.parquet(dir).select("id").collect()
        .map(_.getLong(0)).toSet
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      (n, ids)
    }
    val below = PartitionedStore.BulkThreshold - 1
    val (jobsPer, idsPer) = run(below)
    val (jobsBulk, idsBulk) = run(PartitionedStore.BulkThreshold)
    assert(idsPer == idsBulk && idsBulk == (0L until 80L).filter(_ % 2 == 0).toSet)
    assert(jobsPer >= below, s"pooled path should run a job per partition, saw $jobsPer")
    assert(jobsBulk < jobsPer,
      s"bulk path must collapse per-partition jobs: bulk $jobsBulk vs pooled $jobsPer")
  }

  test("compact's bulk arm equals the pooled path: one file per partition, same rows") {
    import spark.implicits._
    // value counts on each side of PartitionedStore.BulkThreshold pick
    // the arm; each arm must keep every row and leave one file per
    // partition
    def run(cells: Int): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft_bulkcomp").toString
      // three separate appends → ≥3 files per partition
      val written = for (batch <- 0 until 3; i <- 0L until 40L)
        yield (batch * 100L + i, i % cells, s"v$batch-$i")
      for (batch <- 0 until 3)
        written.filter(_._1 / 100 == batch).toDF("id", "cell", "payload")
          .repartition(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(dir)
      val done = PartitionedStore.compact(spark,
        new org.apache.hadoop.fs.Path(dir), "cell", minFiles = 2)
      assert(done.toSet == (0 until cells).map(_.toString).toSet)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val filesPerPart = (0 until cells).map { c =>
        fs.listStatus(new org.apache.hadoop.fs.Path(dir, s"cell=$c"))
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }
      val rows = spark.read.parquet(dir).select("id", "payload")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      assert(rows == written.map(w => (w._1, w._3)).toSet && rows.size == 120,
        s"cells=$cells lost or changed rows")
      // compaction's contract either way: exactly one file per partition
      assert(filesPerPart.forall(_ == 1), s"cells=$cells files per partition $filesPerPart")
    }
    run(PartitionedStore.BulkThreshold - 1)
    run(PartitionedStore.BulkThreshold)
  }

  test("recover heals a crash between bulk-swap renames and drops the bulk staging") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bulkcrash").toString
    (0L until 40L).map(i => (i, i % 4, s"v$i")).toDF("id", "cell", "payload")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a bulk vacuum that died right after parking cell=1:
    // live dir renamed to .old-1, staging tree still on disk
    require(fs.rename(new org.apache.hadoop.fs.Path(dir, "cell=1"),
      new org.apache.hadoop.fs.Path(dir, ".old-1")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, ".compact-bulkvac/cell=1"))
    PartitionedStore.recover(fs, root, "cell")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "cell=1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".old-1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".compact-bulkvac")))
    // every row reachable again — the tombstones were never retired,
    // so a retried vacuum re-applies them idempotently
    assert(spark.read.parquet(dir).count() == 40L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("footerCounts equals a data scan's per-partition counts") {
    val dir = store()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = PartitionedStore.partitions(fs, root, "cell").flatMap { pd =>
      val v = pd.getName.stripPrefix("cell=")
      fs.listStatus(pd).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (v, f.getPath.toString))
    }
    val fromFooters = PartitionedStore.footerCounts(spark, files)
    val fromScan = spark.read.parquet(dir).groupBy("cell").count()
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    assert(fromFooters == fromScan)
    assert(PartitionedStore.footerCounts(spark, Seq.empty) == Map.empty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("indexStats planning launches no partition-discovery listing job past 32 partitions") {
    import graft.functions.AnnIndex
    import scala.collection.mutable
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = e.filter(col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("graft_stats_disc").toString
    // 40 cells > spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    AnnIndex.ivfIndexSave(corpus, "vec_id", "embedding", cells = 40, dir = dir)

    val descs = mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        descs.synchronized { descs += d }
      }
    }
    def listingJobs(body: => Unit, pollForHit: Boolean): Seq[String] = {
      descs.synchronized(descs.clear())
      spark.sparkContext.addSparkListener(listener)
      // the listener bus is async and its public API has no flush.
      // Job-START events post before the body's collect() returns, but
      // DRAIN asynchronously: when the arm expects a hit, poll with a
      // deadline (a loaded machine can outlast any one fixed sleep —
      // ADVICE r14); when it expects silence, a settle sleep is the
      // only option (can't poll for absence).
      try {
        body
        if (pollForHit) {
          val deadline = System.nanoTime() + 5000000000L
          while (System.nanoTime() < deadline &&
              descs.synchronized(!descs.exists(_.contains("Listing leaf files"))))
            Thread.sleep(100)
        } else Thread.sleep(500)
      } finally spark.sparkContext.removeSparkListener(listener)
      descs.synchronized(descs.filter(_.contains("Listing leaf files")).toSeq)
    }

    // detector sanity: the full-tree read this replaced DOES launch one
    val before = listingJobs({
      spark.read.parquet(s"$dir/codes").groupBy("cell").count().collect()
    }, pollForHit = true)
    assert(before.nonEmpty,
      "detector check: a 40-partition full-tree read should launch a listing job")
    val after = listingJobs({
      assert(AnnIndex.indexStats(spark, dir).count() == 40)
    }, pollForHit = false)
    assert(after.isEmpty,
      s"indexStats must not launch a partition-discovery listing job, saw: $after")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
