package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BandIndex, DedupFunctions}

/** The persisted band index against its in-session oracle
  * (incrementalNearDuplicates) plus the crash/maintenance pins the
  * AnnIndex family established — the disk layout must never change
  * WHAT pairs come back, only where the corpus side is served from. */
class BandIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("a", "b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("probe equals the in-session incremental path exactly") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_band_probe").toString
    BandIndex.save(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, dir = dir)
    val batch = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
    val persisted = pairSet(BandIndex.probe(spark, dir, batch,
      "doc_id", "text", threshold = 0.8))
    val inSession = pairSet(DedupFunctions.incrementalNearDuplicates(
      docs, batch, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8))
    assert(persisted == inSession,
      "disk-served probe must return the exact in-session pair set")
    assert(persisted.nonEmpty, "planted copies must surface as pairs")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a meta naming another hash family is refused with the store dir; md5 or no family column reads as before") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("graft_band_family").toString
    BandIndex.save(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, dir = dir)
    val batch = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
    def probe() = pairSet(BandIndex.probe(spark, dir, batch, "doc_id", "text", threshold = 0.8))
    val expected = probe()
    assert(expected.nonEmpty)
    // the meta an older build wrote: the same row plus hashFamily
    def writeOldMeta(family: String): Unit =
      Seq((3, 64, 16, family, 2, 64))
        .toDF("shingleN", "numHashes", "bands", "hashFamily", "prefixLen", "idBuckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    writeOldMeta("md5")
    assert(probe() == expected)
    writeOldMeta("xxh64")
    val e = intercept[IllegalArgumentException](probe())
    assert(e.getMessage.contains(dir) && e.getMessage.contains("xxh64"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("tagged replay converges; compaction folds files and changes nothing; crash mid-swap heals on every entry") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 120)
    val dir = java.nio.file.Files.createTempDirectory("graft_band_crash").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    BandIndex.save(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, dir = dir)
    def postings() = spark.read.parquet(s"$dir/bands").count()
    def shRows() = spark.read.parquet(s"$dir/shingles").count()
    val base = (postings(), shRows())

    // tagged replay: same tag twice -> exactly one copy in BOTH stores
    val b1 = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 50000L).as("doc_id"), col("text"))
    BandIndex.addBatchTagged(spark, dir, b1, "doc_id", "text", tag = "t1")
    val once = (postings(), shRows())
    BandIndex.addBatchTagged(spark, dir, b1, "doc_id", "text", tag = "t1")
    assert((postings(), shRows()) == once,
      "tagged replay must converge to exactly one copy in both stores")
    assert(once._1 > base._1 && once._2 > base._2)

    val probeB = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 60000L).as("doc_id"), col("text"))
    def probed() = BandIndex.probe(spark, dir, probeB, "doc_id", "text", 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pBefore = probed()
    assert(pBefore.nonEmpty)

    // compaction: flagged partitions fold to one file, rows conserved,
    // probe identical
    val compacted = BandIndex.compact(spark, dir, minFiles = 2)
    assert(compacted.nonEmpty, "ingest must have produced multi-file partitions")
    compacted.foreach { case (store, v) =>
      val partCol = if (store == "bands") "bucket" else "sbucket"
      val n = fs.listStatus(new Path(s"$dir/$store/$partCol=$v"))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      assert(n == 1, s"$store/$partCol=$v not single-file after compact")
    }
    assert((postings(), shRows()) == once, "compaction must conserve rows")
    assert(probed() == pBefore, "compaction changed probe results")

    // crash mid-swap: live bucket parked in backup + a stale staging
    // leak. Read entry points MUST NOT repair (to a reader this is
    // indistinguishable from a compact in flight right now — ADVICE
    // r14); stats and probe read THROUGH the orphaned backup instead
    val victim = fs.listStatus(new Path(s"$dir/bands"))
      .filter(_.getPath.getName.startsWith("bucket=")).head.getPath
    val v = victim.getName.stripPrefix("bucket=")
    fs.rename(victim, new Path(s"$dir/bands/.old-$v"))
    fs.mkdirs(new Path(s"$dir/bands/.compact-$v"))
    assert(BandIndex.stats(spark, dir).agg(sum("n_postings")).head.getLong(0)
      == once._1, "stats must read through the mid-swap bucket")
    // prefix stats ≡ full stats filtered to the prefix — including the
    // mid-swap bucket when the prefix covers it (read-through holds)
    val pfx = v.take(1)
    val fullPfx = BandIndex.stats(spark, dir)
      .filter(col("bucket").startsWith(pfx))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val direct = BandIndex.stats(spark, dir, prefix = Some(pfx))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(direct == fullPfx && direct.nonEmpty,
      "prefix stats must equal full stats filtered to the prefix")
    assert(probed() == pBefore, "probe must read through the mid-swap bucket")
    assert(fs.exists(new Path(s"$dir/bands/.old-$v")) &&
      fs.exists(new Path(s"$dir/bands/.compact-$v")) &&
      !fs.exists(new Path(s"$dir/bands/bucket=$v")),
      "a read entry point must not mutate the store")
    // the next WRITE entry point heals — a no-op compact pass suffices
    BandIndex.compact(spark, dir, minFiles = 999)
    assert(!fs.exists(new Path(s"$dir/bands/.old-$v")) &&
      !fs.exists(new Path(s"$dir/bands/.compact-$v")) &&
      fs.exists(new Path(s"$dir/bands/bucket=$v")))
    assert(probed() == pBefore, "healed index must probe identically")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("rebucket: probe equality through split, nested split, post-split ingest routing") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_band_rebucket").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    BandIndex.save(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, dir = dir, prefixLen = 1)
    val probeB = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
    def probed() = pairSet(BandIndex.probe(spark, dir, probeB, "doc_id", "text", 0.8))
    def postings() = spark.read.parquet(s"$dir/bands").count()
    val (p0, n0) = (probed(), postings())
    assert(p0.nonEmpty)

    // split hot bucket "a" by one more hex char
    BandIndex.rebucket(spark, dir, "a", extraLen = 1)
    assert(!fs.exists(new Path(s"$dir/bands/bucket=a")), "base dir must retire")
    val splitDirs = fs.listStatus(new Path(s"$dir/bands"))
      .map(_.getPath.getName).filter(d => d.startsWith("bucket=a") && d.length == 9)
    assert(splitDirs.nonEmpty, "split dirs bucket=aX must exist")
    assert(postings() == n0, "rebucket must conserve postings exactly")
    assert(probed() == p0, "probe must be identical after rebucket")

    // nested: split one of the split dirs again (rebucket composes)
    val sub = splitDirs.head.stripPrefix("bucket=")
    BandIndex.rebucket(spark, dir, sub, extraLen = 1)
    assert(postings() == n0 && probed() == p0, "nested rebucket must change nothing")

    // ingest after the splits routes keys to their deepest live dir
    // (keys whose split sub-dir is absent fall back to the base bucket,
    // which may legitimately recreate it — and it can be re-split)
    val filesIn = fs.listStatus(new Path(s"$dir/bands"))
      .filter(_.getPath.getName.startsWith("bucket=a"))
      .map(st => st.getPath.getName ->
        fs.listStatus(st.getPath).count(_.getPath.getName.endsWith(".parquet"))).toMap
    val b1 = docs.filter(col("doc_id") < 40)
      .select((col("doc_id") + 50000L).as("doc_id"), col("text"))
    BandIndex.addBatch(spark, dir, b1, "doc_id", "text")
    val grown = fs.listStatus(new Path(s"$dir/bands"))
      .filter(st => st.getPath.getName.startsWith("bucket=a") &&
        st.getPath.getName.length > "bucket=a".length)
      .count(st => fs.listStatus(st.getPath).count(_.getPath.getName.endsWith(".parquet"))
        > filesIn.getOrElse(st.getPath.getName, 0))
    assert(grown > 0, "ingest must route postings into the split dirs")
    // and the ingested docs are probe-visible (exact in-session equality)
    val p1 = pairSet(BandIndex.probe(spark, dir, probeB, "doc_id", "text", 0.8))
    val inSession = pairSet(DedupFunctions.incrementalNearDuplicates(
      docs.unionByName(b1), probeB, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8))
    assert(p1 == inSession, "post-split ingest + probe must equal the in-session path")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("wide rebucketing: ~50+ splits keep probe equality and a BOUNDED routing expression") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_band_wide").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    BandIndex.save(docs, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, dir = dir, prefixLen = 1)
    val probeB = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
    def probed() = pairSet(BandIndex.probe(spark, dir, probeB, "doc_id", "text", 0.8))
    def postings() = spark.read.parquet(s"$dir/bands").count()
    val (p0, n0) = (probed(), postings())
    assert(p0.nonEmpty)

    // split EVERY base bucket — the broad-rebucket regime the valve was
    // not built for but must survive — then nest one split deeper
    val baseBuckets = fs.listStatus(new Path(s"$dir/bands"))
      .map(_.getPath.getName).filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=")).filter(_.length == 1).sorted
    baseBuckets.foreach(b => BandIndex.rebucket(spark, dir, b, extraLen = 1))
    val deeper = fs.listStatus(new Path(s"$dir/bands"))
      .map(_.getPath.getName).filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=")).filter(_.length > 1)
    assert(deeper.length >= 50, s"fixture must create a WIDE split set, got ${deeper.length}")
    BandIndex.rebucket(spark, dir, deeper.head, extraLen = 1)
    assert(postings() == n0, "wide rebucketing must conserve postings")
    assert(probed() == p0, "probe must be identical across a wide split set")

    // the ingest routing expression stays BOUNDED: one branch per
    // distinct split depth (here 2), never one per split value
    val meta = BandIndex.readMeta(spark, dir)
    val shDF = docs.limit(5).select(col("doc_id").as("id"),
      DedupFunctions.wordShingles(col("text"), 3).as("sh"))
    val plan = BandIndex.bandedRouted(spark, dir, shDF, meta)
      .queryExecution.analyzed.toString
    val whens = "WHEN ".r.findAllIn(plan).length
    assert(whens <= 8,
      s"routing must be per-depth, not per-split (saw $whens WHEN branches " +
        s"for ${deeper.length + 15} split dirs):\n${plan.take(2000)}")

    // ingest still routes and probes exactly
    val b1 = docs.filter(col("doc_id") < 40)
      .select((col("doc_id") + 50000L).as("doc_id"), col("text"))
    BandIndex.addBatch(spark, dir, b1, "doc_id", "text")
    val p1 = pairSet(BandIndex.probe(spark, dir, probeB, "doc_id", "text", 0.8))
    val inSession = pairSet(DedupFunctions.incrementalNearDuplicates(
      docs.unionByName(b1), probeB, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, threshold = 0.8))
    assert(p1 == inSession, "post-wide-split ingest + probe must equal the in-session path")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("rebucket crash heals on the next write entry: uncommitted scrubs, committed completes; mid-flight reads stay correct") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 150)
    val dir = java.nio.file.Files.createTempDirectory("graft_band_rbcrash").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    BandIndex.save(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, dir = dir, prefixLen = 1)
    val probeB = docs.filter(col("doc_id") < 15)
      .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
    def probed() = pairSet(BandIndex.probe(spark, dir, probeB, "doc_id", "text", 0.8))
    def postings() = spark.read.parquet(s"$dir/bands").count()
    val (p0, n0) = (probed(), postings())
    assert(p0.nonEmpty)

    // (a) UNCOMMITTED crash: split files fully moved in, base dir still
    // live, marker present — exactly the state before the commit
    // rename. Simulate by doing the split's file moves by hand.
    val victim = "b"
    val gen = 12345L
    val tag = s"rebucket-$victim-$gen"
    fs.create(new Path(s"$dir/bands/.rebucket-inflight-$victim-$gen"), true).close()
    val staged = s"$dir/.staging-$tag"
    spark.read.parquet(s"$dir/bands/bucket=$victim")
      .select(col("id"), col("band"),
        substring(col("band"), 1, 2).as("bucket"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(staged)
    graft.functions.PartitionedStore.moveStagedTagged(fs,
      new Path(staged), new Path(s"$dir/bands"), "bucket", tag)
    spark.catalog.refreshByPath(dir)
    // mid-flight READ: postings are duplicated on disk, but candidate
    // dedup keeps the verified pairs exact — and the read must NOT heal
    assert(probed() == p0, "mid-flight probe must be exact despite duplicate postings")
    assert(fs.exists(new Path(s"$dir/bands/.rebucket-inflight-$victim-$gen")),
      "a read entry point must not touch the in-flight marker")
    assert(postings() > n0, "precondition: duplicates on disk")
    // next WRITE entry heals: scrub the uncommitted split
    BandIndex.compact(spark, dir, minFiles = 1000)
    assert(!fs.exists(new Path(s"$dir/bands/.rebucket-inflight-$victim-$gen")))
    assert(postings() == n0, "uncommitted split must be scrubbed exactly")
    assert(probed() == p0)

    // (b) COMMITTED crash: base dir renamed to .retired- but not yet
    // deleted, marker present — run the real rebucket up to its delete
    // by replaying the tail by hand.
    val gen2 = 23456L
    val tag2 = s"rebucket-$victim-$gen2"
    fs.create(new Path(s"$dir/bands/.rebucket-inflight-$victim-$gen2"), true).close()
    val staged2 = s"$dir/.staging-$tag2"
    spark.read.parquet(s"$dir/bands/bucket=$victim")
      .select(col("id"), col("band"),
        substring(col("band"), 1, 2).as("bucket"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(staged2)
    graft.functions.PartitionedStore.moveStagedTagged(fs,
      new Path(staged2), new Path(s"$dir/bands"), "bucket", tag2)
    assert(fs.rename(new Path(s"$dir/bands/bucket=$victim"),
      new Path(s"$dir/bands/.retired-$victim")))
    spark.catalog.refreshByPath(dir)
    // committed-but-unfinished: live tree already has exactly one copy
    assert(postings() == n0)
    assert(probed() == p0, "post-commit crash state must probe exactly")
    BandIndex.addBatch(spark, dir,
      docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 90000L).as("doc_id"), col("text")),
      "doc_id", "text")
    assert(!fs.exists(new Path(s"$dir/bands/.retired-$victim")),
      "the next write entry must finish the committed delete")
    assert(!fs.exists(new Path(s"$dir/bands/.rebucket-inflight-$victim-$gen2")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("same-session save-overwrite rep loop never serves a stale listing") {
    // the bench rep loop that flaked once in 160 queries: rep N's
    // save(overwrite) deletes rep N-1's files, and without the
    // entry-point refresh (PartitionedStore.refresh) the session's
    // FileStatusCache could hand rep N's probe the dead listing →
    // FILE_NOT_EXIST at execution. Three full save→probe reps over the
    // SAME dir must agree and never throw.
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_band_reps").toString
    val batch = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
    val reps = (1 to 3).map { _ =>
      BandIndex.save(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, dir = dir)
      val p = pairSet(BandIndex.probe(spark, dir, batch,
        "doc_id", "text", threshold = 0.8))
      BandIndex.compact(spark, dir, minFiles = 2)
      p
    }
    assert(reps.distinct.size == 1, "every rep must return the same pair set")
    assert(reps.head.nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("stats across a crashed rebucket: uncommitted tagged files are excluded, never double-counted") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_band_crashstats").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    BandIndex.save(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, dir = dir, prefixLen = 1)
    val total0 = BandIndex.stats(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_postings")).head().getLong(0)

    // simulate a rebucket of bucket "a" that crashed AFTER staging its
    // tagged split files but BEFORE retiring the base dir: marker
    // present, base dir live, a deeper dir holding a tagged copy
    val base = new Path(s"$dir/bands/bucket=a")
    assume(fs.exists(base), "fixture needs bucket=a")
    val srcFile = fs.listStatus(base)
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val split = new Path(s"$dir/bands/bucket=a0")
    fs.mkdirs(split)
    org.apache.hadoop.fs.FileUtil.copy(fs, srcFile, fs,
      new Path(split, "rebucket-a-7-0.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(s"$dir/bands/.rebucket-inflight-a-7"), true).close()

    // stats reads THROUGH the crash remnants: same total, no mutation
    val statsAcross = BandIndex.stats(spark, dir)
    val totalAcross = statsAcross
      .agg(org.apache.spark.sql.functions.sum("n_postings")).head().getLong(0)
    assert(totalAcross == total0,
      s"stats must exclude the uncommitted tag: $totalAcross vs $total0")
    assert(fs.exists(new Path(s"$dir/bands/.rebucket-inflight-a-7")) &&
      fs.exists(new Path(split, "rebucket-a-7-0.parquet")),
      "stats is a reader: the crash remnants must be untouched")

    // the next WRITE entry point heals for real (scrubs the tag) and
    // the total is unchanged again
    BandIndex.compact(spark, dir, minFiles = 1000) // write entry, no-op compaction
    assert(!fs.exists(new Path(s"$dir/bands/.rebucket-inflight-a-7")),
      "write entry must drop the crashed op's marker")
    assert(!fs.exists(new Path(split, "rebucket-a-7-0.parquet")),
      "write entry must scrub the uncommitted tagged file")
    val totalHealed = BandIndex.stats(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_postings")).head().getLong(0)
    assert(totalHealed == total0)

    // crash AFTER the commit point: the base dir was retired (renamed
    // to .retired-) but the delete and marker cleanup never ran. The
    // tagged split files are now the committed copy — stats must count
    // THEM (fs.exists(base) gates the exclusion) and ignore the
    // retired remnant, again totalling exactly once.
    val base2 = new Path(s"$dir/bands/bucket=b")
    assume(fs.exists(base2), "fixture needs bucket=b")
    val split2 = new Path(s"$dir/bands/bucket=b0")
    fs.mkdirs(split2)
    fs.listStatus(base2)
      .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex
      .foreach { case (f, i) =>
        assert(fs.rename(f.getPath, new Path(split2, s"rebucket-b-9-$i.parquet")))
      }
    assert(fs.rename(base2, new Path(s"$dir/bands/.retired-b")))
    fs.create(new Path(s"$dir/bands/.rebucket-inflight-b-9"), true).close()
    val totalCommitted = BandIndex.stats(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_postings")).head().getLong(0)
    assert(totalCommitted == total0,
      s"post-commit crash: tagged files counted once, retired dir ignored " +
        s"($totalCommitted vs $total0)")
    // and the write-entry heal finishes the delete without changing totals
    BandIndex.compact(spark, dir, minFiles = 1000)
    assert(!fs.exists(new Path(s"$dir/bands/.retired-b")) &&
      !fs.exists(new Path(s"$dir/bands/.rebucket-inflight-b-9")),
      "write entry must finish the committed rebucket's cleanup")
    assert(BandIndex.stats(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_postings")).head().getLong(0) == total0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("vacuum does not re-list the tombstone batches it retired") {
    // Spark's file listing warns "The directory <path> was not found"
    // when a cached relation over a renamed-away dir is refreshed:
    // the vacuum must release its tombstone relation before the
    // refresh that follows the retire renames
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("graft_band_relist").toString
    BandIndex.save(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, dir = dir)
    BandIndex.deleteIds(spark, dir, docs.filter(col("doc_id") % 7 === 3), "doc_id", "del-1")
    val logger = LogManager.getLogger("org.apache.spark.util.HadoopFSUtils")
      .asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("graft-relist-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    try assert(BandIndex.vacuumDeletes(spark, dir).nonEmpty)
    finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
    val relisted = seen.toArray.map(_.toString).filter(_.contains("tombstones"))
    assert(relisted.isEmpty, s"retired tombstone batches re-listed: ${relisted.toSeq}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("tombstone deletes: mask = rebuilt-without = vacuum, through a rebucket-deepened store") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_band_del").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft_band_del_ref").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def save(src: org.apache.spark.sql.DataFrame, to: String): Unit =
      BandIndex.save(src, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, dir = to,
        prefixLen = 1, idBuckets = 8)
    save(docs, dir)
    // deepen the hottest bucket BEFORE deleting: the vacuum's band
    // rewrite must route the deleted docs' keys through the split
    val hot = BandIndex.stats(spark, dir)
      .orderBy(col("n_postings").desc, col("bucket")).select("bucket")
      .head().getString(0)
    BandIndex.rebucket(spark, dir, hot, extraLen = 1)
    val del = docs.filter(col("doc_id") % 9 === 4)
    save(docs.join(del.select("doc_id"), Seq("doc_id"), "left_anti"), dir2)
    val batch = docs.filter(col("doc_id") < 30)
      .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
    def probeOf(d: String) = pairSet(
      BandIndex.probe(spark, d, batch, "doc_id", "text", threshold = 0.8))
    val fullWant = probeOf(dir)
    val want = probeOf(dir2)
    assert(want != fullWant, "sanity: the delete set changes at least one pair")
    BandIndex.deleteIds(spark, dir, del.select("doc_id"), "doc_id", "b1")
    BandIndex.deleteIds(spark, dir, del.select("doc_id"), "doc_id", "b1") // replay
    assert(probeOf(dir) == want, "tombstone mask must equal the rebuilt-without store")
    val delIdSet = del.select("doc_id").collect().map(_.getLong(0)).toSet
    def storeCounts(): (Long, Long, Long, Long) = {
      val b = spark.read.parquet(s"$dir/bands").select("id").collect().map(_.getLong(0))
      val sh = spark.read.parquet(s"$dir/shingles").select("id").collect().map(_.getLong(0))
      (b.length.toLong, b.count(delIdSet).toLong,
        sh.length.toLong, sh.count(delIdSet).toLong)
    }
    val (bandsBefore, bandsDel, shBefore, shDel) = storeCounts()
    assert(bandsDel > 0 && shDel > 0, "fixture must actually index the delete set")
    val rewrote = BandIndex.vacuumDeletes(spark, dir)
    assert(rewrote.nonEmpty)
    val (bandsAfter, bandsDelAfter, shAfter, shDelAfter) = storeCounts()
    assert(bandsAfter == bandsBefore - bandsDel && bandsDelAfter == 0,
      "postings must shrink by exactly the deleted docs' rows")
    assert(shAfter == shBefore - shDel && shDelAfter == 0,
      "shingle rows must shrink by exactly the deleted docs' rows")
    // applied batches are PARKED as .retired- (a reader planned
    // before the vacuum may still hold their file paths), invisible
    // to the live listing; the next WRITE entry sweeps the files
    assert(fs.listStatus(new Path(s"$dir/tombstones"))
        .forall(_.getPath.getName.startsWith(".retired-")),
      "applied tombstone batches must leave the live listing")
    BandIndex.compact(spark, dir, minFiles = 1000) // write entry: sweep
    assert(!fs.exists(new Path(s"$dir/tombstones")) ||
      fs.listStatus(new Path(s"$dir/tombstones")).isEmpty,
      "the next write entry must sweep the parked batches")
    assert(probeOf(dir) == want, "post-vacuum probe must equal the masked probe")
    assert(BandIndex.vacuumDeletes(spark, dir).isEmpty, "nothing left to vacuum")
    // rebuild clears committed AND staged tombstones
    BandIndex.deleteIds(spark, dir, del.select("doc_id"), "doc_id", "b2")
    docs.limit(3).select(col("doc_id").as("__tomb_id"))
      .write.mode("overwrite").parquet(s"$dir/.staging-del-crashX")
    save(docs, dir)
    assert(probeOf(dir) == fullWant,
      "a rebuilt store must serve the full corpus again")
    assert(!fs.exists(new Path(s"$dir/.staging-del-crashX")))
    assert(!fs.exists(new Path(s"$dir/tombstones")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
  }

  test("store calls run every job under the caller's job group, nested fan-out included") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 40)
    val dir = java.nio.file.Files.createTempDirectory("graft_band_pool").toString
    // 256 postings buckets over a few hundred postings: many buckets
    // hold a single doc, so deleting one bucket's docs empties it
    BandIndex.save(docs.filter(col("doc_id") < 30), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, dir = dir, prefixLen = 2)
    val batch = docs.filter(col("doc_id") >= 30)
      .select((col("doc_id") + 50000L).as("doc_id"), col("text"))

    val group = "store-pool-test"
    val groups = java.util.Collections.synchronizedList(new java.util.ArrayList[String])
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    // listener events arrive in order: once a sentinel job is seen,
    // every job started before it has been recorded
    def drain(sentinel: String): Unit = {
      sc.setJobGroup(sentinel, sentinel, interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(groups.contains(sentinel), "listener never drained")
    }
    var emptied = ""
    sc.addSparkListener(listener)
    try {
      drain("before")
      groups.clear()
      // a fresh thread, so a deadlock fails the test instead of hanging it
      Await.result(Future {
        sc.setJobGroup(group, "band ingest + vacuum", interruptOnCancel = false)
        try {
          BandIndex.addBatchTagged(spark, dir, batch, "doc_id", "text", tag = "p1")
          val byBucket = spark.read.parquet(s"$dir/bands").select("id", "bucket")
            .collect().groupBy(_.getString(1))
            .map { case (b, rs) => b -> rs.map(_.getLong(0)).toSet }
          emptied = byBucket.minBy { case (b, ids) => (ids.size, b) }._1
          // plus one doc from another shingle bucket: then the shingle
          // rewrite fans out too, and both vacuum branches wait on
          // nested work at once (what deadlocks a small fixed pool)
          val sbucket = spark.read.parquet(s"$dir/shingles").select("id", "sbucket")
            .collect().map(r => r.getLong(0) -> r.get(1).toString).toMap
          val del = byBucket(emptied) + sbucket.collectFirst {
            case (id, sb) if !byBucket(emptied).exists(sbucket(_) == sb) => id }.get
          assert(byBucket.count(_._2.exists(del)) >= 8,
            "fixture: the vacuum must take the bulk arm (>= 8 touched buckets)")
          BandIndex.deleteIds(spark, dir,
            spark.range(1).select(explode(typedLit(del.toSeq)).as("doc_id")), "doc_id", "d1")
          BandIndex.vacuumDeletes(spark, dir)
        } finally sc.clearJobGroup()
      }(scala.concurrent.ExecutionContext.global), 5.minutes)
      drain("after")
    } finally sc.removeSparkListener(listener)
    val calls = groups.toArray.map(_.toString).toSeq.filterNot(_ == "after")
    assert(calls.nonEmpty && calls.forall(_ == group),
      s"jobs outside the caller's group: ${calls.filterNot(_ == group)}")
    // the fully tombstoned bucket went through the nested per-bucket
    // rewrite, which keeps it as an empty schema-bearing dir
    assert(spark.read.parquet(s"$dir/bands/bucket=$emptied").count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("vacuum crash after the shingle rewrite committed: the retry still reclaims the postings") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 120)
    val dir = FaultyFs.tempDir(spark, "graft_band_vac_crash")
    BandIndex.save(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, dir = dir)
    val batch = docs.filter(col("doc_id") < 30)
      .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
    def probe() = pairSet(BandIndex.probe(spark, dir, batch, "doc_id", "text", threshold = 0.8))
    val del = docs.filter(col("doc_id") % 5 === 1).select("doc_id")
    val delIds = del.collect().map(_.getLong(0)).toSet
    def ids(sub: String) =
      spark.read.parquet(s"$dir/$sub").select("id").collect().map(_.getLong(0)).toSet
    BandIndex.deleteIds(spark, dir, del, "doc_id", "d1")
    val masked = probe()
    assert(ids("bands").exists(delIds), "fixture must index the delete set")
    // the band rewrite fails; its concurrent twin runs to completion
    FaultyFs.failingRenamesUnder("/bands/") {
      intercept[Exception](BandIndex.vacuumDeletes(spark, dir))
    }
    assert(!ids("shingles").exists(delIds), "the shingle rewrite committed before the crash")
    BandIndex.vacuumDeletes(spark, dir)
    assert(!ids("bands").exists(delIds), "the retry must reclaim every deleted doc's postings")
    assert(probe() == masked, "the vacuumed store must serve the masked pairs")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(new java.net.URI(dir).getPath))
  }

  test("a write entry sweeps the staging dirs of crashed untagged ingests, in both stores") {
    import graft.functions.AnnIndex
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 60)
    val e = Tables.embeddings(spark, sf)
    val band = java.nio.file.Files.createTempDirectory("graft_sweep_band").toString
    val ann = java.nio.file.Files.createTempDirectory("graft_sweep_ann").toString
    BandIndex.save(docs, "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16, dir = band)
    AnnIndex.ivfIndexSave(e, "vec_id", "embedding", cells = 8, dir = ann)
    val batch = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
    val q = e.filter(col("vec_id") < 8)
    def probes() = (
      BandIndex.probe(spark, band, batch, "doc_id", "text", threshold = 0.8)
        .collect().map(_.toSeq).toSet,
      AnnIndex.probe(spark, ann, q, "vec_id", "embedding", 5, 2).collect().map(_.toSeq).toSet)
    val want = probes()
    val fs = new Path(band).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // what a crash mid-write of an untagged ingest leaves behind
    val planted = Seq(
      new Path(s"$band/.staging-bands-add-${java.util.UUID.randomUUID}"),
      new Path(s"$ann/.staging-codes-add-${java.util.UUID.randomUUID}"))
    planted.foreach(p => spark.range(3).write.parquet(s"$p/bucket=0"))
    assert(planted.forall(fs.exists))
    BandIndex.compact(spark, band, minFiles = 1000) // write entries
    AnnIndex.compactCells(spark, ann, minFiles = 1000)
    assert(!planted.exists(fs.exists), "write-entry recovery must drop crashed stagings")
    assert(probes() == want, "sweeping the stagings must not change a probe")
    Seq(band, ann).foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }
}
