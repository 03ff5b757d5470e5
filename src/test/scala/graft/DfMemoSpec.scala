package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The query packs' one memo table ([[DfMemo]]): a release frees every
  * entry the memoizing queries built, and an entry never outlives the
  * session it was built under. */
class DfMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  private def bandIdxDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .map(_.filter(_.startsWith("graft_band_idx_")).toSet).getOrElse(Set.empty)

  test("releaseCaches frees every memo entry, band probe cuts and index dirs included") {
    val sc = spark.sparkContext
    val cm = spark.sharedState.cacheManager
    SparkEntry.releaseCaches()
    spark.catalog.clearCache() // earlier suites' persisted frames
    val (rddsBefore, dirsBefore) = (sc.getPersistentRDDs.keySet, bandIdxDirs())
    Seq("d2_minhash_lsh", "d6_dedup_pipeline", "x18_winnowing", "fm10_permute",
      "u11_gradx", "d16_band_index_persisted")
      .foreach(q => SparkEntry.queries(q)(spark, d).count())
    val added = sc.getPersistentRDDs.keySet -- rddsBefore
    val newDirs = bandIdxDirs() -- dirsBefore
    assert(!cm.isEmpty && added.nonEmpty && newDirs.nonEmpty,
      "the run must leave memo entries to free")
    SparkEntry.releaseCaches()
    assert(cm.isEmpty)
    // the registry holds its RDDs weakly, so compare against what the
    // run added rather than the whole key set
    assert((sc.getPersistentRDDs.keySet & added).isEmpty,
      s"still registered: ${sc.getPersistentRDDs.keySet & added}")
    assert((bandIdxDirs() & newDirs).isEmpty, s"index dirs left: ${bandIdxDirs() & newDirs}")
  }

  test("an entry built under one session is rebuilt, not served, under another") {
    val other = spark.newSession()
    def cached(df: org.apache.spark.sql.DataFrame) =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    var builds = 0
    def entry(s: SparkSession, n: Long) = DfMemo.persisted("memo_spec", d, s) {
      builds += 1
      s.range(n).toDF().persist()
    }
    val a = entry(spark, 3L)
    assert(entry(spark, 3L) eq a)
    val b = entry(other, 4L)
    assert(builds == 2 && (b ne a) && (b.sparkSession eq other))
    assert(entry(other, 4L) eq b)
    assert(builds == 2)
    // the replaced entry was freed, the live one is cached until release
    assert(!cached(a) && cached(b))
    DfMemo.release()
    assert(!cached(b))
    assert(entry(other, 4L) ne b)
    DfMemo.release()
  }
}
