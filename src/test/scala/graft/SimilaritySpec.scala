package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SimilarityFunctions._
import graft.functions.DedupFunctions._

/** Recall/quality properties of the approximate paths against their
  * exact baselines (sf0.001 fixtures). */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  test("LSH top-k recall vs brute force is reasonable at 4 planes") {
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val exact = bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = lshTopK(e, q, "vec_id", "embedding", k = 5,
        seed = 42L, planes = 4, dim = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 4 planes ≈ 1/16 of the corpus per bucket; random vectors → modest
    // recall by design. The property that matters: buckets are
    // deterministic, candidates are real rows, and recall is nonzero.
    assert(recall > 0.05, s"recall=$recall")
    assert(approx.nonEmpty && approx.forall { case (q2, n) => q2 != n })
  }

  test("sq8TopK: exact ranking on a gap-dominated fixture; high recall on the real corpus") {
    import spark.implicits._
    // designed fixture: inter-vector L2 gaps (>= 1.0) dwarf the max
    // SQ8 dequantization error (range/510 per dim * sqrt(dim) ~= 0.07
    // at range 10), so quantization CANNOT flip the ranking — sq8
    // must equal exact L2 order
    val vecs = (0L until 12L).map(i =>
      (i, Seq.tabulate(4)(dimIdx => (i * (dimIdx + 1)).toFloat / 2f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = sq8TopK(df, df.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 5, dim = 4)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum)
    val want = vecs.drop(1).map(v => (v._1, l2(v._2, vecs.head._2)))
      .sortBy { case (id, dd) => (dd, id) }.take(5).map(_._1)
    assert(got == want, s"got $got want $want")
    // real corpus: SQ8's 8-bit grid is fine enough that recall@5 vs
    // exact L2 stays high (far above the LSH floor)
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val qv = broadcast(q.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__qv")))
    val exact = e.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("__cv"))
      .crossJoin(qv).filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("d", sqrt(graft.expressions.HashExpressions
        .double_l2_squared(col("__qv"), col("__cv"))))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("d"), col("neighbor_id"))))
      .filter(col("rk") <= 5).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val approx = sq8TopK(e, q, "vec_id", "embedding", k = 5, dim = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"sq8 recall=$recall")
  }

  test("probeFiltered: with all cells probed it IS the filtered brute force; k stays filled; the filter bites") {
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ann_filt_spec"
    graft.functions.AnnIndex.ivfIndexSave(e, "vec_id", "embedding",
      cells = 16, dir = dir)
    val allowed = e.filter(col("vec_id") % 2 === 0).select("vec_id")
    // nprobe = cells: no cell approximation left, so the filtered
    // probe must EQUAL brute force over the allowed subset
    val got = graft.functions.AnnIndex.probeFiltered(spark, dir, q,
        "vec_id", "embedding", k = 5, nprobe = 16, allowed, "vec_id")
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val want = bruteForceTopK(e.filter(col("vec_id") % 2 === 0), q,
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want, s"diff: ${(got diff want) ++ (want diff got)}")
    // every neighbor passes the predicate, every query keeps k = 5
    assert(got.forall(_._2 % 2 == 0))
    assert(got.groupBy(_._1).forall(_._2.size == 5))
    // and the constraint actually changes results vs the unfiltered probe
    val unfiltered = graft.functions.AnnIndex.probe(spark, dir, q,
        "vec_id", "embedding", k = 5, nprobe = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(unfiltered.exists(p => p._2 % 2 == 1), "fixture degenerate")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("multi-probe LSH: recall is monotone in probes; probes=1 equals the single-bucket plan") {
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 20)
    val exact = bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(p: Int): Double = {
      val approx = lshTopK(e, q, "vec_id", "embedding", k = 5,
          seed = 42L, planes = 6, dim = 64, probes = p)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val r1 = recallAt(1); val r2 = recallAt(2); val r4 = recallAt(4)
    // widening the probe set only ADDS candidates: recall is monotone,
    // and on this corpus the low-margin flips recover real neighbors
    assert(r1 <= r2 && r2 <= r4, s"r1=$r1 r2=$r2 r4=$r4")
    assert(r4 > r1, s"probes=4 must beat probes=1 here: r1=$r1 r4=$r4")
    // the default equals an explicit probes=1 (the s2-oracle plan)
    val viaDefault = lshTopK(e, q, "vec_id", "embedding", k = 5,
        seed = 42L, planes = 6, dim = 64)
      .select("query_id", "neighbor_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaOne = lshTopK(e, q, "vec_id", "embedding", k = 5,
        seed = 42L, planes = 6, dim = 64, probes = 1)
      .select("query_id", "neighbor_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaDefault == viaOne)
    // knnJoin accepts the same dial
    val g1 = knnJoin(e.filter(col("vec_id") < 100), "vec_id", "embedding",
      k = 3, seed = 42L, planes = 6, dim = 64, probes = 2)
    assert(g1.groupBy("query_id").count().filter(col("count") > 3).count() == 0)
    intercept[IllegalArgumentException] {
      lshProbeBuckets(col("x"), 42L, 6, 64, probes = 8)
    }
  }

  test("NaN-scored vectors are excluded from top-k, not ranked first") {
    import spark.implicits._
    // a NaN component makes every cosine against this vector NaN (a
    // zero-NORM vector instead errors at the division under ANSI mode,
    // so it can never reach the rerank); under the negated-ord heap an
    // unfiltered NaN would rank FIRST — the heap must drop it
    val e = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 50).select("vec_id", "embedding")
    val bad = Seq((99999L, Array.fill(64)(Float.NaN))).toDF("vec_id", "embedding")
    val corpus = e.unionByName(bad)
    val q = e.filter(col("vec_id") < 3)
    val res = bruteForceTopK(corpus, q, "vec_id", "embedding", k = 5).collect()
    assert(!res.exists(_.getLong(1) == 99999L))
    assert(res.forall(r => !r.isNullAt(2) && !r.getDouble(2).isNaN))
    assert(res.count(_.getLong(0) == 0L) == 5) // full k still returned
  }

  test("knnJoin: planted duplicate vectors are each other's rank-1 at score 1") {
    val e = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    // clone vector 0 as id 100000: identical vector -> identical bucket,
    // cosine 1.0 -> mutual rank-1 neighbors
    val clone = e.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val g = knnJoin(e.unionByName(clone), "vec_id", "embedding",
      k = 3, seed = 42L, planes = 6, dim = 64)
    val top = g.filter(col("rank") === 1 &&
        (col("query_id") === 0L || col("query_id") === 100000L))
      .select("query_id", "neighbor_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(top == Set((0L, 100000L, 1.0), (100000L, 0L, 1.0)))
    // k bound respected per query
    val over = g.groupBy("query_id").count().filter(col("count") > 3).count()
    assert(over == 0)
  }

  test("knnJoin agrees with brute force restricted to the query's bucket") {
    val e = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
    val withBucket = e.withColumn("__b",
      lshBucket(col("embedding"), 42L, 6, 64))
    val g = knnJoin(e, "vec_id", "embedding", k = 3, seed = 42L, planes = 6, dim = 64)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    // brute-force the same candidate set for query 0's bucket
    val rows = withBucket.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray, r.getLong(2)))
    val (qid, qv, qb) = rows.find(_._1 == 0L).get
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val expect = rows.filter(r => r._3 == qb && r._1 != qid)
      .map(r => (r._1, BigDecimal(java.math.BigDecimal.valueOf(cos(qv, r._2)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
    expect.zipWithIndex.foreach { case (nid, i) =>
      assert(g.get((0L, i + 1)).contains(nid), s"rank ${i + 1}")
    }
  }

  test("PQ-ADC top-k: codes are deterministic and recall vs brute force is nonzero") {
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val exact = bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = pqTopK(e, q, "vec_id", "embedding", k = 5,
        m = 4, centroids = 16, dim = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = run(); val b = run()
    assert(a == b) // deterministic codebooks + tie-breaks
    // 4 sub-codebooks of 16 over random floats: a coarse quantizer —
    // the property that matters is a real, deterministic, nonzero-
    // recall ranking (cosine-vs-L2 disagreement also caps this)
    val recall = (exact intersect a).size.toDouble / exact.size
    assert(recall > 0.02, s"recall=$recall")
    assert(a.forall { case (qi, n) => qi != n })
  }

  test("IVF-PQ composed top-k: deterministic, k-bounded, nonzero recall vs brute force") {
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val exact = bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = ivfpqTopK(e, q, "vec_id", "embedding", k = 5,
        cells = 16, nprobe = 4, m = 4, codebook = 16, dim = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = run(); val b = run()
    assert(a == b) // deterministic cells + codebooks + tie-breaks
    // double-approximate (cell pruning × coarse 4×16 PQ over random
    // floats, cosine-vs-L2 disagreement): the properties that matter
    // are determinism, the k bound, and real nonzero recall
    val recall = (exact intersect a).size.toDouble / exact.size
    assert(recall > 0.02, s"recall=$recall")
    assert(a.forall { case (qi, n) => qi != n })
    val over = ivfpqTopK(e, q, "vec_id", "embedding", k = 5,
        cells = 16, nprobe = 4, m = 4, codebook = 16, dim = 64)
      .groupBy("query_id").count().filter(col("count") > 5).count()
    assert(over == 0)
  }

  // planted geometry: 4 well-separated cluster directions in R^16,
  // vectors = direction + deterministic small perturbation. Residual
  // coding removes the cell mean, so the codebook spends its entries
  // on the within-cluster variation — the regime where residual
  // quantization earns its keep.
  //
  // dense, distinct cluster means (every PQ block carries mean
  // signal) + per-VECTOR-unique jitter: raw codewords partition
  // across the 4 cluster means (a member only ever matches its own
  // cluster's ~2 seeds → coarse codes), while residual codewords —
  // means removed — form one SHARED jitter codebook all cells draw
  // from: 4× the effective resolution, measurably higher recall.
  // (Jitter keyed by i alone would make residuals identical across
  // clusters and the two modes provably equal — the sharing is the
  // whole effect.)
  private val clusteredDim = 16
  private def clusteredVec(cluster: Int, i: Int): Array[Double] =
    Array.tabulate(clusteredDim) { d =>
      val mean = ((cluster * 5 + d * 3) % 7 - 3) / 3.0
      val jitter = ((((cluster + 4 * i) * 13 + d * 7) % 11) - 5) / 5.0 * 0.2
      mean + jitter
    }

  test("residual IVF-PQ: recall >= raw mode on a clustered fixture; raw mode unchanged by the flag") {
    import spark.implicits._
    val dim = clusteredDim
    def vec(cluster: Int, i: Int): Array[Double] = clusteredVec(cluster, i)
    val rows = (0 until 200).map { id => (id.toLong, vec(id % 4, id / 4).toSeq) }
    val e = rows.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 8)
    val exact = bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(res: Boolean) = ivfpqTopK(e, q, "vec_id", "embedding", k = 5,
        cells = 4, nprobe = 1, m = 4, codebook = 8, dim = dim, residual = res)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = run(res = false)
    val resid = run(res = true)
    val rawRecall = (exact intersect raw).size.toDouble / exact.size
    val residRecall = (exact intersect resid).size.toDouble / exact.size
    // measured 0.575 vs 0.275 on this fixture — the gap IS the shared
    // codebook; assert a real margin, not just >=
    assert(residRecall > rawRecall, s"residual=$residRecall raw=$rawRecall")
    assert(residRecall > 0.4, s"residual recall=$residRecall")
    // the default flag value reproduces the pre-flag behavior bit-for-bit
    val viaDefault = ivfpqTopK(e, q, "vec_id", "embedding", k = 5,
        cells = 4, nprobe = 1, m = 4, codebook = 8, dim = dim)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDefault == raw)
  }

  test("multi-probe × residual IVF-PQ matrix: residual keeps its recall edge at nprobe > 1") {
    import spark.implicits._
    // the production FAISS operating point is residual=true WITH
    // nprobe>1 — the two knobs compose: probing widens the candidate
    // cells, residual coding sharpens the per-cell ADC estimates. The
    // matrix pins that composing them never trades one for the other
    // on the clustered fixture (deterministic data → stable recalls).
    val rows = (0 until 200).map { id =>
      (id.toLong, clusteredVec(id % 4, id / 4).toSeq) }
    val e = rows.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 8)
    val exact = bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(res: Boolean, np: Int): Double = {
      val got = ivfpqTopK(e, q, "vec_id", "embedding", k = 5,
          cells = 4, nprobe = np, m = 4, codebook = 8, dim = clusteredDim,
          residual = res)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val matrix = for (np <- Seq(1, 2); res <- Seq(false, true))
      yield ((np, res), recall(res, np))
    val m = matrix.toMap
    // residual >= raw at EQUAL nprobe, both operating points
    assert(m((1, true)) >= m((1, false)),
      s"nprobe=1: residual=${m((1, true))} raw=${m((1, false))}")
    assert(m((2, true)) >= m((2, false)),
      s"nprobe=2: residual=${m((2, true))} raw=${m((2, false))}")
    // probing a second cell must not cost residual-mode recall on this
    // fixture (cells only ADD ranked candidates; the planted geometry
    // has no adversarial ADC ties)
    assert(m((2, true)) >= m((1, true)),
      s"residual: nprobe2=${m((2, true))} nprobe1=${m((1, true))}")
    // and the composed point stays a real operating point, not a
    // degenerate one
    assert(m((2, true)) > 0.4, s"composed recall=${m((2, true))}")
  }

  test("IVF top-k probes its cells deterministically with nonzero recall") {
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val exact = bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = ivfTopK(e, q, "vec_id", "embedding", k = 5, centroids = 16, nprobe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall > 0.1, s"recall=$recall")
    // deterministic across runs
    val ivf2 = ivfTopK(e, q, "vec_id", "embedding", k = 5, centroids = 16, nprobe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == ivf2)
  }

  test("AnnIndex round-trip: save/load/probe is bit-identical to in-session IVF and IVF-PQ (incl. residual)") {
    import graft.functions.AnnIndex
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val base = java.nio.file.Files.createTempDirectory("graft-annidx").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // flat: build-whole vs build-half-plus-addBatch vs in-session
    val inSession = rows(ivfTopK(e, q, "vec_id", "embedding",
      k = 5, centroids = 16, nprobe = 4))
    AnnIndex.ivfIndexSave(e, "vec_id", "embedding", 16, s"$base/flat")
    assert(rows(AnnIndex.probe(spark, s"$base/flat", q, "vec_id", "embedding",
      5, 4)) == inSession)
    AnnIndex.ivfIndexSave(e.filter(col("vec_id") < 100), "vec_id", "embedding",
      16, s"$base/flat2")
    AnnIndex.addBatch(spark, s"$base/flat2", e.filter(col("vec_id") >= 100),
      "vec_id", "embedding")
    assert(rows(AnnIndex.probe(spark, s"$base/flat2", q, "vec_id", "embedding",
      5, 4)) == inSession)

    // residual IVF-PQ (no gated query covers residual persistence)
    val pqSession = rows(ivfpqTopK(e, q, "vec_id", "embedding", k = 5,
      cells = 8, nprobe = 2, m = 4, codebook = 32, dim = 64, residual = true))
    AnnIndex.ivfpqIndexSave(e.filter(col("vec_id") < 100), "vec_id", "embedding",
      8, 4, 32, 64, residual = true, s"$base/pq")
    AnnIndex.addBatch(spark, s"$base/pq", e.filter(col("vec_id") >= 100),
      "vec_id", "embedding")
    assert(rows(AnnIndex.probe(spark, s"$base/pq", q, "vec_id", "embedding",
      5, 2)) == pqSession)
  }

  test("AnnIndex probe reads only the probed cells' partitions") {
    import graft.functions.AnnIndex
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-annprune").toString + "/idx"
    AnnIndex.ivfIndexSave(e, "vec_id", "embedding", 16, dir)
    val plan = AnnIndex.probe(spark, dir, q, "vec_id", "embedding", 5, 2)
      .queryExecution.executedPlan.toString
    // the partitioned scan must carry the probed-cell partition filter
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition filter on the codes scan:\n$plan")
    val scanned = "cell#\\d+L? IN ".r.findFirstIn(plan)
      .orElse("cell.* IN \\(".r.findFirstIn(plan))
    assert(scanned.nonEmpty || plan.contains("isin") || plan.contains(" IN "),
      s"probed-cell IN-filter missing from plan:\n$plan")
  }

  test("MinHash LSH candidates lose no pair at Jaccard >= 0.8 (complete recall on fixture)") {
    val docs = graft.Tables.documents(spark, sf)
    val lsh = minhashNearDuplicates(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact brute force over all pairs
    val sh = docs.select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
    val brute = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        jaccard(col("x.sh"), col("y.sh")).as("jac"))
      .filter(col("jac") >= 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute, s"lsh=${lsh.size} brute=${brute.size}")
  }

  test("trainedCentroids contracts: iters=0 passthrough, bit-determinism, empty-cluster drop") {
    // The VALUE of training (recall per nprobe) is a property of real
    // data and lives in SCALE.md round 18 (measured with the deleted
    // ProfileKmeansRecall; commit 80a17b0 holds it) — a designed
    // corpus can't pin it without hand-picking a k-means basin (a
    // perfectly symmetric degenerate-seed fixture collapses all
    // centroids to the global mean, measured here before
    // this test was rewritten). What IS pinnable are the CONTRACTS the
    // s18 oracle and ivfIndexSave(trainIters) rely on:
    import graft.functions.SimilarityFunctions.trainedCentroids
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 150).select("vec_id", "embedding")
    // (a) iters = 0 returns exactly the first-C seeds
    val t0 = trainedCentroids(e, "vec_id", "embedding", 8, iters = 0)
    val seeds = graft.functions.SimilarityFunctions
      .collectCentroids(e, "vec_id", "embedding", 8)
    assert(t0.map { case (c, v) => (c, v.toSeq) } ==
      seeds.map { case (c, v) => (c, v.toSeq) })
    // (b) bit-determinism across runs AND parallelism (the integer-
    // micro claim the unrolled oracle depends on)
    val a = trainedCentroids(e, "vec_id", "embedding", 8, iters = 2)
    val b = trainedCentroids(e.repartition(7), "vec_id", "embedding", 8, iters = 2)
    assert(a.map { case (c, v) => (c, v.toSeq) } ==
      b.map { case (c, v) => (c, v.toSeq) },
      "Lloyd steps are not parallelism-invariant")
    // (c) a seed that loses every member to a twin DROPS (GROUP BY
    // emits no row): ids 0 and 1 are the identical vector, so every
    // member ties and the argmax cid tie-break sends all of them to
    // cid 0 — after one step cluster 1 must be gone, and downstream
    // consumers (assignment, ivfIndexSave) accept the shorter list
    val v0 = Seq.fill(4)(1.0f)
    val twin = Seq((0L, v0), (1L, v0), (2L, Seq(1.0f, 0.9f, 0f, 0f)),
      (3L, Seq(0.9f, 1.0f, 0.1f, 0f)))
      .toDF("vec_id", "embedding")
    val dropped = trainedCentroids(twin, "vec_id", "embedding", 2, iters = 1)
    assert(dropped.map(_._1) == Seq(0L),
      s"tied-away cluster should drop: ${dropped.map(_._1)}")
  }

  test("kmeansRefine one Lloyd step equals an independent driver-side replay") {
    val e = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 120).select("vec_id", "embedding")
    val out = kmeansRefine(e, "vec_id", "embedding", clusters = 8, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    // independent replay in plain Scala over the collected vectors
    val vecs = e.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.sortBy(_._1)
    def rcos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def assign(cent: Seq[(Long, Array[Double])]): Map[Long, (Long, Double)] =
      vecs.map { case (id, v) =>
        val best = cent.map { case (cid, cv) => (cid, rcos(v, cv)) }
          .maxBy { case (cid, s) => (s, -cid) }
        id -> best
      }.toMap
    val seeds = vecs.filter(_._1 < 8).map { case (id, v) => (id, v) }.toSeq
    val a0 = assign(seeds)
    val refined = a0.toSeq.groupBy(_._2._1).toSeq.map { case (cid, members) =>
      val vs = members.map(m => vecs.find(_._1 == m._1).get._2)
      // HALF_UP (away from zero), matching Spark/DuckDB round — plain
      // math.round sends negative halves toward +inf instead
      def micro(x: Double): Long =
        BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val mean = (0 until 64).map { d =>
        vs.map(v => micro(v(d))).sum.toDouble / 1e6 / vs.size
      }.toArray
      (cid, mean)
    }.sortBy(_._1)
    val a1 = assign(refined)
    assert(out.length == vecs.length)
    out.foreach { case (id, c, s) =>
      val (ec, es) = a1(id)
      assert(c == ec && s == es, s"vec $id: got ($c, $s), replay ($ec, $es)")
    }
  }

  test("semDedup: planted clone is pruned, representative survives, cover is total") {
    val e = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    // identical vector under a higher id -> same cluster, cosine 1.0
    val clone = e.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val out = semDedup(e.unionByName(clone), "vec_id", "embedding",
      clusters = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val n = e.count() + 1
    // every vector appears exactly once with a valid cluster
    assert(out.length == n && out.map(_._1).distinct.length == n)
    assert(out.forall { case (_, c, _) => c >= 0 && c < 8 })
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(100000L)._3, "clone must be marked duplicate")
    assert(!byId(0L)._3, "lowest-id representative can never be marked")
    // the lowest id of every cluster is never a duplicate (its witness
    // would need a lower id in the same cluster)
    out.groupBy(_._2).foreach { case (c, rows) =>
      val lowest = rows.minBy(_._1)
      assert(!lowest._3, s"cluster $c lowest id ${lowest._1} marked dup")
    }
  }

  test("bucketedAssign at C=4096 equals dense kernel assignment on a planted-cluster fixture") {
    // beyond C ~ 1e5 the dense centroid matrix stops fitting a task;
    // bucketedAssign is the documented escape hatch (LSH-bucketed
    // centroid probe). On well-separated clusters (each vector IS a
    // centroid copy, so its bucket contains its nearest centroid)
    // the approximate path must agree with the dense kernel exactly.
    import spark.implicits._
    val dim = 16
    // deterministic pseudo-random unit-free vectors per seed
    def vec(seed: Int): Seq[Double] =
      (0 until dim).map(d => math.sin(seed * 31.0 + d * 7.0) + 0.001 * seed)
    val cents = (0 until 4096).map(c => (c.toLong, vec(c)))
    val centDf = cents.toDF("__cid", "__centv")
    val vecs = (0 until 2000).map(i => (10000L + i, vec(i % 4096)))
    val eDf = vecs.toDF("__id", "__v")
    val bucketed = graft.functions.SimilarityFunctions.bucketedAssign(
        eDf, centDf, seed = 11L, planes = 8, dim = dim)
      .select("__id", "__cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // dense path: the per-row kernel over the full 4096-centroid list
    val dense = eDf.withColumn("__best", element_at(
        graft.expressions.VectorExpressions.nearest_centroids(col("__v"),
          cents.map { case (c, v) => (c, v.toArray) }, 1,
          graft.expressions.VectorKernels.MetricCosine), 1))
      .select(col("__id"), col("__best").getField("cid").as("__cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bucketed.size == 2000, s"bucketed covered ${bucketed.size}/2000")
    assert(bucketed == dense)
    // and both recover the planted cluster id
    dense.foreach { case (id, cid) => assert(cid == (id - 10000) % 4096) }
  }

  test("semDedup reliable-checkpoint mode equals the local-checkpoint default") {
    val e = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 300).select("vec_id", "embedding")
    def rows() =
      semDedup(e, "vec_id", "embedding", clusters = 6, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val local = rows()
    val reliable = SparkTestSession.withCheckpointDir(_ => rows())
    assert(reliable == local)
  }

  /** Round-7's MinHash bug class (a hash "family" whose members share a
    * random direction, collapsing onto a low-dim span) would hit the
    * hyperplane family the same way: per-plane stats would still look
    * right while joint (bucket-level) collision rates broke. This pin
    * asserts BOTH laws of sign-bit LSH directly on the shipped md5
    * plane generator — per-plane disagreement ≈ θ/π (Goemans/
    * Williamson) and the k-plane product law P[all k agree] ≈
    * (1−θ/π)^k, which only holds if planes are jointly independent —
    * plus a negative control showing a deliberately collapsed family
    * (plane_p ∝ g1 + p·g2, the round-7 shape) fails the product law
    * by ~17× the tolerance, so the pin has teeth. Pure driver math;
    * tolerances are 3.5σ-calibrated for 2048 planes × 8 pairs. */
  test("hyperplane family obeys the sign-LSH collision law and the k-plane product law") {
    val dim = 64; val nPlanes = 2048; val k = 8
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def unit(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(dot(a, a)); a.map(_ / n)
    }
    val planes = Array.tabulate(nPlanes)(p => hyperplane(42L, p, dim))
    // deliberately collapsed family: every plane in span(g1, g2)
    val g1 = hyperplane(7L, 0, dim); val g2 = hyperplane(7L, 1, dim)
    val collapsed = Array.tabulate(nPlanes) { p =>
      unit(g1.zip(g2).map { case (x, y) => x + (p + 1) * y })
    }
    // 8 deterministic controlled-angle pairs per θ, from the same generator
    def pairAt(i: Int, theta: Double): (Array[Double], Array[Double]) = {
      val u = hyperplane(999L, 2 * i, dim)
      val w0 = hyperplane(999L, 2 * i + 1, dim)
      val w = unit(w0.zip(u).map { case (x, ux) => x - dot(w0, u) * ux })
      val v = u.zip(w).map { case (ux, wx) =>
        math.cos(theta) * ux + math.sin(theta) * wx }
      (u, v)
    }
    def productErr(fam: Array[Array[Double]], theta: Double): Double = {
      val q = theta / math.Pi
      val errs = (0 until 8).map { i =>
        val (u, v) = pairAt(i, theta)
        val dis = fam.map(pl => (dot(pl, u) >= 0) != (dot(pl, v) >= 0))
        val agreeAll = dis.grouped(k).count(g => !g.exists(identity)).toDouble / (nPlanes / k)
        agreeAll - math.pow(1 - q, k)
      }
      errs.sum / errs.size
    }
    for (thetaDeg <- Seq(30, 60, 90)) {
      val theta = math.toRadians(thetaDeg)
      val q = theta / math.Pi
      val perPlaneErrs = (0 until 8).map { i =>
        val (u, v) = pairAt(i, theta)
        planes.count(pl => (dot(pl, u) >= 0) != (dot(pl, v) >= 0)).toDouble / nPlanes - q
      }
      val meanErr = perPlaneErrs.sum / perPlaneErrs.size
      assert(math.abs(meanErr) < 0.015,
        s"per-plane collision law off at theta=$thetaDeg: mean err $meanErr")
      assert(perPlaneErrs.forall(e => math.abs(e) < 0.04),
        s"per-plane outlier at theta=$thetaDeg: ${perPlaneErrs.map(e => f"$e%.4f")}")
      val pErr = productErr(planes, theta)
      assert(math.abs(pErr) < 0.02,
        s"k-plane product law off at theta=$thetaDeg: mean err $pErr — planes not independent")
    }
    // negative control: the collapsed family must FAIL the product law loudly
    val collapsedErr = productErr(collapsed, math.toRadians(60))
    assert(math.abs(collapsedErr) > 0.2,
      s"negative control too weak: collapsed family product err $collapsedErr should be ~0.34")
  }

  test("semDedup duplicates each have a lower-id witness at >= threshold (driver replay)") {
    val e = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 60).select("vec_id", "embedding")
    val t = 0.2
    val out = semDedup(e, "vec_id", "embedding", clusters = 4, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      math.rint(r * 1e6) / 1e6
    }
    out.filter(_._3).foreach { case (id, c, _) =>
      val witness = out.exists { case (j, cj, _) =>
        j < id && cj == c && cos(vecs(j), vecs(id)) >= t }
      assert(witness, s"dup $id in cluster $c has no lower-id witness")
    }
    // and non-dups have none
    out.filterNot(_._3).foreach { case (id, c, _) =>
      val witness = out.exists { case (j, cj, _) =>
        j < id && cj == c && cos(vecs(j), vecs(id)) >= t }
      assert(!witness, s"non-dup $id in cluster $c has a witness")
    }
  }

  test("resplitCell: unchanged probe sets stay bit-identical; indexStats tracks the split") {
    import graft.functions.AnnIndex
    val e = graft.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_resplit_spec").toString
    AnnIndex.ivfIndexSave(e.filter(col("vec_id") < 250), "vec_id", "embedding",
      cells = 16, dir = dir)
    // skew cell 3 with 40 clones of vector 3, then split it 4 ways
    val v3 = e.filter(col("vec_id") === 3).select(col("embedding").as("bv"))
    val batch = spark.range(40).select((col("id") + 5000).as("vec_id"))
      .crossJoin(broadcast(v3)).select(col("vec_id"), col("bv").as("embedding"))
    AnnIndex.addBatch(spark, dir, batch, "vec_id", "embedding")

    val statsBefore = AnnIndex.indexStats(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(statsBefore(3L) >= 41L, s"skewed cell expected >= 41, got ${statsBefore.get(3L)}")

    val queries = e.filter(col("vec_id") < 20)
    def probeAll(): Map[Long, Seq[(Long, Any, Int)]] =
      AnnIndex.probe(spark, dir, queries, "vec_id", "embedding", k = 5, nprobe = 4)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.get(2), r.getInt(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._3).toSeq).toMap
    def probeSets(): Map[Long, Set[Long]] = {
      val cent = AnnIndex.readCentroids(spark, s"$dir/centroids")
      queries.select(col("vec_id"), col("embedding")).collect().map { r =>
        val q = spark.createDataFrame(java.util.List.of(r), r.schema)
        r.getLong(0) -> AnnIndex.probeCells(q, "vec_id", "embedding", cent, 4)
          .map(_.asInstanceOf[Long]).toSet
      }.toMap
    }

    val before = probeAll(); val setsBefore = probeSets()
    AnnIndex.resplitCell(spark, dir, cid = 3L, k = 4)
    val after = probeAll(); val setsAfter = probeSets()

    val statsAfter = AnnIndex.indexStats(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!statsAfter.contains(3L), "split cell directory must retire")
    val subCells = statsAfter.keySet.filter(_ >= 16L)
    assert(subCells.nonEmpty && subCells.forall(c => c >= 16L && c <= 19L))
    assert(subCells.map(statsAfter).sum == statsBefore(3L),
      "resplit must conserve the cell's vectors")
    (statsBefore - 3L).foreach { case (c, n) =>
      assert(statsAfter(c) == n, s"untouched cell $c changed size") }

    // the pinned invariant: any query whose nprobe probe set is the
    // same before and after the split returns bit-identical rows
    val unchanged = setsBefore.keySet.filter(q => setsBefore(q) == setsAfter(q))
    assert(unchanged.nonEmpty, "fixture regression: every probe set shifted")
    unchanged.foreach { q =>
      assert(before(q) == after(q), s"probe of untouched cells changed for query $q") }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compactCells: many-file cells collapse to one file; probes bit-identical") {
    import graft.functions.AnnIndex
    val e = graft.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_spec").toString
    AnnIndex.ivfIndexSave(e.filter(col("vec_id") < 100), "vec_id", "embedding",
      cells = 8, dir = dir)
    // 5 micro-batches of 20 vectors: each append adds files per touched cell
    (0 until 5).foreach { b =>
      AnnIndex.addBatch(spark, dir,
        e.filter(col("vec_id") >= 100 + b * 20 && col("vec_id") < 120 + b * 20),
        "vec_id", "embedding")
    }
    def stats() = AnnIndex.indexStats(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val before = stats()
    assert(before.exists(_._3 >= 3), s"fixture regression: no cell grew files: $before")
    val queries = e.filter(col("vec_id") < 15)
    def probeAll() = AnnIndex.probe(spark, dir, queries, "vec_id", "embedding", 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), "" + r.get(2), r.getInt(3))).toSet
    val pBefore = probeAll()
    val compacted = AnnIndex.compactCells(spark, dir, minFiles = 3)
    assert(compacted.nonEmpty)
    val after = stats()
    compacted.foreach { c =>
      assert(after.find(_._1 == c).get._3 == 1L, s"cell $c not single-file after compact") }
    // row counts conserved per cell, results unchanged
    assert(after.map(s => s._1 -> s._2).toMap == before.map(s => s._1 -> s._2).toMap)
    assert(probeAll() == pBefore, "compaction changed probe results")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("crash recovery: compact mid-swap restores, resplit retry does not double, tagged replay converges") {
    import graft.functions.AnnIndex
    import org.apache.hadoop.fs.Path
    val e = graft.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_spec").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    AnnIndex.ivfIndexSave(e.filter(col("vec_id") < 200), "vec_id", "embedding",
      cells = 8, dir = dir)
    def counts() = AnnIndex.indexStats(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = counts()

    // (a) simulate a compact crash BETWEEN the two renames: live dir
    // moved to backup, staged never swapped in -> the cell vanishes from
    // the parquet listing, plus a leaked staging dir from before the swap
    val victim = base.keys.min
    fs.rename(new Path(s"$dir/codes/cell=$victim"), new Path(s"$dir/codes/.old-$victim"))
    fs.mkdirs(new Path(s"$dir/codes/.compact-$victim")) // stale staging leak
    assert(!fs.exists(new Path(s"$dir/codes/cell=$victim")),
      "precondition: live cell dir gone mid-swap")
    // read entry points MUST NOT repair (to a reader this state is
    // indistinguishable from a compact in flight right now, and
    // restoring the backup would abort the writer's swap — ADVICE
    // r14); they read THROUGH the orphaned backup instead
    assert(counts() == base, "indexStats must read through the mid-swap cell")
    assert(fs.exists(new Path(s"$dir/codes/.old-$victim")) &&
      fs.exists(new Path(s"$dir/codes/.compact-$victim")) &&
      !fs.exists(new Path(s"$dir/codes/cell=$victim")),
      "a read entry point must not mutate the store")
    // probes read through too: an all-cells probe still reaches every
    // indexed vector, including the orphaned cell's (self-matches are
    // excluded, so count distinct NEIGHBORS across all queries)
    val qAll = e.filter(col("vec_id") < 200)
    assert(AnnIndex.probe(spark, dir, qAll, "vec_id", "embedding", 200, 8)
      .select("neighbor_id").distinct().count() == 200,
      "probe must read through the orphaned backup")
    // the next WRITE entry point heals (single-writer: nothing can be
    // in flight when it runs) — a no-op compact pass is enough
    AnnIndex.compactCells(spark, dir, minFiles = 999)
    assert(!fs.exists(new Path(s"$dir/codes/.old-$victim")) &&
      !fs.exists(new Path(s"$dir/codes/.compact-$victim")) &&
      fs.exists(new Path(s"$dir/codes/cell=$victim")),
      "the write entry point must consume the backup and drop the stale staging dir")
    assert(counts() == base, "healed index must report the same stats")

    // (b) resplit retry: pre-plant an orphan sub-cell dir as if a prior
    // attempt crashed after its append; the retry must scrub it, not double
    val splitCell = base.keys.max
    val orphan = new Path(s"$dir/codes/cell=8") // max cid 7 -> base = 8
    fs.mkdirs(orphan)
    e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding").as("vec"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/.orphan_stage")
    fs.listStatus(new Path(s"$dir/.orphan_stage"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach(f => fs.rename(f.getPath, new Path(orphan, f.getPath.getName)))
    AnnIndex.resplitCell(spark, dir, cid = splitCell, k = 2)
    val afterSplit = counts()
    assert(afterSplit.filter(_._1 >= 8L).values.sum == base(splitCell),
      s"retry after planted orphan must conserve rows exactly: $afterSplit vs $base")

    // (c) tagged replay: run addBatchTagged twice with the same tag ->
    // exactly one copy (second run scrubs the first's files)
    val batch = e.filter(col("vec_id") >= 200 && col("vec_id") < 230)
    AnnIndex.addBatchTagged(spark, dir, batch, "vec_id", "embedding", tag = "b7")
    val once = counts()
    AnnIndex.addBatchTagged(spark, dir, batch, "vec_id", "embedding", tag = "b7")
    assert(counts() == once, "tagged replay must converge to exactly one copy")
    assert(once.values.sum == afterSplit.values.sum + 30)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("PQ resplit via the keepVectors sidecar: untouched cells bit-identical, probes equal the in-session IVF-PQ") {
    import graft.functions.{AnnIndex, SimilarityFunctions}
    import org.apache.hadoop.fs.Path
    val e = graft.Tables.embeddings(spark, sf)
    val corpus = e.filter(col("vec_id") < 250)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_resplit").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    AnnIndex.ivfpqIndexSave(corpus, "vec_id", "embedding",
      cells = 8, m = 4, codebook = 16, dim = 64, residual = false,
      dir = dir, keepVectors = true)
    // skew one cell with clones of vector 3, ingested through the
    // tagged path (exercises the sidecar's replay plumbing too)
    val v3 = e.filter(col("vec_id") === 3).select(col("embedding").as("__bv"))
    val batch = spark.range(0, 40).select((col("id") + 10000).as("vec_id"))
      .crossJoin(broadcast(v3)).select(col("vec_id"), col("__bv").as("embedding"))
    AnnIndex.addBatchTagged(spark, dir, batch, "vec_id", "embedding", tag = "pq1")
    AnnIndex.addBatchTagged(spark, dir, batch, "vec_id", "embedding", tag = "pq1")
    val full = corpus.select("vec_id", "embedding")
      .unionByName(batch.toDF("vec_id", "embedding"))
    val hot = AnnIndex.indexStats(spark, dir)
      .orderBy(col("n_vectors").desc).select("cell").head.getLong(0)
    def fileSig(cid: Long) = fs.listStatus(new Path(s"$dir/codes/cell=$cid"))
      .filter(_.isFile).map(f => (f.getPath.getName, f.getLen)).toSet
    val untouched = AnnIndex.indexStats(spark, dir).select("cell").collect()
      .map(_.getLong(0)).filterNot(_ == hot)
    val sigsBefore = untouched.map(c => c -> fileSig(c)).toMap
    val statTotal = AnnIndex.indexStats(spark, dir)
      .agg(sum("n_vectors")).head.getLong(0)
    AnnIndex.resplitCell(spark, dir, cid = hot, k = 4)
    // untouched cells: the resplit never rewrote their files
    untouched.foreach(c => assert(fileSig(c) == sigsBefore(c),
      s"cell $c files changed across a resplit of cell $hot"))
    // rows conserved across the split (in BOTH stores' accounting)
    assert(AnnIndex.indexStats(spark, dir).agg(sum("n_vectors")).head.getLong(0)
      == statTotal, "resplit must conserve vectors")
    // probing ALL cells: non-residual ADC estimates are
    // cell-independent, so the re-encoded index must rank exactly like
    // the in-session IVF-PQ over the union corpus
    val queries = full.filter(col("vec_id") < 6 || col("vec_id") === 10005L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), "" + r.get(2), r.getInt(3))).toSet
    val probed = rows(AnnIndex.probe(spark, dir, queries, "vec_id", "embedding",
      k = 5, nprobe = 11))
    val inSession = rows(SimilarityFunctions.ivfpqTopK(full, queries,
      "vec_id", "embedding", k = 5, cells = 8, nprobe = 8, m = 4,
      codebook = 16, dim = 64, residual = false))
    assert(probed == inSession,
      "post-resplit PQ probe must equal in-session IVF-PQ at full probe width")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("readMeta tolerates a pre-keepVectors meta parquet (old saved indexes keep working)") {
    import graft.functions.AnnIndex
    import org.apache.hadoop.fs.Path
    val e = graft.Tables.embeddings(spark, sf)
    val corpus = e.filter(col("vec_id") < 100)
    val dir = java.nio.file.Files.createTempDirectory("graft_oldmeta").toString
    AnnIndex.ivfIndexSave(corpus, "vec_id", "embedding", cells = 4, dir = dir)
    val q = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    val before = AnnIndex.probe(spark, dir, q, "vec_id", "embedding", k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rewrite meta WITHOUT the keepVectors column, as an index saved
    // before the field existed would have it
    val oldMeta = spark.read.parquet(s"$dir/meta").drop("keepVectors")
    val tmp = s"$dir/.meta_old"
    oldMeta.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$dir/meta"), true)
    assert(fs.rename(new Path(tmp), new Path(s"$dir/meta")))
    spark.catalog.refreshByPath(dir)
    // every entry point must still work, defaulting keepVectors = false
    val after = AnnIndex.probe(spark, dir, q, "vec_id", "embedding", k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, "probe must be unchanged under a pre-keepVectors meta")
    assert(AnnIndex.indexStats(spark, dir).count() == 4)
    AnnIndex.addBatch(spark, dir,
      e.filter(col("vec_id") >= 200 && col("vec_id") < 210), "vec_id", "embedding")
    assert(AnnIndex.indexStats(spark, dir)
      .agg(sum("n_vectors")).head().getLong(0) == 110)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("write-path recovery: ingest after a compact mid-swap crash restores the backup first; retired cells are swept") {
    import graft.functions.AnnIndex
    import org.apache.hadoop.fs.Path
    val e = graft.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_write_spec").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    AnnIndex.ivfIndexSave(e.filter(col("vec_id") < 200), "vec_id", "embedding",
      cells = 8, dir = dir)
    def counts() = AnnIndex.indexStats(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = counts()
    val victim = base.keys.min

    // (a) the data-loss window the read-side-only recovery left open:
    // compact crashes mid-swap (live cell parked in .old-), then the
    // NEXT op is an ingest whose rows land in that same cell. Before
    // the write-path recovery, the append recreated a live cell=victim
    // holding only the new rows and the next read dropped .old-victim
    // — every pre-compaction vector of the cell gone. Batch rows are
    // clones of vectors already assigned to the victim cell (same
    // nearest centroid), re-id'd past the corpus.
    val victimRows = spark.read.parquet(s"$dir/codes")
      .filter(col("cell") === victim).select("id", "vec").limit(3)
      .withColumn("id", col("id") + lit(10000L))
      .persist()
    val nClone = victimRows.count()
    assert(nClone > 0)
    fs.rename(new Path(s"$dir/codes/cell=$victim"), new Path(s"$dir/codes/.old-$victim"))
    AnnIndex.addBatch(spark, dir, victimRows, "id", "vec")
    victimRows.unpersist()
    val after = counts()
    assert(after(victim) == base(victim) + nClone,
      "ingest into a mid-swap cell must restore the backup before appending, not shadow it")
    assert(!fs.exists(new Path(s"$dir/codes/.old-$victim")))

    // (b) a resplit that crashed between the centroid swap and the
    // old-dir delete leaves a cell= dir with no centroid: probes never
    // read it, but stats would double-count and compaction would keep
    // rewriting a dead partition. Plant one with a real data file.
    // READ entry points must IGNORE it but NOT delete it — to a
    // concurrent reader an in-flight resplit's freshly appended
    // sub-cells look exactly like this (centroid swap not yet done),
    // and a reader-side sweep would delete the data the swap is about
    // to name. Only the next WRITE entry point (single-writer, so no
    // resplit can be in flight) sweeps it.
    val leaked = new Path(s"$dir/codes/cell=99")
    fs.mkdirs(leaked)
    spark.read.parquet(s"$dir/codes").filter(col("cell") === victim)
      .select("id", "vec").limit(2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/.leak_stage")
    fs.listStatus(new Path(s"$dir/.leak_stage"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach(f => fs.rename(f.getPath, new Path(leaked, f.getPath.getName)))
    val statsAfter = counts()
    assert(!statsAfter.contains(99L), "retired cell must not be double-counted")
    assert(fs.exists(leaked),
      "a READ entry point must not sweep retired dirs (concurrent-resplit hazard)")
    assert(statsAfter == after, "ignoring the retired cell must not disturb live cells")
    AnnIndex.compactCells(spark, dir, minFiles = 1000) // write entry, no-op compact
    assert(!fs.exists(leaked), "the next WRITE entry point must sweep the retired dir")
    assert(counts() == after, "sweep must not disturb live cells")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ivfKnnJoin excludeSelf: self-search drops id-equal pairs, a two-table join keeps them") {
    import spark.implicits._
    // distinct directions, no cosine-1.0 cross pairs — so each
    // query's true rank-1 under two-table semantics is exactly the
    // id-equal corpus row
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f)), (3L, Seq(0f, 0f, 0f, 1f)),
      (4L, Seq(1f, 1f, 0f, 0f)), (5L, Seq(0f, 1f, 1f, 0f)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = vecs.take(3).toDF("vec_id", "embedding")
    def rank1(excludeSelf: Boolean): Map[Long, Long] =
      ivfKnnJoin(corpus, queries, "vec_id", "embedding", k = 1,
          centroids = 2, nprobe = 2, excludeSelf = excludeSelf)
        .filter(col("rank") === 1)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val withSelf = rank1(excludeSelf = false)
    val noSelf = rank1(excludeSelf = true)
    assert(withSelf == Map(0L -> 0L, 1L -> 1L, 2L -> 2L),
      s"two-table join must keep id-equal true neighbors: $withSelf")
    assert(noSelf.forall { case (q, n) => n != q } && noSelf.nonEmpty,
      s"self-search must drop id-equal pairs: $noSelf")
  }

  test("tombstone deletes on the PQ layout: mask = vacuum = manual exclusion; rebuild clears them") {
    import graft.functions.AnnIndex
    import org.apache.hadoop.fs.Path
    val e = graft.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_anndel_spec").toString
    def save(): Unit = AnnIndex.ivfpqIndexSave(e, "vec_id", "embedding",
      cells = 16, m = 4, codebook = 16, dim = 64, residual = false,
      dir = dir, keepVectors = true)
    save()
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
        .sortBy(t => (t._1, t._3))
    val fullWant = rows(AnnIndex.probe(spark, dir, q, "vec_id", "embedding",
      k = 5, nprobe = 4))
    // ground truth for the masked probe: the SAME probe on an index
    // built WITHOUT the deleted ids (centroids pinned by the first-16
    // seeds, which the exclusion below never touches)
    val delIds = e.filter(col("vec_id") % 7 === 3 && col("vec_id") >= 16)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_anndel_ref").toString
    AnnIndex.ivfpqIndexSave(e.join(delIds.select("vec_id"), Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", cells = 16, m = 4, codebook = 16, dim = 64,
      residual = false, dir = dir2, keepVectors = true)
    val want = rows(AnnIndex.probe(spark, dir2, q, "vec_id", "embedding", k = 5, nprobe = 4))
    AnnIndex.deleteIds(spark, dir, delIds.select("vec_id"), "vec_id", "b1")
    val maskedDf = AnnIndex.probe(spark, dir, q, "vec_id", "embedding", k = 5, nprobe = 4)
    // the mask is a pre-filter anti-join inside the probe plan
    assert(maskedDf.queryExecution.executedPlan.toString.contains("LeftAnti"))
    assert(rows(maskedDf) == want, "tombstone mask must equal the rebuilt-without index")
    // vacuum reclaims: rows identical, sidecar rewritten too, bytes drop
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def storeRows(sub: String): Long =
      spark.read.parquet(s"$dir/$sub").count()
    val (codesBefore, vecsBefore) = (storeRows("codes"), storeRows("vectors"))
    val rewrote = AnnIndex.vacuumDeletes(spark, dir)
    assert(rewrote.nonEmpty)
    // applied batches are PARKED as .retired- (a reader planned
    // before the vacuum may still hold their file paths), invisible
    // to the live listing; the next WRITE entry sweeps the files
    assert(fs.listStatus(new Path(s"$dir/tombstones"))
        .forall(_.getPath.getName.startsWith(".retired-")),
      "applied tombstone batches must leave the live listing")
    AnnIndex.compactCells(spark, dir, minFiles = 1000) // write entry: sweep
    assert(!fs.exists(new Path(s"$dir/tombstones")) ||
      fs.listStatus(new Path(s"$dir/tombstones")).isEmpty,
      "the next write entry must sweep the parked batches")
    val nDel = delIds.count()
    // PQ codes hold m = 4 rows per vector; the sidecar one per vector
    assert(storeRows("codes") == codesBefore - 4 * nDel,
      "codes rows must shrink by m x the delete set")
    assert(storeRows("vectors") == vecsBefore - nDel, "sidecar rows must shrink too")
    val vacuumed = AnnIndex.probe(spark, dir, q, "vec_id", "embedding", k = 5, nprobe = 4)
    assert(rows(vacuumed) == want, "post-vacuum probe must equal the masked probe")
    // vacuum with nothing tombstoned is a no-op
    assert(AnnIndex.vacuumDeletes(spark, dir).isEmpty)
    // a rebuild clears committed AND staged tombstones: delete, leave
    // a crashed staging, save again — the probe sees everything
    AnnIndex.deleteIds(spark, dir, delIds.select("vec_id"), "vec_id", "b2")
    e.limit(3).select(col("vec_id").cast("long").as("__tomb_id"))
      .write.mode("overwrite").parquet(s"$dir/.staging-del-crashX")
    save()
    val fresh = rows(AnnIndex.probe(spark, dir, q, "vec_id", "embedding", k = 5, nprobe = 4))
    assert(fresh == fullWant,
      "a rebuilt index must serve the full corpus again (stale tombstones gone)")
    assert(fresh != want, "sanity: the delete set changed at least one top-5 row")
    assert(!fs.exists(new Path(s"$dir/.staging-del-crashX")))
    assert(!fs.exists(new Path(s"$dir/tombstones")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
  }

  test("PQ vacuum crash after the codes rewrite committed: the retry still reclaims the sidecar") {
    import graft.functions.AnnIndex
    val e = graft.Tables.embeddings(spark, sf)
    val dir = FaultyFs.tempDir(spark, "graft_anndel_crash")
    AnnIndex.ivfpqIndexSave(e, "vec_id", "embedding",
      cells = 16, m = 4, codebook = 16, dim = 64, residual = false,
      dir = dir, keepVectors = true)
    val q = e.filter(col("vec_id") < 8)
    def probe() = AnnIndex.probe(spark, dir, q, "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val del = e.filter(col("vec_id") % 7 === 3 && col("vec_id") >= 16).select("vec_id")
    val delIds = del.collect().map(_.getLong(0)).toSet
    def ids(sub: String) =
      spark.read.parquet(s"$dir/$sub").select(col("id").cast("long")).collect()
        .map(_.getLong(0)).toSet
    AnnIndex.deleteIds(spark, dir, del, "vec_id", "d1")
    val masked = probe()
    // the sidecar rewrite fails; its concurrent twin runs to completion
    FaultyFs.failingRenamesUnder("/vectors/") {
      intercept[Exception](AnnIndex.vacuumDeletes(spark, dir))
    }
    assert(!ids("codes").exists(delIds), "the codes rewrite committed before the crash")
    AnnIndex.vacuumDeletes(spark, dir)
    assert(!ids("vectors").exists(delIds), "the retry must reclaim every deleted sidecar row")
    assert(probe() == masked, "the vacuumed index must serve the masked neighbors")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(new java.net.URI(dir).getPath))
  }
}
