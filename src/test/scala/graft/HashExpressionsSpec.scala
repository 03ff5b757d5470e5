package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.DedupFunctions._
import graft.expressions.HashExpressions._

/** The native Catalyst kernels must be bit-identical to the
  * higher-order-function formulations (which the DuckDB oracles
  * replicate). */
class HashExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    "key agg row scan slow fast table value part hash",
    "batch window spark order data column agg join small line",
    "a b", "single", "x y z x y z x y z"
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("MinHashSignature equals the HOF minhash formulation") {
    val sh = wordShingles(col("text"), 3)
    val diff = docs.select(
        minhash_signature(sh, 64).as("native"),
        minhashSignature(sh, 64).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("DoubleDot equals the HOF fold and SortedJaccard equals set-op jaccard") {
    val e = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.0f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.3f, 0.2f, 0.1f))).toDF("a", "b")
    val dotDiff = e.select(
        graft.functions.SimilarityFunctions.dot(col("a"), col("b")).as("n"),
        graft.functions.SimilarityFunctions.dotHof(col("a"), col("b")).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(dotDiff == 0)
    val l2Diff = e.select(
        graft.functions.SimilarityFunctions.l2Distance(col("a"), col("b")).as("n"),
        graft.functions.SimilarityFunctions.l2DistanceHof(col("a"), col("b")).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(l2Diff == 0)
    val sh = docs.select(array_sort(charShingles(col("text"), 3)).as("sh"))
    val jacDiff = sh.as("x").crossJoin(sh.as("y"))
      .select(sorted_jaccard(col("x.sh"), col("y.sh")).as("n"),
        jaccard(col("x.sh"), col("y.sh")).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(jacDiff == 0)
    val interDiff = sh.as("x").crossJoin(sh.as("y"))
      .select(sorted_intersect_count(col("x.sh"), col("y.sh")).as("n"),
        size(array_intersect(col("x.sh"), col("y.sh"))).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(interDiff == 0)
  }

  test("StripeOverlapUpper is a sound intersection bound on random hashed sets") {
    // the verify pre-filter of jaccardPairs/containmentPairs drops
    // candidates whose bound misses the threshold — soundness means
    // bound >= |A∩B| ALWAYS, including in the adversarial dense
    // regime (sets much larger than the stripe count, heavy
    // within-set collisions)
    val rnd = new scala.util.Random(97L)
    for (bits <- Seq(64, 256, 2048)) {
      val pairs = (0 until 60).map { i =>
        val na = 1 + rnd.nextInt(500); val nb = 1 + rnd.nextInt(500)
        val overlap = rnd.nextInt(math.min(na, nb) + 1)
        val common = Seq.fill(overlap)(rnd.nextLong() & ((1L << 40) - 1))
        def fresh(k: Int) = Seq.fill(k)(rnd.nextLong() & ((1L << 40) - 1))
        (i, (common ++ fresh(na - overlap)).distinct.sorted.toArray,
          (common ++ fresh(nb - overlap)).distinct.sorted.toArray)
      }.toDF("i", "a", "b")
      val violations = pairs.select(
          stripe_overlap_upper(
            stripe_sketch(col("a"), bits), stripe_sketch(col("b"), bits)).as("ub"),
          size(array_intersect(col("a"), col("b"))).as("true_i"))
        .filter(col("ub") < col("true_i")).count()
      assert(violations == 0, s"bits=$bits")
    }
    // mismatched sketch widths fall back to min(|A|,|B|) — sound, not wrong
    val one = Seq((Array(1L, 2L, 3L), Array(2L, 3L, 4L, 5L))).toDF("a", "b")
    val fb = one.select(stripe_overlap_upper(
      stripe_sketch(col("a"), 64), stripe_sketch(col("b"), 256)).as("ub"))
      .head().getInt(0)
    assert(fb == 3)
  }

  test("DoubleDot/DoubleL2Squared are null on ragged input, like the HOF fold") {
    // zip_with null-pads the shorter array, so the HOF fold collapses
    // to NULL on unequal lengths — the kernels must agree, not silently
    // sum over min(len)
    val ragged = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f))).toDF("a", "b")
    val r = ragged.select(
      graft.functions.SimilarityFunctions.dot(col("a"), col("b")).as("dn"),
      graft.functions.SimilarityFunctions.dotHof(col("a"), col("b")).as("dh"),
      graft.functions.SimilarityFunctions.l2Distance(col("a"), col("b")).as("ln"),
      graft.functions.SimilarityFunctions.l2DistanceHof(col("a"), col("b")).as("lh")
    ).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("BloomMightContainLong agrees with the filter it was built from (codegen + interpreted)") {
    val keys = spark.range(0, 1000).toDF("k")
    val bloom = keys.stat.bloomFilter("k", 1000L, 0.01)
    val bytes = { val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos); bos.toByteArray }
    val probe = spark.range(0, 2000).toDF("k")
      .select(col("k"), bloom_might_contain(col("k"), bytes).as("hit"))
    val rows = probe.collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    // no false negatives on members; false-positive rate bounded on non-members
    assert((0L until 1000L).forall(rows(_)), "bloom false negative")
    val fp = (1000L until 2000L).count(rows(_))
    assert(fp < 100, s"false-positive count $fp out of bound for 1% target")
    // null key stays null (nullSafeEval contract)
    val n = keys.select(bloom_might_contain(lit(null).cast("long"), bytes)).head()
    assert(n.isNullAt(0))
  }

  test("SimHash32 equals the HOF simhash formulation") {
    val diff = docs.select(
        simhash32_native(split(col("text"), " ")).as("native"),
        simhash32(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("SortedLongJaccard equals set-op jaccard on hashed shingle sets") {
    val sh = docs.select(
      array_sort(array_distinct(transform(charShingles(col("text"), 3),
        s => conv(md5(s).substr(lit(1), lit(10)), 16, 10).cast("long")))).as("sh"))
    val diff = sh.as("x").crossJoin(sh.as("y"))
      .select(sorted_long_jaccard(col("x.sh"), col("y.sh")).as("n"),
        jaccard(col("x.sh"), col("y.sh")).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(diff == 0)
  }

  test("SortedLongIntersectCount equals size(array_intersect) on hashed shingle sets") {
    val sh = docs.select(
      array_sort(array_distinct(transform(charShingles(col("text"), 3),
        s => conv(md5(s).substr(lit(1), lit(10)), 16, 10).cast("long")))).as("sh"))
    val diff = sh.as("x").crossJoin(sh.as("y"))
      .select(sorted_long_intersect_count(col("x.sh"), col("y.sh")).as("n"),
        size(array_intersect(col("x.sh"), col("y.sh"))).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(diff == 0)
    // SQL registry reaches the long kernels (register here too —
    // relying on ExtensionsSpec having run first is order-coupling)
    graft.expressions.GraftExtensions.registerAll(spark)
    sh.limit(4).createOrReplaceTempView("__hs_sql")
    val viaSql = spark.sql(
      """SELECT sorted_long_intersect_count(x.sh, y.sh) AS n,
        |       sorted_long_jaccard(x.sh, y.sh) AS j
        |FROM __hs_sql x CROSS JOIN __hs_sql y""".stripMargin).collect()
    assert(viaSql.nonEmpty && viaSql.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
  }

  test("VectorKernels.round6 equals Spark round(_, 6) across magnitudes and specials") {
    val rng = new scala.util.Random(7)
    val xs = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, 1.0000005, -1.0000005, 2.5e-7, -2.5e-7, 1e15 + 0.1234567) ++
      (0 until 200).map(_ => (rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(12) - 4))
    val sparkSide = xs.zipWithIndex.map { case (x, i) => (i, x) }.toDF("i", "x")
      .select(col("i"), round(col("x"), 6).as("r")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    xs.zipWithIndex.foreach { case (x, i) =>
      val k = graft.expressions.VectorKernels.round6(x)
      val s = sparkSide(i)
      assert(java.lang.Double.compare(k, s) == 0 || (k.isNaN && s.isNaN),
        s"x=$x kernel=$k spark=$s")
    }
  }

  test("nearest_centroids kernel equals the crossJoin+window argmax on random vectors") {
    val rng = new scala.util.Random(13)
    val dim = 8
    def vec(): Seq[Double] = Seq.fill(dim)((rng.nextDouble() - 0.5) * 2)
    val cents = (0 until 7).map(c => (c.toLong, vec().toArray))
    val vecs = (0 until 60).map(i => (i.toLong, vec()))
    val e = vecs.toDF("__id", "__v")
    // kernel: top-3 per row
    val kernel = e.select(col("__id"), posexplode(
        graft.expressions.VectorExpressions.nearest_centroids(col("__v"), cents, 3,
          graft.expressions.VectorKernels.MetricCosine)))
      .select(col("__id"), col("pos"), col("col.cid"), col("col.score"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // replay: rounded cosine + (score desc, cid asc) rank, driver-side
    def rcos(a: Seq[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(java.math.BigDecimal.valueOf(r)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    vecs.foreach { case (id, v) =>
      val ranked = cents.map { case (cid, cv) => (cid, rcos(v, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(3)
      ranked.zipWithIndex.foreach { case ((cid, s), pos) =>
        assert(kernel((id, pos)) == ((cid, s)), s"vec $id pos $pos")
      }
    }
  }

  test("bounded_topk equals the row_number window rerank on random scored candidates") {
    val rng = new scala.util.Random(99)
    val rows = (0 until 2000).map { _ =>
      (rng.nextInt(12).toLong, rng.nextInt(300).toLong,
        math.rint(rng.nextDouble() * 1e6) / 1e6)
    }.distinct
    // null and NaN scores do not rank: the heap drops them, so the
    // window reference below sees only the scored rows
    val unscored = (0 until 12).flatMap(q => Seq((q.toLong, 1000L + q, Double.NaN)))
      .toDF("query_id", "neighbor_id", "score")
      .unionByName((0 until 12).map(q => (q.toLong, 2000L + q)).toDF("query_id", "neighbor_id")
        .withColumn("score", lit(null).cast("double")))
    val df = rows.toDF("query_id", "neighbor_id", "score").unionByName(unscored)
    val agg = df.groupBy("query_id")
      .agg(graft.expressions.TopKAggregate.bounded_topk(
        struct((-col("score")).as("__o"), col("neighbor_id")),
        struct(col("neighbor_id"), col("score")), 5).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.neighbor_id"), col("col.score"),
        (col("pos") + 1).cast("int").as("rank"))
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    val win = df.filter(col("score").isNotNull && !isnan(col("score")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(agg == win)
  }

  test("unknown hash family is rejected at construction") {
    // md5 is the only family: a family literal is one argument too many
    import org.apache.spark.sql.catalyst.expressions.Literal
    val build = graft.expressions.GraftExtensions.functions.toMap
    for ((fn, args) <- Seq(
        "minhash_signature" -> Seq(Literal(1), Literal(4), Literal("sha1")),
        "simhash32" -> Seq(Literal(1), Literal("sha1")),
        "hashed_set40" -> Seq(Literal(1), Literal("sha1")))) {
      val e = intercept[IllegalArgumentException](build(fn)(args))
      assert(e.getMessage.contains(fn), e.getMessage)
    }
  }

  // edge inputs for the shingle kernels: doubled/leading/trailing
  // spaces (empty tokens), multi-byte UTF-8, exactly-n tokens, short
  // fallbacks, empty string
  private lazy val edgeTexts = Seq(
    "plain three word text", "a  doubled  space run", " leading space",
    "trailing space ", "héllo wörld ünïcode 漢字 テスト", "exactly three toks",
    "two toks", "one", "", "x y z x y z x y z", "αβ γδ εζ αβ γδ εζ",
    "  ", "a b  ", "tab\tis one token here"
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("WordShingles kernel equals the HOF formulation (sorted sets + fallback cases)") {
    for (n <- Seq(1, 2, 3, 5)) {
      val diff = edgeTexts.select(
          array_sort(wordShingles(col("text"), n)).as("native"),
          array_sort(wordShinglesHof(col("text"), n)).as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(diff == 0, s"n=$n")
    }
    // first-occurrence order matches array_distinct's, not just the set
    val ordDiff = edgeTexts.select(
        wordShingles(col("text"), 3).as("native"),
        wordShinglesHof(col("text"), 3).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(ordDiff == 0)
  }

  test("CharShingles kernel equals the HOF formulation (sorted sets + fallback cases)") {
    for (k <- Seq(1, 3, 5)) {
      val diff = edgeTexts.select(
          array_sort(charShingles(col("text"), k)).as("native"),
          array_sort(charShinglesHof(col("text"), k)).as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(diff == 0, s"k=$k")
    }
    val ordDiff = edgeTexts.select(
        charShingles(col("text"), 5).as("native"),
        charShinglesHof(col("text"), 5).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(ordDiff == 0)
  }

  test("HashedSet40 equals the sorted-distinct md5 transform") {
    val sh = docs.select(charShingles(col("text"), 3).as("sh"))
      .unionByName(edgeTexts.select(wordShingles(col("text"), 2).as("sh")))
    val diff = sh.select(
        graft.expressions.HashExpressions.hashed_set40(col("sh")).as("native"),
        array_sort(array_distinct(transform(col("sh"),
          s => conv(md5(s).substr(lit(1), lit(10)), 16, 10).cast("long")))).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("shingle kernels equal the HOF forms on the real corpus") {
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val wDiff = corpus.select(
        wordShingles(col("text"), 3).as("native"),
        wordShinglesHof(col("text"), 3).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(wDiff == 0)
    val cDiff = corpus.select(
        charShingles(col("text"), 5).as("native"),
        charShinglesHof(col("text"), 5).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(cDiff == 0)
  }
}
