package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{GraftExtensions, HashExpressions}

/** The native kernels are reachable from SQL after registration. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("registered SQL functions match the Column API") {
    GraftExtensions.registerAll(spark)
    val viaSql = spark.sql(
      """SELECT simhash32(split('key agg row scan', ' ')) AS h,
        |  double_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  sorted_jaccard(array('a','b','c'), array('b','c','d')) AS j,
        |  sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS ic,
        |  double_l2_squared(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS l2,
        |  minhash_signature(array('aa','bb'), 4) AS sig""".stripMargin).head()
    import spark.implicits._
    val viaCol = Seq("key agg row scan").toDF("t").select(
      HashExpressions.simhash32_native(split(col("t"), " ")).as("h")).head()
    assert(viaSql.getAs[Long]("h") == viaCol.getAs[Long]("h"))
    assert(viaSql.getAs[Double]("d") == 11.0)
    assert(viaSql.getAs[Double]("j") == 0.5)
    assert(viaSql.getAs[Int]("ic") == 2)
    assert(viaSql.getAs[Double]("l2") == 8.0)
    assert(viaSql.getAs[scala.collection.Seq[Long]]("sig").size == 4)
  }

  test("shingle and hashed-set kernels are reachable from SQL") {
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT word_shingles('a b c d', 3) AS ws,
        |  char_shingles('abcd', 3) AS cs,
        |  hashed_set40(array('x', 'y', 'x')) AS hs""".stripMargin).head()
    assert(r.getAs[scala.collection.Seq[String]]("ws") == Seq("a b c", "b c d"))
    assert(r.getAs[scala.collection.Seq[String]]("cs") == Seq("abc", "bcd"))
    val hs = r.getAs[scala.collection.Seq[Long]]("hs")
    assert(hs.size == 2 && hs == hs.sorted)
  }

  test("bounded_topk aggregate is reachable from SQL (score-desc rerank)") {
    GraftExtensions.registerAll(spark)
    import spark.implicits._
    Seq((1L, 10L, 0.9), (1L, 11L, 0.5), (1L, 12L, 0.7), (2L, 20L, 0.1))
      .toDF("q", "n", "s").createOrReplaceTempView("__topk_sql")
    val rows = spark.sql(
      """SELECT q, bounded_topk(struct(-s, n), n, 2) AS top
        |FROM __topk_sql GROUP BY q ORDER BY q""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]](1).toSeq)
    assert(rows.toSeq == Seq(1L -> Seq(10L, 12L), 2L -> Seq(20L)))
  }

  test("bounded_topk with wrong arity gives an arity error, not an index error") {
    GraftExtensions.registerAll(spark)
    import spark.implicits._
    Seq((1L, 0.9)).toDF("q", "s").createOrReplaceTempView("__topk_arity")
    val e = intercept[Exception] {
      spark.sql("SELECT bounded_topk(struct(-s, q)) FROM __topk_arity GROUP BY q")
        .collect()
    }
    assert(messages(e).exists(_.contains("bounded_topk expects exactly 3 arguments")),
      s"got: ${messages(e)}")
  }

  test("a hash-family literal gives the arity error that names the function") {
    GraftExtensions.registerAll(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array('aa', 'bb'), 64, 'xxh64')").collect()
    }
    assert(messages(e).exists(_.contains("minhash_signature expects exactly 2 arguments")),
      s"got: ${messages(e)}")
  }

  test("sketch family is reachable from SQL (distinct counts, overlap, frequent items)") {
    GraftExtensions.registerAll(spark)
    import spark.implicits._
    (0L until 300L).map(v => (v % 3, v)).toDF("g", "v")
      .createOrReplaceTempView("__sk_sql")
    // per-group sketches (100 distinct each), merged rollup = 300 —
    // k=512 keeps every sketch and the merge in the exact regime
    val row = spark.sql(
      """WITH per AS (
        |  SELECT g, kmv_sketch(v, 512) AS sk FROM __sk_sql GROUP BY g)
        |SELECT kmv_estimate(kmv_merge(sk)) AS total FROM per""".stripMargin)
      .head()
    assert(row.getAs[Long]("total") == 300L)
    val overlap = spark.sql(
      """SELECT kmv_intersect(a.sk, b.sk) AS c,
        |  kmv_estimate(kmv_union(a.sk, b.sk)) AS u
        |FROM (SELECT kmv_sketch(v, 512) AS sk FROM __sk_sql WHERE v < 200) a
        |CROSS JOIN (SELECT kmv_sketch(v, 512) AS sk FROM __sk_sql WHERE v >= 100) b
        |""".stripMargin).head()
    assert(overlap.getAs[Long]("c") == 100L && overlap.getAs[Long]("u") == 300L)
    val freq = spark.sql(
      """SELECT mg_topk(mg_merge(sk), 1)[0].item AS item,
        |  mg_topk(mg_merge(sk), 1)[0].count AS n
        |FROM (SELECT g, mg_sketch(CAST(v % 5 AS STRING), 16) AS sk
        |      FROM __sk_sql GROUP BY g) t""".stripMargin).head()
    assert(freq.getAs[String]("item") == "0" && freq.getAs[Long]("n") == 60L)
    // KLL quantiles: per-group sketches merged, exact regime — the
    // median of 0..299 under continuous interpolation is 149.5
    val q = spark.sql(
      """SELECT kll_quantile(kll_merge(sk), 0.5) AS p50,
        |  kll_n(kll_merge(sk)) AS n
        |FROM (SELECT g, kll_sketch(v, 512) AS sk FROM __sk_sql GROUP BY g) t
        |""".stripMargin).head()
    assert(q.getAs[Double]("p50") == 149.5 && q.getAs[Long]("n") == 300L)
  }

  test("wrong-typed SQL fails at analysis, and numeric mg/kll inputs coerce") {
    GraftExtensions.registerAll(spark)
    import spark.implicits._
    (0L until 10L).map(v => (v % 3, v)).toDF("g", "v")
      .createOrReplaceTempView("__ty_sql")
    // scalar string where array<string> is required: a legible
    // analysis-time type error, not a mid-job ClassCastException
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash32('not an array') FROM __ty_sql").collect()
    }
    assert(e.getMessage.toLowerCase.contains("type"))
    // numeric items coerce: mg_sketch counts longs via their string
    // form, kll_sketch takes any numeric
    val r = spark.sql(
      """SELECT mg_topk(mg_sketch(v % 2, 8), 1)[0].count AS top,
        |  kll_quantile(kll_sketch(v, 16), 1.0) AS mx
        |FROM __ty_sql""".stripMargin).head()
    assert(r.getAs[Long]("top") == 5L && r.getAs[Double]("mx") == 9.0)
  }
}
