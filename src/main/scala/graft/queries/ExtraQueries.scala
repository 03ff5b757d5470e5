package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Breadth pack: cube, pivot, ranking/frame windows, date and string
  * scalar functions, and CSV/JSON sink round-trips (Message.read/to
  * parity, S2/S7).
  */
object ExtraQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** One temp dir per (purpose, scale dir), reused across invocations
    * (the writes are mode=overwrite) and recursively deleted at JVM
    * exit — repeated Bench/Verify iterations must not accumulate
    * on-disk table copies. */
  private val tmpDirs = scala.collection.mutable.Map[String, String]()
  private def tempDir(key: String): String = tmpDirs.synchronized {
    tmpDirs.getOrElseUpdate(key, {
      val p = java.nio.file.Files.createTempDirectory(s"graft_$key")
      sys.addShutdownHook {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        if (Files.exists(p)) {
          Files.walk(p).sorted(Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
        }
      }
      p.toString
    })
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A6: CUBE over (status, priority).
    "q12_cube" -> ((s, d) => {
      orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }),

    // A3-style pivot: returnflag × linestatus quantity matrix.
    "q13_pivot" -> ((s, d) => {
      lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(dec(col("l_quantity"))).cast("double"))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")
    }),

    // §2.8 breadth: rank / dense_rank / ntile / range frame.
    "q14_rank_ntile" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
        .filter(col("rnk") <= 20)
        .orderBy("o_orderpriority", "rnk", "o_orderkey")
    }),

    // T10 date functions: year/month/day-of-week breakdown of orders.
    "q15_dates" -> ((s, d) => {
      orders(s, d)
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofweek(col("o_orderdate")).as("dow"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("y", "m", "dow")
    }),

    // T9/§2.10 string scalar functions over part names.
    "q16_strings" -> ((s, d) => {
      part(s, d).filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          upper(col("p_name")).as("u"),
          length(col("p_name")).as("len"),
          substring(col("p_name"), 1, 5).as("pfx"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("novowels"),
          concat_ws("|", col("p_brand"), col("p_type")).as("bt"))
        .orderBy("p_partkey")
    }),

    // TPC-H Q13 shape: LEFT OUTER join + count distribution (customers
    // by number of orders, including zero-order customers).
    "q25_left_join_dist" -> ((s, d) => {
      val c = customer(s, d).select("c_custkey")
      val o = orders(s, d).select("o_custkey", "o_orderkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // TPC-H Q4 shape: EXISTS with a correlated date-range condition.
    "q26_exists_range" -> ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = lineitem(s, d)
        .filter(col("l_shipdate") > lit("1996-06-01").cast("timestamp"))
        .select("l_orderkey")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // Exact interpolated percentiles per group.
    "q22_percentiles" -> ((s, d) => {
      lineitem(s, d).groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("med"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          round(expr("percentile(l_extendedprice, 0.25)"), 6).as("price_q1"))
        .orderBy("l_returnflag")
    }),

    // Edit-distance fuzzy matching over part names (dedup-adjacent).
    "q23_edit_distance" -> ((s, d) => {
      val p = part(s, d).filter(col("p_partkey") <= 100)
        .select(col("p_partkey").as("k"), col("p_name").as("nm"))
      p.as("x").join(p.as("y"), col("x.k") < col("y.k"))
        .select(col("x.k").as("a"), col("y.k").as("b"),
          levenshtein(col("x.nm"), col("y.nm")).as("dist"))
        .filter(col("dist") <= 12)
        .orderBy("a", "b")
    }),

    // Histogram binning of the events value distribution.
    "q24_histogram" -> ((s, d) => {
      events(s, d)
        .groupBy(floor(col("value") / 5.0).cast("int").as("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi"))
        .orderBy("bin")
    }),

    // Skew-safe two-phase aggregation: 3 hot keys spread over 16 salts;
    // result must equal the plain GROUP BY bit-for-bit.
    "q18_salted_agg" -> ((s, d) => {
      graft.operators.Skew.saltedSumCount(
        lineitem(s, d), Seq("l_returnflag"), "l_quantity",
        salts = 16, saltBy = Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_returnflag")
    }),

    // TF-IDF corpus vectorization: top-5 terms per document.
    "x8_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = graft.functions.TfIdf.tfidf(documents(s, d), "doc_id", "text")
        .filter(col("doc_id") < 20)
        .withColumn("tfidf", round(col("tfidf"), 6))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("doc_id", "token", "tf", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    }),

    // TPC-H Q5 shape: 6-table star join with filters, broadcast dims.
    "q20_star6" -> ((s, d) => {
      val li = lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val o  = orders(s, d)
        .filter(col("o_orderdate") >= lit("1994-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val c  = customer(s, d).select("c_custkey", "c_nationkey")
      val su = supplier(s, d).select("s_suppkey", "s_nationkey")
      val n  = nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      val r  = region(s, d).select("r_regionkey", "r_name")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // TPC-H Q17 shape: correlated scalar subquery (per-part average).
    "q21_subquery" -> ((s, d) => {
      val li = lineitem(s, d)
      val avgQ = li.groupBy(col("l_partkey").as("ap_partkey"))
        .agg(((sum(dec(col("l_quantity"))).cast("double") /
          count(lit(1)).cast("double")) * 0.8).as("avg80"))
      li.join(broadcast(avgQ), col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < col("avg80"))
        .agg((sum(dec(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"),
          count(lit(1)).as("n"))
    }),

    // T10 JSON functions: parse the events props column, aggregate by
    // extracted field.
    "q19_json" -> ((s, d) => {
      events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).cast("int").as("k_mod"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .orderBy("k_mod")
    }),

    // P3 LabelerPipe: string labels -> dense index + one-hot vector
    // (vector emitted as an int-joined string: the gate's comparator
    // sorts rows by every column, which list-typed cells break).
    "p3_labeler" -> ((s, d) => {
      graft.operators.Pipes.labeler(
        orders(s, d).select("o_orderkey", "o_orderstatus"), "o_orderstatus")
        .filter(col("o_orderkey") <= 500)
        .withColumn("onehot", array_join(
          transform(col("onehot"), x => x.cast("int").cast("string")), ","))
        .select("o_orderkey", "o_orderstatus", "label_id", "onehot")
        .orderBy("o_orderkey")
    }),

    // Deterministic weighted (Bernoulli) sampling: row kept iff its
    // md5-derived uniform u < value-proportional weight — the
    // importance-sampling primitive for training-data pipelines,
    // reproducible at any parallelism and by the oracle (no RNG).
    "q27_weighted_sample" -> ((s, d) => {
      val u = conv(substring(md5(col("event_id").cast("string")), 1, 13), 16, 10)
        .cast("double") / pow(lit(16.0), lit(13.0))
      events(s, d)
        .withColumn("u", u)
        .filter(col("u") < col("value") / 400.0)
        .select(col("event_id"), col("value"), round(col("u"), 6).as("u"))
        .orderBy("event_id")
    }),

    // Bloom-filter join pruning: build a bloom sketch of the small
    // side's keys, pre-filter the fact table with it (at scale this
    // drops most rows before any shuffle — the explicit form of
    // Spark's runtime bloom-filter join), then exact semi-join removes
    // the sketch's false positives, so the result is exactly the semi
    // join and the oracle is trivial.
    "q28_bloom_prune" -> ((s, d) => {
      val supp = supplier(s, d).filter(col("s_nationkey") === 5)
      // sketch-prune the fact table (superset of matches); an empty
      // build side means nothing can match (stat.bloomFilter cannot
      // aggregate zero rows)
      val pruned =
        if (supp.isEmpty) lineitem(s, d).filter(lit(false))
        else {
          val bloom = supp.stat.bloomFilter("s_suppkey", 1000L, 0.01)
          // membership test as a native codegen'd kernel — the filter
          // stays inside whole-stage codegen (a ScalaUDF here would box
          // every key and break the codegen span on the fact scan)
          val bytes = { val bos = new java.io.ByteArrayOutputStream()
            bloom.writeTo(bos); bos.toByteArray }
          lineitem(s, d).filter(
            graft.expressions.HashExpressions.bloom_might_contain(col("l_suppkey"), bytes))
        }
      pruned
        .join(broadcast(supp.select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_semi") // exact
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy("l_suppkey")
    }),

    // Null-key semantics pinned against the oracle: NULL forms its own
    // GROUP BY bucket, count(col) skips NULLs, and equi-joins never
    // match NULL keys — the SQL edge cases an engine must agree on.
    "q32_null_semantics" -> ((s, d) => {
      val t = customer(s, d).select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null))
          .otherwise(col("c_custkey") % 100).as("k"))
      val grouped = t.groupBy("k")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_nonnull_k"))
      val joined = t.as("a").join(t.as("b"), col("a.k") === col("b.k"))
        .agg(count(lit(1)).as("join_rows"))
      grouped.crossJoin(joined).orderBy(asc_nulls_first("k"))
    }),

    // Key-based upsert (MERGE shape): apply a changes table to a base
    // table — matched keys take the new values, unmatched keys insert.
    // One full-outer join on the key; at scale both sides shuffle once
    // on c_custkey and AQE handles the skew.
    "q31_upsert" -> ((s, d) => {
      val base = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      // synthetic change set: every 10th customer gets a credit, plus
      // two brand-new customers
      val changes = customer(s, d).filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name"),
          (dec(col("c_acctbal")) + dec(lit(100.0))).cast("double").as("c_acctbal"))
        .unionByName(s.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row(900001L, "NEW A", 10.0),
          org.apache.spark.sql.Row(900002L, "NEW B", 20.0)),
          base.schema))
      base.as("b").join(changes.as("c"), Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          coalesce(col("c.c_name"), col("b.c_name")).as("c_name"),
          coalesce(col("c.c_acctbal"), col("b.c_acctbal")).as("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // T10 via Spark 4 VariantType: props parsed ONCE into the binary
    // variant encoding, fields then extracted without re-parsing —
    // the at-scale JSON path (q19 is the classic string-path twin).
    "q30_variant" -> ((s, d) => {
      events(s, d)
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", variant_get(col("v"), "$.k", "int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // Partitioned layout + partition pruning: write the table hive-
    // partitioned on the filter column, read back one partition — at
    // scale the scan touches only that directory (PlanSpec asserts the
    // PartitionFilters); the oracle is the equivalent plain filter.
    "q29_partitioned_scan" -> ((s, d) => {
      val dir = tempDir(s"part_${d.replaceAll("[^A-Za-z0-9]", "_")}")
      orders(s, d).write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(dir)
      s.read.parquet(dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),

    // ORC round-trip (the third columnar container next to parquet and
    // the CSV/JSON text formats of q17): write a lineitem slice as
    // ORC, read it back, aggregate — proves the source/sink pair and
    // that predicate/column pushdown survives the format swap. The
    // oracle computes the same aggregate straight from parquet.
    "q33_orc_roundtrip" -> ((s, d) => {
      val dir = tempDir(s"orc_${d.replaceAll("[^A-Za-z0-9]", "_")}")
      val slice = lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"))
      slice.write.mode("overwrite").orc(s"$dir/orc")
      s.read.orc(s"$dir/orc")
        .filter(col("l_orderkey") <= 4000)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Z-order layout: write lineitem clustered on the Morton curve of
    // (l_orderkey, l_partkey), read back, 2-D box-filter aggregate.
    // The result is layout-independent (the oracle reads the plain
    // table) — what the layout buys is row-group skipping on BOTH
    // box dimensions, measured in LayoutSpec; here the gate pins that
    // the curve write loses/duplicates no rows.
    "q34_zorder_scan" -> ((s, d) => {
      val dir = tempDir(s"zorder_${d.replaceAll("[^A-Za-z0-9]", "_")}")
      val li = lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      // z-order domain from parquet FOOTER stats (driver metadata IO) —
      // the round-5 form ran two full-table max() scans before the
      // layout write, two extra corpus reads at 100 TB
      val src = s"$d/lineitem.parquet"
      val okRange = graft.operators.Layout.parquetLongRange(s, src, "l_orderkey")
      val pkRange = graft.operators.Layout.parquetLongRange(s, src, "l_partkey")
      graft.operators.Layout.zorderWrite(li, s"$dir/z", "l_orderkey", "l_partkey",
        okRange, pkRange, bits = 16, partitions = 16)
      s.read.parquet(s"$dir/z")
        .filter(col("l_orderkey") <= 1000 && col("l_partkey") <= 200)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_partkey")
    }),

    // S2/S7 Message.read/to parity: write a slice to CSV and JSON,
    // read both back, verify identical content (round-trip identity).
    "q17_io_roundtrip" -> ((s, d) => {
      val dir = tempDir(s"io_${d.replaceAll("[^A-Za-z0-9]", "_")}")
      val slice = orders(s, d).filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      slice.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
      slice.write.mode("overwrite").json(s"$dir/json")
      val backCsv = s.read.option("header", "true")
        .schema(slice.schema).csv(s"$dir/csv")
      val backJson = s.read.schema(slice.schema).json(s"$dir/json")
      backCsv.unionByName(backJson)
        .groupBy("o_orderkey", "o_orderstatus", "o_totalprice")
        .agg(count(lit(1)).as("n_copies"))
        .orderBy("o_orderkey")
    }),

    // KMV distinct-count sketch vs count(DISTINCT): per-priority
    // distinct ordering customers. k=16384 keeps every gate/bench
    // scale (sf0.1 ≈ 10k distinct custkeys/priority) in the sketch's
    // exact regime, so the DuckDB count(DISTINCT) oracle matches
    // exactly; the estimating regime is pinned by SketchSpec instead.
    // At 100 TB this replaces the distinct-expand shuffle (every
    // distinct VALUE shipped per group) with one 128 KB map-side-
    // combined sketch per group per task.
    "x31_distinct_sketch" -> ((s, d) => {
      import graft.expressions.SketchExpressions._
      orders(s, d)
        .groupBy("o_orderpriority")
        .agg(kmv_estimate(kmv_sketch(col("o_custkey"), 16384))
          .as("n_customers"))
        .orderBy("o_orderpriority")
    }),

    // Exact interpolated percentiles (Spark's percentile ≡ DuckDB's
    // quantile_cont: rank (n−1)·p, linear interpolation — l_quantity's
    // integral values keep the arithmetic float-exact).
    "q36_percentiles" -> ((s, d) => {
      lineitem(s, d).groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.95)").as("p95"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // Explicit GROUPING SETS (A6 beyond cube/rollup): two independent
    // one-dimension rollups + grand total in one pass.
    "q37_grouping_sets" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("__q37_orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
              |FROM __q37_orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin)
    }),

    // Two-level sketch rollup: per-nation customer sketches merged up
    // to per-region estimates WITHOUT re-touching the customer table —
    // the materialized-summary pattern (persist one 128 KB sketch per
    // shard/day, answer distinct-count rollups over any union of them
    // by merging blobs). Merge = sketch-of-union (SketchSpec pins
    // bit-identical binaries), so the rollup is exact here too.
    "x31b_sketch_rollup" -> ((s, d) => {
      import graft.expressions.SketchExpressions._
      val perNation = customer(s, d)
        .groupBy("c_nationkey")
        .agg(kmv_sketch(col("c_custkey"), 16384).as("sk"))
      perNation
        .join(broadcast(nation(s, d).select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_regionkey")
        .agg(kmv_merge(col("sk")).as("sk"))
        .join(broadcast(region(s, d).select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), kmv_estimate(col("sk")).as("n_customers"))
        .orderBy("r_name")
    }),

    // Two-level QUANTILE rollup — the summary family's third leg
    // (KMV = distinct, MG = frequency, KLL = quantiles): per-nation
    // account-balance sketches merge up to regions without re-touching
    // the customer table, then interpolated quantiles read straight
    // off the merged sketches. Group sizes stay under the 16384
    // capacity at every tested SF, so the sketch is in its EXACT
    // regime and the oracle is plain quantile_cont.
    "x40_quantile_rollup" -> ((s, d) => {
      import graft.expressions.QuantileSketchExpressions._
      val perNation = customer(s, d)
        .groupBy("c_nationkey")
        .agg(kll_sketch(col("c_acctbal"), 16384).as("sk"))
      perNation
        .join(broadcast(nation(s, d).select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_regionkey")
        .agg(kll_merge(col("sk")).as("sk"))
        .join(broadcast(region(s, d).select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"),
          round(kll_quantile(col("sk"), 0.25), 6).as("p25"),
          round(kll_quantile(col("sk"), 0.5), 6).as("p50"),
          round(kll_quantile(col("sk"), 0.95), 6).as("p95"),
          kll_n(col("sk")).as("n"))
        .orderBy("r_name")
    }),

    // KLL in its ESTIMATION regime, with the error bound itself under
    // the hash gate (the s9-recall trick): k = 256 on the ~20k-row
    // (sf0.01) / ~200k-row (sf0.1) per-flag lineitem groups, so the
    // compaction ladder fires ~log2(n/k) deep and the estimate is no
    // longer exact. The query re-scans the group to measure each
    // estimate's TRUE rank and emits within_bound =
    // ∀q |rank(est_q) − q·n| ≤ ε·n with ε = 0.02 — the KLL guarantee
    // is a RANK-space bound (value-space error is unbounded for
    // arbitrary distributions), and 0.02 is the SketchSpec pin with
    // ~5× margin over the worst measured error at this k (0.0041 at
    // n = 200k, SCALE.md round 12). The oracle hard-codes
    // within_bound = TRUE next to DuckDB's exact quantile_cont, so a
    // bound violation is a hash mismatch, not a silent estimate drift.
    "x40b_quantile_bound" -> ((s, d) => {
      import graft.expressions.QuantileSketchExpressions._
      val li = lineitem(s, d).select(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("price"))
      val sk = li.groupBy("flag")
        .agg(kll_sketch(col("price"), 256).as("sk"), count(lit(1)).as("n"))
        .select(col("flag"), col("n"),
          kll_quantile(col("sk"), 0.25).as("e25"),
          kll_quantile(col("sk"), 0.5).as("e50"),
          kll_quantile(col("sk"), 0.95).as("e95"))
      // second scan: true ranks of the three estimates + the exact
      // quantiles the oracle reproduces (3-row broadcast, no shuffle
      // beyond the groupBy)
      val checked = li.join(broadcast(sk), Seq("flag"))
        .groupBy("flag", "n", "e25", "e50", "e95")
        .agg(
          sum(when(col("price") <= col("e25"), 1L).otherwise(0L)).as("r25"),
          sum(when(col("price") <= col("e50"), 1L).otherwise(0L)).as("r50"),
          sum(when(col("price") <= col("e95"), 1L).otherwise(0L)).as("r95"),
          round(expr("percentile(price, 0.25)"), 6).as("p25"),
          round(expr("percentile(price, 0.5)"), 6).as("p50"),
          round(expr("percentile(price, 0.95)"), 6).as("p95"))
      def ok(r: org.apache.spark.sql.Column, q: Double): org.apache.spark.sql.Column =
        abs(r.cast("double") - lit(q) * col("n")) <= lit(0.02) * col("n")
      checked.select(col("flag"), col("n"), col("p25"), col("p50"), col("p95"),
        (ok(col("r25"), 0.25) && ok(col("r50"), 0.5) &&
          ok(col("r95"), 0.95)).as("within_bound"))
        .orderBy("flag")
    })
  )

  def oracles: Map[String, String] = Map(
    "q12_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q13_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q14_rank_ntile" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    CAST(RANK() OVER w AS INT) AS rnk,
        |    CAST(DENSE_RANK() OVER w AS INT) AS drnk,
        |    CAST(NTILE(4) OVER w AS INT) AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey))
        |SELECT * FROM t WHERE rnk <= 20
        |ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin,
    "q15_dates" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2, 3 ORDER BY y, m, dow""".stripMargin,
    "q16_strings" ->
      """SELECT p_partkey, UPPER(p_name) AS u, CAST(LENGTH(p_name) AS INT) AS len,
        |  substr(p_name, 1, 5) AS pfx,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS novowels,
        |  p_brand || '|' || p_type AS bt
        |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin,
    "q25_left_join_dist" ->
      """WITH cc AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM cc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q26_exists_range" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '1996-06-01')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q22_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS med,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS price_q1
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q23_edit_distance" ->
      """SELECT x.p_partkey AS a, y.p_partkey AS b,
        |  CAST(levenshtein(x.p_name, y.p_name) AS INT) AS dist
        |FROM part x JOIN part y ON x.p_partkey < y.p_partkey
        |WHERE x.p_partkey <= 100 AND y.p_partkey <= 100
        |  AND levenshtein(x.p_name, y.p_name) <= 12
        |ORDER BY a, b""".stripMargin,
    "q24_histogram" ->
      """SELECT CAST(floor(value / 5.0) AS INT) AS bin, COUNT(*) AS n,
        |  MIN(value) AS lo, MAX(value) AS hi
        |FROM events GROUP BY 1 ORDER BY bin""".stripMargin,
    "q20_star6" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1994-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q21_subquery" ->
      """WITH ap AS (
        |  SELECT l_partkey AS ap_partkey,
        |    (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 0.8 AS avg80
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n
        |FROM lineitem JOIN ap ON l_partkey = ap_partkey
        |WHERE l_quantity < avg80""".stripMargin,
    "q19_json" ->
      """SELECT CAST(CAST(json_extract(props, '$.k') AS INT) % 10 AS INT) AS k_mod,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin,
    "p3_labeler" ->
      """WITH nlab AS (SELECT COUNT(DISTINCT o_orderstatus) AS c FROM orders),
        | lab AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(DENSE_RANK() OVER (ORDER BY o_orderstatus) - 1 AS INT) AS label_id
        |  FROM orders)
        |SELECT o_orderkey, o_orderstatus, label_id,
        |  array_to_string(list_transform(generate_series(0, CAST(nlab.c AS INT) - 1),
        |    i -> CASE WHEN i = label_id THEN 1 ELSE 0 END), ',') AS onehot
        |FROM lab, nlab WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin,
    "q32_null_semantics" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey % 100 END AS k
        |  FROM customer),
        | g AS (SELECT k, COUNT(*) AS n, COUNT(k) AS n_nonnull_k FROM t GROUP BY k),
        | j AS (SELECT COUNT(*) AS join_rows FROM t a JOIN t b ON a.k = b.k)
        |SELECT g.k, g.n, g.n_nonnull_k, j.join_rows
        |FROM g, j ORDER BY k NULLS FIRST""".stripMargin,
    "q31_upsert" ->
      """WITH changes AS (
        |  SELECT c_custkey, c_name,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) + CAST(100.0 AS DECIMAL(18,2)) AS DOUBLE) AS c_acctbal
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT 900001, 'NEW A', 10.0
        |  UNION ALL SELECT 900002, 'NEW B', 20.0)
        |SELECT COALESCE(c.c_custkey, b.c_custkey) AS c_custkey,
        |  COALESCE(c.c_name, b.c_name) AS c_name,
        |  COALESCE(c.c_acctbal, b.c_acctbal) AS c_acctbal
        |FROM customer b FULL OUTER JOIN changes c ON b.c_custkey = c.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q30_variant" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q29_partitioned_scan" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q27_weighted_sample" ->
      """WITH t AS (
        |  SELECT event_id, value,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |      / pow(16.0, 13.0) AS u
        |  FROM events)
        |SELECT event_id, value, round(u, 6) AS u FROM t
        |WHERE u < value / 400.0 ORDER BY event_id""".stripMargin,
    "q28_bloom_prune" ->
      """SELECT l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 5)
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q18_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_quantity,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x8_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        | tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM toks WHERE token <> ''
        |  GROUP BY 1, 2),
        | nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        | dfq AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY 1),
        | s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    round(CAST(tf.tf AS DOUBLE) * ln(nn.n / dfq.df), 6) AS tfidf
        |  FROM tf JOIN dfq USING (token), nn
        |  WHERE tf.doc_id < 20),
        | r AS (
        |  SELECT doc_id, token, tf, tfidf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rnk
        |  FROM s)
        |SELECT doc_id, token, tf, tfidf, rnk FROM r WHERE rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin,
    "q17_io_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(2 AS BIGINT) AS n_copies
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin,
    "q33_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem WHERE l_orderkey <= 4000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q34_zorder_scan" ->
      """SELECT l_partkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem WHERE l_orderkey <= 1000 AND l_partkey <= 200
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,
    "q36_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.95) AS p95,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q37_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "x31_distinct_sketch" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x31b_sketch_rollup" ->
      """SELECT r_name,
        |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "x40_quantile_rollup" ->
      """SELECT r_name,
        |  round(quantile_cont(c_acctbal, 0.25), 6) AS p25,
        |  round(quantile_cont(c_acctbal, 0.5), 6) AS p50,
        |  round(quantile_cont(c_acctbal, 0.95), 6) AS p95,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "x40b_quantile_bound" ->
      """SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
