package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.frame.Frame

/** Queries exercising the Frame positional-index algebra (SURVEY §2.1,
  * operators M1-M16) against DuckDB oracles.
  *
  * `_idx` semantics are replicated in SQL as
  * `ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag) - 1` — the
  * Frame side computes the same rank with the distributed zipWithIndex
  * path, so these queries verify that the scale-safe implementation
  * agrees with the windowed definition.
  */
object FrameQueries {

  /** lineitem as a Frame, memoized+persisted per scale dir: the many
    * fm* queries share one _idx materialization within a session.
    * Bounded by the number of scale dirs touched. */
  private def liFrame(s: SparkSession, d: String): Frame =
    graft.DfMemo("fm_lineitem", d, s)((f: Frame) => f.df.unpersist(blocking = false))(
      Frame.fromDF(
        lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")).cache())

  private val oraclePrefix =
    """WITH f AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
      |    CAST(ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag) - 1 AS BIGINT) AS src
      |  FROM lineitem)
      |""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M1+M10: order-preserving arbitrary-index gather.
    "fm1_row_select" -> ((s, d) => {
      liFrame(s, d).select(Seq(5L, 1L, 3L, 1000L, 17L)).ordered
    }),

    // M2: boolean-mask select with dense renumbering.
    "fm2_mask" -> ((s, d) => {
      liFrame(s, d).mask(col("l_quantity") > 45.0).ordered
    }),

    // M3+M5: column projection / deletion.
    "fm3_cols" -> ((s, d) => {
      liFrame(s, d).cols("l_orderkey", "l_quantity").slice(0L, 100L).ordered
    }),

    // M4: conditional point/range update (copy-on-write).
    "fm4_update" -> ((s, d) => {
      liFrame(s, d)
        .update(col("l_returnflag") === "R", "l_quantity" -> lit(0.0))
        .slice(0L, 500L).ordered
    }),

    // M6: row deletion + complement renumbering.
    "fm6_delete" -> ((s, d) => {
      liFrame(s, d).slice(0L, 300L).delete(100L until 200L).ordered
    }),

    // M7: vertical append with offset renumbering.
    "fm7_append" -> ((s, d) => {
      val f = liFrame(s, d)
      f.slice(0L, 50L).append(f.slice(1000L, 1050L)).ordered
    }),

    // M8: positional horizontal merge (the reference's only join).
    "fm8_merge" -> ((s, d) => {
      val f = liFrame(s, d).slice(0L, 1000L)
      val left  = f.cols("l_orderkey", "l_linenumber")
      val right = f.cols("l_quantity", "l_returnflag")
      left.merge(right).ordered
    }),

    // M9: per-column map.
    "fm9_map" -> ((s, d) => {
      liFrame(s, d).slice(0L, 200L)
        .mapCols(
          "l_quantity" -> (c => (c.cast("decimal(18,2)") * 2 + 1).cast("double")),
          "l_returnflag" -> (c => lower(c)))
        .ordered
    }),

    // M10: explicit permutation (reverse of a 100-row slice).
    "fm10_permute" -> ((s, d) => {
      liFrame(s, d).slice(0L, 100L).permute((99L to 0L by -1L)).ordered
    }),

    // M17 N-D tensor columns (message.py:1036-1038): pack six lineitem
    // measures into a flat vector, reshape 2×3 and 3×2×1, then exercise
    // row/column/slice/transpose/flatten and checksum each view with a
    // sequential fold. The oracle recomputes every checksum as explicit
    // left-to-right additions — same IEEE op order, bit-exact, no
    // rounding (scalar outputs only: the comparator can't hash arrays).
    "fm17_ndtensor" -> ((s, d) => {
      import graft.functions.TensorColumn._
      lineitem(s, d).filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax"), col("l_linenumber").cast("double"),
            col("l_partkey").cast("double")).as("flat"))
        .withColumn("m", reshape2d(col("flat"), 2, 3))
        .withColumn("t3", reshape3d(col("flat"), 3, 2, 1))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          element_at(shape2d(col("m")), 1).as("shape_rows"),
          element_at(shape2d(col("m")), 2).as("shape_cols"),
          sumElements(matrixRow(col("m"), 0)).as("r0_sum"),
          sumElements(matrixColumn(col("m"), 0)).as("c0_sum"),
          sumElements(matrixRow(transpose(col("m"), 3), 0)).as("t0_sum"),
          sum2d(slice2d(col("m"), 0, 2, 1, 2)).as("sl_sum"),
          sum2d(matrixRow(col("t3"), 1)).as("slab1_sum"),
          sumElements(flatten2d(col("m"))).as("flat_sum"),
          (flatten3d(col("t3")) === col("flat")).as("roundtrip_ok"))
        .orderBy("l_orderkey", "l_linenumber", "flat_sum")
    })
  )

  def oracles: Map[String, String] = Map(
    "fm1_row_select" -> (oraclePrefix +
      """, m(src, i) AS (VALUES (5, 0), (1, 1), (3, 2), (1000, 3), (17, 4))
        |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, CAST(i AS BIGINT) AS _idx
        |FROM f JOIN m USING (src) ORDER BY _idx""".stripMargin),
    "fm2_mask" -> (oraclePrefix +
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  CAST(ROW_NUMBER() OVER (ORDER BY src) - 1 AS BIGINT) AS _idx
        |FROM f WHERE l_quantity > 45.0 ORDER BY _idx""".stripMargin),
    "fm3_cols" -> (oraclePrefix +
      """SELECT l_orderkey, l_quantity, src AS _idx
        |FROM f WHERE src < 100 ORDER BY _idx""".stripMargin),
    "fm4_update" -> (oraclePrefix +
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_returnflag = 'R' THEN 0.0 ELSE l_quantity END AS l_quantity,
        |  l_returnflag, src AS _idx
        |FROM f WHERE src < 500 ORDER BY _idx""".stripMargin),
    "fm6_delete" -> (oraclePrefix +
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  CAST(CASE WHEN src < 100 THEN src ELSE src - 100 END AS BIGINT) AS _idx
        |FROM f WHERE src < 300 AND (src < 100 OR src >= 200) ORDER BY _idx""".stripMargin),
    "fm7_append" -> (oraclePrefix +
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  CAST(CASE WHEN src < 50 THEN src ELSE src - 1000 + 50 END AS BIGINT) AS _idx
        |FROM f WHERE src < 50 OR (src >= 1000 AND src < 1050) ORDER BY _idx""".stripMargin),
    "fm8_merge" -> (oraclePrefix +
      """SELECT src AS _idx, l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM f WHERE src < 1000 ORDER BY _idx""".stripMargin),
    "fm9_map" -> (oraclePrefix +
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 2 + 1 AS DOUBLE) AS l_quantity,
        |  LOWER(l_returnflag) AS l_returnflag, src AS _idx
        |FROM f WHERE src < 200 ORDER BY _idx""".stripMargin),
    "fm10_permute" -> (oraclePrefix +
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  CAST(99 - src AS BIGINT) AS _idx
        |FROM f WHERE src < 100 ORDER BY _idx""".stripMargin),
    // flat = [q, ep, disc, tax, ln, pk]; m = [[q,ep,disc],[tax,ln,pk]];
    // t3 = [[[q],[ep]],[[disc],[tax]],[[ln],[pk]]]. Additions are written
    // left-to-right to mirror the Spark side's sequential fold exactly.
    "fm17_ndtensor" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(2 AS INTEGER) AS shape_rows, CAST(3 AS INTEGER) AS shape_cols,
        |  l_quantity + l_extendedprice + l_discount AS r0_sum,
        |  l_quantity + l_tax AS c0_sum,
        |  l_quantity + l_tax AS t0_sum,
        |  l_extendedprice + l_discount + CAST(l_linenumber AS DOUBLE) + CAST(l_partkey AS DOUBLE) AS sl_sum,
        |  l_discount + l_tax AS slab1_sum,
        |  l_quantity + l_extendedprice + l_discount + l_tax + CAST(l_linenumber AS DOUBLE) + CAST(l_partkey AS DOUBLE) AS flat_sum,
        |  TRUE AS roundtrip_ok
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber, flat_sum""".stripMargin
  )
}
