package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.frame.Frame
import graft.operators.{Junctions, Pipes}
import graft.prep.{Normalizer, Preprocessing}

/** Queries exercising the Pipe/Junction/Preprocessing layer
  * (SURVEY §2.3-2.7: P1-P4, O1-O5, J1-J4, A1, U15).
  */
object PipeQueries {

  /** lineitem as a Frame, memoized+persisted per scale dir (the
    * FrameQueries discipline, over three columns). */
  private def liFrame(s: SparkSession, d: String): Frame =
    graft.DfMemo("pipe_lineitem", d, s)((f: Frame) => f.df.unpersist(blocking = false))(
      Frame.fromDF(
        lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity"),
        Seq("l_orderkey", "l_linenumber", "l_quantity")).cache())

  private val oraclePrefix =
    """WITH f AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity,
      |    CAST(ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity) - 1 AS BIGINT) AS src
      |  FROM lineitem)
      |""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1+P2: FunctionPipe / Title2LabelPipe composition.
    "p2_title_label" -> ((s, d) => {
      val f = liFrame(s, d).slice(0L, 100L)
      Pipes.function(Pipes.title2label(f, "train")) { df =>
        df.withColumn("qty2",
          (col("l_quantity").cast("decimal(18,2)") * 2).cast("double"))
      }.ordered
    }),

    // O1: engine-agnostic deterministic shuffle (md5-keyed permutation).
    "o1_shuffle_hash" -> ((s, d) => {
      val f = liFrame(s, d).slice(0L, 1000L).dropCols("l_quantity")
      Pipes.shuffleByHash(f, Seq("l_orderkey", "l_linenumber")).ordered
    }),

    // O2: minibatching — batch ids over the positional index, ragged tail dropped.
    "o2_batching" -> ((s, d) => {
      val f = liFrame(s, d).slice(0L, 1000L)
      Pipes.withBatches(f, 64L, 1000L).df
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n"),
          min(Frame.IDX).as("first_idx"), max(Frame.IDX).as("last_idx"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("batch_id")
    }),

    // O3: RepeaterPipe — epoch-major virtual oversampling.
    "o3_repeat" -> ((s, d) => {
      Pipes.repeat(liFrame(s, d).slice(0L, 10L), 3, 10L).ordered
    }),

    // U15: deterministic key-mod train/test split.
    "u15_split_mod" -> ((s, d) => {
      val f = liFrame(s, d).slice(0L, 2000L)
      val (train, test) = Preprocessing.splitByMod(f, "l_orderkey", 5, 0)
      train.df.withColumn("tag", lit("train"))
        .unionByName(test.df.withColumn("tag", lit("test")))
        .groupBy("tag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("tag")
    }),

    // A1: Normalizer — exact two-phase z-score (fit once, broadcast μ/σ).
    "a1_normalize" -> ((s, d) => {
      val f = liFrame(s, d).slice(0L, 1000L)
      val model = Normalizer.fit(f.df, Seq("l_quantity"))
      model.transform(f.df)
        .select(col(Frame.IDX), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("qty_norm"))
        .orderBy(Frame.IDX)
    }),

    // J3: ClockworkHub round-robin interleave of three equal sources.
    "j3_roundrobin" -> ((s, d) => {
      val f = liFrame(s, d)
      val parts = Seq(f.slice(0L, 50L), f.slice(50L, 100L), f.slice(100L, 150L))
      Junctions.roundRobin(parts).ordered
    }),

    // Stratified sampling (class-balanced subsets): deterministic
    // md5-rank variant — the exact same rows are chosen at any
    // parallelism and by the oracle.
    "x10_stratified" -> ((s, d) => {
      Preprocessing.stratifiedSampleByHash(
        orders(s, d).select("o_orderkey", "o_orderpriority"),
        "o_orderpriority", Seq("o_orderkey"), fraction = 0.1, seed = "42")
        .orderBy("o_orderkey")
    })
  )

  def oracles: Map[String, String] = Map(
    "p2_title_label" -> (oraclePrefix +
      """SELECT l_orderkey, l_linenumber, l_quantity, src AS _idx, 'train' AS labels,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 2 AS DOUBLE) AS qty2
        |FROM f WHERE src < 100 ORDER BY _idx""".stripMargin),
    "o1_shuffle_hash" -> (oraclePrefix +
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))) - 1 AS BIGINT) AS _idx
        |FROM f WHERE src < 1000 ORDER BY _idx""".stripMargin),
    "o2_batching" -> (oraclePrefix +
      """SELECT CAST(src // 64 AS BIGINT) AS batch_id, COUNT(*) AS n,
        |  MIN(src) AS first_idx, MAX(src) AS last_idx,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM f WHERE src < 960
        |GROUP BY 1 ORDER BY batch_id""".stripMargin),
    "o3_repeat" -> (oraclePrefix +
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST(e.g * 10 + src AS BIGINT) AS _idx
        |FROM f, generate_series(0, 2) e(g) WHERE src < 10 ORDER BY _idx""".stripMargin),
    "u15_split_mod" -> (oraclePrefix +
      """SELECT CASE WHEN l_orderkey % 5 = 0 THEN 'test' ELSE 'train' END AS tag,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM f WHERE src < 2000 GROUP BY 1 ORDER BY tag""".stripMargin),
    "a1_normalize" -> (oraclePrefix +
      """, s AS (SELECT * FROM f WHERE src < 1000),
        |  m AS (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mu,
        |               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS msq,
        |               COUNT(*) AS n FROM s)
        |SELECT s.src AS _idx, s.l_orderkey, s.l_linenumber,
        |  (s.l_quantity - m.mu) / sqrt(m.msq - m.mu * m.mu) AS qty_norm
        |FROM s, m ORDER BY _idx""".stripMargin),
    "j3_roundrobin" -> (oraclePrefix +
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST((src % 50) * 3 + (src // 50) AS BIGINT) AS _idx
        |FROM f WHERE src < 150 ORDER BY _idx""".stripMargin),
    "x10_stratified" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY md5('42:' || CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rk,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT o_orderkey, o_orderpriority FROM t
        |WHERE rk <= CEIL(0.1 * n) ORDER BY o_orderkey""".stripMargin
  )
}
