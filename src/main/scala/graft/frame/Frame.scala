package graft.frame

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** Positional-index table: the Spark-native equivalent of the
  * reference's `Message` (reference: fireworks/core/message.py:19-63).
  *
  * A `Frame` is a `DataFrame` carrying a dense positional index column
  * `_idx: Long` (0..n-1). The reference indexes rows only by position
  * (message.py:417-421 resets the pandas index on every slice); Spark
  * DataFrames have no row order, so the index is materialized as data.
  *
  * Scale design:
  *  - `_idx` is assigned with a distributed two-phase rank: range
  *    repartition + in-partition sort + `RDD.zipWithIndex` (one extra
  *    lightweight job to compute partition offsets). There is NO
  *    single-partition global window anywhere — this holds at 1000
  *    executors / 100 TB, unlike `row_number().over(Window.orderBy(…))`.
  *  - arbitrary-order gathers (select/permute) broadcast the index→rank
  *    mapping and hash-join on `_idx`; for mappings too large to
  *    broadcast, `selectByMap` accepts a DataFrame and shuffles both
  *    sides on `_idx`.
  *  - all operations are copy-on-write lazy plans (the reference
  *    mutates in place; SURVEY §7.5.3).
  */
final class Frame private[frame] (val df: DataFrame) extends Serializable {
  import Frame._

  def spark: SparkSession = df.sparkSession

  /** Data columns (without the positional index). */
  def columns: Seq[String] = df.columns.filterNot(_ == IDX).toSeq

  /** M13: length. */
  def length: Long = df.count()

  /** M14: column membership. */
  def contains(name: String): Boolean = columns.contains(name)

  /** M1/M10: order-preserving gather by explicit positions. `select(Seq(5,1,3))`
    * returns a 3-row Frame whose row 0 is input row 5 — arbitrary order
    * preserved via a broadcast (src→rank) mapping join (reference:
    * message.py:366-421, permute message.py:736-764).
    */
  def select(indices: Seq[Long]): Frame = {
    val mapping = spark.createDataFrame(
      indices.zipWithIndex.map { case (s, r) => SrcRank(s, r.toLong) })
    selectByMap(broadcast(mapping.toDF("__src", "__rank")))
  }

  /** M1 at scale: gather via an arbitrary mapping DataFrame with columns
    * (__src: Long, __rank: Long). Caller controls broadcast vs shuffle.
    */
  def selectByMap(mapping: DataFrame): Frame = {
    val joined = df.join(mapping, df(IDX) === mapping("__src"))
      .drop(IDX, "__src")
      .withColumnRenamed("__rank", IDX)
    new Frame(joined)
  }

  /** M2: boolean-mask select; surviving rows are renumbered 0..m-1
    * preserving original relative order (message.py:401-404). */
  def mask(cond: Column): Frame = reindex(df.filter(cond))

  /** M3: column projection (keeps `_idx`). */
  def cols(names: String*): Frame =
    new Frame(df.select((IDX +: names).map(col): _*))

  /** M4: column set/update — `when(cond, value)` per column, preserving
    * the untouched rows (message.py:423-477). Copy-on-write. */
  def update(cond: Column, assignments: (String, Column)*): Frame =
    new Frame(assignments.foldLeft(df) { case (d, (name, value)) =>
      if (d.columns.contains(name))
        d.withColumn(name, when(cond, value).otherwise(col(name)))
      else d.withColumn(name, when(cond, value))
    })

  /** M9: per-column map (message.py:639-658). */
  def mapCols(fns: (String, Column => Column)*): Frame =
    new Frame(fns.foldLeft(df) { case (d, (name, fn)) =>
      d.withColumn(name, fn(col(name)))
    })

  /** M5: delete columns. */
  def dropCols(names: String*): Frame = new Frame(df.drop(names: _*))

  /** M6: delete rows by position; remainder renumbered densely
    * (message.py:496-537 "complement-index rebuild"). */
  def delete(indices: Seq[Long]): Frame =
    if (indices.size <= MaxBroadcastIndexList) mask(!col(IDX).isin(indices: _*))
    else {
      val del = spark.createDataFrame(indices.map(DelIdx))
      reindex(df.join(del, df(IDX) === del("__del"), "left_anti"))
    }

  /** M7/M15: vertical union; appended rows renumbered after this frame's
    * (message.py:594-611). Costs one `count()` on the left side. */
  def append(other: Frame): Frame = {
    val offset = length
    new Frame(df.unionByName(
      other.df.withColumn(IDX, col(IDX) + lit(offset))))
  }

  /** M8/M16: horizontal merge of disjoint column sets by position — the
    * reference's only join (message.py:618-637): an equi-join on `_idx`.
    * Both sides shuffle on `_idx`; co-partitioned inputs avoid it. */
  def merge(other: Frame): Frame = {
    val dup = other.columns.toSet.intersect(columns.toSet)
    require(dup.isEmpty, s"merge requires disjoint columns, both have: $dup")
    new Frame(df.join(other.df, Seq(IDX)))
  }

  /** M10: permutation (alias of order-preserving gather). */
  def permute(perm: Seq[Long]): Frame = select(perm)

  /** O6: contiguous slice [start, end) — pure filter + constant shift,
    * no shuffle, no renumber job. */
  def slice(start: Long, end: Long): Frame =
    new Frame(df.filter(col(IDX) >= start && col(IDX) < end)
      .withColumn(IDX, col(IDX) - lit(start)))

  /** M12: positional equality (same columns, same rows at same `_idx`). */
  def sameAs(other: Frame): Boolean = {
    if (columns.sorted != other.columns.sorted) return false
    val a = df.select(df.columns.sorted.toIndexedSeq.map(col): _*)
    val b = other.df.select(other.df.columns.sorted.toIndexedSeq.map(col): _*)
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
  }

  /** M11: row iteration in positional order (driver-side sink;
    * streams one partition at a time). */
  def iterator: Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    ordered.toLocalIterator().asScala
  }

  /** The DataFrame in positional order (for sinks/tests). */
  def ordered: DataFrame = df.orderBy(IDX)

  /** C1: materialize (reference CachingPipe → Spark block manager). */
  def cache(): Frame = { df.persist(); this }
  def unpersist(): Frame = { df.unpersist(); this }

  /** M20 snapshot (reference: tar.gz of parquet + tensor pickles,
    * message.py:237-302): one parquet directory, schema travels with
    * the data, `_idx` preserved. */
  def save(path: String): Unit = df.write.mode("overwrite").parquet(path)
}

object Frame {
  val IDX = "_idx"

  /** Index lists up to this size are inlined as `isin` literals /
    * broadcast local mappings; beyond it callers should use
    * `selectByMap` with a distributed mapping. */
  val MaxBroadcastIndexList = 100000

  private case class SrcRank(__src: Long, __rank: Long)
  private case class DelIdx(__del: Long)

  /** Build a Frame from a DataFrame, assigning `_idx` by the total
    * order of `orderCols` (must be a unique key for determinism).
    *
    * Distributed rank: range-repartition on the key (so partition p
    * holds a contiguous key range), sort within partitions, then
    * `zipWithIndex` (computes per-partition offsets with one small
    * count job). Equivalent to `row_number() over (order by k) - 1`
    * but without a single-partition window.
    */
  def fromDF(df: DataFrame, orderCols: Seq[String]): Frame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val cols = orderCols.map(col)
    val sorted = df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
    new Frame(zipIdx(sorted))
  }

  /** Re-assign a dense `_idx` preserving the existing `_idx` order
    * (after filters/deletes). */
  private[frame] def reindex(df: DataFrame): Frame = {
    val sorted = df.repartitionByRange(col(IDX)).sortWithinPartitions(col(IDX))
      .drop(IDX)
    new Frame(zipIdx(sorted))
  }

  /** Public renumbering entry: dense `_idx` preserving the existing
    * `_idx` order of a (possibly filtered) indexed DataFrame. */
  def reindexPreservingOrder(df: DataFrame): Frame = reindex(df)

  /** Wrap a DataFrame that already carries a valid dense `_idx`. */
  def fromIndexed(df: DataFrame): Frame = {
    require(df.columns.contains(IDX), s"missing $IDX column")
    new Frame(df)
  }

  /** M20: load a snapshot written by `save`. */
  def load(spark: SparkSession, path: String): Frame =
    fromIndexed(spark.read.parquet(path))

  /** M21 from_objects (message.py:118-154): wrap named blobs as a
    * single-row Frame — each value becomes an array cell on row 0
    * (the reference's model-state serialization shape). */
  def fromObjects(spark: SparkSession, objects: (String, Array[Double])*): Frame = {
    val schema = StructType(
      objects.map { case (n, _) =>
        StructField(n, ArrayType(DoubleType, containsNull = false))
      } :+ StructField(IDX, LongType, nullable = false))
    val row = Row.fromSeq(objects.map(_._2.toSeq) :+ 0L)
    new Frame(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema))
  }

  /** Small local Frame for tests: rows in given order. */
  def fromLocal(spark: SparkSession, schema: StructType, rows: Seq[Row]): Frame = {
    val withIdx = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }
    val s = StructType(schema.fields :+ StructField(IDX, LongType, nullable = false))
    new Frame(spark.createDataFrame(spark.sparkContext.parallelize(withIdx), s))
  }

  /** Dense global rank over an already range-partitioned + in-partition
    * sorted DataFrame via `RDD.zipWithIndex`.
    *
    * Note: a pure-DataFrame variant (monotonically_increasing_id +
    * per-partition offsets) would avoid the RDD round-trip, but its two
    * actions re-sample the range-partition boundaries independently
    * (RangePartitioner seeds from the RDD id), which can mis-align the
    * offsets. zipWithIndex runs its count job and the main job on ONE
    * RDD lineage, so the partitioning is consistent by construction.
    */
  private[graft] def zipIdx(df: DataFrame): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(IDX, LongType, nullable = false))
    // internal rows end to end: a round trip through external Rows
    // converts and boxes every value twice
    val rdd = df.queryExecution.toRdd.zipWithIndex().mapPartitions[InternalRow] { it =>
      val append = UnsafeProjection.create(schema)
      val joined = new JoinedRow
      val idx = new GenericInternalRow(1)
      it.map { case (r, i) => idx.setLong(0, i); append(joined(r, idx)) }
    }
    ColumnBridge.internalCreateDataFrame(df.sparkSession, rdd, schema)
  }
}
