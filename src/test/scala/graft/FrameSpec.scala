package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.frame.Frame

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with a fresh checkpoint dir set on the shared session
    * (so every [[graft.functions.Lineage.cut]] is a reliable
    * checkpoint) and clears the setting after: all suites share this
    * JVM, and a dir left set would switch every later suite's
    * iterative loops to reliable checkpoints. */
  def withCheckpointDir[T](body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body(dir) finally spark.sparkContext.setCheckpointDir(null)
  }
}

/** Frame positional-algebra laws (mirrors the reference's message_test.py
  * invariants: message.py:315-327 length, 366-421 select, 581-616 permute,
  * 594-611 append, 618-637 merge).
  */
class FrameSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("a", DoubleType), StructField("c", LongType)))

  private def frame(n: Int): Frame =
    Frame.fromLocal(spark, schema,
      (0 until n).map(i => Row(i.toDouble, (i * 10).toLong)))

  private def values(f: Frame): Seq[(Double, Long)] =
    f.ordered.collect().toSeq.map(r =>
      (r.getAs[Double]("a"), r.getAs[Long]("c")))

  test("length and columns") {
    val f = frame(20)
    assert(f.length == 20)
    assert(f.columns.sorted == Seq("a", "c"))
    assert(f.contains("a") && !f.contains("z"))
  }

  test("select preserves requested order including permutations") {
    val f = frame(20)
    assert(values(f.select(Seq(5L, 2L, 8L))) ==
      Seq((5.0, 50L), (2.0, 20L), (8.0, 80L)))
  }

  test("permute round-trip is identity") {
    val f = frame(10)
    val perm = Seq(3L, 1L, 4L, 0L, 9L, 2L, 7L, 5L, 8L, 6L)
    val inverse = perm.zipWithIndex.sortBy(_._1).map(_._2.toLong)
    assert(f.permute(perm).permute(inverse).sameAs(f))
  }

  test("mask renumbers densely preserving relative order") {
    val f = frame(10).mask(col("a") >= 5.0)
    assert(values(f) == (5 until 10).map(i => (i.toDouble, i * 10L)))
    assert(f.ordered.select(Frame.IDX).collect().map(_.getLong(0)).toSeq ==
      (0L until 5L))
  }

  test("delete removes rows and renumbers the complement") {
    val f = frame(10).delete(Seq(2L, 5L))
    assert(values(f) == Seq(0, 1, 3, 4, 6, 7, 8, 9).map(i => (i.toDouble, i * 10L)))
  }

  test("append offsets the right side (cat law: len(a++b) = len(a)+len(b))") {
    val f = frame(5)
    val g = f.append(f)
    assert(g.length == 10)
    assert(values(g) == (values(f) ++ values(f)))
  }

  test("merge is a positional join of disjoint columns") {
    val f = frame(6)
    val m = f.cols("a").merge(f.cols("c"))
    assert(m.sameAs(f))
    intercept[IllegalArgumentException] { f.cols("a").merge(f.cols("a")) }
  }

  test("update is conditional copy-on-write") {
    val f = frame(6).update(col("a") < 3.0, "c" -> lit(-1L))
    assert(values(f) == Seq((0.0, -1L), (1.0, -1L), (2.0, -1L),
      (3.0, 30L), (4.0, 40L), (5.0, 50L)))
  }

  test("column assignment migrates type (reference M4 tensor/df auto-migration)") {
    // the reference moves a column between the tensor and df sides when
    // an assignment changes its type (message.py:443-450); in the
    // unified model a full-column set (mapCols) simply takes the new
    // type, and a partial update promotes via Spark's branch coercion
    val full = frame(3).mapCols("c" -> (c => concat(lit("v"), c)))
    assert(full.df.schema("c").dataType == org.apache.spark.sql.types.StringType)
    assert(full.ordered.select("c").collect().map(_.getString(0)).toSeq ==
      Seq("v0", "v10", "v20"))
    // partial update with a wider numeric type promotes the whole column
    val partial = frame(3).update(col("a") < 1.0, "c" -> lit(0.5))
    assert(partial.df.schema("c").dataType == org.apache.spark.sql.types.DoubleType)
    assert(partial.ordered.select("c").collect().map(_.getDouble(0)).toSeq ==
      Seq(0.5, 10.0, 20.0))
  }

  test("slice is a zero-shuffle range view") {
    val f = frame(10).slice(3L, 7L)
    assert(values(f) == (3 until 7).map(i => (i.toDouble, i * 10L)))
  }

  test("snapshot save/load round-trips (M20)") {
    val dir = java.nio.file.Files.createTempDirectory("framesnap").toString + "/snap"
    val f = frame(12)
    f.save(dir)
    assert(Frame.load(spark, dir).sameAs(f))
  }

  test("fromObjects wraps blobs as a single-row Frame (M21)") {
    val f = Frame.fromObjects(spark, "weights" -> Array(1.0, 2.0), "bias" -> Array(0.5))
    assert(f.length == 1)
    val r = f.ordered.head()
    assert(r.getAs[scala.collection.Seq[Double]]("weights").toSeq == Seq(1.0, 2.0))
    assert(r.getAs[scala.collection.Seq[Double]]("bias").toSeq == Seq(0.5))
  }

  test("fromDF assigns _idx by key order with the distributed rank") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(3L, "c"), Row(1L, "a"), Row(2L, "b")), 3),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))))
    val f = Frame.fromDF(df, Seq("k"))
    assert(f.ordered.select("v").collect().map(_.getString(0)).toSeq ==
      Seq("a", "b", "c"))
  }

  test("zipIdx appends a dense _idx and keeps every row, as the external-Row form did") {
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("img", ArrayType(FloatType)), StructField("s", StringType)))
    val rows = (0 until 200).map { i =>
      Row((i * 7919L) % 1009L,
        if (i % 13 == 0) null else Seq(i.toFloat, -0.0f, Float.NaN),
        if (i % 5 == 0) null else s"r$i ü")
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val sorted = df.repartitionByRange(col("k")).sortWithinPartitions(col("k"))
    val got = Frame.zipIdx(sorted)
    // the form it replaced: every row through an external Row and back
    val idxSchema = StructType(schema.fields :+ StructField(Frame.IDX, LongType, nullable = false))
    val old = spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }, idxSchema)
    assert(got.schema == idxSchema)
    val idx = got.select(Frame.IDX).collect().map(_.getLong(0)).sorted.toSeq
    assert(idx == (0L until 200L))
    assert(got.exceptAll(old).isEmpty && old.exceptAll(got).isEmpty)
    // _idx follows the key order
    val keys = got.orderBy(Frame.IDX).select("k").collect().map(_.getLong(0)).toSeq
    assert(keys == keys.sorted)
  }
}
