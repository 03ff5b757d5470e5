package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.expressions.HashExpressions._

/** SQL registration for the native kernels, both as a
  * `SparkSessionExtensions` installer (`.withExtensions(new
  * GraftExtensions)`) and as a runtime registrar for an existing
  * session. After registration the kernels are callable from
  * `spark.sql`: `SELECT simhash32(split(text, ' ')) FROM docs`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[HashExpressions.type].getName, name),
        builder))
    }
}

object GraftExtensions {

  /** Arity gate with a usage hint — wrong-arity SQL must raise a
    * legible argument error, not the builder's
    * IndexOutOfBoundsException (the bounded_topk fix, applied to every
    * registered function). */
  private def arity(exprs: Seq[Expression], fn: String, min: Int, max: Int,
                    usage: String): Unit =
    if (exprs.length < min || exprs.length > max) {
      val want = if (min == max) s"exactly $min" else s"$min to $max"
      throw new IllegalArgumentException(
        s"$fn expects $want arguments, got ${exprs.length} — e.g. $usage")
    }

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int argument, got: $other")
  }

  private def doubleArg(e: Expression, fn: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal numeric argument, got: $other")
  }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_signature" -> (exprs => {
      arity(exprs, "minhash_signature", 2, 2, "minhash_signature(shingles, 64)")
      MinHashSignature(exprs.head, intArg(exprs(1), "minhash_signature"))
    }),
    "simhash32" -> (exprs => {
      arity(exprs, "simhash32", 1, 1, "simhash32(tokens)")
      SimHash32(exprs.head)
    }),
    "double_dot" -> (exprs => {
      arity(exprs, "double_dot", 2, 2, "double_dot(vec_a, vec_b)")
      DoubleDot(exprs.head, exprs(1))
    }),
    "sorted_jaccard" -> (exprs => {
      arity(exprs, "sorted_jaccard", 2, 2, "sorted_jaccard(set_a, set_b)")
      SortedJaccard(exprs.head, exprs(1))
    }),
    "sorted_intersect_count" -> (exprs => {
      arity(exprs, "sorted_intersect_count", 2, 2, "sorted_intersect_count(set_a, set_b)")
      SortedIntersectCount(exprs.head, exprs(1))
    }),
    "sorted_long_jaccard" -> (exprs => {
      arity(exprs, "sorted_long_jaccard", 2, 2, "sorted_long_jaccard(set_a, set_b)")
      SortedLongJaccard(exprs.head, exprs(1))
    }),
    "sorted_long_intersect_count" -> (exprs => {
      arity(exprs, "sorted_long_intersect_count", 2, 2,
        "sorted_long_intersect_count(set_a, set_b)")
      SortedLongIntersectCount(exprs.head, exprs(1))
    }),
    "double_l2_squared" -> (exprs => {
      arity(exprs, "double_l2_squared", 2, 2, "double_l2_squared(vec_a, vec_b)")
      DoubleL2Squared(exprs.head, exprs(1))
    }),
    "hashed_set40" -> (exprs => {
      arity(exprs, "hashed_set40", 1, 1, "hashed_set40(shingles)")
      HashedSet40(exprs.head)
    }),
    "word_shingles" -> (exprs => {
      arity(exprs, "word_shingles", 2, 2, "word_shingles(text, 3)")
      ShingleExpressions.WordShingles(exprs.head, intArg(exprs(1), "word_shingles"))
    }),
    "char_shingles" -> (exprs => {
      arity(exprs, "char_shingles", 2, 2, "char_shingles(text, 5)")
      ShingleExpressions.CharShingles(exprs.head, intArg(exprs(1), "char_shingles"))
    }),
    // aggregate: k smallest `ord` values' payloads, ascending —
    // SELECT bounded_topk(struct(-score, id), struct(id, score), 5)
    "bounded_topk" -> (exprs => {
      arity(exprs, "bounded_topk", 3, 3,
        "bounded_topk(struct(-score, id), struct(id, score), 5)")
      BoundedTopK(exprs.head, exprs(1),
        intArg(exprs(2), "bounded_topk")).toAggregateExpression()
    }),
    // the mergeable-sketch family (SketchExpressions / FreqSketch-
    // Expressions): distinct-count, set overlap, frequent items
    "kmv_sketch" -> (exprs => {
      arity(exprs, "kmv_sketch", 2, 2, "kmv_sketch(user_id, 16384)")
      SketchExpressions.KmvSketchAgg(exprs.head,
        intArg(exprs(1), "kmv_sketch")).toAggregateExpression()
    }),
    "kmv_merge" -> (exprs => {
      arity(exprs, "kmv_merge", 1, 1, "kmv_merge(sketch)")
      SketchExpressions.KmvMergeAgg(exprs.head).toAggregateExpression()
    }),
    "kmv_estimate" -> (exprs => {
      arity(exprs, "kmv_estimate", 1, 1, "kmv_estimate(sketch)")
      SketchExpressions.KmvEstimate(exprs.head)
    }),
    "kmv_union" -> (exprs => {
      arity(exprs, "kmv_union", 2, 2, "kmv_union(sketch_a, sketch_b)")
      SketchExpressions.KmvUnion(exprs.head, exprs(1))
    }),
    "kmv_intersect" -> (exprs => {
      arity(exprs, "kmv_intersect", 2, 2, "kmv_intersect(sketch_a, sketch_b)")
      SketchExpressions.KmvIntersect(exprs.head, exprs(1))
    }),
    "mg_sketch" -> (exprs => {
      arity(exprs, "mg_sketch", 2, 2, "mg_sketch(token, 4096)")
      FreqSketchExpressions.MgSketchAgg(exprs.head,
        intArg(exprs(1), "mg_sketch")).toAggregateExpression()
    }),
    "mg_merge" -> (exprs => {
      arity(exprs, "mg_merge", 1, 1, "mg_merge(sketch)")
      FreqSketchExpressions.MgMergeAgg(exprs.head).toAggregateExpression()
    }),
    "mg_topk" -> (exprs => {
      arity(exprs, "mg_topk", 2, 2, "mg_topk(sketch, 10)")
      FreqSketchExpressions.MgTopK(exprs.head, intArg(exprs(1), "mg_topk"))
    }),
    "kll_sketch" -> (exprs => {
      arity(exprs, "kll_sketch", 2, 2, "kll_sketch(latency, 16384)")
      QuantileSketchExpressions.KllSketchAgg(
        org.apache.spark.sql.catalyst.expressions.Cast(
          exprs.head, org.apache.spark.sql.types.DoubleType),
        intArg(exprs(1), "kll_sketch")).toAggregateExpression()
    }),
    "kll_merge" -> (exprs => {
      arity(exprs, "kll_merge", 1, 1, "kll_merge(sketch)")
      QuantileSketchExpressions.KllMergeAgg(exprs.head).toAggregateExpression()
    }),
    "kll_quantile" -> (exprs => {
      arity(exprs, "kll_quantile", 2, 2, "kll_quantile(sketch, 0.95)")
      QuantileSketchExpressions.KllQuantile(exprs.head,
        doubleArg(exprs(1), "kll_quantile"))
    }),
    "kll_n" -> (exprs => {
      arity(exprs, "kll_n", 1, 1, "kll_n(sketch)")
      QuantileSketchExpressions.KllCount(exprs.head)
    }),
    // perceptual hashes (real BMP-pixel / WAV-PCM decode)
    "image_ahash64" -> (exprs => {
      arity(exprs, "image_ahash64", 1, 1, "image_ahash64(payload)")
      MediaExpressions.ImageAHash64(exprs.head)
    }),
    "audio_hash64" -> (exprs => {
      arity(exprs, "audio_hash64", 1, 1, "audio_hash64(payload)")
      MediaExpressions.AudioHash64(exprs.head)
    })
  )

  /** Register into an already-built session (tests, REPLs). */
  def registerAll(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
