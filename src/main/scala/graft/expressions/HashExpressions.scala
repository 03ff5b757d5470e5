package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native hash-sketch kernels as Catalyst expressions.
  *
  * The higher-order-function formulations in DedupFunctions are the
  * semantic reference (and what the DuckDB oracles replicate), but
  * Spark evaluates HOF lambdas interpreted, one invocation per
  * element×hash — ~100M lambda evals for a 5k-doc MinHash pass. These
  * expressions compute the identical values in a tight JVM loop: one
  * md5 per shingle/token, k min-updates inline. Same bytes out, ~10-30×
  * less wall-clock (measured at sf0.1).
  */
object HashExpressions {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 40-bit big-endian value of digest bytes [off, off+5) — equal to
    * conv(substr(hex, off*2+1, 10), 16, 10). */
  @inline private def bits40(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xffL) << 32) | ((d(off + 1) & 0xffL) << 24) |
      ((d(off + 2) & 0xffL) << 16) | ((d(off + 3) & 0xffL) << 8) |
      (d(off + 4) & 0xffL)

  /** Largest prime below 2^40 — the minhash family's field modulus. */
  val MinHashP: Long = (1L << 40) - 87

  /** Per-member coefficient pairs (a_j, b_j) of the minhash family —
    * 20-bit values from md5("mh:j"), forced odd, deterministic, shared
    * by the kernel and the HOF reference form. Each member j hashes a
    * shingle's 40-bit base pair as (a_j·h1 + b_j·h2) mod [[MinHashP]]:
    * independent per-member coefficient draws (not strictly 2-universal
    * — the coefficients are odd 20-bit values, not uniform over the
    * field mod P; what matters and what DedupSpec's 30-pair regression
    * pins is that no two members share a coefficient direction). The
    * round-6-and-
    * earlier family h1 + j·h2 shared one random point across all k
    * members with coefficient directions (1, j) collapsing onto a
    * line — a single extreme-h2 shingle then decided the min for MOST
    * members at once, so two 0.94-similar docs could (measured, ~1/|doc|
    * odds per near-dup pair) disagree on nearly every signature
    * position and miss every LSH band; the advertised 1-(1-j^r)^b
    * recall bound silently did not hold. Products fit comfortably:
    * 2^20·2^40 + 2^20·2^40 < 2^62. */
  private[graft] def minhashCoef(k: Int): (Array[Long], Array[Long]) = {
    val ca = new Array[Long](k)
    val cb = new Array[Long](k)
    val md = java.security.MessageDigest.getInstance("MD5")
    var j = 0
    while (j < k) {
      val d = md.digest(s"mh:$j".getBytes("UTF-8"))
      ca(j) = (bits40(d, 0) & 0xFFFFFL) | 1L
      cb(j) = (bits40(d, 5) & 0xFFFFFL) | 1L
      j += 1
    }
    (ca, cb)
  }

  /** MinHash signature over an array<string> of shingles: member j of
    * the family is (a_j·h1 + b_j·h2) mod [[MinHashP]] with (h1, h2)
    * two 40-bit base hashes per shingle and (a_j, b_j) the
    * [[minhashCoef]] per-member coefficients (see there for why the
    * members must be independent draws), evaluated in one pass over
    * the shingles — still one digest per shingle.
    *
    * The base hashes are the first/second 40 bits of md5(shingle) —
    * bit-identical to DedupFunctions.minhashSignature and the DuckDB
    * oracles. */
  case class MinHashSignature(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "minhash_signature"

    @transient private lazy val (ca, cb) = minhashCoef(k)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      // an empty shingle set has NO signature: return null so the row
      // drops out of banding/joins, instead of a Long.MaxValue-filled
      // array that would band every empty doc into one bucket. (The
      // HOF reference form yields an array of per-member NULLs with
      // the same drops-out-of-LSH effect; the shinglers always emit
      // >= 1 element, so only direct SQL callers can reach this.)
      if (arr.numElements() == 0) return null
      val md = md5Local.get()
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val d = md.digest(arr.getUTF8String(i).getBytes)
        val h1 = bits40(d, 0)
        val h2 = bits40(d, 5)
        var j = 0
        while (j < k) {
          val h = (ca(j) * h1 + cb(j) * h2) % MinHashP
          if (h < mins(j)) mins(j) = h
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override protected def withNewChildInternal(c: Expression): MinHashSignature =
      copy(child = c)
  }

  /** 32-bit SimHash over an array<string> of tokens, ±1 votes per bit,
    * sign of the vote sum → fingerprint bit. Bit k reads bit k%4 of
    * hex digit k/4 of md5(token) — bit-identical to
    * DedupFunctions.simhash32 and the DuckDB oracles. */
  case class SimHash32(child: Expression)
      extends UnaryExpression with CodegenFallback with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash32"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val md = md5Local.get()
      val votes = new Array[Int](32)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var kk = 0
        while (kk < 32) {
          val c = kk / 4
          val nib = if ((c & 1) == 0) (d(c / 2) >> 4) & 0xf else d(c / 2) & 0xf
          votes(kk) += (((nib >> (kk % 4)) & 1) * 2 - 1)
          kk += 1
        }
        i += 1
      }
      var out = 0L
      var kk = 0
      while (kk < 32) {
        if (votes(kk) >= 0) out |= (1L << kk)
        kk += 1
      }
      java.lang.Long.valueOf(out)
    }

    override protected def withNewChildInternal(c: Expression): SimHash32 =
      copy(child = c)
  }

  /** Sequential-fold dot product of two double arrays — the exact fold
    * order of `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, so results
    * are bit-identical to the HOF formulation the oracles mirror —
    * including on unequal lengths, where zip_with null-pads and the
    * fold collapses to NULL: this kernel returns null there too. */
  case class DoubleDot(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "double_dot"
    override def nullable: Boolean = true

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
      java.lang.Double.valueOf(acc)
    }

    // real codegen (not CodegenFallback): the pair-scan stage stays
    // inside whole-stage codegen with an inline fold loop
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $acc += $a.getDouble($i) * $b.getDouble($i);
           |  }
           |  ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): DoubleDot =
      copy(left = l, right = r)
  }

  /** Jaccard of two SORTED distinct string arrays by merge walk —
    * same value as size(array_intersect)/size(array_union). */
  case class SortedJaccard(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "sorted_jaccard"

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
        s"""
           |int $na = $a.numElements(); int $nb = $b.numElements();
           |int $i = 0; int $j = 0; int $inter = 0;
           |while ($i < $na && $j < $nb) {
           |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
           |  if ($c == 0) { $inter++; $i++; $j++; }
           |  else if ($c < 0) { $i++; } else { $j++; }
           |}
           |${ev.value} = (double) $inter / (double) ($na + $nb - $inter);
         """.stripMargin
      })

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val (na, nb) = (a.numElements(), b.numElements())
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      java.lang.Double.valueOf(inter.toDouble / (na + nb - inter).toDouble)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedJaccard =
      copy(left = l, right = r)
  }

  /** Jaccard of two SORTED distinct long arrays by merge walk — the
    * primitive-array twin of [[SortedJaccard]] for hashed shingle
    * sets (8-byte elements, primitive compares: ~3× less verify
    * shuffle and a far cheaper walk than UTF8String sets). */
  case class SortedLongJaccard(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "sorted_long_jaccard"

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val inter = ctx.freshName("inter")
        val va = ctx.freshName("va"); val vb = ctx.freshName("vb")
        s"""
           |int $na = $a.numElements(); int $nb = $b.numElements();
           |int $i = 0; int $j = 0; int $inter = 0;
           |while ($i < $na && $j < $nb) {
           |  long $va = $a.getLong($i); long $vb = $b.getLong($j);
           |  if ($va == $vb) { $inter++; $i++; $j++; }
           |  else if ($va < $vb) { $i++; } else { $j++; }
           |}
           |${ev.value} = (double) $inter / (double) ($na + $nb - $inter);
         """.stripMargin
      })

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val (na, nb) = (a.numElements(), b.numElements())
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val va = a.getLong(i); val vb = b.getLong(j)
        if (va == vb) { inter += 1; i += 1; j += 1 }
        else if (va < vb) i += 1
        else j += 1
      }
      java.lang.Double.valueOf(inter.toDouble / (na + nb - inter).toDouble)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedLongJaccard =
      copy(left = l, right = r)
  }

  /** Sequential-fold squared-L2 distance of two double arrays — the
    * exact fold order of `aggregate(zip_with(a, b, (x,y) => (x-y)²),
    * 0.0, _+_)`, bit-identical to the HOF form the oracles mirror —
    * including on unequal lengths, where zip_with null-pads and the
    * fold collapses to NULL: this kernel returns null there too. */
  case class DoubleL2Squared(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "double_l2_squared"
    override def nullable: Boolean = true

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = a.getDouble(i) - b.getDouble(i); acc += d * d; i += 1
      }
      java.lang.Double.valueOf(acc)
    }

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val acc = ctx.freshName("acc"); val dd = ctx.freshName("dd")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $dd = $a.getDouble($i) - $b.getDouble($i);
           |    $acc += $dd * $dd;
           |  }
           |  ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): DoubleL2Squared =
      copy(left = l, right = r)
  }

  /** Intersection size of two SORTED distinct string arrays by merge
    * walk — same value as size(array_intersect(a, b)) without the
    * per-eval hash-set build (array_intersect constructs a hash map of
    * one side on every evaluation, which dominates O(n²) pair scans). */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "sorted_intersect_count"

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
        s"""
           |int $na = $a.numElements(); int $nb = $b.numElements();
           |int $i = 0; int $j = 0; int $inter = 0;
           |while ($i < $na && $j < $nb) {
           |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
           |  if ($c == 0) { $inter++; $i++; $j++; }
           |  else if ($c < 0) { $i++; } else { $j++; }
           |}
           |${ev.value} = $inter;
         """.stripMargin
      })

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val (na, nb) = (a.numElements(), b.numElements())
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      java.lang.Integer.valueOf(inter)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
      copy(left = l, right = r)
  }

  /** Intersection size of two SORTED distinct long arrays by merge
    * walk — the primitive-array twin of [[SortedIntersectCount]] for
    * hashed shingle sets (8-byte elements, primitive compares; no
    * per-eval hash-set build, no UTF8String comparisons). */
  case class SortedLongIntersectCount(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "sorted_long_intersect_count"

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val inter = ctx.freshName("inter")
        val va = ctx.freshName("va"); val vb = ctx.freshName("vb")
        s"""
           |int $na = $a.numElements(); int $nb = $b.numElements();
           |int $i = 0; int $j = 0; int $inter = 0;
           |while ($i < $na && $j < $nb) {
           |  long $va = $a.getLong($i); long $vb = $b.getLong($j);
           |  if ($va == $vb) { $inter++; $i++; $j++; }
           |  else if ($va < $vb) { $i++; } else { $j++; }
           |}
           |${ev.value} = $inter;
         """.stripMargin
      })

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val (na, nb) = (a.numElements(), b.numElements())
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val va = a.getLong(i); val vb = b.getLong(j)
        if (va == vb) { inter += 1; i += 1; j += 1 }
        else if (va < vb) i += 1
        else j += 1
      }
      java.lang.Integer.valueOf(inter)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedLongIntersectCount =
      copy(left = l, right = r)
  }

  /** Bloom-filter membership test over a long key, as a codegen'd
    * kernel (replaces the ScalaUDF the bloom-prune join first shipped
    * with: a UDF boxes the key and blocks whole-stage codegen in the
    * fact-table filter — the hottest predicate of the pattern). The
    * sketch travels as its portable `writeTo` byte form (the only
    * transport `BloomFilterImpl` supports across JVMs) and is rebuilt
    * once per codegen instance / deserialized expression, not per row. */
  case class BloomMightContainLong(child: Expression, bloomBytes: Array[Byte])
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "bloom_might_contain"

    @transient private lazy val bf =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloomBytes))

    override def nullSafeEval(input: Any): Any =
      java.lang.Boolean.valueOf(bf.mightContainLong(input.asInstanceOf[Long]))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val bytesRef = ctx.addReferenceObj("bloomBytes", bloomBytes, "byte[]")
      val bfVar = ctx.addMutableState("org.apache.spark.util.sketch.BloomFilter", "bloomFilter",
        v => s"""try {
                 |  $v = org.apache.spark.util.sketch.BloomFilter.readFrom(
                 |    new java.io.ByteArrayInputStream($bytesRef));
                 |} catch (java.io.IOException e) { throw new RuntimeException(e); }
                 |""".stripMargin)
      nullSafeCodeGen(ctx, ev, k => s"${ev.value} = $bfVar.mightContainLong($k);")
    }

    override protected def withNewChildInternal(c: Expression): BloomMightContainLong =
      copy(child = c)
  }

  /** Sorted distinct 40-bit hashed shingle set: byte-identical to
    * `array_sort(array_distinct(transform(shingles,
    *    s => conv(md5(s).substr(1, 10), 16, 10).cast("long"))))` (the
    * DuckDB-reproducible verify sets of
    * jaccardPairs/containmentPairs), computed in one pass — one digest
    * per shingle, primitive sort, in-place dedup — instead of an
    * interpreted lambda with hex-string round-trips (profiled 1.5 s →
    * ~0.2 s on the d4b verify sets at sf0.1). */
  case class HashedSet40(child: Expression)
      extends UnaryExpression with CodegenFallback with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "hashed_set40"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val md = md5Local.get()
      val vals = new Array[Long](n)
      var i = 0
      while (i < n) {
        vals(i) = bits40(md.digest(arr.getUTF8String(i).getBytes), 0)
        i += 1
      }
      java.util.Arrays.sort(vals)
      var w = 0
      var r = 0
      while (r < n) {
        if (w == 0 || vals(r) != vals(w - 1)) { vals(w) = vals(r); w += 1 }
        r += 1
      }
      new GenericArrayData(if (w == n) vals else java.util.Arrays.copyOf(vals, w))
    }

    override protected def withNewChildInternal(c: Expression): HashedSet40 =
      copy(child = c)
  }

  /** Fixed-size stripe-occupancy sketch of a hashed shingle set:
    * `[4-byte big-endian set size][bits/8-byte bitmap]` with bit
    * `v & (bits-1)` set for every element. Feeds
    * [[StripeOverlapUpper]]'s deterministic intersection bound — the
    * verify pre-filter of containmentPairs: the sketch is
    * ~8× smaller than the hashed set itself (260 B vs ~2 KB at the
    * sf0.1 shingle sizes), so the per-candidate attach join ships
    * sketches and only bound-survivors touch the full arrays. Built
    * once per document (corpus-sized evals, not candidate-sized), so
    * interpreted eval is fine. */
  case class StripeSketch(child: Expression, bits: Int)
      extends UnaryExpression with CodegenFallback with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(LongType))
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      s"sketch bits must be a power of two >= 64, got $bits")
    override def dataType: DataType = BinaryType
    override def prettyName: String = "stripe_sketch"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = new Array[Byte](4 + bits / 8)
      out(0) = (n >>> 24).toByte; out(1) = (n >>> 16).toByte
      out(2) = (n >>> 8).toByte; out(3) = n.toByte
      val mask = bits - 1
      var i = 0
      while (i < n) {
        val idx = (arr.getLong(i) & mask).toInt
        out(4 + (idx >> 3)) = (out(4 + (idx >> 3)) | (1 << (idx & 7))).toByte
        i += 1
      }
      out
    }

    override protected def withNewChildInternal(c: Expression): StripeSketch =
      copy(child = c)
  }

  /** Deterministic upper bound on |A∩B| from two [[StripeSketch]]es.
    *
    * Soundness: every element of A∩B occupies a stripe set in BOTH
    * bitmaps. Over the p = popcount(bmA ∧ bmB) shared stripes, stripe
    * i holds at most min(cA_i, cB_i) intersection elements, and
    * Σ min(cA_i, cB_i) ≤ p + Σ(cA_i − 1) ≤ p + (nA − popcount(bmA))
    * (each occupied stripe contributes one "free" element; the rest
    * are within-A collisions) — symmetrically for B, so
    *   |A∩B| ≤ p + min(nA − pop(bmA), nB − pop(bmB)).
    * The bound can only over-count, so filtering candidates on it is
    * loosening-only: exact verification sees every qualifying pair.
    * Mismatched sketch lengths fall back to min(nA, nB) — still sound,
    * never wrong, just unhelpful. Runs per candidate pair (tens of
    * millions of evals), hence codegen'd: ~bits/8 byte ANDs +
    * popcounts, far cheaper than the merge walk it gates. */
  case class StripeOverlapUpper(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(BinaryType, BinaryType)
    override def dataType: DataType = IntegerType
    override def prettyName: String = "stripe_overlap_upper"

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[Array[Byte]]
      val b = r.asInstanceOf[Array[Byte]]
      java.lang.Integer.valueOf(StripeOverlapUpper.bound(a, b))
    }

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      // one static call to the shared kernel (top-level object methods
      // get static forwarders; the nested object does not, hence the
      // stripeOverlapBound forwarder) — same JIT'd loop as an inline
      // expansion, and the interpreted/codegen paths can never drift
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.expressions.HashExpressions.stripeOverlapBound($a, $b);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): StripeOverlapUpper =
      copy(left = l, right = r)
  }

  /** Static forwarder target for [[StripeOverlapUpper]]'s generated
    * code (nested objects get no static forwarders). */
  def stripeOverlapBound(a: Array[Byte], b: Array[Byte]): Int =
    StripeOverlapUpper.bound(a, b)

  object StripeOverlapUpper {
    /** Shared kernel for eval and codegen. */
    def bound(a: Array[Byte], b: Array[Byte]): Int = {
      val na = ((a(0) & 0xff) << 24) | ((a(1) & 0xff) << 16) |
        ((a(2) & 0xff) << 8) | (a(3) & 0xff)
      val nb = ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) |
        ((b(2) & 0xff) << 8) | (b(3) & 0xff)
      if (a.length != b.length) return math.min(na, nb)
      var shared = 0; var popA = 0; var popB = 0
      var i = 4
      while (i < a.length) {
        val x = a(i) & 0xff; val y = b(i) & 0xff
        shared += java.lang.Integer.bitCount(x & y)
        popA += java.lang.Integer.bitCount(x)
        popB += java.lang.Integer.bitCount(y)
        i += 1
      }
      shared + math.min(na - popA, nb - popB)
    }
  }

  /** Column-API entry points. */
  def hashed_set40(shingles: Column): Column =
    ColumnBridge.column(HashedSet40(ColumnBridge.expression(shingles)))

  def minhash_signature(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), k))

  def simhash32_native(tokens: Column): Column =
    ColumnBridge.column(SimHash32(ColumnBridge.expression(tokens)))

  def double_dot(a: Column, b: Column): Column =
    ColumnBridge.column(DoubleDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def sorted_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def sorted_long_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedLongJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def sorted_intersect_count(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def sorted_long_intersect_count(a: Column, b: Column): Column =
    ColumnBridge.column(SortedLongIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def double_l2_squared(a: Column, b: Column): Column =
    ColumnBridge.column(DoubleL2Squared(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def bloom_might_contain(key: Column, bloomBytes: Array[Byte]): Column =
    ColumnBridge.column(BloomMightContainLong(ColumnBridge.expression(key), bloomBytes))

  def stripe_sketch(hashedSet: Column, bits: Int): Column =
    ColumnBridge.column(StripeSketch(ColumnBridge.expression(hashedSet), bits))

  def stripe_overlap_upper(a: Column, b: Column): Column =
    ColumnBridge.column(StripeOverlapUpper(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
