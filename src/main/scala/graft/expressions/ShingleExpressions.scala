package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Generator,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native shingle kernels as Catalyst expressions.
  *
  * The HOF formulations in DedupFunctions (split → transform(slice +
  * concat_ws) → array_distinct) are the semantic reference the DuckDB
  * oracles replicate, but they evaluate interpreted with 3-4 heap
  * allocations per shingle — profiled as the single largest stage of
  * the x11b/d4b pipelines at sf0.1 (~2.5 s of a ~5 s run). These
  * kernels emit the identical distinct-shingle arrays in one pass over
  * the raw UTF-8 bytes: word shingles are contiguous byte spans
  * (split-on-single-space + rejoin-with-single-space reproduces the
  * original bytes, including empty tokens from doubled spaces), char
  * shingles are code-point windows over a precomputed offset table.
  * Same bytes out, one output-string allocation per DISTINCT shingle.
  */
object ShingleExpressions {

  /** Byte spans of the tokens of `split(text, " ")`: token w is
    * `bytes(starts(w) until ends(w))`. Empty tokens from doubled,
    * leading or trailing spaces get zero-width spans, exactly like
    * split's empty strings, so joining tokens i..j with single spaces
    * IS the byte span from starts(i) to ends(j). */
  private def tokenSpans(bytes: Array[Byte]): (Array[Int], Array[Int]) = {
    val nb = bytes.length
    var spaces = 0
    var i = 0
    while (i < nb) {
      if (bytes(i) == 0x20) spaces += 1
      i += 1
    }
    val starts = new Array[Int](spaces + 1)
    val ends = new Array[Int](spaces + 1)
    var w = 0
    i = 0
    while (i < nb) {
      if (bytes(i) == 0x20) { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = nb
    (starts, ends)
  }

  /** Tokens j until j+len joined by single spaces, as a view of `bytes`. */
  private def span(bytes: Array[Byte], starts: Array[Int], ends: Array[Int],
                   j: Int, len: Int): UTF8String =
    UTF8String.fromBytes(bytes, starts(j), ends(j + len - 1) - starts(j))

  /** Distinct word n-gram shingles of a single-space-tokenized text:
    * byte-identical to
    * `array_distinct(transform(sequence(0, size(toks)-n),
    *    i => concat_ws(" ", slice(toks, i+1, n))))` with
    * `toks = split(text, " ")` (trailing empties kept), falling back
    * to `array(text)` when the text has fewer than n tokens —
    * `concat_ws(" ", toks)` over a single-space split IS the original
    * byte string, so each shingle is the contiguous byte span from the
    * start of token i to the end of token i+n-1, and the fallback is
    * the text itself. First-occurrence order, like array_distinct. */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(StringType)
    require(n >= 1, s"shingle width must be >= 1, got $n")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_shingles"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val bytes = s.getBytes // one copy per doc; spans below share it
      val (starts, ends) = tokenSpans(bytes)
      val numToks = starts.length
      if (numToks < n) return new GenericArrayData(Array[Any](s))
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var j = 0
      while (j + n <= numToks) {
        seen.add(span(bytes, starts, ends, j, n))
        j += 1
      }
      new GenericArrayData(seen.toArray)
    }

    override protected def withNewChildInternal(c: Expression): WordShingles =
      copy(child = c)
  }

  /** Distinct character k-gram shingles: byte-identical to
    * `array_distinct(transform(sequence(1, length(text)-(k-1)),
    *    i => substr(text, i, k)))`, falling back to `array(text)` for
    * texts shorter than k characters. Windows are code-point spans (a
    * precomputed char→byte offset table makes the pass linear for
    * multi-byte text). First-occurrence order, like array_distinct. */
  case class CharShingles(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(StringType)
    require(k >= 1, s"shingle width must be >= 1, got $k")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "char_shingles"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val numChars = s.numChars()
      if (numChars < k) return new GenericArrayData(Array[Any](s))
      val bytes = s.getBytes
      val offs = new Array[Int](numChars + 1)
      var i = 0
      var c = 0
      while (i < bytes.length) {
        offs(c) = i
        i += UTF8String.numBytesForFirstByte(bytes(i))
        c += 1
      }
      offs(numChars) = bytes.length
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var p = 0
      while (p + k <= numChars) {
        seen.add(UTF8String.fromBytes(bytes, offs(p), offs(p + k) - offs(p)))
        p += 1
      }
      new GenericArrayData(seen.toArray)
    }

    override protected def withNewChildInternal(c: Expression): CharShingles =
      copy(child = c)
  }

  /** Distinct winnowing fingerprints (Schleimer et al. 2003) of a text
    * in ONE pass: 40-bit md5 hashes of every char k-gram (bit-identical
    * to `conv(substr(md5(substr(text, i, k)), 1, 10), 16, 10)` — the
    * d17/x18 oracle convention), window-w minima over full windows
    * only, distinct, ascending. Replaces x18's per-CHARACTER
    * posexplode + k stacked lead() windows + per-row md5 + frame-min
    * window chain (optimization r18): that plan shuffled and sorted
    * one row per character (~10M at sf0.1, 21–23 s cpu) to compute a
    * value this kernel derives per ROW with zero exchange. Windows are
    * code-point spans (the CharShingles offset table); texts with
    * fewer than k+w-1 chars (no full window) return an empty array. */
  case class WinnowMinima(child: Expression, k: Int, w: Int)
      extends UnaryExpression with CodegenFallback with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(StringType)
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "winnow_minima"

    @transient private lazy val md5Local =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val numChars = s.numChars()
      val nGrams = numChars - k + 1
      if (nGrams < w) return new GenericArrayData(Array.emptyLongArray)
      val bytes = s.getBytes
      val offs = new Array[Int](numChars + 1)
      var i = 0
      var c = 0
      while (i < bytes.length) {
        offs(c) = i
        i += UTF8String.numBytesForFirstByte(bytes(i))
        c += 1
      }
      offs(numChars) = bytes.length
      val md = md5Local.get()
      val h = new Array[Long](nGrams)
      var p = 0
      while (p < nGrams) {
        md.reset()
        md.update(bytes, offs(p), offs(p + k) - offs(p))
        val d = md.digest()
        // first 40 bits big-endian == conv(substr(hex,1,10),16,10)
        h(p) = ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) |
          ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
        p += 1
      }
      // window minima over the nGrams-w+1 FULL windows (monotone deque,
      // O(nGrams)); dedup via sort — ascending output, distinct
      val nWin = nGrams - w + 1
      val mins = new Array[Long](nWin)
      val dq = new Array[Int](nGrams)
      var head = 0
      var tail = 0 // dq[head until tail] holds candidate indexes
      p = 0
      while (p < nGrams) {
        while (tail > head && h(dq(tail - 1)) >= h(p)) tail -= 1
        dq(tail) = p; tail += 1
        if (dq(head) <= p - w) head += 1
        if (p >= w - 1) mins(p - w + 1) = h(dq(head))
        p += 1
      }
      java.util.Arrays.sort(mins)
      var wr = 0
      var r = 0
      while (r < nWin) {
        if (wr == 0 || mins(r) != mins(wr - 1)) { mins(wr) = mins(r); wr += 1 }
        r += 1
      }
      new GenericArrayData(
        if (wr == nWin) mins else java.util.Arrays.copyOf(mins, wr))
    }

    override protected def withNewChildInternal(c: Expression): WinnowMinima =
      copy(child = c)
  }

  /** Per-text token frequencies in one pass: (w, tf) structs for every
    * DISTINCT single-space-separated token, counts as longs — row-
    * identical (up to order) to
    * `explode(split(text, " ")) |> filter(w <> '') |> groupBy count`,
    * the SearchFunctions.termFreq reference form. Exploding this array gives the
    * (id, w, tf) relation with NO aggregation at all (optimization
    * r18): the reference form pushed one row per TOKEN OCCURRENCE
    * (~3M at sf0.1) through explode + hash-agg per consumer build —
    * per-doc counting is local, so the 3–6 s cpu of that stage was
    * pure operator overhead. Empty tokens (doubled/leading/trailing
    * spaces) are skipped exactly like the reference filter. */
  case class TokenCounts(child: Expression)
      extends UnaryExpression with CodegenFallback with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(StringType)
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("w", StringType, nullable = false),
        StructField("tf", LongType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "token_counts"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val bytes = s.getBytes
      val nb = bytes.length
      val counts = new java.util.LinkedHashMap[UTF8String, Long]()
      var start = 0
      var i = 0
      while (i <= nb) {
        if (i == nb || bytes(i) == 0x20) {
          if (i > start) { // empty tokens skipped, like filter(w <> '')
            val w = UTF8String.fromBytes(bytes, start, i - start)
            counts.put(w, counts.getOrDefault(w, 0L) + 1L)
          }
          start = i + 1
        }
        i += 1
      }
      val out = new Array[Any](counts.size)
      val it = counts.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        out(j) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue)
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): TokenCounts =
      copy(child = c)
  }

  /** Every n-token window of a single-space-tokenized text, one row
    * per start position p in 0..numToks−n, in order: `w1`..`wn` are
    * the tokens p..p+n−1 and `ctx` is tokens p..p+n−2 joined by " ",
    * taken as one byte span (the [[WordShingles]] identity). Row-
    * identical to posexplode(split(text, " ")) + lead(1..n−1) over a
    * (doc, position) window keeping the rows whose last lead is non-
    * null — the form the LM scorers used before, which shuffled and
    * sorted every token of the corpus on the doc id to rebuild windows
    * each row already holds. Tokens split exactly like `split`: empty
    * tokens from doubled/leading/trailing spaces are tokens. Texts with
    * fewer than n tokens, and null texts, emit no row. */
  case class TokenWindows(child: Expression, n: Int)
      extends UnaryExpression with Generator with CodegenFallback with ExpectsInputTypes {
    require(n >= 2, s"window width must be >= 2, got $n")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def elementSchema: StructType = StructType(
      StructField("ctx", StringType, nullable = false) +:
        (1 to n).map(i => StructField(s"w$i", StringType, nullable = false)))
    override def prettyName: String = "token_windows"

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val s = child.eval(input).asInstanceOf[UTF8String]
      if (s == null) return Nil
      val bytes = s.getBytes
      val (starts, ends) = tokenSpans(bytes)
      Iterator.range(0, starts.length - n + 1).map { p =>
        val row = new Array[Any](n + 1)
        row(0) = span(bytes, starts, ends, p, n - 1)
        var i = 0
        while (i < n) { row(i + 1) = span(bytes, starts, ends, p + i, 1); i += 1 }
        new GenericInternalRow(row)
      }
    }

    override protected def withNewChildInternal(c: Expression): TokenWindows =
      copy(child = c)
  }

  /** Per-text n-gram repetition counts for n = 1, 2, 3 over the tokens
    * of `split(text, " ")` (empty tokens included; an n-gram is the
    * byte span of n consecutive tokens): `maxN` is the count of the
    * most frequent n-gram, `totN` the number of n-gram positions
    * (numToks − n + 1), and `nd3` the number of distinct trigrams.
    * Equal to exploding every position's 1/2/3-grams and grouping by
    * (doc, n, gram), then by (doc, n) — the aggregation
    * TextAnalysisFunctions.repetitionStats ran before, with two
    * exchanges and a window sort — computed here per row. Emits one row
    * per text with at least 3 tokens and none otherwise (the
    * repetitionStats guard), so the guard costs no second pass. */
  case class RepetitionCounts(child: Expression)
      extends UnaryExpression with Generator with CodegenFallback with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def elementSchema: StructType = StructType(
      Seq("max1", "tot1", "max2", "tot2", "max3", "tot3", "nd3")
        .map(StructField(_, LongType, nullable = false)))
    override def prettyName: String = "repetition_counts"

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val s = child.eval(input).asInstanceOf[UTF8String]
      if (s == null) return Nil
      val bytes = s.getBytes
      val (starts, ends) = tokenSpans(bytes)
      val numToks = starts.length
      if (numToks < 3) return Nil
      val out = new Array[Any](7)
      var n = 1
      while (n <= 3) {
        val counts = new java.util.HashMap[UTF8String, Integer]()
        var max = 0
        var j = 0
        while (j + n <= numToks) {
          val c: Int = counts.merge(span(bytes, starts, ends, j, n), 1,
            (a: Integer, b: Integer) => Integer.valueOf(a + b))
          if (c > max) max = c
          j += 1
        }
        out(2 * n - 2) = max.toLong
        out(2 * n - 1) = (numToks - n + 1).toLong
        if (n == 3) out(6) = counts.size.toLong
        n += 1
      }
      Iterator.single(new GenericInternalRow(out))
    }

    override protected def withNewChildInternal(c: Expression): RepetitionCounts =
      copy(child = c)
  }

  def word_shingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))

  def char_shingles(text: Column, k: Int): Column =
    ColumnBridge.column(CharShingles(ColumnBridge.expression(text), k))

  def winnow_minima(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowMinima(ColumnBridge.expression(text), k, w))

  def token_counts(text: Column): Column =
    ColumnBridge.column(TokenCounts(ColumnBridge.expression(text)))

  def token_windows(text: Column, n: Int): Column =
    ColumnBridge.column(TokenWindows(ColumnBridge.expression(text), n))

  def repetition_counts(text: Column): Column =
    ColumnBridge.column(RepetitionCounts(ColumnBridge.expression(text)))
}
