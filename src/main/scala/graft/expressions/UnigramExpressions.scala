package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native unigram-LM (SentencePiece-style, Kudo 2018 "Subword
  * Regularization") Viterbi segmentation kernel — the encode half of
  * [[graft.functions.UnigramFunctions.unigramTrain]]'s hard-EM loop,
  * and the user-facing tokenizer once a vocabulary is learned. The
  * reference's text toolbox tokenizes by whitespace/regex only
  * (fireworks/toolbox/text.py); subword tokenization is parity-plus.
  *
  * Scores are INTEGER micro-logs: a piece with count c in a vocabulary
  * of V pieces totalling T counts scores floor(1e6 · ln((c+1)/(T+V)))
  * (add-one smoothing, so zero-count single-char pieces stay usable).
  * Integer scores make the DP's sums and comparisons EXACT — the
  * learned vocabulary and every segmentation are bit-reproducible
  * across engines, which is what lets the DuckDB oracle replay
  * training move-for-move (floating-point Viterbi would diverge by
  * ULPs between engines). Ties break toward the SMALLEST split point,
  * i.e. the longest final piece — a total order, so segmentation is a
  * pure function of (word, vocabulary) at any parallelism.
  */
object UnigramExpressions {

  /** floor-based integer micro-log score — floor (not round) because
    * SQL round() and JVM Math.round disagree on half-way negatives. */
  def scoreOf(cnt: Long, total: Long, vocab: Long): Long =
    math.floor(1e6 * math.log((cnt + 1).toDouble / (total + vocab).toDouble)).toLong

  /** A char outside every vocab piece still segments (as itself) but
    * never competitively: one fallback outweighs any real suffix. */
  val FallbackScore: Long = -1000000000000L

  /** Viterbi-split `word` (code points) under integer piece scores:
    * maximize the score sum; at equal sums the smallest split point
    * (longest final piece) wins at every position. Returns the piece
    * strings left to right. */
  def viterbiSplit(word: String, scores: java.util.HashMap[String, java.lang.Long],
                   maxPieceLen: Int): Array[String] = {
    // code-point segmentation, matching SQL substr character semantics.
    // Boundaries as a code-point → CHAR-OFFSET array, so piece(j, p) is
    // one word.substring — linear total memory. (The earlier cumulative
    // prefix-string table was O(n²) characters per word: training
    // truncates words to maxWordLen, but ENCODING sees raw input, and
    // one pathological unspaced blob would go quadratic here.)
    val n = word.codePointCount(0, word.length)
    if (n == 0) return Array.empty
    val off = new Array[Int](n + 1)
    var ci = 0
    var i = 0
    while (ci < word.length) {
      off(i) = ci
      ci += Character.charCount(word.codePointAt(ci))
      i += 1
    }
    off(n) = word.length
    def piece(j: Int, p: Int): String = word.substring(off(j), off(p))
    val NoPath = java.lang.Long.MIN_VALUE
    // piece scores are ≤ 0 by construction (ln((c+1)/(T+V)) with
    // c+1 ≤ T+V, and FallbackScore < 0), so dp only decreases — but a
    // blob of ~9.2e6 unknown chars would walk dp past Long.MIN_VALUE
    // via FallbackScore and wrap positive. Saturate sums at a floor
    // strictly above NoPath: beyond it every candidate ties at the
    // floor and the strict > keeps the smallest j, so segmentation
    // stays total and deterministic even in the pathological regime
    // (which the integer-exact oracle never enters: training truncates
    // words to maxWordLen).
    val SatFloor = java.lang.Long.MIN_VALUE / 2
    val dp = Array.fill(n + 1)(NoPath)
    val bp = Array.fill(n + 1)(-1)
    dp(0) = 0L
    var p = 1
    while (p <= n) {
      var j = math.max(0, p - maxPieceLen)
      while (j < p) {
        if (dp(j) != NoPath) {
          val s = scores.get(piece(j, p))
          val sc = if (s != null) s.longValue()
            else if (p - j == 1) FallbackScore
            else NoPath
          if (sc != NoPath) {
            // trained scores are ≤ 0, but this is a public method over an
            // arbitrary map: a POSITIVE sc legitimately raises the sum, so
            // only a negative addend growing the sum means Long wrap
            val sum = dp(j) + sc
            val cand = if (sc < 0 && sum > dp(j)) SatFloor
              else math.max(sum, SatFloor)
            // strict > with ascending j keeps the SMALLEST winning j
            if (cand > dp(p)) { dp(p) = cand; bp(p) = j }
          }
        }
        j += 1
      }
      p += 1
    }
    // backtrack
    val out = new java.util.ArrayList[String]()
    var q = n
    while (q > 0) { out.add(0, piece(bp(q), q)); q = bp(q) }
    out.toArray(new Array[String](out.size))
  }

  /** Segment every space-separated word of a text with a learned
    * (piece, score) vocabulary; output is the concatenation of the
    * words' piece sequences (empty words contribute nothing).
    * Per-instance bounded word memo, the [[BpeExpressions.BpeEncode]]
    * discipline: Zipfian corpora make segmentation per-distinct-word
    * work, not per-occurrence work (0.31 s with it, 1.0 s without —
    * the BpeExpressions measurement). */
  case class UnigramEncode(child: Expression, pieces: Seq[(String, Long)])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "unigram_encode"

    @transient private lazy val scores: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long]()
      pieces.foreach { case (s, sc) => m.put(s, sc) }
      m
    }
    @transient private lazy val maxPieceLen: Int =
      if (pieces.isEmpty) 1
      else math.max(1, pieces.map(p => p._1.codePointCount(0, p._1.length)).max)
    @transient private lazy val memo =
      new java.util.HashMap[String, Array[UTF8String]]()
    private val MemoCap = 1 << 16

    private def encodeWord(word: String): Array[UTF8String] = {
      val hit = memo.get(word)
      if (hit != null) return hit
      val split = viterbiSplit(word, scores, maxPieceLen)
      val arr = split.map(UTF8String.fromString)
      if (memo.size >= MemoCap) memo.clear()
      memo.put(word, arr)
      arr
    }

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val out = new java.util.ArrayList[UTF8String]()
      var from = 0
      var done = false
      while (!done) {
        val sp = text.indexOf(' ', from)
        val word = if (sp < 0) text.substring(from) else text.substring(from, sp)
        if (word.nonEmpty) {
          val toks = encodeWord(word)
          var p = 0
          while (p < toks.length) { out.add(toks(p)); p += 1 }
        }
        if (sp < 0) done = true else from = sp + 1
      }
      new GenericArrayData(out.toArray[AnyRef](new Array[AnyRef](out.size)))
    }

    override protected def withNewChildInternal(c: Expression): UnigramEncode =
      copy(child = c)
  }

  def unigram_encode(text: Column, pieces: Seq[(String, Long)]): Column =
    ColumnBridge.column(UnigramEncode(ColumnBridge.expression(text), pieces))
}
