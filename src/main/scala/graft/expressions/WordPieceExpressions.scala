package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native WordPiece encode kernel (Schuster & Nakajima 2012; the
  * BERT tokenizer's segmentation step — the reference's text toolbox
  * tokenizes by whitespace/regex only, `fireworks/toolbox/text.py`;
  * subword tokenization is part of the parity-plus LLM-pipeline
  * surface alongside [[BpeExpressions]] and [[UnigramExpressions]]).
  *
  * Greedy longest-match-first over a fixed vocabulary: each word is
  * consumed left to right, at every position taking the LONGEST
  * vocabulary piece that matches — word-initial positions match
  * plain pieces, later positions match `##`-prefixed continuation
  * pieces (emitted with the `##`). If any position has no match, or
  * the word exceeds `maxWordChars` code points, the WHOLE word
  * becomes the single `unk` token (BERT semantics — no partial
  * fallback). Words are the text's space-separated tokens; empty
  * words (split artifacts) produce no tokens.
  *
  * All indexing is code-point based (matching the trainer's symbol
  * split and the SQL oracle's character semantics, not UTF-16
  * units). Per-partition bounded word memo, the [[BpeExpressions]]
  * discipline: Zipfian corpora turn per-occurrence cost into
  * per-distinct-word cost (0.27 s with it, 0.75 s without — the
  * BpeExpressions measurement).
  */
object WordPieceExpressions {

  case class WordPieceEncode(child: Expression, vocab: Seq[String],
                             unk: String, maxWordChars: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "wordpiece_encode"

    // split the vocabulary once per task instance: plain pieces match
    // at position 0, stripped continuations at positions > 0 (the
    // stored string keeps the ## so emission is a plain lookup)
    @transient private lazy val initialSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      vocab.foreach(p => if (!p.startsWith("##")) s.add(p))
      s
    }
    // a piece exactly "##" (reachable when corpus words contain a
    // literal '#': merging '#' + '###' products) would be an
    // empty-body continuation no position can ever consume (the match
    // loop requires len >= 1) -- drop it here AND in the oracle's
    // vocab CTE (TextQueries wpGreedyChainSql consumers) so kernel
    // and replay agree that it is dead vocabulary (r15 advice).
    @transient private lazy val contSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      vocab.foreach(p => if (p.startsWith("##") && p.length > 2) s.add(p.substring(2)))
      s
    }
    @transient private lazy val maxInitialCp: Int =
      vocab.iterator.filter(!_.startsWith("##"))
        .map(p => p.codePointCount(0, p.length)).maxOption.getOrElse(0)
    @transient private lazy val maxContCp: Int =
      vocab.iterator.filter(_.startsWith("##"))
        .map(p => p.codePointCount(2, p.length)).maxOption.getOrElse(0)
    @transient private lazy val memo =
      new java.util.HashMap[String, Array[UTF8String]]()
    private val MemoCap = 1 << 16
    @transient private lazy val unkArr = Array(UTF8String.fromString(unk))

    private def encodeWord(word: String): Array[UTF8String] = {
      val hit = memo.get(word)
      if (hit != null) return hit
      // code-point offset table (the viterbiSplit discipline): offs(p)
      // is the char index of code point p, offs(n) = word.length
      val n = word.codePointCount(0, word.length)
      val out: Array[UTF8String] =
        if (n > maxWordChars) unkArr
        else {
          val offs = new Array[Int](n + 1)
          var ci = 0; var p = 0
          while (p < n) {
            offs(p) = ci
            ci += Character.charCount(word.codePointAt(ci))
            p += 1
          }
          offs(n) = word.length
          val toks = new java.util.ArrayList[UTF8String]()
          var pos = 0
          var failed = false
          while (pos < n && !failed) {
            val cap = if (pos == 0) maxInitialCp else maxContCp
            var len = math.min(n - pos, cap)
            var matched: String = null
            while (len >= 1 && matched == null) {
              val sub = word.substring(offs(pos), offs(pos + len))
              val ok = if (pos == 0) initialSet.contains(sub)
                       else contSet.contains(sub)
              if (ok) matched = sub else len -= 1
            }
            if (matched == null) failed = true
            else {
              toks.add(UTF8String.fromString(
                if (pos == 0) matched else "##" + matched))
              pos += len
            }
          }
          if (failed) unkArr
          else toks.toArray[UTF8String](new Array[UTF8String](toks.size))
        }
      if (memo.size >= MemoCap) memo.clear()
      memo.put(word, out)
      out
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

    override protected def withNewChildInternal(c: Expression): WordPieceEncode =
      copy(child = c)
  }

  def wordpiece_encode(text: Column, vocab: Seq[String],
                       unk: String = "[UNK]",
                       maxWordChars: Int = 200): Column =
    ColumnBridge.column(WordPieceEncode(
      ColumnBridge.expression(text), vocab, unk, maxWordChars))
}
