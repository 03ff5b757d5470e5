package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions._

/** Queries exercising the text operators (SURVEY §2.10: T1-T7, A2)
  * over the `documents` table.
  */
object TextQueries {

  /** Learned BPE merge list, memoized per scale dir (training is a
    * driver-side loop of vocab-sized jobs; one list serves every
    * consumer in a Verify/Bench pass). Merge lists are tiny driver
    * values — no Spark blocks to free. */
  // ONE pair of constants shared by the trainer call and the generated
  // DuckDB replay oracles — a default-parameter change in BpeFunctions
  // can then never desynchronize them silently
  private val BpeNumMerges = 40
  private val BpeMinPairFreq = 2L
  private def bpeMergesShared(s: SparkSession, d: String): Seq[(String, String)] =
    graft.DfMemo.plain("bpe_merges", d, s)(
      graft.functions.BpeFunctions.bpeTrain(
        documents(s, d), "text",
        numMerges = BpeNumMerges, minPairFreq = BpeMinPairFreq))

  /** Learned WordPiece merge list, memoized per scale dir (the
    * [[bpeMergesShared]] discipline) — ONE pair of constants shared
    * by the trainer call and the generated DuckDB replay. */
  private val WpNumMerges = 30
  private val WpMinPairFreq = 2L
  private def wpMergesShared(s: SparkSession, d: String): Seq[(String, String)] =
    graft.DfMemo.plain("wordpiece_merges", d, s)(
      graft.functions.WordPieceFunctions.wordpieceTrain(
        documents(s, d), "text",
        numMerges = WpNumMerges, minPairFreq = WpMinPairFreq))

  /** Learned unigram vocabulary, memoized per scale dir (same
    * discipline as [[bpeMergesShared]]) — and ONE set of constants
    * shared by the trainer call and the generated DuckDB replay. */
  private val UgVocabSize = 40
  private val UgIters = 2
  private val UgSeedMaxLen = 4
  private val UgSeedSize = 120
  private val UgMaxWordLen = 16
  private def unigramVocabShared(s: SparkSession, d: String): Seq[(String, Long)] =
    graft.DfMemo.plain("unigram_vocab", d, s)(
      graft.functions.UnigramFunctions.unigramTrain(
        documents(s, d), "text", vocabSize = UgVocabSize, iters = UgIters,
        seedMaxLen = UgSeedMaxLen, seedSize = UgSeedSize,
        maxWordLen = UgMaxWordLen))

  /** Fixed (piece, count) vocabulary for the t9b kernel-oracle query;
    * scores are derived Scala-side ([[graft.functions.UnigramFunctions
    * .scoredPieces]]) and embedded as INTEGER literals in the
    * generated SQL, so the kernel gate involves no cross-engine
    * floating point at all. Multi-char pieces overlap competitively
    * (scan/sc/an, table/ta/ble, order/or/der) so the DP genuinely
    * arbitrates; chars outside the list exercise the fallback score. */
  private val t9bCounts: Seq[(String, Long)] = Seq(
    "scan" -> 50L, "table" -> 40L, "hash" -> 40L, "row" -> 30L,
    "order" -> 25L, "ta" -> 20L, "sc" -> 20L, "an" -> 15L, "ble" -> 12L,
    "der" -> 10L, "or" -> 10L, "ro" -> 8L, "w" -> 5L, "a" -> 5L,
    "t" -> 5L, "e" -> 4L, "h" -> 4L, "s" -> 4L, "c" -> 3L, "b" -> 3L,
    "l" -> 3L, "d" -> 2L, "r" -> 2L, "o" -> 2L, "n" -> 2L)
  private def t9bScored: Seq[(String, Long)] =
    graft.functions.UnigramFunctions.scoredPieces(t9bCounts)

  /** The Viterbi DP of [[graft.expressions.UnigramExpressions
    * .viterbiSplit]] unrolled into generated CTEs over a word table:
    * dp<tag>_p = best integer score segmenting the first p code
    * points (one CTE per position, arms = the ≤ maxLen split points),
    * win<tag> = the SMALLEST split point achieving each dp value (the
    * kernel's longest-final-piece tie-break, as MIN(j) over integer
    * equality — exact, no floats), path<tag> = the per-word
    * segmentation recovered by linear recursion over the winners.
    * Integer scores make every comparison bit-reproducible across
    * engines — the reason the kernel scores micro-logs as BIGINT. */
  private def ugDpChainSql(tag: String, scTable: String, wordsTable: String,
                           maxP: Int, maxLen: Int): String = {
    val b = new StringBuilder
    b ++= s""",
      |dp${tag}_0 AS MATERIALIZED (
      |  SELECT w, CAST(0 AS BIGINT) AS sc FROM $wordsTable)""".stripMargin
    for (p <- 1 to maxP) {
      val arms = (math.max(0, p - maxLen) until p).map { j =>
        s"""SELECT d.w, d.sc + s.s AS cand
           |    FROM dp${tag}_$j d JOIN $scTable s ON s.piece = substr(d.w, ${j + 1}, ${p - j})
           |    WHERE len(d.w) >= $p""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      b ++= s""",
        |dp${tag}_$p AS MATERIALIZED (
        |  SELECT w, MAX(cand) AS sc FROM (
        |    $arms
        |  ) GROUP BY w)""".stripMargin
    }
    val winArms = (for { p <- 1 to maxP; j <- math.max(0, p - maxLen) until p } yield
      s"""SELECT d.w, $p AS p, $j AS j
         |    FROM dp${tag}_$j d
         |    JOIN $scTable s ON s.piece = substr(d.w, ${j + 1}, ${p - j})
         |    JOIN dp${tag}_$p e ON e.w = d.w AND e.sc = d.sc + s.s
         |    WHERE len(d.w) >= $p""".stripMargin).mkString("\n    UNION ALL\n    ")
    b ++= s""",
      |win$tag AS MATERIALIZED (
      |  SELECT w, p, MIN(j) AS j FROM (
      |    $winArms
      |  ) GROUP BY w, p),
      |path$tag AS (
      |  SELECT n.w, n.p, n.j FROM win$tag n
      |  JOIN $wordsTable ww ON ww.w = n.w AND n.p = len(ww.w)
      |  UNION ALL
      |  SELECT n.w, n.p, n.j FROM path$tag pp
      |  JOIN win$tag n ON n.w = pp.w AND n.p = pp.j)""".stripMargin
    b.toString
  }

  /** The unigram TRAINER replayed in DuckDB (the t8 replay discipline
    * one algorithm over): truncated word-frequency table → occurrence-
    * weighted substring seed → top-(seedSize) ∪ single chars → per
    * hard-EM iteration: integer micro-log scores (the ONLY cross-
    * engine floats, floor'd at 1e-6 resolution), the unrolled Viterbi
    * DP, usage re-count from the recovered paths, and the
    * top-(vocabSize) ∪ single-chars prune. */
  private def ugReplaySql: String = {
    val b = new StringBuilder
    b ++= s"""WITH RECURSIVE uw AS MATERIALIZED (
      |  SELECT substr(w, 1, $UgMaxWordLen) AS w, CAST(COUNT(*) AS BIGINT) AS f FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY 1),
      |seedcnt AS MATERIALIZED (
      |  SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(flatten(list_transform(generate_series(1, len(w)),
      |      i -> list_transform(generate_series(1, least($UgSeedMaxLen, len(w) - i + 1)),
      |        l -> substr(w, i, l))))) AS piece, f
      |    FROM uw)
      |  GROUP BY piece),
      |v0 AS MATERIALIZED (
      |  SELECT piece, MAX(cnt) AS cnt FROM (
      |    SELECT piece, cnt FROM (
      |      SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rn
      |      FROM seedcnt) WHERE rn <= $UgSeedSize
      |    UNION ALL
      |    SELECT piece, cnt FROM seedcnt WHERE len(piece) = 1
      |  ) GROUP BY piece)""".stripMargin
    for (k <- 1 to UgIters) {
      val prev = s"v${k - 1}"
      b ++= s""",
        |sc$k AS MATERIALIZED (
        |  SELECT piece, CAST(FLOOR(1e6 * ln((cnt + 1.0) /
        |    ((SELECT SUM(cnt) FROM $prev) + (SELECT COUNT(*) FROM $prev)))) AS BIGINT) AS s
        |  FROM $prev)""".stripMargin
      b ++= ugDpChainSql(s"$k", s"sc$k", "uw", UgMaxWordLen, UgSeedMaxLen)
      b ++= s""",
        |use$k AS MATERIALIZED (
        |  SELECT substr(pp.w, pp.j + 1, pp.p - pp.j) AS piece,
        |    CAST(SUM(ww.f) AS BIGINT) AS cnt
        |  FROM path$k pp JOIN uw ww ON ww.w = pp.w
        |  GROUP BY 1),
        |v$k AS MATERIALIZED (
        |  -- dedup via GROUP BY, not UNION: inside WITH RECURSIVE,
        |  -- DuckDB treats a CTE's UNION arms as anchor+step and does
        |  -- not dedup across them (both arms agree on cnt, so MAX is
        |  -- the shared value)
        |  SELECT piece, MAX(cnt) AS cnt FROM (
        |    SELECT piece, cnt FROM (
        |      SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rn
        |      FROM use$k) WHERE rn <= $UgVocabSize
        |    UNION ALL
        |    SELECT s.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt
        |    FROM (SELECT piece FROM seedcnt WHERE len(piece) = 1) s
        |    LEFT JOIN use$k u ON u.piece = s.piece
        |  ) GROUP BY piece)""".stripMargin
    }
    b.toString
  }

  private def t9OracleSql: String =
    ugReplaySql + s"""
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS INT) AS rank,
      |  piece, cnt
      |FROM v$UgIters ORDER BY rank""".stripMargin

  /** t9b oracle: the encode KERNEL alone under a static vocabulary —
    * integer piece scores embedded as literals (zero cross-engine
    * floats), chars outside the list scored at the kernel's fallback
    * constant, per-doc tokens re-assembled in word order × split
    * order. */
  private def t9bOracleSql: String = {
    val vals = t9bScored.map { case (p, s) =>
      s"('$p', CAST($s AS BIGINT))" }.mkString(", ")
    s"""WITH RECURSIVE uw AS MATERIALIZED (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |fixed AS (SELECT * FROM (VALUES $vals) t(piece, s)),
      |scF AS MATERIALIZED (
      |  SELECT piece, s FROM fixed
      |  UNION ALL
      |  SELECT c AS piece, CAST(-1000000000000 AS BIGINT) AS s FROM (
      |    SELECT DISTINCT unnest(string_split(w, '')) AS c FROM uw)
      |  WHERE c NOT IN (SELECT piece FROM fixed))""".stripMargin +
      ugDpChainSql("F", "scF", "uw", UgMaxWordLen, 5) +
      s""",
      |docw AS MATERIALIZED (
      |  SELECT doc_id, i AS wpos, string_split(text, ' ')[i] AS w
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(1, len(string_split(text, ' ')))) AS i
      |        FROM documents)),
      |toks AS MATERIALIZED (
      |  SELECT d.doc_id, d.wpos, pp.j AS ppos,
      |    substr(pp.w, pp.j + 1, pp.p - pp.j) AS piece
      |  FROM docw d JOIN pathF pp ON pp.w = d.w
      |  WHERE d.w <> '')
      |SELECT doc.doc_id, CAST(COALESCE(t.n, 0) AS INT) AS n_tokens,
      |  COALESCE(t.tok, '') AS tokens
      |FROM documents doc LEFT JOIN (
      |  SELECT doc_id, COUNT(*) AS n,
      |    string_agg(piece, ',' ORDER BY wpos, ppos) AS tok
      |  FROM toks GROUP BY doc_id) t USING (doc_id)
      |ORDER BY doc.doc_id""".stripMargin
  }

  /** Fixed merge list for the t8b kernel-oracle query — shared by the
    * Spark side and the generated DuckDB replace-chain so the two can
    * never drift. */
  private val t8bMerges: Seq[(String, String)] =
    Seq("t" -> "a", "ta" -> "b", "e" -> "y", "ey" -> "</w>",
      "a" -> "g", "ag" -> "g", "agg" -> "</w>", "s" -> "t", "st" -> "</w>")

  /** DuckDB expression applying the merge list to a DOUBLE-delimited
    * symbol string (boundaries are chr(1)chr(1)). Each replace's
    * pattern consumes only the INNER delimiter of each boundary
    * (`\1 l \1\1 r \1`) and its replacement restores it (`\1 lr \1`),
    * so back-to-back occurrences of a pair stay independently
    * matchable and one non-overlapping left-to-right replace IS the
    * kernel's greedy single-merge pass — including odd runs of a
    * self-adjacent pair like `aaaaa` under (a,a), where the
    * single-delimiter encoding provably diverges. */
  private def t8bReplaceChainSql(base: String): String =
    t8bMerges.foldLeft(base) { case (acc, (l, r)) =>
      val pat = s"chr(1)||'$l'||chr(1)||chr(1)||'$r'||chr(1)"
      val rep = s"chr(1)||'${l + r}'||chr(1)"
      s"replace($acc, $pat, $rep)"
    }

  /** The TRAINER replayed in DuckDB — the t8b replace-chain trick one
    * level up. The iterative merge loop unrolls into `numMerges`
    * generated CTE triples over the (tiny, Heaps'-law) word-frequency
    * table: `m_i` picks the argmax pair of iteration i under the same
    * total order as the kernel (count DESC, then DuckDB's byte order =
    * UTF8String code-point order on left/right), `w_i` applies it with
    * ONE data-dependent replace over the double-delimited symbol
    * string (greedy-pass-exact, see [[t8bReplaceChainSql]]). Early
    * stop matches minPairFreq: an empty `m_i` leaves the state
    * untouched, so every later `m_j` is empty too and the UNION's
    * merge_idx sequence never skips. Every CTE is MATERIALIZED —
    * `w_i` is referenced twice, and inlining would double the
    * expression tree per iteration. */
  private def bpeTrainReplaySql(numMerges: Int, minPairFreq: Long): String = {
    val d = "chr(1)"; val dd = "chr(1)||chr(1)"
    val b = new StringBuilder
    b ++= s"""WITH w0 AS MATERIALIZED (
      |  SELECT token,
      |    $dd || array_to_string(list_append(string_split(token, ''), '</w>'),
      |      $dd) || $dd AS sq,
      |    COUNT(*) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> '' GROUP BY token)""".stripMargin
    for (i <- 1 to numMerges) {
      val p = i - 1
      b ++= s""",
        |m$i AS MATERIALIZED (
        |  SELECT l, r FROM (
        |    SELECT s.syms[k] AS l, s.syms[k + 1] AS r, SUM(s.f) AS cnt
        |    FROM (SELECT string_split(trim(sq, chr(1)), $dd) AS syms, f
        |          FROM w$p) s,
        |         unnest(generate_series(1, len(s.syms) - 1)) AS g(k)
        |    GROUP BY 1, 2)
        |  WHERE cnt >= $minPairFreq
        |  ORDER BY cnt DESC, l, r LIMIT 1),
        |w$i AS MATERIALIZED (
        |  SELECT w.token, CASE WHEN m.l IS NULL THEN w.sq
        |    ELSE replace(w.sq, $d||m.l||$dd||m.r||$d, $d||m.l||m.r||$d)
        |    END AS sq, w.f
        |  FROM w$p w LEFT JOIN m$i m ON TRUE)""".stripMargin
    }
    b.toString
  }

  /** Oracle for t8c: the learned merge list itself. */
  private def t8cOracleSql(numMerges: Int, minPairFreq: Long): String = {
    val sel = (1 to numMerges)
      .map(i => s"SELECT ${i - 1} AS merge_idx, l AS lft, r AS rgt FROM m$i")
      .mkString("\nUNION ALL\n")
    bpeTrainReplaySql(numMerges, minPairFreq) +
      s"\nSELECT * FROM (\n$sel\n) ORDER BY merge_idx"
  }

  /** Oracle for t8: after the replay, the final state w_N carries each
    * trained word's fully-merged symbol sequence — and for words of
    * the training corpus, encode ≡ trainer final state (BpeSpec pins
    * it), so per-doc token counts are a per-word-length join away.
    * Empty words (split artifacts) encode to the bare end marker. */
  private def t8OracleSql(numMerges: Int, minPairFreq: Long): String =
    bpeTrainReplaySql(numMerges, minPairFreq) +
      s""",
      |tokcnt AS (
      |  SELECT token,
      |    len(string_split(trim(sq, chr(1)), chr(1)||chr(1))) AS ntok
      |  FROM w$numMerges),
      |docw AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents)
      |SELECT d.doc_id,
      |  CAST(SUM(CASE WHEN d.token = '' THEN 1 ELSE t.ntok END) AS INT)
      |    AS n_bpe_tokens
      |FROM docw d LEFT JOIN tokcnt t ON d.token = t.token
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** The WordPiece TRAINER replayed in DuckDB — [[bpeTrainReplaySql]]
    * with the likelihood score: each iteration's CTE quadruple
    * derives unit counts `u_p` and pair counts `p_p` from the current
    * state, `m_i` picks the argmax under (score DESC, count DESC,
    * left, right) where score = CAST(cnt AS DOUBLE)/(cu_l·cu_r) —
    * long→double conversion is exact below 2⁵³ and IEEE multiply/
    * divide are correctly rounded, so Spark and DuckDB compute the
    * SAME double and the same total order — and `w_i` applies the
    * merge with the greedy-pass-exact double-delimiter replace (the
    * merged symbol is l plus r without its `##`, the BERT symbol
    * convention). Early stop inherits t8's shape: an empty m_i
    * leaves state untouched and every later m_j is empty. */
  private def wpTrainReplaySql(numMerges: Int, minPairFreq: Long): String = {
    val d = "chr(1)"; val dd = "chr(1)||chr(1)"
    val b = new StringBuilder
    b ++= s"""WITH w0 AS MATERIALIZED (
      |  SELECT token,
      |    $dd || array_to_string(
      |      list_prepend(string_split(token, '')[1],
      |        list_transform(string_split(token, '')[2:], c -> '##' || c)),
      |      $dd) || $dd AS sq,
      |    COUNT(*) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> '' GROUP BY token)""".stripMargin
    for (i <- 1 to numMerges) {
      val p = i - 1
      b ++= s""",
        |u$p AS MATERIALIZED (
        |  SELECT u, SUM(f) AS cu FROM (
        |    SELECT unnest(string_split(trim(sq, chr(1)), $dd)) AS u, f
        |    FROM w$p) GROUP BY 1),
        |p$p AS MATERIALIZED (
        |  SELECT s.syms[k] AS l, s.syms[k + 1] AS r, SUM(s.f) AS cnt
        |  FROM (SELECT string_split(trim(sq, chr(1)), $dd) AS syms, f
        |        FROM w$p) s,
        |       unnest(generate_series(1, len(s.syms) - 1)) AS g(k)
        |  GROUP BY 1, 2),
        |m$i AS MATERIALIZED (
        |  SELECT l, r FROM (
        |    SELECT pp.l, pp.r, pp.cnt,
        |      CAST(pp.cnt AS DOUBLE) /
        |        (CAST(ul.cu AS DOUBLE) * CAST(ur.cu AS DOUBLE)) AS sc
        |    FROM p$p pp
        |    JOIN u$p ul ON pp.l = ul.u
        |    JOIN u$p ur ON pp.r = ur.u
        |    WHERE pp.cnt >= $minPairFreq)
        |  ORDER BY sc DESC, cnt DESC, l, r LIMIT 1),
        |w$i AS MATERIALIZED (
        |  SELECT w.token, CASE WHEN m.l IS NULL THEN w.sq
        |    ELSE replace(w.sq, $d||m.l||$dd||m.r||$d,
        |      $d||m.l||substr(m.r, 3)||$d)
        |    END AS sq, w.f
        |  FROM w$p w LEFT JOIN m$i m ON TRUE)""".stripMargin
    }
    b.toString
  }

  /** Oracle for t10: the learned WordPiece merge list itself. */
  private def t10OracleSql(numMerges: Int, minPairFreq: Long): String = {
    val sel = (1 to numMerges)
      .map(i => s"SELECT ${i - 1} AS merge_idx, l AS lft, r AS rgt FROM m$i")
      .mkString("\nUNION ALL\n")
    wpTrainReplaySql(numMerges, minPairFreq) +
      s"\nSELECT * FROM (\n$sel\n) ORDER BY merge_idx"
  }

  /** Fixed vocabulary for the t10b kernel-oracle query — shared by
    * the Spark kernel and the generated DuckDB greedy chain. Single
    * letters (both forms) keep ordinary lowercase words encodable so
    * the greedy arbitration is exercised (multi-char pieces compete
    * with their prefixes: or/ord/order, sc/scan, ##d/##der/##rder);
    * uppercase/digit/punctuation words fall to [UNK]. */
  private val t10bVocab: Seq[String] =
    ("abcdefghijklmnopqrstuvwxyz".map(_.toString) ++
      "abcdefghijklmnopqrstuvwxyz".map(c => s"##$c") ++
      Seq("th", "the", "or", "ord", "order", "re", "an", "and", "sc",
        "scan", "ta", "table", "per", "pro",
        "##er", "##ed", "##ing", "##on", "##an", "##le", "##ble",
        "##der", "##rder", "##ce", "##ss")).toSeq
  private val T10bMaxWordChars = 24

  /** The greedy longest-match walk unrolled into generated CTEs over
    * the distinct-word table: each of `maxChars` steps advances every
    * word's cursor by its longest matching piece (a LATERAL top-1 —
    * match text at a fixed position is determined by its length, so
    * (consumed DESC) is already a total order), or marks the word
    * failed. Since every step consumes ≥ 1 character, `maxChars`
    * steps fully encode any word the kernel accepts; longer words
    * are [UNK] by contract on BOTH sides. Assumes a prior CTE
    * `vocab(p, cont, plen, body)` (piece, is-continuation, consumed
    * length, match text) — literal for t10b, DERIVED FROM THE
    * TRAINING REPLAY for t10c. */
  private def wpGreedyChainSql(maxChars: Int): String = {
    val b = new StringBuilder
    b ++= s"""words AS MATERIALIZED (
      |  SELECT DISTINCT token FROM
      |    (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> '' AND length(token) <= $maxChars),
      |s0 AS MATERIALIZED (
      |  SELECT token, length(token) AS wlen, 1 AS pos,
      |    CAST('' AS VARCHAR) AS toks, FALSE AS failed
      |  FROM words)""".stripMargin
    for (i <- 1 to maxChars) {
      val p = i - 1
      b ++= s""",
        |s$i AS MATERIALIZED (
        |  SELECT s.token, s.wlen,
        |    CASE WHEN s.failed OR s.pos > s.wlen THEN s.pos
        |         WHEN b.body IS NULL THEN s.pos
        |         ELSE s.pos + b.plen END AS pos,
        |    CASE WHEN s.failed OR s.pos > s.wlen OR b.body IS NULL THEN s.toks
        |         ELSE s.toks ||
        |           CASE WHEN s.pos = 1 THEN b.body ELSE '##' || b.body END
        |           || chr(1) END AS toks,
        |    s.failed OR (s.pos <= s.wlen AND b.body IS NULL) AS failed
        |  FROM s$p s LEFT JOIN LATERAL (
        |    SELECT v.plen, v.body FROM vocab v
        |    WHERE v.cont = (s.pos > 1)
        |      AND substr(s.token, s.pos, v.plen) = v.body
        |    ORDER BY v.plen DESC LIMIT 1) b ON TRUE)""".stripMargin
    }
    b ++= s""",
      |wtok AS MATERIALIZED (
      |  SELECT token,
      |    CASE WHEN failed THEN '[UNK]' ELSE rtrim(toks, chr(1)) END AS tk,
      |    CASE WHEN failed THEN 1
      |         ELSE len(string_split(rtrim(toks, chr(1)), chr(1))) END AS ntok
      |  FROM s$maxChars
      |  UNION ALL
      |  SELECT token, '[UNK]', 1 FROM
      |    (SELECT DISTINCT token FROM
      |      (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |     WHERE length(token) > $maxChars))""".stripMargin
    b.toString
  }

  /** Per-doc token assembly shared by the two greedy-encode oracles
    * (assumes the chain's `wtok` CTE). */
  private val wpPerDocSql: String =
    s""",
      |docw AS (
      |  SELECT doc_id, k AS ord, ws[k] AS token FROM
      |    (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |    unnest(generate_series(1, len(ws))) AS g(k)
      |  WHERE ws[k] <> ''),
      |perdoc AS (
      |  SELECT d.doc_id,
      |    CAST(SUM(w.ntok) AS INT) AS n_tokens,
      |    string_agg(replace(w.tk, chr(1), ','), ',' ORDER BY d.ord) AS tokens
      |  FROM docw d JOIN wtok w ON d.token = w.token
      |  GROUP BY d.doc_id)
      |SELECT doc.doc_id,
      |  COALESCE(p.n_tokens, 0) AS n_tokens,
      |  COALESCE(p.tokens, '') AS tokens
      |FROM documents doc LEFT JOIN perdoc p ON doc.doc_id = p.doc_id
      |ORDER BY doc.doc_id""".stripMargin

  private def t10bVocabCte: String = {
    val vocabRows = t10bVocab.filter(_ != "##").map { p =>
      val cont = p.startsWith("##")
      val body = if (cont) p.substring(2) else p
      s"('$p', ${if (cont) "TRUE" else "FALSE"}, ${body.length}, '$body')"
    }.mkString(",\n    ")
    s"""WITH vocab(p, cont, plen, body) AS (VALUES
      |    $vocabRows),
      |""".stripMargin
  }

  private def t10bOracleSql: String =
    t10bVocabCte + wpGreedyChainSql(T10bMaxWordChars) + wpPerDocSql

  /** t11 oracle: the t10b encode machinery, then the decode fold per
    * word (strip '##' bodies, concat; words re-joined by ' ') — both
    * engines report (lossless, has_unk) per doc. */
  private def t11OracleSql: String =
    t10bVocabCte + wpGreedyChainSql(T10bMaxWordChars) +
    s""",
      |docw AS (
      |  SELECT doc_id, k AS ord, ws[k] AS token FROM
      |    (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |    unnest(generate_series(1, len(ws))) AS g(k)
      |  WHERE ws[k] <> ''),
      |perdoc AS (
      |  SELECT d.doc_id,
      |    string_agg(array_to_string(list_transform(string_split(w.tk, chr(1)),
      |      x -> CASE WHEN starts_with(x, '##') THEN substr(x, 3) ELSE x END), ''),
      |      ' ' ORDER BY d.ord) AS decoded,
      |    bool_or(list_contains(string_split(w.tk, chr(1)), '[UNK]')) AS has_unk
      |  FROM docw d JOIN wtok w ON d.token = w.token
      |  GROUP BY d.doc_id)
      |SELECT doc.doc_id,
      |  (COALESCE(p.decoded, '') = doc.text) AS lossless,
      |  COALESCE(p.has_unk, FALSE) AS has_unk
      |FROM documents doc LEFT JOIN perdoc p ON doc.doc_id = p.doc_id
      |ORDER BY doc.doc_id""".stripMargin

  /** Oracle for t10c — the full train→encode integration replayed in
    * SQL: the training CTE chain's final state supplies the encode
    * vocabulary (initial units of the corpus = w0's distinct symbols,
    * plus every m_i's merge product), and the greedy walk runs
    * against THAT derived relation instead of literals. A drift in
    * either the trainer or the kernel breaks the gate. */
  private def t10cOracleSql(numMerges: Int, minPairFreq: Long): String = {
    val dd = "chr(1)||chr(1)"
    val products = (1 to numMerges)
      .map(i => s"SELECT l || substr(r, 3) AS p FROM m$i")
      .mkString("\n    UNION ALL\n    ")
    wpTrainReplaySql(numMerges, minPairFreq) +
      s""",
      |vunits AS (
      |  SELECT DISTINCT unnest(string_split(trim(sq, chr(1)), $dd)) AS p
      |  FROM w0),
      |vocab AS MATERIALIZED (
      |  SELECT DISTINCT p, starts_with(p, '##') AS cont,
      |    CASE WHEN starts_with(p, '##') THEN length(p) - 2
      |         ELSE length(p) END AS plen,
      |    CASE WHEN starts_with(p, '##') THEN substr(p, 3)
      |         ELSE p END AS body
      |  FROM (SELECT p FROM vunits UNION
      |    $products)
      |  WHERE NOT (starts_with(p, '##') AND length(p) = 2)),
      |""".stripMargin +
      wpGreedyChainSql(T10bMaxWordChars) + wpPerDocSql
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T8/parity-plus: distributed BPE — merges learned on the corpus
    // word-frequency table (vocab-sized iterations, one corpus scan),
    // then native-kernel encoding. Fully oracle-checked: the DuckDB
    // twin REPLAYS the whole training loop (unrolled CTE chain, see
    // bpeTrainReplaySql) and re-derives per-doc token counts from the
    // replay's final state; t8c gates the merge sequence itself.
    "t8_bpe" -> ((s, d) => {
      val merges = bpeMergesShared(s, d)
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.BpeFunctions.bpeEncode(col("text"), merges).as("__t"))
        .select(col("doc_id"), size(col("__t")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // The trainer's learned merge SEQUENCE under a full SQL oracle:
    // the merge list is deterministic driver state (total-order
    // argmax), emitted as rows and replayed move-for-move in DuckDB
    // by the generated unrolled CTE chain (bpeTrainReplaySql).
    "t8c_bpe_merges" -> ((s, d) => {
      import s.implicits._
      bpeMergesShared(s, d).zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("merge_idx", "lft", "rgt")
        .orderBy("merge_idx")
    }),

    // The encode KERNEL under a full SQL oracle: a fixed merge list
    // (so the oracle is static SQL) applied by the native kernel on
    // the Spark side and by an independent formulation in DuckDB — a
    // chain of replace() calls over a DOUBLE--delimited symbol
    // string (t8bReplaceChainSql), whose left-to-right non-overlapping
    // replacement IS the greedy single-merge pass — including
    // back-to-back pair occurrences the single-delimiter encoding
    // misses. Tokens ship comma-joined (the comparator can't hash
    // arrays).
    "t8b_bpe_fixed" -> ((s, d) => {
      val merges = t8bMerges
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.BpeFunctions.bpeEncode(col("text"), merges).as("__t"))
        .select(col("doc_id"), size(col("__t")).as("n_tokens"),
          array_join(col("__t"), ",").as("tokens"))
        .orderBy("doc_id")
    }),

    // T9/parity-plus: unigram-LM tokenizer training (SentencePiece
    // hard-EM) — seed substring vocabulary, Viterbi E-steps under
    // integer micro-log scores, usage-count prune. The DuckDB twin
    // replays the WHOLE loop (generated unrolled DP, ugReplaySql), so
    // the learned vocabulary itself is hash-gated like t8c gates the
    // BPE merge sequence.
    "t9_unigram_vocab" -> ((s, d) => {
      import s.implicits._
      unigramVocabShared(s, d).zipWithIndex
        .map { case ((p, c), i) => (i + 1, p, c) }
        .toDF("rank", "piece", "cnt")
        .orderBy("rank")
    }),

    // The Viterbi encode KERNEL under a full SQL oracle: a fixed
    // integer-scored vocabulary applied by the native kernel on the
    // Spark side and by the generated unrolled DP in DuckDB. Tokens
    // ship comma-joined (the comparator can't hash arrays).
    "t9b_unigram_fixed" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          graft.expressions.UnigramExpressions
            .unigram_encode(col("text"), t9bScored).as("__t"))
        .select(col("doc_id"), size(col("__t")).as("n_tokens"),
          array_join(col("__t"), ",").as("tokens"))
        .orderBy("doc_id")
    }),

    // T10/parity-plus: WordPiece trainer — the likelihood-scored
    // sibling of t8's BPE (argmax of count(lr)/(count(l)·count(r))
    // instead of raw pair count). The learned merge SEQUENCE is
    // deterministic driver state under a total order and the DuckDB
    // oracle replays the whole loop move-for-move (wpTrainReplaySql),
    // the t8c discipline.
    "t10_wordpiece" -> ((s, d) => {
      import s.implicits._
      wpMergesShared(s, d).zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("merge_idx", "lft", "rgt")
        .orderBy("merge_idx")
    }),

    // The greedy longest-match-first encode KERNEL under a full SQL
    // oracle: a fixed vocabulary applied by the native kernel on the
    // Spark side and by a generated unrolled greedy walk in DuckDB
    // (t10bGreedySql — one CTE per consumed character, LATERAL top-1
    // longest match per step, whole-word [UNK] on any miss). Tokens
    // ship comma-joined (the comparator can't hash arrays).
    "t10b_wordpiece_fixed" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.WordPieceFunctions.wordpieceEncode(
            col("text"), t10bVocab, unk = "[UNK]",
            maxWordChars = T10bMaxWordChars).as("__t"))
        .select(col("doc_id"), size(col("__t")).as("n_tokens"),
          array_join(col("__t"), ",").as("tokens"))
        .orderBy("doc_id")
    }),

    // The decode round-trip: wordpieceDecode(encode(text)) must equal
    // the original for every doc whose words all encode without
    // [UNK] — the one information loss the encoder has. Both engines
    // compute lossless AND has_unk per doc, so the gate pins the
    // decode fold and the loss boundary together (lossless must be
    // exactly ¬has_unk on this single-space corpus).
    "t11_wordpiece_roundtrip" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), col("text"),
          graft.functions.WordPieceFunctions.wordpieceEncode(
            col("text"), t10bVocab, unk = "[UNK]",
            maxWordChars = T10bMaxWordChars).as("__t"))
        .select(col("doc_id"),
          (graft.functions.WordPieceFunctions.wordpieceDecode(col("__t"))
            === col("text")).as("lossless"),
          array_contains(col("__t"), "[UNK]").as("has_unk"))
        .orderBy("doc_id")
    }),

    // The full train→encode WordPiece integration: encode the corpus
    // with the TRAINED vocabulary (corpus initial units + merge
    // products — the merge-closed inventory, so training words always
    // encode without [UNK] via character fallback). The oracle derives
    // the SAME vocabulary from the training replay's CTE state and
    // greedy-walks with it (t10cOracleSql) — trainer and kernel are
    // gated as one system. The unit readback is alphabet-sized (the
    // documented KB-scale driver boundary).
    "t10c_wordpiece_encode" -> ((s, d) => {
      val merges = wpMergesShared(s, d)
      val units = documents(s, d)
        .select(explode(split(col("text"), " ")).as("__w"))
        .filter(length(col("__w")) > 0).distinct()
        .select(explode(transform(split(col("__w"), ""),
          (c, i) => when(i === 0, c).otherwise(concat(lit("##"), c)))).as("u"))
        .distinct().collect().map(_.getString(0)).toSeq
      val vocab = graft.functions.WordPieceFunctions
        .vocabFromMerges(units, merges)
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.WordPieceFunctions.wordpieceEncode(
            col("text"), vocab, unk = "[UNK]",
            maxWordChars = T10bMaxWordChars).as("__t"))
        .select(col("doc_id"), size(col("__t")).as("n_tokens"),
          array_join(col("__t"), ",").as("tokens"))
        .orderBy("doc_id")
    }),

    // T2: space tokenization + counts per document.
    "t2_token_count" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          size(spaceTokens(col("text"))).as("n_tokens"),
          length(col("text")).as("len_chars"))
        .orderBy("doc_id")
    }),

    // A2: vocabulary — explode + hash-agg token frequencies with cutoff.
    "a2_vocab" -> ((s, d) => {
      vocabulary(documents(s, d), "text", 10L)
        .orderBy(desc("cnt"), asc("token"))
    }),

    // T6: dense token ids, most-frequent-first (distributed rank).
    "t6_token_indices" -> ((s, d) => {
      tokenIndices(vocabulary(documents(s, d), "text", 1L))
        .orderBy("token_id")
    }),

    // T4: per-token id lookup through a broadcast vocabulary.
    "t4_token_lookup" -> ((s, d) => {
      val docs = documents(s, d).filter(col("doc_id") < 3)
      val idx = tokenIndices(vocabulary(documents(s, d), "text", 1L))
      lookupTokenIds(docs, "doc_id", "text", idx, -1L)
        .select("doc_id", "pos", "token", "token_id")
        .orderBy("doc_id", "pos")
    }),

    // T4 full contract: [SOS] + ids + [EOS] per document, UNK fallback,
    // empty text -> exactly [SOS, EOS] (a planted blank doc exercises
    // that branch — the corpus has none). Vocab ids start at 3 (the
    // make_indices reservation); the sequence is emitted int-joined
    // (the comparator can't hash arrays).
    "t4b_apply_embeddings" -> ((s, d) => {
      val docs = documents(s, d).filter(col("doc_id") < 3)
        .select(col("doc_id"), col("text"))
        .unionByName(s.range(1).select(lit(9001L).as("doc_id"), lit("").as("text")))
      val idx = tokenIndicesWithSpecials(vocabulary(documents(s, d), "text", 1L))
      applyEmbeddings(docs, "doc_id", "text", idx)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), x => x.cast("string")), ",").as("token_ids"),
          size(col("token_ids")).as("n_ids"))
        .orderBy("doc_id")
    }),

    // T3: pad token arrays to the global max length.
    "t3_pad" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), spaceTokens(col("text")).as("tokens"))
      padToMax(toks, "tokens", "<pad>")
        .select(col("doc_id"), size(col("tokens")).as("padded_len"),
          element_at(col("tokens"), -1).as("last_token"))
        .orderBy("doc_id")
    }),

    // T7: one-hot encoding as a pure array expression. The vector is
    // emitted as an int-joined string: the gate's comparator sorts rows
    // by every column, which list-typed cells break.
    "t7_onehot" -> ((s, d) => {
      embeddings(s, d)
        .select(col("vec_id"), col("label"),
          array_join(transform(oneHot(col("label"), 10),
            x => x.cast("int").cast("string")), ",").as("onehot"))
        .orderBy("vec_id")
    })
  )

  private val vocabSql =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      | vocab AS (
      |  SELECT token, COUNT(*) AS cnt FROM toks WHERE token <> ''
      |  GROUP BY token)
      |""".stripMargin

  def oracles: Map[String, String] = Map(
    "t10_wordpiece" -> t10OracleSql(WpNumMerges, WpMinPairFreq),
    "t10b_wordpiece_fixed" -> t10bOracleSql,
    "t11_wordpiece_roundtrip" -> t11OracleSql,
    "t10c_wordpiece_encode" -> t10cOracleSql(WpNumMerges, WpMinPairFreq),
    "t9_unigram_vocab" -> t9OracleSql,
    "t9b_unigram_fixed" -> t9bOracleSql,
    "t8_bpe" -> t8OracleSql(BpeNumMerges, BpeMinPairFreq),
    "t8c_bpe_merges" -> t8cOracleSql(BpeNumMerges, BpeMinPairFreq),
    "t8b_bpe_fixed" ->
      (s"""WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ww AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(ws)),
        |    i -> struct_pack(idx := i, wd := ws[CAST(i AS INT)]))) AS t
        |  FROM w),
        |seq0 AS (
        |  SELECT doc_id, t.idx AS idx,
        |    CASE WHEN t.wd = '' THEN chr(1)||chr(1) || '</w>' || chr(1)||chr(1)
        |    ELSE chr(1)||chr(1) || array_to_string(
        |      list_append(string_split(t.wd, ''), '</w>'),
        |      chr(1)||chr(1)) || chr(1)||chr(1)
        |    END AS sq
        |  FROM ww),
        |enc AS (
        |  SELECT doc_id, idx,
        |   ${t8bReplaceChainSql("sq")} AS sq
        |  FROM seq0),
        |tk AS (
        |  SELECT doc_id, idx,
        |    string_split(trim(sq, chr(1)), chr(1)||chr(1)) AS toks
        |  FROM enc)
        |SELECT doc_id,
        |  CAST(SUM(len(toks)) AS INT) AS n_tokens,
        |  string_agg(array_to_string(toks, ','), ',' ORDER BY idx) AS tokens
        |FROM tk GROUP BY doc_id ORDER BY doc_id""").stripMargin,
    "t2_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(length(text) AS INT) AS len_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "a2_vocab" -> (vocabSql +
      """SELECT token, cnt FROM vocab WHERE cnt >= 10
        |ORDER BY cnt DESC, token ASC""".stripMargin),
    "t6_token_indices" -> (vocabSql +
      """SELECT token, cnt,
        |  CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) - 1 AS BIGINT) AS token_id
        |FROM vocab ORDER BY token_id""".stripMargin),
    "t4_token_lookup" -> (vocabSql +
      """, idx AS (
        |  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) - 1 AS BIGINT) AS token_id
        |  FROM vocab),
        | exploded AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(string_split(text, ' '))),
        |    i -> struct_pack(pos := i - 1, token := string_split(text, ' ')[CAST(i AS INT)]))) AS s
        |  FROM documents WHERE doc_id < 3)
        |SELECT e.doc_id, CAST(e.s.pos AS INT) AS pos, e.s.token AS token,
        |  COALESCE(idx.token_id, -1) AS token_id
        |FROM exploded e LEFT JOIN idx ON e.s.token = idx.token
        |WHERE e.s.token <> ''
        |ORDER BY doc_id, pos""".stripMargin),
    "t4b_apply_embeddings" -> (vocabSql +
      """, idx AS (
        |  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) - 1 + 3 AS BIGINT) AS token_id
        |  FROM vocab),
        | d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 3
        |  UNION ALL SELECT 9001, ''),
        | exploded AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(string_split(text, ' '))),
        |    i -> struct_pack(pos := i - 1, token := string_split(text, ' ')[CAST(i AS INT)]))) AS s
        |  FROM d),
        | ids AS (
        |  SELECT e.doc_id, e.s.pos AS pos, COALESCE(idx.token_id, 2) AS tid
        |  FROM exploded e LEFT JOIN idx ON e.s.token = idx.token
        |  WHERE e.s.token <> ''),
        | agg AS (
        |  SELECT doc_id, list(tid ORDER BY pos) AS ids FROM ids GROUP BY doc_id)
        |SELECT d.doc_id,
        |  array_to_string(list_concat(list_concat([CAST(0 AS BIGINT)],
        |    COALESCE(a.ids, CAST([] AS BIGINT[]))), [CAST(1 AS BIGINT)]), ',') AS token_ids,
        |  CAST(len(COALESCE(a.ids, CAST([] AS BIGINT[]))) + 2 AS INT) AS n_ids
        |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin),
    "t3_pad" ->
      """WITH m AS (SELECT MAX(len(string_split(text, ' '))) AS maxlen FROM documents)
        |SELECT doc_id, CAST(m.maxlen AS INT) AS padded_len,
        |  CASE WHEN len(string_split(text, ' ')) = m.maxlen
        |       THEN string_split(text, ' ')[CAST(m.maxlen AS INT)]
        |       ELSE '<pad>' END AS last_token
        |FROM documents, m ORDER BY doc_id""".stripMargin,
    "t7_onehot" ->
      """SELECT vec_id, label,
        |  array_to_string(list_transform(generate_series(0, 9),
        |    i -> CASE WHEN i = label THEN 1 ELSE 0 END), ',') AS onehot
        |FROM embeddings ORDER BY vec_id""".stripMargin
  )
}
