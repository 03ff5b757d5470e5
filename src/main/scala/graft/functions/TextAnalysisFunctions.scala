package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token statistics, document fingerprinting. All
  * pure codegen'd expressions — one corpus scan computes everything,
  * no UDFs, no shuffles.
  */
object TextAnalysisFunctions {

  /** Tiny per-language function-word lists for the n-gram/stopword
    * voting heuristic (enough to demonstrate the operator shape; swap
    * in real profiles for production). Order fixes tie-breaking. */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that"),
    "es" -> Seq("el", "la", "de", "y", "es", "no", "un", "con"),
    "fr" -> Seq("le", "la", "de", "et", "est", "ne", "un", "avec"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo"))

  private def toks(text: Column): Column = split(text, " ")

  /** Stopword hits for one profile. */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(toks(text), t => array_contains(array(words.map(lit): _*), t)))

  /** Language-ID by stopword voting: argmax of profile hits, ties
    * broken by profile order; no hits → "und". */
  def langIdGuess(text: Column): Column = {
    val hits = stopwordProfiles.map { case (lang, words) =>
      struct(stopwordHits(text, words).as("hits"), lit(lang).as("lang"))
    }
    val best = array(hits: _*)
    val winner = aggregate(best,
      struct(lit(0).as("hits"), lit("und").as("lang")),
      (acc, h) => when(h.getField("hits") > acc.getField("hits"), h).otherwise(acc))
    when(winner.getField("hits") > 0, winner.getField("lang")).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]-ish: rewards moderate token
    * length and lexical diversity, penalizes punctuation/digit load.
    * Deterministic double arithmetic (int counts → IEEE ops). */
  def qualityScore(text: Column): Column = {
    val t = toks(text)
    val nTok = size(t).cast("double")
    val meanTokLen = (length(text).cast("double") - (nTok - 1.0)) / nTok
    val typeToken = size(array_distinct(t)).cast("double") / nTok
    val punct = size(split(text, "[\\.,;:!?]")).cast("double") - 1.0
    val digits = length(text).cast("double") -
      length(regexp_replace(text, "[0-9]", "")).cast("double")
    val punctRatio = punct / nTok
    val digitRatio = digits / length(text).cast("double")
    (lit(0.4) * least(meanTokLen / 8.0, lit(1.0))
      + lit(0.4) * typeToken
      + lit(0.2) * (lit(1.0) - least(punctRatio + digitRatio, lit(1.0))))
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(toks(text))

  /** BPE-ish sub-token count: alpha runs, digit runs, and single
    * non-alphanumeric marks (the usual pre-tokenizer shape). */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))

  /** Lexical diversity: distinct / total tokens. */
  def typeTokenRatio(text: Column): Column =
    size(array_distinct(toks(text))).cast("double") / size(toks(text)).cast("double")

  /** Content fingerprint: md5 of case/whitespace-normalized text
    * (exact-dup key, DedupFunctions.contentHash) plus a rolling-hash
    * style minimum over char 8-gram hashes (stable under small edits —
    * winnowing's min-hash step). */
  def minGramFingerprint(text: Column, k: Int): Column =
    array_min(transform(
      when(length(text) >= k,
        sequence(lit(1), length(text) - (k - 1))).otherwise(sequence(lit(1), lit(1))),
      i => md5(text.substr(i, lit(k)))))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * algorithm; x4's min-gram hash is its degenerate whole-doc-window
    * case): hash every char k-gram, slide a w-hash window, keep each
    * window's minimum — guaranteed to share fingerprints with any copy
    * of a ≥(w+k−1)-char passage, the local-dedup/plagiarism primitive.
    *
    * Plan: chars explode once per doc; the k-gram is rebuilt from
    * lead() chars over the (doc, position) window (codegen'd — no
    * interpreted per-gram lambdas), hashed to a 40-bit long; the
    * window minimum is a second frame over the same partitioning
    * (ROWS 0..w−1), so Spark plans ONE sort+shuffle on doc id for
    * both. Fingerprints are the distinct window minima.
    *
    * Returns per doc: fingerprint count, min/max fingerprint, and an
    * order-independent checksum (sum of distinct minima — integer math,
    * engine-exact). Shuffle ∝ total chars; at 100 TB this is the
    * standard one-pass fingerprint extraction feeding a (fingerprint →
    * doc) inverted index. */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, w: Int): DataFrame =
    winnowingFingerprintsFromFps(winnowFps(docs, idCol, textCol, k, w), idCol)

  /** Per-doc fingerprint stats from a precomputed [[winnowFps]] frame —
    * lets callers computing BOTH the per-doc stats and the pairwise
    * index ([[winnowingPairsFromFps]]) share (persist) one fingerprint
    * extraction instead of running the char-explode + window chain
    * twice (measured, BENCH.md round 10). */
  def winnowingFingerprintsFromFps(fps: DataFrame, idCol: String): DataFrame =
    fps.groupBy("__id").agg(
        count(lit(1)).cast("int").as("n_fp"),
        min("__wm").as("min_fp"), max("__wm").as("max_fp"),
        sum("__wm").as("fp_checksum"))
      .withColumnRenamed("__id", idCol)

  /** Per-doc distinct winnowing fingerprints as rows (`__id`, `__wm`) —
    * the shared extraction behind [[winnowingFingerprints]] (per-doc
    * stats) and [[winnowingPairs]] (the inverted index). One
    * sort+shuffle on doc id plans both frames. Public so pipelines
    * computing several winnowing products can persist it once. */
  def winnowFps(docs: DataFrame, idCol: String, textCol: String,
                k: Int, w: Int): DataFrame =
    // ONE map pass (optimization r18): the winnow_minima kernel
    // computes the per-doc distinct window minima per ROW — the
    // windowed reference form below shuffled and sorted one row per
    // CHARACTER (posexplode + k lead() columns + per-position md5 +
    // two window passes: ~10M rows and 21–23 s cpu at sf0.1 for a
    // value that never needed an exchange at all). Kernel output is
    // per-doc distinct (ascending), so the (id, fingerprint) relation
    // is distinct by construction — bit-identical to the reference
    // (TextAnalysisSpec pins kernel ≡ windowed form).
    // NO scan-parallelism valve here (optimization r19): the r18 valve
    // (committed unbenched) parallelized the kernel's materialization
    // (x18 0.97 -> 0.54 s) but pinned the SHARED PERSISTED relation at
    // 32 partitions, and every downstream consumer of the cache then
    // ran multi-stage 32-task plans over KB-sized data — x18b wall
    // 0.99 -> 1.15-1.85 s, cpu 0.8 -> 10-23 s (OPTIMIZATION_r19.md:
    // cpu ~10 s with the cache verifiably hot, so the tax is
    // tiny-task overhead, not recompute). Net over the pair the valve
    // LOSES on wall and costs 12-25x cpu; the one-pass kernel is
    // already cheap enough serially (~0.6 s at sf0.1).
    docs.filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol).as("__id"), col(textCol).as("__txt"))
      .select(col("__id"),
        explode(graft.expressions.ShingleExpressions
          .winnow_minima(col("__txt"), k, w)).as("__wm"))

  /** The pre-r18 window-chain formulation of [[winnowFps]] — kept as
    * the equivalence reference for the kernel (the same role dotHof
    * plays for the dot kernel): per-character posexplode, k stacked
    * lead() columns forming each gram, per-position md5, forward
    * rowsBetween(0, w-1) minima, full windows only, distinct. */
  private[graft] def winnowFpsWindowedReference(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chars = docs.filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol).as("__id"), posexplode(split(col(textCol), "")))
      .toDF("__id", "__pos", "__c")
    val byPos = Window.partitionBy("__id").orderBy("__pos")
    val gram = concat((0 until k).map(j =>
      if (j == 0) col("__c") else lead("__c", j).over(byPos)): _*)
    val hashed = chars.withColumn("__g", gram)
      .filter(col("__g").isNotNull && length(col("__g")) === k) // tail grams drop
      .withColumn("__h", conv(md5(col("__g")).substr(lit(1), lit(10)), 16, 10).cast("long"))
    val winMin = min("__h").over(
      Window.partitionBy("__id").orderBy("__pos").rowsBetween(0, w - 1))
    hashed
      // frame minima over ALL gram rows first — filtering before the
      // window would amputate the tail hashes from end-of-doc frames
      .withColumn("__wm", winMin)
      .withColumn("__nh", count(lit(1)).over(Window.partitionBy("__id")))
      // then keep only full windows (the last w−1 positions' shrinking
      // frames would re-select suffix minima the algorithm doesn't emit)
      .filter(col("__pos") <= col("__nh") - w)
      .select(col("__id"), col("__wm")).distinct()
  }

  /** MOSS-style candidate pairs: document pairs sharing at least
    * `minShared` winnowing fingerprints (the pairwise use the MOSS
    * system — Schleimer et al. 2003 §4 — puts the fingerprints to:
    * any two docs sharing a passage of ≥ w+k−1 chars MUST appear,
    * since winnowing's guarantee puts at least one common window
    * minimum in both fingerprint sets).
    *
    * Plan: per-doc distinct fingerprints ([[winnowFps]], one doc-id
    * sort) feed a (fingerprint → doc) inverted index; the self-join on
    * the fingerprint key emits each posting list's id-ordered pairs
    * and a count aggregation keeps pairs sharing ≥ minShared. Shuffle
    * ∝ fingerprints (equi-join, no BNLJ); per-fingerprint fanout is
    * df², so `maxDf` drops fingerprints on more than maxDf docs first —
    * boilerplate passages shared by thousands of docs are exactly what
    * MOSS discards, and at 100 TB the cap is what keeps the join
    * linear. The DEFAULT is capped (64): one fingerprint shared by a
    * million docs is a 10¹²-row join, so uncapped is the opt-IN
    * (`maxDf = 0`) for small corpora where exhaustive pairs are wanted.
    * The hot list (df > maxDf) is by construction a tiny fraction of
    * fingerprints — the anti-join broadcasts under AQE.
    *
    * Returns (`a`, `b`, `shared_fp`) with a < b. */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, w: Int, minShared: Int = 1,
                     maxDf: Int = 64): DataFrame =
    winnowingPairsFromFps(winnowFps(docs, idCol, textCol, k, w),
      minShared, maxDf)

  /** [[winnowingPairs]] from a precomputed [[winnowFps]] frame — see
    * [[winnowingFingerprintsFromFps]] for why callers share it. */
  def winnowingPairsFromFps(fps: DataFrame, minShared: Int = 1,
                            maxDf: Int = 64): DataFrame = {
    require(minShared >= 1, "need minShared >= 1")
    val f = fps
    val kept = if (maxDf > 0) {
      val hot = f.groupBy("__wm").agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf).select("__wm")
      f.join(hot, Seq("__wm"), "left_anti")
    } else f
    kept.as("x").join(kept.as("y"),
        col("x.__wm") === col("y.__wm") && col("x.__id") < col("y.__id"))
      .groupBy(col("x.__id").as("a"), col("y.__id").as("b"))
      .agg(count(lit(1)).cast("int").as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /** Gopher-style repetition metrics per document (Rae et al. 2021 §A1
    * use these to drop boilerplate/spam): fraction of tokens taken by
    * the most frequent word, fraction of bigram slots taken by the most
    * frequent bigram, and the fraction of trigram occurrences that are
    * repeats of an earlier trigram in the same document.
    *
    * One output row per input row with at least 3 words (rows with
    * fewer yield none, mirroring the oracle's `len(ws) >= 3` guard), so
    * ids must be unique for the result to key on them. Scale shape: one
    * map pass — the repetition_counts kernel counts each row's
    * uni/bi/trigrams in place (multiplicity kept: repetition is the
    * point), no exchange, no sort, no window. Counts are integers, so
    * the final double divisions are engine-exact.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def frac(num: Column, den: String): Column =
      round(num.cast("double") / col(den).cast("double"), 6)
    docs.select(col(idCol),
        graft.expressions.ShingleExpressions.repetition_counts(col(textCol)))
      .select(col(idCol),
        frac(col("max1"), "tot1").as("top_word_frac"),
        frac(col("max2"), "tot2").as("top_bigram_frac"),
        frac(col("tot3") - col("nd3"), "tot3").as("dup_trigram_frac"))
  }

  /** Add-α-smoothed bigram language-model scoring — the "perplexity
    * filter" of CCNet-style curation: documents whose token sequences
    * the corpus LM finds improbable are boilerplate/gibberish
    * candidates. The corpus is its own training corpus here; scoring
    * a crawl against an external reference LM (the usual deployment)
    * is the same plan with the count tables read from the reference
    * corpus instead.
    *
    * Per bigram: ln((c(w1,w2) + α) / (c(w1,·) + α·V)), where c(w1,·)
    * is the bigram-head count (so conditionals sum to 1) and V the
    * corpus vocabulary. Per document: the mean over its bigram
    * positions, plus perplexity exp(−mean).
    *
    * Determinism across engines: a float sum over shuffled rows is
    * fold-order-dependent, so each logprob is fixed-pointed to
    * integer micros (round(lp·10⁶) as long) and SUMMED IN EXACT LONG
    * ARITHMETIC — the per-doc mean is then a single double division,
    * bit-identical in any execution order and in the oracle. α = 0.5
    * keeps every smoothing term exactly representable.
    *
    * Scale shape: each row's bigram positions come from one map pass
    * ([[gramsOf]], no window, no exchange on the doc id); two
    * map-side-combined hash aggs build the LM (vocab grows sublinearly
    * in corpus — Heaps' law); scoring joins the bigram stream to the
    * count tables keyed on the bigram/head — shuffle ∝ corpus tokens,
    * broadcastable when the LM fits an executor — and one hash agg
    * folds the micros back per doc. No sort anywhere. One output row
    * per input row with at least 2 tokens (n for the n-gram variants),
    * so ids must be unique: rows sharing an id are scored as one
    * document. */
  def lmPerplexity(docs: DataFrame, idCol: String, textCol: String,
                   alpha: Double): DataFrame =
    lmPerplexityAgainst(docs, docs, idCol, textCol, alpha)

  /** n-gram-order variant (n ≥ 2): the context is the preceding n−1
    * tokens (CCNet's production filter is a 5-gram LM; the plan shape
    * is order-independent — only the join key widens). Self-trained;
    * pass a reference corpus via lmPerplexityAgainst's machinery. */
  def lmPerplexityN(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, alpha: Double): DataFrame =
    lmPerplexityAgainst(docs, docs, idCol, textCol, alpha, n)

  /** Cross-corpus variant — the actual CCNet deployment: train the
    * bigram LM on `reference` (the trusted corpus), score `docs` (the
    * crawl). Bigrams unseen in the reference fall back to the smoothed
    * floor: unseen head → ln(α / (α·V)) = ln(1/V); unseen pair under a
    * seen head → ln(α / (c(w1,·) + α·V)). V is the reference
    * vocabulary. Same fixed-point micro determinism and scale shape as
    * the self-trained form (scaladoc above); the LM tables come from
    * one extra pass over the reference. */
  def lmPerplexityAgainst(reference: DataFrame, docs: DataFrame,
                          idCol: String, textCol: String,
                          alpha: Double, n: Int = 2): DataFrame = {
    require(n >= 2, "LM order must be at least 2")
    require(alpha > 0, "smoothing alpha must be positive (an unseen " +
      "gram would otherwise divide by zero)")
    val ref = gramsOf(reference, idCol, textCol, n)
    val ctx = ref.groupBy("__w").agg(count(lit(1)).as("__cu"))
    val bi = ref.groupBy("__w", "__w2").agg(count(lit(1)).as("__cb"))
    val vocab = broadcast(
      reference.filter(size(toks(col(textCol))) >= n)
        .select(explode(toks(col(textCol))).as("__w"))
        .agg(countDistinct("__w").as("__v")))
    val micros = gramsOf(docs, idCol, textCol, n)
      .join(bi, Seq("__w", "__w2"), "left")
      .join(ctx, Seq("__w"), "left")
      .crossJoin(vocab)
      // alpha > 0 does NOT save an EMPTY reference: V = 0 makes the
      // smoothed denominator 0 + α·0 = 0 and ln(Inf) would saturate
      // the micro cast into silent garbage — fail loudly per row
      // instead (free when V > 0: the branch never evaluates)
      .withColumn("__lp",
        when(col("__v") > 0,
          log((coalesce(col("__cb"), lit(0L)).cast("double") + lit(alpha)) /
            (coalesce(col("__cu"), lit(0L)).cast("double") + lit(alpha) * col("__v").cast("double"))))
          .otherwise(raise_error(lit(
            "lmPerplexity: empty reference vocabulary (no doc reaches the LM order n)"))))
      .withColumn("__micro", round(col("__lp") * lit(1e6)).cast("long"))
    micros.groupBy("__id")
      .agg(count(lit(1)).as("n_bigrams"), sum("__micro").as("__s"))
      // the 6-digit mean via EXACT integer half-away division of the
      // micro sum — s/n can land on a true half-micro tie (2s ≡ n mod
      // 2n), where `round` on a double legitimately differs between a
      // BigDecimal engine and a multiply-then-round engine; the
      // integer quotient is identical everywhere by construction
      .withColumn("__q",
        expr("CAST(sign(__s) AS BIGINT) * ((2 * abs(__s) + n_bigrams) DIV (2 * n_bigrams))"))
      .withColumn("__mean",
        (col("__s").cast("double") / lit(1e6)) / col("n_bigrams").cast("double"))
      .select(col("__id").as(idCol), col("n_bigrams"),
        (col("__q").cast("double") / lit(1e6)).as("avg_logprob"),
        round(exp(-col("__mean")), 6).as("perplexity"))
  }

  /** Rule-based sentence segmentation (the Moses splitter convention,
    * Koehn & Schroeder's nonbreaking-prefix design): boundaries are
    * terminal punctuation runs `[.!?]+` (with trailing close-quotes/
    * brackets) followed by whitespace and an upper-case/digit sentence
    * start (leading open-quotes allowed), with a fixed nonbreaking
    * prefix list (Mr/Dr/etc) protected. One row per (doc, sentence):
    * `(idCol, sent_idx, sentence)`, 1-based, empty segments dropped.
    *
    * The primitive sentence-level dedup and bitext prep stand on; the
    * reference's text surface has no sentence ops (parity-plus, same
    * family as x49/x51). Known rule-splitter limitations are the
    * contract, not bugs: mid-name acronyms ("U.S. Army") split, and a
    * lower-case continuation after "." does not — exactly Moses'
    * behavior without its language-specific prefix files.
    *
    * Engine-exactness: both regexes are RE2-safe (no lookaround — the
    * boundary CONSUMES its sentence-start characters and re-emits them
    * across a \\u0001 marker; protected prefixes park their dot as
    * \\u0002, restored per sentence — the x48/x49 discipline), so the DuckDB
    * oracle replays the kernel term for term. Input \\u0001/\\u0002
    * bytes are STRIPPED first (crawl text can carry stray control
    * bytes; an in-band marker collision would otherwise split
    * mid-sentence or mint a '.' from nowhere). The boundary gap is a
    * whitespace RUN `[ \\t\\n\\r]+` (an explicit class — Java's \\s and
    * RE2's \\s disagree on \\x0B), so newline-separated sentences
    * split too. Scale shape: three per-row string ops + split +
    * posexplode — zero exchange; output rows ∝ corpus sentences. */
  def sentenceSplit(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val clean = translate(col(textCol), "\u0001\u0002", "")
    val prot = regexp_replace(clean,
      "\\b(Mr|Mrs|Ms|Dr|Prof|Sr|Jr|St|vs|etc)\\.", "$1\u0002")
    val marked = regexp_replace(prot,
      "([.!?]+[\"')\\]]*)[ \\t\\n\\r]+([\"'(\\[]*[A-Z0-9])", "$1\u0001$2")
    docs.select(col(idCol), posexplode(split(marked, "\u0001")))
      .toDF(idCol, "__i", "__s")
      .withColumn("sentence",
        trim(translate(col("__s"), "\u0002", ".")))
      .filter(length(col("sentence")) > 0)
      .select(col(idCol), (col("__i") + 1).as("sent_idx"), col("sentence"))
  }

  /** Stupid-backoff trigram LM scoring (Brants, Popat, Xu, Och &
    * Dean 2007, "Large Language Models in Machine Translation" — the
    * smoothing invented FOR distributed web-scale training: pure raw-
    * count ratios with a constant backoff penalty, no normalization
    * pass, so the whole model is three wordcount-shaped aggregates).
    * Self-trained convenience form; the deployment form is
    * [[lmStupidBackoffAgainst]].
    *
    * Reference behavior anchor: the reference's text pipes stop at
    * tokenization/vocab (reference `fireworks/toolbox/text.py`);
    * corpus LM scoring is parity-plus curation surface, x19's family.
    */
  def lmStupidBackoff(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    lmStupidBackoffAgainst(docs, docs, idCol, textCol)

  /** Score `docs` trigram positions against a stupid-backoff LM
    * trained on `reference`:
    *
    *   S(w₃|w₁w₂) = t(w₁w₂w₃)/b(w₁w₂)         if the trigram is seen,
    *              = 0.4 · b(w₂w₃)/u(w₂)        else if the bigram is,
    *              = 0.4² · (u(w₃)+α)/(N+αV)    else (add-α floor — the
    *                one departure from pure Brants, who leaves unseen
    *                unigrams to the decoder; a scoring pass needs a
    *                finite OOV logprob, α = 0.5 keeps it exact).
    *
    * t/b/u are RAW reference counts (trigram/bigram/unigram), N total
    * tokens, V distinct tokens. Scores are not normalized per context
    * — Brants' point: at web scale the constant-λ backoff loses ~0
    * quality vs Kneser-Ney while removing every global normalization
    * pass; counts alone distribute. t(w₁w₂w₃) > 0 ⇒ b(w₁w₂) > 0 and
    * b(w₂w₃) > 0 ⇒ u(w₂) > 0 (both counts come from the same
    * reference stream), so no division hazard exists at any level.
    *
    * Output per doc: `n_trigrams`, `avg_logprob` (micro-exact mean of
    * round(1e6·ln S), the x19 fixed-point discipline — exact long
    * sums, half-away integer division), `perplexity` = exp(−mean).
    *
    * Scale shape: the LM is three map-side-combined hash aggregates
    * over the reference (vocab ≪ corpus by Heaps' law); both gram
    * streams come from one map pass per row ([[gramsOf]], no window,
    * no exchange on the doc id); scoring left-joins the docs' trigram
    * stream to the count tables on gram keys — shuffle ∝ corpus
    * tokens, each join broadcastable when the LM fits an executor;
    * totals ride as a broadcast 1-row relation — and one hash agg folds
    * the micros back per doc. No sort anywhere. One output row per
    * input row with at least 3 tokens, so ids must be unique: rows
    * sharing an id are scored as one document. */
  def lmStupidBackoffAgainst(reference: DataFrame, docs: DataFrame,
                             idCol: String, textCol: String,
                             alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, "unigram floor alpha must be positive (an OOV " +
      "token would otherwise have logprob -inf)")
    val rtoks = reference.select(explode(toks(col(textCol))).as("__w"))
    val uni = rtoks.groupBy("__w").agg(count(lit(1)).as("__cu"))
    val totals = broadcast(rtoks.agg(
      count(lit(1)).as("__n"), countDistinct("__w").as("__v")))
    val bi = gramsOf(reference, idCol, textCol, 2)
      .groupBy("__w", "__w2").agg(count(lit(1)).as("__cb"))
    val tri = triStream(reference, idCol, textCol)
      .groupBy("__w1", "__w2", "__w3").agg(count(lit(1)).as("__ct"))
    val lp =
      when(col("__ct").isNotNull,
        log(col("__ct").cast("double") / col("__cb12").cast("double")))
      .when(col("__cb23").isNotNull,
        log(lit(0.4) * col("__cb23").cast("double") /
          col("__cu2").cast("double")))
      .otherwise(
        log(lit(0.16) *
          (coalesce(col("__cu3"), lit(0L)).cast("double") + lit(alpha)) /
          (col("__n").cast("double") + lit(alpha) * col("__v").cast("double"))))
    val micros = triStream(docs, idCol, textCol)
      .join(tri, Seq("__w1", "__w2", "__w3"), "left")
      .join(bi.select(col("__w").as("__w1"), col("__w2"),
        col("__cb").as("__cb12")), Seq("__w1", "__w2"), "left")
      .join(bi.select(col("__w").as("__w2"), col("__w2").as("__w3"),
        col("__cb").as("__cb23")), Seq("__w2", "__w3"), "left")
      .join(uni.select(col("__w").as("__w2"), col("__cu").as("__cu2")),
        Seq("__w2"), "left")
      .join(uni.select(col("__w").as("__w3"), col("__cu").as("__cu3")),
        Seq("__w3"), "left")
      .crossJoin(totals)
      // N = 0 would make the floor ln(0.16·α/0): fail loudly (free
      // when N > 0 — the branch never evaluates), the x19 discipline
      .withColumn("__lp", when(col("__n") > 0, lp).otherwise(
        raise_error(lit("lmStupidBackoff: empty reference corpus"))))
      .withColumn("__micro", round(col("__lp") * lit(1e6)).cast("long"))
    micros.groupBy("__id")
      .agg(count(lit(1)).as("n_trigrams"), sum("__micro").as("__s"))
      .withColumn("__q",
        expr("CAST(sign(__s) AS BIGINT) * ((2 * abs(__s) + n_trigrams) DIV (2 * n_trigrams))"))
      .withColumn("__mean",
        (col("__s").cast("double") / lit(1e6)) / col("n_trigrams").cast("double"))
      .select(col("__id").as(idCol), col("n_trigrams"),
        (col("__q").cast("double") / lit(1e6)).as("avg_logprob"),
        round(exp(-col("__mean")), 6).as("perplexity"))
  }

  /** Bigram collocations ranked by LIFT — the association-mining
    * staple for corpus analysis (Church & Hanks 1990 word association
    * norms; PMI = ln(lift), so the ranking is identical and the gated
    * column avoids libm `ln`, whose last-ulp drift differs across
    * engines — the ratio is pure IEEE mul/div in a pinned order).
    * lift(a b) = P(a b) / (P(a)·P(b)) with unigram probabilities over
    * total tokens T and bigram probability over total bigrams B:
    * collocations score ≫ 1, independent co-occurrence ≈ 1.
    *
    * Scale shape: bigrams come from one zip-with pass per row (no
    * window, no per-doc shuffle), then ONE wordcount-shaped groupBy
    * each for bigrams and unigrams (map-side combine does the heavy
    * lifting); the unigram join keys on the word (Catalyst picks
    * broadcast when the vocabulary is small, shuffle when it is not),
    * the two grand totals ride as broadcast 1-row relations, and the
    * top-k is TakeOrdered — never a global sort. */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Int, topK: Int): DataFrame = {
    val docsW = docs.select(toks(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
    val uni = docsW.select(explode(col("__ws")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("n_w"))
    val bi = docsW.select(explode(zip_with(
        slice(col("__ws"), lit(1), size(col("__ws")) - 1),
        slice(col("__ws"), lit(2), size(col("__ws")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_ab"))
    val tot = uni.agg(sum("n_w").as("__T"))
    val btot = bi.agg(sum("n_ab").as("__B"))
    bi.filter(col("n_ab") >= minCount)
      .withColumn("__wa", split(col("bigram"), " ").getItem(0))
      .withColumn("__wb", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("__w").as("__wa"), col("n_w").as("__na")), Seq("__wa"))
      .join(uni.select(col("__w").as("__wb"), col("n_w").as("__nb")), Seq("__wb"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      // pinned order: (n_ab·T·T) / (B·n_a·n_b), left-associated —
      // the oracle replays the same float ops
      .withColumn("lift", round(
        (col("n_ab").cast("double") * col("__T") * col("__T")) /
          (col("__B").cast("double") * col("__na") * col("__nb")), 6))
      .select(col("bigram"), col("n_ab"), col("lift"))
      .orderBy(col("lift").desc, col("bigram")).limit(topK)
  }

  /** (id, context, next) n-gram stream of a corpus, one row per n-gram
    * position: the context is the n−1 preceding tokens joined by " ".
    * One map pass — the token_windows kernel emits each row's windows,
    * the context as one byte span — so there is no posexplode, no
    * exchange or sort on the doc id and no window. Docs with fewer than
    * n tokens emit nothing. */
  private[graft] def gramsOf(docs: DataFrame, idCol: String,
                             textCol: String, n: Int): DataFrame =
    windows(docs, idCol, textCol, n)
      .select(col("__id"), col("ctx").as("__w"), col(s"w$n").as("__w2"))

  /** (id, w1, w2, w3) trigram-position stream: [[gramsOf]]'s windows
    * with the tokens kept as separate columns, so the backoff levels
    * can key on (w1,w2), (w2,w3), (w2), (w3). */
  private[graft] def triStream(docs: DataFrame, idCol: String,
                               textCol: String): DataFrame =
    windows(docs, idCol, textCol, 3).select("__id", "w1", "w2", "w3")
      .toDF("__id", "__w1", "__w2", "__w3")

  private def windows(docs: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    docs.select(col(idCol).as("__id"),
      graft.expressions.ShingleExpressions.token_windows(col(textCol), n))
}
