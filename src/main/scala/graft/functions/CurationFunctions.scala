package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-curation operators for pretraining pipelines: temperature-
  * based domain mixing, shard-local sequence packing, and quality-band
  * reporting. Like the rest of the parity-plus surface these are
  * deterministic by construction (md5-derived uniforms, IEEE-exact
  * math) so the DuckDB oracles compare exact results.
  */
object CurationFunctions {

  private def ntok(textCol: String): Column = size(split(col(textCol), " "))

  /** Temperature-based source mixing (the UnifiedQA / Pile / Gopher
    * recipe: sample source s proportional to cnt_s^α so small domains
    * are upweighted): per-source token counts → weight_s = √cnt_s
    * normalized (α = 0.5 — √ because IEEE sqrt is correctly rounded in
    * BOTH engines, so the oracle is bit-exact; an arbitrary α would
    * ride on libm pow and flap in the last ulp) → per-source keep rate
    * hitting `targetFrac` of total tokens → md5-Bernoulli per-doc
    * sampling at that rate (reproducible at any parallelism).
    *
    * The weight normalizer folds in source order (an ordered window
    * sum, not a partition-order agg) — 20 doubles summed in a
    * deterministic sequence, so Spark and the oracle see the same
    * denominator bit-for-bit. The per-source table is tiny (one row
    * per domain); everything corpus-sized is a single scan + one
    * map-side-combined agg.
    *
    * Returns one row per source: token count, normalized weight, keep
    * rate, and how many docs the Bernoulli pass kept.
    */
  /** Per-source (__src, __toks, __raw, __totraw, __tottoks, __wgt,
    * __rate) table for the α=0.5 temperature mix — shared by
    * [[domainMixWeights]] (the report) and [[domainMixSample]] (the
    * sampling pass of the x28 pipeline). */
  private def mixRates(tok: DataFrame, targetFrac: Double): DataFrame = {
    val perSource = tok.groupBy("__src")
      .agg(sum(col("__ntok").cast("long")).as("__toks"))
      .withColumn("__raw", sqrt(col("__toks").cast("double")))
    // deterministic fold order for the two normalizers: ordered window
    // sums over the (tiny) per-source table
    val all = Window.orderBy("__src")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perSource
      .withColumn("__totraw", sum("__raw").over(all))
      .withColumn("__tottoks", sum("__toks").over(all))
      .withColumn("__wgt", col("__raw") / col("__totraw"))
      .withColumn("__rate",
        lit(targetFrac) * col("__tottoks").cast("double") * col("__wgt")
          / col("__toks").cast("double"))
  }

  /** md5-Bernoulli mix-keep uniform for a doc id column (q27's uniform:
    * 13 hex digits of md5 over 16^13). */
  private def mixUniform(id: Column): Column =
    conv(substring(md5(concat(id.cast("string"), lit(":mix"))), 1, 13), 16, 10)
      .cast("double") / pow(lit(16.0), lit(13.0))

  def domainMixWeights(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, targetFrac: Double): DataFrame = {
    val tok = docs.select(col(sourceCol).as("__src"), col(idCol).as("__id"),
      ntok(textCol).as("__ntok"))
    val rated = mixRates(tok, targetFrac)
    val kept = tok.join(rated.select("__src", "__rate"), Seq("__src"))
      .filter(mixUniform(col("__id")) < col("__rate"))
      .groupBy("__src").agg(count(lit(1)).as("__kept"))
    rated.join(kept, Seq("__src"), "left")
      .select(col("__src").as(sourceCol), col("__toks").as("toks"),
        round(col("__wgt"), 6).as("weight"),
        round(col("__rate"), 6).as("keep_rate"),
        coalesce(col("__kept"), lit(0L)).cast("int").as("kept_docs"))
  }

  /** The sampling pass of the temperature mix: returns the INPUT rows
    * the md5-Bernoulli decision keeps at each source's x16 keep rate
    * (same rates, same uniform — `domainMixWeights(...)` over the same
    * docs reports exactly this sample's per-source counts). The rate
    * table is per-source (tiny, broadcast); the decision is one
    * map-side filter. */
  def domainMixSample(docs: DataFrame, idCol: String, textCol: String,
                      sourceCol: String, targetFrac: Double): DataFrame = {
    val tok = docs.select(col(sourceCol).as("__src"), col(idCol).as("__id"),
      ntok(textCol).as("__ntok"))
    val rates = mixRates(tok, targetFrac).select("__src", "__rate")
    docs.join(broadcast(rates), col(sourceCol) === col("__src"))
      .filter(mixUniform(col(idCol)) < col("__rate"))
      .drop("__src", "__rate")
  }

  /** Shard-local sequence packing: documents are packed greedily in
    * (source, doc order) into fixed `budget`-token training sequences —
    * a doc starts in the bin its running token offset falls in. Packing
    * is per-source on purpose: a global packing order is a global sort
    * (the classic scale trap); real pipelines pack within a shard, and
    * the per-source windows here parallelize across sources exactly
    * like shards. Returns per-bin stats (doc count, token count, fill
    * ratio vs budget).
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    sourceCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy("__src").orderBy("__id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(sourceCol).as("__src"), col(idCol).as("__id"),
        ntok(textCol).cast("long").as("__ntok"))
      .withColumn("__cum", sum("__ntok").over(w))
      // integer floor-division: offsets are nonnegative and < 2^52, so
      // the double division + cast truncation is exact in both engines
      .withColumn("__bin",
        ((col("__cum") - col("__ntok")) / lit(budget.toLong)).cast("int"))
      .groupBy(col("__src"), col("__bin"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum("__ntok").as("n_tokens"),
        round(sum("__ntok").cast("double") / lit(budget.toDouble), 6).as("fill"))
      .select(col("__src").as(sourceCol), col("__bin").as("bin"),
        col("n_docs"), col("n_tokens"), col("fill"))
  }

  /** Gopher-style quality-rule flags (Rae et al. 2021, "Scaling
    * Language Models", appendix A1 — the document-level subset that is
    * well-defined on single-line docs; the line-based rules (bullet /
    * ellipsis line fractions) need multi-line text and are documented
    * out). Per document: word count, mean word length, distinct-
    * stopword hits, alpha-word fraction, symbol('#')-word fraction,
    * and one 0/1 flag per rule plus the conjunction `keep`:
    *
    *   - `wc_ok`:    minWords ≤ words ≤ maxWords      (Gopher: 50..100k)
    *   - `mwl_ok`:   minMeanLen ≤ mean len ≤ maxMeanLen  (3..10 chars)
    *   - `sym_ok`:   symbol-word fraction ≤ maxSymbolFrac      (0.1)
    *   - `alpha_ok`: alpha-word fraction ≥ minAlphaFrac        (0.8)
    *   - `stop_ok`:  distinct stopword hits ≥ minStopHits        (2)
    *
    * Mean word length over the single-space token split is
    * (chars − (words − 1)) / words — exactly the x2 form, so both
    * engines compute the identical IEEE quotient and the threshold
    * comparisons cannot flap. One scan, no shuffle: at 100 TB this is
    * a map-only stage that fuses into whatever consumes the flags.
    * The stopword default is Gopher's canonical 8; callers pass a
    * corpus-appropriate list (the flags are only as meaningful as the
    * stopword set matches the corpus language).
    */
  def gopherFlags(docs: DataFrame, idCol: String, textCol: String,
                  stopwords: Seq[String] =
                    Seq("the", "be", "to", "of", "and", "that", "have", "with"),
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolFrac: Double = 0.1, minAlphaFrac: Double = 0.8,
                  minStopHits: Int = 2): DataFrame = {
    val t = split(col(textCol), " ")
    val nW = size(t)
    val nWd = nW.cast("double")
    val meanLen = (length(col(textCol)).cast("double") - (nWd - lit(1.0))) / nWd
    val stopHits = size(array_intersect(array_distinct(t),
      array(stopwords.map(lit): _*)))
    val alphaFrac = size(filter(t, x => x.rlike("[A-Za-z]"))).cast("double") / nWd
    val symFrac = size(filter(t, x => x.contains("#"))).cast("double") / nWd
    def flag(c: Column): Column = when(c, 1).otherwise(0)
    val wcOk = flag(nW >= minWords && nW <= maxWords)
    val mwlOk = flag(meanLen >= minMeanLen && meanLen <= maxMeanLen)
    val symOk = flag(symFrac <= maxSymbolFrac)
    val alphaOk = flag(alphaFrac >= minAlphaFrac)
    val stopOk = flag(stopHits >= minStopHits)
    docs.select(col(idCol),
      nW.as("n_words"),
      round(meanLen, 6).as("mean_wlen"),
      stopHits.as("stop_distinct"),
      round(alphaFrac, 6).as("alpha_frac"),
      round(symFrac, 6).as("sym_frac"),
      wcOk.as("wc_ok"), mwlOk.as("mwl_ok"), symOk.as("sym_ok"),
      alphaOk.as("alpha_ok"), stopOk.as("stop_ok"),
      (wcOk * mwlOk * symOk * alphaOk * stopOk).as("keep"))
  }

  /** Normalized-text ("fuzzy-exact") dedup, the CCNet / C4 recipe:
    * lowercase, strip every non-alphanumeric to a space, collapse
    * whitespace runs, trim — then exact-group on the md5 of the
    * normalized form. Catches the case/punctuation/spacing variants
    * exact dedup (d1) misses, at exact-dedup cost: one map-only
    * normalize + one hash groupBy on a 16-byte key, linear at any
    * corpus size (no pairwise anything). Returns one row per
    * duplicate GROUP (n_docs ≥ 2): the normalized-form md5, the
    * canonical (minimum) id, and the group size.
    */
  def normalizedDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "), " +", " "))
    docs.select(col(idCol).as("__id"), md5(norm).as("norm_md5"))
      .groupBy("norm_md5")
      .agg(min("__id").as("canonical_id"), count(lit(1)).cast("int").as("n_docs"))
      .filter(col("n_docs") >= 2)
  }

  /** First-8-md5-hex-digits feature bucket of a string column — THE
    * hashed-feature kernel shared by [[dsirWeights]] and
    * [[QualityFilter]] (one definition, so the cross-engine-sensitive
    * form can't drift between the two oracle-gated consumers; DuckDB
    * replays it as `CAST(('0x' || substr(md5(x),1,8)) AS BIGINT) % B`,
    * and [[QualityFilter.bucketOfLocal]] is its pinned local twin). */
  private[functions] def featureBucket(c: Column, buckets: Int): Column =
    pmod(conv(substring(md5(c), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its hashed n-gram features are
    * under the TARGET distribution than under the RAW distribution —
    * log w(x) = Σ_g [ln p̂_target(bucket(g)) − ln p̂_raw(bucket(g))] —
    * then keep the upweighted tail. Features are unigram + bigram
    * occurrences hashed into `buckets` buckets (the paper's hashed
    * n-gram generative model); both distributions are add-½-smoothed
    * bucket frequencies, the target estimated from the `targetCond`
    * subset, the raw from the whole input.
    *
    * Determinism across engines (the x19 recipe): the per-bucket
    * log-ratio is fixed-pointed to integer micro-nats
    * (round(Δlp·10⁶) as long) and per-doc totals are EXACT long sums
    * — fold-order-independent, and the keep decision compares the
    * integer sum to 0 so it can never flap on a ulp. The bucket hash
    * is the first 8 md5 hex digits mod `buckets`, reproduced
    * bit-for-bit by the oracle.
    *
    * Scale shape (100 TB): one corpus scan explodes gram occurrences
    * (map-side-combinable agg to the ≤`buckets`-row count tables — the
    * model is FIXED-SIZE regardless of corpus, the paper's point vs a
    * full LM); scoring joins each doc's gram stream to the broadcast
    * bucket table — shuffle ∝ corpus tokens, no sort, no window.
    *
    * Returns one row per doc: n_feats, total and mean log-ratio (micro
    * precision), keep = 1 iff the total is strictly positive. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetCond: Column, buckets: Int = 8192): DataFrame = {
    require(buckets >= 2, "dsirWeights needs at least 2 hash buckets")
    val toks = split(col(textCol), " ")
    // unigram + bigram occurrence stream, bucketed: one row per feature
    // occurrence (counts, not distinct — the multinomial model).
    // The stream is referenced twice (the bucket-count aggregation and
    // the scoring join), and it is the expensive subtree — posexplode +
    // per-doc lead window + explode + md5 over every token. Cut
    // ([[Lineage.cut]], freed once nothing references the result), the
    // corpus pays that chain once instead of twice — the same
    // double-evaluation trim as bm25TopK's postings (ADVICE r9 #4).
    // gram stream per ROW (optimization r18): unigrams are the token
    // array itself, bigrams are zip_with over the two length-(n−1)
    // token slices — the same occurrence MULTISET the old
    // posexplode + per-doc lead() window emitted (order differs;
    // every consumer is a count aggregation), without sorting one row
    // per token through a window exchange. CurationSpec pins HOF ≡
    // windowed reference on edge shapes.
    val tk = col("__tk")
    val bigrams = zip_with(
      slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1),
      (a, b) => concat_ws(" ", a, b))
    // NO scan-parallelism valve here (optimization r19): like
    // winnowFps, the gram stream is materialized and shared — pinning
    // 32 partitions into the cut taxes both downstream aggregations
    // with tiny-task overhead at fixture scale (the x18b lesson,
    // OPTIMIZATION_r19.md), and the A/B showed no wall win for x29.
    val grams = Lineage.cut(docs.select(col(idCol).as("__id"),
          targetCond.as("__t"), toks.as("__tk"))
      .select(col("__id"), col("__t"),
        explode(concat(tk, bigrams)).as("__g"))
      .withColumn("__b", featureBucket(col("__g"), buckets)))
    val cnt = grams.groupBy("__b").agg(
      count(lit(1)).as("__cr"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"))
    // totals folded over the bounded bucket table via an ordered window
    // (deterministic, like domainMixWeights' normalizer)
    val all = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ratios = cnt
      .withColumn("__nr", sum("__cr").over(all))
      .withColumn("__nt", sum("__ct").over(all))
      .withColumn("__micro", round(lit(1e6) *
        (log((col("__ct").cast("double") + lit(0.5)) /
             (col("__nt").cast("double") + lit(0.5) * buckets)) -
         log((col("__cr").cast("double") + lit(0.5)) /
             (col("__nr").cast("double") + lit(0.5) * buckets)))).cast("long"))
      .select("__b", "__micro")
    grams.join(broadcast(ratios), Seq("__b"))
      .groupBy("__id")
      .agg(count(lit(1)).as("__n"), sum("__micro").as("__s"))
      // exact half-away integer division of the micro sum (x19's trick:
      // a double round of s/n can tie at a true half-micro; the integer
      // quotient is engine-independent by construction)
      .withColumn("__q",
        expr("CAST(sign(__s) AS BIGINT) * ((2 * abs(__s) + __n) DIV (2 * __n))"))
      .select(col("__id").as(idCol), col("__n").cast("int").as("n_feats"),
        (col("__s").cast("double") / lit(1e6)).as("log_ratio"),
        (col("__q").cast("double") / lit(1e6)).as("avg_log_ratio"),
        when(col("__s") > 0, 1).otherwise(0).as("keep"))
  }

  /** Vocabulary-coverage report (tokenizer sizing / Zipf diagnostics):
    * for each frequency floor f in `minCounts`, how many distinct
    * words occur ≥ f times and what fraction of ALL token occurrences
    * those words cover. Threshold-based on purpose — a top-k-by-rank
    * variant needs a global vocab sort (single-partition window, the
    * classic scale trap); frequency floors answer the same sizing
    * question ("how big must the vocab be to cover X% of tokens")
    * with one map-side-combined word count + one tiny re-agg, no sort
    * anywhere. Returns one row per floor: (min_count, n_words,
    * covered_tokens, coverage). */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    minCounts: Seq[Long] = Seq(10L, 100L, 1000L)): DataFrame = {
    require(minCounts.nonEmpty, "vocabCoverage needs at least one floor")
    val wc = docs.select(explode(split(col(textCol), " ")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
    val floors = minCounts.map(f => struct(lit(f).as("__f")))
    wc.select(col("__c"), explode(array(floors: _*)).as("__fl"))
      .select(col("__c"), col("__fl.__f").as("min_count"))
      .groupBy("min_count")
      .agg(sum(when(col("__c") >= col("min_count"), 1L).otherwise(0L))
          .cast("int").as("n_words"),
        sum(when(col("__c") >= col("min_count"), col("__c")).otherwise(0L))
          .as("covered_tokens"),
        round(sum(when(col("__c") >= col("min_count"), col("__c")).otherwise(0L))
            .cast("double") / sum("__c").cast("double"), 6).as("coverage"))
  }

  /** Quality-band report: decile boundaries come from the cumulative
    * distribution over DISTINCT quality values (a value histogram whose
    * size is bounded by the score's 6-digit resolution, not by corpus
    * size — the scale-safe alternative to a global ntile window, which
    * would sort the whole corpus on one partition). Docs sharing a
    * quality value always land in the same band, so band sizes are
    * equal only up to ties — that's the defined semantic, mirrored in
    * the oracle. decile = ceil(10 · cumCount / N) over integer counts.
    *
    * The cumulative sum is TWO-LEVEL (round-5 advice): scores bucket
    * by their 3rd digit, bucket prefix totals come from a tiny
    * non-equi self-join of the ≤ ~10³-row bucket table (no window at
    * all), and the within-bucket running sum is a PARTITIONED window —
    * the distinct-value histogram (up to ~10⁶ rows at 6-digit
    * resolution) never funnels through one task. This removes main's
    * only unpartitioned data-sized window; the one remaining
    * `Window.orderBy` without partitionBy is domainMixWeights' ordered
    * fold over the per-source table (tens of rows, documented there).
    */
  /** Token-budget selection — "take the best N tokens from the
    * corpus" (how a 10T-token crawl becomes a 1T-token training set):
    * every doc is scored (the x2 quality measure), and a doc is kept
    * iff the cumulative token count of all docs at its quality level
    * or better fits the budget — whole-quality-group granularity, so
    * the decision is a pure function of the score (no per-doc
    * tie-breaking inside a group; the budget is a floor, not an exact
    * hit, documented).
    *
    * Scale shape is [[qualityDeciles]]'s two-level histogram: the
    * cumulative sum runs over the DISTINCT-SCORE token histogram
    * (bounded by score resolution — ≤ 10⁶ rows at 6-decimal rounding,
    * independent of corpus size), coarse-bucket prefix via a tiny
    * non-equi join + within-bucket partitioned window; the corpus
    * itself is touched by one scoring scan and one broadcast-joinable
    * keep-flag attach. No global sort, no data-sized window.
    *
    * Returns (idCol, q, n_tokens, keep). */
  def selectByTokenBudget(docs: DataFrame, idCol: String, textCol: String,
                          budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, "budget must be non-negative")
    val scored = docs.select(col(idCol).as("__id"),
      round(TextAnalysisFunctions.qualityScore(col(textCol)), 6).as("__q"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val hist = scored.groupBy("__q").agg(sum("n_tokens").as("__t"))
      .withColumn("__bk", floor(col("__q") * lit(1000.0)).cast("long"))
    val bcnt = hist.groupBy("__bk").agg(sum("__t").as("__bt"))
    // exclusive prefix of BETTER buckets (descending quality)
    val bpre = bcnt
      .join(bcnt.select(col("__bk").as("__bk2"), col("__bt").as("__bt2")),
        col("__bk2") > col("__bk"), "left")
      .groupBy("__bk")
      .agg(coalesce(sum("__bt2"), lit(0L)).as("__pre"))
    val inBucket = Window.partitionBy("__bk").orderBy(col("__q").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keepByScore = hist.join(bpre, Seq("__bk"))
      .withColumn("__cum", col("__pre") + sum("__t").over(inBucket))
      .select(col("__q"), (col("__cum") <= budgetTokens).as("__keep"))
    scored.join(broadcast(keepByScore), Seq("__q"))
      .select(col("__id").as(idCol), col("__q").as("q"), col("n_tokens"),
        col("__keep").cast("int").as("keep"))
  }

  def qualityDeciles(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = docs.select(col(idCol).as("__id"),
      round(TextAnalysisFunctions.qualityScore(col(textCol)), 6).as("__q"))
    // level 1: coarse buckets of the score domain — floor is monotone
    // in __q, so (bucket asc, __q asc) is the global score order
    val hist = scored.groupBy("__q").agg(count(lit(1)).as("__c"))
      .withColumn("__bk", floor(col("__q") * lit(1000.0)).cast("long"))
    val bcnt = hist.groupBy("__bk").agg(sum("__c").as("__bc"))
    // exclusive bucket prefix: tiny × tiny non-equi join (bounded by
    // score resolution, independent of corpus size)
    val bpre = bcnt
      .join(bcnt.select(col("__bk").as("__bk2"), col("__bc").as("__bc2")),
        col("__bk2") < col("__bk"), "left")
      .groupBy("__bk")
      .agg(coalesce(sum("__bc2"), lit(0L)).as("__pre"))
    val total = hist.agg(sum("__c").as("__n"))
    // level 2: within-bucket running sum — partitioned window
    val inBucket = Window.partitionBy("__bk").orderBy("__q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bands = hist.join(bpre, Seq("__bk"))
      .withColumn("__cum", col("__pre") + sum("__c").over(inBucket))
      .crossJoin(broadcast(total))
      .withColumn("decile",
        least(ceil(lit(10.0) * col("__cum").cast("double") / col("__n").cast("double")),
          lit(10L)).cast("int"))
    scored.join(bands.select("__q", "decile"), Seq("__q"))
      .groupBy("decile")
      .agg(count(lit(1)).cast("int").as("n"),
        min("__q").as("min_q"), max("__q").as("max_q"))
  }
}
