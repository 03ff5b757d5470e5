package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.CurationFunctions._

/** Corpus-curation queries over `documents`: domain mixing, sequence
  * packing, quality banding (parity-plus pretraining-pipeline surface).
  */
object CurationQueries {

  /** x50 blocklist fixture: nested prefixes/suffixes (scan/can/an),
    * a cross-word term, substring-of-token terms — the shapes that
    * make Aho-Corasick failure links load-bearing. ASCII, distinct. */
  private val BlockPatterns = Seq(
    "scan", "can", "an", "order", "batch batch", "art",
    "low", "he", "spark", "park", "ta", "merge")

  /** x50b whole-word fixture (full tokens of the corpus vocabulary). */
  private val BlockWords = Seq("scan", "order", "spark", "merge", "batch", "slow")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Temperature-based (α = 0.5) source mixing: per-source weights,
    // keep rates targeting 25% of total tokens, md5-Bernoulli kept
    // counts. Window-ordered normalizer folds → bit-exact vs oracle.
    "x16_domain_mix" -> ((s, d) => {
      domainMixWeights(documents(s, d), "doc_id", "text", "source",
        targetFrac = 0.25)
        .orderBy("source")
    }),

    // Deterministic exact-k sample per event_type (the reproducible
    // eval-set draw): k smallest md5(seed:event_id) ranks via the
    // bounded_topk map-side heap — exchange carries ≤ k rows per
    // (task, group), never the group population.
    "x43_group_sample" -> ((s, d) => {
      graft.prep.Preprocessing.deterministicGroupSample(
          events(s, d), "event_type", "event_id", k = 20, seed = "ev1")
        .orderBy("event_type", "draw")
    }),

    // URL canonicalization (the pre-dedup normalization for crawled
    // corpora): deterministically messy URLs synthesized per doc (the
    // x34 media-synthesis precedent) — case-shifted scheme/host,
    // default ports, fragments, tracking params, unsorted query — and
    // canonicalized with the documented 6-rule kernel. Same-source
    // docs on the same branch collapse to ONE canonical key; the
    // oracle replays every regexp/list step term for term.
    "x45_url_canonical" -> ((s, d) => {
      import graft.functions.WebFunctions._
      val u = documents(s, d).select(col("doc_id"), col("source"))
        .withColumn("url",
          when(col("doc_id") % 4 === 0,
            concat(lit("HTTP://WWW."), col("source"),
              lit(".Example.COM:80/Path/"), col("doc_id"),
              lit("?utm_source=feed&b=2&a=1#frag")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://"), col("source"),
              lit(".example.com:443/items?gclid=xyz&z=9&a=1")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://CDN."), col("source"),
              lit(".net/a/B?x=1&utm_campaign=c&y=2#x")))
          .otherwise(concat(lit("http://"), col("source"), lit(".org"))))
      u.select(col("doc_id"),
          urlCanonicalize(col("url")).as("canon"),
          urlDomain(col("url")).as("domain"))
        .orderBy("doc_id")
    }),

    // Public-suffix-backed registrable domain (the dial x45/x46's
    // last-two-labels rule documents): hosts under multi-label
    // country suffixes (shop.co.uk class) must resolve to
    // label+suffix, not to the suffix itself — longest-matching
    // suffix from the PSL fixture wins, fallback is the plain rule.
    // Both arms emitted side by side; the oracle replays the
    // cascaded longest-first match with per-label-count regexps.
    "x45b_url_domain_psl" -> ((s, d) => {
      import graft.functions.WebFunctions._
      val u = documents(s, d).select(col("doc_id"), col("source"))
        .withColumn("url",
          when(col("doc_id") % 4 === 0,
            concat(lit("https://WWW."), col("source"),
              lit(".shop.co.UK/item/"), col("doc_id")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("http://blog."), col("source"), lit(".AC.uk:80/x?a=1")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://cdn."), col("source"), lit(".Example.COM:443/a")))
          .otherwise(concat(lit("http://"), col("source"), lit("-site.io"))))
      u.select(col("doc_id"),
          urlDomain(col("url"), PslFixture).as("domain_psl"),
          urlDomain(col("url")).as("domain_rule"))
        .orderBy("doc_id")
    }),

    // Per-domain capping (the standard web-corpus dominance guard:
    // no registrable domain contributes more than N docs): the x45
    // URL synthesis → urlDomain → deterministicGroupSample, cap 3 —
    // the whole composition is two shipped kernels, one exchange each.
    "x46_domain_cap" -> ((s, d) => {
      import graft.functions.WebFunctions._
      val u = documents(s, d).select(col("doc_id"), col("source"))
        .withColumn("url",
          when(col("doc_id") % 4 === 0,
            concat(lit("HTTP://WWW."), col("source"),
              lit(".Example.COM:80/Path/"), col("doc_id"),
              lit("?utm_source=feed&b=2&a=1#frag")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://"), col("source"),
              lit(".example.com:443/items?gclid=xyz&z=9&a=1")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://CDN."), col("source"),
              lit(".net/a/B?x=1&utm_campaign=c&y=2#x")))
          .otherwise(concat(lit("http://"), col("source"), lit(".org"))))
        .select(col("doc_id"), urlDomain(col("url")).as("domain"))
      graft.prep.Preprocessing.deterministicGroupSample(
          u, "domain", "doc_id", k = 3, seed = "cap1")
        .orderBy("domain", "draw")
    }),

    // Learned quality filter (fastText-shaped linear classifier over
    // hashed char-3-gram features — the trained arm next to the
    // heuristic x2/x24 and perplexity x19/x22 filters). Weights are
    // the pinned output of the repo Trainer's deterministic Adam run
    // (QualityFilterWeights; CurationSpec re-trains and asserts
    // bit-equality), scoring is ONE zero-exchange map pass: the
    // weight vector rides as a 256-long array literal indexed by
    // bucket, per-doc totals are exact long sums with the x19
    // half-away integer mean — the oracle replays every step.
    "x47_quality_filter" -> ((s, d) => {
      import graft.functions.QualityFilter
      documents(s, d)
        .select(col("doc_id"), QualityFilter.qualityScore(col("text")).as("__m"))
        .select(col("doc_id"),
          (col("__m").cast("double") / lit(1e6)).as("score"),
          when(col("__m") > 500000L, 1).otherwise(0).as("keep"))
        .orderBy("doc_id")
    }),

    // PII detection + redaction (the standard pre-release masking
    // pass: emails, phones, IPv4s to typed placeholders). PII is
    // synthesized deterministically per doc (the x45 precedent);
    // output pins the per-pattern counts AND the full redaction
    // chain via md5 of the redacted text — the email → phone → IP
    // order is part of the gated contract (an email whose domain is
    // a dotted quad with an alpha TLD must redact as ONE [EMAIL],
    // never an [IP] inside a mangled address).
    "x48_pii_redact" -> ((s, d) => {
      import graft.functions.PiiFunctions
      val u = documents(s, d).select(col("doc_id"), col("source"), col("text"))
        .withColumn("t2",
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" contact "), col("source"), col("doc_id"),
              lit("@example.com or admin@10.20.30.40.org")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("call +1 555-010-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" now: "), col("text")))
          .otherwise(concat(col("text"), lit(" from 192.168."),
            (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") + 7) % 256).cast("string"))))
      u.select(col("doc_id"),
          PiiFunctions.emailCount(col("t2")).cast("int").as("n_email"),
          PiiFunctions.phoneCount(col("t2")).cast("int").as("n_phone"),
          PiiFunctions.ipv4Count(col("t2")).cast("int").as("n_ip"),
          md5(PiiFunctions.redact(col("t2"))).as("red_md5"))
        .orderBy("doc_id")
    }),

    // HTML-to-text extraction (the baseline regex stripper real web
    // pipelines run before quality/dedup when a DOM extractor isn't
    // warranted): documents wrapped in deterministic markup — nested
    // tags, attributes, a script subtree that must vanish WHOLE, and
    // entities including the &amp;lt; double-decode trap — then
    // stripped; clean_md5 pins every byte of the extraction.
    "x49_strip_html" -> ((s, d) => {
      import graft.functions.WebFunctions
      val u = documents(s, d).select(col("doc_id"), col("source"), col("text"))
        .withColumn("html",
          when(col("doc_id") % 3 === 0,
            concat(lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;\nalert('junk');</script><title>"),
              col("source"), lit("</title></head><body><p>"),
              col("text"), lit("</p></body></html>")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("<div class=\"a b\"><b>bold&nbsp;note:</b> "),
              col("text"), lit(" &amp;lt; kept &quot;as&quot; &#39;is&#39;</div>")))
          .otherwise(concat(lit("<STYLE>p { color: red }</STYLE>"),
            col("text"), lit(" 1 &lt; 2 &gt; 0"))))
      u.select(col("doc_id"),
          md5(WebFunctions.stripHtml(col("html"))).as("clean_md5"),
          length(WebFunctions.stripHtml(col("html"))).cast("int").as("clean_len"))
        .orderBy("doc_id")
    }),

    // Link-graph quality prior (PageRank, 5 iterations, damping 0.85)
    // over a deterministic synthetic link graph (3 out-edges per doc,
    // dst = (id*37 + j*911) mod n — the x34/x45 fixture-synthesis
    // precedent). Integer-micro arithmetic end to end, so the oracle
    // gates exact rank values; each iteration is one edge-sized
    // join + groupBy — the distributed-PageRank envelope.
    "x52_pagerank" -> ((s, d) => {
      import graft.functions.GraphFunctions
      val nodes = documents(s, d).select(col("doc_id").as("id"))
      val n = nodes.count()
      val edges = nodes.crossJoin(
          s.range(1, 4).select(col("id").as("__j")))
        // variable out-degree 1..3 (out-deg = 1 + id mod 3): a
        // j-regular rule makes every in-degree exactly 3 and the
        // ranks degenerately uniform — this one gates real topology
        .filter(col("__j") <= lit(1L) + col("id") % 3L)
        .select(col("id").as("src"),
          ((col("id") * 37L + col("__j") * 911L) % n).as("dst"))
      GraphFunctions.pageRankMicro(nodes, edges, iters = 5, dampPct = 85)
        .orderBy("id")
    }),

    // PageRank hardening arm (r17 judge item #7): the x52 graph with
    // REAL sinks (every id % 7 == 0 node keeps no out-edges), the
    // dangling-mass redistribution convention real host-rank uses
    // (each iteration the sinks' total rank is shared floor(Σ/n) to
    // every node before damping), at iters = 15. That arm cuts its
    // lineage every iteration (Lineage.cut); the oracle unrolls all
    // FIFTEEN iterations including the dangling term, so the cut plan
    // must be bit-identical to the pure-lineage replay.
    "x52b_pagerank_dangling" -> ((s, d) => {
      import graft.functions.GraphFunctions
      val nodes = documents(s, d).select(col("doc_id").as("id"))
      val n = nodes.count()
      val edges = nodes.crossJoin(
          s.range(1, 4).select(col("id").as("__j")))
        .filter(col("__j") <= lit(1L) + col("id") % 3L)
        .filter(col("id") % 7L =!= 0L) // sinks: no out-edges at all
        .select(col("id").as("src"),
          ((col("id") * 37L + col("__j") * 911L) % n).as("dst"))
      GraphFunctions.pageRankMicro(nodes, edges, iters = 15, dampPct = 85,
          danglingRedistribute = true)
        .orderBy("id")
    }),

    // Blocklist tagging (the C4-style banned-term pass): per-doc
    // occurrence counts against a fixed term list, computed by ONE
    // Aho-Corasick automaton walk per document — O(|text|) regardless
    // of list size, vs the O(P·|text|) chain of per-term contains the
    // naive plan runs (at 100 TB × 1000 terms that chain is a
    // thousand full-corpus scans). The fixture list nests prefixes/
    // suffixes (scan/can/an), crosses word boundaries (`batch batch`)
    // and includes substring-of-token terms (art⊂part, he⊂the) so the
    // failure-link machinery is load-bearing; `sig` pins every
    // per-term count byte-for-byte against the oracle's positional
    // replay. Overlapping occurrences count (automaton semantics).
    "x50_keyword_blocklist" -> ((s, d) => {
      import graft.expressions.KeywordExpressions.keywordCounts
      documents(s, d)
        .select(col("doc_id"),
          keywordCounts(lower(col("text")), BlockPatterns).as("c"))
        .select(col("doc_id"),
          aggregate(col("c"), lit(0L), (a, x) => a + x).as("n_hits"),
          size(filter(col("c"), _ > lit(0))).as("n_pats"),
          array_join(col("c").cast("array<string>"), ",").as("sig"))
        .orderBy("doc_id")
    }),

    // Whole-word arm of the blocklist pass (the compositional
    // alternative when terms are full tokens): split once, then
    // per-row HOF membership against the broadcast-literal word set —
    // occurrences and distinct-words-present, zero exchange.
    "x50b_keyword_words" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), split(lower(col("text")), " +").as("w"))
        .select(col("doc_id"),
          size(filter(col("w"), t => array_contains(typedLit(BlockWords), t)))
            .as("n_occ"),
          size(array_intersect(col("w"), typedLit(BlockWords))).as("n_words"))
        .orderBy("doc_id")
    }),

    // Weighted exact-k sample per event_type (Efraimidis-Spirtakis):
    // rank = ln(md5-uniform)/weight, k largest — inclusion odds ∝
    // event value, reproducible, same map-side heap as x43.
    "x44_weighted_group_sample" -> ((s, d) => {
      graft.prep.Preprocessing.weightedGroupSample(
          events(s, d), "event_type", "event_id", "value", k = 20,
          seed = "ev2")
        .orderBy("event_type", "draw")
    }),

    // Shard-local sequence packing into 256-token budgets: per-bin doc
    // and token counts + fill ratio. Packing windows parallelize
    // across sources (no global sort).
    "x17_pack_sequences" -> ((s, d) => {
      packSequences(documents(s, d), "doc_id", "text", "source",
        budget = 256)
        .orderBy("source", "bin")
    }),

    // Quality-decile report over the x2 quality score: band boundaries
    // from the distinct-value histogram (corpus-size-independent), not
    // a global ntile sort.
    "x15_quality_deciles" -> ((s, d) => {
      qualityDeciles(documents(s, d), "doc_id", "text")
        .orderBy("decile")
    }),

    // Gopher-style rule flags per document (word-count / mean-word-
    // length / symbol / alpha / stopword rules + keep conjunction).
    // Stopword set adapted to the synthetic corpus vocabulary so the
    // stop_ok flag actually varies ("the"/"a" are its only stopwords).
    "x24_gopher_rules" -> ((s, d) => {
      gopherFlags(documents(s, d), "doc_id", "text",
        stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "that"))
        .orderBy("doc_id")
    }),

    // Normalized-text (CCNet-style fuzzy-exact) dedup: duplicate
    // groups under lowercase/punct-strip/whitespace-collapse. The
    // fixture corpus has no such variants, so (like d1) the query
    // plants them: an upper-cased and a punctuation-suffixed copy of
    // the first 50 docs — exact dedup (d1's hash) misses both, the
    // normalized hash groups all three.
    "x25_norm_dedup" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val base = docs.filter(col("doc_id") < 50)
      val upperVariant = base.select((col("doc_id") + 20000L).as("doc_id"),
        upper(col("text")).as("text"))
      val punctVariant = base.select((col("doc_id") + 40000L).as("doc_id"),
        concat(col("text"), lit(" !!")).as("text"))
      normalizedDedup(docs.unionByName(upperVariant).unionByName(punctVariant),
        "doc_id", "text")
        .orderBy("canonical_id")
    }),

    // DSIR importance weights: hashed-unigram+bigram likelihood ratio
    // of every doc against the lang='en' target distribution, integer
    // micro-nat totals (engine-exact), keep = ratio > 1.
    "x29_dsir" -> ((s, d) => {
      dsirWeights(documents(s, d), "doc_id", "text",
        targetCond = col("lang") === "en", buckets = 8192)
        .orderBy("doc_id")
    }),

    // Vocabulary-coverage report at three frequency floors (the
    // no-global-sort tokenizer-sizing diagnostic); the 100000 floor is
    // deliberately above every count — the empty band must report 0.
    "x30_vocab_coverage" -> ((s, d) => {
      vocabCoverage(documents(s, d), "text",
        minCounts = Seq(30L, 900L, 100000L))
        .orderBy("min_count")
    }),

    // Cross-source vocabulary overlap from KMV sketches alone: one
    // bounded sketch per source, then pairwise intersect/union
    // estimates — at 100 TB this answers "how much do two shards/
    // sources/crawls overlap" from S × 128 KB of persisted sketches
    // with NO value shuffle and no token-level join. The per-source
    // vocabularies sit far below k=16384 at every tested SF, so the
    // theta-intersection runs in its exact regime and the DuckDB
    // token-join oracle matches exactly (SketchSpec pins the
    // estimating regime).
    "x32_source_overlap" -> ((s, d) => {
      import graft.expressions.SketchExpressions._
      val sk = documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .groupBy("source")
        .agg(kmv_sketch(col("t"), 16384).as("sk"))
      val a = sk.select(col("source").as("sa"), col("sk").as("ska"))
      val b = sk.select(col("source").as("sb"), col("sk").as("skb"))
      a.join(b, col("sa") < col("sb"))
        .select(col("sa"), col("sb"),
          kmv_intersect(col("ska"), col("skb")).as("n_common"),
          kmv_estimate(kmv_union(col("ska"), col("skb"))).as("n_union"))
        .orderBy("sa", "sb")
    }),

    // Token-budget selection: keep the best-quality docs whose
    // cumulative tokens fit a 20k budget (whole-quality-group
    // granularity; the cumulative sum runs over the bounded
    // distinct-score histogram, never the corpus).
    "x38_budget_select" -> ((s, d) => {
      selectByTokenBudget(documents(s, d), "doc_id", "text",
        budgetTokens = 20000L)
        .orderBy("doc_id")
    }),

    // Per-source frequent tokens from a Misra-Gries sketch: bounded
    // counters per group instead of a full (source, token) count
    // shuffle. capacity=4096 ≫ the corpus vocabulary, so no decrement
    // ever fires and the counts are exact — the DuckDB oracle is a
    // plain count + rank. Tie-break (count DESC, token ASC) is total
    // on both sides.
    "x33_frequent_tokens" -> ((s, d) => {
      import graft.expressions.FreqSketchExpressions._
      documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .groupBy("source")
        .agg(mg_sketch(col("t"), 4096).as("sk"))
        .select(col("source"), explode(mg_topk(col("sk"), 5)).as("e"))
        .select(col("source"), col("e.item").as("token"),
          col("e.count").as("n"))
        .orderBy(col("source"), col("n").desc, col("token"))
    }),

    // Two-level frequency rollup: the per-source sketches merge to a
    // global top-10 WITHOUT re-touching the corpus (same
    // materialized-summary pattern as x31b) — per-shard frequent-item
    // blobs are what a 1000-shard corpus report reads.
    "x33b_frequent_rollup" -> ((s, d) => {
      import graft.expressions.FreqSketchExpressions._
      documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .groupBy("source")
        .agg(mg_sketch(col("t"), 4096).as("sk"))
        .agg(mg_merge(col("sk")).as("sk"))
        .select(explode(mg_topk(col("sk"), 10)).as("e"))
        .select(col("e.item").as("token"), col("e.count").as("n"))
        .orderBy(col("n").desc, col("token"))
    })
  )

  /** The x2 quality-score SQL (same IEEE op order as
    * TextAnalysisFunctions.qualityScore; see x2_quality). */
  private val qualitySql =
    """SELECT doc_id, round(
      |  0.4 * least(((nchar - (ntok - 1.0)) / ntok) / 8.0, 1.0)
      |  + 0.4 * (ndistinct / ntok)
      |  + 0.2 * (1.0 - least(punct / ntok + digits / nchar, 1.0)), 6) AS q
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
      |    CAST(length(text) AS DOUBLE) AS nchar,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS ndistinct,
      |    CAST(len(string_split_regex(text, '[\.,;:!?]')) AS DOUBLE) - 1.0 AS punct,
      |    CAST(length(text) AS DOUBLE) - CAST(length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
      |  FROM documents)""".stripMargin

  def oracles: Map[String, String] = Map(
    // x45: the 6-rule kernel replayed term for term (note the two
    // engine deltas the oracle papers over: DuckDB array_to_string
    // of [] is NULL where Spark array_join is '', and a non-
    // participating regex group is NULL where Spark yields '')
    "x45_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Path/' || CAST(doc_id AS VARCHAR) || '?utm_source=feed&b=2&a=1#frag'
        |      WHEN 1 THEN 'https://' || source || '.example.com:443/items?gclid=xyz&z=9&a=1'
        |      WHEN 2 THEN 'https://CDN.' || source || '.net/a/B?x=1&utm_campaign=c&y=2#x'
        |      ELSE 'http://' || source || '.org' END AS url
        |  FROM documents),
        | p AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
        | g AS (SELECT doc_id, url, nf,
        |    regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 1) AS schemeraw,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 1)) AS scheme,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 2)) AS rawhost,
        |    regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 3) AS rawpath,
        |    regexp_replace(COALESCE(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 4), ''), '^\?', '') AS rawq
        |  FROM p),
        | c AS (SELECT doc_id, url, schemeraw, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(rawhost, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443$', '')
        |         ELSE rawhost END AS host,
        |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS pth,
        |    COALESCE(array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)='))), '&'), '') AS q,
        |    regexp_extract(regexp_replace(rawhost, ':[0-9]+$', ''), '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM g)
        |SELECT doc_id,
        |  CASE WHEN schemeraw = '' THEN url
        |       ELSE scheme || '://' || host || pth ||
        |            CASE WHEN q = '' THEN '' ELSE '?' || q END END AS canon,
        |  domain
        |FROM c ORDER BY doc_id""".stripMargin,
    // x45b: the PSL longest-match replayed as cascaded label-count
    // arms (2-label suffixes first, then 1-label, then the plain
    // rule) — each arm's regexp demands a nonempty label BEFORE the
    // suffix, which is exactly the Spark side's cand-not-degenerate
    // guard; the suffix alternations are the PslFixture list verbatim
    "x45b_url_domain_psl" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN 'https://WWW.' || source || '.shop.co.UK/item/' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN 'http://blog.' || source || '.AC.uk:80/x?a=1'
        |      WHEN 2 THEN 'https://cdn.' || source || '.Example.COM:443/a'
        |      ELSE 'http://' || source || '-site.io' END AS url
        |  FROM documents),
        | h AS (SELECT doc_id,
        |    lower(regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 2), ':[0-9]+$', '')) AS host
        |  FROM u)
        |SELECT doc_id,
        |  CASE
        |    WHEN regexp_extract(host, '([^.]+\.(?:co\.uk|org\.uk|ac\.uk|gov\.uk|net\.uk|sch\.uk|com\.au|net\.au|org\.au|edu\.au|gov\.au|co\.jp|ne\.jp|or\.jp|ac\.jp|go\.jp|com\.br|net\.br|org\.br|co\.in|net\.in|org\.in|com\.cn|net\.cn|org\.cn|co\.nz|net\.nz|org\.nz))$', 1) <> ''
        |      THEN regexp_extract(host, '([^.]+\.(?:co\.uk|org\.uk|ac\.uk|gov\.uk|net\.uk|sch\.uk|com\.au|net\.au|org\.au|edu\.au|gov\.au|co\.jp|ne\.jp|or\.jp|ac\.jp|go\.jp|com\.br|net\.br|org\.br|co\.in|net\.in|org\.in|com\.cn|net\.cn|org\.cn|co\.nz|net\.nz|org\.nz))$', 1)
        |    WHEN regexp_extract(host, '([^.]+\.(?:com|org|net|io|uk))$', 1) <> ''
        |      THEN regexp_extract(host, '([^.]+\.(?:com|org|net|io|uk))$', 1)
        |    ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        |  END AS domain_psl,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain_rule
        |FROM h ORDER BY doc_id""".stripMargin,
    // x46: x45's domain CTEs + the x43 md5-rank cap
    "x46_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Path/' || CAST(doc_id AS VARCHAR) || '?utm_source=feed&b=2&a=1#frag'
        |      WHEN 1 THEN 'https://' || source || '.example.com:443/items?gclid=xyz&z=9&a=1'
        |      WHEN 2 THEN 'https://CDN.' || source || '.net/a/B?x=1&utm_campaign=c&y=2#x'
        |      ELSE 'http://' || source || '.org' END AS url
        |  FROM documents),
        | p AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
        | g AS (SELECT doc_id, url, nf,
        |    regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 1) AS schemeraw,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 1)) AS scheme,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 2)) AS rawhost,
        |    regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 3) AS rawpath,
        |    regexp_replace(COALESCE(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?$', 4), ''), '^\?', '') AS rawq
        |  FROM p),
        | c AS (SELECT doc_id, url, schemeraw, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(rawhost, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443$', '')
        |         ELSE rawhost END AS host,
        |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS pth,
        |    COALESCE(array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)='))), '&'), '') AS q,
        |    regexp_extract(regexp_replace(rawhost, ':[0-9]+$', ''), '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM g),
        |d2 AS (SELECT doc_id, domain FROM c)
        |SELECT domain, CAST(rn AS INT) AS draw, doc_id
        |FROM (SELECT domain, doc_id,
        |  row_number() OVER (PARTITION BY domain
        |    ORDER BY md5('cap1:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM d2)
        |WHERE rn <= 3 ORDER BY domain, draw""".stripMargin,
    // x47: the fixed-weights scoring pass replayed exactly — the
    // weight list is interpolated from the SAME pinned constants the
    // Spark kernel reads (QualityFilterWeights, provenanced by the
    // CurationSpec retrain pin), bucket = first-8 md5 hex % 256 on
    // each char-3-gram of lower(text), exact integer micro mean
    "x47_quality_filter" -> {
      val wlist = graft.functions.QualityFilter.DefaultWeightsMicro.mkString(", ")
      val b = graft.functions.QualityFilter.DefaultBiasMicro
      s"""WITH lt AS (SELECT doc_id, lower(text) AS t FROM documents),
         | s AS (
         |  SELECT doc_id,
         |    CAST(length(t) - 2 AS BIGINT) AS n,
         |    CAST(COALESCE(list_sum(list_transform(generate_series(1, CAST(length(t) AS INT) - 2),
         |      i -> [$wlist][CAST(CAST(('0x' || substr(md5(substr(t, CAST(i AS INT), 3)), 1, 8)) AS BIGINT) % 256 AS INT) + 1])), 0) AS BIGINT) AS tot
         |  FROM lt),
         | m AS (SELECT doc_id,
         |    CASE WHEN n <= 0 THEN CAST($b AS BIGINT)
         |         ELSE CAST(sign(tot) AS BIGINT) * ((2 * abs(tot) + n) // (2 * n)) + $b END AS micro
         |  FROM s)
         |SELECT doc_id, CAST(micro AS DOUBLE) / 1e6 AS score,
         |  CASE WHEN micro > 500000 THEN 1 ELSE 0 END AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },
    // x48: detection counts via regexp_extract_all length, the
    // redaction chain replayed in the SAME email → phone → IP order
    // (RE2-safe patterns, no lookarounds — identical semantics to
    // the Spark side's Java regex by construction)
    "x48_pii_redact" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN text || ' contact ' || source || CAST(doc_id AS VARCHAR) || '@example.com or admin@10.20.30.40.org'
        |      WHEN 1 THEN 'call +1 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now: ' || text
        |      ELSE text || ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id + 7) % 256 AS VARCHAR)
        |    END AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(t2, '\+?\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b')) AS INT) AS n_phone,
        |  CAST(len(regexp_extract_all(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+?\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b', '[PHONE]', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')) AS red_md5
        |FROM u ORDER BY doc_id""".stripMargin,
    // x49: the stripper replayed step for step — script/style blocks
    // ((?is) inline flags, lazy spans), tag→space, entities with
    // &amp; LAST (the double-decode trap), whitespace collapse
    "x49_strip_html" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN '<html><head><script type="text/javascript">var x = 1 < 2;' || chr(10) || 'alert(''junk'');</script><title>' || source || '</title></head><body><p>' || text || '</p></body></html>'
        |      WHEN 1 THEN '<div class="a b"><b>bold&nbsp;note:</b> ' || text || ' &amp;lt; kept &quot;as&quot; &#39;is&#39;</div>'
        |      ELSE '<STYLE>p { color: red }</STYLE>' || text || ' 1 &lt; 2 &gt; 0'
        |    END AS html
        |  FROM documents),
        | s1 AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(html, '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g') AS h FROM u),
        | s2 AS (SELECT doc_id, regexp_replace(h, '<[^>]*>', ' ', 'g') AS h FROM s1),
        | s3 AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'), '&#39;', CAST(chr(39) AS VARCHAR), 'g'),
        |      '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS h FROM s2),
        | s4 AS (SELECT doc_id, trim(regexp_replace(h, '\s+', ' ', 'g')) AS clean FROM s3)
        |SELECT doc_id, md5(clean) AS clean_md5, CAST(length(clean) AS INT) AS clean_len
        |FROM s4 ORDER BY doc_id""".stripMargin,
    // x52: the 5 iterations unrolled, SAME integer ops — floor
    // division via //, damping as (15*10^4) + (85*s)//100 in BIGINT
    "x52_pagerank" ->
      """WITH nodes AS (SELECT doc_id AS id FROM documents),
        | nn AS (SELECT COUNT(*) AS n FROM nodes),
        | e AS (SELECT id AS src, (id * 37 + j * 911) % (SELECT n FROM nn) AS dst
        |   FROM nodes, unnest([1, 2, 3]) AS t(j) WHERE j <= 1 + id % 3),
        | deg AS (SELECT src, COUNT(*) AS dg FROM e GROUP BY 1),
        | ed AS (SELECT e.src, e.dst, deg.dg FROM e JOIN deg USING (src)),
        | r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
        | c1 AS (SELECT dst, CAST(SUM(r // dg) AS BIGINT) AS s FROM ed JOIN r0 ON ed.src = r0.id GROUP BY 1),
        | r1 AS (SELECT id, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r FROM nodes LEFT JOIN c1 ON id = c1.dst),
        | c2 AS (SELECT dst, CAST(SUM(r // dg) AS BIGINT) AS s FROM ed JOIN r1 ON ed.src = r1.id GROUP BY 1),
        | r2 AS (SELECT id, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r FROM nodes LEFT JOIN c2 ON id = c2.dst),
        | c3 AS (SELECT dst, CAST(SUM(r // dg) AS BIGINT) AS s FROM ed JOIN r2 ON ed.src = r2.id GROUP BY 1),
        | r3 AS (SELECT id, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r FROM nodes LEFT JOIN c3 ON id = c3.dst),
        | c4 AS (SELECT dst, CAST(SUM(r // dg) AS BIGINT) AS s FROM ed JOIN r3 ON ed.src = r3.id GROUP BY 1),
        | r4 AS (SELECT id, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r FROM nodes LEFT JOIN c4 ON id = c4.dst),
        | c5 AS (SELECT dst, CAST(SUM(r // dg) AS BIGINT) AS s FROM ed JOIN r4 ON ed.src = r4.id GROUP BY 1),
        | r5 AS (SELECT id, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r FROM nodes LEFT JOIN c5 ON id = c5.dst)
        |SELECT id, r AS rank_micro FROM r5 ORDER BY id""".stripMargin,
    // x52b: all 15 iterations unrolled programmatically, dangling
    // term included — each iteration reads the previous rank CTE
    // twice (sink-mass scalar + contributions), so equality proves
    // the Spark side's checkpoint-severed chain changed nothing
    "x52b_pagerank_dangling" -> {
      // every r{i} is referenced TWICE by iteration i+1 (sink-mass
      // scalar + contributions): DuckDB inlines plain CTEs, so the
      // 15-step chain would expand 2^15-fold — MATERIALIZED keeps the
      // replay linear (one evaluation per iteration, like the engine)
      val steps = (1 to 15).map { i =>
        val p = s"r${i - 1}"
        s""" d$i AS MATERIALIZED (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dm FROM $p
           |   WHERE id NOT IN (SELECT src FROM deg)),
           | c$i AS MATERIALIZED (SELECT dst, CAST(SUM(r // dg) AS BIGINT) AS s FROM ed JOIN $p ON ed.src = $p.id GROUP BY 1),
           | r$i AS MATERIALIZED (SELECT id, CAST(150000 + (85 * (COALESCE(s, 0) +
           |     (SELECT dm FROM d$i) // (SELECT n FROM nn))) // 100 AS BIGINT) AS r
           |   FROM nodes LEFT JOIN c$i ON id = c$i.dst),""".stripMargin
      }.mkString("\n")
      s"""WITH nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents),
         | nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
         | e AS MATERIALIZED (SELECT id AS src, (id * 37 + j * 911) % (SELECT n FROM nn) AS dst
         |   FROM nodes, unnest([1, 2, 3]) AS t(j)
         |   WHERE j <= 1 + id % 3 AND id % 7 <> 0),
         | deg AS MATERIALIZED (SELECT src, COUNT(*) AS dg FROM e GROUP BY 1),
         | ed AS MATERIALIZED (SELECT e.src, e.dst, deg.dg FROM e JOIN deg USING (src)),
         | r0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |$steps
         | fin AS (SELECT id, r FROM r15)
         |SELECT id, r AS rank_micro FROM fin ORDER BY id""".stripMargin
    },
    // x50: the automaton's overlapping-count semantics replayed
    // positionally — per (doc, term), count every start index i where
    // substr(t, i, |term|) = term; sig string-aggs the counts in
    // term order, pinning each per-term count byte-for-byte
    "x50_keyword_blocklist" ->
      s"""WITH pats AS (SELECT * FROM (VALUES ${
            BlockPatterns.zipWithIndex
              .map { case (p, i) => s"('$p',${i + 1})" }.mkString(",")
          }) AS p(pat, pid)),
        | lt AS (SELECT doc_id, lower(text) AS t FROM documents),
        | hits AS (SELECT doc_id, pid,
        |   len([i FOR i IN range(1, length(t) - length(pat) + 2)
        |        IF substr(t, i, length(pat)) = pat]) AS c
        |  FROM lt CROSS JOIN pats)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_hits,
        |  CAST(count(*) FILTER (WHERE c > 0) AS INT) AS n_pats,
        |  string_agg(CAST(c AS VARCHAR), ',' ORDER BY pid) AS sig
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x50b: whole-word membership over the same split the Spark side
    // runs; n_words counts DISTINCT blocklist words present
    "x50b_keyword_words" ->
      s"""SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), ' +'),
        |    w -> list_contains([${BlockWords.map("'" + _ + "'").mkString(",")}], w))) AS INT) AS n_occ,
        |  CAST(len(list_distinct(list_filter(string_split_regex(lower(text), ' +'),
        |    w -> list_contains([${BlockWords.map("'" + _ + "'").mkString(",")}], w)))) AS INT) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,
    // x44: the ES rank replayed exactly — same 52-bit u, same ln/w,
    // DESC = the Spark side's (-rank) ascending heap order
    "x44_weighted_group_sample" ->
      """SELECT event_type, CAST(rn AS INT) AS draw, event_id
        |FROM (SELECT event_type, event_id,
        |  row_number() OVER (PARTITION BY event_type ORDER BY
        |    ln((CAST(('0x' || substr(md5('ev2:' || CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
        |       / (16.0 ^ 13)) / value DESC, event_id) AS rn
        |  FROM events WHERE value > 0)
        |WHERE rn <= 20 ORDER BY event_type, draw""".stripMargin,
    "x43_group_sample" ->
      """SELECT event_type, CAST(rn AS INT) AS draw, event_id
        |FROM (SELECT event_type, event_id,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY md5('ev1:' || CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events)
        |WHERE rn <= 20 ORDER BY event_type, draw""".stripMargin,
    "x16_domain_mix" ->
      """WITH tok AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS ntok FROM documents),
        |s AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS toks FROM tok GROUP BY 1),
        |w AS (SELECT source, toks, sqrt(CAST(toks AS DOUBLE)) AS raw FROM s),
        |norm AS (
        |  SELECT source, toks, raw,
        |    SUM(raw) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS totraw,
        |    SUM(toks) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tottoks
        |  FROM w),
        |rate AS (
        |  SELECT source, toks, raw / totraw AS wgt,
        |    0.25 * CAST(tottoks AS DOUBLE) * (raw / totraw) / CAST(toks AS DOUBLE) AS keep_rate
        |  FROM norm),
        |keep AS (
        |  SELECT t.source, COUNT(*) AS kept
        |  FROM tok t JOIN rate r USING (source)
        |  WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR) || ':mix'), 1, 13)) AS BIGINT)
        |          / pow(16.0, 13.0) < r.keep_rate
        |  GROUP BY 1)
        |SELECT r.source, r.toks, round(r.wgt, 6) AS weight,
        |  round(r.keep_rate, 6) AS keep_rate,
        |  CAST(COALESCE(k.kept, 0) AS INT) AS kept_docs
        |FROM rate r LEFT JOIN keep k USING (source) ORDER BY r.source""".stripMargin,
    "x17_pack_sequences" ->
      """WITH tok AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS ntok FROM documents),
        |c AS (
        |  SELECT source, doc_id, ntok,
        |    SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tok),
        |b AS (SELECT source, CAST((cum - ntok) // 256 AS INT) AS bin, ntok FROM c)
        |SELECT source, bin, CAST(COUNT(*) AS INT) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(ntok) AS DOUBLE) / 256.0, 6) AS fill
        |FROM b GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,
    "x15_quality_deciles" ->
      s"""WITH sc AS ($qualitySql),
         |hist AS (SELECT q, COUNT(*) AS c FROM sc GROUP BY 1),
         |bands AS (
         |  SELECT q,
         |    least(CAST(ceil(10.0 * CAST(SUM(c) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         |      / CAST(SUM(c) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE)) AS BIGINT), 10) AS decile
         |  FROM hist)
         |SELECT CAST(decile AS INT) AS decile, CAST(COUNT(*) AS INT) AS n,
         |  MIN(sc.q) AS min_q, MAX(sc.q) AS max_q
         |FROM sc JOIN bands USING (q) GROUP BY decile ORDER BY decile""".stripMargin,
    "x38_budget_select" ->
      s"""WITH sc AS ($qualitySql),
         |j AS (
         |  SELECT sc.doc_id, sc.q,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
         |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
         |h AS (SELECT q, SUM(n_tokens) AS t FROM j GROUP BY q),
         |c AS (SELECT q, SUM(t) OVER (ORDER BY q DESC ROWS UNBOUNDED PRECEDING) AS cum FROM h)
         |SELECT j.doc_id, j.q, j.n_tokens,
         |  CASE WHEN c.cum <= 20000 THEN 1 ELSE 0 END AS keep
         |FROM j JOIN c USING (q) ORDER BY doc_id""".stripMargin,
    "x24_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(length(text) AS DOUBLE) AS nchar
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(toks) AS n_words, CAST(len(toks) AS DOUBLE) AS nw,
        |    nchar,
        |    len(list_intersect(list_distinct(toks),
        |      ['the', 'a', 'of', 'to', 'and', 'in', 'is', 'that'])) AS stop_distinct,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) AS alpha_words,
        |    CAST(len(list_filter(toks, x -> contains(x, '#'))) AS DOUBLE) AS sym_words
        |  FROM t),
        |f AS (
        |  SELECT doc_id, n_words, (nchar - (nw - 1.0)) / nw AS mean_wlen,
        |    stop_distinct, alpha_words / nw AS alpha_frac, sym_words / nw AS sym_frac
        |  FROM m),
        |g AS (
        |  SELECT doc_id, n_words, mean_wlen, stop_distinct, alpha_frac, sym_frac,
        |    CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS wc_ok,
        |    CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 1 ELSE 0 END AS mwl_ok,
        |    CASE WHEN sym_frac <= 0.1 THEN 1 ELSE 0 END AS sym_ok,
        |    CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS alpha_ok,
        |    CASE WHEN stop_distinct >= 2 THEN 1 ELSE 0 END AS stop_ok
        |  FROM f)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        |  round(mean_wlen, 6) AS mean_wlen,
        |  CAST(stop_distinct AS INT) AS stop_distinct,
        |  round(alpha_frac, 6) AS alpha_frac, round(sym_frac, 6) AS sym_frac,
        |  CAST(wc_ok AS INT) AS wc_ok, CAST(mwl_ok AS INT) AS mwl_ok,
        |  CAST(sym_ok AS INT) AS sym_ok, CAST(alpha_ok AS INT) AS alpha_ok,
        |  CAST(stop_ok AS INT) AS stop_ok,
        |  CAST(wc_ok * mwl_ok * sym_ok * alpha_ok * stop_ok AS INT) AS keep
        |FROM g ORDER BY doc_id""".stripMargin,
    "x25_norm_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000 AS doc_id, upper(text) AS text
        |  FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 40000 AS doc_id, text || ' !!' AS text
        |  FROM documents WHERE doc_id < 50),
        |n AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5
        |  FROM all_docs)
        |SELECT norm_md5, MIN(doc_id) AS canonical_id,
        |  CAST(COUNT(*) AS INT) AS n_docs
        |FROM n GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY canonical_id""".stripMargin,
    "x29_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS t, string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, t, unnest(list_concat(ws,
        |    list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)]))) AS g
        |  FROM toks),
        |bk AS (
        |  SELECT doc_id, t,
        |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 8192 AS b
        |  FROM g),
        |cnt AS (
        |  SELECT b, COUNT(*) AS cr,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct
        |  FROM bk GROUP BY 1),
        |tot AS (
        |  SELECT b, cr, ct, SUM(cr) OVER () AS nr, SUM(ct) OVER () AS nt
        |  FROM cnt),
        |mic AS (
        |  SELECT b, CAST(round(1000000.0 * (
        |      ln((CAST(ct AS DOUBLE) + 0.5) / (CAST(nt AS DOUBLE) + 0.5 * 8192)) -
        |      ln((CAST(cr AS DOUBLE) + 0.5) / (CAST(nr AS DOUBLE) + 0.5 * 8192))
        |    )) AS BIGINT) AS micro
        |  FROM tot),
        |s AS (
        |  SELECT doc_id, COUNT(*) AS n, SUM(micro) AS s
        |  FROM bk JOIN mic USING (b) GROUP BY 1)
        |SELECT doc_id, CAST(n AS INT) AS n_feats,
        |  CAST(s AS DOUBLE) / 1000000.0 AS log_ratio,
        |  CAST(CAST(sign(s) AS BIGINT) * ((2 * abs(s) + n) // (2 * n)) AS DOUBLE)
        |    / 1000000.0 AS avg_log_ratio,
        |  CASE WHEN s > 0 THEN 1 ELSE 0 END AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "x30_vocab_coverage" ->
      """WITH wc AS (
        |  SELECT w, COUNT(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |f AS (SELECT unnest([30, 900, 100000]) AS min_count)
        |SELECT CAST(f.min_count AS BIGINT) AS min_count,
        |  CAST(SUM(CASE WHEN c >= min_count THEN 1 ELSE 0 END) AS INT) AS n_words,
        |  CAST(SUM(CASE WHEN c >= min_count THEN c ELSE 0 END) AS BIGINT)
        |    AS covered_tokens,
        |  round(CAST(SUM(CASE WHEN c >= min_count THEN c ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(c) AS DOUBLE), 6) AS coverage
        |FROM wc CROSS JOIN f GROUP BY 1 ORDER BY min_count""".stripMargin,
    "x32_source_overlap" ->
      """WITH src AS (SELECT DISTINCT source FROM documents),
        |tok AS (
        |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |card AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY source),
        |common AS (
        |  SELECT x.source AS sa, y.source AS sb, COUNT(*) AS c
        |  FROM tok x JOIN tok y ON x.t = y.t AND x.source < y.source
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.source AS sa, b.source AS sb
        |  FROM src a JOIN src b ON a.source < b.source)
        |SELECT p.sa, p.sb,
        |  CAST(COALESCE(c.c, 0) AS BIGINT) AS n_common,
        |  CAST(ca.n + cb.n - COALESCE(c.c, 0) AS BIGINT) AS n_union
        |FROM pairs p
        |LEFT JOIN common c ON p.sa = c.sa AND p.sb = c.sb
        |JOIN card ca ON ca.source = p.sa
        |JOIN card cb ON cb.source = p.sb
        |ORDER BY p.sa, p.sb""".stripMargin,
    "x33_frequent_tokens" ->
      """WITH tc AS (
        |  SELECT source, t, COUNT(*) AS n
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT source, t, n,
        |    row_number() OVER (PARTITION BY source ORDER BY n DESC, t ASC) AS rk
        |  FROM tc)
        |SELECT source, t AS token, CAST(n AS BIGINT) AS n
        |FROM r WHERE rk <= 5 ORDER BY source, n DESC, token""".stripMargin,
    "x33b_frequent_rollup" ->
      """WITH tc AS (
        |  SELECT t, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1),
        |r AS (
        |  SELECT t, n, row_number() OVER (ORDER BY n DESC, t ASC) AS rk
        |  FROM tc)
        |SELECT t AS token, CAST(n AS BIGINT) AS n
        |FROM r WHERE rk <= 10 ORDER BY n DESC, token""".stripMargin
  )
}
