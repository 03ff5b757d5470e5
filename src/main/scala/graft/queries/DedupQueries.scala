package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.DedupFunctions._

/** Deduplication operator queries over `documents` (parity-plus LLM
  * data-pipeline surface; BASELINE.json north star).
  */
object DedupQueries {

  /** Word-3-gram shingle CTE shared by the oracles. */
  private val shingleSql =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(string_split(text, ' ')) - 2),
      |    i -> array_to_string(string_split(text, ' ')[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS sh
      |  FROM documents)
      |""".stripMargin

  /** MinHash-LSH verified pairs, memoized per scale dir (shared by d2
    * and the d6 clustering pipeline; minhashNearDuplicates returns the
    * pairs already materialized+persisted, pair-sized). */
  private def lshPairs(s: SparkSession, d: String): DataFrame =
    graft.DfMemo.persisted("lsh_pairs", d, s)(
      // word-count guard mirrors the oracle (same as containPairs):
      // wordShingles falls back to the whole text on < 3 words, where
      // the oracle's shingle CTE yields an empty set — latent on the
      // fixtures, divergent on corpora with one/two-word docs
      minhashNearDuplicates(
        documents(s, d).filter(size(split(col("text"), " ")) >= 3),
        "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8))

  /** Transitive clusters over the LSH pairs, memoized per scale dir —
    * nearDupClusters returns a persisted node-sized DataFrame ("caller
    * releases"); the memo both avoids re-running label propagation on
    * repeated d6 invocations and frees it at release. */
  private def lshClusters(s: SparkSession, d: String): DataFrame =
    graft.DfMemo.persisted("lsh_clusters", d, s)(
      nearDupClusters(lshPairs(s, d).select("a", "b")))

  /** Prefix-filtered containment pairs, memoized per scale dir
    * (containmentPairs returns a persisted pair-sized DataFrame,
    * "caller releases"). */
  private def containPairs(s: SparkSession, d: String): DataFrame =
    graft.DfMemo.persisted("contain_pairs", d, s)(
      // word-count guard mirrors the oracle: wordShingles falls back to
      // the whole text on < 3 words, where the oracle's generate_series
      // yields an empty set (and a zero containment denominator)
      containmentPairs(
        documents(s, d).filter(size(split(col("text"), " ")) >= 3),
        "doc_id", "text", shingleN = 3, threshold = 0.7))

  /** Prefix-filtered (PPJoin) char-5-gram Jaccard pairs, memoized per
    * scale dir (jaccardPairs returns a persisted pair-sized DataFrame,
    * "caller releases"). */
  private def jacPairs(s: SparkSession, d: String): DataFrame =
    graft.DfMemo.persisted("jaccard_pairs", d, s)(
      // length >= 5 keeps Spark and oracle shingle sets aligned (the
      // charShingles short-text fallback vs the oracle's empty list)
      jaccardPairs(documents(s, d).filter(length(col("text")) >= 5),
        "doc_id", "text", charShingles(_, 5), threshold = 0.4))

  /** A FRESH band-index dir per call is load-bearing, not hygiene:
    * reusing one dir across bench passes made pass 2's probe plan
    * structurally identical to pass 1's leaked persisted `verified`,
    * so the CacheManager substituted the old cached relation — whose
    * bound file listing named files pass 2's overwrite had deleted
    * (FILE_NOT_EXIST on any evicted block). Distinct paths make the
    * plans distinct. */
  private val bandIdxSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def bandIdxDir(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_band_idx_" +
      d.replaceAll("[^A-Za-z0-9.]", "_") + "_" + bandIdxSeq.incrementAndGet()

  /** Probe the band index at `dir` (threshold 0.8) and hold the result
    * in the memo table until release, which frees it and deletes the
    * spent dir. The probe ends in a lineage cut, so the free is
    * [[graft.functions.Lineage.release]]: `Dataset.unpersist` leaves a
    * cut's RDD registered. */
  private def heldProbe(s: SparkSession, d: String, dir: String,
                        batch: DataFrame): DataFrame =
    graft.DfMemo(s"band_probe_${bandIdxSeq.incrementAndGet()}", d, s) { (p: DataFrame) =>
      graft.functions.Lineage.release(p)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }(graft.functions.BandIndex.probe(s, dir, batch, "doc_id", "text", threshold = 0.8))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy on normalized content. The corpus has no
    // exact dups, so plant 50 (doc_id+10000 copies) and verify the
    // operator removes exactly those.
    "d1_exact_dedup" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000L)
      val all = docs.unionByName(planted)
      all.groupBy(contentHash(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .orderBy("keep_id")
    }),

    // MinHash(64) + LSH(16 bands x 4) near-dup pairs, exact-verified at
    // Jaccard >= 0.8. The oracle brute-forces all pairs; equality
    // demonstrates the LSH candidate stage loses no qualifying pair.
    "d2_minhash_lsh" -> ((s, d) => {
      lshPairs(s, d).orderBy("a", "b")
    }),

    // SimHash(32-bit) near-dup pairs at hamming <= 3 via byte-banding
    // (pigeonhole-complete for radius 3). Oracle brute-forces hamming.
    "d3_simhash" -> ((s, d) => {
      simhashNearDuplicates(documents(s, d), "doc_id", "text", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy("a", "b")
    }),

    // Char-5-gram Jaccard near-dup pairs (restricted brute force —
    // exercises the n-gram/array-set path without LSH).
    "d4_ngram_jaccard" -> ((s, d) => {
      // shingle sets computed+sorted once per doc (the projection sits
      // below the nested-loop join); pair similarity is then a native
      // merge walk (same value as array_intersect/array_union).
      // length >= 5 mirrors jacPairs: charShingles' whole-text
      // fallback on shorter texts diverges from the oracle's empty
      // shingle list (latent — the fixtures hold no such docs)
      val sh = documents(s, d)
        .filter(col("doc_id") < 300 && length(col("text")) >= 5)
        .select(col("doc_id"), array_sort(charShingles(col("text"), 5)).as("sh"))
      sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          graft.expressions.HashExpressions.sorted_jaccard(
            col("x.sh"), col("y.sh")).as("jac"))
        .filter(col("jac") >= 0.4)
        .orderBy("a", "b")
    }),

    // Char-5-gram Jaccard at scale: prefix-filtered (PPJoin) candidate
    // generation with provable 100% recall (see jaccardPairs' scaladoc)
    // + merge-walk verify on candidates only — the scale twin of d4's
    // capped brute force, full corpus, no cap, no all-pairs join. The
    // oracle brute-forces all pairs; equality proves the candidate
    // stage loses nothing.
    "d4b_ngram_jaccard_scale" -> ((s, d) => {
      jacPairs(s, d).orderBy("a", "b")
    }),

    // End-to-end dedup pipeline: LSH pairs -> transitive clusters
    // (min-label propagation) -> keep-representative decision. The
    // oracle recomputes the clusters with a recursive CTE.
    "d6_dedup_pipeline" -> ((s, d) => {
      dedupDecision(documents(s, d), "doc_id", lshClusters(s, d))
        .filter(!col("keep"))            // the removed duplicates
        .select(col("doc_id"), col("cluster"))
        .orderBy("doc_id")
    }),

    // Incremental near-dup (the daily-ingestion delta shape): two
    // planted batches of copies probe the corpus's band index; result
    // = verified pairs touching a new doc (old-old pairs excluded).
    // The oracle brute-forces old ∪ new and applies the same side
    // filter — equality proves the delta probe loses nothing.
    "d13_incremental_neardup" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val base = docs.filter(col("doc_id") < 30)
      val batch = base.select((col("doc_id") + 50000L).as("doc_id"), col("text"))
        .unionByName(
          base.select((col("doc_id") + 60000L).as("doc_id"), col("text")))
      val pairs = incrementalNearDuplicates(docs, batch, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
      pairs.orderBy("a", "b")
    }),

    // End-to-end curation pipeline — the four oracle-proven stages
    // composed the way a pretraining data pipeline runs them:
    // Gopher-rule filter → near-dup dedup (clusters from the full
    // corpus, representative = MIN surviving doc per cluster, i.e.
    // dedup-after-filter) → α=0.5 temperature mix-sample at 50% of
    // surviving tokens → 256-token sequence packing. Output: per
    // (source, bin) doc/token counts + fill. Every stage is a
    // map-only filter or a per-source/cluster agg over the previous
    // stage — the composition adds no new shuffle class.
    "x28_curation_pipeline" -> ((s, d) => {
      import graft.functions.CurationFunctions.{gopherFlags, domainMixSample, packSequences}
      val docs = documents(s, d)
      val kept = gopherFlags(docs, "doc_id", "text",
        stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "that"))
        .filter(col("keep") === 1).select("doc_id")
      val filtered = docs.join(kept, Seq("doc_id"))
        .select("doc_id", "text", "source")
      val withCluster = filtered
        .join(lshClusters(s, d).withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      val reps = withCluster.groupBy("cluster")
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val survivors = filtered.join(reps, Seq("doc_id"))
      val sampled = domainMixSample(survivors, "doc_id", "text", "source",
        targetFrac = 0.5)
      packSequences(sampled, "doc_id", "text", "source", budget = 256)
        .orderBy("source", "bin")
    }),

    // Leakage-safe split: train/test assignment keyed by near-dup
    // CLUSTER (reuses d6's transitive clusters), so no near-duplicate
    // pair ever straddles the boundary — the split is a pure function
    // of the cluster id. Per-split doc/cluster/token counts.
    "x26_cluster_split" -> ((s, d) => {
      clusterSplit(documents(s, d), "doc_id", "text", lshClusters(s, d),
        trainFrac = 0.8)
        .orderBy("split")
    }),

    // Shingle-containment near-dups: |A∩B| / |A| — the asymmetric
    // measure that catches a document embedded inside a longer one
    // (Jaccard misses subset duplication when sizes differ). Directed:
    // (a, b) means a is contained in b at >= the threshold.
    "x11_containment" -> ((s, d) => {
      // sorted shingles + native merge-walk intersection count: same
      // value as size(array_intersect(a, b)) without the per-pair
      // hash-set build, which dominates the O(n²) scan
      // length >= 5 keeps Spark and oracle shingle denominators aligned:
      // charShingles falls back to array(text) on shorter docs while the
      // oracle's generate_series yields an empty list (division by zero)
      val sh = documents(s, d).filter(col("doc_id") < 250 && length(col("text")) >= 5)
        .select(col("doc_id"), array_sort(charShingles(col("text"), 5)).as("sh"))
      val pairs = sh.as("x").join(sh.as("y"), col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          round(graft.expressions.HashExpressions.sorted_intersect_count(
              col("x.sh"), col("y.sh")).cast("double") /
            size(col("x.sh")).cast("double"), 6).as("containment"))
        .filter(col("containment") >= 0.3)
        .orderBy("a", "b")
      pairs
    }),

    // Containment at scale: prefix-filtered candidate generation (each
    // doc's rarest shingles vs a full inverted index — 100% recall by
    // the pigeonhole bound in containmentPairs' scaladoc) + merge-walk
    // verify on candidates only. No doc_id cap and no all-pairs join:
    // this is the scale twin of x11, the way d7 is d5's. The oracle
    // brute-forces all pairs; equality proves the candidate stage
    // loses nothing.
    "x11b_containment_scale" -> ((s, d) => {
      containPairs(s, d).orderBy("a", "b")
    }),

    // Embedding near-dup at scale: random-hyperplane LSH buckets
    // replace the full cross product (shuffle ∝ corpus, pairs ∝
    // corpus²/2^planes), exact cosine threshold within buckets. The
    // md5-derived planes are deterministic, so the oracle replicates
    // the bucketing bit-for-bit (same machinery as s2_ann_lsh).
    "d7_embed_lsh_pairs" -> ((s, d) => {
      import graft.functions.SimilarityFunctions.{cosinePrenorm, l2Norm, lshBucket}
      // norm once per row, not once per bucket pair (optimization r19)
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
          l2Norm(col("embedding")).as("__n"))
        .withColumn("__bucket", lshBucket(col("embedding"), seed = 7L, planes = 6, dim = 64))
      e.as("x").join(e.as("y"),
          col("x.__bucket") === col("y.__bucket") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          round(cosinePrenorm(col("x.embedding"), col("y.embedding"),
            col("x.__n"), col("y.__n")), 6).as("cos"))
        .filter(col("cos") >= 0.4)
        .orderBy("a", "b")
    }),

    // Embedding-cosine near-dup pairs (brute force; corpus is
    // cosine-unclustered so 0.45 captures the extreme tail).
    "d5_embed_neardup" -> ((s, d) => {
      import graft.functions.SimilarityFunctions.{dot, l2Norm}
      // brute-force pair scan is quadratic by nature: cap the slice so it
      // stays a baseline; the LSH path (s2_ann_lsh) is the at-scale answer.
      // Vectors are normalized ONCE per row (the projection sits below
      // the nested-loop join, so each side normalizes n rows, not n²
      // pairs); each pair then costs a single codegen'd dot product.
      // Deliberately not persisted: a cached-relation scan under the
      // BNLJ measured slower than recomputing the cheap projection.
      val e = embeddings(s, d).filter(col("vec_id") < 1000)
        .select(col("vec_id"), col("embedding"))
        .withColumn("__n", l2Norm(col("embedding")))
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double") / col("__n")).as("nv"))
      e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          round(dot(col("x.nv"), col("y.nv")), 6).as("cos"))
        .filter(col("cos") >= 0.45)
        .orderBy("a", "b")
    }),

    // SemDeDup (semantic dedup): nearest-centroid clustering (first-16
    // deterministic centroids, the IVF convention) + within-cluster
    // cosine prune keeping the lowest id of each similarity group.
    // Pair work ∝ corpus · cluster-size; C ∝ corpus is the linear
    // dial (semDedup scaladoc). One row per vector, is_dup marked.
    "d11_semdedup" -> ((s, d) => {
      import graft.functions.SimilarityFunctions.semDedup
      semDedup(embeddings(s, d), "vec_id", "embedding",
        clusters = 16, threshold = 0.35)
        .orderBy("vec_id")
    }),

    // Test-set decontamination: docs sharing a word 3-gram with the
    // benchmark slice (doc_id % 50 == 0). The benchmark n-gram set is
    // broadcast (PlanSpec pins it) — the corpus never shuffles for the
    // probe, only for its per-doc count agg.
    "d9_decontaminate" -> ((s, d) => {
      decontaminate(documents(s, d), "doc_id", "text",
        benchCond = col("doc_id") % 50 === 0, n = 3)
        .orderBy("doc_id")
    }),

    // Incremental (cross-batch) dedup: tonight's batch — 50 planted
    // copies of reference docs + a disjoint novel slice — against the
    // full corpus via bloom-prune + exact verify. The result equals
    // the exact semi-join, so the oracle is plain SQL.
    "d10_incremental_dedup" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val batch = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 40000).as("doc_id"),
            concat(col("text"), lit(" novel")).as("text")))
      incrementalDedup(docs, batch, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Corpus-level span dedup (C4 / Lee et al. style): 10-word spans,
    // keep first occurrence in (doc, position) order, reassemble.
    // md5 of the cleaned text pins the exact reassembly.
    "d8_span_dedup" -> ((s, d) => {
      spanDedup(documents(s, d), "doc_id", "text", spanWords = 10)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_spans"), col("kept_spans"))
        .orderBy("doc_id")
    }),

    // d8's skew-safe scale twin: keep-first via min(struct(doc, idx))
    // partial aggregation instead of a per-span row_number window —
    // a boilerplate span repeated a billion times reduces map-side to
    // one candidate per task instead of sorting one giant window
    // group. Same oracle as d8 proves result equality.
    "d8b_span_dedup_scale" -> ((s, d) => {
      spanDedupScale(documents(s, d), "doc_id", "text", spanWords = 10)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_spans"), col("kept_spans"))
        .orderBy("doc_id")
    }),

    // Soft dedup (reweight, don't drop): every member of an exact
    // content-hash group gets weight 1/|group| — group mass stays one
    // doc. Planted duplicates (d1's union) make the weights vary.
    "d14_soft_dedup" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val dups = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      softDedupWeights(docs.unionByName(dups), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Corpus snapshot diff (incremental-pipeline bookkeeping): the
    // "new" corpus drops every doc_id ≡ 1 (mod 40) [removed], appends
    // " v2" to docs < 50 [changed], and adds 10 re-keyed docs [added];
    // everything else is unchanged. The join carries (id, hash), not
    // documents.
    "d15_corpus_diff" -> ((s, d) => {
      val old = documents(s, d).select("doc_id", "text")
      val newDocs = old.filter(col("doc_id") % 40 =!= 1)
        .select(col("doc_id"),
          when(col("doc_id") < 50, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(old.filter(col("doc_id") < 10)
          .select((col("doc_id") + 20000L).as("doc_id"), col("text")))
      corpusDiff(old, newDocs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Persisted band index round-trip — the d13 delta probe with the
    // corpus side served from DISK, plus the whole maintenance
    // life-cycle in one oracle-gated pass: save → skewed tagged
    // ingest → REPLAY of the same tag (must converge to one copy) →
    // small-files compaction → probe. The oracle brute-forces
    // corpus ∪ batch1 ∪ batch2 with the probe-side filter, so any
    // row lost (or doubled) by ingest, replay, compaction, or the
    // bucket-pruned probe breaks the hash.
    "d16_band_index_persisted" -> ((s, d) => {
      import graft.functions.BandIndex
      val pt = graft.PhaseTimer.start("d16_band_index_persisted")
      val docs = documents(s, d).select("doc_id", "text")
      val dir = bandIdxDir(d) // fresh per call — see bandIdxSeq
      // test-scale bucket counts (16 band buckets, 8 id buckets): the
      // per-partition maintenance cost is ∝ buckets, and the defaults
      // (256/64) are sized for corpora that dwarf these fixtures
      pt("save") { BandIndex.save(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, dir = dir,
        prefixLen = 1, idBuckets = 8) }
      val base = docs.filter(col("doc_id") < 30)
      val batch1 = base.select((col("doc_id") + 50000L).as("doc_id"), col("text"))
      pt("ingest") {
        BandIndex.addBatchTagged(s, dir, batch1, "doc_id", "text", tag = "n1")
        BandIndex.addBatchTagged(s, dir, batch1, "doc_id", "text", tag = "n1")
      }
      pt("compact") { BandIndex.compact(s, dir, minFiles = 2) }
      // hot-bucket valve inside the gated pass: split the heaviest
      // postings bucket one hex char deeper — the probe below must
      // still match the brute-force oracle exactly (rebucket moves
      // rows, never changes WHAT pairs come back)
      val hot = pt("stats") { BandIndex.stats(s, dir)
        .orderBy(col("n_postings").desc, col("bucket")).select("bucket")
        .head().getString(0) }
      pt("rebucket") { BandIndex.rebucket(s, dir, hot, extraLen = 1) }
      val batch2 = base.select((col("doc_id") + 60000L).as("doc_id"), col("text"))
      // probe() is eager (it ends in a localCheckpoint), so this phase
      // carries the probe's execution; the bundle's residual "exec"
      // phase in Bench is the final count over the checkpointed rows
      pt("probe") { heldProbe(s, d, dir, batch2) }.orderBy("a", "b")
    }),

    // Tombstone delete lifecycle over the persisted band index (the
    // dedup-store twin of s17 — right-to-erasure over an indexed
    // corpus: a removed document must stop matching future probes
    // immediately): save → committed delete batch (replayed once — a
    // no-op) → a CRASHED delete left staged-uncommitted (must never
    // apply) → probe under the mask → vacuum (its write-entry
    // recovery sweeps the crash remnant; bands rewritten from the
    // deleted docs' own re-banded shingles, shingles from the id hash
    // — no store scan) → probe again (identical pairs) → second
    // delete committed → probe under the widened mask. Arms collected before the next
    // mutation, so mask, vacuum, and their equality are all gated.
    "d21_band_delete" -> ((s, d) => {
      import s.implicits._
      import graft.functions.BandIndex
      val pt = graft.PhaseTimer.start("d21_band_delete")
      // fixture dial: 2000 background docs bound the in-query save
      // cost (the d16b doc_id < 60 convention); the lifecycle being
      // gated is delete/mask/vacuum, not a second full-corpus save
      val docs = documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") < 2000)
      val dir = bandIdxDir(d)
      pt("save") { BandIndex.save(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, dir = dir,
        prefixLen = 1, idBuckets = 8) }
      val batch = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
      def probeArm(arm: String): Seq[(String, Long, Long, Double)] =
        pt("probe") {
          heldProbe(s, d, dir, batch).collect().map(r =>
            (arm, r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        }
      pt("delete") {
        val del1 = docs.filter(col("doc_id") % 9 === 4).select("doc_id")
        BandIndex.deleteIds(s, dir, del1, "doc_id", "del-1")
        BandIndex.deleteIds(s, dir, del1, "doc_id", "del-1") // replay: no-op
        // a delete that crashed before its commit rename: staged ids
        // that must never apply
        docs.filter(col("doc_id") % 4 === 0)
          .select(col("doc_id").as("__tomb_id"))
          .write.mode("overwrite").parquet(s"$dir/.staging-del-crash99")
      }
      val masked = probeArm("1_masked")
      val rewrote = pt("vacuum") { BandIndex.vacuumDeletes(s, dir) }
      require(rewrote.nonEmpty, "vacuum rewrote no partitions")
      val vacuumed = probeArm("2_vacuumed")
      pt("delete") { BandIndex.deleteIds(s, dir,
        docs.filter(col("doc_id") % 11 === 6).select("doc_id"),
        "doc_id", "del-2") }
      val masked2 = probeArm("3_masked2")
      (masked ++ vacuumed ++ masked2).toDF("arm", "a", "b", "jac")
        .orderBy("arm", "a", "b")
    }),

    // Skewed-corpus rebucket — the valve's HONEST measurement. A
    // boilerplate flood (400 exact copies of one template doc, the
    // web-corpus header/footer regime) grows the template's band
    // values' buckets far past the median; the stats-picked rebucket
    // must leave the probe ORACLE-EXACT over the skewed store. The
    // require()s pin two measured facts into the gate: (1) the split
    // bucket holds >= 10x the median postings (the fixture really is
    // skewed), and (2) a bucket hot from ONE shared band value does
    // NOT collapse under a prefix split — every copy carries the same
    // full 32-char key, so the whole flood lands in a single
    // sub-bucket. Prefix rebucketing treats prefix-COLLISION skew
    // (many distinct keys); identical-value skew must be dedup'd
    // upstream (d1/d14/d10) — see the rebucket scaladoc.
    "d16b_band_index_skewed" -> ((s, d) => {
      import graft.functions.BandIndex
      import graft.functions.DedupFunctions.{wordShingles, bandKeys}
      import graft.expressions.HashExpressions.minhash_signature
      val pt = graft.PhaseTimer.start("d16b_band_index_skewed")
      val bg = documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") < 60)
      val flood = bg.filter(col("doc_id") === 7).select("text")
        .crossJoin(s.range(0, 400).select((col("id") + 80000L).as("doc_id")))
        .select("doc_id", "text")
      val dir = bandIdxDir(d) // fresh per call — see bandIdxSeq
      // prefixLen=2 (256 buckets): the flood's 16 band values touch
      // <= 16 of them, so the median bucket stays background-sized
      pt("save") { BandIndex.save(bg.unionByName(flood), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, dir = dir,
        prefixLen = 2, idBuckets = 8) }
      // pick a hot bucket owned by exactly ONE template band value
      // (re-derived with the public kernels): its post-split mass is
      // then exactly the flood size, making the non-collapse pin exact
      val hot = pt("skew_detect") {
        val tmplKeys = flood.limit(1)
          .select(explode(bandKeys(minhash_signature(
            wordShingles(col("text"), 3), 64), 16, 4)).as("k"))
          .select(substring(col("k"), 1, 2).as("p"), col("k")).distinct()
          .collect().map(r => (r.getString(0), r.getString(1)))
        val soloPrefixes = tmplKeys.groupBy(_._1)
          .filter(_._2.map(_._2).distinct.length == 1).keySet
        val st = BandIndex.stats(s, dir).select("bucket", "n_postings")
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val h = st.filter(c => soloPrefixes(c._1)).maxBy(_._2)
        val median = st.map(_._2).sorted.apply(st.length / 2)
        require(h._2 >= 10 * math.max(1L, median),
          s"skew fixture: hot bucket $h must hold >= 10x median ($median) postings")
        h
      }
      pt("rebucket") { BandIndex.rebucket(s, dir, hot._1, extraLen = 1) }
      // targeted stats: only the split bucket's sub-region is
      // footprinted (store-wide footers again here would re-pay the
      // whole first pass to read ~16 buckets)
      pt("stats") {
        val subMax = BandIndex.stats(s, dir, prefix = Some(hot._1))
          .select("n_postings").collect().map(_.getLong(0)).max
        require(subMax >= 400L,
          "measured truth: a one-value hot bucket must NOT collapse under a " +
            s"prefix split (flood postings stay together; max sub-bucket $subMax)")
      }
      val batch = bg.filter(col("doc_id") < 20)
        .select((col("doc_id") + 90000L).as("doc_id"), col("text"))
        .unionByName(flood.filter(col("doc_id") < 80003L)
          .select((col("doc_id") + 20000L).as("doc_id"), col("text")))
      pt("probe") { heldProbe(s, d, dir, batch) }.orderBy("a", "b")
    }),

    // Exact substring dedup (Lee et al. 2022's suffix-array primitive,
    // gram-resolution Spark form — see exactSubstringDedup): every
    // >= 40-char substring occurring more than once keeps ONE
    // canonical occurrence (min doc, min pos); overlapping duplicated
    // grams merge to maximal removed spans. Corpus = documents plus
    // the d1 whole-doc copies (copies reduce to empty clean_text) —
    // natural cross-doc 40-char repeats in the fixture exercise the
    // partial-span arm. The oracle replays gram extraction, canonical
    // choice, interval merge, and the text REBUILD; clean_md5 pins
    // every kept byte.
    "d17_exact_substring" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val all = docs.unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      exactSubstringDedup(all, "doc_id", "text", L = 40)
        .select(col("doc_id"), col("n_spans"), col("chars_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // The 100 TB arm of d17: identical semantics, exchanges keyed by
    // xxhash64(gram) (8 B) instead of the 40-char string. Gated
    // against the SAME exact-string oracle — at fixture scale a
    // 64-bit collision is ~impossible, so oracle equality proves the
    // twins agree while the plan carries 5x less shuffle payload.
    "d17b_exact_substring_hash" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val all = docs.unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      exactSubstringDedup(all, "doc_id", "text", L = 40, hashKeys = true)
        .select(col("doc_id"), col("n_spans"), col("chars_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Content-defined chunking dedup (rsync/FastCDC family). Corpus =
    // documents plus SHIFTED clones ('XX ' prefix on docs < 50): a
    // fixed-stride chunker finds ~0% duplicate chunks after the
    // 3-char offset shift, CDC resyncs at the next content-defined
    // cut and finds ~89% — the oracle replays hash cuts, the greedy
    // min-length walk (recursive CTE), chunk md5s, and the canonical
    // min-(doc,idx) attribution.
    "d19_cdc_chunks" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val all = docs.unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat(lit("XX "), col("text")).as("text")))
      cdcChunks(all, "doc_id", "text", window = 8, avgMask = 16, minLen = 8)
        .orderBy("doc_id")
    }),

    // Edit-distance fuzzy self-join (entity resolution). Part names
    // are a natural fuzzy-key corpus ("red bolt"/"old bolt"). Arm:
    // positional q-gram band join — sound because >= 1 gram survives
    // any <= 2-edit script displaced by <= 2 positions for strings of
    // len >= 6; shorter strings take the brute-force bucket arm, so
    // there is no length precondition. Verification is the real
    // levenshtein, and the oracle is plain unguarded brute force.
    "d18_fuzzy_join" -> ((s, d) => {
      fuzzyPairs(part(s, d), "p_name", maxDist = 2, q = 2)
        .orderBy("name_a", "name_b")
    }),

    // The 100 TB arm of d18: Ed-Join rare-gram prefix filtering over
    // (gram, occurrence#) elements. Customer names share a massive
    // "Customer#0…" boilerplate prefix — the positional-band arm would
    // drive candidates through those hot grams, while the prefix arm
    // keeps each name's k*q+1 globally-rarest elements (its digit
    // tail) and joins only on those. Same brute-force oracle shape.
    "d18b_fuzzy_join_prefix" -> ((s, d) => {
      fuzzyPairs(customer(s, d), "c_name", maxDist = 1, q = 2,
        prefixFilter = true)
        .orderBy("name_a", "name_b")
    }),

    // The corpus-level CDC report: the 20 most-duplicated chunks (the
    // boilerplate an operator strips first). Same clone corpus as
    // d19; distributed top-k (TakeOrdered), ties broken by chunk md5.
    "d19b_cdc_top_chunks" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val all = docs.unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat(lit("XX "), col("text")).as("text")))
      cdcTopChunks(all, "doc_id", "text", window = 8, avgMask = 16,
        minLen = 8, k = 20)
        .orderBy(col("n_copies").desc, col("chunk_md5"))
    }),

    // BLOCKED fuzzy join — standard entity-resolution blocking: only
    // pairs agreeing on the block key (nation) are candidates, the
    // block riding the equality JOIN KEYS so candidate volume divides
    // by the block count before any row materializes (never a
    // post-hoc filter; the join-key conjunct is visible in the plan).
    "d20_fuzzy_blocked" -> ((s, d) => {
      fuzzyPairs(customer(s, d), "c_name", maxDist = 1, q = 2,
        prefixFilter = true, blockCol = Some("c_nationkey"))
        .orderBy("c_nationkey", "name_a", "name_b")
    }),

    // Streaming document ingest, oracle-gated end-to-end (r15: the
    // streaming twins were the one subsystem gated by specs alone).
    // Two micro-batches flow through StreamOps.bandIngest's
    // foreachBatch writer into the persisted store; then the
    // exactly-once REPLAY arm runs inside the gate: batch 0's marker
    // is dropped and the same data re-streamed under the same
    // streamId from a fresh checkpoint — foreachBatch re-runs tag
    // st9-b0, whose scrub must converge the store back to exactly
    // one copy. The brute-force oracle over corpus u batch1 u batch2
    // breaks on any row lost, doubled, or left from the replay.
    "st9_band_ingest" -> ((s, d) => {
      import graft.functions.BandIndex
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val pt = graft.PhaseTimer.start("st9_band_ingest")
      val docs = documents(s, d).select("doc_id", "text")
      val dir = bandIdxDir(d) // fresh per call — see bandIdxSeq
      pt("save") { BandIndex.save(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, dir = dir,
        prefixLen = 1, idBuckets = 8) }
      // the two stream payloads: exact copies of docs < 30, re-id'd
      // (30 rows — a fixture-sized driver boundary, the spec shape)
      val base = docs.filter(col("doc_id") < 30).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      implicit val sqlCtx = s.sqlContext
      pt("ingest") {
        val mem = MemoryStream[(Long, String)]
        val q = graft.streaming.StreamOps.bandIngest(
            mem.toDF().toDF("doc_id", "text"), dir, "doc_id", "text",
            streamId = "st9")
          .option("checkpointLocation", s"$dir/ckpt")
          .start()
        try {
          mem.addData(base.map { case (id, t) => (id + 50000L, t) }: _*)
          q.processAllAvailable()
          mem.addData(base.map { case (id, t) => (id + 60000L, t) }: _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      // replay arm: crash-before-marker simulation for batch 0
      pt("replay") {
        val marker = new org.apache.hadoop.fs.Path(s"$dir/ingest_log/st9/batch-0")
        marker.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(marker, false)
        val mem2 = MemoryStream[(Long, String)]
        val q2 = graft.streaming.StreamOps.bandIngest(
            mem2.toDF().toDF("doc_id", "text"), dir, "doc_id", "text",
            streamId = "st9")
          .option("checkpointLocation", s"$dir/ckpt2")
          .start()
        try {
          mem2.addData(base.map { case (id, t) => (id + 50000L, t) }: _*)
          q2.processAllAvailable()
        } finally q2.stop()
      }
      val probe = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
      pt("probe") { heldProbe(s, d, dir, probe) }.orderBy("a", "b")
    })
  )

  def oracles: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50)
        |SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_hash,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM all_docs GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin,
    "d14_soft_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50),
        |h AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
        |  FROM all_docs),
        |g AS (SELECT h, COUNT(*) AS n FROM h GROUP BY 1)
        |SELECT doc_id, CAST(n AS INT) AS group_size,
        |  round(1.0 / CAST(n AS DOUBLE), 6) AS weight
        |FROM h JOIN g USING (h) ORDER BY doc_id""".stripMargin,
    "d9_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(ws) - 2),
        |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] || ' ' || ws[CAST(i + 2 AS INT)]))) AS s
        |  FROM w),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
        |d AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh WHERE doc_id % 50 <> 0 GROUP BY 1),
        |hits AS (
        |  SELECT sh.doc_id, COUNT(*) AS n_hits
        |  FROM sh JOIN bench USING (s) WHERE sh.doc_id % 50 <> 0
        |  GROUP BY 1)
        |SELECT d.doc_id, CAST(n_hits AS INT) AS n_hits,
        |  round(CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS contam_frac
        |FROM d JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin,
    "d10_incremental_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 40000, text || ' novel' FROM documents WHERE doc_id % 7 = 3),
        |ref AS (
        |  SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h,
        |    MIN(doc_id) AS dup_of
        |  FROM documents GROUP BY 1)
        |SELECT b.doc_id, ref.dup_of,
        |  md5(regexp_replace(lower(b.text), '\s+', ' ', 'g')) AS content_hash
        |FROM batch b JOIN ref ON md5(regexp_replace(lower(b.text), '\s+', ' ', 'g')) = ref.h
        |ORDER BY b.doc_id""".stripMargin,
    "d8_span_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(0, CAST(ceil(len(ws) / 10.0) AS INT) - 1),
        |    i -> struct_pack(idx := i,
        |      sp := array_to_string(ws[CAST(i * 10 + 1 AS INT):CAST(i * 10 + 10 AS INT)], ' ')))) AS s
        |  FROM w),
        |r AS (
        |  SELECT doc_id, s.idx AS idx, s.sp AS sp,
        |    ROW_NUMBER() OVER (PARTITION BY s.sp ORDER BY doc_id, s.idx) AS rn
        |  FROM sp),
        |k AS (SELECT doc_id, idx, sp FROM r WHERE rn = 1),
        |ns AS (SELECT doc_id, CAST(ceil(len(ws) / 10.0) AS INT) AS n_spans FROM w)
        |SELECT doc_id, md5(string_agg(sp, ' ' ORDER BY idx)) AS clean_md5,
        |  n_spans, CAST(COUNT(*) AS INT) AS kept_spans
        |FROM k JOIN ns USING (doc_id) GROUP BY doc_id, n_spans
        |ORDER BY doc_id""".stripMargin,
    "d8b_span_dedup_scale" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(0, CAST(ceil(len(ws) / 10.0) AS INT) - 1),
        |    i -> struct_pack(idx := i,
        |      sp := array_to_string(ws[CAST(i * 10 + 1 AS INT):CAST(i * 10 + 10 AS INT)], ' ')))) AS s
        |  FROM w),
        |r AS (
        |  SELECT doc_id, s.idx AS idx, s.sp AS sp,
        |    ROW_NUMBER() OVER (PARTITION BY s.sp ORDER BY doc_id, s.idx) AS rn
        |  FROM sp),
        |k AS (SELECT doc_id, idx, sp FROM r WHERE rn = 1),
        |ns AS (SELECT doc_id, CAST(ceil(len(ws) / 10.0) AS INT) AS n_spans FROM w)
        |SELECT doc_id, md5(string_agg(sp, ' ' ORDER BY idx)) AS clean_md5,
        |  n_spans, CAST(COUNT(*) AS INT) AS kept_spans
        |FROM k JOIN ns USING (doc_id) GROUP BY doc_id, n_spans
        |ORDER BY doc_id""".stripMargin,
    "d2_minhash_lsh" -> (shingleSql +
      """, p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        |  FROM t a, t b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jac FROM p WHERE jac >= 0.8 ORDER BY a, b""".stripMargin),
    "d3_simhash" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 31), k ->
        |    CASE WHEN list_sum(list_transform(string_split(text, ' '), t ->
        |      2 * (CAST(floor(CAST(strpos('0123456789abcdef', substr(md5(t), CAST(k // 4 + 1 AS INT), 1)) - 1 AS DOUBLE)
        |                 / pow(2.0, CAST(k % 4 AS DOUBLE))) AS INT) % 2) - 1)) >= 0
        |    THEN CAST(pow(2.0, CAST(k AS DOUBLE)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
        |FROM h a, h b WHERE a.doc_id < b.doc_id AND bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY a, b""".stripMargin,
    "d4_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, length(text) - 4),
        |    i -> substr(text, CAST(i AS INT), 5))) AS sh
        |  FROM documents WHERE doc_id < 300)
        |, p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        |  FROM t a, t b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jac FROM p WHERE jac >= 0.4 ORDER BY a, b""".stripMargin,
    // verification space = 40-bit md5-hashed shingles (first 10 hex
    // digits, big-endian positional sum — the same bits Spark's
    // conv(substr(md5, 1, 10), 16, 10) extracts); values < 2^40 are
    // exact in doubles, so the hash matches Spark bit-for-bit
    "d4b_ngram_jaccard_scale" ->
      """WITH t0 AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, length(text) - 4),
        |    i -> substr(text, CAST(i AS INT), 5))) AS sh
        |  FROM documents WHERE length(text) >= 5)
        |, t AS (
        |  SELECT doc_id, list_distinct(list_transform(sh,
        |    s -> CAST(list_sum(list_transform(generate_series(1, 10),
        |      k -> (strpos('0123456789abcdef', substr(md5(s), CAST(k AS INT), 1)) - 1)
        |           * pow(16.0, CAST(10 - k AS DOUBLE)))) AS BIGINT))) AS sh
        |  FROM t0)
        |, p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        |  FROM t a, t b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jac FROM p WHERE jac >= 0.4 ORDER BY a, b""".stripMargin,
    "d6_dedup_pipeline" -> (shingleSql +
      """, p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM t a, t b WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        | e AS (SELECT a AS x, b AS y FROM p UNION ALL SELECT b, a FROM p),
        | nodes AS (SELECT DISTINCT x AS id FROM e),
        | reach AS (
        |  WITH RECURSIVE rr(id, r) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT e.x, rr.r FROM rr JOIN e ON e.y = rr.id)
        |  SELECT id, MIN(r) AS cluster FROM rr GROUP BY id)
        |SELECT id AS doc_id, cluster FROM reach WHERE id <> cluster
        |ORDER BY doc_id""".stripMargin),
    "d13_incremental_neardup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 50000 AS doc_id, text FROM documents WHERE doc_id < 30
        |  UNION ALL
        |  SELECT doc_id + 60000 AS doc_id, text FROM documents WHERE doc_id < 30),
        | t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS sh
        |  FROM all_docs),
        | p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        |  FROM t a, t b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jac FROM p
        |WHERE jac >= 0.8 AND (a >= 50000 OR b >= 50000)
        |ORDER BY a, b""".stripMargin,
    "x28_curation_pipeline" -> (shingleSql +
      """, t0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(length(text) AS DOUBLE) AS nchar
        |  FROM documents),
        | gk AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, len(toks) AS n_words,
        |      (nchar - (CAST(len(toks) AS DOUBLE) - 1.0)) / CAST(len(toks) AS DOUBLE) AS mwl,
        |      len(list_intersect(list_distinct(toks),
        |        ['the', 'a', 'of', 'to', 'and', 'in', 'is', 'that'])) AS sd,
        |      CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE) AS af,
        |      CAST(len(list_filter(toks, x -> contains(x, '#'))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE) AS sf
        |    FROM t0)
        |  WHERE n_words >= 50 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        |    AND sf <= 0.1 AND af >= 0.8 AND sd >= 2),
        | filt AS (SELECT d.doc_id, d.text, d.source FROM documents d JOIN gk USING (doc_id)),
        | p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM t a, t b WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        | e AS (SELECT a AS x, b AS y FROM p UNION ALL SELECT b, a FROM p),
        | nodes AS (SELECT DISTINCT x AS id FROM e),
        | reach AS (
        |  WITH RECURSIVE rr(id, r) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT e.x, rr.r FROM rr JOIN e ON e.y = rr.id)
        |  SELECT id, MIN(r) AS cluster FROM rr GROUP BY id),
        | wc AS (
        |  SELECT f.doc_id, f.text, f.source, COALESCE(r.cluster, f.doc_id) AS cluster
        |  FROM filt f LEFT JOIN reach r ON r.id = f.doc_id),
        | reps AS (SELECT MIN(doc_id) AS doc_id FROM wc GROUP BY cluster),
        | surv AS (SELECT w.doc_id, w.text, w.source FROM wc w JOIN reps rp ON w.doc_id = rp.doc_id),
        | tok AS (SELECT source, doc_id, len(string_split(text, ' ')) AS ntok FROM surv),
        | s2 AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS toks FROM tok GROUP BY 1),
        | w2 AS (SELECT source, toks, sqrt(CAST(toks AS DOUBLE)) AS raw FROM s2),
        | n2 AS (
        |  SELECT source, toks, raw,
        |    SUM(raw) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS totraw,
        |    SUM(toks) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tottoks
        |  FROM w2),
        | rate AS (
        |  SELECT source, 0.5 * CAST(tottoks AS DOUBLE) * (raw / totraw) / CAST(toks AS DOUBLE) AS keep_rate
        |  FROM n2),
        | samp AS (
        |  SELECT t.source, t.doc_id, t.ntok FROM tok t JOIN rate r USING (source)
        |  WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR) || ':mix'), 1, 13)) AS BIGINT)
        |          / pow(16.0, 13.0) < r.keep_rate),
        | c AS (
        |  SELECT source, doc_id, ntok,
        |    SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM samp),
        | b AS (SELECT source, CAST((cum - ntok) // 256 AS INT) AS bin, ntok FROM c)
        |SELECT source, bin, CAST(COUNT(*) AS INT) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(ntok) AS DOUBLE) / 256.0, 6) AS fill
        |FROM b GROUP BY 1, 2 ORDER BY source, bin""".stripMargin),
    "x26_cluster_split" -> (shingleSql +
      """, p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM t a, t b WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        | e AS (SELECT a AS x, b AS y FROM p UNION ALL SELECT b, a FROM p),
        | nodes AS (SELECT DISTINCT x AS id FROM e),
        | reach AS (
        |  WITH RECURSIVE rr(id, r) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT e.x, rr.r FROM rr JOIN e ON e.y = rr.id)
        |  SELECT id, MIN(r) AS cluster FROM rr GROUP BY id),
        | allc AS (
        |  SELECT d.doc_id, COALESCE(r.cluster, d.doc_id) AS cluster,
        |    len(string_split(d.text, ' ')) AS ntok
        |  FROM documents d LEFT JOIN reach r ON r.id = d.doc_id),
        | sp AS (
        |  SELECT doc_id, ntok, cluster,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR) || ':split'), 1, 13)) AS BIGINT)
        |           / pow(16.0, 13.0) < 0.8 THEN 'train' ELSE 'test' END AS split
        |  FROM allc)
        |SELECT split, CAST(COUNT(*) AS INT) AS n_docs,
        |  CAST(COUNT(DISTINCT cluster) AS INT) AS n_clusters,
        |  CAST(SUM(ntok) AS BIGINT) AS n_tokens
        |FROM sp GROUP BY 1 ORDER BY split""".stripMargin),
    "x11_containment" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, length(text) - 4),
        |    i -> substr(text, CAST(i AS INT), 5))) AS sh
        |  FROM documents WHERE doc_id < 250 AND length(text) >= 5)
        |, p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    round(CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |          CAST(len(a.sh) AS DOUBLE), 6) AS containment
        |  FROM t a, t b WHERE a.doc_id <> b.doc_id)
        |SELECT a, b, containment FROM p WHERE containment >= 0.3
        |ORDER BY a, b""".stripMargin,
    // verification space = 40-bit md5-hashed shingles, mirroring the
    // Spark side's conv(substr(md5, 1, 10), 16, 10) exactly (see d4b):
    // containment is measured over the hashed-distinct sets in BOTH
    // engines, so a 40-bit collision shifts them identically
    "x11b_containment_scale" ->
      """WITH t0 AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3)
        |, t AS (
        |  SELECT doc_id, list_distinct(list_transform(sh,
        |    s -> CAST(list_sum(list_transform(generate_series(1, 10),
        |      k -> (strpos('0123456789abcdef', substr(md5(s), CAST(k AS INT), 1)) - 1)
        |           * pow(16.0, CAST(10 - k AS DOUBLE)))) AS BIGINT))) AS sh
        |  FROM t0)
        |, p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          CAST(len(a.sh) AS DOUBLE), 6) AS containment
        |  FROM t a, t b WHERE a.doc_id <> b.doc_id)
        |SELECT a, b, containment FROM p WHERE containment >= 0.7
        |ORDER BY a, b""".stripMargin,
    "d7_embed_lsh_pairs" -> {
      val bucketTerms = (0 until 6).map { p =>
        val plane = graft.functions.SimilarityFunctions.hyperplane(7L, p, 64)
          .mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> v[i] * ($plane)[i])) >= 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString("\n   + ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | b AS (SELECT vec_id, v, $bucketTerms AS bucket FROM e),
         | p AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    round(list_sum(list_transform(generate_series(1, 64), i -> x.v[i] * y.v[i])) /
         |      (sqrt(list_sum(list_transform(generate_series(1, 64), i -> x.v[i] * x.v[i]))) *
         |       sqrt(list_sum(list_transform(generate_series(1, 64), i -> y.v[i] * y.v[i])))), 6) AS cos
         |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT a, b, cos FROM p WHERE cos >= 0.4 ORDER BY a, b""".stripMargin
    },
    // replicates semDedup decision-for-decision: first-16 centroids,
    // round(cos,6) argmax assignment with cid tie-break, within-cluster
    // lower-id witness at round(cos,6) >= 0.35
    "d11_semdedup" -> {
      val cos = (a: String, b: String) =>
        s"""round(list_sum(list_transform(generate_series(1, 64), i -> $a[i] * $b[i])) /
           |      (sqrt(list_sum(list_transform(generate_series(1, 64), i -> $a[i] * $a[i]))) *
           |       sqrt(list_sum(list_transform(generate_series(1, 64), i -> $b[i] * $b[i])))), 6)""".stripMargin
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         | ca AS (
         |  SELECT e.vec_id, e.v, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cos("e.v", "cent.cv")} DESC, cent.cid ASC) AS crank
         |  FROM e, cent),
         | assigned AS (SELECT vec_id, v, cid FROM ca WHERE crank = 1),
         | dup AS (
         |  SELECT DISTINCT x.vec_id FROM assigned x JOIN assigned y
         |    ON x.cid = y.cid AND y.vec_id < x.vec_id
         |  WHERE ${cos("x.v", "y.v")} >= 0.35)
         |SELECT a.vec_id, a.cid AS cluster, (d.vec_id IS NOT NULL) AS is_dup
         |FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin
    },
    "d5_embed_neardup" ->
      """WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings WHERE vec_id < 1000),
        | n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(generate_series(1, 64), i -> v[i] * v[i]))) AS nrm FROM e0),
        | e AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
        | p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    round(list_sum(list_transform(generate_series(1, 64), i -> a.nv[i] * b.nv[i])), 6) AS cos
        |  FROM e a, e b WHERE a.vec_id < b.vec_id)
        |SELECT a, b, cos FROM p WHERE cos >= 0.45 ORDER BY a, b""".stripMargin,
    "d15_corpus_diff" ->
      """WITH old AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
        |  FROM documents),
        |new AS (
        |  SELECT doc_id, md5(regexp_replace(lower(
        |      CASE WHEN doc_id < 50 THEN text || ' v2' ELSE text END),
        |    '\s+', ' ', 'g')) AS h
        |  FROM documents WHERE doc_id % 40 <> 1
        |  UNION ALL
        |  SELECT doc_id + 20000,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |  FROM documents WHERE doc_id < 10)
        |SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
        |  CASE WHEN old.h IS NULL THEN 'added'
        |       WHEN new.h IS NULL THEN 'removed'
        |       WHEN old.h = new.h THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
        |ORDER BY doc_id""".stripMargin,
    // brute force over corpus ∪ both batches, keep pairs touching the
    // PROBE batch (>= 60000) — the d13 oracle shape with the probe-side
    // filter
    "d16_band_index_persisted" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 50000 AS doc_id, text FROM documents WHERE doc_id < 30
        |  UNION ALL
        |  SELECT doc_id + 60000 AS doc_id, text FROM documents WHERE doc_id < 30),
        | t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS sh
        |  FROM all_docs),
        | p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        |  FROM t a, t b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jac FROM p
        |WHERE jac >= 0.8 AND (a >= 60000 OR b >= 60000)
        |ORDER BY a, b""".stripMargin,
    // d21: the d16 brute-force shape, pairs touching the batch
    // (>= 70000), with the INDEX side of each pair filtered per arm —
    // 1_masked and 2_vacuumed both exclude del-1 (% 9 = 4: mask and
    // vacuum must agree pair for pair), 3_masked2 additionally
    // excludes del-2 (% 11 = 6). The crashed staged set (% 4 = 0)
    // appears in NO exclusion; batch docs are never excluded.
    "d21_band_delete" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
        |  UNION ALL
        |  SELECT doc_id + 70000 AS doc_id, text FROM documents WHERE doc_id < 30),
        | t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS sh
        |  FROM all_docs),
        | p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        |  FROM t a, t b WHERE a.doc_id < b.doc_id),
        | pb AS (SELECT a, b, jac FROM p
        |  WHERE jac >= 0.8 AND (a >= 70000 OR b >= 70000))
        |SELECT arm, a, b, jac FROM (
        |  SELECT '1_masked' AS arm, a, b, jac FROM pb
        |   WHERE NOT (a < 70000 AND a % 9 = 4) AND NOT (b < 70000 AND b % 9 = 4)
        |  UNION ALL
        |  SELECT '2_vacuumed' AS arm, a, b, jac FROM pb
        |   WHERE NOT (a < 70000 AND a % 9 = 4) AND NOT (b < 70000 AND b % 9 = 4)
        |  UNION ALL
        |  SELECT '3_masked2' AS arm, a, b, jac FROM pb
        |   WHERE NOT (a < 70000 AND (a % 9 = 4 OR a % 11 = 6))
        |     AND NOT (b < 70000 AND (b % 9 = 4 OR b % 11 = 6)))
        |ORDER BY arm, a, b""".stripMargin,
    // brute force over the SKEWED corpus (60 background docs + a
    // 400-copy boilerplate flood of doc 7) u the probe batch, pairs
    // touching the batch (ids >= 90000) — the d16 oracle shape; the
    // rebucket inside the Spark pass must not change WHAT comes back
    "d16b_band_index_skewed" ->
      """WITH flood AS (
        |  SELECT 80000 + t.i AS doc_id, d.text
        |  FROM documents d, (SELECT unnest(generate_series(0, 399)) AS i) t
        |  WHERE d.doc_id = 7),
        |all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 60
        |  UNION ALL
        |  SELECT doc_id, text FROM flood
        |  UNION ALL
        |  SELECT doc_id + 90000 AS doc_id, text FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 20000 AS doc_id, text FROM flood WHERE doc_id < 80003),
        | t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS sh
        |  FROM all_docs),
        | p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        |  FROM t a, t b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jac FROM p
        |WHERE jac >= 0.8 AND (a >= 90000 OR b >= 90000)
        |ORDER BY a, b""".stripMargin,
    // gram -> canonical -> interval-merge -> rebuild, replayed in SQL;
    // ORDER BY inside string_agg makes the rebuild order explicit
    "d17_exact_substring" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50),
        | g AS (
        |  SELECT doc_id, i AS pos, substr(text, CAST(i AS INT), 40) AS gram
        |  FROM all_docs, unnest(generate_series(1, length(text) - 39)) AS t(i)
        |  WHERE length(text) >= 40),
        | cd AS (SELECT gram, MIN(doc_id) AS cdoc FROM g GROUP BY 1),
        | cp AS (SELECT g.gram, g.doc_id AS cdoc, MIN(pos) AS cpos
        |   FROM g JOIN cd ON g.gram = cd.gram AND g.doc_id = cd.cdoc GROUP BY 1, 2),
        | mk AS (SELECT g.doc_id, g.pos AS s, g.pos + 40 AS e
        |   FROM g LEFT JOIN cp ON g.gram = cp.gram AND g.doc_id = cp.cdoc AND g.pos = cp.cpos
        |   WHERE cp.gram IS NULL),
        | m1 AS (SELECT doc_id, s, e, MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe FROM mk),
        | m2 AS (SELECT doc_id, s, e,
        |   CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS nw FROM m1),
        | m3 AS (SELECT doc_id, s, e, SUM(nw) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp FROM m2),
        | sp AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM m3 GROUP BY doc_id, grp),
        | hd AS (SELECT doc_id, COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS fs,
        |   s AS fe FROM sp),
        | tl AS (SELECT sp.doc_id, MAX(sp.e) AS fs, MAX(length(a.text)) + 1 AS fe
        |   FROM sp JOIN all_docs a USING (doc_id) GROUP BY sp.doc_id),
        | segs AS (SELECT * FROM hd UNION ALL SELECT * FROM tl),
        | reb AS (SELECT s2.doc_id,
        |   string_agg(substr(a.text, CAST(fs AS INT), CAST(fe - fs AS INT)), '' ORDER BY fs) AS clean_text
        |   FROM segs s2 JOIN all_docs a USING (doc_id) GROUP BY s2.doc_id),
        | st AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_spans,
        |   CAST(SUM(e - s) AS INT) AS chars_removed FROM sp GROUP BY 1)
        |SELECT a.doc_id,
        |  COALESCE(st.n_spans, 0) AS n_spans,
        |  COALESCE(st.chars_removed, 0) AS chars_removed,
        |  md5(COALESCE(reb.clean_text, a.text)) AS clean_md5
        |FROM all_docs a LEFT JOIN st USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,
    // d17b: the hash-keyed twin is gated against the SAME exact oracle
    "d17b_exact_substring_hash" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50),
        | g AS (
        |  SELECT doc_id, i AS pos, substr(text, CAST(i AS INT), 40) AS gram
        |  FROM all_docs, unnest(generate_series(1, length(text) - 39)) AS t(i)
        |  WHERE length(text) >= 40),
        | cd AS (SELECT gram, MIN(doc_id) AS cdoc FROM g GROUP BY 1),
        | cp AS (SELECT g.gram, g.doc_id AS cdoc, MIN(pos) AS cpos
        |   FROM g JOIN cd ON g.gram = cd.gram AND g.doc_id = cd.cdoc GROUP BY 1, 2),
        | mk AS (SELECT g.doc_id, g.pos AS s, g.pos + 40 AS e
        |   FROM g LEFT JOIN cp ON g.gram = cp.gram AND g.doc_id = cp.cdoc AND g.pos = cp.cpos
        |   WHERE cp.gram IS NULL),
        | m1 AS (SELECT doc_id, s, e, MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe FROM mk),
        | m2 AS (SELECT doc_id, s, e,
        |   CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS nw FROM m1),
        | m3 AS (SELECT doc_id, s, e, SUM(nw) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp FROM m2),
        | sp AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM m3 GROUP BY doc_id, grp),
        | hd AS (SELECT doc_id, COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS fs,
        |   s AS fe FROM sp),
        | tl AS (SELECT sp.doc_id, MAX(sp.e) AS fs, MAX(length(a.text)) + 1 AS fe
        |   FROM sp JOIN all_docs a USING (doc_id) GROUP BY sp.doc_id),
        | segs AS (SELECT * FROM hd UNION ALL SELECT * FROM tl),
        | reb AS (SELECT s2.doc_id,
        |   string_agg(substr(a.text, CAST(fs AS INT), CAST(fe - fs AS INT)), '' ORDER BY fs) AS clean_text
        |   FROM segs s2 JOIN all_docs a USING (doc_id) GROUP BY s2.doc_id),
        | st AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_spans,
        |   CAST(SUM(e - s) AS INT) AS chars_removed FROM sp GROUP BY 1)
        |SELECT a.doc_id,
        |  COALESCE(st.n_spans, 0) AS n_spans,
        |  COALESCE(st.chars_removed, 0) AS chars_removed,
        |  md5(COALESCE(reb.clean_text, a.text)) AS clean_md5
        |FROM all_docs a LEFT JOIN st USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,
    // d19: hash cuts + greedy walk + chunk canon, replayed move-for-
    // move (the walk is a per-doc recursive CTE over candidate index;
    // depth = max candidates per doc)
    "d19_cdc_chunks" ->
      """WITH RECURSIVE
        | all_docs AS (SELECT doc_id, text FROM documents
        |   UNION ALL SELECT doc_id + 20000 AS doc_id, 'XX ' || text AS text FROM documents WHERE doc_id < 50),
        | dd AS (SELECT doc_id, text, length(text) AS dlen FROM all_docs),
        | cnd AS (
        |   SELECT doc_id, pos, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord
        |   FROM (
        |     SELECT doc_id, i + 8 AS pos
        |     FROM dd, unnest(generate_series(1, dlen - 7)) AS t(i)
        |     WHERE dlen >= 8
        |       AND CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 10)) AS BIGINT) % 16 = 0
        |       AND i + 8 <= dlen)),
        | walk(doc_id, ord, lastkept, kept) AS (
        |   SELECT doc_id, 0, CAST(1 AS BIGINT), [CAST(1 AS BIGINT)] FROM dd
        |   UNION ALL
        |   SELECT c.doc_id, c.ord,
        |     CASE WHEN c.pos - w.lastkept >= 8 THEN CAST(c.pos AS BIGINT) ELSE w.lastkept END,
        |     CASE WHEN c.pos - w.lastkept >= 8 THEN list_append(w.kept, CAST(c.pos AS BIGINT)) ELSE w.kept END
        |   FROM walk w JOIN cnd c ON c.doc_id = w.doc_id AND c.ord = w.ord + 1),
        | fin AS (SELECT doc_id, kept FROM (
        |   SELECT doc_id, kept, row_number() OVER (PARTITION BY doc_id ORDER BY ord DESC) AS rn FROM walk) WHERE rn = 1),
        | bnd AS (SELECT f.doc_id, list_append(f.kept, CAST(dd.dlen + 1 AS BIGINT)) AS b, dd.text AS text
        |   FROM fin f JOIN dd USING (doc_id)),
        | ch AS (SELECT doc_id, j AS idx,
        |     md5(substr(text, CAST(b[CAST(j AS INT)] AS INT), CAST(b[CAST(j AS INT)+1] - b[CAST(j AS INT)] AS INT))) AS chash,
        |     CAST(b[CAST(j AS INT)+1] - b[CAST(j AS INT)] AS INT) AS clen
        |   FROM bnd, unnest(generate_series(1, len(b) - 1)) AS t(j)),
        | cn AS (SELECT chash, min(struct_pack(cd := doc_id, ci := idx)) AS canon FROM ch GROUP BY 1),
        | pd AS (SELECT ch.doc_id,
        |     CAST(COUNT(*) AS INT) AS n_chunks,
        |     CAST(SUM(CASE WHEN canon.cd = ch.doc_id AND canon.ci = ch.idx THEN 0 ELSE 1 END) AS INT) AS dup_chunks,
        |     CAST(SUM(CASE WHEN canon.cd = ch.doc_id AND canon.ci = ch.idx THEN 0 ELSE ch.clen END) AS INT) AS dup_chars
        |   FROM ch JOIN cn USING (chash) GROUP BY 1)
        |SELECT a.doc_id, COALESCE(pd.n_chunks, 0) AS n_chunks,
        |  COALESCE(pd.dup_chunks, 0) AS dup_chunks, COALESCE(pd.dup_chars, 0) AS dup_chars
        |FROM all_docs a LEFT JOIN pd USING (doc_id) ORDER BY a.doc_id""".stripMargin,
    // d18: plain brute force, no length precondition — sub-threshold
    // strings take fuzzyPairs' brute-force bucket arm, so the operator
    // answers the unguarded quadratic exactly
    "d18_fuzzy_join" ->
      """WITH n AS (
        |  SELECT DISTINCT p_name AS name FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE abs(len(a.name) - len(b.name)) <= 2
        |  AND levenshtein(a.name, b.name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
    // d18b: the prefix-filter arm is gated against the SAME
    // brute-force shape (k = 1, customer names, no length guard)
    "d18b_fuzzy_join_prefix" ->
      """WITH n AS (
        |  SELECT DISTINCT c_name AS name FROM customer)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE abs(len(a.name) - len(b.name)) <= 1
        |  AND levenshtein(a.name, b.name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,
    // d19b: the d19 chunk CTE chain, grouped by chunk hash
    "d19b_cdc_top_chunks" ->
      """WITH RECURSIVE
        | all_docs AS (SELECT doc_id, text FROM documents
        |   UNION ALL SELECT doc_id + 20000 AS doc_id, 'XX ' || text AS text FROM documents WHERE doc_id < 50),
        | dd AS (SELECT doc_id, text, length(text) AS dlen FROM all_docs),
        | cnd AS (
        |   SELECT doc_id, pos, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord
        |   FROM (
        |     SELECT doc_id, i + 8 AS pos
        |     FROM dd, unnest(generate_series(1, dlen - 7)) AS t(i)
        |     WHERE dlen >= 8
        |       AND CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 10)) AS BIGINT) % 16 = 0
        |       AND i + 8 <= dlen)),
        | walk(doc_id, ord, lastkept, kept) AS (
        |   SELECT doc_id, 0, CAST(1 AS BIGINT), [CAST(1 AS BIGINT)] FROM dd
        |   UNION ALL
        |   SELECT c.doc_id, c.ord,
        |     CASE WHEN c.pos - w.lastkept >= 8 THEN CAST(c.pos AS BIGINT) ELSE w.lastkept END,
        |     CASE WHEN c.pos - w.lastkept >= 8 THEN list_append(w.kept, CAST(c.pos AS BIGINT)) ELSE w.kept END
        |   FROM walk w JOIN cnd c ON c.doc_id = w.doc_id AND c.ord = w.ord + 1),
        | fin AS (SELECT doc_id, kept FROM (
        |   SELECT doc_id, kept, row_number() OVER (PARTITION BY doc_id ORDER BY ord DESC) AS rn FROM walk) WHERE rn = 1),
        | bnd AS (SELECT f.doc_id, list_append(f.kept, CAST(dd.dlen + 1 AS BIGINT)) AS b, dd.text AS text
        |   FROM fin f JOIN dd USING (doc_id)),
        | ch AS (SELECT doc_id, j AS idx,
        |     md5(substr(text, CAST(b[CAST(j AS INT)] AS INT), CAST(b[CAST(j AS INT)+1] - b[CAST(j AS INT)] AS INT))) AS chash,
        |     CAST(b[CAST(j AS INT)+1] - b[CAST(j AS INT)] AS INT) AS clen
        |   FROM bnd, unnest(generate_series(1, len(b) - 1)) AS t(j))
        |SELECT chash AS chunk_md5, CAST(COUNT(*) AS INT) AS n_copies,
        |  CAST(COUNT(DISTINCT doc_id) AS INT) AS n_docs,
        |  CAST(MAX(clen) AS INT) AS chunk_chars
        |FROM ch GROUP BY chash
        |ORDER BY n_copies DESC, chunk_md5 LIMIT 20""".stripMargin,
    // d20: brute force within blocks (same shape as d18b + the block
    // equality)
    "d20_fuzzy_blocked" ->
      """WITH n AS (
        |  SELECT DISTINCT c_name AS name, c_nationkey FROM customer)
        |SELECT a.name AS name_a, b.name AS name_b, a.c_nationkey,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a JOIN n b
        |  ON a.name < b.name AND a.c_nationkey = b.c_nationkey
        |WHERE abs(len(a.name) - len(b.name)) <= 1
        |  AND levenshtein(a.name, b.name) <= 1
        |ORDER BY a.c_nationkey, name_a, name_b""".stripMargin,
    // the d16 oracle shape over the STREAMED store: brute force on
    // corpus u batch1 (+50000) u batch2 (+60000), pairs touching the
    // probe batch (+70000) — a replay that leaves zero or two copies
    // of batch 1 changes the pair set and breaks the hash
    "st9_band_ingest" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 50000 AS doc_id, text FROM documents WHERE doc_id < 30
        |  UNION ALL
        |  SELECT doc_id + 60000 AS doc_id, text FROM documents WHERE doc_id < 30
        |  UNION ALL
        |  SELECT doc_id + 70000 AS doc_id, text FROM documents WHERE doc_id < 30),
        | t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS sh
        |  FROM all_docs),
        | p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        |  FROM t a, t b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jac FROM p
        |WHERE jac >= 0.8 AND (a >= 70000 OR b >= 70000)
        |ORDER BY a, b""".stripMargin
  )
}
