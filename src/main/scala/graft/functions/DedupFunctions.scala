package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard. All stages are native
  * codegen'd expressions (no UDFs); hashing is md5-based so results are
  * engine-reproducible (the DuckDB oracle computes the same bytes).
  *
  * Scale shape (100 TB): signature/shingle computation is per-row
  * (embarrassingly parallel); candidate generation shuffles only
  * (band_key, doc_id) pairs — proportional to corpus size × bands, not
  * to corpus²; exact verification touches only candidate pairs.
  */
object DedupFunctions {

  /** Distinct word n-gram shingles of a text column (native one-pass
    * kernel; [[wordShinglesHof]] is the semantic reference it must
    * match bit-for-bit — pinned by HashExpressionsSpec). */
  def wordShingles(text: Column, n: Int): Column =
    graft.expressions.ShingleExpressions.word_shingles(text, n)

  /** HOF reference form of [[wordShingles]] — what the DuckDB oracles
    * replicate; kept as the equivalence-test baseline. */
  def wordShinglesHof(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Distinct character k-gram shingles (native one-pass kernel;
    * [[charShinglesHof]] is the semantic reference — pinned by
    * HashExpressionsSpec + DedupPropSpec). */
  def charShingles(text: Column, k: Int): Column =
    graft.expressions.ShingleExpressions.char_shingles(text, k)

  /** HOF reference form of [[charShingles]] — what the DuckDB oracles
    * replicate; kept as the equivalence-test baseline. */
  def charShinglesHof(text: Column, k: Int): Column =
    when(length(text) >= k,
      array_distinct(transform(sequence(lit(1), length(text) - (k - 1)),
        i => text.substr(i, lit(k)))))
      .otherwise(array(text))

  /** Exact Jaccard similarity of two shingle-set columns (int ratio →
    * double division; deterministic across engines). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Corpus size-estimate memo for the verify-join strategy decision
    * (broadcast under the cap / SHUFFLE_HASH above): keyed on the
    * canonical plan of the shingle projection, so repeated calls over
    * the same corpus (bench reps, pipeline stages sharing one input)
    * pay the estimating aggregation job ONCE per session instead of
    * once per call (that job cost 0.2–0.35 s per call, SCALE.md round
    * 10 item 2). Planning-only state: a stale entry (same plan,
    * mutated files underneath — the standard Spark cache caveat) can
    * only mis-pick a join strategy, never change results. */
  private val verifyStatCache =
    scala.collection.concurrent.TrieMap[Int, Long]()

  def clearVerifyStatCache(): Unit = verifyStatCache.clear()

  /** Resolved broadcast cap for the verify arm: an explicit positive
    * `broadcastVerifyBytes` wins; any non-positive value (the
    * default) derives the bound from the DRIVER's max heap — a
    * quarter of it, ceilinged at 8 GiB (the broadcast is built on the
    * driver, so heap is the binding resource; the r15 ×100 campaign
    * showed a fixed 256 MB constant silently flipping a 1.1 GB
    * relation to SHUFFLE_HASH and dragging KB-scale arrays through an
    * exchange a 128 GiB single node never needed — SCALE.md r15).
    * On a cluster with a modest driver the auto bound shrinks with
    * the heap and the distributed shuffle-hash arm takes over, which
    * is the honest cost there. */
  private[graft] def resolveVerifyBroadcastBytes(explicitBytes: Long): Long =
    if (explicitBytes > 0) explicitBytes
    else math.min(Runtime.getRuntime.maxMemory() / 4, 8L << 30)

  /** Estimated bytes of the hashed verify-set relation for `sh`
    * (`__id`, `__sh` shingle array): element count × (8 B per hashed
    * long + ~48 B row overhead). Memoized per canonical plan. */
  private def estVerifyBytes(sh: DataFrame): Long =
    verifyStatCache.getOrElseUpdate(sh.queryExecution.analyzed.semanticHash(), {
      val hstat = sh.agg(count(lit(1)).cast("long").as("n"),
        coalesce(avg(size(col("__sh"))), lit(0.0)).as("sz")).head()
      (hstat.getLong(0) * (hstat.getDouble(1) * 8 + 48)).toLong
    })

  /** Attach both docs' hashed verify sets (`__sha`, `__shb`) to the
    * candidate relation `pre` (`a`, `b`) from ONE build of the
    * hashed-set relation: both joins reference the SAME `hsh` plan
    * (same expression ids), so the broadcast — or the SHUFFLE_HASH
    * build exchange above the cap — is built once and the second
    * attach is a ReusedExchange (round 9's per-side renamed
    * projections canonicalized differently and built it twice;
    * PlanSpec pins the reuse). Strategy per the jaccardPairs
    * scaladoc: broadcast when the estimated relation size fits
    * `broadcastVerifyBytes`, else SHUFFLE_HASH — never a sort of the
    * candidate stream. */
  private def attachVerifySets(pre: DataFrame, hsh: DataFrame, sh: DataFrame,
                               broadcastVerifyBytes: Long): DataFrame = {
    val side =
      if (estVerifyBytes(sh) <= resolveVerifyBroadcastBytes(broadcastVerifyBytes))
        broadcast(hsh)
      else hsh.hint("shuffle_hash")
    pre
      .join(side.as("__ha"), col("a") === col("__ha.__id"))
      .select(col("a"), col("b"), col("__ha.__hs").as("__sha"))
      .join(side.as("__hb"), col("b") === col("__hb.__id"))
      .select(col("a"), col("b"), col("__sha"), col("__hb.__hs").as("__shb"))
  }

  /** Two 40-bit base hashes per shingle, parsed from one md5. MinHash
    * family member j is then (a_j·h1 + b_j·h2) mod P with the
    * [[graft.expressions.HashExpressions.minhashCoef]] per-member
    * 20-bit coefficients and P the largest prime below 2^40 — one md5
    * per shingle instead of k, with an INDEPENDENT 2-universal draw
    * per member (products < 2^62, no overflow in either engine). The
    * earlier h1 + j·h2 form shared one random point across all
    * members and measurably broke the LSH recall bound — see the
    * kernel scaladoc. */
  def minhashBaseHashes(shingles: Column): Column =
    transform(shingles, s => {
      val h = md5(s)
      struct(
        conv(h.substr(lit(1), lit(10)), 16, 10).cast("long").as("h1"),
        conv(h.substr(lit(11), lit(10)), 16, 10).cast("long").as("h2"))
    })

  /** Signature from a *materialized* base-hash column (materialize it
    * with withColumn first — referencing the base-hash expression
    * inside the k lambdas would recompute the md5s k times). */
  def minhashSignatureFromHashes(baseHashes: Column, k: Int): Column = {
    val (ca, cb) = graft.expressions.HashExpressions.minhashCoef(k)
    val caLit = array(ca.toIndexedSeq.map(lit): _*)
    val cbLit = array(cb.toIndexedSeq.map(lit): _*)
    transform(sequence(lit(0), lit(k - 1)),
      j => array_min(transform(baseHashes,
        h => (element_at(caLit, j + 1) * h.getField("h1") +
              element_at(cbLit, j + 1) * h.getField("h2")) %
          lit(graft.expressions.HashExpressions.MinHashP))))
  }

  /** Convenience single-expression form (prefer the two-step API in
    * pipelines). */
  def minhashSignature(shingles: Column, k: Int): Column =
    minhashSignatureFromHashes(minhashBaseHashes(shingles), k)

  /** LSH band keys: the signature is cut into `bands` bands of `r`
    * rows; each band hashes to one bucket key. Docs sharing any band
    * key become candidate pairs. */
  def bandKeys(signature: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat(b.cast("string"), lit("|"),
        concat_ws(",", transform(slice(signature, b * lit(r) + 1, lit(r)),
          x => x.cast("string"))))))

  /** Full MinHash-LSH near-duplicate pipeline: returns verified pairs
    * (a, b, jac) with exact Jaccard >= threshold.
    *
    * Plan: per-doc signature → explode band keys → self-join on bucket
    * (shuffle ∝ docs×bands) → distinct candidate pairs → join back the
    * shingle sets → exact verify. Only candidates are verified —
    * never the full cross product.
    */
  def minhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, numHashes: Int, bands: Int,
                            threshold: Double): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes, bands=$bands): " +
        "bands > numHashes makes every band key constant (corpus-squared " +
        "candidates) and a non-divisible split silently discards the " +
        "trailing hashes the caller asked for")
    val r = numHashes / bands
    // Persisted: the self-join and the verify stage would otherwise
    // recompute shingles/signatures once per join side (4× scans).
    // (id, shingles) is corpus-sized; (id, band) is tiny. Both are
    // released below once the (tiny) verified-pair result is
    // materialized — nothing corpus-sized outlives the call.
    val withSh = docs.select(col(idCol).as("__id"),
        wordShingles(col(textCol), shingleN).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withBands = withSh
      // native kernel: bit-identical to the HOF formulation
      .withColumn("__band", explode(bandKeys(
        graft.expressions.HashExpressions.minhash_signature(col("__sh"), numHashes),
        bands, r)))
      .select("__id", "__band")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // self-join candidates (a < b, one landing per pair) — the probe
    // kernel's batch×corpus shape does not apply here, but the VERIFY
    // stage is the shared [[BandIndex.verifyPairs]]
    val cand = withBands.as("x").join(withBands.as("y"),
        col("x.__band") === col("y.__band") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"))
      .distinct()
    val verified = BandIndex
      .verifyPairs(cand,
        withSh.select(col("__id").as("id"), col("__sh").as("sh")), threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verified.count() // materialize, then release the corpus-sized blocks
    withBands.unpersist(blocking = false)
    withSh.unpersist(blocking = false)
    verified // pair-sized; caller releases with unpersist() when done
  }

  /** Incremental MinHash-LSH near-dup — the daily-ingestion shape: a
    * NEW batch probes the existing corpus's LSH band index (plus the
    * batch's own bands) and returns verified pairs touching at least
    * one new doc. Pair semantics are identical to running
    * [[minhashNearDuplicates]] over old ∪ new and keeping pairs with
    * a new side, but the band join's probe side is the BATCH: at
    * 100 TB the per-ingest cost is ∝ batch × bands probing a
    * hash-partitioned band index (which a real deployment keeps
    * materialized — here it is built in-call and persisted for the
    * call's lifetime), never a corpus × corpus self-join. Ids must be
    * globally unique across old and new.
    *
    * The candidate/verify pipeline IS [[BandIndex.probeCandidates]] /
    * [[BandIndex.verifyPairs]] — the one banding-probe implementation
    * in the repo; this call differs from [[BandIndex.probe]] only in
    * where the corpus sides come from (live frames vs pruned reads of
    * the persisted store).
    */
  def incrementalNearDuplicates(oldDocs: DataFrame, newDocs: DataFrame,
                                idCol: String, textCol: String,
                                shingleN: Int, numHashes: Int, bands: Int,
                                threshold: Double): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes, bands=$bands): " +
        "bands > numHashes makes every band key constant (corpus-squared " +
        "candidates) and a non-divisible split silently discards the " +
        "trailing hashes the caller asked for")
    val r = numHashes / bands
    def prep(d: DataFrame): DataFrame = d.select(col(idCol).as("id"),
        wordShingles(col(textCol), shingleN).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bandsOf(sh: DataFrame): DataFrame = sh
      .withColumn("band", explode(bandKeys(
        graft.expressions.HashExpressions.minhash_signature(col("sh"), numHashes),
        bands, r)))
      .select("id", "band")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val oldSh = prep(oldDocs); val newSh = prep(newDocs)
    val oldBands = bandsOf(oldSh) // "the stored index"
    val newBands = bandsOf(newSh)
    val verified = BandIndex
      .verifyPairs(BandIndex.probeCandidates(newBands, oldBands),
        oldSh.unionByName(newSh), threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verified.count() // materialize, then release the corpus-sized blocks
    Seq(oldBands, newBands, oldSh, newSh).foreach(_.unpersist(blocking = false))
    verified // pair-sized; caller releases with unpersist() when done
  }

  /** Portable 32-bit SimHash over the word tokens of a text column.
    *
    * Bit k of a token's hash is bit (k % 4) of hex digit (k / 4) of
    * md5(token); each token votes ±1 per bit; the sign of the vote sum
    * is the fingerprint bit. Pure expressions, engine-reproducible.
    */
  /** md5 of every word token — materialize this with withColumn before
    * feeding simhash32FromMd5s, so each token hashes once, not 32×. */
  def tokenMd5s(text: Column): Column =
    transform(split(text, " "), t => md5(t))

  def simhash32FromMd5s(md5s: Column): Column = {
    val bits = transform(sequence(lit(0), lit(31)), k => {
      val digitPos = (floor(k.cast("double") / 4.0) + 1).cast("int")
      val bitInDigit = pmod(k, lit(4)).cast("double")
      val votes = aggregate(md5s, lit(0),
        (acc, h) => {
          val digit = conv(h.substr(digitPos, lit(1)), 16, 10).cast("int")
          val bit = pmod(floor(digit.cast("double") / pow(lit(2.0), bitInDigit)).cast("int"), lit(2))
          acc + (bit * 2 - 1)
        })
      when(votes >= 0, pow(lit(2.0), k.cast("double")).cast("long")).otherwise(lit(0L))
    })
    aggregate(bits, lit(0L), (acc, v) => acc + v)
  }

  def simhash32(text: Column): Column = simhash32FromMd5s(tokenMd5s(text))

  /** SimHash near-duplicate candidates by byte-banding: hamming(a,b) <= 3
    * over 4 bytes guarantees at least one equal byte (pigeonhole), so
    * joining on any-of-4 byte bands has 100% recall for that radius. */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be <= 3 (got $maxHamming): 4 byte-bands only " +
        "pigeonhole-guarantee a shared band up to hamming 3 - a larger " +
        "radius would silently miss pairs (same guard as ahashNearDuplicates)")
    val withH = docs.select(col(idCol).as("__id"),
      graft.expressions.HashExpressions.simhash32_native(split(col(textCol), " ")).as("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // byte p of the 32-bit hash, via exact double-pow arithmetic (h < 2^32)
    val byteAt = (p: Column) => pmod(
      floor(col("__h").cast("double") / pow(lit(2.0), p.cast("double") * 8.0)).cast("long"),
      lit(256L))
    val banded = withH.withColumn("__bandpos", explode(sequence(lit(0), lit(3))))
      .withColumn("__band", concat(col("__bandpos").cast("string"), lit(":"),
        byteAt(col("__bandpos")).cast("string")))
      .select("__id", "__h", "__band")
    val result = banded.as("x").join(banded.as("y"),
        col("x.__band") === col("y.__band") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"),
        col("x.__h").as("__ha"), col("y.__h").as("__hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("__ha").bitwiseXOR(col("__hb"))))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count() // materialize, then release the corpus-sized hashes
    withH.unpersist(blocking = false)
    result // pair-sized; caller releases with unpersist() when done
  }

  /** Stripe-sketch width of [[containmentPairs]]' verify pre-filter.
    * MEASURED (SCALE.md round 10, x11b at sf0.1): no sketch 1.9–2.8 s,
    * 2048 bits 2.1–2.6 s, 512 bits 1.5–2.0 s — word-3-gram sets are
    * ~100 elements, small enough against 512 stripes for the bound to
    * bite. */
  private val ContainSketchBits = 512

  /** Directed shingle-containment near-duplicates: all ordered pairs
    * (a, b) with |A∩B| / |A| >= threshold — the asymmetric measure that
    * catches a document embedded inside a longer one.
    *
    * Scale shape (prefix filtering, the PPJoin candidate bound): order
    * the shingle universe globally by ascending document frequency
    * (rarest first, ties lexicographic). If |A∩B| >= ⌈t·|A|⌉ then at
    * least one of A's (|A| − ⌈t·|A|⌉ + 1) rarest shingles is in B —
    * otherwise the intersection would fit inside A's remaining
    * ⌈t·|A|⌉ − 1 shingles. So joining each doc's rare-prefix against a
    * full inverted index has 100% recall, with candidates ∝
    * Σ_s pref(s)·df(s) (rare-first ordering keeps both factors small)
    * and shuffle ∝ total shingles — never corpus². Exact merge-walk
    * verification then touches candidates only. Completeness holds for
    * any total order; rarity-first only minimizes the candidate count.
    *
    * The group positional bound prunes further, also losslessly (the
    * PPJoin+-style second level jaccardPairs got in round 6, ported
    * here): ranks follow one global (df, shingle) order in every doc,
    * so under a rank-MONOTONE row filter the surviving shared shingles
    * of any pair form a prefix of its shared sequence — everything
    * after the last survivor ranks deeper than (max r_A, max r_B) in
    * BOTH docs, giving |A∩B| ≤ s + min(|A|−max r_A, |B|−max r_B) over
    * the s survivors, which must reach ⌈t·|A|⌉. The per-row filter
    * keeps rows within 0.05·|A| of that floor (the floor's own scale —
    * containment has no B-side term): slack 0 degenerates to the
    * round-5 single-shingle bound, unbounded slack feeds every high-df
    * shared shingle into the agg. Unlike jaccardPairs there is no
    * index-prefix trick: the contained side A is the only bounded side
    * (B can be arbitrarily large), so the join stays A-prefix ×
    * full-index — the group bound is the transferable half.
    *
    * Candidates then pass a [[ContainSketchBits]]-bit stripe-sketch
    * gate before the exact verify: a deterministic overlap upper bound,
    * loosening-only, so the verified output is bit-identical.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, threshold: Double,
                       broadcastVerifyBytes: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ⌈t·n⌉ with an epsilon guard: if fl(t*n) rounds just above the
    // true rational t·n (possible when t·n is an exact integer), a
    // bare ceil over-tightens by 1 and could drop a pair with the
    // measure exactly at threshold. Subtracting 1e-9 can only LOOSEN
    // the bound (extra candidates, removed by exact verification), so
    // the 100% recall proof holds for arbitrary thresholds.
    def ceilT(n: Column): Column = ceil(lit(threshold) * n - lit(1e-9))
    // unsorted string sets feed the df count and ranking; only the
    // hashed long verify sets need sort order (for the merge walk)
    val sh = docs.select(col(idCol).as("__id"),
        wordShingles(col(textCol), shingleN).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tok = sh.select(col("__id"), size(col("__sh")).as("__na"),
        explode(col("__sh")).as("__s"))
      .withColumn("__sk", xxhash64(col("__s")))
    // df counted per HASH key: the aggregation and the rank-attach
    // join exchange 8-byte longs instead of shingle strings. The
    // rarity order becomes (df(hash), shingle) — still one global
    // total order (string tie-break), which is all the recall proof
    // needs (completeness holds for ANY total order; a collision
    // merging two shingles' counts only nudges which order minimizes
    // candidates). The verified output is order-invariant.
    val dfreq = tok.groupBy("__sk").agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy("__id").orderBy(col("__df"), col("__s"))
    // every token with its in-doc rarity rank — the inverted index side
    // (persisted: it is both the prefix source and the index side of
    // the candidate join). The join KEY is the same xxhash64; the
    // shingle itself travels as payload for the exact-equality
    // collision reject below.
    val ranked = tok.join(dfreq, Seq("__sk"))
      .withColumn("__rn", row_number().over(byRarity))
      .select(col("__id"), col("__sk"), col("__s"), col("__rn"), col("__na"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefix = ranked
      .filter(col("__rn") <= col("__na") - ceilT(col("__na")) + 1)
      .toDF("__pa", "__sk", "__sa", "__ra", "__naa")
    val cand = prefix
      .join(ranked.toDF("__pb", "__sk", "__sb", "__rb", "__nab"), Seq("__sk"))
      // exact-equality collision reject: the group bound below COUNTS
      // shared shingles, and a spurious hash-collision row would break
      // the survivors-form-a-prefix argument (the round-5 distinct-only
      // form was loosening-only; the count form needs true equality)
      .filter(col("__sa") === col("__sb"))
      .filter(col("__pa") =!= col("__pb") &&
        // slacked per-row positional bound (rank-monotone: the LHS only
        // shrinks with depth, the RHS is fixed per pair) — keeps rows
        // within 0.05·|A| of the ⌈t·|A|⌉ floor, so a true pair's
        // surviving rows are a PREFIX of its shared-shingle sequence,
        // exactly what the group bound needs
        lit(1) + least(col("__naa") - col("__ra"), col("__nab") - col("__rb")) >=
          ceilT(col("__naa")) - ceil(lit(0.05) * col("__naa")))
      // group positional bound over the surviving prefix of shared
      // shingles: s survivors whose deepest ranks are (max ra, max rb)
      // — every shared shingle at-or-before the last survivor in the
      // global rarity order is itself a survivor (monotone filter), so
      // |A∩B| ≤ s + min remaining must still reach ⌈t·|A|⌉. The agg
      // doubles as the pair distinct.
      .groupBy("__pa", "__pb", "__naa", "__nab")
      .agg(count(lit(1)).as("__cnt"), max("__ra").as("__mra"), max("__rb").as("__mrb"))
      .filter(col("__cnt") +
          least(col("__naa") - col("__mra"), col("__nab") - col("__mrb")) >=
        ceilT(col("__naa")))
      .select(col("__pa").as("a"), col("__pb").as("b"))
    // hashed verify sets (40-bit md5, sorted longs): the verify join
    // attaches both docs' sets to every candidate row — 8-byte
    // elements cut that shuffle ~3× and the merge walk is primitive
    // compares. The measure becomes containment over the hashed
    // shingle space: deterministic, oracle-reproduced bit-for-bit,
    // within ~(|A|·|B|)/2⁴⁰ per pair of the string measure, and a
    // collision shifts both engines identically so gate equality
    // stays exact.
    val hsh = sh.select(col("__id"),
        graft.expressions.HashExpressions.hashed_set40(col("__sh")).as("__hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stripe-sketch pre-filter: attach fixed-size sketches
    // ([[ContainSketchBits]]) instead of full hashed arrays, keep only
    // pairs whose deterministic overlap upper bound (StripeOverlapUpper)
    // could still reach ⌈t·|A|⌉. round() is monotone non-decreasing, so
    // mirroring the verify's round(·, 6) keeps the gate loosening-only
    // even for pairs that only qualify via the half-up rounding at the
    // threshold edge: the verified output is bit-identical.
    val skb = hsh.select(col("__id"),
      graft.expressions.HashExpressions.stripe_sketch(col("__hs"), ContainSketchBits).as("__bm"),
      size(col("__hs")).as("__nh"))
    val pre = cand
      .join(skb.select(col("__id").as("a"), col("__bm").as("__bma"), col("__nh").as("__nha")), Seq("a"))
      .join(skb.select(col("__id").as("b"), col("__bm").as("__bmb")), Seq("b"))
      .filter(round(graft.expressions.HashExpressions.stripe_overlap_upper(
          col("__bma"), col("__bmb")).cast("double") /
        col("__nha").cast("double"), 6) >= threshold)
      .select("a", "b")
    // verify-join strategy — see jaccardPairs: broadcast the hashed
    // sets when the corpus-sized relation fits the cap (no exchange,
    // no sort, one codegen stage over the candidate stream);
    // SHUFFLE_HASH fallback above it (no candidate sort). ONE build,
    // reused for both attaches; size estimate memoized per corpus
    // plan (attachVerifySets/estVerifyBytes).
    val verified = attachVerifySets(pre, hsh, sh, broadcastVerifyBytes)
      .withColumn("containment",
        round(graft.expressions.HashExpressions.sorted_long_intersect_count(
            col("__sha"), col("__shb")).cast("double") /
          size(col("__sha")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select("a", "b", "containment")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verified.count() // materialize, then release the corpus-sized blocks
    hsh.unpersist(blocking = false)
    ranked.unpersist(blocking = false)
    sh.unpersist(blocking = false)
    verified // pair-sized; caller releases with unpersist() when done
  }

  /** Undirected Jaccard near-duplicate pairs at scale: prefix-filtered
    * candidate generation (PPJoin) + exact merge-walk verification —
    * the provable-recall scale twin of the brute-force n-gram scan,
    * with shuffle ∝ total shingles, never corpus².
    *
    * Recall argument (100%, no probabilistic stage): J(A,B) ≥ t forces
    * |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), so with the shingle universe
    * totally ordered (ascending document frequency, ties lexicographic)
    * the globally-rarest shared shingle u ranks r_X(u) ≤ |X| − ⌈t·|X|⌉
    * + 1 in BOTH docs — every intersection element ranks at-or-after u,
    * so u can't sit deeper than |X| − |A∩B| + 1. Joining the two rare
    * PREFIXES on the shingle therefore surfaces every qualifying pair
    * (unlike containmentPairs, whose asymmetric measure only bounds the
    * contained side — here both sides prune). Lossless extra pruning,
    * all with the Jaccard-equivalent overlap floor req = ⌈t/(1+t)·(|A|
    * +|B|)⌉ (from J = i/(|A|+|B|−i) ≥ t ⟺ i ≥ t/(1+t)·(|A|+|B|)):
    *
    *  1. Size filter t·|A| ≤ |B| ≤ |A|/t.
    *  2. Asymmetric INDEX prefix (the PPJoin indexing trick): orient
    *     each pair so A is the smaller set (size, then id). J ≥ t with
    *     |A| ≤ |B| forces i ≥ 2t/(1+t)·|A|, so the globally-first
    *     shared shingle sits within A's first |A| − ⌈2t/(1+t)·|A|⌉ + 1
    *     elements while still within B's standard t-prefix — the join
    *     is short-prefix × standard-prefix, not standard × standard
    *     (at t=0.4: 0.43·n vs 0.6·n on the indexed side).
    *  3. Group positional bound on the LAST surviving shared prefix
    *     shingle (the PPJoin+-style second level, replacing the
    *     single-shingle bound): ranks follow one global (df, shingle)
    *     order in every doc, so with a rank-MONOTONE row filter the
    *     surviving shared shingles of any pair form a prefix of its
    *     shared sequence — every shared element at-or-before the last
    *     survivor is itself a survivor, and everything after ranks
    *     deeper than (max ra, max rb) in BOTH docs:
    *     |A∩B| ≤ s + min(|A|−ra, |B|−rb) ≥ req must hold over the s
    *     survivors. The row filter keeps rows within 0.05·(|A|+|B|)
    *     of the floor: slack 0 degenerates to the round-5 per-row
    *     bound (7.9M candidates at sf0.1), unbounded slack admits the
    *     high-df cross-corpus matches and the agg input grows
    *     superlinearly; 0.05 lands within 10% of the unfiltered
    *     optimum at LINEAR agg input (SCALE.md round-6 re-run). Candidates
    *     at sf0.1: 7.9M → 3.6M at flat end-to-end cost — the win is
    *     the 2.2× smaller verify shuffle, the scale-dominant term.
    *
    * Verification runs over 40-bit md5-hashed shingle sets (sorted
    * long arrays, merge-walk kernel): the exact-verify join attaches
    * both docs' sets to every candidate row, so 8-byte elements cut
    * that shuffle ~3× and the walk is primitive compares — measured
    * 24× faster than UTF8String sets at sf0.1 (BENCH.md round 4). The
    * measure is therefore Jaccard over the hashed shingle space:
    * deterministic, engine-reproducible (the oracle computes the same
    * md5 bits), and within ~(|A|·|B|)/2⁴⁰ ≈ 10⁻⁶ per pair of true
    * string Jaccard — a collision shifts both engines identically, so
    * oracle equality stays exact. There is no stripe-sketch gate here
    * (unlike containmentPairs): on ~280-element char-5-gram sets any
    * sketch cheaper than the arrays saturates, measured a loss (SCALE.md
    * round 8: f10 off 78.7–79.8 s, 512 bits 129.1 s, 2048 bits 78.7 s).
    *
    * Measured growth (SCALE.md "d4b ×100"): candidates
    * 3.6M / 36.9M / 477M and verified pairs exactly linear at corpus
    * 5k / 50k / 500k docs. At 500k docs the hashed-set relation
    * (~1.1 GB) passed the old fixed 256 MB cap, and on a SINGLE node
    * the shuffle-hash arm's candidates×arrays exchange exceeds local
    * disk — the default cap is therefore AUTO (0 → driver-heap/4,
    * [[resolveVerifyBroadcastBytes]]), so a big-heap single node
    * broadcasts without a flag; on a modest-driver cluster the bound
    * shrinks and the exchange is the honest distributed cost,
    * spreading across the fleet's disks. Pass an explicit positive
    * cap to override either way.
    *
    * `shingles` maps the text column to a shingle-set column (e.g.
    * `charShingles(_, 5)` for the n-gram family, `wordShingles(_, 3)`
    * for word grams). Returns (a, b, jac) with a < b, persisted —
    * caller releases. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingles: Column => Column, threshold: Double,
                   broadcastVerifyBytes: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // epsilon-guarded ⌈t·n⌉ — see containmentPairs: keeps the recall
    // proof valid when fl(t*n) rounds above an exact integer product
    def ceilT(n: Column): Column = ceil(lit(threshold) * n - lit(1e-9))
    // unsorted string sets: only the hashed long sets need sort order
    // (for the merge walk)
    val sh = docs.select(col(idCol).as("__id"),
        shingles(col(textCol)).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tok = sh.select(col("__id"), size(col("__sh")).as("__na"),
        explode(col("__sh")).as("__s"))
      .withColumn("__sk", xxhash64(col("__s")))
    // df counted per HASH key — see containmentPairs: the aggregation
    // and rank-attach join exchange longs, the (df(hash), shingle)
    // order stays a global total order, and the verified output is
    // order-invariant
    val dfreq = tok.groupBy("__sk").agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy("__id").orderBy(col("__df"), col("__s"))
    // one standard-prefix projection (rank ≤ n − ⌈t·n⌉ + 1) with an
    // index-membership flag (rank ≤ n − ⌈2t/(1+t)·n⌉ + 1) — the join
    // is index-prefix × standard-prefix (scaladoc item 2). The join
    // KEY is the same xxhash64; the shingle itself travels as payload
    // for the exact-equality collision reject below
    def ceil2T(n: Column): Column =
      ceil(lit(2 * threshold / (1 + threshold)) * n - lit(1e-9))
    val prefix = tok.join(dfreq, Seq("__sk"))
      .withColumn("__rn", row_number().over(byRarity))
      .filter(col("__rn") <= col("__na") - ceilT(col("__na")) + 1)
      .select(col("__id"), col("__sk"), col("__s"),
        col("__rn"), col("__na"),
        (col("__rn") <= col("__na") - ceil2T(col("__na")) + 1).as("__ix"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefix.filter(col("__ix")).drop("__ix")
      .toDF("__pa", "__sk", "__sa", "__ra", "__naa")
      .join(prefix.drop("__ix").toDF("__pb", "__sk", "__sb", "__rb", "__nab"),
        Seq("__sk"))
      // the string ships as payload so a join-key collision can be
      // rejected exactly: the group bound below COUNTS shared
      // shingles, and a spurious collision row would tighten it
      // unsoundly (round 5's distinct-only form was loosening-only;
      // the count form needs true equality to stay provable)
      .filter(col("__sa") === col("__sb"))
      // orientation: the indexed side is the SMALLER set (ties by id)
      .filter((col("__naa") < col("__nab") ||
          (col("__naa") === col("__nab") && col("__pa") < col("__pb"))) &&
        // size filter: J ≥ t forces the sizes within a t ratio
        col("__nab") >= ceilT(col("__naa")) &&
        col("__naa") >= ceilT(col("__nab")) &&
        // slacked per-row positional bound: keep rows within
        // slack·(|A|+|B|) of the overlap floor. The filter is
        // rank-monotone (the bound only shrinks with depth), so a
        // true pair's surviving rows are a PREFIX of its shared-
        // shingle sequence — exactly what the group bound below
        // needs; looser slack admits deeper survivors (tighter group
        // bound) but lets high-df cross-corpus matches into the agg,
        // whose row count then grows superlinearly (measured 5.1×
        // time at corpus ×3 with no row filter). slack = 0.05 keeps
        // candidate counts within 10% of the unfiltered optimum at
        // LINEAR agg input (SCALE.md round-6 re-run)
        lit(1) + least(col("__naa") - col("__ra"), col("__nab") - col("__rb")) >=
          ceil(lit(threshold / (1 + threshold)) * (col("__naa") + col("__nab")) - lit(1e-9)) -
            ceil(lit(0.05) * (col("__naa") + col("__nab"))))
      // group positional bound (scaladoc item 3) over the surviving
      // prefix of shared shingles: s survivors whose deepest ranks
      // are (max ra, max rb) — every shared shingle at-or-before the
      // last survivor in the global rarity order is itself a
      // survivor (monotone filter), so |A∩B| ≤ s + min remaining
      // still holds. The agg doubles as the pair distinct.
      .groupBy("__pa", "__pb", "__naa", "__nab")
      .agg(count(lit(1)).as("__s"), max("__ra").as("__mra"), max("__rb").as("__mrb"))
      .filter(col("__s") +
          least(col("__naa") - col("__mra"), col("__nab") - col("__mrb")) >=
        ceil(lit(threshold / (1 + threshold)) * (col("__naa") + col("__nab")) - lit(1e-9)))
      .select(least(col("__pa"), col("__pb")).as("a"),
        greatest(col("__pa"), col("__pb")).as("b"))
    // hashed verify sets: distinct hashes (two shingles may collide),
    // sorted for the merge walk — native one-pass kernel
    val hsh = sh.select(col("__id"),
        graft.expressions.HashExpressions.hashed_set40(col("__sh")).as("__hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Verify-join strategy: the candidate relation is tens of millions
    // of 16-byte (a, b) rows, the hashed-set relation is corpus-sized
    // with ~KB array payloads. Left to itself Spark plans two
    // sort-merge joins — each an exchange + sort of the CANDIDATE
    // relation, the second one carrying the first join's attached
    // array through the shuffle (candidates × ~KB of write+read+sort).
    // When the whole hashed-set relation fits a broadcast (estimated
    // from corpus count × avg set size against `broadcastVerifyBytes`,
    // default 256 MB), both attaches become broadcast hash joins: the
    // candidate stream pipelines through one codegen stage, the arrays
    // never cross an exchange, and no sort happens at all. Above the
    // cap (the 100-TB regime: billions of docs — sets totalling TBs),
    // fall back to SHUFFLE_HASH hints: still no sort of the candidate
    // relation, the per-partition build side is the corpus slice
    // (tiny), and the one unavoidable volume term is the intermediate
    // a-attached candidate shuffle — ∝ candidates × set size, the
    // honest distributed cost of exact verification. ONE build of the
    // hashed-set relation serves both attaches (ReusedExchange), and
    // the size estimate is memoized per corpus plan — see
    // attachVerifySets/estVerifyBytes.
    val verified = attachVerifySets(cand, hsh, sh, broadcastVerifyBytes)
      .withColumn("jac", graft.expressions.HashExpressions.sorted_long_jaccard(
        col("__sha"), col("__shb")))
      .filter(col("jac") >= threshold)
      .select("a", "b", "jac")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verified.count() // materialize, then release the corpus-sized blocks
    hsh.unpersist(blocking = false)
    prefix.unpersist(blocking = false)
    sh.unpersist(blocking = false)
    verified // pair-sized; caller releases with unpersist() when done
  }

  /** Exact dedup key: md5 of normalized text (lowercase, collapsed
    * whitespace). */
  def contentHash(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** Soft dedup (the SoftDeDup alternative to dropping duplicates):
    * instead of keeping one copy per duplicate group, every copy
    * survives with sampling weight 1/|group| — the group's total
    * training mass stays exactly one document, but which copy a given
    * epoch sees can vary (reweighting preserves within-group textual
    * variation that hard dedup destroys). Groups are the exact
    * content-hash groups of [[contentHash]] (lowercase, collapsed
    * whitespace); docs with a unique hash get weight 1.
    *
    * Scale shape: one map-only hash projection + one map-side-combined
    * groupBy on the 16-byte hash + one broadcast-or-shuffle join of
    * the (hash, size) table back to the stream — exact-dedup cost,
    * linear at any corpus size. Returns (idCol, group_size, weight).
    */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs.select(col(idCol), contentHash(col(textCol)).as("__h"))
    val sizes = hashed.groupBy("__h").agg(count(lit(1)).as("__n"))
    hashed.join(sizes, Seq("__h"))
      .select(col(idCol), col("__n").cast("int").as("group_size"),
        round(lit(1.0) / col("__n").cast("double"), 6).as("weight"))
  }

  /** Connected components over near-duplicate pairs by min-label
    * propagation with path halving: each round every node adopts the
    * smallest label reachable through an edge (relax), then the label
    * of its label (halve) — the pointer-jumping step that makes the
    * round count O(log diameter) instead of O(diameter), so even a
    * pathological chain of n near-dups converges in ~log₂ n rounds
    * (64-node path: 6 rounds after the seed below, vs 63 for plain
    * propagation).
    *
    * The edge set is cut at entry ([[Lineage.cut]]), so every later
    * plan has only cut leaves, whatever pipeline produced `pairs`: a
    * persisted edge set would carry that whole pipeline inside its
    * cached plan, and AQE renders the plan string again on every stage
    * update, which cost more driver time than the jobs themselves. The
    * labels start as one relaxation, `min(x, min neighbour)`, from one
    * `groupBy` over the edges. Each round is then cut through
    * [[Lineage.advance]], and that cut counts the changed labels
    * through an observation. A round is not one job: AQE runs each
    * shuffle stage as its own, and `local[4]` measures 5 to 6 jobs per
    * round, plus 1 for the entry cut, 2 for the seed and 3 for the
    * returned frame (64-node path: 41 jobs in all).
    *
    * Returns (id, cluster) with cluster = min member id, persisted —
    * caller releases; the cuts the call made are freed before it
    * returns. */
  def nearDupClusters(pairs: DataFrame): DataFrame = {
    val edges = Lineage.cut(pairs.select(col("a").as("x"), col("b").as("y"))
      .unionByName(pairs.select(col("b").as("x"), col("a").as("y"))))
    var labels = Lineage.cut(edges.groupBy(col("x")).agg(min("y").as("__m"))
      .select(col("x").as("id"), least(col("x"), col("__m")).as("cluster")))
    var changed = true
    while (changed) {
      // relax as a left join (not a union): a Union child sharing the
      // checkpointed generation's attribute ids trips Catalyst's union
      // constraint rewrite (NoSuchElementException on the child attr)
      val neigh = edges.join(labels, edges("y") === labels("id"))
        .groupBy(col("x")).agg(min("cluster").as("__nc"))
      val relaxed = labels.join(neigh, labels("id") === neigh("x"), "left")
        .select(labels("id"), labels("cluster").as("__old"),
          least(labels("cluster"), coalesce(col("__nc"), labels("cluster"))).as("cluster"))
      // path halving: adopt the label of your label (labels are node
      // ids, so the self-join always matches; left+coalesce is belt
      // and braces for an empty generation)
      val round = Observation()
      labels = Lineage.advance(labels, relaxed.as("l")
        .join(relaxed.select(col("id").as("__cid"), col("cluster").as("__cc")).as("p"),
          col("l.cluster") === col("__cid"), "left")
        .select(col("l.id").as("id"), col("l.__old").as("__old"),
          least(col("l.cluster"), coalesce(col("__cc"), col("l.cluster"))).as("cluster"))
        .observe(round, sum(when(col("cluster") =!= col("__old"), 1L)).as("changed"))
      ).drop("__old")
      // only zero vs non-zero matters (a retried task may count twice);
      // the sum is null when no row changed, an empty generation too
      val row = scala.concurrent.Await.result(round.future,
        scala.concurrent.duration.Duration(10, "min"))
      changed = !row.isNullAt(0) && row.getLong(0) > 0
    }
    val out = labels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    Lineage.release(labels)
    Lineage.release(edges)
    out // node-sized; caller releases with unpersist() when done
  }

  /** End-to-end near-dup dedup decision: every doc mapped to its
    * cluster representative (min id); unclustered docs represent
    * themselves. `keep = (doc == representative)`. */
  def dedupDecision(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    docs.select(col(idCol))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
      .withColumn("keep", (col(idCol) === col("cluster")))

  /** Leakage-safe train/test split: the split key is the near-dup
    * CLUSTER, not the document — near-duplicates therefore never
    * straddle the train/test boundary (the split is a pure function
    * of the cluster id), which is the standard guard against
    * train-test contamination when splitting a deduplicated-in-name-
    * only corpus. Docs absent from `clusters` (no near-dup) form
    * singleton clusters keyed by their own id. The per-cluster
    * train/test decision is the md5-Bernoulli uniform used everywhere
    * else (reproducible at any parallelism); returns per-split doc /
    * cluster / token counts. Cost at scale: one broadcast-or-shuffle
    * join against the (pair-sized) cluster map + one agg — the
    * cluster map is the output of [[nearDupClusters]], tiny relative
    * to the corpus.
    */
  def clusterSplit(docs: DataFrame, idCol: String, textCol: String,
                   clusters: DataFrame, trainFrac: Double): DataFrame = {
    val withC = docs.select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("__ntok"))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
    val u = conv(substring(md5(concat(col("cluster").cast("string"),
      lit(":split"))), 1, 13), 16, 10).cast("double") / pow(lit(16.0), lit(13.0))
    withC.withColumn("split", when(u < trainFrac, "train").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).cast("int").as("n_docs"),
        countDistinct("cluster").cast("int").as("n_clusters"),
        sum("__ntok").as("n_tokens"))
  }

  /** Test-set decontamination (the n-gram overlap check run before
    * training on any scraped corpus): flag every corpus document that
    * contains a word n-gram also present in the benchmark set.
    *
    * `benchCond` selects the benchmark documents; the remaining corpus
    * is scanned against them. Returns one row per contaminated doc:
    * (idCol, n_hits = distinct benchmark n-grams present, contam_frac =
    * n_hits / doc's distinct n-gram count). Ids must be unique: hits
    * are counted per id.
    *
    * 100 TB shape: real benchmark suites are MBs, so their distinct
    * n-gram set is broadcast — the corpus is never shuffled for the
    * probe, only for the per-doc hit count (map-side combined, ∝
    * matched grams). A doc's distinct n-gram count is the size of its
    * shingle array, taken in the same map pass, so there is no second
    * per-doc aggregation and no join back. PlanSpec pins the
    * BroadcastHashJoin.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchCond: Column, n: Int): DataFrame = {
    // >= n words on both sides mirrors the oracle's len(ws) >= n guard.
    // n-grams come from the native word_shingles kernel (pinned
    // bit-identical to the HOF reference by HashExpressionsSpec/
    // DedupPropSpec), which already returns DISTINCT shingles — the
    // shingle-SET semantics need no second dedup pass, and the array's
    // size is the doc's gram count. The size is taken before the
    // explode, so the array is not carried on every exploded row.
    // explode_outer, not explode: for a plain explode Catalyst infers
    // `isnotnull(__sh) AND size(__sh) > 0` and pushes it below the
    // projection, inlining the kernel twice more per row. The outer
    // form's null row (for an empty array, which the kernel never
    // returns) could not pass the inner join on __s anyway.
    val sh = docs.filter(size(split(col(textCol), " ")) >= n)
      .select(col(idCol).as("__id"), benchCond.as("__bench"),
        wordShingles(col(textCol), n).as("__sh"))
      .select(col("__id"), col("__bench"), col("__sh"),
        size(col("__sh")).as("__ngrams"))
      .select(col("__id"), col("__bench"), col("__ngrams"),
        explode_outer(col("__sh")).as("__s"))
    val bench = broadcast(sh.filter(col("__bench")).select("__s").distinct())
    sh.filter(!col("__bench")).join(bench, Seq("__s"))
      .groupBy("__id", "__ngrams").agg(count(lit(1)).as("__nhits"))
      .select(col("__id").as(idCol), col("__nhits").cast("int").as("n_hits"),
        round(col("__nhits").cast("double") / col("__ngrams").cast("double"), 6)
          .as("contam_frac"))
  }

  /** Incremental (cross-batch) exact dedup: which docs of a NEW batch
    * already exist in a reference corpus — the "dedup tonight's crawl
    * against everything we already have" pass that runs far more often
    * than a full self-dedup.
    *
    * A bloom sketch of the reference content hashes pre-filters the
    * batch (built distributed via treeAggregate in `stat.bloomFilter`,
    * then shipped to the batch scan as one bitmap — the reference is
    * NEVER joined against the full batch); the surviving candidates
    * (true matches + bloom false positives) are exactly verified with
    * a join against the reference hashes, so the result equals the
    * plain semi-join and the oracle is trivial. At 100 TB the sketch
    * is GBs for billions of docs at 1% fpp — broadcastable — and the
    * verify join only sees the candidate sliver.
    *
    * Returns (idCol, dup_of = min reference id with the same content,
    * content_hash). */
  def incrementalDedup(reference: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       expectedItems: Long = 100000L,
                       precomputedBloom: Option[Array[Byte]] = None): DataFrame = {
    val ref = reference.select(col(idCol).as("__rid"),
      contentHash(col(textCol)).as("__h"))
    val hashed = batch.select(col(idCol), contentHash(col(textCol)).as("__h"))
    val candidates = precomputedBloom match {
      case Some(bytes) =>
        hashed.filter(graft.expressions.HashExpressions.bloom_might_contain(
          bloomKey(col("__h")), bytes))
      case None if reference.isEmpty => hashed.filter(lit(false))
      case None =>
        hashed.filter(graft.expressions.HashExpressions.bloom_might_contain(
          bloomKey(col("__h")),
          buildContentBloom(reference, textCol, expectedItems)))
    }
    candidates
      .join(ref.groupBy("__h").agg(min("__rid").as("dup_of")), Seq("__h"))
      .select(col(idCol), col("dup_of"), col("__h").as("content_hash"))
  }

  /** The 60-bit long projection of the md5 content hash that the
    * incremental-dedup bloom is keyed on: the projection's collisions
    * and the sketch's fpp both only ADD candidates, which the exact
    * verify join on the full hash removes. */
  private def bloomKey(h: Column): Column =
    conv(substring(h, 1, 15), 16, 10).cast("long")

  /** Build the reference-corpus bloom sketch `incrementalDedup`
    * pre-filters with, as portable bytes (built distributed via
    * `stat.bloomFilter`'s treeAggregate — the driver holds only the
    * bitmap). Persist it with [[saveBloom]] and tonight's crawl dedups
    * against yesterday's corpus WITHOUT re-scanning it — the sketch
    * pre-filters, and the exact verify join reads the (append-only)
    * reference hash table for just the candidate sliver. */
  def buildContentBloom(reference: DataFrame, textCol: String,
                        expectedItems: Long = 100000L,
                        fpp: Double = 0.01): Array[Byte] = {
    val bloom = reference.select(
        bloomKey(contentHash(col(textCol))).as("__hl"))
      .stat.bloomFilter("__hl", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** Persist / reload the sketch on the cluster filesystem (hadoop FS,
    * so the path may be HDFS/object storage, not just local disk). */
  def saveBloom(spark: org.apache.spark.sql.SparkSession, path: String,
                bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  def loadBloom(spark: org.apache.spark.sql.SparkSession,
                path: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** Corpus-level span dedup (the C4 / Lee et al. 2022 "remove any
    * repeated span, keep the first occurrence" pass, at word-span
    * granularity): each document is cut into non-overlapping
    * `spanWords`-word spans; a span whose text already occurred earlier
    * in the corpus (document order, then span position) is dropped; the
    * surviving spans are reassembled in position order.
    *
    * Returns (idCol, clean_text, n_spans, kept_spans). Documents whose
    * spans are all duplicates of earlier text drop out entirely (no
    * surviving spans → no row).
    *
    * 100 TB shape: one corpus scan explodes spans; the only shuffle
    * keys are (span text) for the keep-first window — groups are
    * occurrence lists of one span, almost always tiny — and (doc) for
    * reassembly. Shuffle volume ∝ total spans ≈ corpus size. A skewed
    * boilerplate span (the same cookie banner a billion times) makes
    * one big group; the window only needs that group's minimum, so an
    * AQE-skew-safe variant would pre-aggregate min(doc,idx) per span —
    * here row_number keeps the oracle shape simple.
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                spanWords: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ts = split(col(textCol), " ")
    val nSpans = ceil(size(ts).cast("double") / spanWords).cast("int")
    val spans = docs.select(col(idCol).as("__id"),
        posexplode(transform(sequence(lit(0), nSpans - 1),
          i => concat_ws(" ", slice(ts, i * spanWords + 1, lit(spanWords))))))
      .toDF("__id", "__idx", "__sp")
    val w = Window.partitionBy("__sp").orderBy(col("__id"), col("__idx"))
    val kept = spans.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    kept.groupBy("__id").agg(
        array_join(transform(array_sort(collect_list(struct(col("__idx"), col("__sp")))),
          s => s.getField("__sp")), " ").as("clean_text"),
        count(lit(1)).as("kept_spans"))
      .join(docs.select(col(idCol).as("__id"), nSpans.as("n_spans")), Seq("__id"))
      .select(col("__id").as(idCol), col("clean_text"),
        col("n_spans"), col("kept_spans").cast("int").as("kept_spans"))
  }

  /** Corpus snapshot diff — the bookkeeping primitive of incremental
    * pipelines (what must re-enter dedup/indexing between two corpus
    * versions): full outer join on id, content compared by hash, each
    * doc classified `added` / `removed` / `changed` / `unchanged`.
    * One shuffle on the id; the content hash is computed per side
    * before the join so the join carries (id, 32-byte hash), not
    * documents. Returns (idCol, status). */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).as("__id"),
      contentHash(col(textCol)).as("__ho"))
    val n = newDocs.select(col(idCol).as("__id"),
      contentHash(col(textCol)).as("__hn"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__ho").isNull, "added")
          .when(col("__hn").isNull, "removed")
          .when(col("__ho") === col("__hn"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** [[spanDedup]]'s skew-safe scale twin, same result: the keep-first
    * selection is `min(struct(doc, idx))` per span — a map-side-
    * combinable aggregate whose output IS the kept row (struct min is
    * lexicographic, exactly the window's (doc, idx) order), so the
    * skewed-group hazard spanDedup's scaladoc flags (one boilerplate
    * span repeated a billion times makes one giant window group that
    * a single task must sort) becomes a partial-agg reduction: each
    * task pre-reduces its occurrences of the hot span to ONE candidate
    * before the exchange, shuffle ∝ distinct spans × tasks. No window,
    * no join-back — the aggregate's value already carries (doc, idx,
    * span). d8b pins result equality against d8's oracle. */
  def spanDedupScale(docs: DataFrame, idCol: String, textCol: String,
                     spanWords: Int): DataFrame = {
    val ts = split(col(textCol), " ")
    val nSpans = ceil(size(ts).cast("double") / spanWords).cast("int")
    val spans = docs.select(col(idCol).as("__id"),
        posexplode(transform(sequence(lit(0), nSpans - 1),
          i => concat_ws(" ", slice(ts, i * spanWords + 1, lit(spanWords))))))
      .toDF("__id", "__idx", "__sp")
    val kept = spans
      .groupBy("__sp")
      .agg(min(struct(col("__id"), col("__idx"))).as("__f"))
      .select(col("__f.__id").as("__id"), col("__f.__idx").as("__idx"),
        col("__sp"))
    kept.groupBy("__id").agg(
        array_join(transform(array_sort(collect_list(struct(col("__idx"), col("__sp")))),
          s => s.getField("__sp")), " ").as("clean_text"),
        count(lit(1)).as("kept_spans"))
      .join(docs.select(col(idCol).as("__id"), nSpans.as("n_spans")), Seq("__id"))
      .select(col("__id").as(idCol), col("clean_text"),
        col("n_spans"), col("kept_spans").cast("int").as("kept_spans"))
  }

  /** Exact substring deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the suffix-array
    * primitive, here as the Spark-native rolling-gram equivalent):
    * every substring of length >= `L` that occurs more than once in
    * the corpus is removed from all but its CANONICAL occurrence
    * (min doc id, then min position in that doc). Adjacent/overlapping
    * duplicated grams merge into maximal removed spans, so a shared
    * region of any length M >= L is removed whole from the
    * non-canonical side (M−L+1 grams union to [p, p+M)), which is
    * exactly the suffix-array semantics at gram resolution. The
    * reference has no dedup surface at all (fireworks/toolbox); this
    * is parity-plus alongside d1/d8.
    *
    * Returns (idCol, n_spans, chars_removed, clean_text) — docs with
    * nothing removed pass through with n_spans = 0.
    *
    * Plan shape at scale:
    *  - the gram relation is positions-sized (one row per char
    *    position, L-char payload); the canonical-occurrence reduce is
    *    a (gram → min (doc, pos)) hash aggregate with map-side
    *    partials, the same shuffle class as the Lee et al. hash
    *    variant (their exact suffix array is superlinear memory on
    *    one machine — the published distributed practice is this
    *    gram-hash form)
    *  - the mark join is gram-keyed (positions-sized), never a pair
    *    join; interval merge + text rebuild are PER-DOC windows
    *    (bounded by document length, the d8/x9 discipline — never a
    *    corpus-wide single partition)
    *  - `L` is the only dial: shuffle bytes ∝ corpus chars × (L + 16).
    *    `hashKeys = true` is the 100 TB arm: the canonical aggregate
    *    and mark join key on `xxhash64(gram)` (8 B) instead of the
    *    L-char string — same plan shape, ~L/8× smaller exchanges; a
    *    64-bit collision merges two unrelated grams' canonical
    *    choice (removing an innocent span), expected ~n²/2⁶⁵ events
    *    — at 10¹² grams that is ~tens of spans corpus-wide, the
    *    standard accepted cost of the hash variant (Lee et al. use
    *    exactly this tradeoff in their hash-based impl). The string
    *    form keeps the DuckDB oracle byte-exact with zero caveat;
    *    d17/d17b gate BOTH arms against the SAME exact oracle, so
    *    the twin's fixture-scale equality is itself verified.
    */
  /** Content-defined chunking (rsync / LBFS / FastCDC family): split
    * each document at positions where a local window hash satisfies
    * `h % avgMask == 0` (expected chunk length ≈ avgMask + window),
    * subject to a greedy minimum chunk length, then detect duplicate
    * chunks ACROSS documents by chunk hash. Because boundaries depend
    * only on local content, an insertion near the head of a copied
    * document shifts every byte offset yet the chunker RESYNCS at the
    * next content-defined cut — the property fixed-stride splitting
    * lacks, and the reason incremental-storage dedup uses CDC.
    *
    * Cut rule: for window start i (1-based, i ≤ len−window+1), the
    * 40-bit md5 hash of `text[i, i+window)` (the d4b/x18 hash bits —
    * engine-reproducible) marks a candidate cut at `i + window`;
    * candidates are walked in order and kept if ≥ minLen since the
    * last kept cut (chunk tails shorter than minLen are allowed at
    * doc end). The canonical occurrence of a duplicated chunk is the
    * lexicographic min (doc, idx) — d17's convention.
    *
    * Returns per doc: `n_chunks`, `dup_chunks`, `dup_chars` (chars in
    * chunks whose canonical occurrence is elsewhere).
    *
    * Scale shape (100 TB): hashing + boundary walk are per-row HOFs
    * (embarrassingly parallel, work linear in chars); the only
    * exchange is the chunk-hash groupBy — chunks-sized, like d1 on
    * chunk granularity. At production scale key the exchange by
    * xxhash64(chunk) instead of the md5 hex (the d17b diet); the md5
    * form keeps the oracle byte-exact. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                window: Int = 8, avgMask: Int = 16, minLen: Int = 8): DataFrame = {
    val base = docs.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val chunks = cdcChunkRelation(docs, idCol, textCol, window, avgMask, minLen)
    val canon = chunks.groupBy("__ch")
      .agg(min(struct(col("__id"), col("__idx"))).as("__c"))
    val perDoc = chunks.join(canon, Seq("__ch"))
      .groupBy("__id")
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("__c.__id") === col("__id") && col("__c.__idx") === col("__idx"),
          0).otherwise(1)).cast("int").as("dup_chunks"),
        sum(when(col("__c.__id") === col("__id") && col("__c.__idx") === col("__idx"),
          0).otherwise(col("__cl"))).cast("int").as("dup_chars"))
    base.select(col("__id"))
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_chunks"), lit(0)).as("n_chunks"),
        coalesce(col("dup_chunks"), lit(0)).as("dup_chunks"),
        coalesce(col("dup_chars"), lit(0)).as("dup_chars"))
  }

  /** The corpus-level twin of [[cdcChunks]]: the k most-duplicated
    * chunks — the boilerplate report an operator reads before
    * deciding what to strip (shared headers, licence blocks, template
    * fragments surface here). Per chunk hash: total copies, distinct
    * docs, chunk length. One chunks-sized hash aggregate + a
    * distributed top-k (TakeOrdered — map-side partial heaps, never a
    * global sort of the chunk relation). */
  def cdcTopChunks(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 8, avgMask: Int = 16, minLen: Int = 8,
                   k: Int = 20): DataFrame = {
    require(k >= 1, "need k >= 1")
    cdcChunkRelation(docs, idCol, textCol, window, avgMask, minLen)
      .groupBy(col("__ch").as("chunk_md5"))
      .agg(count(lit(1)).cast("int").as("n_copies"),
        countDistinct(col("__id")).cast("int").as("n_docs"),
        max(col("__cl")).cast("int").as("chunk_chars"))
      .orderBy(col("n_copies").desc, col("chunk_md5"))
      .limit(k)
  }

  /** Shared chunking stage of [[cdcChunks]]/[[cdcTopChunks]]: one row
    * per (doc, chunk) with the chunk's md5 and length — hash cut rule
    * + greedy min-length walk as per-row HOFs, no exchange. */
  private def cdcChunkRelation(docs: DataFrame, idCol: String, textCol: String,
                               window: Int, avgMask: Int, minLen: Int): DataFrame = {
    require(window >= 2 && avgMask >= 1 && minLen >= 1, "bad CDC dials")
    // null text reads as empty: without the coalesce a null row walks
    // null bounds into a null chunk hash and a null-keyed groupBy row,
    // diverging from the documented per-doc contract empty docs get.
    // Scan-parallelism valve (optimization r18): the per-char boundary
    // walk below is the heaviest map kernel in the dedup family, and a
    // fixture-scale docs table is one row group = ONE scan task.
    val base = ScanParallelism.ensureScanParallelism(
      docs.select(col(idCol).as("__id"),
        coalesce(col(textCol), lit("")).as("__t")), "__id")
    val len = length(col("__t"))
    // candidate cuts, in position order (sequence is ascending; the
    // len >= window guard keeps sequence() from walking backwards)
    val cands = when(len >= window,
      filter(transform(sequence(lit(1), len - lit(window - 1)),
        i => when(
          conv(substring(md5(col("__t").substr(i, lit(window))), 1, 10), 16, 10)
            .cast("long") % avgMask === 0,
          i + lit(window)).otherwise(lit(null))),
        c => c.isNotNull && c <= len))
      .otherwise(array().cast("array<int>"))
    // greedy min-length walk over the ordered candidates
    val kept = aggregate(cands, array(lit(1)),
      (acc, c) => when(c - element_at(acc, -1) >= minLen,
        concat(acc, array(c))).otherwise(acc))
    val bounds = concat(kept, array(len + 1))
    base
      .select(col("__id"), col("__t"), bounds.as("__b"))
      .select(col("__id"),
        explode(transform(sequence(lit(1), size(col("__b")) - 1),
          j => struct(j.as("idx"),
            col("__t").substr(element_at(col("__b"), j),
              element_at(col("__b"), j + 1) - element_at(col("__b"), j))
              .as("chunk")))).as("c"))
      .select(col("__id"), col("c.idx").as("__idx"),
        md5(col("c.chunk")).as("__ch"), length(col("c.chunk")).as("__cl"))
  }

  /** Edit-distance fuzzy self-join over a string column (entity
    * resolution / fuzzy key dedup — beyond-reference surface, same
    * family as [[exactSubstringDedup]]). Returns all DISTINCT value
    * pairs `(name_a < name_b)` with `levenshtein <= maxDist`, exactly:
    * candidates come from a sound lower-bound filter, then every
    * candidate is verified with the real edit distance, so any sound
    * filter yields the brute-force answer.
    *
    * Two candidate arms (Gravano et al. 2001 q-gram counting; Xiao et
    * al. 2008 Ed-Join prefix filtering):
    *
    *  - `prefixFilter = false`: positional q-gram equi-join with a
    *    position band. If `ed(s,t) <= k` then at least
    *    `max(|s|,|t|) - q + 1 - k*q` of s's positional q-grams survive
    *    the edit script unchanged, each displaced by at most k
    *    positions. For strings of length >= q*(k+1) that bound is >= 1,
    *    so joining on (gram value, |pos delta| <= k) is complete;
    *    SHORTER strings (where the bound can reach 0 and a qualifying
    *    pair may share no gram) route through a deletion-neighborhood
    *    arm (FastSS): the sub-threshold bucket equi-joins on its
    *    ≤maxDist-deletion variant strings — complete because within-k
    *    pairs always share a variant, and the variant fan is a small
    *    constant by construction (bucket strings are shorter than
    *    q(k+1)+k). The union is the exact brute-force answer with no
    *    length precondition, and no stage is a nested loop.
    *    Candidate volume ~ sum over gram values of cnt^2 — fine when
    *    grams are selective, quadratic on low-entropy keys.
    *  - `prefixFilter = true` (the scale arm): each string keeps only
    *    its `k*q + 1` globally-rarest (gram, occurrence#) elements
    *    under the total order (corpus count, gram, occ); two strings
    *    within distance k MUST share one of these elements (set prefix
    *    lemma over the (gram, occ) element encoding of the gram
    *    multiset — occurrence indices make multiset overlap a plain
    *    set intersection). Join key is (gram, occ), so hot gram VALUES
    *    ("Customer#" boilerplate) stop driving the join: candidates
    *    concentrate on each string's rare tail.
    *
    * Scale shape (100 TB): grams shuffle O(total chars); the gram-count
    * relation is vocab-sized (<= charset^q, broadcast at q <= 2); the
    * verify stage touches candidates only. No cartesian product at any
    * stage (d17-style plan pin in DedupSpec).
    */
  def fuzzyPairs(df: DataFrame, strCol: String, maxDist: Int, q: Int = 2,
                 prefixFilter: Boolean = false,
                 blockCol: Option[String] = None): DataFrame =
    fuzzyCandidates(df, strCol, maxDist, q, prefixFilter, blockCol)
      // thresholded levenshtein runs the banded O(len·k) DP and
      // returns -1 above maxDist — ~len/k cheaper per candidate than
      // the full DP, at 10⁷ candidates the verify stage's main dial
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0)
      .distinct()

  /** The candidate stage of [[fuzzyPairs]] (pre-verify, duplicates
    * retained): the ONE implementation of both filter arms; SCALE.md
    * round 16 records its growth law at ×1/×10/×100.
    *
    * `blockCol` is standard ER blocking: only pairs agreeing on the
    * block key are candidates — the equality joins gain the block as
    * a key conjunct, so candidate volume divides by the number of
    * blocks BEFORE any row materializes (never a post-hoc filter).
    * The gram-rarity order for the prefix arm stays GLOBAL (the
    * prefix lemma is indifferent to extra join conjuncts — adding a
    * conjunct only removes candidates that verification would reject
    * anyway, as cross-block pairs are out of scope by definition). */
  private def fuzzyCandidates(df: DataFrame, strCol: String,
                                     maxDist: Int, q: Int,
                                     prefixFilter: Boolean,
                                     blockCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDist >= 1, "need maxDist >= 1")
    require(q >= 2, "need q >= 2")
    val blockSel = blockCol.toSeq.map(b => col(b).as("blk"))
    val allNames = df.select(col(strCol).as("name") +: blockSel: _*)
      .na.drop().distinct()
    // completeness guard: below q*(k+1) chars the surviving-gram
    // lower bound can reach 0 and a qualifying pair may share no
    // gram at all — such strings take the brute-force arm below
    val thresh = q * (maxDist + 1)
    val names = allNames.filter(length(col("name")) >= thresh)
    val blkCols = blockCol.toSeq.map(_ => col("blk"))
    val grams = names
      .select((col("name") +: blkCols) :+
        explode(sequence(lit(1), length(col("name")) - lit(q - 1))).as("pos"): _*)
      .select((col("name") +: blkCols) ++ Seq(col("pos"),
        col("name").substr(col("pos"), lit(q)).as("g")): _*)
    val lenBand = abs(length(col("a.name")) - length(col("b.name"))) <= maxDist
    val ordered = col("a.name") < col("b.name")
    val blkEq = blockCol.map(_ => col("a.blk") === col("b.blk")).getOrElse(lit(true))
    val outCols = Seq(col("a.name").as("name_a"), col("b.name").as("name_b")) ++
      blockCol.map(b => col("a.blk").as(b))
    // NOTE: no distinct between candidate generation and verification —
    // the levenshtein filter runs map-side on the (duplicated) join
    // output and the final distinct exchanges only MATCHES. On a
    // low-entropy key corpus the candidate relation is 20-40× the
    // match set (measured at sf0.1, SCALE.md r16): deduping first
    // would shuffle every candidate pair to save re-running a ~100 ns
    // codegen kernel — the wrong side of the trade at any scale.
    // parallelism pin: the gram/prefix relations are tiny (names ×
    // name-length rows) but the candidate join OUTPUT explodes to
    // Σ_key cnt² — AQE coalesces the small upstream shuffles to ~1
    // partition and serializes the explosion (measured at sf0.1:
    // 70 s single-task vs 9 s at 32, SCALE.md round 16). An explicit-count
    // repartition on the join keys is exempt from AQE coalescing and
    // spreads the probe side; the exchange itself carries only the
    // tiny relation.
    val joinPar = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val cand =
      if (!prefixFilter) {
        val gramsPart = grams.repartition(joinPar, col("g") +: blkCols: _*)
        gramsPart.as("a").join(gramsPart.as("b"),
            col("a.g") === col("b.g") && blkEq &&
              abs(col("a.pos") - col("b.pos")) <= maxDist &&
              ordered && lenBand)
          .select(outCols: _*)
      } else {
        // occurrence index per (name, gram value): the i-th occurrence
        // of g in s can only match the i-th occurrence of g in t under
        // the canonical multiset matching, turning multiset overlap
        // into set intersection over (g, occ) elements. Window is per
        // (name [, block], gram) — bounded by string length.
        val withOcc = grams.withColumn("occ",
          row_number().over(Window
            .partitionBy(col("name") +: blkCols :+ col("g"): _*).orderBy("pos")))
        val counts = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
        val countsR = if (q <= 2) broadcast(counts) else counts
        val pref = withOcc.join(countsR, Seq("g"))
          .groupBy(col("name") +: blkCols: _*)
          .agg(slice(array_sort(collect_list(struct(col("cnt"), col("g"),
            col("occ")))), 1, q * maxDist + 1).as("pf"))
          .select((col("name") +: blkCols) :+ explode(col("pf")).as("e"): _*)
          .select((col("name") +: blkCols) ++
            Seq(col("e.g").as("g"), col("e.occ").as("occ")): _*)
        val prefPart = pref.repartition(joinPar,
          Seq(col("g"), col("occ")) ++ blkCols: _*)
        prefPart.as("a").join(prefPart.as("b"),
            col("a.g") === col("b.g") && col("a.occ") === col("b.occ") &&
              blkEq && ordered && lenBand)
          .select(outCols: _*)
      }
    // sub-threshold arm via deletion neighborhoods (FastSS, Bocek et
    // al. 2007): a pair with a side shorter than q*(k+1) may share no
    // gram, so the gram joins can't see it — but if ed(s,t) <= k,
    // an optimal alignment's matched characters survive deleting
    // <= k positions from EACH side, so s and t share a <=k-deletion
    // variant and an EQUI-join on variant strings is complete. The
    // bucket is every string short enough to pair with a sub-threshold
    // one (len < thresh + maxDist, the length band's reach), where
    // variant counts are bounded by construction (len <= q(k+1)+k-1,
    // so Σ C(len,i) is a small constant per string) — candidates hash-
    // join on variant keys like the gram arms, never a broadcast
    // nested loop over the bucket (r17 review: a corpus DOMINATED by
    // short strings would have made the nested-loop form quadratic
    // with an unbounded broadcast). A pair may share several variants
    // (duplicate candidates, absorbed by the verify-then-distinct
    // contract above); pairs with both sides >= thresh are double-
    // covered with the gram arms, absorbed the same way.
    val shortBucket = allNames.filter(length(col("name")) < thresh + maxDist)
    def delOnce(arr: Column): Column =
      array_distinct(flatten(transform(arr, s =>
        when(length(s) <= 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), length(s)),
            i => concat(s.substr(lit(1), i - 1),
              s.substr(i + 1, length(s))))))))
    val variants = {
      var lvl = array(col("name"))
      var all = lvl
      for (_ <- 1 to maxDist) { lvl = delOnce(lvl); all = concat(all, lvl) }
      array_distinct(all)
    }
    val shortVar = shortBucket
      .select((col("name") +: blkCols) :+ explode(variants).as("__v"): _*)
      .repartition(joinPar, col("__v") +: blkCols: _*) // same AQE pin as the gram arms
    val brute = shortVar.as("a").join(shortVar.as("b"),
        col("a.__v") === col("b.__v") && blkEq && ordered && lenBand)
      .select(outCols: _*)
    cand.unionByName(brute)
  }

  def exactSubstringDedup(docs: DataFrame, idCol: String, textCol: String,
                          L: Int, hashKeys: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(L >= 2, "need L >= 2")
    val base = docs.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val gramCol = col("__t").substr(col("__p"), lit(L))
    val grams = base.filter(length(col("__t")) >= L)
      .select(col("__id"), col("__t"),
        explode(sequence(lit(1), length(col("__t")) - lit(L - 1))).as("__p"))
      .select(col("__id"), col("__p"),
        (if (hashKeys) xxhash64(gramCol) else gramCol).as("__g"))
    // canonical = lexicographic min (doc, pos): min doc id, then min
    // position within that doc — one struct-min hash aggregate
    val canon = grams.groupBy("__g")
      .agg(min(struct(col("__id"), col("__p"))).as("__c"))
    val marks = grams.join(canon, Seq("__g"))
      .filter(!(col("__id") === col("__c.__id") && col("__p") === col("__c.__p")))
      .select(col("__id"), col("__p").as("__s"),
        (col("__p") + lit(L)).as("__e"))
    // merge overlapping/adjacent intervals per doc — gaps-and-islands
    // over a PER-DOC window (peak rows per doc <= doc length)
    val w = Window.partitionBy("__id").orderBy(col("__s"), col("__e"))
    val spans = marks
      .withColumn("__maxe", max(col("__e"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__maxe").isNull || col("__s") > col("__maxe"), 1L)
          .otherwise(0L))
      .withColumn("__grp", sum(col("__new")).over(w))
      .groupBy("__id", "__grp")
      .agg(min("__s").as("__s"), max("__e").as("__e"))
    // rebuild kept text: the segment BEFORE each span (from the
    // previous span's end, or 1) plus the tail after the last span
    val ws = Window.partitionBy("__id").orderBy(col("__s"))
    val heads = spans
      .withColumn("__fs", coalesce(lag(col("__e"), 1).over(ws), lit(1)))
      .select(col("__id"), col("__fs"), col("__s").as("__fe"))
    val tails = spans.groupBy("__id").agg(max("__e").as("__fs"))
      .join(base, Seq("__id"))
      .select(col("__id"), col("__fs"),
        (length(col("__t")) + 1).as("__fe"))
    val perDoc = heads.unionByName(tails)
      .join(base, Seq("__id"))
      .select(col("__id"),
        struct(col("__fs"),
          col("__t").substr(col("__fs"), col("__fe") - col("__fs")).as("__seg"))
          .as("__fseg"))
      .groupBy("__id")
      .agg(array_join(transform(array_sort(collect_list(col("__fseg"))),
          x => x.getField("__seg")), "").as("clean_text"))
      .join(spans.groupBy("__id")
        .agg(count(lit(1)).cast("int").as("n_spans"),
          sum(col("__e") - col("__s")).cast("int").as("chars_removed")),
        Seq("__id"))
    base.join(perDoc, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        coalesce(col("chars_removed"), lit(0)).as("chars_removed"),
        coalesce(col("clean_text"), col("__t")).as("clean_text"))
  }
}
