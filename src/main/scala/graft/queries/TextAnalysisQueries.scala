package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextAnalysisFunctions._
import graft.functions.MultimodalFunctions._

/** Text-analysis + multimodal-plumbing queries over `documents`. */
object TextAnalysisQueries {

  /** Shared winnowing fingerprint extraction (k=8, w=4), memoized per
    * scale dir: x18 (per-doc stats) and x18b (pairwise index) both
    * consume it, so within one Verify/Bench pass the char-explode +
    * window chain — the dominant cost of both queries — runs once
    * (measured ~1.35× on the pair, BENCH.md round 10). Freed at the
    * end of every pass, so each bench pass still pays its own
    * materialization. */
  private def winnowFpsShared(s: SparkSession, d: String): DataFrame =
    graft.DfMemo.persisted("winnow_fps", d, s)(
      winnowFps(documents(s, d), "doc_id", "text", k = 8, w = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Language-ID heuristic: stopword-profile voting per document,
    // summarized against the stored label.
    "x1_langid" -> ((s, d) => {
      documents(s, d)
        .select(col("lang"), langIdGuess(col("text")).as("guess"))
        .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
        .orderBy("lang", "guess")
    }),

    // Quality scoring: composite of token-length / diversity /
    // punctuation / digit signals, one scan.
    "x2_quality" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), round(qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // Token statistics: whitespace and BPE-ish sub-token counts +
    // lexical diversity.
    "x3_token_stats" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          wsTokenCount(col("text")).as("ws_tokens"),
          regexTokenCount(col("text")).as("sub_tokens"),
          round(typeTokenRatio(col("text")), 6).as("ttr"))
        .orderBy("doc_id")
    }),

    // Bigram collocations by lift (PMI = ln(lift), same ranking; the
    // gated ratio avoids cross-engine libm drift): top-50 bigrams at
    // min count 5, one zip-with pass + two wordcount groupBys +
    // TakeOrdered — no window, no global sort.
    "x51_collocations" -> ((s, d) => {
      collocations(documents(s, d), "text", minCount = 5, topK = 50)
    }),

    // Document fingerprinting: normalized content hash + min-8-gram
    // rolling-hash fingerprint.
    "x4_fingerprint" -> ((s, d) => {
      import graft.functions.DedupFunctions.contentHash
      documents(s, d)
        .select(col("doc_id"),
          contentHash(col("text")).as("content_hash"),
          minGramFingerprint(col("text"), 8).as("min_gram_hash"))
        .orderBy("doc_id")
    }),

    // A3: per-class precision/recall/F1 of the langid heuristic against
    // the stored labels (confusion counts -> arithmetic finalization).
    "x7_class_report" -> ((s, d) => {
      graft.prep.Metrics.classificationReport(
        documents(s, d).select(col("lang"), langIdGuess(col("text")).as("guess")),
        "lang", "guess")
        .select(col("cls"), col("support"), col("predicted"), col("tp"),
          col("precision").as("prec"), col("recall").as("rec"), col("f1"))
        .orderBy("cls")
    }),

    // Document chunking: overlapping 200-char windows every 150 chars.
    "x9_chunks" -> ((s, d) => {
      graft.functions.TextFunctions.chunkText(
        documents(s, d), "doc_id", "text", size = 200, stride = 150)
        .select(col("doc_id"), col("chunk_no"),
          length(col("chunk")).as("chunk_len"), md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_no")
    }),

    // PII-style scrubbing: digit runs collapsed to a redaction mark —
    // the map-only sanitization stage of a curation pipeline; the md5
    // of the redacted text pins the exact replacement semantics.
    "x12_redact" -> ((s, d) => {
      val redacted = regexp_replace(col("text"), "[0-9]{2,}", "#")
      documents(s, d).select(col("doc_id"),
        md5(redacted).as("redacted_md5"),
        (length(col("text")) - length(redacted)).cast("int").as("chars_removed"))
        .orderBy("doc_id")
    }),

    // Multimodal plumbing: binary payload column → partition-batched
    // STUB decode → deterministic features (schema/batching real,
    // codec faked; see MultimodalFunctions).
    "x5_multimodal_decode" -> ((s, d) => {
      val withPayload = documents(s, d)
        .select(col("doc_id"), asPayload(col("text")).as("payload"))
      val decoded = fakeFeaturesForTesting(withPayload, "doc_id", "payload")
      // flatten the feature vector into scalar columns: the gate's
      // comparator sorts rows by every column, which list cells break
      val featCols = (1 to 8).map(i => element_at(col("feat"), i).as(s"f$i"))
      decoded.select((Seq(col("doc_id"), col("byte_len")) ++ featCols): _*)
        .orderBy("doc_id")
    }),

    // REAL media decode: synthesize valid BMP (even doc_id) / WAV (odd)
    // payloads from pure hex expressions — header fields derived from
    // doc_id — then recover the fields by actually parsing the bytes in
    // decodeMedia. The oracle predicts the fields from the same doc_id
    // formulas WITHOUT parsing, so equality proves the byte-level parse
    // round-trips the synthesis.
    "x5b_media_decode" -> ((s, d) => {
      def b1(c: org.apache.spark.sql.Column) = lpad(hex(c), 2, "0") // 1 LE byte
      def le2(c: org.apache.spark.sql.Column) = {                   // 2 LE bytes
        val hx = lpad(hex(c), 4, "0")
        concat(substring(hx, 3, 2), substring(hx, 1, 2))
      }
      val w = col("doc_id") % 64 + 16    // < 256: one byte
      val h = col("doc_id") % 32 + 9
      val rate = (col("doc_id") % 8) * 100 + 8000 // < 65536: two bytes
      val ch = expr("CAST((doc_id % 4 + 1) / 2 AS INT)") // odd ids: 1 or 2
      val bmpHex = concat(lit("424D460000000000000036000000" + "28000000"),
        b1(w), lit("000000"), b1(h), lit("000000"), lit("0100" + "1800"),
        lit("00" * 24 + "AA" * 12))
      val wavHex = concat(lit("52494646" + "24080000" + "57415645" + "666D7420" +
          "10000000" + "0100"),
        b1(ch), lit("00"), le2(rate), lit("0000"),
        lit("00000000" + "0400" + "1000" + "64617461" + "00080000" + "00" * 16))
      val payloads = documents(s, d).select(col("doc_id"),
        unhex(when(col("doc_id") % 2 === 0, bmpHex).otherwise(wavHex)).as("payload"))
      decodeMedia(payloads, "doc_id", "payload").orderBy("doc_id")
    }),

    // All four codec-free formats through the same header-decode
    // expression: BMP/WAV (as x5b) plus PNG (IHDR: big-endian
    // width/height at 16/20, bit depth at 24) and JPEG (SOF0 marker
    // walk: precision, BE height/width, component count). Payloads are
    // synthesized from doc_id-derived hex; the oracle predicts every
    // field WITHOUT parsing, so equality proves the byte-level walk.
    "x5c_media_decode_all" -> ((s, d) => {
      def b1(c: org.apache.spark.sql.Column) = lpad(hex(c), 2, "0")  // 1 byte
      def le2(c: org.apache.spark.sql.Column) = {                    // 2 LE bytes
        val hx = lpad(hex(c), 4, "0")
        concat(substring(hx, 3, 2), substring(hx, 1, 2))
      }
      def be2(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0") // 2 BE bytes
      def be4(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0") // 4 BE bytes
      val w = col("doc_id") % 64 + 16
      val h = col("doc_id") % 32 + 9
      val rate = (col("doc_id") % 8) * 100 + 8000
      val bmpHex = concat(lit("424D460000000000000036000000" + "28000000"),
        b1(w), lit("000000"), b1(h), lit("000000"), lit("0100" + "1800"),
        lit("00" * 24 + "AA" * 12))
      val wavHex = concat(lit("52494646" + "24080000" + "57415645" + "666D7420" +
          "10000000" + "0100" + "0100"),
        le2(rate), lit("0000"),
        lit("00000000" + "0400" + "1000" + "64617461" + "00080000" + "00" * 16))
      val pngHex = concat(
        lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        be4(w), be4(h), lit("08" + "02" + "00" + "00" + "00" + "00000000"))
      val jpgHex = concat(
        lit("FFD8" + "FFE0" + "0010" + "4A46494600" + "0101" + "00" +
          "00010001" + "0000" + "FFC0" + "0011" + "08"),
        be2(h), be2(w), lit("03" + "011100" + "021100" + "031100" + "FFD9"))
      val m = col("doc_id") % 4
      val payloads = documents(s, d).select(col("doc_id"),
        unhex(when(m === 0, bmpHex).when(m === 1, wavHex)
          .when(m === 2, pngHex).otherwise(jpgHex)).as("payload"))
      decodeMedia(payloads, "doc_id", "payload").orderBy("doc_id")
    }),

    // REAL image pixel decode (javax.imageio — JDK-built-in, no
    // external codec): synthesize an 8×8 RGB image per document whose
    // pixel values follow a pure doc_id formula, PNG-encode it
    // (lossless) with ImageIO, then RE-DECODE the bytes with
    // decodeImageFeatures and emit width/height/channel means. The
    // oracle computes the same means straight from the formula WITHOUT
    // any image machinery — equality proves the decode recovered every
    // pixel exactly through a genuine PNG encode/decode round-trip.
    "x5d_image_decode" -> ((s, d) => {
      val spark = s
      val ids = documents(s, d).select(col("doc_id").cast("long"))
      val payloads = spark.createDataFrame(
        ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val rgb = Array.tabulate(64) { p =>
              val x = p % 8; val y = p / 8
              def ch(c: Int) = (((id * 37 + x * 3 + y * 11 + c * 101) % 256)
                + 256) % 256
              (ch(0).toInt << 16) | (ch(1).toInt << 8) | ch(2).toInt
            }
            org.apache.spark.sql.Row(id, encodePng(8, 8, rgb))
          }
        },
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("payload",
            org.apache.spark.sql.types.BinaryType, nullable = false))))
      decodeImageFeatures(payloads, "doc_id", "payload").orderBy("doc_id")
    }),

    // LEARNED language-ID (COVERAGE r18 build decision): fastText-
    // style multi-class — five one-vs-rest linear heads over hashed
    // char-3-gram mean features (LangIdModel; weights trained by the
    // repo Trainer on an in-code multilingual fixture, pinned with
    // retrain bit-equality), prediction = argmax with alphabetical
    // tie-break. The corpus's stored `lang` label is signal-free
    // (same vocabulary per class), so NO accuracy-vs-label is
    // claimed; what the oracle gates is the full scoring pass —
    // five integer-micro kernel walks + the argmax — bit-for-bit.
    "x53_langid_learned" -> ((s, d) => {
      import graft.functions.LangIdModel
      documents(s, d)
        .select(col("doc_id"), LangIdModel.predict(col("text")).as("__p"))
        .select(col("doc_id"),
          col("__p").getField("lang").as("pred_lang"),
          (col("__p").getField("m").cast("double") / lit(1e6)).as("score"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition quality stats: most-frequent-word /
    // most-frequent-bigram fractions + repeated-trigram occupancy, the
    // boilerplate/spam filters of a curation pipeline. One scan, two
    // map-side-combined hash aggs.
    "x13_repetition" -> ((s, d) => {
      repetitionStats(documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Winnowing fingerprints (MOSS): char-8-gram hashes, window-4
    // minima, distinct — order-independent integer checksum pins the
    // exact fingerprint set per doc.
    "x18_winnowing" -> ((s, d) => {
      winnowingFingerprintsFromFps(winnowFpsShared(s, d), "doc_id")
        .orderBy("doc_id")
    }),

    // MOSS candidate pairs over the same fingerprints: docs sharing
    // >= 2 winnowing fingerprints, boilerplate capped at df <= 16 —
    // the pairwise plagiarism/local-dedup primitive winnowing feeds.
    // Shares one persisted fingerprint extraction with x18
    // (winnowFpsShared) — the char-explode chain runs once per pass.
    "x18b_winnowing_pairs" -> ((s, d) => {
      winnowingPairsFromFps(winnowFpsShared(s, d), minShared = 2, maxDf = 16)
        .orderBy("a", "b")
    }),

    // Bigram-LM perplexity scoring (the CCNet-style quality filter):
    // corpus-trained add-0.5 LM, per-doc mean logprob + perplexity.
    // Logprobs are fixed-pointed to integer micros and long-summed, so
    // the per-doc mean is fold-order-independent (lmPerplexity
    // scaladoc) — the oracle reproduces it bit-for-bit.
    "x19_lm_perplexity" -> ((s, d) => {
      lmPerplexity(documents(s, d), "doc_id", "text", alpha = 0.5)
        .orderBy("doc_id")
    }),

    // Trigram-order LM (context = 2 preceding tokens — the step
    // toward CCNet's 5-gram production filter; only the join key
    // widens, the plan shape is order-independent).
    "x22_lm_trigram" -> ((s, d) => {
      lmPerplexityN(documents(s, d), "doc_id", "text", n = 3, alpha = 0.5)
        .orderBy("doc_id")
    }),

    // Stupid-backoff trigram LM (Brants et al. 2007) in the x20
    // cross-corpus deployment: LM counts from the even-id half, the
    // odd-id half scored. The even/odd split makes all THREE backoff
    // levels fire — seen trigrams score as raw ratios, unseen
    // trigrams with seen bigrams take one 0.4 step, the rest land on
    // the 0.4²·add-α unigram floor.
    "x54_lm_stupid_backoff" -> ((s, d) => {
      val docs = documents(s, d)
      lmStupidBackoffAgainst(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Moses-style sentence segmentation over punctuated text
    // synthesized deterministically from each doc (the x45/x48
    // fixture-synthesis precedent — the raw corpus has no sentence
    // punctuation): protected prefix (Dr.), plain boundary, quoted
    // sentence, decimal non-boundary, and a multi-space gap all fire.
    "x55_sentences" -> ((s, d) => {
      val syn = documents(s, d).selectExpr("doc_id",
        "concat('Dr. ', upper(substring(text,1,1)), substring(text,2,29), " +
          "'. ', upper(substring(text,32,1)), substring(text,33,29), " +
          "'! \"', upper(substring(text,63,1)), substring(text,64,19), " +
          "'?\" Costs 3.5 now.  ', upper(substring(text,84,1)), " +
          "substring(text,85,14), '.') AS text")
      sentenceSplit(syn, "doc_id", "text")
        .orderBy("doc_id", "sent_idx")
    }),

    // Cross-corpus perplexity (the real CCNet deployment): LM trained
    // on the even-id half (the "trusted reference"), the odd-id half
    // scored against it — unseen bigrams fall back to the smoothed
    // floor via left joins.
    "x20_lm_cross_perplexity" -> ((s, d) => {
      val docs = documents(s, d)
      lmPerplexityAgainst(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", alpha = 0.5)
        .orderBy("doc_id")
    }),

    // Payload byte-histogram entropy: the codec-free media pre-filter
    // (compressed/encrypted vs structured payloads), pure SQL
    // expressions, micro-fixed-point determinism.
    "x21_payload_entropy" -> ((s, d) => {
      payloadEntropy(
        documents(s, d).select(col("doc_id"), asPayload(col("text")).as("payload")),
        "doc_id", "payload")
        .orderBy("doc_id")
    }),

    // Multimodal frame sampling: every 2nd 64-byte window of the
    // payload as a frame row (video frame-sample plumbing).
    "x6_frame_sample" -> ((s, d) => {
      val withPayload = documents(s, d)
        .select(col("doc_id"), asPayload(col("text")).as("payload"))
      sampleFrames(withPayload, "doc_id", "payload", frameBytes = 64, stride = 2)
        .select(col("doc_id"), col("frame_no"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_no")
    }),

    // BM25 top-k retrieval: three fixed queries (one rare term, two
    // all-common) over the corpus; postings-sized shuffles + the
    // bounded_topk heap rerank; micro-fixed-point scoring for exact
    // cross-engine parity.
    "x23_bm25" -> ((s, d) => {
      graft.functions.SearchFunctions.bm25TopK(documents(s, d),
          "doc_id", "text", bm25Queries, k = 10)
        .orderBy("qid", "rank")
    }),

    // Hybrid retrieval: BM25 lexical ranks fused with cosine-to-anchor
    // dense ranks by reciprocal-rank fusion (integer-micro RRF terms,
    // exact long sums). "Keywords + more-like-this-doc" workload; the
    // vec_id ↔ doc_id fixture alignment supplies the doc embeddings.
    "x27_hybrid_rrf" -> ((s, d) => {
      graft.functions.SearchFunctions.hybridRrfTopK(
          documents(s, d), "doc_id", "text",
          embeddings(s, d), "vec_id", "embedding",
          hybridQueries, k = 10)
        .orderBy("qid", "rank")
    }),

    // Hybrid retrieval, SCORE-normalization fusion (the x27 workload
    // under the other standard fusion family): each side's top-50
    // micro-score list is min-max- and z-score-normalized, fused
    // 0.5/0.5, both modes emitted. List stats are exact long sums so
    // the only doubles are the pinned-order normalization
    // expressions — see SearchFunctions.hybridNormTopK.
    "x41_hybrid_norm" -> ((s, d) => {
      graft.functions.SearchFunctions.hybridNormTopK(
          documents(s, d), "doc_id", "text",
          embeddings(s, d), "vec_id", "embedding",
          hybridQueries, k = 10)
        .orderBy("qid", "mode", "rank")
    }),

    // MMR diversification over the dense candidates (the x27/x41
    // anchors): greedy λ=0.7 selection of 10 from the cosine top-20,
    // every score an exact long (70·rel − 30·maxSim in micros), the
    // whole greedy ONE declarative HOF fold per query row. The oracle
    // replays the greedy move-for-move as a recursive CTE.
    "x42_mmr_diversify" -> ((s, d) => {
      graft.functions.SearchFunctions.mmrRerank(
          embeddings(s, d), "vec_id", "embedding",
          hybridQueries.map(q => (q._1, q._3)), k = 10, candN = 20)
        .orderBy("qid", "rank")
    }),

    // Image average-hash over REAL pixel decode: each doc gets a
    // synthesized 8×8 24-bpp BMP whose 192 pixel bytes derive from
    // doc_id ((doc_id·7 + idx·13) mod 256), the native kernel
    // box-downsamples (identity at 8×8) and thresholds integer luma
    // sums against the global mean — and the oracle replicates the
    // bit arithmetic in SQL without parsing a byte, so equality proves
    // the pixel walk (row order, BGR offsets, bit packing) exactly.
    "x34_image_ahash" -> ((s, d) => {
      val hdrHex = "424DF600000000000000360000002800000008000000" +
        "080000000100180000000000C0000000" + "00" * 16
      val pixels = concat_ws("", transform(sequence(lit(0), lit(191)),
        i => lpad(hex((col("doc_id") * 7 + i * 13) % 256), 2, "0")))
      documents(s, d)
        .select(col("doc_id"),
          unhex(concat(lit(hdrHex), pixels)).as("payload"))
        .select(col("doc_id"),
          lpad(hex(graft.expressions.MediaExpressions.image_ahash64(
            col("payload"))), 16, "0").as("ahash"))
        .orderBy("doc_id")
    }),

    // Audio energy-contour hash over REAL PCM decode — the x34
    // discipline on WAV: 64 signed-16-bit samples per doc from a
    // doc_id formula, the kernel walks RIFF chunks, decodes LE
    // samples, thresholds window |sample| means against the stream
    // mean; the oracle predicts every bit from the formula (two's
    // complement abs included) without parsing a byte.
    "x35_audio_hash" -> ((s, d) => {
      val hdrHex = "52494646A400000057415645" +
        "666D742010000000" + "0100" + "0100" + "401F0000" + "803E0000" +
        "0200" + "1000" + "6461746180000000"
      val pcm = concat_ws("", transform(sequence(lit(0), lit(63)), i => {
        val v = (col("doc_id") * 31 + i * 97) % 65536
        concat(lpad(hex(v % 256), 2, "0"),
          lpad(hex(shiftright(v, 8)), 2, "0"))
      }))
      documents(s, d)
        .select(col("doc_id"), unhex(concat(lit(hdrHex), pcm)).as("payload"))
        .select(col("doc_id"),
          lpad(hex(graft.expressions.MediaExpressions.audio_hash64(
            col("payload"))), 16, "0").as("ehash"))
        .orderBy("doc_id")
    }),

    // Video fingerprinting = the composition of the two real media
    // paths: each doc's "video" payload is 4 concatenated 8×8 BMP
    // frames (246 bytes each, frame f's pixels keyed by (doc_id, f)),
    // sampleFrames cuts the payload into frames IN-PLAN (x6's
    // keyframe plumbing), and image_ahash64 hashes each frame — one
    // row per (doc, frame) with its perceptual hash, the per-frame
    // near-dup input at scale. The oracle predicts all 4 hashes per
    // doc from the byte formula, proving the frame slicing and the
    // pixel walk together.
    "x36_video_fingerprint" -> ((s, d) => {
      val hdrHex = "424DF600000000000000360000002800000008000000" +
        "080000000100180000000000C0000000" + "00" * 16
      val video = concat_ws("", transform(sequence(lit(0), lit(3)), f =>
        concat(lit(hdrHex), concat_ws("", transform(sequence(lit(0), lit(191)),
          i => lpad(hex((col("doc_id") * 7 + f * 41 + i * 13) % 256), 2, "0"))))))
      val payloads = documents(s, d)
        .select(col("doc_id"), unhex(video).as("payload"))
      sampleFrames(payloads, "doc_id", "payload", frameBytes = 246, stride = 1)
        .select(col("doc_id"), col("frame_no"),
          lpad(hex(graft.expressions.MediaExpressions.image_ahash64(
            col("frame"))), 16, "0").as("ahash"))
        .orderBy("doc_id", "frame_no")
    }),

    // Image near-dup pairs, exact-verified: each doc gets an 8×8 BMP
    // with md5-DERIVED pixel bytes (decorrelated — unrelated docs sit
    // ~32 bits apart, so near-dups are sparse, like real images; the
    // first x39 draft used a linear-in-doc_id formula whose constant
    // luma shifts made EVERYTHING a near-dup — 57k pairs and the
    // suite's most expensive query); docs re-keyed +100000 get a CLONE
    // of their base image with pixel byte 0 nudged (+2 mod 256) —
    // hamming 0 or 1 from the base. ahashNearDuplicates (8-byte
    // banding + popcount verify) must find exactly the pairs a
    // brute-force hamming scan over the oracle-computed hashes finds;
    // any coincidental pair is deterministic on both sides, so
    // equality is exact.
    "x39_image_neardup" -> ((s, d) => {
      graft.functions.MultimodalFunctions.ahashNearDuplicates(
          x39Images(s, d), "doc_id", "payload", maxHamming = 7)
        .orderBy("a", "b")
    }),

    // The same fixture through the at-scale band dial: 4 bands of 16
    // bits (2¹⁶ buckets per band vs 2⁸ — the SCALE.md-measured ~500×
    // candidate cut) with the matching pigeonhole-complete radius
    // hamming ≤ 3. The planted clones sit at hamming ≤ 1, so the
    // brute-force oracle at threshold 3 must match exactly — equality
    // proves completeness of the wider banding, not just the default.
    "x39b_image_neardup_wideband" -> ((s, d) => {
      graft.functions.MultimodalFunctions.ahashNearDuplicates(
          x39Images(s, d), "doc_id", "payload", maxHamming = 3, bands = 4)
        .orderBy("a", "b")
    })
  )

  /** x39's image fixture: each doc an 8×8 BMP with md5-derived pixel
    * bytes (decorrelated — unrelated docs sit ~32 bits apart, so
    * near-dups are sparse, like real images; a linear-in-doc_id
    * formula made EVERYTHING a near-dup — 57k pairs); docs re-keyed
    * +100000 get a CLONE of their base image with pixel byte 0 nudged
    * (+2 mod 256) — hamming 0 or 1 from the base. */
  private def x39Images(s: SparkSession, d: String): DataFrame = {
    val hdrHex = "424DF600000000000000360000002800000008000000" +
      "080000000100180000000000C0000000" + "00" * 16
    // 12 md5 blocks of 16 pixel bytes each (192 bytes = 384 hex
    // chars) — a per-BYTE md5 formulation costs 16× the lambda
    // evaluations and measured 6.6 s at sf0.1 on synthesis alone
    def pixels(base: org.apache.spark.sql.Column, nudge: Boolean) = {
      val blocks = concat_ws("", transform(sequence(lit(0), lit(11)),
        b => md5(concat_ws("_", base, b))))
      if (!nudge) blocks
      else concat( // nudge pixel byte 0: first hex pair + 2 mod 256
        lpad(hex((conv(substring(blocks, 1, 2), 16, 10).cast("long") + 2)
          % 256), 2, "0"),
        substring(blocks, 3, 382))
    }
    val base = documents(s, d).select(col("doc_id"),
      unhex(concat(lit(hdrHex), pixels(col("doc_id"), nudge = false)))
        .as("payload"))
    // payload from the ORIGINAL doc_id in its own select — aliasing
    // doc_id+100000 as "doc_id" in the same select would shadow the
    // input column via lateral column alias resolution, silently
    // building every clone from the wrong base (caught by the
    // oracle: 110-pair drift at the gate)
    val clones = documents(s, d)
      .select(col("doc_id"),
        unhex(concat(lit(hdrHex), pixels(col("doc_id"), nudge = true)))
          .as("payload"))
      .select((col("doc_id") + 100000L).as("doc_id"), col("payload"))
    base.unionByName(clones)
  }

  /** x27 workload: the x23 keyword sets, each with an anchor document
    * for the dense "more like this" side. */
  private val hybridQueries: Seq[(Int, String, Long)] =
    Seq((0, "dup join", 7L), (1, "hash agg scan", 42L),
      (2, "vector query batch", 123L))

  /** Fixed retrieval workload for x23: `dup` is the one rare corpus
    * term (df ≈ 5% of docs), the rest are near-ubiquitous — exercises
    * both the discriminative-idf and the length-normalization-
    * dominated regimes. */
  private val bm25Queries: Seq[(Int, String)] =
    Seq((0, "dup join"), (1, "hash agg scan"), (2, "vector query batch"))

  /** Hex-digit value at 1-based position i of md5(text) — DuckDB-side
    * helper fragment used by the multimodal oracle. */
  private def hexDigit(pos: String): String =
    s"(strpos('0123456789abcdef', substr(md5(text), $pos, 1)) - 1)"

  def oracles: Map[String, String] = Map(
    "x1_langid" -> {
      val hitExprs = stopwordProfiles.map { case (lang, words) =>
        val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"struct_pack(hits := len(list_filter(string_split(text, ' '), t -> list_contains($arr, t))), lang := '$lang')"
      }.mkString(",\n    ")
      s"""WITH g AS (
         |  SELECT lang,
         |    list_reduce(list_prepend(struct_pack(hits := 0, lang := 'und'), [
         |    $hitExprs
         |    ]), (acc, h) -> CASE WHEN h.hits > acc.hits THEN h ELSE acc END) AS w
         |  FROM documents)
         |SELECT lang, CASE WHEN w.hits > 0 THEN w.lang ELSE 'und' END AS guess,
         |  COUNT(*) AS n
         |FROM g GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin
    },
    "x7_class_report" -> {
      val hitExprs = stopwordProfiles.map { case (lang, words) =>
        val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"struct_pack(hits := len(list_filter(string_split(text, ' '), t -> list_contains($arr, t))), lang := '$lang')"
      }.mkString(",\n    ")
      s"""WITH g AS (
         |  SELECT lang,
         |    list_reduce(list_prepend(struct_pack(hits := 0, lang := 'und'), [
         |    $hitExprs
         |    ]), (acc, h) -> CASE WHEN h.hits > acc.hits THEN h ELSE acc END) AS w
         |  FROM documents),
         | preds AS (
         |  SELECT lang AS label, CASE WHEN w.hits > 0 THEN w.lang ELSE 'und' END AS prediction
         |  FROM g),
         | cm AS (SELECT label, prediction, COUNT(*) AS n FROM preds GROUP BY 1, 2),
         | bl AS (SELECT label AS cls, CAST(SUM(n) AS BIGINT) AS support FROM cm GROUP BY 1),
         | bp AS (SELECT prediction AS cls, CAST(SUM(n) AS BIGINT) AS predicted FROM cm GROUP BY 1),
         | tpt AS (SELECT label AS cls, n AS tp FROM cm WHERE label = prediction),
         | j AS (
         |  SELECT cls, COALESCE(support, 0) AS support,
         |    COALESCE(predicted, 0) AS predicted, COALESCE(tp, 0) AS tp
         |  FROM bl FULL OUTER JOIN bp USING (cls) LEFT JOIN tpt USING (cls)),
         | r AS (
         |  SELECT cls, support, predicted, tp,
         |    CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE) ELSE 0.0 END AS prec,
         |    CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) ELSE 0.0 END AS rec
         |  FROM j)
         |SELECT cls, support, predicted, tp, prec, rec,
         |  CASE WHEN prec + rec > 0.0 THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
         |FROM r ORDER BY cls""".stripMargin
    },
    "x9_chunks" ->
      """WITH c AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(0, greatest(CAST(floor((length(text) - 1) / 150) AS INT), 0)),
        |    i -> struct_pack(chunk_no := i, chunk := substr(text, CAST(i * 150 + 1 AS INT), 200)))) AS s
        |  FROM documents)
        |SELECT doc_id, CAST(s.chunk_no AS INT) AS chunk_no,
        |  CAST(length(s.chunk) AS INT) AS chunk_len, md5(s.chunk) AS chunk_md5
        |FROM c WHERE length(s.chunk) > 0
        |ORDER BY doc_id, chunk_no""".stripMargin,
    "x12_redact" ->
      """SELECT doc_id,
        |  md5(regexp_replace(text, '[0-9]{2,}', '#', 'g')) AS redacted_md5,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]{2,}', '#', 'g')) AS INT) AS chars_removed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x2_quality" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
        |    CAST(length(text) AS DOUBLE) AS nchar,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS ndistinct,
        |    CAST(len(string_split_regex(text, '[\.,;:!?]')) AS DOUBLE) - 1.0 AS punct,
        |    CAST(length(text) AS DOUBLE) - CAST(length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        |  FROM documents)
        |SELECT doc_id, round(
        |  0.4 * least(((nchar - (ntok - 1.0)) / ntok) / 8.0, 1.0)
        |  + 0.4 * (ndistinct / ntok)
        |  + 0.2 * (1.0 - least(punct / ntok + digits / nchar, 1.0)), 6) AS quality
        |FROM q ORDER BY doc_id""".stripMargin,
    "x3_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS sub_tokens,
        |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |        CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x4_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_hash,
        |  list_aggregate(list_transform(generate_series(1, length(text) - 7),
        |    i -> md5(substr(text, CAST(i AS INT), 8))), 'min') AS min_gram_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    // x51: lift replayed with the SAME left-associated float ops —
    // (n_ab*T*T)/(B*n_a*n_b) — and the same min-count/top-k dials
    "x51_collocations" ->
      """WITH ws AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        | uni AS (SELECT u.tok AS w, COUNT(*) AS n_w
        |  FROM ws, unnest(ws.w) AS u(tok) GROUP BY 1),
        | bi AS (SELECT w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)] AS bigram, COUNT(*) AS n_ab
        |  FROM ws, unnest(generate_series(1, len(w) - 1)) AS t(i) GROUP BY 1),
        | tot AS (SELECT SUM(n_w) AS T FROM uni),
        | btot AS (SELECT SUM(n_ab) AS B FROM bi)
        |SELECT bigram, n_ab,
        |  round((CAST(n_ab AS DOUBLE) * T * T) / (CAST(B AS DOUBLE) * na.n_w * nb.n_w), 6) AS lift
        |FROM bi CROSS JOIN tot CROSS JOIN btot
        |JOIN uni na ON na.w = string_split(bigram, ' ')[1]
        |JOIN uni nb ON nb.w = string_split(bigram, ' ')[2]
        |WHERE n_ab >= 5
        |ORDER BY lift DESC, bigram LIMIT 50""".stripMargin,
    "x5_multimodal_decode" -> {
      val feats = (1 to 8).map { i =>
        val hi = hexDigit(s"${2 * i - 1}")
        val lo = hexDigit(s"${2 * i}")
        s"CAST(($hi * 16 + $lo) / 255.0 AS FLOAT) AS f$i"
      }.mkString(",\n    ")
      s"""SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS byte_len,
         |  $feats
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // field formulas mirror the Spark synthesis; byte lengths are the
    // fixed header sizes (BMP: 18+4+4+2+2+24+12 = 66; WAV: 44-byte
    // canonical header + 16 data bytes = 60)
    "x5b_media_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 66 ELSE 60 END AS INT) AS byte_len,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 64 + 16 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 32 + 9 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN (doc_id % 8) * 100 + 8000 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN (doc_id % 4 + 1) // 2 END AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 16 END AS INT) AS bits
        |FROM documents ORDER BY doc_id""".stripMargin,
    // byte lengths are the fixed synthesized sizes (BMP 66, WAV 60,
    // PNG 8 magic + 25 IHDR = 33, JPEG 2 SOI + 18 APP0 + 19 SOF0 +
    // 2 EOI = 41); bits = bpp 24 / sample bits 16 / bit depth 8 /
    // precision 8; channels = 1 (WAV mono) / 3 (JPEG components)
    "x5c_media_decode_all" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
        |    WHEN 2 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 66 WHEN 1 THEN 60
        |    WHEN 2 THEN 33 ELSE 41 END AS INT) AS byte_len,
        |  CAST(CASE WHEN doc_id % 4 IN (0, 2, 3) THEN doc_id % 64 + 16 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 4 IN (0, 2, 3) THEN doc_id % 32 + 9 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 4 = 1 THEN (doc_id % 8) * 100 + 8000 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 4 = 1 THEN 1 WHEN doc_id % 4 = 3 THEN 3 END AS INT) AS channels,
        |  CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 24 WHEN 1 THEN 16
        |    ELSE 8 END AS INT) AS bits
        |FROM documents ORDER BY doc_id""".stripMargin,
    // x53: all five heads replayed with the x47 scoring SQL (same
    // bucket hash, same exact integer mean), argmax as a first-match
    // CASE against the row max — equality proves the argmax fold's
    // strictly-greater tie-break IS alphabetical order
    "x53_langid_learned" -> {
      import graft.functions.LangIdModel
      val heads = LangIdModel.Classes.zip(LangIdModel.defaultHeads)
      val scoreCtes = heads.zipWithIndex.map { case ((_, (w, b)), k) =>
        s""" s$k AS (
           |  SELECT doc_id,
           |    CASE WHEN n <= 0 THEN CAST($b AS BIGINT)
           |         ELSE CAST(sign(tot) AS BIGINT) * ((2 * abs(tot) + n) // (2 * n)) + $b END AS m$k
           |  FROM (
           |   SELECT doc_id, CAST(length(t) - 2 AS BIGINT) AS n,
           |     CAST(COALESCE(list_sum(list_transform(generate_series(1, CAST(length(t) AS INT) - 2),
           |       i -> [${w.mkString(", ")}][CAST(CAST(('0x' || substr(md5(substr(t, CAST(i AS INT), 3)), 1, 8)) AS BIGINT) % 256 AS INT) + 1])), 0) AS BIGINT) AS tot
           |   FROM lt))""".stripMargin
      }.mkString(",\n")
      val joins = heads.indices.map(k => s"JOIN s$k USING (doc_id)").mkString(" ")
      val ms = heads.indices.map(k => s"m$k").mkString(", ")
      val pick = heads.zipWithIndex.map { case ((cls, _), k) =>
        s"WHEN m$k = g THEN '$cls'"
      }.mkString(" ")
      val pickM = heads.zipWithIndex.map { case (_, k) =>
        s"WHEN m$k = g THEN m$k"
      }.mkString(" ")
      s"""WITH lt AS (SELECT doc_id, lower(text) AS t FROM documents),
         |$scoreCtes,
         | j AS (SELECT lt.doc_id, $ms FROM lt $joins),
         | g0 AS (SELECT doc_id, $ms, greatest($ms) AS g FROM j)
         |SELECT doc_id,
         |  CASE $pick END AS pred_lang,
         |  CAST((CASE $pickM END) AS DOUBLE) / 1e6 AS score
         |FROM g0 ORDER BY doc_id""".stripMargin
    },
    // the pixel formula replayed with NO image machinery: per-channel
    // means over the 8×8 grid — means are exact (sum/64: 1e6/64 =
    // 15625, so round-to-6 is integer-exact in both engines); the
    // Spark side must recover exactly these through a real PNG
    // encode → ImageIO decode round-trip
    "x5d_image_decode" ->
      """WITH g AS (SELECT unnest(generate_series(0, 7)) AS i),
        | px AS (SELECT doc_id, x.i AS x, y.i AS y FROM documents, g x, g y),
        | m AS (SELECT doc_id,
        |   SUM((doc_id * 37 + x * 3 + y * 11) % 256) AS sr,
        |   SUM((doc_id * 37 + x * 3 + y * 11 + 101) % 256) AS sg,
        |   SUM((doc_id * 37 + x * 3 + y * 11 + 202) % 256) AS sb
        |  FROM px GROUP BY doc_id)
        |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  round(CAST(sr AS DOUBLE) / 64.0, 6) AS mean_r,
        |  round(CAST(sg AS DOUBLE) / 64.0, 6) AS mean_g,
        |  round(CAST(sb AS DOUBLE) / 64.0, 6) AS mean_b
        |FROM m ORDER BY doc_id""".stripMargin,
    // gram multiplicities are kept (UNION ALL of word/bigram/trigram
    // streams mirrors the Spark side's tagged concat); counts are
    // integers so the double divisions are engine-exact
    // trigram contexts: ws[i] || ' ' || ws[i+1] heads, ws[i+2] next —
    // otherwise identical micro fixed-point arithmetic to x19
    "x22_lm_trigram" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        | tok AS (SELECT unnest(ws) AS w FROM w),
        | v AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS vsz FROM tok),
        | big AS (SELECT doc_id,
        |   unnest(list_transform(generate_series(1, len(ws) - 2),
        |     i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)])) AS w1,
        |   unnest(list_transform(generate_series(1, len(ws) - 2),
        |     i -> ws[CAST(i + 2 AS INT)])) AS w2
        |   FROM w),
        | ctx AS (SELECT w1, COUNT(*) AS cu FROM big GROUP BY 1),
        | bi AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY 1, 2),
        | sc AS (SELECT big.doc_id,
        |   CAST(round(ln((CAST(cb AS DOUBLE) + 0.5) / (CAST(cu AS DOUBLE) + 0.5 * vsz)) * 1000000.0) AS BIGINT) AS micro
        |   FROM big JOIN bi USING (w1, w2) JOIN ctx USING (w1), v),
        | agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(micro) AS BIGINT) AS s FROM sc GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
        |    * ((2 * abs(s) + n_bigrams) // (2 * n_bigrams)) AS DOUBLE) / 1000000.0 AS avg_logprob,
        |  round(exp(-((CAST(s AS DOUBLE) / 1000000.0) / CAST(n_bigrams AS DOUBLE))), 6) AS perplexity
        |FROM agg ORDER BY doc_id""".stripMargin,
    // reference LM from even ids, odd ids scored with left-join
    // fallback to the smoothed floor — mirrors lmPerplexityAgainst
    // exactly (same micro fixed-point arithmetic as x19)
    "x20_lm_cross_perplexity" ->
      """WITH wref AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |              WHERE doc_id % 2 = 0 AND len(string_split(text, ' ')) >= 2),
        | wdoc AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |          WHERE doc_id % 2 = 1 AND len(string_split(text, ' ')) >= 2),
        | v AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS vsz
        |       FROM (SELECT unnest(ws) AS w FROM wref)),
        | bref AS (SELECT
        |   unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[CAST(i AS INT)])) AS w1,
        |   unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[CAST(i + 1 AS INT)])) AS w2
        |   FROM wref),
        | ctx AS (SELECT w1, COUNT(*) AS cu FROM bref GROUP BY 1),
        | bi AS (SELECT w1, w2, COUNT(*) AS cb FROM bref GROUP BY 1, 2),
        | bdoc AS (SELECT doc_id,
        |   unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[CAST(i AS INT)])) AS w1,
        |   unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[CAST(i + 1 AS INT)])) AS w2
        |   FROM wdoc),
        | sc AS (SELECT bdoc.doc_id,
        |   CAST(round(ln((CAST(COALESCE(cb, 0) AS DOUBLE) + 0.5)
        |     / (CAST(COALESCE(cu, 0) AS DOUBLE) + 0.5 * vsz)) * 1000000.0) AS BIGINT) AS micro
        |   FROM bdoc LEFT JOIN bi USING (w1, w2) LEFT JOIN ctx USING (w1), v),
        | agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(micro) AS BIGINT) AS s FROM sc GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
        |    * ((2 * abs(s) + n_bigrams) // (2 * n_bigrams)) AS DOUBLE) / 1000000.0 AS avg_logprob,
        |  round(exp(-((CAST(s AS DOUBLE) / 1000000.0) / CAST(n_bigrams AS DOUBLE))), 6) AS perplexity
        |FROM agg ORDER BY doc_id""".stripMargin,
    // The sentence kernel replayed term for term: same synthesis
    // expression, same two RE2-safe regexes (protected-prefix dot
    // parked as chr(2), boundary marker chr(1)), same 1-based
    // pre-filter index, same trim + restore + nonempty filter.
    "x55_sentences" ->
      ("""WITH syn AS (SELECT doc_id,
        |   concat('Dr. ', upper(substring(text,1,1)), substring(text,2,29),
        |     '. ', upper(substring(text,32,1)), substring(text,33,29),
        |     '! "', upper(substring(text,63,1)), substring(text,64,19),
        |     '?" Costs 3.5 now.  ', upper(substring(text,84,1)),
        |     substring(text,85,14), '.') AS text
        |   FROM documents),
        | cln AS (SELECT doc_id,
        |   replace(replace(text, chr(1), ''), chr(2), '') AS text FROM syn),
        | prot AS (SELECT doc_id,
        |   regexp_replace(text, '\b(Mr|Mrs|Ms|Dr|Prof|Sr|Jr|St|vs|etc)\.',
        |     '\1' || chr(2), 'g') AS t FROM cln),
        | mk AS (SELECT doc_id,
        |   regexp_replace(t, '([.!?]+["'')\]]*)[ \t\n\r]+(["''(\[]*[A-Z0-9])',
        |     '\1' || chr(1) || '\2', 'g') AS t FROM prot),
        | parts AS (SELECT doc_id, string_split(t, chr(1)) AS l FROM mk),
        | sent AS (SELECT doc_id,
        |    unnest(generate_series(1, len(l))) AS sent_idx,
        |    unnest(list_transform(l, x -> trim(replace(x, chr(2), '.')))) AS sentence
        |   FROM parts)
        |SELECT doc_id, CAST(sent_idx AS INT) AS sent_idx, sentence
        |FROM sent WHERE length(sentence) > 0
        |ORDER BY doc_id, sent_idx""").stripMargin,
    // Stupid backoff replayed level by level: raw trigram/bigram/
    // unigram count tables from the even half, the odd half's trigram
    // stream left-joined to all five key shapes, the CASE descending
    // exactly as the Spark `when` chain (seen trigram → 0.4 step →
    // 0.16·add-α floor); micro fixed-point sums as in x19. Unigram/
    // total counts come from ALL even docs (no length filter — the
    // Spark side's token stream), bigrams from len ≥ 2, trigrams ≥ 3.
    "x54_lm_stupid_backoff" ->
      """WITH wref AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |              WHERE doc_id % 2 = 0),
        | wdoc AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |          WHERE doc_id % 2 = 1 AND len(string_split(text, ' ')) >= 3),
        | tok AS (SELECT unnest(ws) AS w FROM wref),
        | tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |                CAST(COUNT(DISTINCT w) AS DOUBLE) AS v FROM tok),
        | uni AS (SELECT w, COUNT(*) AS cu FROM tok GROUP BY 1),
        | bref AS (SELECT
        |   unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[CAST(i AS INT)])) AS w1,
        |   unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[CAST(i + 1 AS INT)])) AS w2
        |   FROM wref WHERE len(ws) >= 2),
        | bi AS (SELECT w1, w2, COUNT(*) AS cb FROM bref GROUP BY 1, 2),
        | tref AS (SELECT
        |   unnest(list_transform(generate_series(1, len(ws) - 2), i -> ws[CAST(i AS INT)])) AS w1,
        |   unnest(list_transform(generate_series(1, len(ws) - 2), i -> ws[CAST(i + 1 AS INT)])) AS w2,
        |   unnest(list_transform(generate_series(1, len(ws) - 2), i -> ws[CAST(i + 2 AS INT)])) AS w3
        |   FROM wref WHERE len(ws) >= 3),
        | tri AS (SELECT w1, w2, w3, COUNT(*) AS ct FROM tref GROUP BY 1, 2, 3),
        | tdoc AS (SELECT doc_id,
        |   unnest(list_transform(generate_series(1, len(ws) - 2), i -> ws[CAST(i AS INT)])) AS w1,
        |   unnest(list_transform(generate_series(1, len(ws) - 2), i -> ws[CAST(i + 1 AS INT)])) AS w2,
        |   unnest(list_transform(generate_series(1, len(ws) - 2), i -> ws[CAST(i + 2 AS INT)])) AS w3
        |   FROM wdoc),
        | sc AS (SELECT tdoc.doc_id,
        |   CAST(round(CASE
        |     WHEN tri.ct IS NOT NULL
        |       THEN ln(CAST(tri.ct AS DOUBLE) / CAST(b12.cb AS DOUBLE))
        |     WHEN b23.cb IS NOT NULL
        |       THEN ln(0.4 * CAST(b23.cb AS DOUBLE) / CAST(u2.cu AS DOUBLE))
        |     ELSE ln(0.16 * (CAST(COALESCE(u3.cu, 0) AS DOUBLE) + 0.5) / (n + 0.5 * v))
        |     END * 1000000.0) AS BIGINT) AS micro
        |   FROM tdoc
        |   LEFT JOIN tri ON tdoc.w1 = tri.w1 AND tdoc.w2 = tri.w2 AND tdoc.w3 = tri.w3
        |   LEFT JOIN bi b12 ON tdoc.w1 = b12.w1 AND tdoc.w2 = b12.w2
        |   LEFT JOIN bi b23 ON tdoc.w2 = b23.w1 AND tdoc.w3 = b23.w2
        |   LEFT JOIN uni u2 ON tdoc.w2 = u2.w
        |   LEFT JOIN uni u3 ON tdoc.w3 = u3.w, tot),
        | agg AS (SELECT doc_id, COUNT(*) AS n_trigrams,
        |         CAST(SUM(micro) AS BIGINT) AS s FROM sc GROUP BY 1)
        |SELECT doc_id, n_trigrams,
        |  CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
        |    * ((2 * abs(s) + n_trigrams) // (2 * n_trigrams)) AS DOUBLE) / 1000000.0 AS avg_logprob,
        |  round(exp(-((CAST(s AS DOUBLE) / 1000000.0) / CAST(n_trigrams AS DOUBLE))), 6) AS perplexity
        |FROM agg ORDER BY doc_id""".stripMargin,
    // LM built over bigram-head counts (c(w1,·)) and distinct-token
    // vocabulary; per-bigram logprob fixed-pointed to micros, summed
    // as BIGINT (DuckDB SUM(BIGINT) is HUGEINT — cast back), mean and
    // perplexity derived from the exact integer sum.
    "x19_lm_perplexity" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        | tok AS (SELECT unnest(ws) AS w FROM w),
        | v AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS vsz FROM tok),
        | big AS (SELECT doc_id,
        |   unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[CAST(i AS INT)])) AS w1,
        |   unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[CAST(i + 1 AS INT)])) AS w2
        |   FROM w),
        | ctx AS (SELECT w1, COUNT(*) AS cu FROM big GROUP BY 1),
        | bi AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY 1, 2),
        | sc AS (SELECT big.doc_id,
        |   CAST(round(ln((CAST(cb AS DOUBLE) + 0.5) / (CAST(cu AS DOUBLE) + 0.5 * vsz)) * 1000000.0) AS BIGINT) AS micro
        |   FROM big JOIN bi USING (w1, w2) JOIN ctx USING (w1), v),
        | agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(micro) AS BIGINT) AS s FROM sc GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
        |    * ((2 * abs(s) + n_bigrams) // (2 * n_bigrams)) AS DOUBLE) / 1000000.0 AS avg_logprob,
        |  round(exp(-((CAST(s AS DOUBLE) / 1000000.0) / CAST(n_bigrams AS DOUBLE))), 6) AS perplexity
        |FROM agg ORDER BY doc_id""".stripMargin,
    "x13_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |g AS (
        |  SELECT doc_id, 1 AS n, unnest(ws) AS g FROM w
        |  UNION ALL
        |  SELECT doc_id, 2, unnest(list_transform(generate_series(1, len(ws) - 1),
        |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)])) FROM w
        |  UNION ALL
        |  SELECT doc_id, 3, unnest(list_transform(generate_series(1, len(ws) - 2),
        |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] || ' ' || ws[CAST(i + 2 AS INT)])) FROM w),
        |c AS (SELECT doc_id, n, g, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
        |a AS (SELECT doc_id, n, MAX(c) AS maxc, CAST(SUM(c) AS BIGINT) AS tot, COUNT(*) AS nd
        |      FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        |  round(CAST(MAX(CASE WHEN n = 1 THEN maxc END) AS DOUBLE)
        |      / CAST(MAX(CASE WHEN n = 1 THEN tot END) AS DOUBLE), 6) AS top_word_frac,
        |  round(CAST(MAX(CASE WHEN n = 2 THEN maxc END) AS DOUBLE)
        |      / CAST(MAX(CASE WHEN n = 2 THEN tot END) AS DOUBLE), 6) AS top_bigram_frac,
        |  round(CAST(MAX(CASE WHEN n = 3 THEN tot END) - MAX(CASE WHEN n = 3 THEN nd END) AS DOUBLE)
        |      / CAST(MAX(CASE WHEN n = 3 THEN tot END) AS DOUBLE), 6) AS dup_trigram_frac
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // 40-bit gram hashes = ('0x' || first 10 md5 hex digits)::BIGINT,
    // identical bits to Spark's conv(md5 substr, 16, 10)
    "x18_winnowing" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, length(text) - 7),
        |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 10)) AS BIGINT)) AS hs
        |  FROM documents WHERE length(text) >= 11),
        |fp AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(hs) - 3),
        |    j -> list_aggregate(hs[CAST(j AS INT):CAST(j + 3 AS INT)], 'min'))) AS fps
        |  FROM h)
        |SELECT doc_id, CAST(len(fps) AS INT) AS n_fp,
        |  list_aggregate(fps, 'min') AS min_fp,
        |  list_aggregate(fps, 'max') AS max_fp,
        |  CAST(list_sum(fps) AS BIGINT) AS fp_checksum
        |FROM fp ORDER BY doc_id""".stripMargin,
    // same fp CTE as x18, unnested into a (fingerprint, doc) inverted
    // index; df cap 16 then id-ordered pair counts >= 2
    "x18b_winnowing_pairs" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, length(text) - 7),
        |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 10)) AS BIGINT)) AS hs
        |  FROM documents WHERE length(text) >= 11),
        |fp AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(hs) - 3),
        |    j -> list_aggregate(hs[CAST(j AS INT):CAST(j + 3 AS INT)], 'min')))) AS wm
        |  FROM h),
        |kept AS (
        |  SELECT doc_id, wm FROM fp
        |  WHERE wm IN (SELECT wm FROM fp GROUP BY wm HAVING COUNT(*) <= 16))
        |SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS INT) AS shared_fp
        |FROM kept x JOIN kept y ON x.wm = y.wm AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY a, b""".stripMargin,
    // payload = UTF-8 bytes of text (ASCII corpus: byte == char), so
    // the histogram is over characters; entropy terms fixed-pointed
    // to micros exactly as the Spark side
    "x21_payload_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, length(text) AS n,
        |    unnest(list_transform(generate_series(1, length(text)),
        |      i -> substr(text, CAST(i AS INT), 1))) AS b
        |  FROM documents),
        | h AS (SELECT doc_id, n, b, COUNT(*) AS c FROM c GROUP BY 1, 2, 3),
        | e AS (SELECT doc_id, n, COUNT(*) AS n_distinct,
        |   CAST(SUM(CAST(round(((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |     * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000.0) AS BIGINT)) AS BIGINT) AS s
        |   FROM h GROUP BY 1, 2)
        |SELECT doc_id, n AS byte_len, n_distinct,
        |  round(-(CAST(s AS DOUBLE) / 1000000.0), 6) AS entropy
        |FROM e ORDER BY doc_id""".stripMargin,
    "x6_frame_sample" ->
      """WITH p AS (
        |  SELECT doc_id, text, greatest((octet_length(encode(text)) - 64) // 128, 0) AS maxf
        |  FROM documents)
        |SELECT doc_id, CAST(f.g AS INT) AS frame_no,
        |  md5(substr(text, CAST(f.g * 128 + 1 AS INT), 64)) AS frame_md5
        |FROM p, generate_series(0, 1000) f(g)
        |WHERE f.g <= p.maxf
        |ORDER BY doc_id, frame_no""".stripMargin,
    // Okapi BM25, Lucene idf form; IEEE op order and literals mirror
    // SearchFunctions.bm25TopK term-for-term; per-term scores fixed-
    // pointed to micros and summed exactly, ties broken by doc_id —
    // the row_number window here selects the identical total order
    // the Spark side's bounded_topk heap does.
    "x23_bm25" ->
      """WITH q(qid, qtext) AS (VALUES
        |    (0, 'dup join'), (1, 'hash agg scan'), (2, 'vector query batch')),
        | qt AS (SELECT DISTINCT qid, w FROM
        |   (SELECT qid, unnest(string_split(qtext, ' ')) AS w FROM q) WHERE w <> ''),
        | tok AS (SELECT doc_id, w FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''),
        | tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        | dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        | st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
        | post AS (SELECT * FROM tf WHERE w IN (SELECT w FROM qt)),
        | dfq AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM post GROUP BY 1),
        | sc AS (SELECT qt.qid, post.doc_id,
        |   CAST(round((ln(1.0 + (n - df + 0.5) / (df + 0.5))
        |     * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |        / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE) / avgdl))))
        |     * 1000000.0) AS BIGINT) AS micro
        |   FROM post JOIN qt USING (w) JOIN dfq USING (w) JOIN dl USING (doc_id), st),
        | agg AS (SELECT qid, doc_id, CAST(SUM(micro) AS BIGINT) AS micro,
        |   COUNT(*) AS terms_hit FROM sc GROUP BY 1, 2),
        | rk AS (SELECT qid, doc_id, micro, terms_hit,
        |   row_number() OVER (PARTITION BY qid ORDER BY micro DESC, doc_id) AS rnk FROM agg)
        |SELECT qid, CAST(rnk AS INT) AS rank, doc_id,
        |  round(CAST(micro AS DOUBLE) / 1000000.0, 6) AS score, terms_hit
        |FROM rk WHERE rnk <= 10 ORDER BY qid, rank""".stripMargin,
    "x27_hybrid_rrf" ->
      """WITH q(qid, qtext, anchor) AS (VALUES
        |    (0, 'dup join', 7), (1, 'hash agg scan', 42), (2, 'vector query batch', 123)),
        | qt AS (SELECT DISTINCT qid, w FROM
        |   (SELECT qid, unnest(string_split(qtext, ' ')) AS w FROM q) WHERE w <> ''),
        | tok AS (SELECT doc_id, w FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''),
        | tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        | dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        | st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
        | post AS (SELECT * FROM tf WHERE w IN (SELECT w FROM qt)),
        | dfq AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM post GROUP BY 1),
        | sc AS (SELECT qt.qid, post.doc_id,
        |   CAST(round((ln(1.0 + (n - df + 0.5) / (df + 0.5))
        |     * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |        / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE) / avgdl))))
        |     * 1000000.0) AS BIGINT) AS micro
        |   FROM post JOIN qt USING (w) JOIN dfq USING (w) JOIN dl USING (doc_id), st),
        | agg AS (SELECT qid, doc_id, CAST(SUM(micro) AS BIGINT) AS micro FROM sc GROUP BY 1, 2),
        | lrk AS (SELECT qid, doc_id,
        |   row_number() OVER (PARTITION BY qid ORDER BY micro DESC, doc_id) AS lr FROM agg),
        | ltop AS (SELECT qid, doc_id, lr FROM lrk WHERE lr <= 50),
        | emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        | anch AS (SELECT q.qid, e.v AS av FROM q JOIN emb e ON e.vec_id = q.anchor),
        | dcos AS (SELECT a.qid, e.vec_id AS doc_id,
        |   CAST(round(1000000.0 *
        |     (list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * a.av[i])) /
        |      (sqrt(list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * e.v[i]))) *
        |       sqrt(list_sum(list_transform(generate_series(1, 64), i -> a.av[i] * a.av[i])))))) AS BIGINT) AS cm
        |   FROM anch a, emb e),
        | drk AS (SELECT qid, doc_id,
        |   row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) AS dr FROM dcos),
        | dtop AS (SELECT qid, doc_id, dr FROM drk WHERE dr <= 50),
        | fused AS (
        |  SELECT COALESCE(l.qid, t.qid) AS qid, COALESCE(l.doc_id, t.doc_id) AS doc_id,
        |    COALESCE(CAST(round(1000000.0 / (60 + l.lr)) AS BIGINT), 0)
        |      + COALESCE(CAST(round(1000000.0 / (60 + t.dr)) AS BIGINT), 0) AS micro,
        |    COALESCE(l.lr, 0) AS lex_rank, COALESCE(t.dr, 0) AS dense_rank
        |  FROM ltop l FULL OUTER JOIN dtop t ON l.qid = t.qid AND l.doc_id = t.doc_id),
        | frk AS (SELECT qid, doc_id, micro, lex_rank, dense_rank,
        |   row_number() OVER (PARTITION BY qid ORDER BY micro DESC, doc_id) AS rnk FROM fused)
        |SELECT qid, CAST(rnk AS INT) AS rank, doc_id,
        |  round(CAST(micro AS DOUBLE) / 1000000.0, 6) AS rrf,
        |  CAST(lex_rank AS INT) AS lex_rank, CAST(dense_rank AS INT) AS dense_rank
        |FROM frk WHERE rnk <= 10 ORDER BY qid, rank""".stripMargin,
    // x41: same CTE prefix as x27 through the two top-50 lists, but
    // the lists keep their exact micro scores; list stats are exact
    // long sums (min/max/sum/sum-of-squares) so every double below is
    // a pinned-op-order expression the Spark side mirrors term for
    // term (SearchFunctions.hybridNormTopK).
    "x41_hybrid_norm" ->
      """WITH q(qid, qtext, anchor) AS (VALUES
        |    (0, 'dup join', 7), (1, 'hash agg scan', 42), (2, 'vector query batch', 123)),
        | qt AS (SELECT DISTINCT qid, w FROM
        |   (SELECT qid, unnest(string_split(qtext, ' ')) AS w FROM q) WHERE w <> ''),
        | tok AS (SELECT doc_id, w FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''),
        | tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        | dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        | st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
        | post AS (SELECT * FROM tf WHERE w IN (SELECT w FROM qt)),
        | dfq AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM post GROUP BY 1),
        | sc AS (SELECT qt.qid, post.doc_id,
        |   CAST(round((ln(1.0 + (n - df + 0.5) / (df + 0.5))
        |     * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |        / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE) / avgdl))))
        |     * 1000000.0) AS BIGINT) AS micro
        |   FROM post JOIN qt USING (w) JOIN dfq USING (w) JOIN dl USING (doc_id), st),
        | agg AS (SELECT qid, doc_id, CAST(SUM(micro) AS BIGINT) AS micro FROM sc GROUP BY 1, 2),
        | lrk AS (SELECT qid, doc_id, micro,
        |   row_number() OVER (PARTITION BY qid ORDER BY micro DESC, doc_id) AS lr FROM agg),
        | ltop AS (SELECT qid, doc_id, micro, lr FROM lrk WHERE lr <= 50),
        | emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        | anch AS (SELECT q.qid, e.v AS av FROM q JOIN emb e ON e.vec_id = q.anchor),
        | dcos AS (SELECT a.qid, e.vec_id AS doc_id,
        |   CAST(round(1000000.0 *
        |     (list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * a.av[i])) /
        |      (sqrt(list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * e.v[i]))) *
        |       sqrt(list_sum(list_transform(generate_series(1, 64), i -> a.av[i] * a.av[i])))))) AS BIGINT) AS cm
        |   FROM anch a, emb e),
        | drk AS (SELECT qid, doc_id, cm,
        |   row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) AS dr FROM dcos),
        | dtop AS (SELECT qid, doc_id, cm, dr FROM drk WHERE dr <= 50),
        | lst AS (SELECT qid, MIN(micro) AS lmin, MAX(micro) AS lmax,
        |   CAST(SUM(micro) AS BIGINT) AS lsum,
        |   CAST(SUM(micro * micro) AS BIGINT) AS lsq,
        |   CAST(COUNT(*) AS DOUBLE) AS lnn FROM ltop GROUP BY 1),
        | dst AS (SELECT qid, MIN(cm) AS dmin, MAX(cm) AS dmax,
        |   CAST(SUM(cm) AS BIGINT) AS dsum,
        |   CAST(SUM(cm * cm) AS BIGINT) AS dsq,
        |   CAST(COUNT(*) AS DOUBLE) AS dnn FROM dtop GROUP BY 1),
        | fo AS (SELECT COALESCE(l.qid, t.qid) AS qid,
        |   COALESCE(l.doc_id, t.doc_id) AS doc_id, l.micro AS lm, t.cm AS dm,
        |   COALESCE(l.lr, 0) AS lex_rank, COALESCE(t.dr, 0) AS dense_rank
        |   FROM ltop l FULL OUTER JOIN dtop t ON l.qid = t.qid AND l.doc_id = t.doc_id),
        | nrm AS (SELECT fo.qid, doc_id, lex_rank, dense_rank,
        |   CASE WHEN lm IS NULL THEN 0.0 WHEN lmax = lmin THEN 1.0
        |        ELSE CAST(lm - lmin AS DOUBLE) / CAST(lmax - lmin AS DOUBLE) END AS nlmm,
        |   CASE WHEN dm IS NULL THEN 0.0 WHEN dmax = dmin THEN 1.0
        |        ELSE CAST(dm - dmin AS DOUBLE) / CAST(dmax - dmin AS DOUBLE) END AS ndmm,
        |   CASE WHEN lm IS NULL THEN 0.0
        |        WHEN sqrt(greatest((CAST(lsq AS DOUBLE) - CAST(lsum AS DOUBLE) * CAST(lsum AS DOUBLE) / lnn) / lnn, 0.0)) <= 0.0 THEN 0.0
        |        ELSE (CAST(lm AS DOUBLE) - CAST(lsum AS DOUBLE) / lnn)
        |           / sqrt(greatest((CAST(lsq AS DOUBLE) - CAST(lsum AS DOUBLE) * CAST(lsum AS DOUBLE) / lnn) / lnn, 0.0)) END AS nlz,
        |   CASE WHEN dm IS NULL THEN 0.0
        |        WHEN sqrt(greatest((CAST(dsq AS DOUBLE) - CAST(dsum AS DOUBLE) * CAST(dsum AS DOUBLE) / dnn) / dnn, 0.0)) <= 0.0 THEN 0.0
        |        ELSE (CAST(dm AS DOUBLE) - CAST(dsum AS DOUBLE) / dnn)
        |           / sqrt(greatest((CAST(dsq AS DOUBLE) - CAST(dsum AS DOUBLE) * CAST(dsum AS DOUBLE) / dnn) / dnn, 0.0)) END AS ndz
        |   FROM fo JOIN lst ON fo.qid = lst.qid JOIN dst ON fo.qid = dst.qid),
        | fm AS (SELECT qid, doc_id, lex_rank, dense_rank, mode,
        |   CAST(round((0.5 * nl + 0.5 * nd) * 1000000.0) AS BIGINT) AS fmic
        |   FROM (SELECT qid, doc_id, lex_rank, dense_rank,
        |           'minmax' AS mode, nlmm AS nl, ndmm AS nd FROM nrm
        |         UNION ALL
        |         SELECT qid, doc_id, lex_rank, dense_rank,
        |           'zscore' AS mode, nlz AS nl, ndz AS nd FROM nrm)),
        | frk AS (SELECT qid, doc_id, mode, fmic, lex_rank, dense_rank,
        |   row_number() OVER (PARTITION BY qid, mode ORDER BY fmic DESC, doc_id) AS rnk FROM fm)
        |SELECT qid, mode, CAST(rnk AS INT) AS rank, doc_id,
        |  round(CAST(fmic AS DOUBLE) / 1000000.0, 6) AS fused,
        |  CAST(lex_rank AS INT) AS lex_rank, CAST(dense_rank AS INT) AS dense_rank
        |FROM frk WHERE rnk <= 10 ORDER BY qid, mode, rank""".stripMargin,
    // x42: the greedy replayed move-for-move — each recursion step's
    // LATERAL argmax is the Spark fold's array_sort pick (mmr DESC,
    // doc_id ASC), all arithmetic in exact longs; /1e8 = λ-percent ×
    // micro scale
    "x42_mmr_diversify" ->
      """WITH RECURSIVE
        | q(qid, anchor) AS (VALUES (0, 7), (1, 42), (2, 123)),
        | emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        | anch AS (SELECT q.qid, e.v AS av FROM q JOIN emb e ON e.vec_id = q.anchor),
        | dcos AS (SELECT a.qid, e.vec_id AS doc_id,
        |   CAST(round(1000000.0 *
        |     (list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * a.av[i])) /
        |      (sqrt(list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * e.v[i]))) *
        |       sqrt(list_sum(list_transform(generate_series(1, 64), i -> a.av[i] * a.av[i])))))) AS BIGINT) AS cm
        |   FROM anch a, emb e),
        | drk AS (SELECT qid, doc_id, cm,
        |   row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) AS dr FROM dcos),
        | cand AS (SELECT qid, doc_id, cm FROM drk WHERE dr <= 20),
        | cv AS (SELECT c.qid, c.doc_id, c.cm, e.v FROM cand c JOIN emb e ON e.vec_id = c.doc_id),
        | sims AS (SELECT a.qid, a.doc_id AS da, b.doc_id AS db,
        |   CAST(round(1000000.0 *
        |     (list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) /
        |      (sqrt(list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * a.v[i]))) *
        |       sqrt(list_sum(list_transform(generate_series(1, 64), i -> b.v[i] * b.v[i])))))) AS BIGINT) AS sim
        |   FROM cv a JOIN cv b ON a.qid = b.qid AND a.doc_id <> b.doc_id),
        | sel(qid, r, ids, picked, mmr) AS (
        |   SELECT qid, 0, CAST([] AS BIGINT[]), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM q
        |   UNION ALL
        |   SELECT s.qid, s.r + 1, list_append(s.ids, p.doc_id), p.doc_id, p.mmr
        |   FROM sel s, LATERAL (
        |     SELECT c.doc_id,
        |       70 * c.cm - 30 * (CASE WHEN len(s.ids) = 0 THEN 0 ELSE
        |         (SELECT MAX(si.sim) FROM sims si
        |          WHERE si.qid = s.qid AND si.da = c.doc_id AND list_contains(s.ids, si.db)) END) AS mmr
        |     FROM cand c WHERE c.qid = s.qid AND NOT list_contains(s.ids, c.doc_id)
        |     ORDER BY mmr DESC, c.doc_id LIMIT 1) p
        |   WHERE s.r < 10)
        |SELECT qid, CAST(r AS INT) AS rank, picked AS doc_id,
        |  round(CAST(mmr AS DOUBLE) / 100000000.0, 6) AS mmr
        |FROM sel WHERE r >= 1 ORDER BY qid, rank""".stripMargin,
    // ahash bit p (p = cellY*8+cellX, top-down grid) reads BMP pixel
    // bytes bottom-up: source row = 7 - p//8, byte idx = row*24 + x*3;
    // luma = sum of 3 channel bytes; bit = 64*g > total (the kernel's
    // cross-multiplied mean compare at cellN=1, totN=64); byte k packs
    // bits 8k..8k+7 MSB-first — hex-concatenated to the kernel's
    // lpad(hex(hash),16,'0').
    "x34_image_ahash" ->
      """WITH px AS (
        |  SELECT doc_id, p,
        |    ((doc_id*7 + ((7 - p//8)*24 + (p%8)*3    )*13) % 256)
        |  + ((doc_id*7 + ((7 - p//8)*24 + (p%8)*3 + 1)*13) % 256)
        |  + ((doc_id*7 + ((7 - p//8)*24 + (p%8)*3 + 2)*13) % 256) AS g
        |  FROM documents CROSS JOIN unnest(generate_series(0, 63)) AS t(p)),
        |s AS (SELECT doc_id, CAST(SUM(g) AS BIGINT) AS tot FROM px GROUP BY doc_id),
        |b AS (SELECT px.doc_id, p, CASE WHEN 64*g > tot THEN 1 ELSE 0 END AS bit
        |      FROM px JOIN s ON px.doc_id = s.doc_id),
        |bytes AS (
        |  SELECT doc_id, p // 8 AS k,
        |    CAST(SUM(bit * (1 << (7 - (p % 8)))) AS BIGINT) AS byte
        |  FROM b GROUP BY 1, 2)
        |SELECT doc_id,
        |  string_agg(lpad(upper(to_hex(byte)), 2, '0'), '' ORDER BY k) AS ahash
        |FROM bytes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // sample i: v = (doc_id·31 + i·97) mod 65536 as signed-16; abs via
    // two's complement; window size 1 at 64 samples → bit = 64·|v| > Σ|v|
    "x35_audio_hash" ->
      """WITH sm AS (
        |  SELECT doc_id, i,
        |    CASE WHEN ((doc_id*31 + i*97) % 65536) < 32768
        |      THEN ((doc_id*31 + i*97) % 65536)
        |      ELSE 65536 - ((doc_id*31 + i*97) % 65536) END AS a
        |  FROM documents CROSS JOIN unnest(generate_series(0, 63)) AS t(i)),
        |s AS (SELECT doc_id, CAST(SUM(a) AS BIGINT) AS tot FROM sm GROUP BY doc_id),
        |b AS (SELECT sm.doc_id, i, CASE WHEN 64*a > tot THEN 1 ELSE 0 END AS bit
        |      FROM sm JOIN s ON sm.doc_id = s.doc_id),
        |bytes AS (
        |  SELECT doc_id, i // 8 AS k,
        |    CAST(SUM(bit * (1 << (7 - (i % 8)))) AS BIGINT) AS byte
        |  FROM b GROUP BY 1, 2)
        |SELECT doc_id,
        |  string_agg(lpad(upper(to_hex(byte)), 2, '0'), '' ORDER BY k) AS ehash
        |FROM bytes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // frame f's pixel byte idx: (doc_id·7 + f·41 + idx·13) mod 256 —
    // otherwise identical to the x34 bit arithmetic, per (doc, frame)
    "x36_video_fingerprint" ->
      """WITH px AS (
        |  SELECT doc_id, f, p,
        |    ((doc_id*7 + f*41 + ((7 - p//8)*24 + (p%8)*3    )*13) % 256)
        |  + ((doc_id*7 + f*41 + ((7 - p//8)*24 + (p%8)*3 + 1)*13) % 256)
        |  + ((doc_id*7 + f*41 + ((7 - p//8)*24 + (p%8)*3 + 2)*13) % 256) AS g
        |  FROM documents
        |  CROSS JOIN unnest(generate_series(0, 3)) AS tf(f)
        |  CROSS JOIN unnest(generate_series(0, 63)) AS tp(p)),
        |s AS (SELECT doc_id, f, CAST(SUM(g) AS BIGINT) AS tot
        |      FROM px GROUP BY doc_id, f),
        |b AS (SELECT px.doc_id, px.f, p,
        |        CASE WHEN 64*g > tot THEN 1 ELSE 0 END AS bit
        |      FROM px JOIN s ON px.doc_id = s.doc_id AND px.f = s.f),
        |bytes AS (
        |  SELECT doc_id, f, p // 8 AS k,
        |    CAST(SUM(bit * (1 << (7 - (p % 8)))) AS BIGINT) AS byte
        |  FROM b GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(f AS INT) AS frame_no,
        |  string_agg(lpad(upper(to_hex(byte)), 2, '0'), '' ORDER BY k) AS ahash
        |FROM bytes GROUP BY doc_id, f ORDER BY doc_id, frame_no""".stripMargin,
    // brute-force hamming over the oracle-computed hashes (byte-wise
    // popcount of xor — no 64-bit assembly, so no BIGINT shift
    // overflow); pixel byte idx = hex pair (idx%16) of
    // md5("<base>_<idx//16>"), clone byte idx 0 carries the +2 nudge
    "x39_image_neardup" -> x39OracleSql(7),
    "x39b_image_neardup_wideband" -> x39OracleSql(3)
  )

  /** x39/x39b oracle: brute-force hamming over independently-computed
    * aHashes (no byte parsing — the pixel math is replayed from the
    * synthesis formula), filtered at `maxHamming`. Being banding-free,
    * equality against the banded Spark path proves the banding's
    * completeness at the claimed radius. */
  private def x39OracleSql(maxHamming: Int): String = {
    def chan(c: Int): String = {
      val idx = s"((7 - p//8)*24 + (p%8)*3 + $c)"
      val h = s"md5(CAST(base AS VARCHAR) || '_' || CAST($idx // 16 AS VARCHAR))"
      val byte = s"((strpos('0123456789abcdef', substr($h, 2*($idx % 16) + 1, 1)) - 1) * 16" +
        s" + strpos('0123456789abcdef', substr($h, 2*($idx % 16) + 2, 1)) - 1)"
      if (c == 0)
        s"($byte + CASE WHEN nudge = 1 AND $idx = 0 THEN 2 ELSE 0 END) % 256"
      else byte
    }
    s"""WITH ids AS (
      |  SELECT doc_id, doc_id AS base, 0 AS nudge FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, doc_id, 1 FROM documents),
      |px AS (
      |  SELECT doc_id, p,
      |    ${chan(0)}
      |  + ${chan(1)}
      |  + ${chan(2)} AS g
      |  FROM ids CROSS JOIN unnest(generate_series(0, 63)) AS t(p)),
      |s AS (SELECT doc_id, CAST(SUM(g) AS BIGINT) AS tot FROM px GROUP BY doc_id),
      |b AS (SELECT px.doc_id, p, CASE WHEN 64*g > tot THEN 1 ELSE 0 END AS bit
      |      FROM px JOIN s ON px.doc_id = s.doc_id),
      |bytes AS (
      |  SELECT doc_id, p // 8 AS k,
      |    CAST(SUM(bit * (1 << (7 - (p % 8)))) AS BIGINT) AS byte
      |  FROM b GROUP BY 1, 2),
      |pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b,
      |    CAST(SUM(bit_count(CAST(xor(x.byte, y.byte) AS BIGINT))) AS INT) AS hamming
      |  FROM bytes x JOIN bytes y ON x.k = y.k AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, hamming FROM pairs WHERE hamming <= $maxHamming ORDER BY a, b""".stripMargin
  }
}
