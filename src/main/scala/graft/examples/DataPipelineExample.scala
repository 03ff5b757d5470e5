package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{CurationFunctions, DedupFunctions, SimilarityFunctions, TextAnalysisFunctions, TextFunctions}

/** End-to-end LLM training-data pipeline over the `documents` table —
  * the parity-plus surface composed the way a user would chain it:
  *
  *   read → quality score → language ID → repetition filter →
  *   LM-perplexity gate → exact dedup → MinHash-LSH near-dedup
  *   (cluster, keep representative) → SemDeDup on the document
  *   embeddings → benchmark decontamination → domain-mix report →
  *   chunk → tokenize → pack into training sequences → token budget
  *   report → Z-order-clustered curated parquet.
  *
  * Every stage is a lazy DataFrame transform; the only actions are the
  * near-dup materialization and the final write. At 100 TB the same
  * plan shape holds: per-row scoring is map-only, exact dedup is one
  * hash shuffle, LSH shuffles (band, id) pairs, clustering touches only
  * the (tiny) near-dup edge set, the decontamination probe broadcasts
  * the benchmark n-grams, chunk/tokenize/pack are map-side or
  * shard-local again.
  *
  * Run: sbt "runMain graft.examples.DataPipelineExample [sfDir]"
  */
object DataPipelineExample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-data-pipeline-example")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.documents(spark, sfDir)

    // 0. the crawl-ingest edge (r18): WARC container → HTTP body →
    // stripHtml — the step that feeds everything below when the input
    // is a crawl rather than a curated table. Demonstrated on a
    // synthesized two-record .warc.gz (the testdata has no crawl).
    val warcPath = {
      val f = java.nio.file.Files.createTempFile("graft_example", ".warc.gz")
      val out = new java.io.FileOutputStream(f.toFile)
      for (i <- 1 to 2) {
        val body = s"<html><body><p>example doc $i</p></body></html>"
        val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
        val rec = s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Record-ID: <urn:uuid:$i>\r\n" +
          s"WARC-Target-URI: http://example.com/$i\r\n" +
          s"Content-Type: application/http; msgtype=response\r\n" +
          s"Content-Length: ${http.length}\r\n\r\n$http\r\n\r\n"
        val g = new java.util.zip.GZIPOutputStream(out)
        g.write(rec.getBytes("ISO-8859-1")); g.finish()
      }
      out.close(); f.toString
    }
    val crawled = graft.sources.WarcSource.read(spark, warcPath)
      .filter(col("http_status") === 200)
      .select(col("url"),
        graft.functions.WebFunctions.stripHtml(
          decode(col("http_body"), "UTF-8")).as("text"))
    println(s"crawl ingest: ${crawled.count()} HTTP 200 pages -> text")

    // 1. per-document quality + language (pure column expressions) +
    //    Gopher-style repetition gate (drop boilerplate/spam docs)
    val rep = TextAnalysisFunctions.repetitionStats(docs, "doc_id", "text")
    val scored = docs
      .withColumn("quality", TextAnalysisFunctions.qualityScore(col("text")))
      .withColumn("lang_guess", TextAnalysisFunctions.langIdGuess(col("text")))
      .filter(col("quality") >= 0.5)
      .join(rep.select(col("doc_id"), col("top_bigram_frac")), Seq("doc_id"))
      .filter(col("top_bigram_frac") < 0.2).drop("top_bigram_frac")

    // 1b. LM-perplexity gate (the CCNet recipe): train the bigram LM on
    //     the corpus itself, drop the least-probable tail — boilerplate
    //     and gibberish score high-perplexity under the corpus LM
    val ppl = TextAnalysisFunctions.lmPerplexity(docs, "doc_id", "text", alpha = 0.5)
    val pplCut = ppl.agg(expr("percentile(perplexity, 0.95)")).head().getDouble(0)
    val fluent = scored
      .join(ppl.select("doc_id", "perplexity"), Seq("doc_id"))
      .filter(col("perplexity") <= pplCut).drop("perplexity")

    // 2. exact dedup: keep the lowest doc_id per normalized content hash
    val exactKept = fluent
      .withColumn("__h", DedupFunctions.contentHash(col("text")))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("__h").orderBy("doc_id")))
      .filter(col("__rk") === 1).drop("__h", "__rk")

    // 3. near-dedup: MinHash-LSH pairs → transitive clusters → keep the
    //    cluster representative (pair-sized state, corpus never collected)
    val pairs = DedupFunctions.minhashNearDuplicates(
      exactKept, "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
      threshold = 0.8)
    val clusters = DedupFunctions.nearDupClusters(pairs.select("a", "b"))
    val decision = DedupFunctions.dedupDecision(exactKept, "doc_id", clusters)
    val deduped = exactKept.join(
      decision.filter(col("keep")).select("doc_id"), Seq("doc_id"))

    // 3b. semantic dedup (SemDeDup) over the document embeddings:
    //     cluster by nearest centroid, prune within-cluster cosine
    //     duplicates — catches paraphrases the shingle families miss.
    //     On a real cluster set a checkpoint dir (fault-tolerant
    //     checkpoints, see Lineage).
    val sem = SimilarityFunctions.semDedup(
      graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      clusters = 16, threshold = 0.35)
    val semKept = deduped.join(
      sem.filter(!col("is_dup")).select(col("vec_id").as("doc_id")), Seq("doc_id"))

    // 4. benchmark decontamination: drop docs sharing a 3-gram with the
    //    held-out eval slice (broadcast probe — the corpus never
    //    shuffles for this)
    val contaminated = DedupFunctions.decontaminate(
      semKept, "doc_id", "text",
      benchCond = col("doc_id") % 50 === 0, n = 3)
    val curated = semKept
      .filter(col("doc_id") % 50 =!= 0) // the bench slice itself stays out
      .join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")

    // 5. domain-mix report: what the α=0.5 temperature sampler would
    //    keep per source at a 25% token budget
    val mix = CurationFunctions.domainMixWeights(
      curated, "doc_id", "text", "source", targetFrac = 0.25)

    // 6. chunk to training windows, count tokens per chunk, pack the
    //    curated docs into 512-token training sequences per source
    val chunks = TextFunctions.chunkText(curated, "doc_id", "text",
      size = 512, stride = 384)
      .withColumn("n_tokens", TextAnalysisFunctions.wsTokenCount(col("chunk")))
    val packed = CurationFunctions.packSequences(
      curated, "doc_id", "text", "source", budget = 512)

    // 7. curation report + write
    val report = chunks.agg(
      count(lit(1)).as("n_chunks"),
      sum(col("n_tokens")).as("total_tokens"),
      round(avg(col("n_tokens")), 2).as("avg_tokens_per_chunk")).head()
    val nDocs = docs.count(); val nCurated = curated.count()
    val nContam = contaminated.count(); val nBins = packed.count()
    println(s"docs: $nDocs -> curated: $nCurated " +
      s"(quality+repetition+dedup removed ${nDocs - nCurated - nContam}, " +
      s"decontamination removed $nContam)")
    println(s"packed into $nBins training-sequence bins; " +
      s"top sources by sampled mass:")
    mix.orderBy(col("weight").desc).limit(3).collect()
      .foreach(r => println(s"  $r"))
    println(s"chunks: ${report.getLong(0)}, tokens: ${report.getLong(1)}, " +
      s"avg/chunk: ${report.getDouble(2)}")

    // final write Z-order-clustered on (doc id, chunk token count):
    // training-shard readers filter by doc ranges AND token-length
    // buckets, and the Morton layout row-group-skips on both
    val out = java.nio.file.Files.createTempDirectory("graft_curated").toString
    val maxDoc = chunks.agg(max("doc_id")).head().getLong(0)
    val maxTok = chunks.agg(max("n_tokens")).head().getInt(0).toLong
    graft.operators.Layout.zorderWrite(chunks, s"$out/chunks",
      "doc_id", "n_tokens", (0L, maxDoc), (0L, maxTok),
      bits = 16, partitions = 8)
    println(s"curated chunks written z-ordered to $out/chunks")

    pairs.unpersist(); clusters.unpersist()
    require(nCurated > 0 && report.getLong(0) > 0, "pipeline produced no data")
    spark.stop()
  }
}
