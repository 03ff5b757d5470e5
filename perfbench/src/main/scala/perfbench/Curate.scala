package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CurationFunctions, DedupFunctions, TextAnalysisFunctions, TextFunctions}

/** The batch curation job (the example pipeline's steps 1-7): quality,
  * language and repetition gates, the LM-perplexity gate, exact dedup,
  * MinHash-LSH near-dup pairs, clusters and the keep decision,
  * decontamination against the eval slice, sequence packing and
  * chunking, and the Z-ordered write. Traced at 1000 docs, a cold pass
  * spends about a third each in the text gates (executor CPU) and the
  * cluster loop (driver time between 38 small jobs), a fifth in the
  * write and an eighth in MinHash and the verify; about a third of it is
  * JVM and first-job warm-up. None of it touches a persisted store. */
final class Curate(spark: SparkSession, docs: Int) extends Workload {

  /** Decontamination n-gram length. 8 keeps chance collisions of a
    * Zipf vocabulary out, so only the planted quotes match. */
  val DecontamN = 8
  private var facts: Gen.CurateFacts = _

  def generate(seed: Long, dir: String): Unit = {
    facts = Gen.curate(seed, docs)
    Gen.writeCurate(spark, facts, dir)
  }

  private val Spans = Set("text.lm_gate", "dedup.minhash", "dedup.clusters", "curate.write")

  def samples(spans: Seq[Span]): Seq[(String, Double)] =
    Seq("docs_per_s" -> docs / spans.filter(s => Spans(s.name)).map(_.wall).sum)

  def pass(t: Tracer, dir: String, out: String): PassOut = {
    val fluent = t.span("text.lm_gate") {
      val input = spark.read.parquet(s"$dir/docs")
      val rep = TextAnalysisFunctions.repetitionStats(input, "doc_id", "text")
      val scored = input
        .withColumn("quality", TextAnalysisFunctions.qualityScore(col("text")))
        .withColumn("lang_guess", TextAnalysisFunctions.langIdGuess(col("text")))
        .filter(col("quality") >= 0.5 && col("lang_guess") === "en")
        .join(rep.select(col("doc_id"), col("top_bigram_frac")), Seq("doc_id"))
        .filter(col("top_bigram_frac") < 0.2).drop("top_bigram_frac")
      val ppl = TextAnalysisFunctions.lmPerplexity(input, "doc_id", "text", alpha = 0.5)
      val cut = ppl.agg(expr("percentile(perplexity, 0.95)")).head().getDouble(0)
      val f = scored.join(ppl.select("doc_id", "perplexity"), Seq("doc_id"))
        .filter(col("perplexity") <= cut).drop("perplexity")
        .persist()
      f.count()
      f
    }
    val exactKept = fluent
      .withColumn("__h", DedupFunctions.contentHash(col("text")))
      .withColumn("__rk", row_number().over(Window.partitionBy("__h").orderBy("doc_id")))
      .filter(col("__rk") === 1).drop("__h", "__rk")
    val pairs = t.span("dedup.minhash") {
      DedupFunctions.minhashNearDuplicates(exactKept, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
    }
    val (clusters, deduped) = t.span("dedup.clusters") {
      val clusters = DedupFunctions.nearDupClusters(pairs.select("a", "b"))
      val decision = DedupFunctions.dedupDecision(exactKept, "doc_id", clusters)
      val d = exactKept.join(decision.filter(col("keep")).select("doc_id"), Seq("doc_id")).persist()
      d.count()
      (clusters, d)
    }
    t.span("curate.write") {
      // the held-out eval slice is the benchmark set as generated, not
      // what of it survived the gates: decontaminate takes its bench
      // docs from its input, so the raw slice rides along
      val isEval = col("doc_id") % Gen.EvalMod === 0
      val evalSlice = spark.read.parquet(s"$dir/docs").filter(isEval).select("doc_id", "text", "source")
      val contaminated = DedupFunctions.decontaminate(
        deduped.select("doc_id", "text", "source").unionByName(evalSlice),
        "doc_id", "text", benchCond = isEval, n = DecontamN)
      val curated = deduped
        .filter(!isEval)
        .join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
      CurationFunctions.packSequences(curated, "doc_id", "text", "source", budget = 512)
        .write.mode("overwrite").parquet(s"$out/packed")
      val chunks = TextFunctions.chunkText(curated, "doc_id", "text", size = 512, stride = 384)
        .withColumn("n_tokens", TextAnalysisFunctions.wsTokenCount(col("chunk")))
      val r = chunks.agg(max("doc_id"), max("n_tokens")).head()
      graft.operators.Layout.zorderWrite(chunks, s"$out/chunks", "doc_id", "n_tokens",
        (0L, r.getLong(0)), (0L, r.getInt(1).toLong), bits = 16, partitions = 8)
    }
    Seq(fluent, pairs, clusters, deduped).foreach(_.unpersist(blocking = true))
    PassOut(Nil, () => check(out))
  }

  /** The curated output against the planted facts. */
  private def check(out: String): Seq[String] = {
    val kept = spark.read.parquet(s"$out/chunks").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    Main.deleteTree(new java.io.File(out))
    val text = facts.docs.map(d => d.id -> d.text).toMap
    val bad = Seq.newBuilder[String]
    if (kept.size < docs / 3) bad += s"only ${kept.size} of $docs docs curated"
    facts.exactCopies.filter(p => kept(p._1)).foreach { case (c, o) =>
      bad += s"exact copy $c of $o survived" }
    val norm = kept.toSeq.groupBy(id => text(id).toLowerCase.split("\\s+").mkString(" "))
    norm.values.filter(_.size > 1).foreach(ids => bad += s"docs ${ids.sorted.mkString(",")} share a text")
    facts.nearPairs.filter { case (a, b, j) => j >= 0.9 && kept(a) && kept(b) }
      .foreach { case (a, b, j) => bad += f"near copies $a and $b (jaccard $j%.3f) both survived" }
    facts.junk.filter(kept).foreach(id => bad += s"junk doc $id survived")
    val evalGrams = facts.evalIds.flatMap(id => Gen.shingles(text(id), DecontamN)).toSet
    kept.foreach { id =>
      if (id % Gen.EvalMod == 0) bad += s"eval doc $id survived"
      else if (Gen.shingles(text(id), DecontamN).exists(evalGrams)) bad += s"doc $id shares an n-gram with the eval slice"
    }
    bad.result()
  }
}
