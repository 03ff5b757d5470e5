package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.DedupFunctions._

/** Property tests for the provable-recall dedup pipelines: on random
  * small-vocabulary corpora (small vocab forces heavy shingle overlap
  * — the adversarial regime for prefix filtering), the prefix-filtered
  * scale paths must return EXACTLY the brute-force pair sets. Seeded
  * generators keep runs reproducible and the Spark job count bounded.
  */
class DedupPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Random corpus: `n` docs of 6..30 words over a `vocab`-word
    * alphabet (word `w0..w{vocab-1}`). */
  private def corpus(seed: Long, n: Int, vocab: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val len = 6 + rnd.nextInt(25)
      (i.toLong, Seq.fill(len)(s"w${rnd.nextInt(vocab)}").mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("property: jaccardPairs(word-3-grams) equals brute force on random corpora") {
    for (seed <- 1L to 5L) {
      val docs = corpus(seed, n = 40, vocab = 8)
        .filter(size(split(col("text"), " ")) >= 3)
      val t = 0.4
      val fast = {
        val p = jaccardPairs(docs, "doc_id", "text", wordShingles(_, 3), t)
        val r = p.select("a", "b").as[(Long, Long)].collect().toSet
        p.unpersist(blocking = false); r
      }
      // brute force in the SAME measure (40-bit hashed shingle space)
      val sh = docs.select(col("doc_id"),
        array_sort(array_distinct(transform(wordShingles(col("text"), 3),
          s => conv(md5(s).substr(lit(1), lit(10)), 16, 10).cast("long")))).as("hs"))
      val brute = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
        .withColumn("jac", graft.expressions.HashExpressions.sorted_long_jaccard(
          col("x.hs"), col("y.hs")))
        .filter(col("jac") >= t)
        .select(col("x.doc_id"), col("y.doc_id")).as[(Long, Long)].collect().toSet
      assert(fast == brute, s"seed=$seed fast-only=${fast -- brute} missed=${brute -- fast}")
    }
  }

  test("property: containmentPairs equals brute force on random corpora") {
    // containmentPairs always runs its stripe-sketch gate, so this also
    // pins the gate loosening-only end to end (seeds 21..23 are the
    // small-set corpora the gate was first checked on)
    for (seed <- (11L to 15L) ++ (21L to 23L)) {
      val docs = corpus(seed, n = 40, vocab = 8)
        .filter(size(split(col("text"), " ")) >= 3)
      val t = 0.7
      val fast = {
        val p = containmentPairs(docs, "doc_id", "text", shingleN = 3, threshold = t)
        val r = p.select("a", "b").as[(Long, Long)].collect().toSet
        p.unpersist(blocking = false); r
      }
      val sh = docs.select(col("doc_id"),
        array_sort(array_distinct(transform(wordShingles(col("text"), 3),
          s => conv(md5(s).substr(lit(1), lit(10)), 16, 10).cast("long")))).as("hs"))
      val brute = sh.as("x").join(sh.as("y"),
          col("x.doc_id") =!= col("y.doc_id"))
        .withColumn("c",
          graft.expressions.HashExpressions.sorted_long_intersect_count(
            col("x.hs"), col("y.hs")).cast("double") / size(col("x.hs")).cast("double"))
        .filter(col("c") >= t)
        .select(col("x.doc_id"), col("y.doc_id")).as[(Long, Long)].collect().toSet
      assert(fast == brute, s"seed=$seed fast-only=${fast -- brute} missed=${brute -- fast}")
    }
  }

  test("property: winnowingPairs equals a driver replay; planted >= w+k-1 passages always pair") {
    import graft.functions.TextAnalysisFunctions.winnowingPairs
    val (k, w) = (8, 4)
    def hash40(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(5).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    def fps(t: String): Set[Long] =
      if (t.length < k + w - 1) Set.empty
      else {
        val hs = t.sliding(k).map(hash40).toVector
        (0 to hs.length - w).map(i => hs.slice(i, i + w).min).toSet
      }
    for (seed <- 31L to 33L) {
      val rnd = new scala.util.Random(seed)
      def randStr(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
      // exactly the guarantee length: one full shared window
      val shared = randStr(k + w - 1)
      def plant(t: String) = {
        val p = rnd.nextInt(t.length); t.take(p) + shared + t.drop(p)
      }
      val docs = (0 until 30).map { i =>
        val t = randStr(20 + rnd.nextInt(40))
        (i.toLong, if (i == 3 || i == 17) plant(t) else t)
      }
      val df = docs.toDF("doc_id", "text")
      val fpOf = docs.map { case (id, t) => id -> fps(t) }.toMap
      def replay(keptOf: Map[Long, Set[Long]]) = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        n = (keptOf(a) intersect keptOf(b)).size if n >= 1
      } yield (a, b) -> n).toMap
      // maxDf = 0 opts OUT of the capped default: this law replays the
      // exhaustive (uncapped) algorithm; the capped law follows below
      val got = winnowingPairs(df, "doc_id", "text", k, w, minShared = 1,
          maxDf = 0)
        .select("a", "b", "shared_fp").as[(Long, Long, Int)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got == replay(fpOf), s"seed=$seed")
      assert(got.contains((3L, 17L)),
        s"seed=$seed planted pair missed — the MOSS guarantee is broken")
      // df-capped variant = replay that drops hot fingerprints first
      val cap = 2
      val dfCount = fpOf.values.toSeq.flatten.groupBy(identity).map {
        case (fp, xs) => fp -> xs.size }
      val keptOf = fpOf.map { case (id, s) =>
        id -> s.filter(dfCount(_) <= cap) }
      val gotCap = winnowingPairs(df, "doc_id", "text", k, w,
          minShared = 1, maxDf = cap)
        .select("a", "b", "shared_fp").as[(Long, Long, Int)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(gotCap == replay(keptOf), s"seed=$seed capped")
    }
  }

  test("property: spanDedup reassembly preserves every first-occurrence span verbatim") {
    for (seed <- 21L to 23L) {
      val docs = corpus(seed, n = 25, vocab = 4) // tiny vocab → real span collisions
      val out = spanDedup(docs, "doc_id", "text", spanWords = 5)
        .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
      // driver-side replay of the keep-first rule
      val local = docs.select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1)
      val seen = scala.collection.mutable.Set[String]()
      val expect = scala.collection.mutable.Map[Long, String]()
      for ((id, text) <- local) {
        val spans = text.split(" ").grouped(5).map(_.mkString(" ")).toSeq
        val kept = spans.filter(sp => seen.add(sp))
        if (kept.nonEmpty) expect(id) = kept.mkString(" ")
      }
      assert(out == expect.toMap, s"seed=$seed")
    }
  }

  test("property: lmPerplexity equals a naive driver-side LM replay on random corpora") {
    import graft.functions.TextAnalysisFunctions.lmPerplexity
    for (seed <- 41L to 43L) {
      val docs = corpus(seed, n = 30, vocab = 6)
      val out = lmPerplexity(docs, "doc_id", "text", alpha = 0.5)
        .select("doc_id", "n_bigrams", "avg_logprob")
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      // naive replay: full count tables in plain Scala maps
      val local = docs.select("doc_id", "text").as[(Long, String)].collect()
      val toks = local.map { case (id, t) => id -> t.split(" ").toSeq }
      val bigrams = toks.flatMap { case (id, ws) =>
        ws.sliding(2).filter(_.size == 2).map(p => (id, p.head, p(1))) }
      val cb = bigrams.groupBy(b => (b._2, b._3)).map { case (k, v) => k -> v.size }
      val cu = bigrams.groupBy(_._2).map { case (k, v) => k -> v.size }
      val vsz = toks.flatMap(_._2).distinct.size
      def micro(w1: String, w2: String): Long =
        BigDecimal(math.log((cb((w1, w2)) + 0.5) / (cu(w1) + 0.5 * vsz)) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val expect = bigrams.groupBy(_._1).map { case (id, bs) =>
        val micros = bs.map(b => micro(b._2, b._3))
        val s = micros.sum; val n = micros.size
        // integer half-away mean — the operator's contract
        val q = (if (s < 0) -1L else 1L) * ((2 * math.abs(s) + n) / (2L * n))
        id -> (n.toLong, q.toDouble / 1e6)
      }
      assert(out == expect, s"seed=$seed diff=${
        out.toSet.diff(expect.toSet).take(3)} / ${expect.toSet.diff(out.toSet).take(3)}")
    }
  }

  test("property: decontaminate equals a naive gram-set intersection") {
    for (seed <- 31L to 33L) {
      val docs = corpus(seed, n = 30, vocab = 6)
        .filter(size(split(col("text"), " ")) >= 3)
      val out = decontaminate(docs, "doc_id", "text",
          benchCond = col("doc_id") % 5 === 0, n = 3)
        .select("doc_id", "n_hits").as[(Long, Int)].collect().toMap
      val local = docs.select("doc_id", "text").as[(Long, String)].collect()
      def grams(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val bench = local.filter(_._1 % 5 == 0).flatMap(d => grams(d._2)).toSet
      val expect = local.filter(_._1 % 5 != 0)
        .map { case (id, t) => id -> grams(t).count(bench) }
        .filter(_._2 > 0).toMap
      assert(out == expect, s"seed=$seed")
    }
  }

  test("property: simhashNearDuplicates equals brute-force hamming at every legal radius") {
    // the 4-byte-band pigeonhole must have 100% recall up to hamming 3:
    // for every pair within radius, at least one byte of the 32-bit
    // hash is untouched, so they share that band. Near-identical docs
    // (one token swapped) land at small hamming distances; the brute
    // force recomputes hamming over ALL pairs of hashes.
    val rnd = new scala.util.Random(909)
    val vocab = Vector("kappa", "lambda", "mu", "nu", "xi", "omicron", "pi", "rho")
    val baseDocs = Seq.tabulate(12)(i =>
      Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val docs = baseDocs.zipWithIndex.flatMap { case (t, i) =>
      val toks = t.split(" ")
      val mutated = toks.updated(rnd.nextInt(toks.length),
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
      Seq((i * 2L, t), (i * 2L + 1L, mutated))
    }.toDF("doc_id", "text")
    val hashes = docs.select(col("doc_id"),
        graft.expressions.HashExpressions.simhash32_native(
          split(col("text"), " ")).as("h"))
      .as[(Long, Long)].collect()
    for (radius <- 0 to 3) {
      val want = (for {
        (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
        d = java.lang.Long.bitCount(ha ^ hb) if d <= radius
      } yield (ia, ib, d)).toSet
      val pairs = simhashNearDuplicates(docs, "doc_id", "text", maxHamming = radius)
      val got = pairs.as[(Long, Long, Int)].collect()
        .map(r => (r._1, r._2, r._3)).toSet
      pairs.unpersist()
      assert(got == want,
        s"radius $radius: missed ${want -- got}, extra ${got -- want}")
    }
  }

  test("property: shingle kernels equal the HOF forms on random unicode text") {
    // the kernels walk raw UTF-8 bytes by hand — fuzz them with text
    // mixing ASCII, multi-byte scripts, doubled/leading/trailing
    // spaces, and boundary lengths around every n/k
    val alphabet = "ab α漢🦜 é ن"
    val rnd = new scala.util.Random(7L)
    val texts = (0 until 300).map { i =>
      val len = rnd.nextInt(12)
      (i.toLong, Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val df = texts.toDF("id", "text")
    for (n <- Seq(1, 2, 3); k <- Seq(1, 2, 5)) {
      val wDiff = df.select(
          wordShingles(col("text"), n).as("a"),
          wordShinglesHof(col("text"), n).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(wDiff == 0, s"wordShingles n=$n")
      val cDiff = df.select(
          charShingles(col("text"), k).as("a"),
          charShinglesHof(col("text"), k).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(cDiff == 0, s"charShingles k=$k")
    }
  }
}
