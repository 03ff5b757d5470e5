package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.DedupFunctions._

/** Transitive-clustering correctness on adversarial graph shapes: the
  * oracle-checked d6 exercises shallow real clusters; these pin the
  * deep/degenerate topologies (path-halving must still find the true
  * min label, not a locally-propagated one). */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("a 64-node path graph clusters to its minimum endpoint") {
    // worst case for plain min-label propagation (diameter = n-1);
    // path halving converges in O(log n) rounds
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = nearDupClusters(pairs)
    val got = labels.select("id", "cluster").as[(Long, Long)].collect().toMap
    assert(got.size == 64)
    assert(got.values.forall(_ == 0L), got.filter(_._2 != 0L).toString)
    labels.unpersist()
  }

  test("disjoint components get their own min labels (star + chain + pair)") {
    val pairs = Seq(
      // star centered at 100 (edges listed high-to-low to exercise both directions)
      (100L, 101L), (102L, 100L), (100L, 103L),
      // chain 7-5-3 written out of order
      (5L, 3L), (7L, 5L),
      // isolated pair
      (200L, 201L)
    ).toDF("a", "b")
    val labels = nearDupClusters(pairs)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == Map(100L -> 100L, 101L -> 100L, 102L -> 100L, 103L -> 100L,
      3L -> 3L, 5L -> 3L, 7L -> 3L, 200L -> 200L, 201L -> 200L))
    labels.unpersist()
  }

  test("reliable-checkpoint mode produces identical clusters") {
    // cluster path: a session checkpoint dir turns every cut into a
    // fault-tolerant checkpoint() instead of localCheckpoint()
    // (executor-loss-safe at 100 TB)
    val pairs = ((0L until 63L).map(i => (i, i + 1)) ++ Seq((200L, 201L)))
      .toDF("a", "b")
    def clusters(): Map[Long, Long] = {
      val labels = nearDupClusters(pairs)
      try labels.as[(Long, Long)].collect().toMap finally labels.unpersist()
    }
    val local = clusters()
    val rel = SparkTestSession.withCheckpointDir(_ => clusters())
    assert(rel == local)
    assert(local.size == 66)
  }

  test("degenerate graphs: no pairs ends with an empty frame, one pair converges") {
    // the empty graph's only round sums its changed labels over no rows
    // (null); read as anything but 0 the loop would never end
    val empty = scala.concurrent.Await.result(
      scala.concurrent.Future(nearDupClusters(Seq.empty[(Long, Long)].toDF("a", "b")))(
        scala.concurrent.ExecutionContext.global),
      scala.concurrent.duration.Duration(2, "min"))
    assert(empty.columns.toSeq == Seq("id", "cluster") && empty.count() == 0L)
    val single = nearDupClusters(Seq((9L, 4L)).toDF("a", "b"))
    assert(single.as[(Long, Long)].collect().toMap == Map(4L -> 4L, 9L -> 4L))
    empty.unpersist(); single.unpersist()
  }

  test("a call frees every cut it made: only the returned frame stays persisted") {
    val sc = spark.sparkContext
    val pairs = ((0L until 63L).map(i => (i, i + 1)) :+ ((200L, 201L))).toDF("a", "b")
    val before = sc.getPersistentRDDs.keySet
    val out = nearDupClusters(pairs)
    val during = sc.getPersistentRDDs.keySet
    assert(out.count() == 66L)
    out.unpersist(blocking = true)
    // subset, not equality: the registry holds its RDDs weakly, so GC
    // may drop an entry an earlier suite left behind
    assert((during -- before).size == 1, s"registered by the call: ${during -- before}")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("after the entry cut every query the loop runs plans over cut leaves only") {
    import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    // the caller's pipeline: a persisted frame and two joins; 10
    // chains of 8 ids, so the loop runs several rounds
    val docs = spark.range(80).select(col("id"), (col("id") / 8L).cast("long").as("g")).persist()
    docs.count()
    val pairs = docs.as("l").join(docs.as("r"), col("l.g") === col("r.g") && col("r.id") === col("l.id") + 1L)
      .join(docs.select(col("id").as("k")), col("r.id") === col("k"))
      .select(col("r.id").as("a"), col("l.id").as("b"))
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[QueryExecution])
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    drain()
    spark.listenerManager.register(listener)
    val out = try { val o = nearDupClusters(pairs); drain(); o }
      finally spark.listenerManager.unregister(listener)
    try {
      val queries = seen.toArray.toSeq.map(_.asInstanceOf[QueryExecution])
      // the entry cut, the seeded labels, the rounds, the final count
      assert(queries.size >= 5, s"${queries.size} queries")
      assert(!queries.head.analyzed.collectLeaves().forall(_.isInstanceOf[LogicalRDD]),
        "the first query is the entry cut over the caller's pipeline")
      // the only cache a query may read is the returned frame's own
      // (the final count materializes it); a persisted edge set would
      // show here with the caller's whole pipeline in its cached plan
      val own = out.queryExecution.withCachedData.collect { case r: InMemoryRelation => r.cacheBuilder }
      assert(own.size == 1)
      queries.tail.foreach { qe =>
        val leaves = qe.analyzed.collectLeaves()
        assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]), qe.analyzed.treeString)
        assert(qe.optimizedPlan.collect { case r: InMemoryRelation => r.cacheBuilder }.forall(own.contains),
          qe.optimizedPlan.treeString)
      }
      assert(out.as[(Long, Long)].collect().toMap == (0L until 80L).map(i => i -> i / 8L * 8L).toMap)
    } finally { out.unpersist(); docs.unpersist() }
  }

  test("dedupDecision keeps exactly one representative per cluster") {
    val docs = (0L until 10L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("a", "b")
    val labels = nearDupClusters(pairs)
    val decision = dedupDecision(docs, "doc_id", labels)
    val kept = decision.filter(col("keep")).select("doc_id").as[Long].collect().toSet
    // 1 represents {1,2,3}, 8 represents {8,9}, singletons represent themselves
    assert(kept == Set(0L, 1L, 4L, 5L, 6L, 7L, 8L))
    labels.unpersist()
  }

  test("incrementalNearDuplicates finds new-old and new-new pairs, never old-old") {
    import graft.functions.DedupFunctions.incrementalNearDuplicates
    def doc(s: String) = (1 to 6).map(i => s"$s$i").mkString(" ")
    // old: 1≈2 near-dup (old-old — must NOT appear), 3 unique
    val t = doc("w")
    val old = Seq((1L, t), (2L, t), (3L, doc("q"))).toDF("doc_id", "text")
    // new: 10 copies t (pairs with 1 and 2), 11 copies q, 12 unique, 13 copies 12
    val fresh = Seq((10L, t), (11L, doc("q")), (12L, doc("z")), (13L, doc("z")))
      .toDF("doc_id", "text")
    val out = incrementalNearDuplicates(old, fresh, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
    val pairs = out.select("a", "b").as[(Long, Long)].collect().toSet
    out.unpersist()
    assert(pairs == Set((1L, 10L), (2L, 10L), (3L, 11L), (12L, 13L)))
  }

  test("clusterSplit never splits a cluster (leakage-safe by construction)") {
    // 30 docs in ONE cluster + 10 singletons: a per-doc 80/20 split
    // would straddle the big cluster with probability 1 − 2·0.8^30;
    // the cluster-keyed split must land all 30 on one side.
    val docs = ((0L until 30L).map(i => (i, "w x y z")) ++
      (100L until 110L).map(i => (i, "p q r s"))).toDF("doc_id", "text")
    val clusters = (0L until 30L).map(i => (i, 0L)).toDF("id", "cluster")
    val out = clusterSplit(docs, "doc_id", "text", clusters, trainFrac = 0.8)
      .select("split", "n_docs", "n_clusters", "n_tokens")
      .as[(String, Int, Int, Long)].collect().map(r => r._1 -> r).toMap
    // the big cluster contributes 30 docs / 1 cluster to exactly one side
    assert(out.values.count(_._2 >= 30) == 1)
    assert(out.values.map(_._2).sum == 40 && out.values.map(_._3).sum == 11)
    assert(out.values.map(_._4).sum == 160L) // 40 docs × 4 tokens
    // no split holds a partial big cluster: doc counts are 30·k + singletons
    out.values.foreach { case (_, nd, nc, _) =>
      val hasBig = nd >= 30
      assert(if (hasBig) nd - 30 == nc - 1 else nd == nc)
    }
  }

  test("spanDedup drops exactly the repeated spans and reassembles in order") {
    // doc 1: spans A B; doc 2: spans B C (B repeats -> dropped);
    // doc 3: A B (everything repeats -> doc vanishes)
    val A = (1 to 3).map(i => s"a$i").mkString(" ")
    val B = (1 to 3).map(i => s"b$i").mkString(" ")
    val C = "c1 c2" // short tail span
    val docs = Seq(
      (1L, s"$A $B"), (2L, s"$B $C"), (3L, s"$A $B")
    ).toDF("doc_id", "text")
    val out = spanDedup(docs, "doc_id", "text", spanWords = 3)
      .select("doc_id", "clean_text", "n_spans", "kept_spans")
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, s"$A $B", 2, 2), (2L, C, 2, 1)))
  }

  test("spanDedupScale agrees with spanDedup, including on a hot boilerplate span") {
    // 60 docs ALL opening with the same boilerplate span (d8b's design
    // case: the window twin sorts this whole group in one task; the
    // scale twin pre-reduces it map-side) + per-doc unique tails, plus
    // a seeded random corpus over a tiny vocab for cross-doc repeats
    val rnd = new scala.util.Random(11)
    val boiler = "cookie policy applies"
    val docs = ((0 until 60).map { i =>
      (i.toLong, s"$boiler tail$i a$i b$i")
    } ++ (100 until 140).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(9))(s"w${rnd.nextInt(6)}").mkString(" "))
    }).toDF("doc_id", "text").repartition(7)
    def run(f: (org.apache.spark.sql.DataFrame, String, String, Int) => org.apache.spark.sql.DataFrame) =
      f(docs, "doc_id", "text", 3)
        .select("doc_id", "clean_text", "n_spans", "kept_spans")
        .as[(Long, String, Int, Int)].collect().sortBy(_._1).toSeq
    assert(run(spanDedup) == run(spanDedupScale))
  }

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    val docs = Seq(
      (0L, "alpha beta gamma delta"),        // benchmark (id % 2 == 0 plays the slice)
      (1L, "zeta beta gamma delta epsilon"), // shares "beta gamma delta" etc.
      (3L, "one two three four five")        // clean
    ).toDF("doc_id", "text")
    val out = decontaminate(docs, "doc_id", "text",
        benchCond = col("doc_id") % 2 === 0, n = 3)
      .as[(Long, Int, Double)].collect().toSeq
    // doc 1 has 3-grams {zeta beta gamma, beta gamma delta, gamma delta epsilon};
    // exactly one is in the benchmark set
    assert(out == Seq((1L, 1, 0.333333)))
  }

  test("minhash family: prefix-extension near-dups all collide (shared-line family regression)") {
    // the adversarial shape for the pre-round-7 h1 + j·h2 family: doc
    // and doc+" extra" share all but one shingle (jac ≈ 0.94), yet if
    // the extra shingle drew the minimum h2 it decided the min for
    // most members at once and the pair missed EVERY band (~1/|doc|
    // odds per pair — ~70% odds of at least one miss on this fixture).
    // With independent per-member coefficient draws the miss odds are
    // (1-j^4)^16 ≈ 3e-11 per pair; all 30 planted pairs must be found.
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon".split(" ")
    val rnd = new scala.util.Random(11L)
    val docs = (0 until 30).flatMap { i =>
      val body = Seq.fill(18)(words(rnd.nextInt(words.length))).mkString(" ")
      Seq((i.toLong * 2, body), (i.toLong * 2 + 1, body + s" extra$i"))
    }.toDF("doc_id", "text")
    val pairs = minhashNearDuplicates(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
    val found = pairs.select("a", "b").as[(Long, Long)].collect().toSet
    pairs.unpersist(blocking = false)
    val expectedPlanted = (0 until 30).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    assert(expectedPlanted.subsetOf(found),
      s"missed planted pairs: ${(expectedPlanted -- found).take(5)}")
  }

  test("incrementalDedup finds planted cross-batch dups and nothing else") {
    val ref = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ALPHA  beta gamma"),   // normalizes to ref doc 1
      (11L, "eta theta iota")       // novel
    ).toDF("doc_id", "text")
    val out = incrementalDedup(ref, batch, "doc_id", "text")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq
    assert(out == Seq((10L, 1L)))
    // empty reference → empty result (bloom build guarded)
    val empty = incrementalDedup(ref.filter(col("doc_id") < 0), batch,
      "doc_id", "text")
    assert(empty.count() == 0)
  }

  test("incrementalDedup with a saved/reloaded bloom state equals the direct run") {
    // the cross-RUN shape: build the sketch once, persist it, and a
    // later session pre-filters tonight's batch with the reloaded
    // bytes — no reference re-scan for the sketch
    val ref = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "ALPHA  beta gamma"), (11L, "eta theta iota"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom")
    val path = dir.resolve("ref.bloom").toString
    saveBloom(spark, path, buildContentBloom(ref, "text"))
    val viaState = incrementalDedup(ref, batch, "doc_id", "text",
        precomputedBloom = Some(loadBloom(spark, path)))
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq
    val direct = incrementalDedup(ref, batch, "doc_id", "text")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq
    assert(viaState == direct && viaState == Seq((10L, 1L)))
    // hadoop's LocalFileSystem writes a .crc sidecar — clean recursively
    java.nio.file.Files.walk(dir)
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
  }

  test("bloom byte format is pinned by a checked-in fixture (Spark-upgrade tripwire)") {
    // the sketch saved tonight must pre-filter tomorrow's batch even
    // if the cluster was upgraded in between: saveBloom bytes are
    // Spark's BloomFilter.writeTo format, consumed again by readFrom
    // inside bloom_might_contain. This fixture was written by
    // buildContentBloom under Spark 4.1.2 (tools/MakeBloomFixture) —
    // if an upgrade changes the serialized format OR the sketch
    // construction (hash seeds, bit sizing), one of these asserts
    // fails loudly instead of production sketches silently degrading.
    val in = getClass.getResourceAsStream("/fixtures/ref_content.bloom")
    assert(in != null, "fixture missing: src/test/resources/fixtures/ref_content.bloom")
    val fixture = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      Iterator.continually(in.read(buf)).takeWhile(_ > 0)
        .foreach(n => bos.write(buf, 0, n))
      bos.toByteArray
    } finally in.close()
    val ref = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    // construction determinism: the same corpus re-sketches to the
    // same bytes
    val rebuilt = buildContentBloom(ref, "text", expectedItems = 100L, fpp = 0.01)
    assert(java.util.Arrays.equals(fixture, rebuilt),
      s"bloom bytes changed: fixture ${fixture.length} B vs rebuilt ${rebuilt.length} B")
    // consumption: the fixture bytes drive the pre-filter end to end
    val batch = Seq((10L, "ALPHA  beta gamma"), (11L, "eta theta iota"))
      .toDF("doc_id", "text")
    val out = incrementalDedup(ref, batch, "doc_id", "text",
        precomputedBloom = Some(fixture))
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq
    assert(out == Seq((10L, 1L)))
  }

  test("winnowingFingerprints matches a driver-side replay of the algorithm") {
    import graft.functions.TextAnalysisFunctions.winnowingFingerprints
    val texts = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "abababababababab"), // periodic: few distinct fingerprints
      (3L, "shared tail the lazy dog"))
    val (k, w) = (5, 3)
    val out = winnowingFingerprints(texts.toDF("doc_id", "text"),
        "doc_id", "text", k, w)
      .select("doc_id", "n_fp", "fp_checksum").as[(Long, Int, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def hash40(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(5).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val expect = texts.map { case (id, t) =>
      val hs = t.sliding(k).map(hash40).toVector
      val mins = (0 to hs.length - w).map(i => hs.slice(i, i + w).min).distinct
      id -> ((mins.length, mins.sum))
    }.toMap
    assert(out == expect)
    // the guarantee winnowing exists for: docs 1 and 3 share a >=
    // (w+k-1)-char passage (" the lazy dog") -> they share a fingerprint
    val fpOf = texts.map { case (id, t) =>
      val hs = t.sliding(k).map(hash40).toVector
      id -> (0 to hs.length - w).map(i => hs.slice(i, i + w).min).toSet
    }.toMap
    assert((fpOf(1L) intersect fpOf(3L)).nonEmpty)
  }

  test("winnow_minima kernel ≡ the windowed reference form (optimization r18)") {
    import graft.functions.TextAnalysisFunctions.{winnowFps, winnowFpsWindowedReference}
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "abababababababab"), // periodic: few distinct fingerprints
      (3L, "shared tail the lazy dog"),
      (4L, "double  spaces   and trailing space "),
      (5L, "exactly12ch"), // == k+w-1 for (k=5,w=3)... boundary sizes below
      (6L, "tiny"), // below k: filtered by both forms
      (7L, "ürsprüngliche zeichenketten mit umlauten über ASCII hinaus"))
      .toDF("doc_id", "text")
    for ((k, w) <- Seq((5, 3), (8, 4), (2, 1))) {
      val kernel = winnowFps(texts, "doc_id", "text", k, w)
        .as[(Long, Long)].collect().toSet
      val ref = winnowFpsWindowedReference(texts, "doc_id", "text", k, w)
        .as[(Long, Long)].collect().toSet
      assert(kernel == ref, s"kernel != windowed reference at k=$k w=$w")
    }
  }

  test("repetitionStats matches hand-computed fractions") {
    import graft.functions.TextAnalysisFunctions.repetitionStats
    // 6 words: "x x x y z w" -> top word 3/6; bigrams: "x x" twice of 5
    // -> 2/5; trigrams: "x x x","x x y","x y z","y z w" all distinct -> 0
    val docs = Seq((1L, "x x x y z w")).toDF("doc_id", "text")
    val r = repetitionStats(docs, "doc_id", "text")
      .as[(Long, Double, Double, Double)].collect().head
    assert(r == ((1L, 0.5, 0.4, 0.0)))
    // "p q p q p q" -> trigrams: "p q p","q p q","p q p","q p q" -> 2
    // distinct of 4 occurrences -> dup frac 0.5
    val r2 = repetitionStats(Seq((2L, "p q p q p q")).toDF("doc_id", "text"),
      "doc_id", "text").as[(Long, Double, Double, Double)].collect().head
    assert(r2._4 == 0.5)
  }

  test("decontaminate (kernel form) equals the lead-window formulation on adversarial corpora") {
    // The round-12 rewrite replaced posexplode + lead() over a
    // (doc, pos) window with the native word_shingles kernel +
    // array_distinct. The fixture oracle pins the fixture; this pins
    // the EQUIVALENCE on the cases a crawl actually contains and the
    // fixture doesn't: double spaces (empty tokens are legal shingle
    // members under split-on-space), exactly-n-word docs, intra-doc
    // repeated shingles (set semantics), fully-contaminated docs, and
    // docs sharing no grams with the benchmark (inner join drops them).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.Column
    def reference(docs: DataFrame, benchCond: Column, n: Int): DataFrame = {
      val words = docs.filter(size(split(col("text"), " ")) >= n)
        .select(col("doc_id").as("__id"), benchCond.as("__bench"),
          posexplode(split(col("text"), " ")))
        .toDF("__id", "__bench", "__pos", "__w")
      val w = Window.partitionBy("__id").orderBy("__pos")
      val gram = (1 until n).foldLeft(col("__w")) { (acc, j) =>
        concat(acc, lit(" "), lead("__w", j).over(w))
      }
      val sh = words.withColumn("__s", gram)
        .filter(col("__s").isNotNull)
        .select("__id", "__bench", "__s").distinct()
      val bench = broadcast(sh.filter(col("__bench")).select("__s").distinct())
      val corpus = sh.filter(!col("__bench"))
      val grams = corpus.groupBy("__id").agg(count(lit(1)).as("__ngrams"))
      val hits = corpus.join(bench, Seq("__s"))
        .groupBy("__id").agg(count(lit(1)).as("__nhits"))
      grams.join(hits, Seq("__id"))
        .select(col("__id").as("doc_id"), col("__nhits").cast("int").as("n_hits"),
          round(col("__nhits").cast("double") / col("__ngrams").cast("double"), 6)
            .as("contam_frac"))
    }
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def sentence(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val adversarial = Seq(
      (100L, "alpha  beta gamma alpha  beta"),    // double spaces -> empty tokens
      (101L, "alpha beta gamma"),                 // exactly n words (n=3)
      (102L, "alpha beta"),                       // below n -> filtered out entirely
      (103L, "alpha beta gamma alpha beta gamma alpha beta gamma"), // repeated shingles
      (104L, "zeta zeta zeta zeta"),              // no overlap with benchmark
      (105L, sentence(40)), (106L, sentence(40))
    )
    val benchDocs = Seq(
      (1L, "alpha  beta gamma delta"),            // double space INSIDE the benchmark too
      (2L, sentence(30))
    )
    val docs = spark.createDataFrame(adversarial ++ benchDocs).toDF("doc_id", "text")
    for (n <- Seq(2, 3)) {
      val cond = col("doc_id") < 100L
      val got = graft.functions.DedupFunctions
        .decontaminate(docs, "doc_id", "text", cond, n)
        .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
      val want = reference(docs, cond, n)
        .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
      assert(got == want, s"n=$n kernel form diverged:\ngot  $got\nwant $want")
      assert(got.nonEmpty, s"n=$n: degenerate comparison (no contaminated docs)")
    }
  }

  test("empty-shingle docs never band together (NULL signatures, the dd963bf regression)") {
    import spark.implicits._
    // three docs too short to produce a 3-shingle, plus one real
    // near-dup pair: the empties must produce NO pairs at all (a NULL
    // signature has no bands), not an all-empties clique
    val docs = Seq(
      (1L, "a"), (2L, "b"), (3L, ""),
      (10L, "x y z w v u t s"), (11L, "x y z w v u t q")
    ).toDF("doc_id", "text")
    val pairs = graft.functions.DedupFunctions.minhashNearDuplicates(
      docs, "doc_id", "text", 3, numHashes = 16, bands = 4, threshold = 0.5)
    val got = pairs.select("a", "b").as[(Long, Long)].collect().toSet
    pairs.unpersist()
    assert(got == Set((10L, 11L)), s"got $got")
  }

  test("banding parameter guards fail fast (r=0 or non-divisible splits, oversized simhash radius)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("doc_id", "text")
    // bands > numHashes: r = 0 would band every doc identically
    intercept[IllegalArgumentException] {
      graft.functions.DedupFunctions.minhashNearDuplicates(
        docs, "doc_id", "text", 3, numHashes = 8, bands = 16, threshold = 0.5)
    }
    // non-divisible: trailing hashes would be silently discarded
    intercept[IllegalArgumentException] {
      graft.functions.DedupFunctions.minhashNearDuplicates(
        docs, "doc_id", "text", 3, numHashes = 100, bands = 8, threshold = 0.5)
    }
    // 4 byte-bands only pigeonhole up to hamming 3
    intercept[IllegalArgumentException] {
      graft.functions.DedupFunctions.simhashNearDuplicates(
        docs, "doc_id", "text", maxHamming = 5)
    }
  }

  test("exactSubstringDedup: canonical keeps, maximal-span merge, short docs pass through") {
    // L=10. doc 1 is canonical for the shared 25-char region
    // "ABCDEFGHIJKLMNOPQRSTUVWXY" (25 chars -> 16 dup grams in doc 2
    // merging to ONE span of 25); doc 3 repeats a region of doc 1
    // twice INSIDE itself; doc 4 is shorter than L.
    val shared = "ABCDEFGHIJKLMNOPQRSTUVWXY"      // 25 chars
    val d1 = s"xx${shared}yy"                      // canonical (id 1)
    val d2 = s"aaaa${shared}bbbb"                  // loses the region
    val d3 = s"qq${shared.take(12)}zz${shared.take(12)}ww" // 2nd copy self-dup
    val d4 = "short"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)).toDF("doc_id", "text")
    val out = exactSubstringDedup(docs, "doc_id", "text", L = 10)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "chars_removed", "clean_text")
      .as[(Long, Int, Int, String)].collect()

    val byId = out.map(r => r._1 -> r).toMap
    // doc 1: canonical for the 25-char region AND for its 12-char
    // prefix used by doc 3 -- nothing removed
    assert(byId(1L) == ((1L, 0, 0, d1)))
    // doc 2: the 16 duplicated 10-grams merge to exactly one 25-char span
    assert(byId(2L) == ((2L, 1, 25, "aaaabbbb")))
    // doc 3: both 12-char copies duplicate doc 1's grams; the SECOND
    // copy also self-duplicates -- both copies are removed whole
    assert(byId(3L) == ((3L, 2, 24, "qqzzww")))
    // doc 4: below L, passes through untouched with zero spans
    assert(byId(4L) == ((4L, 0, 0, "short")))
    // chars_removed always equals the length delta
    out.foreach { case (id, _, removed, clean) =>
      val orig = Map(1L -> d1, 2L -> d2, 3L -> d3, 4L -> d4)(id)
      assert(orig.length - clean.length == removed, s"doc $id")
    }
  }

  test("exactSubstringDedup: adjacent spans merge; span at position 1 and at text end") {
    // doc 20 = two canonical regions back to back -> its copy in doc
    // 21 merges to ONE span covering the whole text (empty rebuild)
    val a = "0123456789ABCDEFGHIJ"   // 20 chars
    val docs = Seq((20L, a), (21L, a), (22L, s"pp$a")).toDF("doc_id", "text")
    val out = exactSubstringDedup(docs, "doc_id", "text", L = 10)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "chars_removed", "clean_text")
      .as[(Long, Int, Int, String)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(20L) == ((20L, 0, 0, a)))
    // identical doc: every gram marked, one span [1, 21), empty text
    assert(byId(21L) == ((21L, 1, 20, "")))
    // suffix copy: span runs to the exact end of text, "pp" survives
    assert(byId(22L) == ((22L, 1, 20, "pp")))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Driver-side replay of cdcChunks (hash cuts → greedy walk →
    * canonical min-(doc,idx) attribution). */
  private def cdcRef(docs: Seq[(Long, String)], w: Int, mask: Int,
                     minLen: Int): Map[Long, (Int, Int, Int)] = {
    val chunks = docs.flatMap { case (id, t) =>
      val len = t.length
      val cand =
        if (len >= w) (1 to len - w + 1)
          .filter(i => java.lang.Long.parseLong(
            md5hex(t.substring(i - 1, i - 1 + w)).take(10), 16) % mask == 0)
          .map(_ + w).filter(_ <= len)
        else Seq.empty[Int]
      val kept = cand.foldLeft(Vector(1)) { (acc, c) =>
        if (c - acc.last >= minLen) acc :+ c else acc }
      val bounds = kept :+ (len + 1)
      bounds.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), j) => (id, j + 1, md5hex(t.substring(a - 1, b - 1)), b - a)
      }.toSeq
    }
    val canon = chunks.groupBy(_._3)
      .map { case (h, occ) => h -> occ.map(o => (o._1, o._2)).min }
    docs.map { case (id, _) =>
      val mine = chunks.filter(_._1 == id)
      val dups = mine.filter(c => canon(c._3) != ((c._1, c._2)))
      id -> ((mine.size, dups.size, dups.map(_._4).sum))
    }.toMap
  }

  test("cdcChunks equals the driver replay; shifted copies resync; short/identical docs behave") {
    val rnd = new scala.util.Random(11)
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel")
    val baseText = Seq.fill(60)(words(rnd.nextInt(words.length))).mkString(" ")
    val docs = Seq(
      (1L, baseText),
      (2L, "QQ " + baseText),       // shifted copy: must resync
      (3L, baseText),               // identical copy: all chunks dup
      (4L, "tiny"),                 // < window: one whole-text chunk
      (5L, Seq.fill(50)(words(rnd.nextInt(words.length))).mkString(" ")))
    val out = graft.functions.DedupFunctions
      .cdcChunks(docs.toDF("doc_id", "text"), "doc_id", "text",
        window = 8, avgMask = 16, minLen = 8)
      .as[(Long, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = cdcRef(docs, w = 8, mask = 16, minLen = 8)
    assert(out == want, s"got $out want $want")
    // the designed properties, not just replay equality:
    val (n2, d2count, _) = out(2L)
    assert(d2count >= n2 - 2, s"shifted copy failed to resync: $out")  // only the head chunk(s) new
    assert(out(3L)._2 == out(3L)._1 && out(3L)._3 == baseText.length,
      s"identical copy not fully dup: ${out(3L)}")
    assert(out(4L) == ((1, 0, 0)), out(4L).toString)
  }

  test("cdcChunks: null text behaves exactly like empty text (no null-keyed chunk rows)") {
    // ADVICE r16: a null text row must follow the per-doc contract the
    // empty-text doc gets, not walk null bounds into a null chunk hash
    // same corpus twice, the only difference doc 2's text: null vs ''
    // — the outputs must be byte-identical (null ≡ empty, not a
    // null-keyed groupBy row)
    def run(t2: String) = graft.functions.DedupFunctions
      .cdcChunks(Seq((1L, "some reasonable document body here"), (2L, t2))
        .toDF("doc_id", "text"), "doc_id", "text",
        window = 8, avgMask = 16, minLen = 8)
      .as[(Long, Int, Int, Int)].collect().sortBy(_._1).toSeq
    assert(run(null) == run(""), s"null ${run(null)} != empty ${run("")}")
    // and the corpus report carries no null chunk key
    val top = graft.functions.DedupFunctions
      .cdcTopChunks(Seq((1L, "doc one body"), (2L, null)).toDF("doc_id", "text"),
        "doc_id", "text", window = 8, avgMask = 16, minLen = 8, k = 10)
    assert(top.filter(col("chunk_md5").isNull).count() == 0)
  }

  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
      if (i == 0) j else if (j == 0) i else 0))
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  private def bruteFuzzy(names: Seq[String], k: Int, q: Int): Set[(String, String, Int)] = {
    val base = names.distinct
    (for (a <- base; b <- base if a < b; d = lev(a, b) if d <= k)
      yield (a, b, d)).toSet
  }

  private def gotFuzzy(df: org.apache.spark.sql.DataFrame): Set[(String, String, Int)] =
    df.as[(String, String, Int)].collect().toSet

  test("fuzzyPairs: both arms equal brute force; repeated grams exercise the (gram, occ) encoding") {
    // banana-family corpus: "an"/"na" occur 2-3 times per string, so a
    // value-only prefix join would be unsound without occurrence
    // indices; "banan" (5 chars) is below the q*(k+1) gram bound and
    // must arrive via the brute-force bucket arm — its (banan, banana)
    // pair shares grams but the CONTRACT no longer depends on that
    val names = Seq("banana", "bananna", "bandana", "cabana", "banan",
      "zzzzzz", "zzzzzx", "abcdef", "abcdff", "banana")
    val df = names.toDF("n")
    val want = bruteFuzzy(names, k = 2, q = 2)
    assert(want.nonEmpty && want.exists(_._3 == 2), want.toString)
    assert(want.exists(p => p._1 == "banan"), "short-string pair missing from fixture")
    assert(gotFuzzy(fuzzyPairs(df, "n", maxDist = 2, q = 2)) == want)
    assert(gotFuzzy(fuzzyPairs(df, "n", maxDist = 2, q = 2, prefixFilter = true)) == want)
  }

  test("fuzzyPairs sub-threshold bucket: strings too short for any gram bound still pair exactly") {
    // k=1, q=2 → thresh 4: 'ab'/'ac' share NO 2-gram yet are distance
    // 1 (the ADVICE r16 case); 'abc'/'abcd' crosses the bucket edge
    // (one side short, one side at thresh). Both arms, with and
    // without blocking, must equal unguarded brute force.
    val names = Seq("ab", "ac", "b", "abc", "abcd", "abce", "xyz",
      "wwww", "wwwv", "ab")
    val df = names.toDF("n")
    for (k <- Seq(1, 2); arm <- Seq(false, true)) {
      val want = bruteFuzzy(names, k, q = 2)
      assert(want.contains(("ab", "ac", 1)), "degenerate fixture")
      assert(gotFuzzy(fuzzyPairs(df, "n", maxDist = k, q = 2, prefixFilter = arm)) == want,
        s"k=$k arm=$arm")
    }
    // blocked: the bucket arm must honor the block conjunct too
    val rows = Seq(("ab", 0), ("ac", 0), ("ab", 1), ("ad", 1), ("ae", 0))
    val got = fuzzyPairs(rows.toDF("n", "b"), "n", maxDist = 1, q = 2,
        blockCol = Some("b"))
      .as[(String, String, Int, Int)].collect().toSet
    val base = rows.distinct
    val wantB = (for { (na, ba) <- base; (nb, bb) <- base
      if ba == bb && na < nb; d = lev(na, nb) if d <= 1 } yield (na, nb, ba, d)).toSet
    assert(got == wantB, s"${(got diff wantB) ++ (wantB diff got)}")
    // seeded random SHORT-string corpus ({a,b} length 1..6): dense
    // within-k pairs straddling the bucket boundary — the regime the
    // deletion-variant join's completeness lemma must carry alone
    val rnd2 = new scala.util.Random(23)
    val shorts = Seq.fill(60)((0 until (1 + rnd2.nextInt(6)))
      .map(_ => ('a' + rnd2.nextInt(2)).toChar).mkString).filter(_.nonEmpty)
    val sdf = shorts.toDF("n")
    for (k <- Seq(1, 2); arm <- Seq(false, true)) {
      val want = bruteFuzzy(shorts, k, q = 2)
      assert(want.size > 10, s"degenerate short fixture at k=$k")
      assert(gotFuzzy(fuzzyPairs(sdf, "n", maxDist = k, q = 2, prefixFilter = arm)) == want,
        s"short corpus k=$k arm=$arm")
    }
  }

  test("fuzzyPairs blocking: both arms equal brute-within-block; zero cross-block pairs") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(50)(((0 until (4 + rnd.nextInt(5)))
      .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString, rnd.nextInt(3)))
    val df = rows.toDF("n", "b")
    val base = rows.distinct.filter(_._1.length >= 4)
    val want = (for {
      (na, ba) <- base; (nb, bb) <- base
      if ba == bb && na < nb
      dd = lev(na, nb) if dd <= 1
    } yield (na, nb, ba, dd)).toSet
    // the same names also pair ACROSS blocks in the unblocked run —
    // otherwise the zero-cross-block claim is vacuous
    assert(bruteFuzzy(rows.map(_._1), 1, 2).size > want.size, "fixture degenerate")
    for (arm <- Seq(false, true)) {
      val got = fuzzyPairs(df, "n", maxDist = 1, q = 2,
          prefixFilter = arm, blockCol = Some("b"))
        .as[(String, String, Int, Int)].collect().toSet
      assert(got == want, s"arm=$arm: ${(got diff want) ++ (want diff got)}")
    }
  }

  test("fuzzyPairs: seeded random low-alphabet corpus, k=1 and k=2, both arms vs brute force") {
    // {a,b,c} strings of length 6..10: dense near-matches, heavy gram
    // repetition, length-band edges — the regime where an unsound
    // candidate filter actually loses pairs
    val rnd = new scala.util.Random(7)
    val names = Seq.fill(40)((0 until (6 + rnd.nextInt(5)))
      .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    val df = names.toDF("n")
    for (k <- Seq(1, 2)) {
      val want = bruteFuzzy(names, k, q = 2)
      assert(want.nonEmpty, s"degenerate fixture at k=$k")
      assert(gotFuzzy(fuzzyPairs(df, "n", maxDist = k, q = 2)) == want, s"band arm k=$k")
      assert(gotFuzzy(fuzzyPairs(df, "n", maxDist = k, q = 2, prefixFilter = true)) == want,
        s"prefix arm k=$k")
    }
  }
}
