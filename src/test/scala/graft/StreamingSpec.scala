package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Structured Streaming parity: the same window expressions used by the
  * batch oracle queries run over an unbounded source with watermarks,
  * and running-moment state (the reference Normalizer's `update` hook,
  * preprocessing.py:90-109) lives in mapGroupsWithState.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:$sec%02d")

  test("tumbling window aggregation over a stream with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("tumbling_out").start()
    try {
      mem.addData((ts(0), "click", 1.0), (ts(2), "click", 2.0), (ts(7), "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select($"window.start".cast("long"), $"event_type", $"n", $"v")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val base = ts(0).getTime / 1000
      assert(rows == Set((base, "click", 2L, 3.0), (base + 300, "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("KMV sketch aggregates inside a streaming window (st7's expression under readStream)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.expressions.SketchExpressions._
    val mem = MemoryStream[(Timestamp, Long)]
    val agg = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"))
      .agg(kmv_estimate(kmv_sketch($"user_id", 64)).as("n_users"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("kmv_win_out").start()
    try {
      mem.addData((ts(0), 1L), (ts(1), 2L), (ts(2), 1L), (ts(7), 3L))
      q.processAllAvailable()
      // batch 2 adds a repeat and a new user to the FIRST window —
      // sketch state must accumulate across batches
      mem.addData((ts(3), 2L), (ts(4), 9L))
      q.processAllAvailable()
      val rows = spark.table("kmv_win_out")
        .select($"window.start".cast("long"), $"n_users")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val base = ts(0).getTime / 1000
      assert(rows == Set((base, 3L), (base + 300, 1L)))
    } finally q.stop()
  }

  test("KLL sketch aggregates inside a streaming window (st8's expression under readStream)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.expressions.QuantileSketchExpressions._
    val mem = MemoryStream[(Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "latency")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"))
      .agg(kll_quantile(kll_sketch($"latency", 64), 0.5).as("p50"),
        kll_n(kll_sketch($"latency", 64)).as("n"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("kll_win_out").start()
    try {
      mem.addData((ts(0), 1.0), (ts(1), 3.0), (ts(7), 100.0))
      q.processAllAvailable()
      // batch 2 folds into the FIRST window: values {1,3,5,7} -> p50 4.0
      mem.addData((ts(3), 5.0), (ts(4), 7.0))
      q.processAllAvailable()
      val rows = spark.table("kll_win_out")
        .select($"window.start".cast("long"), $"p50", $"n")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      val base = ts(0).getTime / 1000
      assert(rows == Set((base, 4.0, 4L), (base + 300, 100.0, 1L)))
    } finally q.stop()
  }

  test("watermark drops late data in Append mode (bounded state at scale)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "5 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_out").start()
    try {
      // batch 1: events up to :20 → watermark advances to :15
      mem.addData((ts(0), 1.0), (ts(2), 1.0), (ts(20), 1.0))
      q.processAllAvailable()
      // batch 2: an event at :01 is behind the watermark → dropped;
      // one at :17 is within it → counted
      mem.addData((ts(1), 99.0), (ts(17), 1.0))
      q.processAllAvailable()
      // batch 3: advance far enough to close and emit all windows
      mem.addData((ts(40), 1.0))
      q.processAllAvailable()
      val rows = spark.table("late_out")
        .select($"window.start".cast("long"), $"n")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val base = ts(0).getTime / 1000
      assert(rows(base) == 2L)          // the :01 straggler was NOT added
      assert(rows(base + 900) == 1L)    // [15,20): only the in-watermark :17
      assert(rows(base + 1200) == 1L)   // [20,25): the :20 event
    } finally q.stop()
  }

  test("stream-static broadcast join enriches a stream without shuffling it") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.broadcast
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val enriched = mem.toDF().toDF("ts", "user_id", "value")
      .join(broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enrich_out").start()
    try {
      mem.addData((ts(0), 1L, 5.0), (ts(1), 2L, 6.0), (ts(2), 9L, 7.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_out").select("user_id", "tier")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((1L, "gold"), (2L, "basic"), (9L, null)))
    } finally q.stop()
  }

  test("asofJoin equals the naive per-row maximum on random data (property)") {
    import graft.streaming.StreamOps
    val rng = new scala.util.Random(11)
    // random left/right with deliberate (key, ts) collisions on both sides
    val left = (0 until 120).map { i =>
      (rng.nextInt(5).toLong, ts(rng.nextInt(20)), s"p$i")
    }.toDF("k", "ts", "pid")
    val right = (0 until 150).map { i =>
      (rng.nextInt(5).toLong, ts(rng.nextInt(20)), f"c$i%03d")
    }.toDF("k", "ts", "cid")
    val got = StreamOps.asofJoin(left, right, Seq("k"), "ts", Seq("cid"))
      .select("pid", "cid").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // naive spec: for each left row, max ts <= left.ts; tie -> max cid
    val rightRows = right.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
    val leftRows = left.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
    leftRows.foreach { case (k, t, pid) =>
      val cands = rightRows.filter(r => r._1 == k && !r._2.after(t))
      val expected = if (cands.isEmpty) null
        else { val maxTs = cands.map(_._2.getTime).max
          cands.filter(_._2.getTime == maxTs).map(_._3).max }
      assert(got(pid) == expected, s"pid=$pid k=$k t=$t")
    }
  }

  test("streamDedup drops duplicate keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val deduped = graft.streaming.StreamOps.streamDedup(
      mem.toDF().toDF("ts", "doc_key", "value"), "ts", "10 minutes", Seq("doc_key"))
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData((ts(0), "a", 1.0), (ts(1), "b", 2.0))
      q.processAllAvailable()
      // same key again, still within the watermark horizon → dropped;
      // a fresh key passes
      mem.addData((ts(2), "a", 99.0), (ts(3), "c", 3.0))
      q.processAllAvailable()
      val keys = spark.table("dedup_out").select("doc_key", "value")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(keys == Set(("a", 1.0), ("b", 2.0), ("c", 3.0)))
    } finally q.stop()
  }

  test("streamNearDup with stateTTL but no trigger fails fast (idle-churn guard)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamNearDup(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8,
        stateTTL = Some("1 hour"))
    }
    assert(e.getMessage.contains("trigger"))
    // TTL + trigger is accepted; an unparseable trigger interval is not
    graft.streaming.StreamOps.streamNearDup(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8,
      stateTTL = Some("1 hour"), trigger = Some("30 seconds"))
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamNearDup(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8,
        stateTTL = Some("1 hour"), trigger = Some("not an interval"))
    }
  }

  test("streamNearDup finds cross-batch near-duplicates and agrees with the batch LSH family") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square tonight"
    val docs = Seq(
      1L -> base,
      2L -> (base + " again"),                               // near-copy of 1 (in-batch pair)
      3L -> "completely different words about glass towers and morning trains under heavy snow",
      4L -> (base + " indeed"),                              // near-copy of 1 AND 2 (cross-batch)
      5L -> "another unrelated document mentioning rivers bridges and the architecture of old libraries"
    ).toMap
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamOps.streamNearDup(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
    val q = out.toDF("doc_id", "dup_of", "jac")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("neardup_out").start()
    try {
      mem.addData((1L, docs(1L)), (2L, docs(2L)), (3L, docs(3L)))
      q.processAllAvailable()
      mem.addData((4L, docs(4L)), (5L, docs(5L)))
      q.processAllAvailable()
      val rows = spark.table("neardup_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // dup_of is always the earlier-seen member
      assert(rows.forall { case (id, dupOf, _) => dupOf < id })
      val pairs = rows.map { case (id, dupOf, _) => (dupOf, id) }.toSet
      // batch ground truth: the same LSH family over the full corpus
      val batch = graft.functions.DedupFunctions.minhashNearDuplicates(
        docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
      val expected = batch.select("a", "b").as[(Long, Long)].collect().toSet
      batch.unpersist(blocking = false)
      assert(pairs == expected, s"stream=$pairs batch=$expected")
      assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)),
        "cross-batch pairs must be found from band state")
      // every verified jac clears the threshold
      assert(rows.forall(_._3 >= 0.8))
    } finally q.stop()
  }

  test("streamNearDup ignores replayed doc_ids: no re-emission, no state growth") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square tonight"
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamOps.streamNearDup(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
    val q = out.toDF("doc_id", "dup_of", "jac")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("neardup_replay_out").start()
    try {
      mem.addData((1L, base), (2L, base + " again"))
      q.processAllAvailable()
      val first = spark.table("neardup_replay_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(first.toSet == Set((2L, 1L)), s"fixture must pair up: ${first.toSeq}")
      // per-band emission multiplicity is documented behavior; the
      // replay invariant is that it does not GROW
      val mult = first.length
      // at-least-once redelivery of BOTH docs, then a fresh near-copy:
      // the replays must not re-emit (2,1) — in any orientation — and
      // doc 3 must pair only against the ONE retained copy of each
      mem.addData((1L, base), (2L, base + " again"), (3L, base + " indeed"))
      q.processAllAvailable()
      val rows = spark.table("neardup_replay_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.count(p => p == ((2L, 1L))) == mult,
        s"replay re-emitted the seen pair: ${rows.toSeq}")
      assert(!rows.contains((1L, 2L)),
        s"replayed id compared against state emits a REVERSED pair: ${rows.toSeq}")
      assert(rows.toSet == Set((2L, 1L), (3L, 1L), (3L, 2L)), rows.toSeq.toString)
    } finally q.stop()
  }

  test("streamNearDup equals the batch LSH family on a random corpus split across 3 batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // small vocab forces heavy shingle overlap (the DedupPropSpec
    // regime) — many borderline pairs, so the state bookkeeping is
    // exercised across batch boundaries, not just on planted copies
    val rnd = new scala.util.Random(23L)
    val words = (0 until 8).map(i => s"w$i")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    for (i <- 0 until 60) {
      val text =
        if (i % 3 == 2) {
          // every third doc near-copies an earlier one (extra trailing word)
          buf(rnd.nextInt(i))._2 + s" w${rnd.nextInt(8)}"
        } else {
          val len = 8 + rnd.nextInt(10)
          Seq.fill(len)(words(rnd.nextInt(words.length))).mkString(" ")
        }
      buf += ((i.toLong, text))
    }
    val docs = buf.toSeq
    val mem = MemoryStream[(Long, String)]
    val telem = graft.streaming.StreamOps.NearDupTelemetry(spark)
    val out = graft.streaming.StreamOps.streamNearDup(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8,
      telemetry = Some(telem))
    val sink = "neardup_rand_out"
    val q = out.toDF("doc_id", "dup_of", "jac")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(sink).start()
    try {
      docs.grouped(20).foreach { batch =>
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
      val streamPairs = spark.table(sink)
        .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      val batchRes = graft.functions.DedupFunctions.minhashNearDuplicates(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
      val batchPairs = batchRes.select("a", "b").as[(Long, Long)].collect().toSet
      batchRes.unpersist(blocking = false)
      assert(streamPairs == batchPairs,
        s"stream-only=${(streamPairs -- batchPairs).take(5)} batch-only=${(batchPairs -- streamPairs).take(5)}")
      assert(streamPairs.nonEmpty, "fixture must actually contain near-dups")
      // telemetry: every (doc, band) arrival appended exactly once —
      // 60 unique docs × 16 bands, nothing dropped without a TTL —
      // and the state-size gauge reflects it
      assert(telem.membersAdded.value == 60L * 16,
        s"membersAdded=${telem.membersAdded.value}")
      assert(telem.membersDropped.value == 0 && telem.bandsDropped.value == 0)
      assert(telem.stateMembers == 60L * 16)
      assert(telem.comparisons.value > 0,
        "band collisions must have driven verify comparisons")
    } finally q.stop()
  }

  test("running-moments state via mapGroupsWithState (streaming Normalizer)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val updated = graft.streaming.StreamOps.runningMoments(mem.toDS())
    val q = updated.toDF("key", "n", "mean", "variance")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("moments_out").start()
    try {
      mem.addData(("a", 1.0), ("a", 3.0))
      q.processAllAvailable()
      mem.addData(("a", 5.0))
      q.processAllAvailable()
      val last = spark.table("moments_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .maxBy(_._2)
      assert(last._1 == "a" && last._2 == 3L)
      assert(math.abs(last._3 - 3.0) < 1e-9)          // mean of 1,3,5
      assert(math.abs(last._4 - 8.0 / 3.0) < 1e-9)    // population variance
    } finally q.stop()
  }

  test("file stream tumbling counts equal the batch plan (same expressions)") {
    import graft.streaming.StreamOps
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString + "/ev"
    val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("ts", "event_type", "value")
    batch.write.parquet(dir)
    val expected = StreamOps.tumbling(batch, "ts", "1 hour", Seq("event_type"),
        Seq(count(lit(1)).as("n")))
      .select($"window.start".cast("long").as("w"), $"event_type", $"n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val agg = StreamOps.tumbling(stream, "ts", "1 hour", Seq("event_type"),
      Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("filestream_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("filestream_out")
        .select($"window.start".cast("long").as("w"), $"event_type", $"n")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Timestamp, Long, String)]
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val p = purchases.toDF().toDF("pts", "user_id", "pid")
      .withWatermark("pts", "10 minutes")
    val c = clicks.toDF().toDF("cts", "c_user_id", "cid")
      .withWatermark("cts", "10 minutes")
    val joined = p.join(c,
      expr("""user_id = c_user_id AND
              cts BETWEEN pts - INTERVAL 5 MINUTES AND pts"""))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssjoin_out").start()
    try {
      clicks.addData((ts(1), 1L, "c1"), (ts(8), 1L, "c2"), (ts(9), 2L, "c3"))
      purchases.addData((ts(5), 1L, "p1"), (ts(10), 1L, "p2"), (ts(10), 2L, "p3"))
      q.processAllAvailable()
      val got = spark.table("ssjoin_out").select("pid", "cid").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      // p1@:05 matches c1@:01 (within 5min); p2@:10 matches c2@:08;
      // p3@:10 (user 2) matches c3@:09; c1 too old for p2
      assert(got == Set(("p1", "c1"), ("p2", "c2"), ("p3", "c3")))
    } finally q.stop()
  }

  test("asofJoin matches a hand-computed tiny case") {
    import graft.streaming.StreamOps
    val left = Seq((1L, ts(10), "p1"), (1L, ts(20), "p2"), (2L, ts(5), "p3"))
      .toDF("user_id", "ts", "pid")
    val right = Seq((1L, ts(8), "c1"), (1L, ts(15), "c2"), (1L, ts(20), "c3"))
      .toDF("user_id", "ts", "cid")
    val got = StreamOps.asofJoin(left, right, Seq("user_id"), "ts", Seq("cid"))
      .select("pid", "cid").collect().map(r => (r.getString(0), r.getString(1))).toSet
    // p2 at :20 matches c3 at :20 (inclusive); p3 has no prior click
    assert(got == Set(("p1", "c1"), ("p2", "c3"), ("p3", null)))
  }

  test("asofJoin resolves equal-(key, ts) right rows deterministically (max rightCols tuple)") {
    import graft.streaming.StreamOps
    val left = Seq((1L, ts(10), "p1")).toDF("user_id", "ts", "pid")
    // three clicks at the same (key, ts): the largest cid must win,
    // regardless of input order or partitioning
    val right = Seq((1L, ts(8), "c2"), (1L, ts(8), "c9"), (1L, ts(8), "c5"))
      .toDF("user_id", "ts", "cid").repartition(3)
    (1 to 3).foreach { _ =>
      val got = StreamOps.asofJoin(left, right, Seq("user_id"), "ts", Seq("cid"))
        .select("cid").collect().map(_.getString(0)).toSeq
      assert(got == Seq("c9"))
    }
  }
  test("streamHeavyHitters: bounded counters, exact under capacity, bounds after eviction") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val out = graft.streaming.StreamOps.streamHeavyHitters(
      mem.toDF().toDF("site", "url"), "site", "url", capacity = 3, k = 3)
    val q = out.toDF("site", "item", "est", "err").writeStream
      .outputMode(OutputMode.Update()).format("memory").queryName("hh_out").start()
    try {
      // batch 1: 3 distinct items (== capacity) -> exact counts, err 0
      mem.addData(("s", "a"), ("s", "a"), ("s", "b"), ("s", "b"), ("s", "b"), ("s", "c"))
      q.processAllAvailable()
      val b1 = spark.table("hh_out").select("item", "est", "err")
        .as[(String, Long, Long)].collect().toSet
      assert(b1 == Set(("a", 2L, 0L), ("b", 3L, 0L), ("c", 1L, 0L)))
      // batch 2: "d" x2 arrives at full capacity -> evicts min ("c", 1):
      // d enters with est 2 (1+1), err 1; second d -> est 3. Space-Saving
      // bounds: est >= true (3 >= 2), est - err == true here (3-1=2).
      mem.addData(("s", "d"), ("s", "d"))
      q.processAllAvailable()
      // batch 2 re-emits a/b unchanged (identical tuples dedup away in
      // the set difference); the only NEW tuple is d's estimate
      val b2 = spark.table("hh_out").select("item", "est", "err")
        .as[(String, Long, Long)].collect().toSet -- b1
      assert(b2 == Set(("d", 3L, 1L)))
    } finally q.stop()
  }

  test("streamDistinctCounts rejects undersized sketch capacity at declaration (batch-parity guard)") {
    import spark.implicits._
    val df = Seq(("a", "u1")).toDF("site", "user")
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamDistinctCounts(df, "site", "user", k = 0)
    }
  }

  test("streamDistinctCounts: cumulative across batches, exact below k, batch-compatible state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val out = graft.streaming.StreamOps.streamDistinctCounts(
      mem.toDF().toDF("site", "user"), "site", "user", k = 64)
    val q = out.toDF("site", "n_distinct").writeStream
      .outputMode(OutputMode.Update()).format("memory")
      .queryName("dc_out").start()
    try {
      // batch 1: site s has users u0..u9 (with repeats), site t has u0..u4
      mem.addData(
        (0 until 10).map(i => ("s", s"u$i")) ++
          (0 until 10).map(i => ("s", s"u${i % 10}")) ++
          (0 until 5).map(i => ("t", s"u$i")): _*)
      q.processAllAvailable()
      val b1 = spark.table("dc_out").as[(String, Long)].collect().toSet
      assert(b1 == Set(("s", 10L), ("t", 5L)))
      // batch 2: 5 repeats + 5 new for s -> cumulative 15, not 10 or 20
      mem.addData((5 until 15).map(i => ("s", s"u$i")): _*)
      q.processAllAvailable()
      val all = spark.table("dc_out").as[(String, Long)].collect().toSet
      assert(all.contains(("s", 15L)), s"got $all")
      // the streaming sketch is byte-compatible with the batch aggregate:
      // hashing the same 15 distinct values through the batch kmv_sketch
      // gives the same estimate
      import org.apache.spark.sql.functions.col
      import graft.expressions.SketchExpressions._
      val batchEst = (0 until 15).map(i => s"u$i").toDF("v")
        .agg(kmv_estimate(kmv_sketch(col("v"), 64)).as("e"))
        .head().getLong(0)
      assert(batchEst == 15L)
    } finally q.stop()
  }

  test("streamQuantiles: cumulative across batches, exact below k, batch-compatible state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val out = graft.streaming.StreamOps.streamQuantiles(
      mem.toDF().toDF("site", "latency"), "site", "latency",
      k = 128, qs = Seq(0.5, 0.95))
    val q = out.toDF("site", "n", "quants").writeStream
      .outputMode(OutputMode.Update()).format("memory")
      .queryName("qt_out").start()
    try {
      // batch 1: site s sees 1..10 — exact p50 of 1..10 is 5.5
      mem.addData((1 to 10).map(i => ("s", i.toDouble)): _*)
      q.processAllAvailable()
      val b1 = spark.table("qt_out").as[(String, Long, Seq[Double])]
        .collect().map { case (s, n, qs2) => s -> ((n, qs2)) }.toMap
      assert(b1("s")._1 == 10L)
      assert(b1("s")._2.head == 5.5)
      // batch 2: 11..20 fold in — cumulative p50 over 1..20 is 10.5
      mem.addData((11 to 20).map(i => ("s", i.toDouble)): _*)
      q.processAllAvailable()
      val rows = spark.table("qt_out").as[(String, Long, Seq[Double])]
        .collect().filter(_._1 == "s").maxBy(_._2)
      assert(rows._2 == 20L)
      assert(rows._3.head == 10.5)
      // the streamed state matches the batch aggregate's interpolation
      import org.apache.spark.sql.functions.{col, expr}
      val exactRow = (1 to 20).map(_.toDouble).toDF("v")
        .agg(expr("percentile(v, 0.5)"), expr("percentile(v, 0.95)")).head()
      assert(rows._3 == Seq(exactRow.getDouble(0), exactRow.getDouble(1)))
    } finally q.stop()
  }

  test("vectorIngest: streamed batches land in the persisted ANN index; probe equals in-session IVF") {
    import graft.functions.{AnnIndex, SimilarityFunctions}
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Long): Seq[Double] =
      Seq.tabulate(8)(j => math.rint(1e6 * (math.sin(i * 31.0 + j) + 1.5)) / 1e6)
    val corpus = (0L until 100L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_vec_ingest").toString
    AnnIndex.ivfIndexSave(corpus, "vec_id", "embedding", cells = 4, dir = dir)

    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamOps.vectorIngest(
        mem.toDF().toDF("vec_id", "embedding"), dir, "vec_id", "embedding",
        streamId = "ing1")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      mem.addData((100L until 120L).map(i => (i, vec(i))): _*)
      q.processAllAvailable()
      mem.addData((120L until 130L).map(i => (i, vec(i))): _*)
      q.processAllAvailable()
    } finally q.stop()

    // a SECOND logical stream (fresh checkpoint -> its batchIds restart
    // at 0) feeding the same index: its distinct streamId keeps it from
    // being skipped by the first stream's batch-0 marker or scrubbing
    // the first stream's b0 files
    val mem2 = MemoryStream[(Long, Seq[Double])]
    val q2 = graft.streaming.StreamOps.vectorIngest(
        mem2.toDF().toDF("vec_id", "embedding"), dir, "vec_id", "embedding",
        streamId = "ing2")
      .option("checkpointLocation", s"$dir/ckpt2")
      .start()
    try {
      mem2.addData((130L until 140L).map(i => (i, vec(i))): _*)
      q2.processAllAvailable()
    } finally q2.stop()

    // three committed batches across two streams, 140 indexed vectors
    assert(AnnIndex.indexStats(spark, dir).agg(sum("n_vectors")).head().getLong(0) == 140L)
    val full = (0L until 140L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val queries = full.filter(col("vec_id") < 5 || col("vec_id") >= 135)
    val probed = AnnIndex.probe(spark, dir, queries, "vec_id", "embedding",
        k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), "" + r.get(2), r.getInt(3))).toSet
    val inSession = SimilarityFunctions.ivfTopK(full, queries, "vec_id", "embedding",
        k = 3, centroids = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), "" + r.get(2), r.getInt(3))).toSet
    assert(probed == inSession,
      "probe after streaming ingest must be bit-identical to in-session IVF on the union corpus")
    // streamed vectors are retrievable: a late query's neighbors include streamed ids
    assert(probed.exists { case (qid, nid, _, _) => qid >= 135L && nid >= 100L })
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("bandIngest: streamed batches land in the persisted band index; probe equals in-session incremental near-dup on the union") {
    import graft.functions.{BandIndex, DedupFunctions}
    implicit val sqlCtx = spark.sqlContext
    // real document texts, re-id'd; streams plant exact copies of
    // corpus docs so cross-side near-dup pairs are guaranteed
    val txt = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .orderBy("doc_id").limit(100).select("text")
      .collect().map(_.getString(0))
    def docsDF(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val corpus = docsDF((0 until 100).map(i => (i.toLong, txt(i))))
    val dir = java.nio.file.Files.createTempDirectory("graft_band_ingest").toString
    BandIndex.save(corpus, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, dir = dir, prefixLen = 1)

    val s1 = (0 until 20).map(i => (200L + i, txt(i)))
    val s2 = (0 until 20).map(i => (250L + i, txt(20 + i)))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.bandIngest(
        mem.toDF().toDF("doc_id", "text"), dir, "doc_id", "text",
        streamId = "bi1")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      mem.addData(s1.take(10): _*); q.processAllAvailable()
      mem.addData(s1.drop(10): _*); q.processAllAvailable()
    } finally q.stop()
    // a SECOND logical stream (fresh checkpoint, batchIds restart at 0)
    // feeding the same index under its own streamId
    val mem2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.StreamOps.bandIngest(
        mem2.toDF().toDF("doc_id", "text"), dir, "doc_id", "text",
        streamId = "bi2")
      .option("checkpointLocation", s"$dir/ckpt2")
      .start()
    try {
      mem2.addData(s2: _*); q2.processAllAvailable()
    } finally q2.stop()

    // probe a NEW batch against the streamed store: identical to the
    // in-session incremental pipeline over everything ingested so far
    // texts 15..29: overlaps s1's copies (txt 15..19) AND s2's (20..29)
    val batch = docsDF((0 until 15).map(i => (300L + i, txt(15 + i))))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaStore = BandIndex.probe(spark, dir, batch, "doc_id", "text", 0.8)
    val union = corpus.unionByName(docsDF(s1)).unionByName(docsDF(s2))
    val inSession = DedupFunctions.incrementalNearDuplicates(
      union, batch, "doc_id", "text", 3, 32, 8, 0.8)
    val got = pairs(viaStore)
    assert(got == pairs(inSession),
      "probe after two-stream ingest must equal in-session incremental near-dup on the union")
    inSession.unpersist(blocking = false)
    // pairs actually span the batch and BOTH streams' planted copies
    assert(got.exists { case (a, b, _) => math.max(a, b) >= 300L && (
      (math.min(a, b) >= 200L && math.min(a, b) < 250L)) })
    assert(got.exists { case (a, b, _) => math.max(a, b) >= 300L &&
      math.min(a, b) >= 250L && math.min(a, b) < 300L })
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
