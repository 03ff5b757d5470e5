package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-time windowing and temporal joins (SURVEY §2.11 parity-plus).
  *
  * Each combinator is plan-shape-identical in batch and Structured
  * Streaming: the same `window`/`session_window` expressions run over
  * `read` or `readStream` inputs (StreamingSpec drives the streaming
  * path with watermarks; the oracle gate drives the batch path).
  */
object StreamOps {

  /** Groups already warned about a cross-restart capacity mismatch in
    * [[streamQuantiles]] — per executor JVM, bounded at 10k entries so
    * the warning path can never become a memory or stderr flood. */
  private[streaming] val capacityWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Tumbling event-time window aggregation. */
  def tumbling(df: DataFrame, tsCol: String, duration: String,
               keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), duration) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding event-time window aggregation. */
  def sliding(df: DataFrame, tsCol: String, duration: String, slide: String,
              keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), duration, slide) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session windows: events within `gap` of each other merge; a gap
    * >= `gap` closes the session. */
  def sessions(df: DataFrame, tsCol: String, gap: String,
               keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Streaming running moments per key (the reference Normalizer's
    * `update` hook as managed state, preprocessing.py:90-109): emits
    * (key, n, mean, population variance) after every batch. */
  def runningMoments(ds: org.apache.spark.sql.Dataset[(String, Double)])
  : org.apache.spark.sql.Dataset[(String, Long, Double, Double)] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Double)], state: GroupState[(Long, Double, Double)]) =>
          val (n0, s0, ss0) = state.getOption.getOrElse((0L, 0.0, 0.0))
          val xs = it.map(_._2).toSeq
          val st = (n0 + xs.size, s0 + xs.sum, ss0 + xs.map(x => x * x).sum)
          state.update(st)
          val mean = st._2 / st._1
          (key, st._1, mean, st._3 / st._1 - mean * mean)
      }
  }

  /** Streaming exact dedup: drop duplicate keys within the watermark
    * horizon (state is bounded by the watermark — the streaming form
    * of DedupFunctions' exact dedup). */
  def streamDedup(df: DataFrame, tsCol: String, watermark: String,
                  keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming NEAR-duplicate detection — the MinHash-LSH family
    * (DedupFunctions.minhashNearDuplicates) as a stateful stream: each
    * arriving document is checked against every previously-seen
    * document it shares an LSH band with, and verified pairs at
    * Jaccard ≥ `threshold` (over the 40-bit hashed shingle space, the
    * same measure the batch scale paths verify in) are emitted as
    * (doc_id, dup_of, jac) with `dup_of` the earlier-seen member.
    *
    * Plan shape: signature/shingle/band computation is the SAME
    * per-row kernel chain as the batch pipeline (no UDF, no second
    * code path for the math); the only stateful stage is a
    * `flatMapGroupsWithState` KEYED ON THE BAND — state per band is
    * the (id, hashed-set) list of its members, so state size ∝ seen
    * docs × bands and lookup work per arrival ∝ its bands' member
    * counts, never the corpus. A pair sharing multiple bands is
    * emitted once per colliding band (possibly across batches) —
    * downstream consumers dedup on (doc_id, dup_of) the same way the
    * batch pipeline's `.distinct()` does.
    *
    * `stateTTL` bounds state for endless streams (processing-time
    * timeout: a band idle longer than the TTL drops its members —
    * after that, a re-arriving duplicate is a miss, the standard
    * recall/state trade every streaming dedup makes). TWO operational
    * rules for TTL'd queries (measured, SCALE.md round-8 re-run): (1) set
    * an explicit trigger interval — with the default
    * as-fast-as-possible trigger, processing-time timeouts make an
    * idle engine fire back-to-back EMPTY micro-batches, each a full
    * state scan + commit (measured ~850% CPU of pure churn); (2) size
    * the TTL in hours, not seconds — every expired band costs a
    * state-function invocation at its expiry batch, so a TTL short
    * enough to expire most bands per batch turns each batch into a
    * full-state eviction pass. Rule (1) is enforced in code: a
    * `stateTTL` without a `trigger` interval fails fast here, and the
    * validated interval is what the caller MUST hand to the sink
    * (`writer.trigger(Trigger.ProcessingTime(trigger.get))`). In-batch
    * arrival order is fixed by sorting each micro-batch's band group
    * by id, so emissions are deterministic given the same batch
    * boundaries. */
  def streamNearDup(docs: DataFrame, idCol: String, textCol: String,
                    shingleN: Int, numHashes: Int, bands: Int,
                    threshold: Double,
                    stateTTL: Option[String] = None,
                    trigger: Option[String] = None,
                    telemetry: Option[NearDupTelemetry] = None)
  : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    require(stateTTL.isEmpty || trigger.isDefined,
      "stateTTL without an explicit trigger interval: with the default " +
        "as-fast-as-possible trigger, processing-time timeouts make an idle " +
        "engine fire back-to-back EMPTY micro-batches, each a full state " +
        "scan + commit (measured ~850% CPU of pure churn). Pass trigger = Some(\"<interval>\") and set " +
        "it on the sink: writer.trigger(Trigger.ProcessingTime(interval)).")
    // fail fast on an unparseable interval, not at stream start
    trigger.foreach(org.apache.spark.sql.streaming.Trigger.ProcessingTime(_))
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes, bands=$bands) " +
        "- same banding contract as minhashNearDuplicates (r = 0 would key " +
        "every doc into one state group per band)")
    val session = docs.sparkSession
    import session.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val r = numHashes / bands
    val banded = docs.select(col(idCol).cast("long").as("__id"),
        graft.functions.DedupFunctions.wordShingles(col(textCol), shingleN).as("__sh"))
      .withColumn("__hs",
        graft.expressions.HashExpressions.hashed_set40(col("__sh")))
      .withColumn("__band", explode(graft.functions.DedupFunctions.bandKeys(
        graft.expressions.HashExpressions.minhash_signature(col("__sh"), numHashes),
        bands, r)))
      .select(col("__band"), col("__id"), col("__hs"))
      .as[(String, Long, Array[Long])]
    val timeout =
      if (stateTTL.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Array[Long])], (Long, Long, Double)](
        OutputMode.Append(), timeout) {
        (_, it, state: GroupState[Seq[(Long, Array[Long])]]) =>
          if (state.hasTimedOut) {
            telemetry.foreach { t =>
              t.bandsDropped.add(1)
              t.membersDropped.add(state.getOption.map(_.size.toLong).getOrElse(0L))
            }
            state.remove(); Iterator.empty
          }
          else {
            var seen = state.getOption.getOrElse(Seq.empty)
            val arrivals = it.map(t => (t._2, t._3)).toSeq.sortBy(_._1)
            val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
            for ((id, hs) <- arrivals) {
              // a replayed doc_id (at-least-once sources redeliver) must
              // not grow state or re-emit its pairs: skip both the
              // compare loop and the append when the id is already a
              // member of this band's state
              if (!seen.exists(_._1 == id)) {
                for ((pid, phs) <- seen) {
                  telemetry.foreach(_.comparisons.add(1))
                  val j = sortedLongJaccard(phs, hs)
                  // HALF_UP to the 6th decimal — Spark round() semantics,
                  // so stream output is bit-identical to the batch
                  // pipeline's round(jac, 6) even on exact .5 ties
                  // (math.rint is half-even and disagreed there)
                  if (j >= threshold)
                    out += ((id, pid, BigDecimal(j)
                      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
                      .toDouble))
                }
                seen = seen :+ ((id, hs))
                telemetry.foreach(_.membersAdded.add(1))
              }
            }
            state.update(seen)
            stateTTL.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** State/work accounting for [[streamNearDup]] — named
    * `LongAccumulator`s (visible in the Spark UI, queryable per batch
    * from the driver), closed over by the state function:
    *
    *  - `membersAdded − membersDropped` IS the current state size in
    *    members (the append above and the TTL drop are the only state
    *    mutations), so a TTL-less run's growth is directly observable
    *    and a TTL'd run is measurably bounded;
    *  - `comparisons` is the per-arrival work term (∝ band occupancy,
    *    the quantity the LSH banding keeps sub-corpus);
    *  - `bandsDropped` counts TTL evictions.
    *
    * Band count (state ROWS) is already first-class Spark telemetry:
    * `StreamingQueryProgress.stateOperators(0).numRowsTotal`. */
  final class NearDupTelemetry private (
      val comparisons: org.apache.spark.util.LongAccumulator,
      val membersAdded: org.apache.spark.util.LongAccumulator,
      val membersDropped: org.apache.spark.util.LongAccumulator,
      val bandsDropped: org.apache.spark.util.LongAccumulator)
      extends Serializable {
    def stateMembers: Long = membersAdded.value - membersDropped.value
  }

  object NearDupTelemetry {
    def apply(spark: org.apache.spark.sql.SparkSession): NearDupTelemetry = {
      val sc = spark.sparkContext
      new NearDupTelemetry(
        sc.longAccumulator("graft.streamNearDup.comparisons"),
        sc.longAccumulator("graft.streamNearDup.membersAdded"),
        sc.longAccumulator("graft.streamNearDup.membersDropped"),
        sc.longAccumulator("graft.streamNearDup.bandsDropped"))
    }
  }

  /** Merge-walk Jaccard over two sorted distinct long arrays — the
    * state-function twin of HashExpressions.SortedLongJaccard (which
    * is a Catalyst expression and can't be called on plain arrays
    * inside mapGroupsWithState). */
  private def sortedLongJaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Time-series resampling with forward fill: events are bucketed to a
    * `stepSec` grid (max per bucket), the grid is completed per key
    * from its min to max bucket, and gaps take the latest prior value
    * (`last` ignoreNulls over the key window).
    *
    * Scale shape: one shuffle on the key for the bucket aggregation,
    * the grid explode is proportional to output rows, and the fill is
    * a single window pass — no self-join, no range join. Bucket
    * arithmetic is integral and FLOORING (pmod-based, not `div`'s
    * truncate-toward-zero, which would round pre-epoch timestamps up
    * into the wrong grid cell), so results are engine-exact on any
    * time range. Output: (key, bts, <valueCol> filled, was_gap).
    */
  def resampleForwardFill(df: DataFrame, tsCol: String, keyCol: String,
                          valueCol: String, stepSec: Long): DataFrame = {
    val stepUs = s"(${stepSec}L * 1000000L)"
    val b = df
      .withColumn("bts", expr(s"(unix_micros($tsCol) - pmod(unix_micros($tsCol), " +
        s"$stepUs)) div $stepUs * ${stepSec}L"))
      .groupBy(col(keyCol), col("bts"))
      .agg(max(col(valueCol)).as("__v"))
    val r = b.groupBy(keyCol).agg(min("bts").as("__lo"), max("bts").as("__hi"))
    val g = r.select(col(keyCol),
      explode(sequence(col("__lo"), col("__hi"), lit(stepSec))).as("bts"))
    val w = Window.partitionBy(keyCol).orderBy("bts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.join(b, Seq(keyCol, "bts"), "left")
      .withColumn(valueCol, last(col("__v"), ignoreNulls = true).over(w))
      .withColumn("was_gap", col("__v").isNull.cast("int"))
      .drop("__v")
  }

  /** As-of join: for each left row, the latest right row with
    * right.ts <= left.ts on the same key.
    *
    * Implemented as union + running `last(_, ignoreNulls)` over a
    * (key, ts) window — O(n log n) per key partition, no range-join
    * explosion, shuffle ∝ |left| + |right| on the key. Right rows sort
    * before left rows at equal timestamps (inclusive as-of).
    *
    * Ties: when several right rows share the same (key, ts), the window
    * order ends with the right-row payload struct itself, so the match
    * is deterministically the row with the LARGEST `rightCols` tuple
    * (lexicographic by the order the caller lists them) — put a unique
    * id first in `rightCols` to get max-id tie-breaking.
    *
    * `rightCols` must not collide with left columns.
    */
  /** Streaming heavy hitters per group: the Space-Saving sketch
    * (Metwally et al., ICDT 2005) with exactly `capacity` counters of
    * state per group key, regardless of stream length — the
    * bounded-state streaming analogue of `groupBy(item).count()`.
    * After each micro-batch the group emits its current top-`k` as
    * (group, item, estimate, error): any item whose true count
    * exceeds N/capacity is guaranteed present, the estimate never
    * undershoots the true count, and overshoots by at most the
    * recorded per-item error (the evicted counter it inherited).
    *
    * Each micro-batch's arrivals are folded in (item asc) order and
    * counter eviction breaks count ties on item asc, so emissions are
    * deterministic given the same batch boundaries (the
    * streamNearDup discipline; the sketch's guarantees are
    * order-independent, the tie-breaks only pin WHICH near-tied
    * estimate survives). OutputMode.Update sinks apply. */
  def streamHeavyHitters(events: DataFrame, groupCol: String, itemCol: String,
                         capacity: Int, k: Int)
  : org.apache.spark.sql.Dataset[(String, String, Long, Long)] = {
    require(capacity >= 1 && k >= 1 && k <= capacity,
      "need 1 <= k <= capacity")
    val session = events.sparkSession
    import session.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .select(col(groupCol).cast("string").as("__g"),
        col(itemCol).cast("string").as("__i"))
      .as[(String, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, (Long, Long)], (String, String, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (group, it, state: GroupState[Map[String, (Long, Long)]]) =>
          var counters = state.getOption.getOrElse(Map.empty)
          for (item <- it.map(_._2).toSeq.sorted) {
            counters.get(item) match {
              case Some((c, e)) => counters += item -> (c + 1, e)
              case None if counters.size < capacity =>
                counters += item -> (1L, 0L)
              case None =>
                val (evict, (minC, _)) = counters.minBy { case (i, (c, _)) => (c, i) }
                counters = counters - evict + (item -> (minC + 1, minC))
            }
          }
          state.update(counters)
          counters.toSeq
            .sortBy { case (i, (c, _)) => (-c, i) }.take(k)
            .map { case (i, (c, e)) => (group, i, c, e) }.iterator
      }
  }

  /** Streaming distinct-count per group via the KMV sketch
    * (SketchExpressions) — the streaming twin of the x31 batch
    * aggregate, and the bounded-state analogue of
    * `groupBy(g).agg(countDistinct(v))`, whose streaming form keeps
    * every distinct VALUE in state. State per group is the serialized
    * sketch: ≤ 8 + 8k bytes at ANY stream length. After each
    * micro-batch the group emits (group, estimate): exact while its
    * cumulative distinct count stays below k, (k-1)/u(k) beyond —
    * and the state blob is byte-compatible with batch `kmv_sketch`
    * output (same hash, same wire format), so a bootstrap from a
    * batch-built sketch or a downstream `kmv_merge` over mixed
    * batch/stream sketches is well-defined. Arrival order never
    * matters (KMV insert is order-insensitive), so emissions are
    * deterministic given the same batch boundaries with no in-batch
    * sorting needed. OutputMode.Update sinks apply. */
  /** Restart semantics (differs from [[streamQuantiles]] BY DESIGN):
    * KMV capacities merge soundly as min(old, new) — trimming a KMV
    * sketch to a smaller k keeps the k smallest hashes and is still an
    * exact KMV sketch at that k (the same rule kmv_merge applies), so
    * a restored group runs at min(serialized k, requested k). A KLL
    * ladder CANNOT be re-capped, hence streamQuantiles keeps the
    * restored capacity instead. Either way a cross-restart mismatch is
    * logged once per group per JVM, not silently absorbed. */
  def streamDistinctCounts(events: DataFrame, groupCol: String,
                           valueCol: String, k: Int)
  : org.apache.spark.sql.Dataset[(String, Long)] = {
    // same bound the batch kmv_sketch expression enforces — fail at
    // declaration, not as a NoSuchElementException mid-micro-batch
    // (KmvBuffer.insert peeks set.last once k slots are "full"; k <= 0
    // means full-at-empty)
    require(k >= 16, s"sketch capacity must be >= 16, got $k")
    import graft.expressions.SketchExpressions
    val session = events.sparkSession
    import session.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val typed = events
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("string").as("__v"))
      .as[(String, String)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], (String, Long)](
        GroupStateTimeout.NoTimeout) {
        (group, it, state: GroupState[Array[Byte]]) =>
          val buf = new SketchExpressions.KmvBuffer(k)
          // compare against the blob's OWN capacity, not the post-fold
          // buf.k: after readInto buf.k = min(serialized, requested),
          // which masks a serialized capacity LARGER than the request
          val serializedK = state.getOption.map(SketchExpressions.readInto(_, buf))
          if (serializedK.exists(_ != k) &&
              StreamOps.capacityWarned.size < 10000 &&
              StreamOps.capacityWarned.add(s"kmv:$group"))
            System.err.println(s"[streamDistinctCounts] group '$group': " +
              s"restored sketch capacity ${serializedK.get} != requested k=$k; " +
              "running at min(old, new) (the sound KMV merge rule)")
          it.foreach { case (_, v) =>
            if (v != null) buf.insert(SketchExpressions.hashString(v))
          }
          val bytes = SketchExpressions.writeBuffer(buf)
          state.update(bytes)
          (group, SketchExpressions.estimate(bytes))
      }
  }

  /** Streaming running quantiles per group: the KLL ladder as
    * mapGroupsWithState state, mirroring [[streamDistinctCounts]].
    * Each batch folds its values into the group's sketch and emits
    * the requested quantiles over everything seen so far. The state
    * blob is the SAME wire format as the batch kll_sketch aggregate,
    * so bootstrap-from-batch and downstream kll_merge over mixed
    * batch/stream sketches are well-defined; while a group stays
    * under `k` values the emissions are exact and arrival-order-
    * insensitive (the exact-regime contract). OutputMode.Update
    * sinks apply.
    *
    * Restart semantics: a group's capacity is a property of its
    * SKETCH, not of the query — a restored state blob keeps the `k`
    * it was serialized with (re-capping an existing ladder would
    * corrupt its error guarantee). Restarting with a different `k`
    * therefore only affects groups first seen after the restart; the
    * mismatch is logged once per group per executor JVM (a bounded
    * in-memory set, NOT once per micro-batch — that would flood
    * stderr on a high-rate stream) instead of silently mixing
    * capacities with no signal. */
  def streamQuantiles(events: DataFrame, groupCol: String, valueCol: String,
                      k: Int, qs: Seq[Double])
  : org.apache.spark.sql.Dataset[(String, Long, Seq[Double])] = {
    import graft.expressions.QuantileSketchExpressions
    // same floors the batch kll_sketch/kll_quantile enforce — a tiny k
    // would silently compact on nearly every insert instead of failing
    require(k >= 16, s"sketch capacity must be >= 16, got $k")
    qs.foreach(q => require(q >= 0.0 && q <= 1.0,
      s"quantile must be in [0, 1], got $q"))
    val session = events.sparkSession
    import session.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val typed = events
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__v"))
      .as[(String, Option[Double])]
    typed.groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], (String, Long, Seq[Double])](
        GroupStateTimeout.NoTimeout) {
        (group, it, state: GroupState[Array[Byte]]) =>
          val buf = state.getOption
            .map(QuantileSketchExpressions.readBuffer)
            .getOrElse(new QuantileSketchExpressions.KllBuffer(k))
          // restored state keeps its serialized capacity (see scaladoc);
          // surface a cross-restart k change instead of silently mixing —
          // once per group per JVM, not once per micro-batch. Unlike the
          // KMV fold, readBuffer preserves the blob's own k verbatim
          // (never min'd with the request), so buf.k != k catches a
          // mismatch in BOTH directions here.
          if (buf.k != k && state.exists &&
              StreamOps.capacityWarned.size < 10000 &&
              StreamOps.capacityWarned.add(s"kll:$group"))
            System.err.println(s"[streamQuantiles] group '$group': restored " +
              s"sketch capacity ${buf.k} differs from requested k=$k; " +
              "the restored capacity wins (capacity is a sketch property)")
          it.foreach { case (_, v) => v.foreach(buf.insert) }
          val bytes = QuantileSketchExpressions.writeBuffer(buf)
          state.update(bytes)
          val quants = // all-null group so far: no quantiles yet
            if (buf.totalWeight == 0L) Seq.empty[Double]
            else qs.map(q => QuantileSketchExpressions.quantileOf(bytes, q)
              .asInstanceOf[Double])
          (group, buf.totalWeight, quants)
      }
  }

  /** Streaming ingest into a persisted store — the bridge between the
    * incremental families (streaming near-dup keeps state in the query;
    * the stores keep it ON DISK). [[vectorIngest]] encodes each
    * micro-batch against the SAVED ANN centroids/codebook
    * ([[graft.functions.AnnIndex.addBatchTagged]] — no rebuild, no
    * re-read of existing codes) and appends new cell-partition files;
    * [[bandIngest]] shingles/bands it against the SAVED banding
    * parameters ([[graft.functions.BandIndex.addBatchTagged]] — no
    * re-band of history) and appends to both stores (postings +
    * shingles). Probes between batches see exactly the rows ingested so
    * far.
    *
    * foreachBatch is the right sink shape: the append is a bulk
    * columnar write, not a row sink. Structured Streaming re-runs a
    * failed batch with the SAME batchId and data; the sink keeps a
    * marker file per committed batchId under
    * `dir/ingest_log/<streamId>/` to skip clean replays, and the
    * append itself is the store's tagged ingest with
    * `<streamId>-b<batchId>` as the tag — a replay of a batch that
    * crashed anywhere before its marker landed (after the append
    * committed, or for the band store BETWEEN the shingle and band
    * appends, the window a plain addBatch cannot heal) first scrubs
    * that tag's files from every subtree, so any number of retries
    * converges to exactly one copy (true exactly-once, not
    * marker-window at-least-once), as long as `dir` has a single writer
    * (the addBatch contract).
    *
    * `streamId` is the logical stream's identity and what makes the
    * idempotence safe across STREAMS, not just across retries: batchIds
    * restart at 0 whenever a query starts from a fresh (or reset)
    * checkpoint, so two streams feeding the same index would otherwise
    * collide on bare batchIds — the second stream's batch 0 either gets
    * silently SKIPPED (the first stream's marker exists) or SCRUBS the
    * first stream's committed b0 files (same tag). Pick an id that is
    * (a) stable across restarts of the same checkpoint — a
    * StreamingQuery runId changes per restart and would re-ingest the
    * recovered in-flight batch under a fresh tag, duplicating it — and
    * (b) distinct per logical stream / checkpoint; the checkpoint name
    * is the natural choice. Start with `.start()` / `.trigger(...)` as
    * usual; pair with a checkpointLocation for cross-restart replay
    * safety. */
  def vectorIngest(stream: DataFrame, dir: String,
                   idCol: String, vecCol: String, streamId: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    taggedIngest(stream, dir, streamId) { (spark, batch, tag) =>
      graft.functions.AnnIndex.addBatchTagged(spark, dir, batch, idCol, vecCol, tag)
    }

  /** [[vectorIngest]]'s twin for the persisted LSH band index (same
    * marker layout, tag, single-writer contract and streamId rules). */
  def bandIngest(stream: DataFrame, dir: String,
                 idCol: String, textCol: String, streamId: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    taggedIngest(stream, dir, streamId) { (spark, batch, tag) =>
      graft.functions.BandIndex.addBatchTagged(spark, dir, batch, idCol, textCol, tag)
    }

  /** The replay-safe foreachBatch sink both ingests share: skip a
    * batch whose marker exists, else run the store's tagged `ingest`
    * of a non-empty batch under `<streamId>-b<batchId>`, then write the
    * marker. */
  private def taggedIngest(stream: DataFrame, dir: String, streamId: String)
                          (ingest: (SparkSession, DataFrame, String) => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(streamId.matches("[A-Za-z0-9_-]+"),
      s"streamId must be a safe file/tag prefix: $streamId")
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val spark = batch.sparkSession
        val marker = new org.apache.hadoop.fs.Path(
          s"$dir/ingest_log/$streamId/batch-$batchId")
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker)) {
          if (!batch.isEmpty) ingest(spark, batch.toDF(), s"$streamId-b$batchId")
          fs.mkdirs(marker.getParent)
          fs.create(marker, true).close()
        }
      }
  }

  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               tsCol: String, rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.filterNot(c => keyCols.contains(c) || c == tsCol).toSeq
    val lStruct = left.select(leftCols.map(col): _*).schema
    val rStruct = right.select(rightCols.map(col): _*).schema
    val lTagged = left.select(
      keyCols.map(col) ++
        Seq(col(tsCol).as("__ts"), lit(1).as("__isl"),
          struct(leftCols.map(col): _*).as("__l"),
          lit(null).cast(rStruct).as("__r")): _*)
    val rTagged = right.select(
      keyCols.map(col) ++
        Seq(col(tsCol).as("__ts"), lit(0).as("__isl"),
          lit(null).cast(lStruct).as("__l"),
          struct(rightCols.map(col): _*).as("__r")): _*)
    val combined = lTagged.unionByName(rTagged)
    val w = Window.partitionBy(keyCols.map(col): _*)
      // final __r term: total order among equal-(key, ts) right rows →
      // `last` deterministically picks the max rightCols tuple
      .orderBy(col("__ts").asc, col("__isl").asc, col("__r").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    combined
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__isl") === 1)
      .select(keyCols.map(col) ++ Seq(col("__ts").as(tsCol)) ++
        leftCols.map(c => col(s"__l.$c").as(c)) ++
        rightCols.map(c => col(s"__match.$c").as(c)): _*)
  }
}
