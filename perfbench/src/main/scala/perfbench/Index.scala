package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.functions.{AnnIndex, BandIndex}

/** One client in a closed loop, no think time, against the two
  * persisted stores. A pass builds both stores from the corpus, runs
  * `rounds` rounds of (band ingest, band probe, ANN ingest, ANN probe),
  * then maintenance (delete, vacuum, compact) on both and one more probe
  * each. Every call is a few small Spark jobs plus hundreds of directory
  * listings, opens and renames, and a third to a half of a probe's or a
  * maintenance call's wall is driver time between those jobs: this
  * workload is job-count- and driver-bound. Reads, writes and
  * maintenance sit side by side so a probe gain paid for by ingest or by
  * space shows up. */
final class Index(spark: SparkSession, corpusDocs: Int, rounds: Int,
                  batchDocs: Int, probeDocs: Int) extends Workload {

  val Cells = 16
  /** Store layout for a corpus of this size: 16 postings buckets (one hex
    * char of the band key) and 16 shingle buckets. */
  val PrefixLen = 1
  val IdBuckets = 16
  val Threshold = 0.8
  /** Compaction folds partitions that received a file from every round. */
  val CompactMinFiles = rounds + 1
  private var facts: Gen.IndexFacts = _

  def generate(seed: Long, dir: String): Unit = {
    facts = Gen.index(seed, corpusDocs, rounds, batchDocs, probeDocs)
    Gen.writeIndex(spark, facts, dir)
  }

  def samples(spans: Seq[Span]): Seq[(String, Double)] = {
    def walls(name: String) = spans.filter(_.name == name).map(_.wall)
    Seq("build_s" -> (walls("band.save").sum + walls("ann.save").sum),
      "maintain_s" -> (walls("band.maintain").sum + walls("ann.maintain").sum)) ++
      walls("band.ingest").map("band_ingest_p50_s" -> _) ++
      walls("ann.ingest").map("ann_ingest_p50_s" -> _) ++
      walls("band.probe").map("band_probe_p50_s" -> _) ++
      walls("ann.probe").map("ann_probe_p50_s" -> _)
  }

  def pass(t: Tracer, dir: String, out: String): PassOut = {
    val band = s"$out/band"
    val ann = s"$out/ann"
    val bandPairs = Seq.newBuilder[(Int, Seq[(Long, Long, Double)])]
    val annHits = Seq.newBuilder[(Int, Seq[(Long, Long)])]
    def read(p: String) = spark.read.parquet(s"$dir/$p")
    def inRound(p: String, r: Int) = read(p).filter(col("round") === r).drop("round")
    def probes(round: Int): Unit = {
      bandPairs += round -> t.span("band.probe", Some(Main.parquetFiles(band))) {
        BandIndex.probe(spark, band, inRound("probe", round), "doc_id", "text", Threshold)
          .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jac"))).toSeq
      }
      annHits += round -> t.span("ann.probe", Some(Main.parquetFiles(ann))) {
        AnnIndex.probe(spark, ann, inRound("queries", round), "id", "vec", k = 10, nprobe = 4)
          .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
    }

    t.span("band.save") {
      BandIndex.save(read("corpus"), "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16, band,
        prefixLen = PrefixLen, idBuckets = IdBuckets)
    }
    t.span("ann.save") { AnnIndex.ivfIndexSave(read("corpus_vecs"), "id", "vec", Cells, ann) }
    for (r <- 0 until rounds) {
      t.span("band.ingest") {
        BandIndex.addBatchTagged(spark, band, inRound("batch", r), "doc_id", "text", s"r$r")
      }
      t.span("ann.ingest") {
        AnnIndex.addBatchTagged(spark, ann, inRound("vecs", r), "id", "vec", s"r$r")
      }
      probes(r)
    }
    t.span("band.maintain") {
      BandIndex.deleteIds(spark, band, read("deleted"), "id", "d0")
      BandIndex.vacuumDeletes(spark, band)
      BandIndex.compact(spark, band, CompactMinFiles)
    }
    t.span("ann.maintain") {
      AnnIndex.deleteIds(spark, ann, read("deleted"), "id", "d0")
      AnnIndex.vacuumDeletes(spark, ann)
      AnnIndex.compactCells(spark, ann, CompactMinFiles)
    }
    probes(rounds)
    PassOut(Seq("bytes_per_user_byte" -> Main.bytesOnDisk(out).toDouble / userBytes),
      () => check(bandPairs.result(), annHits.result(), out))
  }

  /** Payload bytes of everything ingested: text, vectors and ids. */
  private lazy val userBytes: Double = {
    val docs = facts.corpus ++ facts.rounds.flatMap(_.batch)
    val vecs = facts.corpusVecs.size + facts.rounds.map(_.vecs.size).sum
    (docs.map(_.text.getBytes("UTF-8").length + 8L).sum + vecs * (Gen.Dim * 4L + 8L)).toDouble
  }

  private def check(band: Seq[(Int, Seq[(Long, Long, Double)])],
                    ann: Seq[(Int, Seq[(Long, Long)])], out: String): Seq[String] = {
    Main.deleteTree(new java.io.File(out))
    val bad = Seq.newBuilder[String]
    val deleted = facts.deleted.toSet
    val sh = scala.collection.mutable.Map[Long, Set[String]]()
    def shingles(id: Long) = sh.getOrElseUpdate(id, Gen.shingles(facts.text(id), 3))
    for ((round, pairs) <- band) {
      val afterDelete = round == rounds
      val found = pairs.flatMap { case (a, b, _) => Seq(a -> b, b -> a) }.toSet
      pairs.foreach { case (a, b, _) =>
        val j = Gen.jaccard(shingles(a), shingles(b))
        if (j < Threshold - 1e-9) bad += f"band pair ($a, $b) re-verifies at $j%.4f"
        if (afterDelete && (deleted(a) || deleted(b))) bad += s"deleted id returned in band pair ($a, $b)"
      }
      facts.rounds(round).probe.map(_.id).flatMap(p => facts.probeSrc.get(p).map(p -> _)).foreach {
        case (p, s) =>
          val live = !(afterDelete && deleted(s))
          if (live && Gen.jaccard(shingles(p), shingles(s)) >= 0.9 && !found(p -> s))
            bad += s"band probe $p missed its planted source $s"
      }
    }
    for ((round, hits) <- ann) {
      val afterDelete = round == rounds
      val byQuery = hits.groupBy(_._1).map { case (q, h) => q -> h.map(_._2).toSet }
      if (afterDelete) hits.filter(h => deleted(h._2)).foreach { case (q, n) =>
        bad += s"deleted id $n returned for ANN query $q" }
      facts.rounds(round).queries.map(_._1).flatMap(q => facts.querySrc.get(q).map(q -> _)).foreach {
        case (q, s) =>
          if (!(afterDelete && deleted(s)) && !byQuery.getOrElse(q, Set.empty[Long])(s))
            bad += s"ANN query $q missed its planted source $s"
      }
    }
    bad.result()
  }
}
