package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything a workload reads comes from here,
  * written to parquet under a data directory during set-up, together
  * with `facts.json`: what the generator planted, which the output
  * checks compare against. The same seed gives byte-identical files. */
object Gen {

  final case class Doc(id: Long, text: String, source: String)

  val Sources: IndexedSeq[String] = IndexedSeq("web", "books", "news", "wiki", "forum")
  // the library's English stopword profile sits at the top Zipf ranks, so
  // ordinary docs vote "en" in langIdGuess and junk docs (none) do not
  private val Stopwords = IndexedSeq("the", "a", "of", "and", "is", "to", "in", "that")

  /** Zipf(1.0) word source over the stopwords plus `size` made-up words. */
  final class Vocab(rng: SplittableRandom, size: Int) {
    val words: IndexedSeq[String] = {
      val seen = scala.collection.mutable.LinkedHashSet[String](Stopwords: _*)
      while (seen.size < size + Stopwords.size) {
        val len = 3 + rng.nextInt(7)
        seen += Iterator.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
      }
      seen.toIndexedSeq
    }
    private val cdf: Array[Double] = {
      val w = words.indices.map(r => 1.0 / (r + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def word(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, words.size - 1))
    }
    def text(r: SplittableRandom, minWords: Int, maxWords: Int): String =
      Iterator.fill(minWords + r.nextInt(maxWords - minWords + 1))(word(r)).mkString(" ")
    /** Replace each word with probability `frac` by a different word;
      * at least one word changes, so a near copy is never exact. */
    def edit(r: SplittableRandom, text: String, frac: Double): String = {
      val words = text.split(" ")
      def swap(i: Int): Unit = words(i) = Iterator.continually(word(r)).find(_ != words(i)).get
      var edited = false
      for (i <- words.indices if r.nextDouble() < frac) { swap(i); edited = true }
      if (!edited) swap(r.nextInt(words.length))
      words.mkString(" ")
    }
  }

  /** Word n-gram set with the library kernel's semantics (`word_shingles`:
    * distinct space-joined n-grams, the whole text when shorter than n). */
  def shingles(text: String, n: Int): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set(text) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  // ---------------------------------------------------------------- curate

  final case class CurateFacts(docs: IndexedSeq[Doc], exactCopies: Seq[(Long, Long)],
                               nearPairs: Seq[(Long, Long, Double)], evalIds: Seq[Long],
                               contaminated: Seq[Long], junk: Seq[Long])

  val EvalMod = 50

  /** A corpus with planted exact copies (~10%), near copies (~10%, ~3% of
    * words edited), junk docs (~2%) and docs quoting a span of an
    * eval-slice doc (~1%). Eval-slice docs are the ids divisible by
    * [[EvalMod]]. Copies always get a higher id than their original. */
  def curate(seed: Long, n: Int): CurateFacts = {
    val rng = new SplittableRandom(seed)
    val vocab = new Vocab(rng.split(), 5000)
    val docs = new scala.collection.mutable.ArrayBuffer[Doc](n)
    val originals = new scala.collection.mutable.ArrayBuffer[Int]()
    val exact = Seq.newBuilder[(Long, Long)]
    val near = Seq.newBuilder[(Long, Long, Double)]
    val contam = Seq.newBuilder[Long]
    val junk = Seq.newBuilder[Long]
    for (i <- 0 until n) {
      val src = Sources(rng.nextInt(Sources.size))
      val u = rng.nextDouble()
      val evalDoc = i % EvalMod == 0
      val text =
        if (evalDoc || originals.size < 20 || u >= 0.23) {
          originals += i; vocab.text(rng, 60, 200)
        } else if (u < 0.10) {
          val o = originals(rng.nextInt(originals.size))
          exact += (i.toLong -> o.toLong); docs(o).text
        } else if (u < 0.20) {
          val o = originals(rng.nextInt(originals.size))
          val t = vocab.edit(rng, docs(o).text, 0.03)
          near += ((o.toLong, i.toLong, jaccard(shingles(docs(o).text, 3), shingles(t, 3))))
          t
        } else if (u < 0.22) {
          junk += i.toLong
          val bigram = s"${vocab.words(100 + rng.nextInt(1000))} ${vocab.words(100 + rng.nextInt(1000))}"
          Iterator.fill(30 + rng.nextInt(40))(bigram).mkString(" ")
        } else {
          val evalIds = (0 until i by EvalMod)
          val e = docs(evalIds(rng.nextInt(evalIds.size))).text.split(" ")
          val start = rng.nextInt(e.length - 12)
          contam += i.toLong
          val own = vocab.text(rng, 60, 160).split(" ")
          val at = rng.nextInt(own.length)
          (own.take(at) ++ e.slice(start, start + 12) ++ own.drop(at)).mkString(" ")
        }
      docs += Doc(i.toLong, text, src)
    }
    CurateFacts(docs.toIndexedSeq, exact.result(), near.result(),
      (0 until n by EvalMod).map(_.toLong), contam.result(), junk.result())
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))

  def docRows(docs: Seq[Doc]): Seq[Row] = docs.map(d => Row(d.id, d.text, d.source))

  def writeCurate(spark: SparkSession, f: CurateFacts, dir: String): Unit = {
    writeParquet(spark, docRows(f.docs), DocSchema, s"$dir/docs", 4)
    writeFacts(dir, Seq(
      "exact_copies" -> pairsJson(f.exactCopies),
      "near_pairs" -> f.nearPairs.map { case (a, b, j) => f"[$a,$b,$j%.6f]" }.mkString("[", ",", "]"),
      "eval_ids" -> f.evalIds.mkString("[", ",", "]"),
      "contaminated" -> f.contaminated.mkString("[", ",", "]"),
      "junk" -> f.junk.mkString("[", ",", "]")))
  }

  // ----------------------------------------------------------------- index

  final case class Round(batch: IndexedSeq[Doc], probe: IndexedSeq[Doc],
                         vecs: IndexedSeq[(Long, Array[Float])],
                         queries: IndexedSeq[(Long, Array[Float])])

  /** Index-loop inputs. `probeSrc` / `querySrc` map a planted probe doc /
    * query id to the indexed id it copies; the final round is the
    * post-maintenance probe and plants copies of deleted ids too. */
  final case class IndexFacts(corpus: IndexedSeq[Doc], corpusVecs: IndexedSeq[(Long, Array[Float])],
                              rounds: IndexedSeq[Round], deleted: IndexedSeq[Long],
                              probeSrc: Map[Long, Long], querySrc: Map[Long, Long]) {
    lazy val text: Map[Long, String] =
      (corpus ++ rounds.flatMap(r => r.batch ++ r.probe)).map(d => d.id -> d.text).toMap
  }

  val Dim = 32
  val ProbeIdBase = 1000000000L

  def index(seed: Long, corpusSize: Int, rounds: Int, batch: Int, probe: Int): IndexFacts = {
    val rng = new SplittableRandom(seed)
    val vocab = new Vocab(rng.split(), 5000)
    val centers = Array.fill(64)(Array.fill(Dim)(rng.nextGaussian().toFloat))
    def vec(r: SplittableRandom): Array[Float] = {
      val c = centers(r.nextInt(centers.length))
      c.map(x => (x + 0.3 * r.nextGaussian()).toFloat)
    }
    def doc(id: Long) = Doc(id, vocab.text(rng, 60, 200), Sources(rng.nextInt(Sources.size)))
    val corpus = (0 until corpusSize).map(i => doc(i.toLong))
    val corpusVecs = corpus.map(d => d.id -> vec(rng))
    // deletes: 3% of the corpus, fixed before any probe is planted
    val deleted = rng.ints(corpusSize.toLong * 3 / 100, 0, corpusSize).toArray
      .distinct.sorted.map(_.toLong).toIndexedSeq
    val deletedSet = deleted.toSet
    val live = (0 until corpusSize).filterNot(i => deletedSet(i.toLong))
    val probeSrc = Map.newBuilder[Long, Long]
    val querySrc = Map.newBuilder[Long, Long]
    // rounds 0..rounds-1 run before maintenance; round `rounds` is the
    // post-maintenance probe, which also plants copies of deleted ids
    val rs = (0 to rounds).map { r =>
      val last = r == rounds
      val nextId = corpusSize.toLong + r * batch
      val b = if (last) IndexedSeq.empty else (0 until batch).map(j => doc(nextId + j))
      val bv = b.map(d => d.id -> vec(rng))
      val p = (0 until probe).map { j =>
        val id = ProbeIdBase + r * probe + j
        if (j % 3 == 0) {
          val src = if (last && j % 2 == 0) deleted(rng.nextInt(deleted.size))
            else live(rng.nextInt(live.size)).toLong
          probeSrc += id -> src
          Doc(id, vocab.edit(rng, corpus(src.toInt).text, 0.03), "probe")
        } else doc(id)
      }
      val q = (0 until probe).map { j =>
        val id = ProbeIdBase + r * probe + j
        if (j % 3 == 0) {
          val src = if (last && j % 2 == 0) deleted(rng.nextInt(deleted.size))
            else live(rng.nextInt(live.size)).toLong
          querySrc += id -> src
          id -> corpusVecs(src.toInt)._2.map(x => (x + 0.01 * rng.nextGaussian()).toFloat)
        } else id -> vec(rng)
      }
      Round(b, p, bv, q)
    }
    IndexFacts(corpus, corpusVecs, rs, deleted, probeSrc.result(), querySrc.result())
  }

  val VecSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  def vecRows(v: Seq[(Long, Array[Float])]): Seq[Row] = v.map { case (i, a) => Row(i, a.toSeq) }

  /** Per-round inputs share one file per kind, with a `round` column. */
  def writeIndex(spark: SparkSession, f: IndexFacts, dir: String): Unit = {
    def rounds[T](part: Round => Seq[T], row: T => Row): Seq[Row] =
      f.rounds.zipWithIndex.flatMap { case (r, i) => part(r).map(x => Row.fromSeq(row(x).toSeq :+ i)) }
    def withRound(s: StructType) = s.add(StructField("round", IntegerType, nullable = false))
    writeParquet(spark, docRows(f.corpus), DocSchema, s"$dir/corpus", 4)
    writeParquet(spark, vecRows(f.corpusVecs), VecSchema, s"$dir/corpus_vecs", 4)
    writeParquet(spark, rounds[Doc](_.batch, d => docRows(Seq(d)).head), withRound(DocSchema), s"$dir/batch", 1)
    writeParquet(spark, rounds[(Long, Array[Float])](_.vecs, v => vecRows(Seq(v)).head), withRound(VecSchema), s"$dir/vecs", 1)
    writeParquet(spark, rounds[Doc](_.probe, d => docRows(Seq(d)).head), withRound(DocSchema), s"$dir/probe", 1)
    writeParquet(spark, rounds[(Long, Array[Float])](_.queries, v => vecRows(Seq(v)).head), withRound(VecSchema), s"$dir/queries", 1)
    writeParquet(spark, f.deleted.map(Row(_)),
      StructType(Seq(StructField("id", LongType, nullable = false))), s"$dir/deleted", 1)
    writeFacts(dir, Seq(
      "deleted" -> f.deleted.mkString("[", ",", "]"),
      "probe_src" -> pairsJson(f.probeSrc.toSeq.sorted),
      "query_src" -> pairsJson(f.querySrc.toSeq.sorted)))
  }

  // ----------------------------------------------------------------- train

  final case class TrainFacts(rows: Int, coef: IndexedSeq[Double], bias: Double)

  val Pixels = 784
  val Features: IndexedSeq[String] = IndexedSeq("x0", "x1", "x2", "x3")

  /** MNIST-shaped rows: a 784-float image (sparse, class template plus
    * noise), a label, and features x0..x3 with a linear target
    * y = coef · x + bias + N(0, 0.4) — the reference's convergence-test
    * recipe (coefficients in [-3, 3], bias in [-5, 5]). */
  def train(spark: SparkSession, seed: Long, rows: Int, dir: String): TrainFacts = {
    val rng = new SplittableRandom(seed)
    val coef = Features.map(_ => rng.nextDouble(-3, 3))
    val bias = rng.nextDouble(-5, 5)
    val templates = Array.fill(10)(Array.fill(Pixels)(
      if (rng.nextDouble() < 0.2) rng.nextDouble().toFloat else 0f))
    val data = (0 until rows).map { i =>
      val label = rng.nextInt(10)
      val t = templates(label)
      val px = t.map(v => if (v == 0f) 0f
        else math.round(math.min(1.0, math.max(0.0, v + 0.1 * rng.nextGaussian())) * 255).toFloat / 255f)
      val x = Features.map(_ => rng.nextDouble(-1, 1))
      val y = x.zip(coef).map { case (a, b) => a * b }.sum + bias + 0.4 * rng.nextGaussian()
      Row.fromSeq(Seq(i.toLong, px.toSeq, label) ++ x ++ Seq(y))
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pixels", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("label", IntegerType, nullable = false)) ++
      (Features :+ "y").map(StructField(_, DoubleType, nullable = false)))
    writeParquet(spark, data, schema, s"$dir/train", 4)
    writeFacts(dir, Seq("rows" -> rows.toString,
      "coef" -> coef.mkString("[", ",", "]"), "bias" -> bias.toString))
    TrainFacts(rows, coef, bias)
  }

  // ------------------------------------------------------------- plumbing

  private def pairsJson(p: Seq[(Long, Long)]): String =
    p.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")

  private def writeFacts(dir: String, fields: Seq[(String, String)]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "facts.json"),
      fields.map { case (k, v) => s"\"$k\": $v" }.mkString("{\n", ",\n", "\n}\n"))
  }

  /** Write `rows` as exactly `files` parquet files with deterministic
    * names (`part-00000.parquet`, ...), dropping Spark's marker and
    * checksum side files. */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
                   path: String, files: Int): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)
    val d = new File(path)
    d.listFiles().foreach { f =>
      val n = f.getName
      if (n.startsWith("part-")) f.renameTo(new File(d, n.take(10) + ".parquet"))
      else f.delete()
    }
  }
}
