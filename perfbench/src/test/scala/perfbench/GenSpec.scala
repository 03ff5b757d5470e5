package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with SparkSuite {

  /** Relative path → bytes of every file under `dir`. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  private def generated(kind: String, seed: Long, dir: String): Map[String, Seq[Byte]] = {
    kind match {
      case "curate" => Gen.writeCurate(spark, Gen.curate(seed, 300), dir)
      case "index" => Gen.writeIndex(spark, Gen.index(seed, 200, 2, 50, 20), dir)
      case "train" => Gen.train(spark, seed, 200, dir)
    }
    snapshot(dir)
  }

  for (kind <- Seq("curate", "index", "train")) {
    test(s"$kind inputs are byte-identical for a seed and differ across seeds") {
      withTempDir { d =>
        val a = generated(kind, 7, s"$d/a")
        val b = generated(kind, 7, s"$d/b")
        val c = generated(kind, 8, s"$d/c")
        assert(a.keySet.exists(_.endsWith(".parquet")) && a.contains("facts.json"))
        assert(a == b)
        assert(a.keySet == c.keySet)
        assert(a != c)
      }
    }
  }

  test("curate plants what its facts record") {
    val f = Gen.curate(3, 2000)
    val text = f.docs.map(d => d.id -> d.text).toMap
    assert(f.exactCopies.nonEmpty && f.nearPairs.nonEmpty && f.junk.nonEmpty && f.contaminated.nonEmpty)
    f.exactCopies.foreach { case (c, o) => assert(c > o && text(c) == text(o)) }
    f.nearPairs.foreach { case (o, c, j) =>
      assert(c > o && text(c) != text(o))
      assert(math.abs(j - Gen.jaccard(Gen.shingles(text(o), 3), Gen.shingles(text(c), 3))) < 1e-12)
    }
    val evalGrams = f.evalIds.flatMap(id => Gen.shingles(text(id), 8)).toSet
    f.contaminated.foreach(id => assert(Gen.shingles(text(id), 8).exists(evalGrams)))
  }

  test("index probes plant copies of indexed docs and vectors") {
    val f = Gen.index(5, 300, 2, 40, 30)
    val corpus = f.corpus.map(d => d.id -> d.text).toMap
    assert(f.probeSrc.nonEmpty && f.querySrc.nonEmpty)
    f.probeSrc.foreach { case (p, s) =>
      assert(corpus.contains(s))
      assert(Gen.jaccard(Gen.shingles(f.text(p), 3), Gen.shingles(corpus(s), 3)) > 0.5)
    }
    // the post-maintenance probe (last round) also targets deleted ids
    val last = f.rounds.last.probe.map(_.id).toSet
    assert(f.probeSrc.exists { case (p, s) => last(p) && f.deleted.contains(s) })
  }
}
