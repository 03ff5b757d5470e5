package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{DedupFunctions, TextAnalysisFunctions}

/** The per-row n-gram kernels behind the text gates (token_windows,
  * repetition_counts, and decontaminate's gram count taken from the
  * shingle array) against the window and aggregation forms they
  * replaced, on random corpora built to hit the tokenizer's edges:
  * empty tokens (doubled, leading and trailing spaces), non-ASCII
  * tokens, texts shorter than n, the empty text and a null text. */
class TextKernelPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val vocab = Vector("a", "b", "c", "", "ü", "日本", "naïve", "b c")

  /** `n` docs of 0..9 tokens over `vocab` (an entry with a space adds
    * two tokens), some with a leading or trailing space, plus one null
    * text. Ids are unique. */
  private def corpus(seed: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val texts = (0 until n).map { i =>
      val body = Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val text = rnd.nextInt(6) match {
        case 0 => " " + body
        case 1 => body + " "
        case _ => body
      }
      (i.toLong, text)
    }
    (texts :+ ((n.toLong, null: String))).toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  // The window forms the kernels replaced: posexplode the tokens, then
  // rebuild each position's window with lead() over a (doc, position)
  // window.

  private def gramsOfWindowed(docs: DataFrame, n: Int): DataFrame = {
    val words = docs.filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id").as("__id"), posexplode(split(col("text"), " ")))
      .toDF("__id", "__pos", "__w")
    val w = Window.partitionBy("__id").orderBy("__pos")
    val leads = (1 until n).map(k => lead("__w", k).over(w))
    words.withColumn("__w2", leads.last)
      .withColumn("__ctx", concat_ws(" ", (col("__w") +: leads.dropRight(1)): _*))
      .filter(col("__w2").isNotNull)
      .select(col("__id"), col("__ctx").as("__w"), col("__w2"))
  }

  private def triStreamWindowed(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("__id").orderBy("__pos")
    docs.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id").as("__id"), posexplode(split(col("text"), " ")))
      .toDF("__id", "__pos", "__w1")
      .withColumn("__w2", lead("__w1", 1).over(w))
      .withColumn("__w3", lead("__w1", 2).over(w))
      .filter(col("__w3").isNotNull)
      .select("__id", "__w1", "__w2", "__w3")
  }

  private def repetitionStatsWindowed(docs: DataFrame): DataFrame = {
    val words = docs.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id").as("__id"), posexplode(split(col("text"), " ")))
      .toDF("__id", "__pos", "__w")
    val w = Window.partitionBy("__id").orderBy("__pos")
    val next1 = lead("__w", 1).over(w)
    val next2 = lead("__w", 2).over(w)
    val perSize = words
      .withColumn("__g2", when(next1.isNotNull, concat(col("__w"), lit(" "), next1)))
      .withColumn("__g3", when(next2.isNotNull, concat(col("__g2"), lit(" "), next2)))
      .selectExpr("__id", "stack(3, 1, __w, 2, __g2, 3, __g3) AS (__n, __g)")
      .filter(col("__g").isNotNull)
      .groupBy("__id", "__n", "__g").agg(count(lit(1)).as("__c"))
      .groupBy("__id", "__n")
      .agg(max("__c").as("__max"), sum("__c").as("__tot"), count(lit(1)).as("__nd"))
    def pick(n: Int, c: String): Column = max(when(col("__n") === n, col(c)))
    perSize.groupBy("__id").agg(
        round(pick(1, "__max").cast("double") / pick(1, "__tot").cast("double"), 6),
        round(pick(2, "__max").cast("double") / pick(2, "__tot").cast("double"), 6),
        round((pick(3, "__tot") - pick(3, "__nd")).cast("double")
          / pick(3, "__tot").cast("double"), 6))
  }

  /** decontaminate with the doc's gram count from a second per-doc
    * aggregation joined back, the form before the count came from the
    * shingle array's size. */
  private def decontaminateJoinedBack(docs: DataFrame, bench: Column, n: Int): DataFrame = {
    val sh = docs.filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id").as("__id"), bench.as("__bench"),
        explode(DedupFunctions.wordShingles(col("text"), n)).as("__s"))
    val benchGrams = broadcast(sh.filter(col("__bench")).select("__s").distinct())
    val corpus = sh.filter(!col("__bench"))
    val grams = corpus.groupBy("__id").agg(count(lit(1)).as("__ngrams"))
    val hits = corpus.join(benchGrams, Seq("__s")).groupBy("__id").agg(count(lit(1)).as("__nhits"))
    grams.join(hits, Seq("__id"))
      .select(col("__id"), col("__nhits").cast("int"),
        round(col("__nhits").cast("double") / col("__ngrams").cast("double"), 6))
  }

  test("token_windows n-gram streams equal the lead-window streams") {
    for (seed <- 1L to 3L) {
      val docs = corpus(seed, 60)
      for (n <- Seq(2, 3, 4)) {
        val got = rows(TextAnalysisFunctions.gramsOf(docs, "doc_id", "text", n))
        assert(got.nonEmpty)
        assert(got == rows(gramsOfWindowed(docs, n)), s"seed $seed n $n")
      }
      assert(rows(TextAnalysisFunctions.triStream(docs, "doc_id", "text")) ==
        rows(triStreamWindowed(docs)), s"seed $seed trigrams")
    }
  }

  test("repetition_counts equals the three-aggregation repetition stats") {
    for (seed <- 1L to 3L) {
      val docs = corpus(seed, 60)
      val got = rows(TextAnalysisFunctions.repetitionStats(docs, "doc_id", "text"))
      assert(got.nonEmpty)
      assert(got == rows(repetitionStatsWindowed(docs)), s"seed $seed")
    }
  }

  test("decontaminate's gram count from the shingle array equals the joined-back count") {
    for (seed <- 1L to 3L; n <- Seq(2, 3)) {
      val docs = corpus(seed, 60)
      val bench = col("doc_id") % 7 === 0
      val got = rows(DedupFunctions.decontaminate(docs, "doc_id", "text", bench, n))
      assert(got.nonEmpty, s"seed $seed n $n: no contaminated doc")
      assert(got == rows(decontaminateJoinedBack(docs, bench, n)), s"seed $seed n $n")
    }
  }
}
