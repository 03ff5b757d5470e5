package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TF-IDF corpus vectorization (text-analysis parity-plus): one
  * explode + two hash aggregations + a broadcast-sized idf join.
  * Shuffles are proportional to (doc, term) pairs and distinct terms —
  * never corpus². */
object TfIdf {

  /** Per-(doc, token) term frequency — the lexical family's one
    * tokenize pass (SearchFunctions.termFreq), renamed to this module's
    * public column contract. The id column keeps its original type. */
  def termFrequency(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    SearchFunctions.termFreq(docs, idCol, textCol)
      .select(col("__id").as(idCol), col("__w").as("token"),
        col("__tf").as("tf"))

  /** Smooth-free idf: ln(N / df), with N = one count job over `docs`.
    * Document frequency is count(*) per token, not countDistinct: the
    * shared termFreq relation is already unique per (doc, token), so a
    * distinct aggregate would maintain per-group distinct state for a
    * guarantee that holds by construction. tf is read twice (df and
    * the join), so it is cut ([[Lineage.cut]]): one tokenize pass. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = docs.count()
    val tf = Lineage.cut(termFrequency(docs, idCol, textCol))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("token"))
      .withColumn("tfidf",
        col("tf").cast("double") * log(lit(n.toDouble) / col("df").cast("double")))
  }
}
