package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.frame.Frame
import graft.model.Scaffold
import graft.operators.Pipes
import graft.prep.Preprocessing
import graft.train.Trainer

/** The reference's own use, shaped like its FashionMNIST example: read
  * 784-float image rows with a label and a linear target, index them as
  * a Frame, split off a test slice and cache, drain `epochs` shuffled
  * epochs of 100-row minibatches through a trivial consumer, then fit a
  * linear model with Adam, evaluate it and save it. Most of an epoch
  * is the wait for its first batch (the shuffle's range sort and
  * `zipWithIndex`, the iterator's `_idx` sort and the first partition
  * fetch) — layers neither the curation job nor the index uses. */
final class Train(spark: SparkSession, seed: Long, rows: Int, epochs: Int) extends Workload {

  val BatchSize = 100
  private var facts: Gen.TrainFacts = _

  def generate(seed: Long, dir: String): Unit = facts = Gen.train(spark, seed, rows, dir)

  def samples(spans: Seq[Span]): Seq[(String, Double)] = {
    def walls(name: String) = spans.filter(_.name == name).map(_.wall)
    val firsts = walls("loader.first_batch")
    Seq("first_batch_s" -> (walls("frame.from_df").sum + firsts.head),
      "fit_s" -> (walls("train.sgd").sum + walls("model.eval_save").sum)) ++
      firsts.zip(walls("loader.drain")).map { case (f, d) => "epoch_s" -> (f + d) }
  }

  def pass(t: Tracer, dir: String, out: String): PassOut = {
    val bad = Seq.newBuilder[String]
    val (train, test, nTrain) = t.span("frame.from_df") {
      val f = Frame.fromDF(spark.read.parquet(s"$dir/train"), Seq("id"))
      val (tr, te) = Preprocessing.splitByMod(f, "id", 5, 0)
      tr.cache(); te.cache()
      (tr, te, tr.length)
    }
    val expected = rows - (rows + 4) / 5
    if (nTrain != expected) bad += s"training split has $nTrain rows, expected $expected"
    for (epoch <- 0 until epochs) {
      val seen = new java.util.BitSet(rows)
      var delivered = 0L
      var ragged = 0
      val batches = t.span("loader.first_batch") {
        val it = Pipes.batchIterator(Pipes.shuffle(train, seed * 1000 + epoch), BatchSize)
        it.hasNext
        it
      }
      t.span("loader.drain") {
        batches.foreach { b =>
          if (b.size != BatchSize) ragged += 1
          b.foreach { r =>
            val id = r.getAs[Long]("id").toInt
            if (seen.get(id)) bad += s"epoch $epoch delivered row $id twice"
            seen.set(id); delivered += 1
          }
        }
      }
      if (delivered != expected || seen.cardinality != expected || ragged > 0)
        bad += s"epoch $epoch delivered $delivered rows (${seen.cardinality} distinct, $ragged ragged batches), expected $expected"
    }
    val model = t.span("train.sgd") {
      Trainer.sgdLinear(train, Gen.Features, "y",
        Trainer.SgdConfig(lr = 0.1, epochs = 2, batchSize = BatchSize, seed = seed,
          optimizer = Trainer.Adam()))
    }
    val rmse = t.span("model.eval_save") {
      val r = model.transform(test.df)
        .agg(sqrt(avg(pow(col(model.predCol) - col("y"), 2)))).head().getDouble(0)
      new Scaffold().attach(model).save(s"$out/model")
      r
    }
    train.unpersist(); test.unpersist()
    val coef = model.m.toSeq
    val bias = model.b
    PassOut(Nil, () => {
      Main.deleteTree(new java.io.File(out))
      bad ++= coef.zip(facts.coef).zipWithIndex.collect {
        case ((got, want), i) if math.abs(got - want) > 0.6 => f"coefficient $i fitted $got%.3f, generated $want%.3f"
      }
      if (math.abs(bias - facts.bias) > 0.6) bad += f"bias fitted $bias%.3f, generated ${facts.bias}%.3f"
      if (!(rmse < 1.0)) bad += f"test RMSE $rmse%.3f, noise is 0.4"
      bad.result()
    })
  }
}
