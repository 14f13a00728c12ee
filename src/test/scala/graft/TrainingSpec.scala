package graft

import org.apache.spark.sql.functions._

import graft.operators.{AlsScoring, Ratings, Training}

/** Quality gates for the ML training jobs (SURVEY.md §7.4: assert model
  * quality, not bitwise weights — Spark's solvers differ from FlinkML's). */
class TrainingSpec extends SparkSpec {
  import spark.implicits._

  test("ALS training beats the global-mean predictor on its training set") {
    val ratings = Ratings.ratings(spark, sf0)
    val (uf, itf) = Training.alsTrain(ratings, rank = 4, maxIter = 5, blocks = 4)
    val rmse = Training.alsRmse((uf, itf), ratings)
    val meanBaseline = {
      val mean = ratings.agg(avg("rating")).first().getDouble(0)
      math.sqrt(ratings.agg(avg(pow(col("rating") - mean, 2)))
        .first().getDouble(0))
    }
    assert(rmse < meanBaseline,
      s"ALS rmse $rmse should beat constant-mean rmse $meanBaseline")
    // the ALSImpl.setTemporaryPath analog: long training lineages must be
    // cut — alsTrain provides a checkpoint dir when the caller set none
    assert(spark.sparkContext.getCheckpointDir.nonEmpty,
      "alsTrain must ensure a checkpoint dir for iteration lineage cuts")
  }

  test("ALS export round-trips through the wire codec") {
    val ratings = Ratings.ratings(spark, sf0).filter($"user_id" % 20 === 0)
    val (uf, itf) = Training.alsTrain(ratings, rank = 2, maxIter = 2, blocks = 2)
    val recs = Training.alsExport(uf, itf)
    val kinds = recs.select(graft.operators.ModelCodec.parseKind($"record"))
      .distinct().as[String].collect().toSet
    assert(kinds === Set("U", "I"))
    assert(recs.count() === uf.count() + itf.count())
  }

  test("meanExport emits the MEAN,U / MEAN,I wire rows") {
    val uf = Seq((1L, Array(1.0, 3.0)), (2L, Array(3.0, 5.0))).toDF("user_id", "uf")
    val itf = Seq((1L, Array(0.0, 2.0))).toDF("item_id", "itf")
    val recs = Training.meanExport(uf, itf).as[String].collect().sorted
    assert(recs === Array("MEAN,I,0.000000;2.000000", "MEAN,U,2.000000;4.000000"))
  }

  test("meanVector matches hand-computed element-wise mean") {
    val f = Seq(Tuple1(Array(1.0, 3.0)), Tuple1(Array(3.0, 5.0))).toDF("factors")
    val mv = Training.meanVector(f).as[Array[Double]].collect()(0)
    assert(mv.toSeq === Seq(2.0, 4.0))
  }

  test("meanVector raises on factor vectors of unequal length") {
    val f = Seq(Tuple1(Array(1.0, 3.0)), Tuple1(Array(3.0, 5.0, 7.0))).toDF("factors")
    val err = intercept[Exception](Training.meanVector(f).collect())
    assert(err.getMessage.contains("differ in length"), err.getMessage)
  }

  test("LinearSVC separates a linearly separable set") {
    // label = sign of (2*x1 - x2): perfectly separable
    val data = (1 to 200).map { i =>
      val x1 = (i % 20) / 10.0; val x2 = ((i * 7) % 20) / 10.0
      (if (2 * x1 - x2 > 0) 1.0 else -1.0, x1, x2)
    }.toDF("label", "x1", "x2")
    val w = Training.svmTrain(data, Seq("x1", "x2"), maxIter = 50)
      .as[(Long, Double)].collect().toMap
    assert(w(1L) > 0, s"w1 should be positive: $w")
    assert(w(2L) < 0, s"w2 should be negative: $w")
  }
}
