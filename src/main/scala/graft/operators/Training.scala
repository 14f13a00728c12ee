package graft.operators

import org.apache.spark.ml.classification.LinearSVC
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.vecSum

/** Batch model training (SURVEY.md §7.2 step 3, §2.10 ML estimators).
  *
  * Reference jobs:
  *  - flink-als/ALSImpl.scala:35-63 — FlinkML `ALS()` with iterations /
  *    numFactors / lambda / blocks / seed, factor export as
  *    `"id,KIND,f1;f2;…"` text.
  *  - flink-svm/SVMImpl.scala:24-48 — FlinkML `SVM()` (CoCoA) with blocks /
  *    iterations, flat `(featureId, weight)` export plus the
  *    range-partitioned layout (SvmPack).
  *  - flink-als/ALSMeanVector.scala:25-44 — element-wise mean of all factor
  *    vectors, emitted as a `"0,MEAN,…"` row.
  *
  * Spark re-design: `ml.recommendation.ALS` (param map: iterations→maxIter,
  * numFactors→rank, lambda→regParam, blocks→num*Blocks, seed→seed) and
  * `ml.classification.LinearSVC` (OWLQN hinge solver — a different optimizer
  * than CoCoA, so parity is asserted on model *quality*, not weights;
  * SURVEY.md §7.4). Factor DataFrames flow straight into the ModelCodec /
  * ServingStore path — no string round-trips until the wire.
  */
object Training {

  /** ALSImpl parity: train ALS, return (userFactors, itemFactors) with the
    * engine's (id, factors ARRAY<DOUBLE>) shape. Blocks control the factor
    * matrix partitioning exactly like the reference's setBlocks. */
  def alsTrain(ratings: DataFrame, rank: Int = 8, maxIter: Int = 10,
               regParam: Double = 0.1, blocks: Int = 10,
               seed: Long = 42L, checkpointInterval: Int = 5): (DataFrame, DataFrame) = {
    // The reference spills intermediate state to a temporary path
    // (flink-als/ALSImpl.scala:42-44 setTemporaryPath). Spark's analog is
    // lineage checkpointing: every ALS iteration extends the factor RDD
    // lineage, and at 100×-scale iteration counts an unbroken chain means
    // quadratic recovery cost and stack-depth risk — so cut it every
    // `checkpointInterval` iterations. Checkpointing needs a dir: respect
    // one the caller already set; provide a temp dir ONLY in local mode
    // (a driver-local path is invisible to remote executors — on a
    // cluster the caller must point setCheckpointDir at shared storage,
    // and without one ALS skips checkpointing rather than corrupting).
    val sc = ratings.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty && sc.isLocal) {
      sc.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-als-ckpt").toString)
    }
    val model: ALSModel = new ALS()
      .setUserCol("user_id").setItemCol("item_id").setRatingCol("rating")
      .setRank(rank).setMaxIter(maxIter).setRegParam(regParam)
      .setNumUserBlocks(blocks).setNumItemBlocks(blocks)
      .setSeed(seed)
      .setCheckpointInterval(checkpointInterval)
      .setColdStartStrategy("drop")
      .fit(ratings)
    def shape(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.select(col("id").cast("long").as(idCol),
        col("features").cast("array<double>").as(vecCol))
    (shape(model.userFactors, "user_id", "uf"),
      shape(model.itemFactors, "item_id", "itf"))
  }

  /** The trained model's factor export in the reference wire format
    * (ALSImpl.scala:55-62): "id,U,f1;…" ∪ "id,I,f1;…". */
  def alsExport(userF: DataFrame, itemF: DataFrame): DataFrame = {
    def enc(df: DataFrame, idCol: String, vecCol: String, kind: String) =
      df.select(ModelCodec.encodeRecord(col(idCol), lit(kind), col(vecCol))
        .as("record"))
    enc(userF, "user_id", "uf", "U").unionAll(enc(itemF, "item_id", "itf", "I"))
  }

  /** ALSMeanVector parity: element-wise mean over all factor vectors — one
    * aggregate of `vecSum` and the row count (map-side partials), each sum
    * then divided by the count, so every element has `avg`'s bits. Vectors
    * of unequal length raise: a per-row count is only a per-element count
    * when every vector has the same length. */
  def meanVector(factors: DataFrame): DataFrame =
    factors
      .agg(vecSum(col("factors")).as("s"), count(col("factors")).as("n"),
        min(size(col("factors"))).as("k_min"),
        max(size(col("factors"))).as("k_max"))
      .select(when(col("k_min") =!= col("k_max"),
          raise_error(lit("meanVector: factor vectors differ in length")))
        .otherwise(transform(col("s"), x => x / col("n"))).as("mean_vector"))

  /** The mean rows in wire format — "MEAN,U,…" / "MEAN,I,…", the exact
    * export of ALSMeanVector.scala:35 that SGD's fallback consumes. */
  def meanExport(userF: DataFrame, itemF: DataFrame): DataFrame = {
    def row(df: DataFrame, kind: String) =
      meanVector(df.withColumnRenamed(
        if (kind == "U") "uf" else "itf", "factors"))
        .select(ModelCodec.encodeRecord(lit(ModelCodec.MeanId), lit(kind),
          col("mean_vector")).as("record"))
    row(userF, "U").unionAll(row(itemF, "I"))
  }

  /** Held-out RMSE of an ALS model — the quality gate replacing bitwise
    * factor comparison (MSE.java's role for the trained model). */
  def alsRmse(model: (DataFrame, DataFrame), ratings: DataFrame): Double = {
    val preds = AlsScoring.predictions(ratings, model._1, model._2)
    new RegressionEvaluator().setMetricName("rmse")
      .setLabelCol("rating").setPredictionCol("prediction")
      .evaluate(preds)
  }

  /** SVMImpl parity: train a linear classifier on (label ±1, features),
    * export the dense weight vector as (feature_id starting at 1, w) rows —
    * the posexplode twin of SVMImpl.scala:33-35. */
  def svmTrain(labeled: DataFrame, featureCols: Seq[String],
               maxIter: Int = 20, regParam: Double = 0.01): DataFrame = {
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
      .transform(labeled)
      .withColumn("label", when(col("label") > 0, 1.0).otherwise(0.0))
    val model = new LinearSVC()
      .setMaxIter(maxIter).setRegParam(regParam)
      .fit(assembled)
    val spark = labeled.sparkSession
    import spark.implicits._
    model.coefficients.toArray.toSeq.zipWithIndex
      .map { case (w, i) => (i + 1L, w) }
      .toDF("feature_id", "w")
  }
}
