package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Prediction + evaluation as pure dataflow (SURVEY.md §3.3).
  *
  * The reference computes predictions by per-record RPC into Flink queryable
  * state (als-ms/MSE.java:122-159, flink-queryable-client/ALSPredict.java:65-83)
  * — an index-nested-loop join against a remote KV store. Re-expressed here
  * as broadcast equi-joins + a dot-product expression: one Catalyst plan, no
  * side effects, shuffle-free on the fact side when the model dims broadcast.
  */
object AlsScoring {

  /** J2/J5: score every rating with dot(userFactors, itemFactors) — the one
    * rating × factors join, shared by the batch queries and the streaming
    * SGD/MSE loops. Model tables are broadcast — at 100 TB fact scale the
    * model stays ~O(users+items) and this remains a map-side join. Each
    * side is one [[joinFactors]]. */
  def predictions(ratings: DataFrame, userF: DataFrame, itemF: DataFrame,
                  meanU: Option[Array[Double]] = None,
                  meanI: Option[Array[Double]] = None): DataFrame =
    joinFactors(joinFactors(ratings, userF, "user_id", "uf", meanU),
      itemF, "item_id", "itf", meanI)
      .withColumn("prediction", dot(col("uf"), col("itf")))

  /** The one MEAN-fallback join: attach `model`'s vector column `vec` to
    * `base` on `key`, `model` broadcast. With no mean the join is inner (a
    * row whose key is absent is dropped); with a mean it is left-outer and
    * `vec` is coalesced to the mean — the reference's `orElse(MEAN)`
    * (als-ms/SGD.java:142-147,227, MSE.java:129-158). Used per side by
    * [[predictions]] and by [[graft.streaming.SgdUpdater.step]]. */
  def joinFactors(base: DataFrame, model: DataFrame, key: String, vec: String,
                  mean: Option[Array[Double]]): DataFrame = mean match {
    case Some(m) => base.join(broadcast(model), Seq(key), "left_outer")
      .withColumn(vec, coalesce(col(vec), array(m.toSeq.map(lit): _*)))
    case None => base.join(broadcast(model), key)
  }

  /** A4: mean squared error of (rating, prediction). MSE.java:52-69.
    * Squared via multiplication (not pow) so each row's error term is
    * bit-identical to the oracle's `(r-p)*(r-p)`. */
  def mse(preds: DataFrame): DataFrame = {
    val err = col("rating") - col("prediction")
    preds.agg(
      avg(err * err).as("mse"),
      count(lit(1)).as("n"))
  }
}
