package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.VectorFunctions._
import graft.operators.{AlsScoring, ModelCodec}

/** Online matrix-factorization SGD over the served model (SURVEY.md §2.9,
  * §7.2 step 5).
  *
  * Reference: als-ms/SGD.java:160-217 — per rating, fetch user/item vectors
  * from queryable state (mean-vector fallback when absent,
  * SGD.java:142-147,227), compute the prediction error, apply an axpy-style
  * update to both vectors, and emit the updated records back to Kafka —
  * which feeds the consumer's state: a feedback loop.
  *
  * Spark re-design: per-record RPC+update becomes a *mini-batch* gradient
  * step as pure dataflow. [[step]] is the one implementation: the batch
  * query q17 calls it on a scored DataFrame, and [[updateLoop]] calls it on
  * each micro-batch scored by [[ServingStore.scoreBatch]] (one store read,
  * the prefix [[StreamingEvaluator]] shares) — the streaming loop is the
  * batch step run incrementally. Each side's gradient is one partial-agg
  * shuffle joined to the model by [[graft.operators.AlsScoring.joinFactors]]
  * (MEAN fallback), and the updated vectors are upserted into the
  * [[ServingStore]], closing the same loop at micro-batch granularity.
  * Gradients within a batch are computed from the same snapshot (the
  * reference tolerates stale reads the same way — SURVEY.md §7.4).
  *
  * Update rule per key (lr = learning rate, λ = L2 regularization):
  *   u' = u + lr * ( Σ_ratings err·i  −  λ·u )   with err = r − u·i
  * and symmetrically for items.
  */
object SgdUpdater {

  /** One mini-batch SGD step on both sides: returns the updated
    * (user_id, uf) and (item_id, itf). `scored` is
    * `AlsScoring.predictions(ratings, userF, itemF, meanU, meanI)` with the
    * same model tables and means. A key that is rated but absent from the
    * model steps from its side's mean (cold-start onboarding,
    * SGD.java:219-234); with no mean the side's join is inner, so only keys
    * both rated and modelled are returned. */
  def step(scored: DataFrame, userF: DataFrame, itemF: DataFrame,
           lr: Double, lambda: Double = 0.0,
           meanU: Option[Array[Double]] = None,
           meanI: Option[Array[Double]] = None): (DataFrame, DataFrame) = {
    val err = col("rating") - col("prediction")
    def side(keyCol: String, vecCol: String, otherVecCol: String,
             cur: DataFrame, mean: Option[Array[Double]]): DataFrame = {
      // Σ err·other per key in ONE aggregation: the graft_vecsum
      // TypedImperativeAggregate keeps a mutable k-dim buffer per key with
      // map-side combine — no posexplode row blow-up, no second shuffle.
      val grads = scored
        .select(col(keyCol), scale(col(otherVecCol), err).as("g"))
        .groupBy(col(keyCol))
        .agg(vecSum(col("g")).as("grad"))
      // u' = u + lr*(grad − λ·u)
      AlsScoring.joinFactors(grads, cur, keyCol, vecCol, mean).select(col(keyCol),
        zip_with(col(vecCol), col("grad"),
          (u, g) => u + lit(lr) * (g - lit(lambda) * u)).as(vecCol))
    }
    (side("user_id", "uf", "itf", userF, meanU),
      side("item_id", "itf", "uf", itemF, meanI))
  }

  /** Wire a rating-record stream into the feedback loop: each micro-batch
    * is scored by [[ServingStore.scoreBatch]] (one store read), takes one
    * [[step]], and upserts the updated vectors back under their user and
    * item state keys. */
  def updateLoop(spark: SparkSession, ratingLines: DataFrame,
                 store: ServingStore.FactorStore,
                 lr: Double, lambda: Double = 0.0,
                 checkpointDir: Option[String] = None): StreamingQuery = {
    val w = ratingLines.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val (scored, m) = ServingStore.scoreBatch(batch, store)
        // one scored join per batch, shared by both gradient sides
        scored.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (newU, newI) = step(scored, m.userF, m.itemF, lr, lambda, m.meanU, m.meanI)
          ServingStore.upsertBatch(store, newU
            .select(ModelCodec.keyCol(col("user_id"), ModelCodec.User).as("key"),
              col("uf").as("factors"))
            .unionAll(newI
              .select(ModelCodec.keyCol(col("item_id"), ModelCodec.Item).as("key"),
                col("itf").as("factors"))))
        } finally scored.unpersist()
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }
}
