package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.AlsScoring

/** Continuous model-quality evaluation: the streaming face of the MSE job
  * (als-ms/MSE.java:26-83 runs it as a batch job against served state; here
  * each rating micro-batch is scored against the CURRENT store snapshot and
  * appends one (batch_id, mse, n) row to the metrics sink).
  *
  * Each batch runs the same prefix [[SgdUpdater]] trains on,
  * [[ServingStore.scoreBatch]]: one `snapshot` of the store, then
  * [[AlsScoring.predictions]]. A missing user or item key falls back to
  * that side's served MEAN row (MSE.java:129-158), and a rating is dropped
  * only when a side is absent and that side's MEAN row is not served — so
  * the evaluator counts exactly the ratings SGD steps on. */
object StreamingEvaluator {

  /** Per-batch MSE rows are delivered to `onResult` (batchId, mse, count).
    * Ratings arrive as "user,item,rating" lines. */
  def mseStream(spark: SparkSession, ratingLines: DataFrame,
                store: ServingStore.FactorStore,
                onResult: (Long, Double, Long) => Unit): StreamingQuery =
    ratingLines.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // malformed rows are dropped BEFORE scoring so the reported (mse, n)
        // are computed over the same row set
        val row = AlsScoring.mse(ServingStore.scoreBatch(batch, store)._1).collect()(0)
        if (!row.isNullAt(0)) onResult(batchId, row.getDouble(0), row.getLong(1))
      }
      .start()
}
