package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Similarity

/** Streaming ANN serving over a materialized IVF index — the engine's
  * rhyme with the reference's model-serving loop (queries arrive as a
  * stream, state lives in a store, answers return per record): an
  * embedding-query stream is bucket-assigned SCAN-STAGE
  * ([[Similarity.assignScan]] — no aggregation, so the assignment is
  * legal in a streaming plan), stream-static-joined against the
  * parquet index on the partition column, scored with the codegen
  * cosine, and top-k'd per query inside its micro-batch group.
  *
  * Scale shape: the only per-batch work is the query's bucket — the
  * static side is the [[Similarity.ivfWrite]] layout, so the join key is
  * the directory-partition column; the per-query top-k is a
  * flatMapGroups over the batch's own candidate rows (queries are
  * unique per request, so no cross-batch state is kept — the GroupState
  * is deliberately unused).
  */
object AnnServe {

  case class Neighbor(qid: Long, rank: Int, id: Long, sim: Option[Double])

  /** queries stream (qid, qvec ARRAY<FLOAT|DOUBLE>) → top-k neighbors per
    * query from the index at `indexPath` (an [[Similarity.ivfWrite]]
    * layout), using the same centroids the index was built with. */
  def serve(spark: SparkSession, queries: DataFrame,
            centroidsLocal: Seq[(Long, Array[Double])],
            indexPath: String, k: Int): Dataset[Neighbor] = {
    import spark.implicits._
    require(k >= 1, "k must be >= 1")
    val q = Similarity.assignScan(queries, centroidsLocal, "qid", "qvec")
      .select(col("cid"), col("qid"), col("qvec").as("vec_q"), col("n2").as("n2_q"))
    val index = spark.read.parquet(indexPath)
      .select(col("cid"), col("id").as("id_c"),
        graft.functions.VectorFunctions.toDoubleArray(col("vec")).as("vec_c"),
        col("n2").as("n2_c"))
    val scored = q.join(index, "cid")
      .filter(col("id_c") =!= col("qid"))
      .select(col("qid"), col("id_c").as("id"),
        graft.functions.VectorFunctions.cosineRound4(
          col("vec_c"), col("n2_c"), col("vec_q"), col("n2_q")).as("sim"))
    scored.as[(Long, Long, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, Neighbor](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid: Long, rows: Iterator[(Long, Long, Option[Double])],
         state: GroupState[Int]) =>
          // bounded k-heap, not a full sort: a skewed IVF bucket must cost
          // O(k) memory per request, not buffer the whole candidate set.
          // NULL sims (zero-norm vectors) rank last, exactly like the
          // batch twin's sim DESC sort — and are EMITTED as null, so
          // batch ≡ stream holds even for degenerate vectors.
          def key(id: Long, sim: Option[Double]): (Double, Long) =
            (-sim.getOrElse(-2.0), id)
          // head = worst of the kept k (largest (-sim, id))
          val heap = scala.collection.mutable.PriorityQueue
            .empty[(Long, Option[Double])](
              Ordering.by[(Long, Option[Double]), (Double, Long)] {
                case (id, sim) => key(id, sim)
              })
          rows.foreach { case (_, id, sim) =>
            heap.enqueue((id, sim))
            if (heap.size > k) heap.dequeue()
          }
          heap.toSeq
            .sortBy { case (id, sim) => key(id, sim) }
            .zipWithIndex
            .map { case ((id, sim), i) => Neighbor(qid, i + 1, id, sim) }
            .iterator
      }
  }
}
