package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Governance

/** Streaming face of the q227 Mondrian conformal gate
  * ([[graft.operators.Governance.conformalThreshold]]): the batch job
  * calibrates a per-group threshold q̂ offline; this monitor watches the
  * LIVE feed and maintains, per group, how many fresh rows the
  * guarantee actually covered. A drifting upstream shows up as
  * empirical coverage sinking below the promised 1 − α — the
  * distribution-free drift alarm a curation pipeline wires to paging.
  *
  * Thresholds arrive as a static (grp, qv) table — a stream-static
  * inner join, so only calibrated groups are monitored (matching the
  * batch operator's output domain) and a NULL qv keeps the batch
  * convention q̂ = +∞: every row covered, coverage trivially 1. The
  * count is q227's own [[graft.operators.Governance.coverageCounts]] run
  * as an Update-mode stateful aggregate; it merges, so any micro-batch
  * split reaches the batch frontier (StreamingConformalSpec pins it and
  * the per-batch rows). By the batch rule a NULL v is counted in n_test
  * and covered only under a NULL qv.
  *
  * A checkpoint of the earlier `mapGroupsWithState` fold does not resume:
  * the first batch fails with STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA
  * (`flatMapGroupsWithState` in the metadata, `stateStoreSave` in the plan).
  */
object StreamingConformal {

  case class Coverage(grp: String, n_test: Long, n_covered: Long)

  /** scores: STREAMING (grp, id, v e6-score long);
    * thresholds: static (grp, qv nullable long) — q̂ in e6 units. */
  def coverage(spark: SparkSession, scores: DataFrame,
               thresholds: DataFrame): Dataset[Coverage] = {
    import spark.implicits._
    Governance.coverageCounts(
      scores.join(broadcast(thresholds), Seq("grp")), "grp").as[Coverage]
  }
}
