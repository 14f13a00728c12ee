package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Selection

/** Streaming face of the q216 group-advantage normalizer: per group the
  * sufficient statistics (n, Σr, Σr²) over 1e-6 micro-long rewards, by
  * q216's own aggregate [[graft.operators.Selection.rewardStats]] run as
  * an Update-mode stateful aggregate. The sums merge, so any micro-batch
  * split reaches the batch frontier (StreamingGroupStatsSpec pins the
  * parity, the per-batch rows and the advantage values).
  *
  * The batch rule decides the edge cases: a NULL rm is counted in n and
  * skipped by the sums, and Σr² is narrowed from DECIMAL(38,0) to BIGINT,
  * which under ANSI mode raises CAST_OVERFLOW past 2^63 instead of
  * wrapping into a degenerate-looking group. State is one buffer per
  * GROUP (source×lang-bounded), not per record.
  *
  * A checkpoint of the earlier `mapGroupsWithState` fold does not resume:
  * the first batch fails with STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA
  * (`flatMapGroupsWithState` in the metadata, `stateStoreSave` in the plan).
  */
object StreamingGroupStats {

  case class GroupStats(source: String, lang: String,
                        n: Long, s1: Long, s2: Long)

  /** (source, lang, doc_id, rm micro-long) stream → Update-mode stats. */
  def stats(spark: SparkSession, rewards: DataFrame): Dataset[GroupStats] = {
    import spark.implicits._
    Selection.rewardStats(rewards, Seq("source", "lang"), "rm")
      .select(col("source"), col("lang"), col("n"), col("s1"),
        col("s2").cast("bigint").as("s2"))
      .as[GroupStats]
  }

  /** The Scala form of q216's advantage Column for one micro-long reward
    * against group stats: (n·r − Σr)/√(n·Σr² − (Σr)²), 0 for a group whose
    * exact integer variance numerator is not positive. StreamingGroupStatsSpec
    * checks it against q216's output. */
  def advantage(rm: Long, n: Long, s1: Long, s2: Long): Double = {
    val varNum = BigInt(n) * BigInt(s2) - BigInt(s1) * BigInt(s1)
    // same arithmetic shape as the batch plan: integer numerator, then
    // one double division by the sqrt of the exact variance numerator
    if (varNum <= 0) 0.0
    else (n * rm - s1).toDouble / math.sqrt(varNum.doubleValue)
  }
}
