package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming face of the q216 group-advantage normalizer: per group the
  * sufficient statistics (n, Σr, Σr²) over 1e-6 micro-long rewards are
  * maintained as keyed state — three longs, MERGEABLE, so any micro-batch
  * split folds to the identical state the batch aggregation computes
  * (StreamingGroupStatsSpec pins the parity and the advantage values).
  *
  * Emission is Update-mode deltas: a batch touching a group re-emits that
  * group's latest stats; downstream (a ServingStore upsert, the q216
  * formula) reads the frontier. The advantage of any reward against the
  * current state is the same integer-exact expression the batch path
  * uses: (n·r − Σr)/√(n·Σr² − (Σr)²), degenerate groups decided on the
  * exact integer variance numerator.
  *
  * Scale: state is 3 longs per GROUP (source×lang-bounded), not per
  * record; rewards arrive already micro-quantized so the folds are
  * integer adds — no float drift across replays or splits.
  */
object StreamingGroupStats {

  case class RewardRow(source: String, lang: String, doc_id: Long, rm: Long)
  case class GroupStats(source: String, lang: String,
                        n: Long, s1: Long, s2: Long)

  /** (source, lang, doc_id, rm micro-long) stream → Update-mode stats. */
  def stats(spark: SparkSession, rewards: DataFrame): Dataset[GroupStats] = {
    import spark.implicits._
    rewards.as[RewardRow]
      .groupByKey(r => (r.source, r.lang))
      .mapGroupsWithState[GroupStats, GroupStats](
        GroupStateTimeout.NoTimeout) {
        case ((src, lang), rows, state: GroupState[GroupStats]) =>
          val prev = state.getOption.getOrElse(GroupStats(src, lang, 0L, 0L, 0L))
          var n = prev.n; var s1 = prev.s1; var s2 = prev.s2
          // exact: past 2^63 a wrapped s2 would read as a degenerate group
          // (the batch twin widens Σr² to DECIMAL; here it raises)
          rows.foreach { r =>
            n += 1; s1 = Math.addExact(s1, r.rm)
            s2 = Math.addExact(s2, Math.multiplyExact(r.rm, r.rm))
          }
          val next = GroupStats(src, lang, n, s1, s2)
          state.update(next)
          next
      }
  }

  /** The q216 advantage of a micro-long reward against group stats —
    * shared by the batch contract and this streaming store. */
  def advantage(rm: Long, n: Long, s1: Long, s2: Long): Double = {
    val varNum = BigInt(n) * BigInt(s2) - BigInt(s1) * BigInt(s1)
    // same arithmetic shape as the batch plan: integer numerator, then
    // one double division by the sqrt of the exact variance numerator
    if (varNum <= 0) 0.0
    else (n * rm - s1).toDouble / math.sqrt(varNum.doubleValue)
  }
}
