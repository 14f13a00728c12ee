package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming face of the q215 prefix-block accounting: as documents
  * arrive, each (block_len, prefix-hash) key keeps ONE boolean of state —
  * "has this opening block been seen" — and every doc is emitted tagged
  * hit/miss, the live view of the prefix-cache yield a batch audit
  * measures after the fact.
  *
  * Semantics: the FIRST document to present a block (earliest micro-batch;
  * doc_id ascending within a batch) is the miss that fills the cache,
  * every later one is a hit. Totals per block_len therefore equal the
  * batch accounting (docs − distinct blocks) under ANY micro-batch split —
  * which doc is the miss depends on arrival order, the hit/miss COUNTS do
  * not (StreamingPrefixCacheSpec).
  *
  * Scale: state is one boolean per distinct block — bounded by content
  * diversity, not stream length; production pairs this with the RocksDB
  * state backend (StateBackendSpec pattern) and, for unbounded corpora, an
  * event-time timeout so cold blocks age out like a real cache.
  */
object StreamingPrefixCache {

  case class BlockRow(block_len: Int, h: String, doc_id: Long)
  case class HitRow(block_len: Int, doc_id: Long, hit: Boolean)
  case class Seen(seen: Boolean)

  /** Tag every [[graft.operators.Dedup.prefixBlocks]] row hit/miss
    * against the keyed seen-state. */
  def hits(spark: SparkSession, blockRows: DataFrame): Dataset[HitRow] = {
    import spark.implicits._
    blockRows.as[BlockRow]
      .groupByKey(r => (r.block_len, r.h))
      .flatMapGroupsWithState[Seen, HitRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((b, _), rows, state: GroupState[Seen]) =>
          val sorted = rows.toArray.sortBy(_.doc_id)
          val seenBefore = state.getOption.exists(_.seen)
          if (sorted.nonEmpty && !seenBefore) state.update(Seen(true))
          sorted.iterator.zipWithIndex.map { case (r, i) =>
            HitRow(b, r.doc_id, seenBefore || i > 0)
          }
      }
  }
}
