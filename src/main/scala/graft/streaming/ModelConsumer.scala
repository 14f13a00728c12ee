package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.ModelCodec

/** The model-serving consumer (SURVEY.md §2.9): a stream of
  * `"id,KIND,f1;f2;…"` model records becomes latest-value-per-key state,
  * materialized into a [[ServingStore]] each micro-batch.
  *
  * Reference: ALSKafkaConsumer.java:67-92 / SVMKafkaConsumer.java:68-92 —
  * Kafka source → rebalance → parse map → `keyBy(0)` →
  * `asQueryableState("ALS_MODEL", ValueStateDescriptor)`; each record
  * overwrites its key's `ValueState`.
  *
  * Spark re-design: the keyed latest-value state is
  * `groupByKey(key).mapGroupsWithState` (hash-shuffles on key exactly like
  * `keyBy`, state co-located with its partition — the property that scales
  * this across 1000 executors); only keys that changed in the micro-batch
  * are emitted, and `foreachBatch` upserts that delta into the store. The
  * within-batch winner is the record with the highest monotonic sequence
  * (Kafka offset / file row position) — Flink gets this order implicitly
  * from per-partition FIFO.
  *
  * The keyed state holds only each key's winning sequence number
  * ([[KeyedState]]): the stale-replay guard compares seqs and nothing else,
  * and the factors already live in the store, so the state store does not
  * keep (and checkpoint) a second copy of the model. A checkpoint written
  * when the state also held the factors cannot be resumed: Spark's state
  * schema check fails the restart with STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE
  * instead of reading it — republish into a fresh checkpoint directory.
  */
object ModelConsumer {

  case class KeyedRecord(key: String, seq: Long, factors: Array[Double])
  case class KeyedState(seq: Long)

  /** Parse a raw record stream into (key, seq, factors). For Kafka pass
    * seqCol="offset" so within-batch order per key is the log order — the
    * same guarantee Flink gets from per-partition FIFO. Sources without an
    * offset get seq=0: later BATCHES overwrite earlier ones, but the winner
    * among same-key records WITHIN one batch is undefined (no source order
    * exists to honor) — same as the reference under cross-partition reads. */
  def parse(lines: DataFrame, seqCol: Option[String] = None): DataFrame = {
    val withSeq = seqCol match {
      case Some(c) => lines.withColumn("seq", col(c).cast("long"))
      case None    => lines.withColumn("seq", lit(0L))
    }
    withSeq.select(
      ModelCodec.stateKey(col("value")).as("key"),
      col("seq"),
      ModelCodec.parseFactors(col("value")).as("factors"))
      // poison tolerance: a record with a missing payload OR a corrupt
      // factor component ("1,U,1.0;x;2.0" → [1.0, null, 2.0]) is dropped —
      // a null element would NPE the primitive-array encoder downstream
      .filter(col("factors").isNotNull &&
        !exists(col("factors"), f => f.isNull))
  }

  /** Latest-record-wins per key across micro-batches; emits a key ONLY in
    * batches where its state actually changed (flatMap — stale replays
    * emit nothing, so the foreachBatch upsert really is a delta). State
    * size = O(distinct keys), plan = one hash shuffle on key per batch. */
  def latestPerKey(spark: SparkSession, parsed: DataFrame): Dataset[KeyedRecord] = {
    import spark.implicits._
    parsed.as[KeyedRecord]
      .groupByKey(_.key)
      .flatMapGroupsWithState[KeyedState, KeyedRecord](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, records: Iterator[KeyedRecord], state: GroupState[KeyedState]) =>
          val incoming = records.maxBy(_.seq)
          val cur = state.getOption
          if (cur.forall(_.seq <= incoming.seq)) {
            state.update(KeyedState(incoming.seq))
            Iterator.single(incoming)
          } else {
            Iterator.empty
          }
      }
  }

  /** Batch twin of [[latestPerKey]] — max_by(seq) per key. Used by the
    * oracle-checked q16; semantically identical to one micro-batch. */
  def latestPerKeyBatch(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("key"))
      .agg(max_by(col("factors"), col("seq")).as("factors"),
        max(col("seq")).as("seq"))

  /** Wire a parsed+keyed stream into a store: per micro-batch, upsert the
    * changed keys. Checkpointing + restart supervision come from the
    * streaming engine (`checkpointLocation`), matching the reference's
    * checkpoint/fixed-delay-restart envelope (ALSKafkaConsumer.java:44-51).
    * `seqCol` is passed to [[parse]]: a Kafka record stream uses
    * Some("offset"), so a replayed older offset loses to newer state. */
  def serveTo(spark: SparkSession, lines: DataFrame,
              store: ServingStore.FactorStore,
              checkpointDir: Option[String] = None,
              seqCol: Option[String] = None): StreamingQuery = {
    val keyed = latestPerKey(spark, parse(lines, seqCol))
    val w: DataStreamWriter[KeyedRecord] = keyed.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: Dataset[KeyedRecord], _: Long) =>
        ServingStore.upsertBatch(store, batch.toDF())
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }
}
