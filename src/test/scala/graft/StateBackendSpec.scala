package graft

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

import graft.streaming.{ModelConsumer, ServingStore}
import graft.streaming.ModelConsumer.KeyedRecord

/** Fault-tolerance envelope of the serve loop (SURVEY.md §2.9): state
  * backend selection (reference: ALSKafkaConsumer.java:54-65 memory/fs/
  * rocksdb flag) and restart-with-checkpoint recovery (reference:
  * checkpoint every 60s + fixed-delay restart, ALSKafkaConsumer.java:44-51).
  */
class StateBackendSpec extends SparkSpec {
  import spark.implicits._

  private def rec(id: Long, kind: String, fs: Double*): String =
    s"$id,$kind,${fs.map(f => f"$f%.6f").mkString(";")}"

  test("consumer state survives under the RocksDB state store provider") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[String]
      val store = ServingStore.factorStore()
      val q = ModelConsumer.serveTo(spark, in.toDF(), store)
      try {
        in.addData(rec(1, "U", 0.1), rec(2, "U", 0.2))
        q.processAllAvailable()
        in.addData(rec(1, "U", 0.9))
        q.processAllAvailable()
        assert(store.get("1-U").get.toSeq === Seq(0.9))
        assert(store.size === 2)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("restart from checkpoint preserves latest-per-key state") {
    val ckpt = Files.createTempDirectory("ckpt").toFile.getAbsolutePath
    val dir = Files.createTempDirectory("recov").toFile.getAbsolutePath
    val store = ServingStore.factorStore()

    // first incarnation: ingest one file, then "fail" (stop)
    val q1 = ModelConsumer.serveTo(spark,
      graft.sources.Tables.textStream(spark, dir), store, Some(ckpt))
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.txt"),
      rec(1, "U", 0.1) + "\n" + rec(2, "U", 0.2) + "\n")
    q1.processAllAvailable()
    q1.stop()
    assert(store.get("1-U").get.toSeq === Seq(0.1))

    // second incarnation, same checkpoint: only the new file is replayed,
    // and state carried in the checkpoint still wins on stale seq
    Files.writeString(java.nio.file.Paths.get(s"$dir/b.txt"),
      rec(1, "U", 0.7) + "\n" + rec(3, "I", 0.3) + "\n")
    val q2 = ModelConsumer.serveTo(spark,
      graft.sources.Tables.textStream(spark, dir), store, Some(ckpt))
    try {
      q2.processAllAvailable()
      assert(store.get("1-U").get.toSeq === Seq(0.7))
      assert(store.get("2-U").get.toSeq === Seq(0.2))
      assert(store.get("3-I").get.toSeq === Seq(0.3))
    } finally q2.stop()
  }

  /** Every (path, type) leaf of a schema, struct fields flattened. */
  private def leaves(t: DataType, path: String = ""): Seq[(String, DataType)] =
    t match {
      case s: StructType => s.fields.toSeq.flatMap(f =>
        leaves(f.dataType, if (path.isEmpty) f.name else s"$path.${f.name}"))
      case other => Seq(path -> other)
    }

  test("checkpointed consumer state holds each key's seq and no factors") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val ckpt = Files.createTempDirectory("state-shape").toFile.getAbsolutePath
    val store = ServingStore.factorStore()
    val q = ModelConsumer.serveTo(spark, in.toDF().toDF("value", "offset"),
      store, Some(ckpt), seqCol = Some("offset"))
    try {
      in.addData((rec(1, "U", 0.1, 0.2), 3L), (rec(2, "I", 0.3, 0.4), 7L))
      q.processAllAvailable()
      in.addData((rec(1, "U", 0.9, 0.8), 12L))
      q.processAllAvailable()
    } finally q.stop()

    val state = spark.read.format("statestore").load(ckpt)
    val value = leaves(state.schema("value").dataType)
    assert(!value.exists(_._2.isInstanceOf[ArrayType]),
      s"state value carries an array: $value")
    val seqPath = value.collect { case (p, LongType) if p.endsWith("seq") => p }
    assert(seqPath.size === 1, s"expected one seq field in $value")
    val keyPath = leaves(state.schema("key").dataType).head._1
    val rows = state.select(col(s"key.$keyPath"), col(s"value.${seqPath.head}"))
      .as[(String, Long)].collect().toMap
    assert(rows === Map("1-U" -> 12L, "2-I" -> 7L))
    assert(store.get("1-U").get.toSeq === Seq(0.9, 0.8))
  }

  test("a checkpoint holding factors in the state fails the restart loudly") {
    // the consumer's earlier state shape: (seq, factors) per key
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val ckpt = Files.createTempDirectory("old-state").toFile.getAbsolutePath
    val old = ModelConsumer.parse(in.toDF()).as[KeyedRecord]
      .groupByKey(_.key)
      .flatMapGroupsWithState[StateBackendSpec.SeqAndFactors, KeyedRecord](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rs: Iterator[KeyedRecord],
         st: GroupState[StateBackendSpec.SeqAndFactors]) =>
          val r = rs.maxBy(_.seq)
          st.update(StateBackendSpec.SeqAndFactors(r.seq, r.factors))
          Iterator.single(r)
      }
    val q1 = old.writeStream.outputMode(OutputMode.Update)
      .foreachBatch((b: Dataset[KeyedRecord], _: Long) => { b.collect(); () })
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(rec(1, "U", 0.1))
      q1.processAllAvailable()
    } finally q1.stop()

    val store = ServingStore.factorStore()
    val q2 = ModelConsumer.serveTo(spark, in.toDF(), store, Some(ckpt))
    try {
      in.addData(rec(2, "U", 0.2))
      val e = intercept[Exception](q2.processAllAvailable())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString
      assert(msgs.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"), msgs)
      assert(store.size === 0)
    } finally q2.stop()
  }
}

object StateBackendSpec {
  /** The consumer's keyed state before it shrank to the seq alone. */
  case class SeqAndFactors(seq: Long, factors: Array[Double])
}
