package graft

import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

import graft.functions.{Portable, TextFunctions}
import graft.operators.{Selection, TextPack}
import graft.streaming.StreamingGroupStats

/** Batch≡stream parity for the group-reward sufficient statistics: under
  * any micro-batch split the per-group frontier (n, Σr, Σr²) equals the
  * batch aggregation, the rows of the first micro-batch equal q216's
  * aggregate over the rows added so far, and advantages computed from the
  * streamed state reproduce the q216 contract values. */
class StreamingGroupStatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rewards = graft.sources.Tables
    .table(spark, sf0, "documents")
    .select(col("source"), col("lang"), col("doc_id"),
      round(Portable.snap6(TextFunctions.qualityScore(
        col("text"), TextPack.stopwords)) * lit(1e6), 0)
        .cast("long").as("rm"))
    .as[(String, String, Long, Long)].collect().toSeq

  private lazy val batchStats = rewards.groupBy(r => (r._1, r._2))
    .map { case (k, rs) =>
      k -> (rs.size.toLong, rs.map(_._4).sum, rs.map(r => r._4 * r._4).sum)
    }

  test("streamed frontier equals the batch sufficient statistics, any split") {
    for (cut <- Seq(1, rewards.length / 3, rewards.length)) {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, String, Long, Long)]
      val out = StreamingGroupStats.stats(spark,
        in.toDF().toDF("source", "lang", "doc_id", "rm"))
      val name = s"gs_$cut"
      val q = out.writeStream.format("memory").outputMode("update")
        .queryName(name).start()
      try {
        in.addData(rewards.take(cut))
        q.processAllAvailable()
        // per-batch emission: Update mode emits q216's aggregate over the
        // rows added so far, one row per group touched
        val firstBatch = spark.table(name)
          .as[(String, String, Long, Long, Long)].collect().toSet
        val batchSoFar = Selection.rewardStats(
            rewards.take(cut).toDF("source", "lang", "doc_id", "rm"),
            Seq("source", "lang"), "rm")
          .select(col("source"), col("lang"), col("n"), col("s1"),
            col("s2").cast("bigint"))
          .as[(String, String, Long, Long, Long)].collect().toSet
        assert(firstBatch === batchSoFar, s"cut=$cut first batch")
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan
        assert(plan.collect { case a: StateStoreSaveExec => a }.nonEmpty,
          s"no stateful aggregate:\n$plan")
        assert(plan.collect { case f: FlatMapGroupsWithStateExec => f }.isEmpty,
          s"a hand fold is planned:\n$plan")
        in.addData(rewards.drop(cut))
        q.processAllAvailable()
        // frontier: per group the row with the LARGEST n (stats only grow)
        val frontier = spark.table(name)
          .groupBy("source", "lang")
          .agg(max(struct(col("n"), col("s1"), col("s2"))).as("m"))
          .select(col("source"), col("lang"), col("m.n"), col("m.s1"),
            col("m.s2"))
          .as[(String, String, Long, Long, Long)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
        assert(frontier === batchStats, s"cut=$cut")
      } finally q.stop()
    }
  }

  test("a Σr² past 2^63 fails the query instead of wrapping") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Long, Long)]
    val q = StreamingGroupStats.stats(spark,
        in.toDF().toDF("source", "lang", "doc_id", "rm"))
      .writeStream.format("memory").outputMode("update")
      .queryName("gs_overflow").start()
    try {
      // each rm² = 4.84e18 fits a long; their sum does not
      in.addData(Seq(("s", "en", 1L, 2200000000L), ("s", "en", 2L, 2200000000L)))
      val err = intercept[Exception](q.processAllAvailable())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), err)
    } finally q.stop()
  }

  test("advantages from streamed state reproduce the q216 contract") {
    val contract = SparkEntry.queries("q216_grpo_advantage")(spark, sf0)
      .select("source", "lang", "doc_id", "advantage")
      .as[(String, String, Long, Double)].collect()
    assert(contract.nonEmpty)
    val byDoc = rewards.map(r => r._3 -> r).toMap
    contract.foreach { case (src, lang, id, adv) =>
      val (n, s1, s2) = batchStats((src, lang))
      val mine = StreamingGroupStats.advantage(byDoc(id)._4, n, s1, s2)
      val snapped = math.floor(mine * 1e6) / 1e6
      assert(math.abs(snapped - adv) < 1e-9, s"doc $id: $snapped vs $adv")
    }
  }
}
