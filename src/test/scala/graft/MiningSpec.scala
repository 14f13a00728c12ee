package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, RangeJoin}

/** Correctness + plan shape of the round's mining operators: interval
  * join, multi-source BFS, skyline. (q159–q165's cross-engine answers
  * are pinned by the DuckDB oracles; these tests pin the OPERATOR
  * semantics on adversarial inputs the contract tables don't hit.) */
class MiningSpec extends SparkSpec {
  import spark.implicits._

  // ---- binned interval join ------------------------------------------------

  private def mkIntervals(rows: Seq[(Long, Long, Long, Long)], p: String) =
    rows.toDF(s"${p}_id", "k", s"${p}_s", s"${p}_e")

  test("interval join equals the naive overlap join, once per pair") {
    // widths from sub-bin to many-bin, shared starts, touching ends
    val left = mkIntervals((0L until 200L).map(i =>
      (i, i % 5, i * 13 % 400, i * 13 % 400 + 1 + i % 97)), "a")
    val right = mkIntervals((0L until 200L).map(i =>
      (i, i % 5, i * 29 % 400, i * 29 % 400 + 1 + i % 53)), "b")
    val binned = RangeJoin.binnedIntervalJoin(
        left, right, "k", "a_s", "a_e", "b_s", "b_e", binWidth = 50L)
      .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
    val naive = left.join(right, Seq("k"))
      .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
    assert(binned === naive)
    assert(binned.distinct === binned, "each overlapping pair exactly once")
  }

  test("interval join: touching intervals (half-open) do not match") {
    val left = mkIntervals(Seq((1L, 0L, 0L, 10L)), "a")
    val right = mkIntervals(Seq((2L, 0L, 10L, 20L)), "b")
    val out = RangeJoin.binnedIntervalJoin(
      left, right, "k", "a_s", "a_e", "b_s", "b_e", 50L)
    assert(out.count() === 0)
  }

  test("interval join plans as a hash join, not nested loop") {
    val left = mkIntervals(Seq((1L, 0L, 0L, 10L)), "a")
    val right = mkIntervals(Seq((2L, 0L, 5L, 20L)), "b")
    val plan = RangeJoin.binnedIntervalJoin(
        left, right, "k", "a_s", "a_e", "b_s", "b_e", 50L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join must not nested-loop:\n${plan.take(1500)}")
  }

  // ---- multi-source BFS ----------------------------------------------------

  test("bfs matches a queue-based reference on a directed graph") {
    // two chains off the seeds, a cycle, and an unreachable island
    val edges = Seq(
      0L -> 10L, 10L -> 11L, 11L -> 12L, 12L -> 10L, // cycle off seed 0
      1L -> 20L, 20L -> 21L,
      21L -> 0L,                                     // back-edge to a seed
      30L -> 31L, 31L -> 30L                         // island
    )
    val seeds = Seq(0L, 1L)
    val got = Graph.bfs(edges.toDF("src", "dst"), "src", "dst",
        seeds, maxHops = 6)
      .as[(Long, Int)].collect().toMap
    // reference BFS
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.map(_ -> 0).toMap
    var frontier = seeds
    var d = 0
    while (frontier.nonEmpty && d < 6) {
      d += 1
      val next = frontier.flatMap(v => adj.getOrElse(v, Nil))
        .filterNot(dist.contains).distinct
      dist ++= next.map(_ -> d)
      frontier = next
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = nodes.map(v => v -> dist.getOrElse(v, 99)).toMap
    assert(got === want)
  }

  test("bfs caps distances at the unreachable sentinel") {
    // a chain longer than maxHops: nodes past the budget stay at 99
    val edges = (0L until 10L).map(i => i -> (i + 1)).toDF("src", "dst")
    val got = Graph.bfs(edges, "src", "dst", Seq(0L), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(got(3L) === 3 && got(4L) === 99 && got(10L) === 99)
  }

  // ---- skyline (via the contract query's staging) --------------------------

  test("staged skyline equals the O(n²) dominance filter") {
    // price minimized, size maximized; duplicates + dominated points
    val pts = (0 until 300).map { i =>
      (i.toLong, (i * 37 % 100).toDouble, i * 53 % 40)
    }.toDF("id", "price", "size")
    // replicate the q163 staging: per-price max, bucketed local pass,
    // global pass, join back
    val best = pts.groupBy(col("price")).agg(max(col("size")).as("size"))
    val wL = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy("price")
      .rowsBetween(Long.MinValue, -1)
    val local = best.withColumn("bkt", floor(col("price") / 10.0))
      .withColumn("rm", max(col("size")).over(wL))
      .filter(col("rm").isNull || col("size") > col("rm")).drop("bkt", "rm")
    val wG = org.apache.spark.sql.expressions.Window
      .orderBy("price").rowsBetween(Long.MinValue, -1)
    val sky = local.withColumn("rm", max(col("size")).over(wG))
      .filter(col("rm").isNull || col("size") > col("rm"))
      .select(col("price").as("sp"), col("size").as("ss"))
    val got = pts.join(sky, col("price") === col("sp") && col("size") === col("ss"))
      .select("id").as[Long].collect().sorted.toSeq
    val rows = pts.as[(Long, Double, Int)].collect()
    val want = rows.filter { case (_, p, s) =>
      !rows.exists { case (_, p2, s2) =>
        p2 <= p && s2 >= s && (p2 < p || s2 > s)
      }
    }.map(_._1).sorted.toSeq
    assert(got === want)
  }
}
