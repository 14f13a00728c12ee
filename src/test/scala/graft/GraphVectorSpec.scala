package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Unit behavior of Graph.pageRank and the vector retrieval/pooling
  * queries; cross-engine exactness is covered by the pack oracles. */
class GraphVectorSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: symmetric 2-cycle converges to equal ranks, mass bounded") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(e, "src", "dst", iters = 10)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(r.map(_._1).toSeq === Seq(1L, 2L))
    assert(r(0)._2 === r(1)._2) // exact fixed-point equality, not approx
    // total fixed-point mass never exceeds 1.0 (floor losses only shrink it)
    assert(r.map(_._2).sum <= Graph.Unit)
    assert(math.abs(r(0)._3 - 0.5) < 0.01)
  }

  test("pageRank: hub of a star graph outranks the spokes") {
    val e = (2L to 6L).flatMap(s => Seq((s, 1L), (1L, s))).toDF("src", "dst")
    val r = Graph.pageRank(e, "src", "dst", iters = 8)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val hub = r.find(_._1 == 1L).get._3
    r.filter(_._1 != 1L).foreach(s => assert(hub > s._3))
  }

  test("pageRank property: positive bounded ranks on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val edgeGen = Gen.listOfN(12,
        Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 5L)))
      .map(_.filter(p => p._1 != p._2).distinct)
    (0 until 5).foreach { i =>
      val edges = edgeGen.pureApply(Gen.Parameters.default, Seed(1000L + i))
      if (edges.nonEmpty) {
        val r = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 4)
          .as[(Long, Long, Double)].collect()
        // every node keeps at least the teleport share; floor losses only
        // ever shrink total mass below 1.0
        assert(r.forall(_._2 > 0L), s"graph $i: nonpositive rank")
        assert(r.map(_._2).sum <= Graph.Unit, s"graph $i: mass exceeds 1")
        val n = r.length
        assert(r.forall(_._2 >= (15L * Graph.Unit) / (100L * n) - 1),
          s"graph $i: below teleport floor")
      }
    }
  }

  test("hits: max-normalized scores peak at exactly one unit; star hub dominates") {
    // node 1 points at every spoke → maximal hub; spokes point at 1 → 1 is
    // also the sole authority target of all spokes
    val e = (2L to 6L).flatMap(s => Seq((1L, s), (s, 1L))).toDF("src", "dst")
    val r = Graph.hits(e, "src", "dst", iters = 3)
      .as[(Long, Long, Long, Double, Double)].collect().map(x => x._1 -> x).toMap
    assert(r.values.map(_._2).max === Graph.HitsUnit) // hub_fp normalized
    assert(r.values.map(_._3).max === Graph.HitsUnit) // auth_fp normalized
    assert(r(1L)._2 === Graph.HitsUnit && r(1L)._3 === Graph.HitsUnit)
    r.values.foreach { x =>
      assert(x._2 >= 0L && x._2 <= Graph.HitsUnit)
      assert(x._3 >= 0L && x._3 <= Graph.HitsUnit)
    }
  }

  test("triangle count: a known 4-clique has exactly 4 triangles, clustering 1") {
    // K4 has C(4,3)=4 triangles and every wedge closes
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("src", "dst")
    val und = k4.select(least($"src", $"dst").as("a"),
      greatest($"src", $"dst").as("b")).distinct()
    val wedge = und.as("e1").join(und.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val tri = wedge.join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .count()
    assert(tri === 4L)
  }

  test("q122 degree audit: counts reconcile") {
    val r = SparkEntry.queries("q122_degree_audit")(spark, sf0).head()
    assert(r.getAs[Long]("n_edges") > 0)
    assert(r.getAs[Long]("n_recip") <= r.getAs[Long]("n_edges"))
    assert(r.getAs[Long]("n_dangling") + r.getAs[Long]("n_source_only")
      <= r.getAs[Long]("n_nodes"))
    assert(r.getAs[Long]("max_out") <= r.getAs[Long]("n_nodes") - 1)
  }

  test("personalized pageRank: mass stays near seeds, unreachable nodes get zero") {
    // 1 -> 2 -> 3; 4 -> 5 is a separate component never touched by seed 1
    val e = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val r = Graph.personalizedPageRank(e, "src", "dst", Seq(1L), iters = 6)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x._2).toMap
    assert(r(1L) > 0L) // seed keeps its teleport share
    assert(r(2L) > 0L && r(3L) > 0L) // reachable from the seed
    assert(r(4L) === 0L && r(5L) === 0L) // disconnected: no mass ever
    assert(r.values.sum <= Graph.Unit)
  }

  test("pageRank is partitioning-invariant (fixed-point sums)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L), (2L, 4L))
      .toDF("src", "dst")
    val one = Graph.pageRank(edges.repartition(1), "src", "dst", iters = 5)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val many = Graph.pageRank(edges.repartition(7), "src", "dst", iters = 5)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(one === many) // bit-exact: integer contributions are associative
  }

  test("q103 transitions: per-prev probabilities sum to ~1") {
    val probs = SparkEntry.queries("q103_event_transitions")(spark, sf0)
      .groupBy("prev").agg(sum("prob").as("p")).as[(String, Double)].collect()
    probs.foreach { case (_, p) => assert(math.abs(p - 1.0) < 1e-4) }
  }

  test("q119 funnel: stages shrink monotonically, conversions in (0, 1]") {
    val r = SparkEntry.queries("q119_funnel")(spark, sf0).head()
    val (v, c, p) = (r.getAs[Long]("n_view"), r.getAs[Long]("n_click"),
      r.getAs[Long]("n_purchase"))
    assert(v >= c && c >= p && v > 0)
    assert(r.getAs[Double]("view_to_click") <= 1.0)
    assert(r.getAs[Double]("click_to_purchase") <= 1.0)
  }

  test("q120 cohorts: day-0 retention is 1.0 and cells never exceed cohort size") {
    val rows = SparkEntry.queries("q120_cohorts")(spark, sf0).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("cohort_size"))
      if (r.getAs[Int]("day_offset") == 0)
        assert(r.getAs[Double]("retention") === 1.0) // everyone active on day 0
      assert(r.getAs[Int]("day_offset") >= 0)
    }
  }

  test("maxsim: a doc containing the query's own vectors is its best match") {
    // query 0 = vectors {a, b}; doc 10 holds exactly {a, b}; doc 20 holds
    // unrelated orthogonal vectors → doc 10 must score 2.0 (cos 1 + cos 1)
    val a = Array(1.0, 0.0, 0.0); val b = Array(0.0, 1.0, 0.0)
    val c = Array(0.0, 0.0, 1.0)
    val q = Seq((0L, 0L, a), (0L, 1L, b))
      .toDF("query_id", "qv_id", "qe")
    val d = Seq((10L, a), (10L, b), (20L, c))
      .toDF("doc_id", "de")
    val den = graft.functions.VectorFunctions.l2Norm(col("qe")) *
      graft.functions.VectorFunctions.l2Norm(col("de"))
    val best = d.crossJoin(broadcast(q))
      .select(col("query_id"), col("qv_id"), col("doc_id"),
        (graft.functions.VectorFunctions.dot(col("qe"), col("de")) / den).as("sim"))
      .groupBy("query_id", "qv_id", "doc_id").agg(max("sim").as("m"))
      .groupBy("query_id", "doc_id").agg(round(sum("m"), 6).as("maxsim"))
      .orderBy(desc("maxsim")).as[(Long, Long, Double)].head()
    assert(best._2 === 10L && math.abs(best._3 - 2.0) < 1e-9)
  }

  test("q109 pooled vectors: truncated prefix is unit-norm-consistent") {
    val rows = SparkEntry.queries("q109_vec_pool")(spark, sf0).collect()
    assert(rows.length === graft.operators.VectorPack.PoolGroups)
    rows.foreach { r =>
      assert(r.getAs[Double]("full_norm") > 0.0)
      val partial = Seq("c1", "c2", "c3", "c4")
        .map(c => math.pow(r.getAs[Double](c), 2)).sum
      // four components of a 16-dim unit vector: within (0, 1]
      assert(partial > 0.0 && partial <= 1.0 + 1e-6)
    }
  }

  test("labelPropagation: disjoint cliques resolve to their min labels") {
    val tri = (a: Long, b: Long, c: Long) => Seq((a, b), (b, c), (a, c))
    val e = (tri(1, 2, 3) ++ tri(10, 11, 12)).toDF("src", "dst")
    val labs = Graph.labelPropagation(e, "src", "dst", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).map(labs) === Seq(1L, 1L, 1L))
    assert(Seq(10L, 11L, 12L).map(labs) === Seq(10L, 10L, 10L))
  }

  test("labelPropagation: a single bridge does NOT merge dense communities") {
    // two 5-cliques {0..4} and {10..14} plus one bridge 0-10: connected
    // components would report ONE component; LPA majority keeps two
    val clique = (ids: Seq[Long]) =>
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val e = (clique(0L to 4L) ++ clique(10L to 14L) :+ (0L, 10L))
      .toDF("src", "dst")
    val labs = Graph.labelPropagation(e, "src", "dst", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert((0L to 4L).map(labs).toSet === Set(0L))
    assert((10L to 14L).map(labs).toSet === Set(10L))
  }
}
