package graft

import org.apache.spark.sql.functions._

/** Unit behavior of the audit/lifecycle queries (AuditPack, LifecyclePack)
  * and the upsertSnapshot operator; cross-engine exactness is covered by
  * the pack oracles. */
class AuditSpec extends SparkSpec {
  import spark.implicits._

  test("q101 pivot matches the equivalent filtered aggregation") {
    val piv = SparkEntry.queries("q101_pivot_events")(spark, sf0)
    val manual = graft.sources.Tables.table(spark, sf0, "events")
      .filter(col("event_type") === "click")
      .groupBy((col("user_id") % 10).as("segment"))
      .agg(round(sum(col("value")), 6).as("click"))
    val j = piv.select("segment", "click").join(manual, Seq("segment"), "full_outer")
    assert(j.count() === 10)
    assert(j.filter(!(piv("click") <=> manual("click"))).count() === 0)
  }

  test("q102 cube: exactly one grand-total row and consistent partial sums") {
    val cube = SparkEntry.queries("q102_cube_docs")(spark, sf0).cache()
    try {
      val grand = cube.filter(col("gid") === 3).collect()
      assert(grand.length === 1)
      val total = grand.head.getAs[Long]("n_docs")
      // each single-axis rollup partitions the same 500 docs
      assert(cube.filter(col("gid") === 1).agg(sum("n_docs")).as[Long].head === total)
      assert(cube.filter(col("gid") === 2).agg(sum("n_docs")).as[Long].head === total)
      assert(cube.filter(col("gid") === 0).agg(sum("n_docs")).as[Long].head === total)
    } finally cube.unpersist()
  }

  test("q104 profiler invariants: ndv bounds and min<=avg<=max, one row per column") {
    val p = SparkEntry.queries("q104_profile")(spark, sf0).collect()
    assert(p.map(_.getAs[String]("col_name")).toSeq.sorted ===
      graft.operators.AuditPack.ProfileCols.sorted)
    p.foreach { r =>
      assert(r.getAs[Long]("ndv") <= r.getAs[Long]("n_nonnull"))
      assert(r.getAs[Double]("min_v") <= r.getAs[Double]("avg_v") + 1e-6)
      assert(r.getAs[Double]("avg_v") <= r.getAs[Double]("max_v") + 1e-6)
    }
  }

  /** A scratch dataset dir whose lineitem is `rows` of the real lineitem
    * (same parquet schema); q104 reads nothing else. */
  private def withLineitem(rows: org.apache.spark.sql.DataFrame)(
      body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("q104").toFile
    try {
      rows.write.parquet(s"$dir/lineitem.parquet")
      body(dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("q104 over an empty lineitem reports n_nonnull = 0 per column") {
    val li = spark.read.parquet(s"$sf0/lineitem.parquet")
    withLineitem(li.limit(0)) { dir =>
      val p = SparkEntry.queries("q104_profile")(spark, dir).collect()
      assert(p.length === graft.operators.AuditPack.ProfileCols.size)
      p.foreach { r =>
        assert(r.getAs[Long]("n_nonnull") === 0L)
        assert(r.getAs[Long]("ndv") === 0L)
        assert(r.isNullAt(r.fieldIndex("avg_v")))
      }
    }
  }

  test("q104 fails loudly when a value is not a whole number of cents") {
    val li = spark.read.parquet(s"$sf0/lineitem.parquet")
    val offGrid = li.limit(5)
      .withColumn("l_discount", col("l_discount") + lit(0.001))
    withLineitem(offGrid) { dir =>
      val e = intercept[Exception] {
        SparkEntry.queries("q104_profile")(spark, dir).collect()
      }
      assert(e.getMessage.contains("l_discount"))
      assert(e.getMessage.contains("whole number of cents"))
    }
  }

  test("q107 MAD outliers: nonnegative spread, outliers are a strict minority") {
    SparkEntry.queries("q107_mad_outliers")(spark, sf0).collect().foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      assert(r.getAs[Long]("n_outliers") < r.getAs[Long]("n") / 2)
    }
  }

  /** A scratch dataset dir holding exactly the six q153 tables: customer,
    * orders, part, supplier and nation below, and `lineitem`. Expected
    * values follow the q153 oracle SQL: an FK check counts every fact row
    * and the rows that find no dimension row (`f.key = d.key` is never
    * true for a NULL on either side); a PK check sums the rows of every
    * key group with more than one row (GROUP BY puts NULL keys in one
    * group). */
  private def withRefTables(lineitem: Seq[(Option[Long], Option[Long],
      Option[Long], Option[Int])])(body: Map[String, (Long, Long)] => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("q153").toFile
    try {
      def write(t: String, df: org.apache.spark.sql.DataFrame): Unit =
        df.write.parquet(s"$dir/$t.parquet")
      write("nation", Seq(Some(0), Some(1), None).toDF("n_nationkey"))
      write("customer", Seq[(Option[Long], Option[Int])](
          (Some(1L), Some(0)), (Some(2L), Some(1)), (Some(2L), Some(5)),
          (Some(3L), None), (None, Some(0)), (None, Some(1)))
        .toDF("c_custkey", "c_nationkey"))
      write("orders", Seq[(Option[Long], Option[Long])](
          (Some(10L), Some(1L)), (Some(11L), Some(2L)), (Some(12L), Some(9L)),
          (Some(13L), None), (Some(13L), Some(3L)))
        .toDF("o_orderkey", "o_custkey"))
      write("part", Seq(Some(100L), Some(101L), None).toDF("p_partkey"))
      write("supplier", Seq(7L, 8L).toDF("s_suppkey"))
      write("lineitem", lineitem
        .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))
      val out = SparkEntry.queries("q153_ref_integrity")(spark, dir.toString)
        .as[(String, Long, Long, Boolean)].collect()
      out.foreach(r => assert(r._4 === (r._3 == 0L), r))
      body(out.map(r => r._1 -> ((r._2, r._3))).toMap)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  /** (n_checked, n_violations) of the checks that do not read lineitem,
    * over [[withRefTables]]' tables. */
  private val refNonLineitem = Map(
    // 6 customers; nation key 5 has no nation row and a NULL nation key
    // matches nothing, not even the NULL nation row
    "fk_customer_nationkey" -> ((6L, 2L)),
    // custkey 2 twice and NULL twice
    "pk_customer" -> ((6L, 4L)),
    // custkey 9 has no customer; a NULL custkey matches no NULL customer
    "fk_orders_custkey" -> ((5L, 2L)),
    // orderkey 13 twice
    "pk_orders" -> ((5L, 2L)))

  test("q153 over an empty lineitem keeps all eight rows") {
    withRefTables(Seq.empty) { out =>
      assert(out === refNonLineitem ++ Map(
        "fk_lineitem_orderkey" -> ((0L, 0L)),
        "fk_lineitem_partkey" -> ((0L, 0L)),
        "fk_lineitem_suppkey" -> ((0L, 0L)),
        "pk_lineitem" -> ((0L, 0L))))
    }
  }

  test("q153 counts NULL fact keys and duplicate PK rows as the oracle does") {
    withRefTables(Seq(
      (Some(10L), Some(100L), Some(7L), Some(1)),
      (Some(10L), Some(100L), Some(7L), Some(1)), // duplicate PK (10, 1)
      (Some(11L), Some(101L), Some(8L), Some(1)),
      (None, Some(100L), Some(7L), Some(1)),      // NULL orderkey, twice:
      (None, Some(100L), Some(7L), Some(1)),      // one PK group (NULL, 1)
      (Some(12L), None, Some(7L), None),          // NULL partkey
      (Some(99L), Some(102L), Some(9L), Some(2))  // no order, part, supplier
    )) { out =>
      assert(out === refNonLineitem ++ Map(
        "fk_lineitem_orderkey" -> ((7L, 3L)),
        "fk_lineitem_partkey" -> ((7L, 2L)),
        "fk_lineitem_suppkey" -> ((7L, 1L)),
        "pk_lineitem" -> ((7L, 4L))))
    }
  }

  test("upsertSnapshot labels all four action classes correctly") {
    val old = Seq((1L, "same"), (2L, "before"), (4L, "gone")).toDF("id", "body")
    val neu = Seq((1L, "same"), (2L, "after"), (3L, "fresh")).toDF("id", "body")
    val out = graft.operators.CorpusOps.upsertSnapshot(old, neu, "id", "body")
      .orderBy("id").as[(Long, String, String)].collect().toSeq
    assert(out.map(r => r._1 -> r._2) ===
      Seq(1L -> "carry", 2L -> "update", 3L -> "insert", 4L -> "retire"))
    // surviving hash is the new side except for retires
    assert(out(1)._3 === out.find(_._1 == 2L).get._3)
  }

  test("q117 overlap matrix: containment-normalized and bounded") {
    SparkEntry.queries("q117_source_overlap")(spark, sf0).collect().foreach { r =>
      val shared = r.getAs[Long]("n_shared")
      assert(shared <= math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
      val ov = r.getAs[Double]("overlap")
      assert(ov > 0.0 && ov <= 1.0)
    }
  }

  test("q118 budget curve: full partition, monotone tokens, non-increasing quality") {
    val rows = SparkEntry.queries("q118_budget_curve")(spark, sf0)
      .orderBy("decile").collect()
    assert(rows.map(_.getAs[Long]("decile")).toSeq === (0L to 9L))
    assert(rows.map(_.getAs[Long]("n_docs")).sum === 500L)
    val cums = rows.map(_.getAs[Long]("cum_tokens"))
    assert(cums.zip(cums.tail).forall { case (a, b) => b > a })
    assert(cums.last === rows.map(_.getAs[Long]("n_tokens")).sum)
    val qs = rows.map(_.getAs[Double]("avg_q"))
    assert(qs.zip(qs.tail).forall { case (a, b) => a >= b })
  }

  test("q110 interleave: pos is a permutation and respects per-source order") {
    val rows = SparkEntry.queries("q110_interleave")(spark, sf0)
      .select("pos", "source", "doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows.map(_._1).sorted === (1L to rows.length).toSeq)
    // within each source, increasing pos must present increasing doc_id
    rows.groupBy(_._2).values.foreach { g =>
      val byPos = g.sortBy(_._1).map(_._3)
      assert(byPos === byPos.sorted)
    }
    // round-robin: the first |sources| positions hit distinct sources
    val nSrc = rows.map(_._2).distinct.size
    assert(rows.sortBy(_._1).take(nSrc).map(_._2).distinct.size === nSrc)
  }

  test("kAnonymity: ladder levels, anonymity sets, l-diversity, NULL stratum") {
    import graft.operators.Governance
    // (coarse, fine, sensitive): en/web is 3-deep (level 0, 2 distinct
    // sensitive values); en/app is 1-deep but en totals 4 (level 1);
    // fr/web is 1-deep and fr totals 1 -> only the corpus of 5 hides it
    // (level 2); the NULL coarse value must be its own stratum, not lost.
    val docs = Seq(
      (Option("en"), "web", 10L), (Option("en"), "web", 10L),
      (Option("en"), "web", 20L), (Option("en"), "app", 30L),
      (Option.empty[String], "web", 40L)
    ).toDF("lang", "source", "sens")
    val out = Governance.kAnonymity(docs, "lang", "source", col("sens"), k = 3)
      .orderBy("qi_coarse", "qi_fine")
      .as[(String, String, Long, Long, Int, Long)].collect().toSeq
    assert(out === Seq(
      ("", "web", 1L, 1L, 2, 5L),
      ("en", "app", 1L, 1L, 1, 4L),
      ("en", "web", 3L, 2L, 0, 3L)))
  }
}
