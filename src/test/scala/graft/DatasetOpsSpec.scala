package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Semantic invariants for the q166–q180 dataset-building and audit
  * operators. The cross-engine ANSWERS are pinned by the DuckDB oracles;
  * these tests pin operator-level properties the sorted-hash compare
  * cannot see — permutation balance, leakage counts, in-batch pair
  * completeness, CMS one-sided error, and agreement with independent
  * driver-side reference computations on the raw tables.
  */
class DatasetOpsSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0)

  // ---- q179 next-event dataset --------------------------------------------

  test("q179: every example is (3 preceding event types -> label), per user") {
    val got = run("q179_next_event_dataset")
      .select(col("user_id").cast("long"), col("idx"),
        col("c1"), col("c2"), col("c3"), col("label"))
      .as[(Long, Long, String, String, String, String)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val ev = Tables.events(spark, sf0)
      .select(col("user_id").cast("long"), expr("unix_micros(ts)"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)].collect()
    val want = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val seq = rows.sortBy(r => (r._2, r._3)).map(_._4).toIndexedSeq
      (3 until seq.length).map { i =>
        (u, (i + 1).toLong, seq(i - 3), seq(i - 2), seq(i - 1), seq(i))
      }
    }.sortBy(r => (r._1, r._2))
    assert(got === want)
  }

  // ---- q178 epoch shuffle --------------------------------------------------

  test("q178: each epoch partitions the corpus; epochs genuinely differ") {
    val rows = run("q178_epoch_shuffle")
      .select(col("epoch").cast("long"), col("shard"), col("n_docs"),
        col("perm_check"))
      .as[(Long, Long, Long, Long)].collect()
    val nDocs = Tables.table(spark, sf0, "documents").count()
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet === Set(0L, 1L))
    byEpoch.values.foreach(sh => assert(sh.map(_._3).sum === nDocs,
      "every doc lands in exactly one shard per epoch"))
    val check0 = byEpoch(0L).map(r => r._2 -> r._4).toMap
    val check1 = byEpoch(1L).map(r => r._2 -> r._4).toMap
    assert(check0 !== check1,
      "the permutation checksum must change between epochs")
    // determinism: a re-run reproduces the exact shard layout
    val again = run("q178_epoch_shuffle")
      .select(col("epoch").cast("long"), col("shard"), col("n_docs"),
        col("perm_check"))
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.sorted.toSeq === again.sorted.toSeq)
  }

  // ---- q175 leakage-aware split -------------------------------------------

  test("q175: content-keyed split leaks zero duplicate pairs, doc-keyed leaks") {
    val m = run("q175_leakage_split").collect()
      .map(r => r.getAs[String]("policy") -> r).toMap
    val naive = m("doc_keyed")
    val grouped = m("content_keyed")
    assert(grouped.getAs[Long]("n_leaked") === 0L,
      "content-keyed split pins every duplicate clique to one side")
    assert(naive.getAs[Long]("n_leaked") > 0L,
      "the planted copies must straddle splits under doc-keyed hashing")
    assert(naive.getAs[Long]("n_dup_pairs") === grouped.getAs[Long]("n_dup_pairs"),
      "both policies audit the same duplicate-pair universe")
    def total(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("n_train") + r.getAs[Long]("n_val") + r.getAs[Long]("n_test")
    assert(total(naive) === total(grouped),
      "both policies split the same frame exhaustively")
  }

  // ---- q176 contrastive pairs ---------------------------------------------

  test("q176: each batch is the full anchor x partner grid, one positive per anchor") {
    val rows = run("q176_contrastive_pairs")
      .select(col("batch"), col("anchor_id"), col("partner_id"), col("label"))
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { b =>
      val anchors = b.map(_._2).distinct.sorted.toSeq
      val partners = b.map(_._3).distinct.sorted.toSeq
      assert(anchors === partners, "anchor and partner sides are the same docs")
      assert(b.length === anchors.length * anchors.length,
        "every in-batch pairing materializes exactly once")
      val pos = b.filter(_._4 == 1L)
      assert(pos.length === anchors.length &&
        pos.forall(p => p._2 == p._3),
        "positives are exactly the diagonal")
    }
  }

  // ---- q177 skew audit ----------------------------------------------------

  test("q177: frequency profile matches an independent reference count") {
    val r = run("q177_skew_audit").collect().head
    val keys = Tables.table(spark, sf0, "events")
      .select(col("user_id").cast("string")).as[String].collect()
    val counts = keys.groupBy(identity).map(_._2.length.toLong)
    assert(r.getAs[Long]("n_rows") === keys.length.toLong)
    assert(r.getAs[Long]("n_keys") === counts.size.toLong)
    assert(r.getAs[Long]("max_freq") === counts.max)
    assert(r.getAs[Long]("max_part_rows") >= keys.length / MiningPackParts,
      "max partition cannot beat perfect balance")
  }
  private val MiningPackParts = graft.operators.MiningPack.SkewParts

  // ---- q169 CMS join-size estimate ----------------------------------------

  test("q169: sketch estimate never underestimates; exact side is exact") {
    val r = run("q169_join_estimate").collect().head
    assert(r.getAs[Boolean]("over_ok"), "CMS inner product only overestimates")
    val a = Tables.table(spark, sf0, "events")
      .select(col("user_id").cast("string")).as[String].collect()
      .filter(_ != null).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val b = Tables.table(spark, sf0, "orders")
      .select((col("o_custkey") % 150).cast("string")).as[String].collect()
      .filter(_ != null).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val exact = a.keySet.intersect(b.keySet).toSeq
      .map(k => a(k) * b(k)).sum
    assert(r.getAs[Long]("exact") === exact)
    assert(r.getAs[Long]("est") >= exact)
  }

  // ---- q168 Zipf fit -------------------------------------------------------

  test("q168: natural-text corpus fits a negative power law") {
    val r = run("q168_zipf_fit").collect().head
    assert(r.getAs[Long]("n_fit") > 10L)
    assert(r.getAs[Double]("slope") < 0.0, "Zipf slope is negative")
    val r2 = r.getAs[Double]("r2")
    assert(r2 > 0.0 && r2 <= 1.0)
  }

  // ---- q173 JL projection --------------------------------------------------

  test("q173: distance-distortion stats are internally consistent") {
    val r = run("q173_jl_project").collect().head
    assert(r.getAs[Long]("n_pairs") > 0L)
    val mean = r.getAs[Double]("mean_ratio")
    assert(r.getAs[Double]("min_ratio") <= mean && mean <= r.getAs[Double]("max_ratio"))
    val frac = r.getAs[Double]("frac_within_tol")
    assert(frac >= 0.0 && frac <= 1.0)
    assert(mean > 0.5 && mean < 1.5,
      "sign-projection preserves distances in expectation")
  }

  // ---- q172 feature hashing ------------------------------------------------

  test("q172: hashed vectors bound by token count and width; n_tok independent") {
    val rows = run("q172_feature_hash").collect()
    val nToks = Tables.table(spark, sf0, "documents")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) =>
        id -> t.split("\\s+").count(_.nonEmpty).toLong
      }.toMap
    rows.foreach { r =>
      val nTok = r.getAs[Long]("n_tok")
      val nnz = r.getAs[Long]("nnz")
      assert(nTok === nToks(r.getAs[Long]("doc_id")),
        "token count agrees with a driver-side tokenizer")
      assert(nnz >= 1L && nnz <= math.min(nTok, 64L))
      val sample = (0 to 3).map(i => r.getAs[Long](s"b$i")).sum
      assert(sample <= nTok)
    }
  }

  // ---- q180 MinHash estimate audit ----------------------------------------

  test("q180: every LSH candidate agrees on >= one full band; est = n_agree/16") {
    val rows = run("q180_minhash_estimate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nAgree = r.getAs[Long]("n_agree")
      assert(nAgree >= 4L,
        "an LSH candidate pair shares at least one band of 4 components")
      assert(math.abs(r.getAs[Double]("est_jaccard") - nAgree / 16.0) < 1e-6)
      val err = math.abs(r.getAs[Double]("est_jaccard") - r.getAs[Double]("exact_jaccard"))
      assert(math.abs(r.getAs[Double]("abs_err") - err) < 2e-6)
    }
  }

  // ---- q170 temporal dimension join ---------------------------------------

  test("q170: purchase census matches a driver-side interval replay") {
    val got = run("q170_temporal_dim_join")
      .select(col("state"), col("n_purchases"), col("n_users"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val ev = Tables.events(spark, sf0)
      .select(col("user_id").cast("long"), expr("unix_micros(ts)"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)].collect()
    val cap = ev.map(_._2).max + 1L
    val matches = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      // state intervals: runs of consecutive equal non-purchase types
      val changes = ordered.filter(_._4 != "purchase")
        .foldLeft(Vector.empty[(String, Long)]) { case (acc, r) =>
          if (acc.nonEmpty && acc.last._1 == r._4) acc else acc :+ (r._4, r._2)
        }
      val intervals = changes.zipWithIndex.map { case ((st, from), i) =>
        val to = if (i + 1 < changes.length) changes(i + 1)._2 else cap
        (st, from, to)
      }
      ordered.filter(_._4 == "purchase").flatMap { p =>
        intervals.find(iv => p._2 >= iv._2 && p._2 < iv._3)
          .map(iv => (iv._1, u))
      }
    }
    val want = matches.groupBy(_._1).map { case (st, xs) =>
      (st, xs.length.toLong, xs.map(_._2).distinct.length.toLong)
    }.toSeq.sortBy(_._1)
    assert(got === want)
  }

  // ---- q171 / q174 / q166 bounded-metric invariants -----------------------

  test("q171: per-user NDCG@5 lies in (0, 1] and DCG <= IDCG") {
    val rows = run("q171_ndcg").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dcg5_e9") > 0L)
      // ndcg5 = dcg/idcg; <= 1 certifies the ideal ordering maximized DCG
      val n = r.getAs[Double]("ndcg5")
      assert(n > 0.0 && n <= 1.0 + 1e-9)
    }
  }

  test("q174: IVF recall against brute force is a valid hit ratio") {
    val rows = run("q174_ann_recall").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_exact"))
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("q166: class-centroid cosines cover each label pair once, in [-1, 1]") {
    val rows = run("q166_class_centroids")
      .select(col("label_a").cast("long"), col("label_b").cast("long"),
        col("cos"))
      .as[(Long, Long, Double)].collect()
    val nLabels = Tables.table(spark, sf0, "embeddings")
      .select(col("label")).distinct().count()
    assert(rows.length.toLong === nLabels * (nLabels - 1) / 2)
    rows.foreach { case (a, b, c) =>
      assert(a < b)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
  }

  test("labelCentroids equals the posexplode per-position sum, bit for bit") {
    val e = Tables.table(spark, sf1, "embeddings")
    // reference: one row per (label, position), summed, re-assembled in
    // position order, plus a separate per-label count
    val ref = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("label"), col("i"),
        floor(col("x").cast("double") * lit(1e6)).cast("long").as("q"))
      .groupBy("label", "i").agg(sum(col("q")).as("sv"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("sv")))),
        p => p.getField("sv").cast("double")).as("cv"))
      .join(e.groupBy("label").agg(count(lit(1)).as("n")), "label")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("label").cast("long"), col("cv"), col("n"))
        .as[(Long, Seq[Double], Long)].collect()
        .map(r => (r._1, r._2.map(java.lang.Double.doubleToRawLongBits), r._3))
        .sortBy(_._1).toSeq
    val got = rows(graft.operators.VectorPack.labelCentroids(spark, sf1))
    assert(got.nonEmpty)
    assert(got === rows(ref))
  }
}
