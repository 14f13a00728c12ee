package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Semantic invariants for the q181–q186 statistics/sketch operators —
  * properties the DuckDB hash compare can't certify: KS bounds, bootstrap
  * CI coverage of the point estimate, chi² non-negativity and ranking,
  * stump optimality against an exhaustive driver-side scan, EMA
  * convexity, and the one-sided error structure of the MinHash sketch
  * estimate. */
class StatOpsSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0)

  test("q181: KS statistic is a valid sup-distance; even/odd halves agree") {
    val r = run("q181_ks_drift").collect().head
    val d = r.getAs[Double]("d_stat")
    assert(d >= 0.0 && d <= 1.0)
    assert(r.getAs[Double]("d_crit") > 0.0)
    // doc_id parity is independent of text length in the fixtures — the
    // test must NOT flag drift between the halves
    assert(r.getAs[Boolean]("same_dist"))
  }

  test("q186: bootstrap CI brackets the point estimate, lo <= hi") {
    val r = run("q186_bootstrap_ci").collect().head
    val (lo, hi) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
    val mean = r.getAs[Double]("mean_len")
    assert(lo <= hi)
    assert(lo <= mean && mean <= hi,
      "a ~95% Poisson-bootstrap CI must cover the full-sample mean here")
    assert(r.getAs[Int]("n_replicates") === 32)
  }

  test("q182: chi-squared scores are nonnegative and rank-ordered") {
    val rows = run("q182_chi2_select").collect()
    assert(rows.length === 20)
    val scores = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("chi2"))
    assert(scores.forall(_ >= 0.0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "rank order must follow descending chi2")
  }

  test("q184: stump split matches an exhaustive driver-side Gini scan") {
    val r = run("q184_gini_stump").collect().head
    val ev = Tables.table(spark, sf0, "events")
      .filter(col("value").isNotNull)
      .select(col("value"), (col("event_type") === "purchase").as("y"))
      .as[(Double, Boolean)].collect()
    val bins = ev.map { case (v, y) =>
      (math.min(math.max(math.floor(v * 10).toLong, 0L), 49L), y)
    }
    val per = bins.groupBy(_._1).map { case (b, xs) =>
      (b, xs.length.toLong, xs.count(_._2).toLong)
    }.toSeq.sortBy(_._1)
    val (nt, pt) = (per.map(_._2).sum, per.map(_._3).sum)
    var (nl, pl) = (0L, 0L)
    val cands = per.dropRight(1).map { case (b, n, p) =>
      nl += n; pl += p
      val (nr, pr) = (nt - nl, pt - pl)
      val gl = 1.0 - (pl.toDouble * pl + (nl - pl).toDouble * (nl - pl)) / (nl.toDouble * nl)
      val gr = 1.0 - (pr.toDouble * pr + (nr - pr).toDouble * (nr - pr)) / (nr.toDouble * nr)
      (b, math.floor((nl * gl + nr * gr) / nt * 1e6).toLong)
    }
    val best = cands.minBy(c => (c._2, c._1))
    assert(math.abs(r.getAs[Double]("threshold") - (best._1 + 1) / 10.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("gini") - best._2 / 1e6) < 1e-9)
    assert(r.getAs[Long]("n_left") + r.getAs[Long]("n_right") === nt)
    assert(r.getAs[Long]("pos_left") + r.getAs[Long]("pos_right") === pt)
  }

  test("q183: EMA stays inside the min/max of its 8-day lookback") {
    val rows = run("q183_ema_smooth")
      .select(col("event_type"), col("day"), col("n"), col("ema"))
      .as[(String, String, Long, Double)].collect()
    rows.groupBy(_._1).values.foreach { series =>
      val ordered = series.sortBy(_._2)
      ordered.zipWithIndex.foreach { case ((_, _, _, ema), i) =>
        val window = ordered.slice(math.max(0, i - 7), i + 1).map(_._3)
        // convex combination of the window counts (quantized weights)
        assert(ema >= window.min - 1e-6 && ema <= window.max + 1e-6,
          s"EMA $ema escaped window [${window.min}, ${window.max}]")
      }
    }
  }

  test("q185: sketch agreement is a valid estimator; exact within [0,1]") {
    val rows = run("q185_source_sketch").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val exact = r.getAs[Double]("exact_jaccard")
      assert(est >= 0.0 && est <= 1.0)
      assert(exact >= 0.0 && exact <= 1.0)
      val err = r.getAs[Double]("abs_err")
      assert(math.abs(err - math.abs(est - exact)) < 2e-6)
      assert(r.getAs[Long]("n_agree") === math.round(est * 16))
    }
  }

  test("q187: seasonal indices average to 1 when weighted by day counts") {
    val rows = run("q187_seasonal_index")
      .select(col("event_type"), col("dow"), col("n_days"), col("s_dow"),
        col("seasonal_idx"))
      .as[(String, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { series =>
      assert(series.map(_._2).distinct.length === series.length,
        "one row per weekday")
      series.foreach { case (_, dow, _, _, idx) =>
        assert(dow >= 1 && dow <= 7)
        assert(idx > 0.0)
      }
      // sum over dows of n_days*idx == n_tot (weighted indices average 1)
      val nTot = series.map(_._3).sum
      val weighted = series.map(r => r._3 * r._5).sum
      assert(math.abs(weighted - nTot) < nTot * 1e-4)
    }
  }

  test("q188: dataset card metrics are internally consistent") {
    val m = run("q188_dataset_card").collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Double]("value")).toMap
    assert(m.keySet === Set("n_docs", "n_tokens", "n_sources", "dup_rate",
      "lang_entropy", "len_mean", "len_p50", "pct_ascii"))
    val nDocs = Tables.table(spark, sf0, "documents").count().toDouble
    assert(m("n_docs") === nDocs)
    assert(m("dup_rate") >= 0.0 && m("dup_rate") < 1.0)
    assert(m("pct_ascii") >= 0.0 && m("pct_ascii") <= 1.0)
    assert(m("lang_entropy") >= 0.0)
    assert(m("n_tokens") > m("n_docs"), "docs average more than one token")
    assert(m("len_mean") > 0.0 && m("len_p50") > 0.0)
  }

  test("q189: confusion rows partition the corpus; row_frac sums to 1 per lang") {
    val rows = run("q189_lang_confusion")
      .select(col("lang"), col("pred_lang"), col("n"), col("n_lang"),
        col("row_frac"))
      .as[(String, String, Long, Long, Double)].collect()
    val nDocs = Tables.table(spark, sf0, "documents").count()
    assert(rows.map(_._3).sum === nDocs)
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).sum === g.head._4, "n_lang equals the row total")
      assert(math.abs(g.map(_._5).sum - 1.0) < 1e-4)
    }
  }

  test("q190: Welch t on the parity split finds no mean shift; dof sane") {
    val r = run("q190_welch_ttest").collect().head
    assert(r.getAs[Boolean]("same_mean"),
      "doc parity is independent of length — no mean shift")
    val dof = r.getAs[Double]("dof")
    val n = r.getAs[Long]("na") + r.getAs[Long]("nb")
    assert(dof > 1.0 && dof <= n - 2.0,
      "Welch dof lies in (1, na+nb-2]")
  }

  test("q191: PR sweep is monotone in the threshold") {
    val rows = run("q191_minhash_pr")
      .select(col("thr"), col("tp"), col("fp"), col("fn"))
      .as[(Double, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length === 9)
    // raising the threshold can only shrink the predicted-positive set
    rows.zip(rows.tail).foreach { case ((_, tp1, fp1, _), (_, tp2, fp2, _)) =>
      assert(tp2 <= tp1 && fp2 <= fp1)
    }
    // tp + fn (the actual-positive count) is threshold-invariant
    assert(rows.map(r => r._2 + r._4).distinct.length === 1)
  }

  test("q185: per-source sketches equal sketches of per-shard merges") {
    // mergeability: the kernel over a source's whole shingle set == the
    // element-wise min of any disjoint shard split's sketches — fold each
    // doc_id-parity shard with q185's merge and compare
    import graft.operators.Dedup
    val docs = Tables.table(spark, sf0, "documents")
      .select(col("source"), col("doc_id"), col("text"))
    def sets(d: org.apache.spark.sql.DataFrame) =
      Dedup.shingleSets(d.select(col("source"), col("text")), 5, id = "source")
    def collected(sigs: org.apache.spark.sql.DataFrame) =
      sigs.as[(String, Array[Long])].collect().map { case (s, g) => s -> g.toSeq }.toMap
    val full = collected(sets(docs).groupBy(col("source"))
      .agg(array_distinct(flatten(collect_list(col("shs")))).as("shs"))
      .select(col("source"), Dedup.minhash(col("shs"), 4).as("sig"))
      .filter(col("sig").isNotNull))
    val shardSigs = Seq(0, 1).map { par =>
      collected(Dedup.signatures(sets(docs.filter(col("doc_id") % 2 === par)), 4, "source")
        .groupBy(col("source")).agg(Dedup.minhashMerge(col("sig"), 4).as("sig")))
    }
    assert(full.nonEmpty)
    full.foreach { case (src, sig) =>
      val merged = shardSigs.flatMap(_.get(src))
        .reduce((x, y) => x.zip(y).map(t => math.min(t._1, t._2)))
      assert(merged === sig, s"shard-merged sketch differs for $src")
    }
  }
}
