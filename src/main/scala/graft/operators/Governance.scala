package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Privacy / data-governance audit: k-anonymity over quasi-identifier
  * columns with a one-step generalization ladder. A released training
  * corpus must not let a row be re-identified by the combination of its
  * "harmless" attributes; the audit measures, for every quasi-identifier
  * combination, the anonymity set the row actually hides in after the
  * standard remedy (generalize the most specific attribute, then full
  * suppression). The reference has no governance surface at all — its
  * records are synthetic ids (ALSModelGenerator.scala:41-44) — but a
  * crawl-derived corpus ships real attributes, and "is every (lang,
  * source) cell at least k deep" is the release gate.
  *
  * Scale shape: one shuffle on the full quasi-identifier; every coarser
  * ladder level re-aggregates the PARTIAL counts of the level below
  * (rows never re-scanned), so the extra levels cost a shuffle of
  * |groups|, not |corpus|. The corpus total is a 1-row aggregate
  * cross-joined in-plan (no driver action — the round-1 q45 lesson).
  */
object Governance {

  /** Per (`coarse`, `fine`) group: the anonymity set size at each ladder
    * level, the level the group needs to reach `k` (0 = already fine at
    * the full identifier, 1 = after generalizing `fine` away, 2 = only
    * in the whole corpus), the set size actually achieved, and the
    * l-diversity of `sensitive` inside the exact group (distinct
    * sensitive values — a k-deep cell is still leaky when every member
    * shares the secret).
    *
    * NULL identifier values are their own stratum (coalesced to '' so
    * the group key is total; mirrors stratifiedSample's convention). */
  def kAnonymity(df: DataFrame, coarse: String, fine: String,
                 sensitive: Column, k: Int): DataFrame = {
    val rows = df.select(
      coalesce(col(coarse).cast("string"), lit("")).as("qi_coarse"),
      coalesce(col(fine).cast("string"), lit("")).as("qi_fine"),
      sensitive.as("sens"))
    // Level 0: exact quasi-identifier, plus the group's l-diversity.
    val g0 = rows.groupBy("qi_coarse", "qi_fine")
      .agg(count(lit(1)).as("n"), countDistinct(col("sens")).as("l_div"))
    // Level 1 re-aggregates level-0 partials; level 2 likewise.
    val g1 = g0.groupBy("qi_coarse").agg(sum("n").as("n1"))
    val total = g0.agg(sum("n").as("n2"))
    g0.join(g1, "qi_coarse").crossJoin(broadcast(total))
      .withColumn("level",
        when(col("n") >= k, 0).when(col("n1") >= k, 1).otherwise(2)
          .cast("int"))
      .withColumn("anon_n",
        when(col("n") >= k, col("n"))
          .when(col("n1") >= k, col("n1")).otherwise(col("n2")))
      .select("qi_coarse", "qi_fine", "n", "l_div", "level", "anon_n")
  }

  /** Differentially-private histogram release: per-group counts with
    * Laplace(1/eps) noise via the inverse-CDF transform
    * `-b·sign(u-½)·ln(1-2|u-½|)` over a SEEDED uniform (md5 of the
    * group key — [[graft.functions.Portable.hash32]], so the draw is
    * reproducible across engines/runs/partitionings; a production
    * release would swap the salt per epoch to re-randomize). One
    * partial-aggregable shuffle; the noise is scan-stage arithmetic on
    * the |groups|-row aggregate.
    *
    * Returns (grp, n_true, noisy_count) — n_true rides along as the
    * mechanism-calibration audit; the released artifact drops it.
    * noisy_count is [[graft.functions.Portable.snap6]]-snapped (tie-proof
    * cross-engine compare for the ln-derived float). */
  def dpCounts(df: DataFrame, groupCol: String, eps: Double,
               salt: String = "dp"): DataFrame = {
    require(eps > 0, "eps must be positive")
    val counts = df
      .groupBy(coalesce(col(groupCol).cast("string"), lit("")).as("grp"))
      .agg(count(lit(1)).as("n_true"))
    // u in (0,1): the +0.5 offset keeps both open endpoints (u=0 or 1
    // would send ln to -inf)
    val u = (graft.functions.Portable.hash32(
      concat(lit(salt + ":"), col("grp"))).cast("double") + 0.5) /
      lit(4294967296.0)
    val v = u - lit(0.5)
    val noise = lit(-1.0 / eps) * signum(v) *
      log(lit(1.0) - lit(2.0) * abs(v))
    counts.withColumn("noisy_count",
      graft.functions.Portable.snap6(col("n_true") + noise))
  }

  /** Differentially-private per-group MEAN release (Laplace mechanism,
    * budget split evenly across the sum and count queries): values are
    * clipped to [0, clipHi] so the sum's sensitivity is clipHi, then
    * noisy_mean = (clip_sum + Lap(clipHi/(eps/2))) /
    * max(n + Lap(1/(eps/2)), 1). Both draws are seeded from the group key
    * (distinct salts for the sum and count draws) exactly like
    * [[dpCounts]], so the release is reproducible cross-engine. One
    * partial-aggregable shuffle; noise is arithmetic on the |groups|-row
    * aggregate. Returns (grp, n_true, dp_mean) — n_true is the
    * calibration audit column a real release drops. */
  def dpMean(df: DataFrame, groupCol: String, valCol: String,
             clipHi: Double, eps: Double, salt: String = "dpm"): DataFrame = {
    require(eps > 0, "eps must be positive")
    require(clipHi > 0, "clipHi must be positive")
    val agg = df
      .groupBy(coalesce(col(groupCol).cast("string"), lit("")).as("grp"))
      .agg(count(lit(1)).as("n_true"),
        sum(least(greatest(col(valCol).cast("double"), lit(0.0)),
          lit(clipHi))).as("clip_sum"))
    def lap(tag: String, b: Double) = {
      val u = (graft.functions.Portable.hash32(
        concat(lit(s"$salt:$tag:"), col("grp"))).cast("double") + 0.5) /
        lit(4294967296.0)
      val v = u - lit(0.5)
      lit(-b) * signum(v) * log(lit(1.0) - lit(2.0) * abs(v))
    }
    val halfEps = eps / 2.0
    agg.withColumn("dp_mean",
      graft.functions.Portable.snap6(
        (col("clip_sum") + lap("s", clipHi / halfEps)) /
          greatest(col("n_true") + lap("n", 1.0 / halfEps), lit(1.0))))
      .select(col("grp"), col("n_true"), col("dp_mean"))
  }

  /** Mondrian (per-group) split-conformal calibration over an integer
    * measure column: rows are hash-split into calibration/test halves,
    * the nonconformity score is |x − calibration group mean| (e6-floored
    * to a long), and per group the threshold q̂ is the
    * ⌈(n+1)·covNum/covDen⌉-th smallest calibration score — a fresh
    * same-group row exceeds q̂ with probability ≤ 1 − covNum/covDen,
    * distribution-free. The k-th smallest is the q146 two-pass histogram
    * selection generalized per group: a `bins`-bin histogram per group
    * locates each covering bin (one agg + a window over group×bins
    * REDUCED rows), and only that bin's ~n/bins rows are rank-sorted —
    * no full sort at any scale. k > n (a calibration set smaller than
    * the rank) yields q̂ = null = +∞, the conformal convention: coverage
    * trivially holds, reported as such.
    *
    * Input: df(idCol LONG, grpCol, xCol numeric). Output per group with
    * ≥1 calibration row: (grpCol, n_cal, k_rank, qhat, n_test,
    * n_covered, coverage). */
  def conformalThreshold(df: DataFrame, idCol: String, grpCol: String,
                         xCol: String, covNum: Int, covDen: Int,
                         bins: Int, salt: String = "cf"): DataFrame = {
    val P = graft.functions.Portable
    val d = df.select(col(idCol).as("id"), col(grpCol), col(xCol).as("x"),
      (P.hash32(concat(lit(s"$salt:"), col(idCol).cast("string")))
        % 2 === 0).as("is_cal"))
    val m = d.filter(col("is_cal")).groupBy(grpCol)
      .agg(count(lit(1)).as("n_cal"), sum("x").as("s_x"))
      .withColumn("k_rank", expr(
        s"((n_cal + 1) * $covNum + ${covDen - 1}) DIV $covDen"))
    val scored = d.join(broadcast(m), grpCol)
      .withColumn("v", floor(abs(col("x").cast("double")
        - col("s_x").cast("double") / col("n_cal")) * 1e6).cast("long"))
    val cal = scored.filter(col("is_cal")).select(grpCol, "id", "v")
    val bounds = cal.groupBy(grpCol).agg(min("v").as("lo"), max("v").as("hi"))
    val binned = cal.join(broadcast(bounds), grpCol)
      .withColumn("bin", expr(
        s"least(${bins - 1}, ((v - lo) * $bins) DIV (hi - lo + 1))"))
      .select(grpCol, "id", "v", "bin")
    val wc = Window.partitionBy(grpCol).orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val covering = binned.groupBy(grpCol, "bin").agg(count(lit(1)).as("cnt"))
      .withColumn("cum_before", coalesce(sum("cnt").over(wc), lit(0L)))
      .join(broadcast(m.select(grpCol, "k_rank")), grpCol)
      .filter(col("cum_before") < col("k_rank") &&
        col("cum_before") + col("cnt") >= col("k_rank"))
      .select(col(grpCol), col("bin"), col("cum_before"), col("k_rank"))
    val wr = Window.partitionBy(grpCol, "bin").orderBy("v", "id")
    val qh = binned.join(broadcast(covering), Seq(grpCol, "bin"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === col("k_rank") - col("cum_before"))
      .select(col(grpCol), col("v").as("qv"))
    val cov = coverageCounts(scored.filter(!col("is_cal")).select(grpCol, "v")
      .join(broadcast(qh), Seq(grpCol), "left_outer"), grpCol)
    m.join(broadcast(qh), Seq(grpCol), "left_outer")
      .join(cov, Seq(grpCol), "left_outer")
      .select(col(grpCol), col("n_cal"), col("k_rank"),
        (col("qv").cast("double") / 1e6).as("qhat"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(coalesce(col("n_test"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(P.snap6(
            col("n_covered").cast("double") / col("n_test"))).as("coverage"))
      .orderBy(grpCol)
  }

  /** Per group of (grpCol, v, qv) rows: n_test = rows, n_covered = rows
    * with qv NULL (q̂ = +∞) or v <= qv — q227's test-half count, which
    * [[graft.streaming.StreamingConformal]] runs in Update mode. */
  def coverageCounts(scored: DataFrame, grpCol: String): DataFrame =
    scored.groupBy(grpCol)
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("qv").isNull || col("v") <= col("qv"), 1L)
          .otherwise(0L)).as("n_covered"))
}
