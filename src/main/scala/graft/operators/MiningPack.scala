package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.functions.{Portable, TextFunctions => T}
import graft.sources.Tables

/** Pattern/structure mining over the relational tables: interval-overlap
  * joins, event-sequence pattern matching, association rules, skyline
  * (Pareto-frontier) selection, and vocabulary-coverage audits — the
  * "what co-occurs / what dominates / what matches" analytics a curation
  * pipeline layers on top of plain aggregation.
  *
  * No reference analog (flink-ms stops at model serving); these are the
  * builder-prompt "operations a large-scale training-data pipeline would
  * need" family, each shaped for a 1000-executor cluster: equi-join
  * binning instead of nested loops, reduce-before-window instead of
  * global sorts, integer arithmetic wherever a float sum would make the
  * result partitioning-dependent.
  */
object MiningPack extends QueryPack {

  /** q160: interval lengths (micros) and the join bin width. */
  val ViewLenUs = 300000000L     // 5 min
  val PurchaseLenUs = 600000000L // 10 min
  val BinUs = 600000000L         // 10 min — near the wider interval

  /** q161: conversion pattern over per-user event-initial sequences. */
  val ConvPattern = "vc*p"

  /** q162: item vocabulary size, minimum support (1/MinSupportDen), and
    * the emitted rule count. */
  val Items = 50
  val MinSupportDen = 500 // support >= 0.2%
  val TopRules = 50

  /** q163: price-bucket width for the parallel local-skyline pass. */
  val SkyBucket = 100.0

  /** q164: in-vocabulary token count. */
  val VocabK = 200

  /** q168: number of top-frequency tokens the Zipf fit runs over. */
  val ZipfK = 100

  /** q169: CMS geometry for the join-size estimate. */
  val CmsDepth = 4
  val CmsWidth = 512

  /** q172: hashed feature-vector width. */
  val FeatDim = 64

  /** q177: hash-partition count the skew audit simulates. */
  val SkewParts = 32L

  /** q173: JL target dimensionality (from 64) and distortion gate. */
  val JlDim = 16
  val JlTolE6 = 300000L // |ratio − 1| ≤ 0.30 in 1e-6 units

  /** q182: document-frequency candidate pool and emitted feature count. */
  val Chi2Cand = 200
  val Chi2Top = 20

  /** q184: stump search grid — value-axis bin width 0.1, clamped bins. */
  val StumpBins = 50

  /** q231 DoReMi-style exponentiated-gradient step size and the
    * fixed-point scale the un-normalized weights quantize to BEFORE the
    * normalizing sum (integer Σ → partition-order-free weights). */
  val DoremiEta = 1.0
  val DoremiScale = 1e9

  /** Deterministic ±1 sign row k of the JL projection matrix — a pure
    * function of (k, i) computed at PLAN BUILD time and embedded as
    * literals in both engines (no runtime randomness to disagree on). */
  def jlSigns(k: Int): Seq[Double] = (0 until 64).map { i =>
    val h = (1103515245L * (k * 64L + i + 1) + 12345L) % 2147483647L
    if (h % 2 == 0) 1.0 else -1.0
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Out-of-fold target encoding — the leakage-FREE version of the most
    // leakage-prone feature op in tabular ML: a category's encoding for
    // fold f aggregates every fold EXCEPT f ((total - fold) / (n - n_f)),
    // so no row's target leaks into its own feature. Two grouped
    // aggregations over integer cents (the second re-aggregates the
    // first's partials — corpus scanned once), exact arithmetic until one
    // final snap6; the whole-category-in-one-fold corner degrades to NULL
    // instead of 0/0. Folds are user-keyed (the q204/q175 discipline:
    // split by the entity, not the row, so one user's rows never straddle
    // folds).
    "q208_target_encoding" -> ((s, dir) => {
      val e = Tables.table(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type").as("cat"),
          (coalesce(col("user_id"), lit(-1L)) % 5).cast("int").as("fold"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val perCF = e.groupBy("cat", "fold")
        .agg(count(lit(1)).as("n_fold"), sum(col("cents")).as("sum_f"))
      val perC = perCF.groupBy("cat")
        .agg(sum(col("n_fold")).as("n_c"), sum(col("sum_f")).as("sum_c"))
      perCF.join(perC, "cat")
        .select(col("cat"), col("fold"), col("n_fold"),
          when(col("n_c") === col("n_fold"), lit(null).cast("double"))
            .otherwise(Portable.snap6(
              (col("sum_c") - col("sum_f")).cast("double")
                / (col("n_c") - col("n_fold")) / 100.0))
            .as("oof_mean_value"))
        .orderBy("cat", "fold")
    }),

    // Interval-overlap join: every view window [ts, ts+5min) matched to
    // every same-user purchase window [ts, ts+10min) it overlaps — the
    // attribution primitive ("which purchases fell inside an ad-view
    // window?"). A bare overlap predicate plans a nested-loop join;
    // RangeJoin.binnedIntervalJoin explodes both sides to covered bins
    // and equi-joins on (user, bin), reporting each pair exactly once
    // (plan-asserted BNLJ-free in MiningSpec). All-integer micros
    // arithmetic — no timestamp/float drift between engines.
    "q160_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def iv(tpe: String, idC: String, sC: String, eC: String, len: Long) =
        ev.filter(col("event_type") === tpe)
          .select(col("event_id").as(idC), col("user_id"),
            expr("unix_micros(ts)").as(sC),
            (expr("unix_micros(ts)") + len).as(eC))
      RangeJoin.binnedIntervalJoin(
          iv("view", "a_id", "a_s", "a_e", ViewLenUs),
          iv("purchase", "b_id", "b_s", "b_e", PurchaseLenUs),
          "user_id", "a_s", "a_e", "b_s", "b_e", BinUs)
        .select(col("a_id"), col("b_id"),
          ((least(col("a_e"), col("b_e"))
            - greatest(col("a_s"), col("b_s"))) / lit(1000000L))
            .cast("long").as("overlap_s"))
        .orderBy("a_id", "b_id")
    }),

    // Event-sequence pattern matching (MATCH_RECOGNIZE-lite): each
    // user's events collapse to an ordered initial string (v/c/p/s/e),
    // and a regex counts non-overlapping view→clicks*→purchase runs.
    // The collapse is one grouped collect ordered by (ts, event_id) —
    // per-user state is bounded by the user's event count, the same
    // budget any sessionizer pays — and the match is a scan-stage regex.
    "q161_event_pattern" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("ch"))
      ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          // array_sort on (ts, event_id, ch) structs orders by event
          // time with the unique event_id as tiebreak
          array_join(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("ch")))),
            x => x.getField("ch")), "").as("seq"))
        .select(col("user_id"), col("n_events"),
          size(expr(s"regexp_extract_all(seq, '$ConvPattern', 0)"))
            .as("n_conv"))
        .orderBy("user_id")
    }),

    // Association rules over order baskets (market-basket mining):
    // support / confidence / lift for item pairs that clear a minimum
    // support. Pair generation is the a-priori self-equi-join on the
    // basket id (cost Σ basket_size², never |items|²); the support
    // threshold is the pure-integer predicate cnt·Den >= n so both
    // engines prune identically; the final top-N window runs over the
    // ≤ Items² surviving rules, not the data. snap6 (not ROUND) on the
    // ratio outputs: the rank orders by the snapped lift, and a
    // half-ulp rounding disagreement would reorder the report.
    "q162_assoc_rules" -> ((s, dir) => {
      val baskets = Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey").as("oid"),
          (col("l_partkey") % Items).as("item"))
        .distinct()
      val nb = baskets.agg(count_distinct(col("oid")).as("n"))
      val cnt = baskets.groupBy("item").agg(count(lit(1)).as("cnt"))
      val b1 = baskets.select(col("oid"), col("item").as("x"))
      val b2 = baskets.select(col("oid"), col("item").as("y"))
      val pairs = b1.join(b2, "oid").filter(col("x") < col("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("cab"))
      val rules = pairs.select(col("x").as("ante"), col("y").as("cons"), col("cab"))
        .unionAll(pairs.select(col("y").as("ante"), col("x").as("cons"), col("cab")))
      val scored = rules
        .join(cnt.select(col("item").as("ante"), col("cnt").as("ca")), "ante")
        .join(cnt.select(col("item").as("cons"), col("cnt").as("cb")), "cons")
        .crossJoin(broadcast(nb))
        .filter(col("cab") * MinSupportDen >= col("n"))
        .select(col("ante"), col("cons"), col("cab"),
          Portable.snap6(col("cab").cast("double") / col("n")).as("support"),
          Portable.snap6(col("cab").cast("double") / col("ca")).as("confidence"),
          Portable.snap6(col("cab").cast("double") * col("n")
            / (col("ca") * col("cb"))).as("lift"))
      val w = Window.orderBy(col("lift").desc, col("ante"), col("cons"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopRules)
        .select(col("rank"), col("ante"), col("cons"), col("cab"),
          col("support"), col("confidence"), col("lift"))
        .orderBy("rank")
    }),

    // Skyline (Pareto frontier): parts no other part dominates on
    // (price ↓ better, size ↑ better) — multi-objective selection, the
    // quality-vs-cost shortlist primitive. Three-stage reduce instead of
    // the naive O(n²) dominance test: (1) per-price max size (one
    // shuffle, collapses duplicates); (2) LOCAL skyline per price bucket
    // (parallel windows — a point dominated within its bucket is
    // dominated globally, so pruning is lossless); (3) exact global pass
    // over the bucket survivors. Skyline is an idempotent associative
    // reduction, so the local→global composition is exact; only stage 3
    // is a single-partition window, over data two reductions small.
    "q163_skyline" -> ((s, dir) => {
      val p = Tables.table(s, dir, "part")
      val best = p.groupBy(col("p_retailprice").as("price"))
        .agg(max(col("p_size")).as("size"))
      val wLocal = Window.partitionBy("bkt").orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = best
        .withColumn("bkt", floor(col("price") / lit(SkyBucket)))
        .withColumn("rm", max(col("size")).over(wLocal))
        .filter(col("rm").isNull || col("size") > col("rm"))
        .drop("bkt", "rm")
      val wGlobal = Window.orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = local.withColumn("rm", max(col("size")).over(wGlobal))
        .filter(col("rm").isNull || col("size") > col("rm"))
        .select(col("price"), col("size"))
      p.join(sky, p("p_retailprice") === sky("price")
          && p("p_size") === sky("size"))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy("p_partkey")
    }),

    // Out-of-vocabulary rate: share of each document's token occurrences
    // outside the corpus's top-K vocabulary — the tokenizer-coverage
    // audit run before committing a vocab. The vocab is a rank-limited
    // window (WindowGroupLimit pushes per-task top-K heaps below the
    // exchange) and is K rows BY CONSTRUCTION, so the membership join is
    // a broadcast at any corpus size. Integer counts; snap6 ratio.
    // One DoReMi-style mixture-reweighting step: domains (sources) whose
    // text the current vocabulary models WORST get their sampling weight
    // raised by an exponentiated-gradient update w' ∝ w₀·exp(η·loss),
    // the domain-mix optimization the published DoReMi recipe iterates.
    // The per-domain loss proxy is the corpus-vocabulary OOV rate (the
    // q164 vocabulary: top-K tokens by corpus frequency) — deterministic
    // and engine-replayable where a real LM excess loss is not. The only
    // transcendental is one exp over a snapped rate; un-normalized
    // weights floor-quantize to 1e9 longs BEFORE the normalizing sum, so
    // the division is exact-integer / exact-integer in both engines.
    // Scale: one token shuffle (tf), a K-row vocabulary broadcast back,
    // one source-keyed aggregate; the weight step runs on |domains| rows
    // under a reduced-input window (guardrail-exempt by construction).
    "q231_doremi_step" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val toks = docs.select(col("source"), explode(T.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val wv = Window.orderBy(col("cnt").desc, col("tok"))
      val vocab = tf.withColumn("r", row_number().over(wv))
        .filter(col("r") <= VocabK).select(col("tok"), lit(1).as("in_v"))
      val loss = toks.join(vocab, Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("loss", Portable.snap6(
          col("n_oov").cast("double") / col("n_tok")))
      val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val wTot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val j = nd.join(loss, "source")
        .withColumn("n_total", sum("n_docs").over(wTot))
        .withColumn("w0",
          col("n_docs").cast("double") / col("n_total"))
        .withColumn("t", floor(col("w0")
          * exp(lit(DoremiEta) * col("loss")) * lit(DoremiScale)).cast("long"))
        .withColumn("t_sum", sum("t").over(wTot))
      j.select(col("source"), col("n_docs"), col("n_tok"), col("loss"),
          Portable.snap6(col("w0")).as("w0"),
          Portable.snap6(col("t").cast("double") / col("t_sum")).as("w_new"))
        .orderBy("source")
    }),

    "q164_oov_rate" -> ((s, dir) => {
      val toks = Tables.table(s, dir, "documents")
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val wv = Window.orderBy(col("cnt").desc, col("tok"))
      val vocab = tf.withColumn("r", row_number().over(wv))
        .filter(col("r") <= VocabK)
        .select(col("tok"), lit(1).as("in_v"))
      toks.join(vocab, Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tok"), col("n_oov"),
          Portable.snap6(col("n_oov").cast("double") / col("n_tok"))
            .as("oov_rate"))
        .orderBy("doc_id")
    }),

    // Zipf's-law fit: OLS of ln(freq) on ln(rank) over the top-100
    // tokens — natural text fits slope ≈ −1, and a corpus that doesn't
    // (template spam, codegen output) fails the health check. Each OLS
    // term is floor-quantized to a 1e-6 long BEFORE summation, so the
    // moment sums are integer — associative, identical under any
    // partitioning — and the closed-form slope/intercept/R² derive from
    // the same six integers in both engines.
    "q168_zipf_fit" -> ((s, dir) => {
      val tf = Tables.table(s, dir, "documents")
        .select(explode(T.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val wv = Window.orderBy(col("cnt").desc, col("tok"))
      val top = tf.withColumn("rank", row_number().over(wv))
        .filter(col("rank") <= ZipfK)
      def q6(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e6)).cast("long")
      val xy = top.select(log(col("rank").cast("double")).as("x"),
          log(col("cnt").cast("double")).as("y"))
        .select(q6(col("x")).as("qx"), q6(col("y")).as("qy"),
          q6(col("x") * col("y")).as("qxy"),
          q6(col("x") * col("x")).as("qxx"),
          q6(col("y") * col("y")).as("qyy"))
      val m = xy.agg(count(lit(1)).as("n"),
        sum(col("qx")).as("sqx"), sum(col("qy")).as("sqy"),
        sum(col("qxy")).as("sqxy"), sum(col("qxx")).as("sqxx"),
        sum(col("qyy")).as("sqyy"))
      val n = col("n").cast("double")
      val sx = col("sqx") / lit(1e6)
      val sy = col("sqy") / lit(1e6)
      val sxy = col("sqxy") / lit(1e6)
      val sxx = col("sqxx") / lit(1e6)
      val syy = col("sqyy") / lit(1e6)
      val den = n * sxx - sx * sx
      val slope = (n * sxy - sx * sy) / den
      m.select(col("n").as("n_fit"),
        Portable.snap6(slope).as("slope"),
        Portable.snap6((sy - slope * sx) / n).as("intercept"),
        Portable.snap6((n * sxy - sx * sy) * (n * sxy - sx * sy)
          / (den * (n * syy - sy * sy))).as("r2"))
    }),

    // Sketch-based join-cardinality estimation: |events ⋈ orders| on the
    // customer key, estimated from two count-min sketches as the
    // minimum-over-depths inner product Σ_w A[d][w]·B[d][w] — the
    // optimizer-statistics primitive that prices a join WITHOUT running
    // it. Each side is one linear pass (key pre-aggregation, then D
    // projections of the key-count table into (depth, cell) space); the
    // sketch join touches D·W cells, not data. The CMS inner product
    // only ever overestimates (hash collisions add mass), so the exact
    // join size — computed relationally as the audit — gates est ≥ exact.
    // All integer counts and Portable universal hashes: deterministic
    // across engines and partitionings.
    "q169_join_estimate" -> ((s, dir) => {
      def keyed(df: DataFrame) =
        df.groupBy(col("k")).agg(count(lit(1)).as("c"))
      val a = keyed(Tables.table(s, dir, "events")
        .select(col("user_id").cast("string").as("k")))
      val b = keyed(Tables.table(s, dir, "orders")
        .select((col("o_custkey") % 150).cast("string").as("k")))
      // one pass per side: posexplode over the depth-indexed cell array
      // replaces a CmsDepth-way unionAll that re-scanned the keyed
      // aggregate once per depth (r10 verdict: the only plan in the
      // fleet that re-read an aggregate D times; same (d, w, cnt) rows)
      def cms(t: DataFrame) = t
        .select(col("c"), posexplode(array((0 until CmsDepth).map { d =>
          Portable.permute(Portable.hash32m(col("k")), d) % CmsWidth
        }: _*)))
        .toDF("c", "d", "w")
        .groupBy("d", "w").agg(sum(col("c")).as("cnt"))
      val estPerDepth = cms(a).select(col("d"), col("w"), col("cnt").as("ca"))
        .join(cms(b).select(col("d"), col("w"), col("cnt").as("cb")),
          Seq("d", "w"))
        .groupBy("d").agg(sum(col("ca") * col("cb")).as("ip"))
      val est = estPerDepth.agg(min(col("ip")).as("est"))
      val exact = a.select(col("k"), col("c").as("ca"))
        .join(b.select(col("k"), col("c").as("cb")), "k")
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact"))
      est.crossJoin(broadcast(exact))
        .select(col("est"), col("exact"),
          (col("est") >= col("exact")).as("over_ok"),
          Portable.snap6(col("est").cast("double") / col("exact"))
            .as("est_ratio"))
    }),

    // Hashing-trick vectorizer: tokens hash straight into a fixed-width
    // count vector — the vocabulary-free featurizer (no vocab build, no
    // dictionary broadcast, O(1) memory per feature). Per doc: token
    // count, occupied buckets, and the first four bucket counts as the
    // hash-checkable vector sample. Pure scan-stage hashing + one
    // grouped aggregation; the width is a constant, so the operator's
    // memory is independent of corpus vocabulary — the property that
    // makes it the scale path when a vocab would blow the broadcast.
    "q172_feature_hash" -> ((s, dir) => {
      val toks = Tables.table(s, dir, "documents")
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          (Portable.hash32m(col("tok")) % FeatDim).as("b"))
      def bc(i: Int) =
        sum(when(col("b") === i, 1L).otherwise(0L)).as(s"b$i")
      toks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          count_distinct(col("b")).as("nnz"),
          bc(0), bc(1), bc(2), bc(3))
        .orderBy("doc_id")
    }),

    // Johnson-Lindenstrauss sign-projection (64 → 16 dims) with a
    // distance-distortion audit — the data-INDEPENDENT dimensionality
    // reduction (vs q92's trained PCA): the ±1 matrix is a compile-time
    // function of (row, col) shared as literals with the oracle, so
    // projection is pure scan-stage arithmetic — no training pass, no
    // model table, which is exactly why it scales to any corpus. The
    // audit measures ||pa−pb||²/||a−b||² over anchor×sample pairs;
    // per-pair ratios floor-quantize to 1e-6 longs so the mean/min/max/
    // within-tolerance stats are order-free integers.
    "q173_jl_project" -> ((s, dir) => {
      def proj(v: org.apache.spark.sql.Column) =
        array((0 until JlDim).map { k =>
          aggregate(zip_with(v, typedLit(jlSigns(k)), (x, sgn) => x * sgn),
            lit(0.0), (a, e) => a + e) / 4.0
        }: _*)
      def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, e) => acc + e)
      val base = Tables.table(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
            .as("v"))
        .withColumn("p", proj(col("v")))
      val anchors = base.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("va"), col("p").as("pa"))
      val others = base.filter(col("vec_id") % 11 === 0)
        .select(col("vec_id").as("oid"), col("v").as("vb"), col("p").as("pb"))
      val pairs = others.crossJoin(broadcast(anchors))
        .filter(col("oid") =!= col("qid"))
        .select(d2(col("va"), col("vb")).as("o2"), d2(col("pa"), col("pb")).as("p2"))
        .filter(col("o2") > 0.0)
        .select(floor(col("p2") / col("o2") * lit(1e6)).cast("long").as("q"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum(col("q")).as("sq"), min(col("q")).as("minq"),
          max(col("q")).as("maxq"),
          sum(when(abs(col("q") - 1000000L) <= JlTolE6, 1L).otherwise(0L))
            .as("n_ok"))
        .select(col("n_pairs"),
          Portable.snap6(col("sq").cast("double")
            / (col("n_pairs") * lit(1e6))).as("mean_ratio"),
          Portable.snap6(col("minq").cast("double") / lit(1e6)).as("min_ratio"),
          Portable.snap6(col("maxq").cast("double") / lit(1e6)).as("max_ratio"),
          Portable.snap6(col("n_ok").cast("double") / col("n_pairs"))
            .as("frac_within_tol"))
    }),

    // Join-skew diagnostic — the profile you run BEFORE a big keyed join
    // to decide between plain hash join, salting (q99/q133), and AQE skew
    // handling: per-key frequency stats (max, exact p99) plus the
    // max-partition share under hash partitioning into a fixed partition
    // count. part_skew ≈ 1 means hash partitioning balances; ≫ 1 means a
    // hot key owns its partition and the join needs salt. Scale shape:
    // both profiles are grouped COUNTS (map-side partial agg); only the
    // per-key count table — |distinct keys|, not |rows| — takes the
    // global p99 sort. The partition assignment uses the portable hash so
    // the oracle reproduces the exact placement.
    "q177_skew_audit" -> ((s, dir) => {
      val f = Tables.table(s, dir, "events").select(col("user_id").as("k"))
      val perKey = f.groupBy("k").agg(count(lit(1)).as("c"))
      val tot = perKey.agg(count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"), max(col("c")).as("max_freq"))
      val ordered = perKey.select(col("c"), row_number()
        .over(Window.orderBy(col("c"), col("k"))).as("rn"))
      val p99 = ordered.crossJoin(broadcast(tot.select(col("n_keys"))))
        .filter(col("rn") === ceil(col("n_keys") * lit(0.99)))
        .select(col("c").as("p99_freq"))
      val parts = f
        .select((Portable.hash32(concat(lit("sk:"), col("k").cast("string")))
          % lit(SkewParts)).as("part"))
        .groupBy("part").agg(count(lit(1)).as("pc"))
        .agg(max(col("pc")).as("max_part_rows"),
          count(lit(1)).as("n_parts_used"))
      tot.crossJoin(p99).crossJoin(parts)
        .select(col("n_rows"), col("n_keys"), col("max_freq"), col("p99_freq"),
          Portable.snap6((col("max_freq") * col("n_keys")).cast("double")
            / col("n_rows")).as("hot_key_ratio"),
          col("n_parts_used"), col("max_part_rows"),
          Portable.snap6((col("max_part_rows") * lit(SkewParts)).cast("double")
            / col("n_rows")).as("part_skew"))
    }),

    // Chi-squared feature selection: which tokens are statistically
    // ASSOCIATED with a document's source — the supervised
    // feature-ranking step of a classifier pipeline (vs q45's unsupervised
    // TF-IDF weighting). Per candidate token (top-200 by document
    // frequency), a presence/absence × source contingency table; chi² =
    // Σ_cells (O−E)²/E with each cell's term floor-quantized to a 1e-6
    // long BEFORE the sum, so the statistic is an order-free integer in
    // both engines. Scale shape: presence rows are distinct (doc, tok)
    // pairs; the candidate pool and per-source totals are tiny broadcast
    // sides; zero-count cells come from the candidate × source grid, not
    // from the data — no skew, two shuffles total.
    "q182_chi2_select" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val pres = d.select(col("doc_id"), col("source"),
        explode(array_distinct(T.tokens(col("text")))).as("tok"))
      val dfTab = pres.groupBy("tok").agg(count(lit(1)).as("df"))
      val wDf = Window.orderBy(col("df").desc, col("tok"))
      val cand = dfTab.withColumn("r", row_number().over(wDf))
        .filter(col("r") <= Chi2Cand).select("tok", "df")
      val srcTot = d.groupBy("source").agg(count(lit(1)).as("ns"))
      val nDocs = d.agg(count(lit(1)).as("n"))
      val obs = pres.join(broadcast(cand.select("tok")), "tok")
        .groupBy("tok", "source").agg(count(lit(1)).as("o"))
      val grid = cand.crossJoin(srcTot)
        .join(obs, Seq("tok", "source"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(nDocs))
      val e1 = col("df").cast("double") * col("ns") / col("n")
      val e0 = (col("n") - col("df")).cast("double") * col("ns") / col("n")
      val o0 = col("ns") - col("o")
      def q6(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e6)).cast("long")
      val term =
        q6((col("o") - e1) * (col("o") - e1) / e1) +
          when(col("n") > col("df"), q6((o0 - e0) * (o0 - e0) / e0))
            .otherwise(0L)
      val chi = grid.groupBy("tok", "df").agg(sum(term).as("chi2_e6"))
      val wC = Window.orderBy(col("chi2_e6").desc, col("tok"))
      chi.withColumn("rk", row_number().over(wC))
        .filter(col("rk") <= Chi2Top)
        .select(col("rk"), col("tok"), col("df"),
          (col("chi2_e6").cast("double") / 1e6).as("chi2"))
        .orderBy("rk")
    }),

    // Decision-stump induction by Gini impurity: the best single
    // threshold on the event value separating purchases from the rest —
    // the depth-1 tree (and the split-finding primitive of any
    // distributed tree learner: gradient-boosting and random-forest
    // splitters run exactly this histogram scan per feature). Pass 1
    // bins the value axis (0.1-wide, clamped) into per-bin (n, positives)
    // counts; the candidate scan is a prefix-sum window over ≤50 bins.
    // The weighted impurity of each candidate split floor-quantizes to a
    // 1e-6 long, so the argmin is integer-deterministic. Scale: one
    // map-side-combinable groupBy over the events, then window work on a
    // 50-row table.
    "q184_gini_stump" -> ((s, dir) => {
      val e = Tables.table(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(least(greatest(floor(col("value") * 10), lit(0)),
          lit(StumpBins - 1)).cast("long").as("bin"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val per = e.groupBy("bin").agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      val tot = per.agg(sum("n").as("nt"), sum("p").as("pt"))
      val w = Window.orderBy("bin")
      val cum = per
        .withColumn("nl", sum(col("n")).over(w))
        .withColumn("pl", sum(col("p")).over(w))
        .crossJoin(broadcast(tot))
        .filter(col("nl") < col("nt")) // right side must stay nonempty
      val ql = col("nl") - col("pl")
      val nr = col("nt") - col("nl")
      val pr = col("pt") - col("pl")
      val qr = nr - pr
      val gl = lit(1.0) - (col("pl") * col("pl") + ql * ql).cast("double") /
        (col("nl") * col("nl")).cast("double")
      val gr = lit(1.0) - (pr * pr + qr * qr).cast("double") /
        (nr * nr).cast("double")
      val score = floor((col("nl").cast("double") * gl +
        nr.cast("double") * gr) / col("nt").cast("double") * lit(1e6))
        .cast("long")
      val scored = cum.select(col("bin"), col("nl"), col("pl"),
        col("nt"), col("pt"), score.as("score_e6"))
      val wBest = Window.orderBy(col("score_e6"), col("bin"))
      scored.withColumn("rk", row_number().over(wBest))
        .filter(col("rk") === 1)
        .select(Portable.snap6((col("bin") + 1).cast("double") / 10.0)
          .as("threshold"),
          col("nl").as("n_left"), col("pl").as("pos_left"),
          (col("nt") - col("nl")).as("n_right"),
          (col("pt") - col("pl")).as("pos_right"),
          (col("score_e6").cast("double") / 1e6).as("gini"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q208_target_encoding" -> {
      val oof = graft.functions.Portable.snap6Sql(
        "CAST(sum_c - sum_f AS DOUBLE) / (n_c - n_fold) / 100.0")
      s"""WITH e AS (
         |  SELECT event_type AS cat,
         |         CAST(coalesce(user_id, -1) % 5 AS INTEGER) AS fold,
         |         CAST(round(value * 100, 0) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL),
         |cf AS (SELECT cat, fold, CAST(count(*) AS BIGINT) AS n_fold,
         |              CAST(sum(cents) AS BIGINT) AS sum_f
         |       FROM e GROUP BY cat, fold),
         |c AS (SELECT cat, CAST(sum(n_fold) AS BIGINT) AS n_c,
         |             CAST(sum(sum_f) AS BIGINT) AS sum_c
         |      FROM cf GROUP BY cat)
         |SELECT cat, fold, n_fold,
         |       CASE WHEN n_c = n_fold THEN NULL ELSE $oof END
         |         AS oof_mean_value
         |FROM cf JOIN c USING (cat)
         |ORDER BY cat, fold""".stripMargin
    },

    "q160_interval_join" ->
      s"""WITH a AS (
         |  SELECT event_id AS a_id, user_id,
         |         CAST(epoch_us(ts) AS BIGINT) AS a_s,
         |         CAST(epoch_us(ts) AS BIGINT) + $ViewLenUs AS a_e
         |  FROM events WHERE event_type = 'view'),
         |b AS (
         |  SELECT event_id AS b_id, user_id,
         |         CAST(epoch_us(ts) AS BIGINT) AS b_s,
         |         CAST(epoch_us(ts) AS BIGINT) + $PurchaseLenUs AS b_e
         |  FROM events WHERE event_type = 'purchase')
         |SELECT a_id, b_id,
         |       (least(a_e, b_e) - greatest(a_s, b_s)) // 1000000 AS overlap_s
         |FROM a JOIN b USING (user_id)
         |WHERE a_s < b_e AND b_s < a_e
         |ORDER BY a_id, b_id""".stripMargin,

    "q161_event_pattern" ->
      s"""WITH seqs AS (
         |  SELECT user_id, count(*) AS n_events,
         |         string_agg(substr(event_type, 1, 1), ''
         |                    ORDER BY ts, event_id) AS seq
         |  FROM events GROUP BY 1)
         |SELECT user_id, n_events,
         |       CAST(len(regexp_extract_all(seq, '$ConvPattern')) AS INTEGER)
         |         AS n_conv
         |FROM seqs ORDER BY user_id""".stripMargin,

    "q162_assoc_rules" ->
      s"""WITH b AS (
         |  SELECT DISTINCT l_orderkey AS oid, l_partkey % $Items AS item
         |  FROM lineitem),
         |nb AS (SELECT count(DISTINCT oid) AS n FROM b),
         |cnt AS (SELECT item, count(*) AS cnt FROM b GROUP BY 1),
         |p AS (SELECT b1.item AS x, b2.item AS y, count(*) AS cab
         |      FROM b b1 JOIN b b2 ON b1.oid = b2.oid AND b1.item < b2.item
         |      GROUP BY 1, 2),
         |r AS (SELECT x AS ante, y AS cons, cab FROM p
         |      UNION ALL SELECT y, x, cab FROM p),
         |scored AS (
         |  SELECT r.ante, r.cons, r.cab,
         |         ${Portable.snap6Sql("CAST(r.cab AS DOUBLE) / nb.n")} AS support,
         |         ${Portable.snap6Sql("CAST(r.cab AS DOUBLE) / ca.cnt")} AS confidence,
         |         ${Portable.snap6Sql(
               "CAST(r.cab AS DOUBLE) * nb.n / (ca.cnt * cb.cnt)")} AS lift
         |  FROM r CROSS JOIN nb
         |  JOIN cnt ca ON ca.item = r.ante
         |  JOIN cnt cb ON cb.item = r.cons
         |  WHERE r.cab * $MinSupportDen >= nb.n)
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY lift DESC, ante, cons)
         |           AS INTEGER) AS rank,
         |         ante, cons, cab, support, confidence, lift
         |  FROM scored)
         |WHERE rank <= $TopRules ORDER BY rank""".stripMargin,

    "q163_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice
        |    AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin,

    "q231_doremi_step" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(${TextPack.toksSql("text")}) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
         |vocab AS (
         |  SELECT tok FROM (
         |    SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS r
         |    FROM tf) WHERE r <= $VocabK),
         |lo AS (
         |  SELECT t.source, count(*) AS n_tok,
         |         CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_oov
         |  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok GROUP BY 1),
         |l2 AS (SELECT source, n_tok, ${Portable.snap6Sql(
             "CAST(n_oov AS DOUBLE) / n_tok")} AS loss FROM lo),
         |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         |j AS (SELECT nd.source, n_docs, n_tok, loss,
         |             CAST(n_docs AS DOUBLE)
         |               / (SELECT sum(n_docs) FROM nd) AS w0
         |      FROM nd JOIN l2 USING (source)),
         |q AS (SELECT j.*, CAST(floor(w0 * exp($DoremiEta * loss)
         |             * $DoremiScale) AS BIGINT) AS t FROM j)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_tok AS BIGINT) AS n_tok, loss,
         |       ${Portable.snap6Sql("w0")} AS w0,
         |       ${Portable.snap6Sql(
             "CAST(t AS DOUBLE) / (SELECT sum(t) FROM q)")} AS w_new
         |FROM q ORDER BY source""".stripMargin,

    "q164_oov_rate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${TextPack.toksSql("text")}) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
         |vocab AS (
         |  SELECT tok FROM (
         |    SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS r
         |    FROM tf) WHERE r <= $VocabK),
         |per AS (
         |  SELECT t.doc_id, count(*) AS n_tok,
         |         CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_oov
         |  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
         |  GROUP BY 1)
         |SELECT doc_id, n_tok, n_oov,
         |       ${Portable.snap6Sql("CAST(n_oov AS DOUBLE) / n_tok")} AS oov_rate
         |FROM per ORDER BY doc_id""".stripMargin,

    "q168_zipf_fit" ->
      s"""WITH toks AS (SELECT unnest(${TextPack.toksSql("text")}) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
         |top AS (SELECT cnt, rank FROM (
         |          SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok)
         |            AS rank FROM tf) WHERE rank <= $ZipfK),
         |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
         |              ln(CAST(cnt AS DOUBLE)) AS y FROM top),
         |qm AS (SELECT CAST(floor(x * 1000000.0) AS BIGINT) AS qx,
         |              CAST(floor(y * 1000000.0) AS BIGINT) AS qy,
         |              CAST(floor((x * y) * 1000000.0) AS BIGINT) AS qxy,
         |              CAST(floor((x * x) * 1000000.0) AS BIGINT) AS qxx,
         |              CAST(floor((y * y) * 1000000.0) AS BIGINT) AS qyy
         |       FROM xy),
         |mo AS (SELECT count(*) AS n0,
         |              CAST(sum(qx) AS BIGINT) AS sqx,
         |              CAST(sum(qy) AS BIGINT) AS sqy,
         |              CAST(sum(qxy) AS BIGINT) AS sqxy,
         |              CAST(sum(qxx) AS BIGINT) AS sqxx,
         |              CAST(sum(qyy) AS BIGINT) AS sqyy
         |       FROM qm),
         |d AS (SELECT n0, CAST(n0 AS DOUBLE) AS n,
         |             sqx / 1000000.0 AS sx, sqy / 1000000.0 AS sy,
         |             sqxy / 1000000.0 AS sxy, sqxx / 1000000.0 AS sxx,
         |             sqyy / 1000000.0 AS syy
         |      FROM mo)
         |SELECT n0 AS n_fit,
         |       ${Portable.snap6Sql(
             "(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS slope,
         |       ${Portable.snap6Sql(
             "(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n")}
         |         AS intercept,
         |       ${Portable.snap6Sql(
             "(n * sxy - sx * sy) * (n * sxy - sx * sy) / " +
               "((n * sxx - sx * sx) * (n * syy - sy * sy))")} AS r2
         |FROM d""".stripMargin,

    "q169_join_estimate" -> {
      def cmsSql(src: String) = (0 until CmsDepth).map { d =>
        s"""SELECT $d AS d,
           |       (${Portable.permuteSql(Portable.hash32mSql("k"), d)})
           |         % $CmsWidth AS w,
           |       CAST(sum(c) AS BIGINT) AS cnt
           |FROM $src GROUP BY 1, 2""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH a AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c
         |           FROM events GROUP BY 1),
         |b AS (SELECT CAST(o_custkey % 150 AS VARCHAR) AS k, count(*) AS c
         |      FROM orders GROUP BY 1),
         |ca AS (${cmsSql("a")}),
         |cb AS (${cmsSql("b")}),
         |ip AS (SELECT ca.d, CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS ip
         |       FROM ca JOIN cb ON ca.d = cb.d AND ca.w = cb.w GROUP BY 1),
         |est AS (SELECT CAST(min(ip) AS BIGINT) AS est FROM ip),
         |ex AS (SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT) AS exact
         |       FROM a JOIN b ON a.k = b.k)
         |SELECT est, exact, est >= exact AS over_ok,
         |       ${Portable.snap6Sql("CAST(est AS DOUBLE) / exact")} AS est_ratio
         |FROM est CROSS JOIN ex""".stripMargin
    },

    "q172_feature_hash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${TextPack.toksSql("text")}) AS tok FROM documents),
         |h AS (SELECT doc_id, ${Portable.hash32mSql("tok")} % $FeatDim AS b
         |      FROM toks)
         |SELECT doc_id, count(*) AS n_tok,
         |       CAST(count(DISTINCT b) AS BIGINT) AS nnz,
         |       CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
         |       CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         |       CAST(sum(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         |       CAST(sum(CASE WHEN b = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3
         |FROM h GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q173_jl_project" -> {
      def signList(k: Int) =
        jlSigns(k).map(d => if (d > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]")
      val pks = (0 until JlDim).map { k =>
        s"(list_sum(list_transform(generate_series(1, 64), " +
          s"i -> v[i] * (${signList(k)})[i])) / 4.0)"
      }.mkString("[", ",\n         ", "]")
      def d2(a: String, b: String, n: Int) =
        s"list_sum(list_transform(generate_series(1, $n), " +
          s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
      s"""WITH base AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |pr AS (SELECT vec_id, v,
         |         $pks AS p
         |       FROM base),
         |pairs AS (
         |  SELECT ${d2("a.v", "b.v", 64)} AS o2,
         |         ${d2("a.p", "b.p", JlDim)} AS p2
         |  FROM pr a JOIN pr b
         |    ON a.vec_id % 50 = 0 AND b.vec_id % 11 = 0
         |   AND b.vec_id <> a.vec_id),
         |q AS (SELECT CAST(floor((p2 / o2) * 1000000.0) AS BIGINT) AS q
         |      FROM pairs WHERE o2 > 0)
         |SELECT count(*) AS n_pairs,
         |       ${Portable.snap6Sql(
             "CAST(sum(q) AS DOUBLE) / (count(*) * 1000000.0)")} AS mean_ratio,
         |       ${Portable.snap6Sql(
             "CAST(min(q) AS DOUBLE) / 1000000.0")} AS min_ratio,
         |       ${Portable.snap6Sql(
             "CAST(max(q) AS DOUBLE) / 1000000.0")} AS max_ratio,
         |       ${Portable.snap6Sql(
             "CAST(sum(CASE WHEN abs(q - 1000000) <= " + JlTolE6 +
               " THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS frac_within_tol
         |FROM q""".stripMargin
    },

    "q177_skew_audit" ->
      s"""WITH f AS (SELECT user_id AS k FROM events),
         |pk AS (SELECT k, count(*) AS c FROM f GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |               CAST(sum(c) AS BIGINT) AS n_rows,
         |               CAST(max(c) AS BIGINT) AS max_freq FROM pk),
         |ord AS (SELECT c, row_number() OVER (ORDER BY c, k) AS rn FROM pk),
         |p99 AS (SELECT CAST(c AS BIGINT) AS p99_freq
         |        FROM ord, tot WHERE rn = CAST(ceil(n_keys * 0.99) AS BIGINT)),
         |pp AS (SELECT ${Portable.hash32Sql(
             "'sk:' || CAST(k AS VARCHAR)")} % $SkewParts AS part,
         |              count(*) AS pc
         |       FROM f GROUP BY 1),
         |ps AS (SELECT CAST(max(pc) AS BIGINT) AS max_part_rows,
         |              CAST(count(*) AS BIGINT) AS n_parts_used FROM pp)
         |SELECT n_rows, n_keys, max_freq, p99_freq,
         |       ${Portable.snap6Sql(
             "CAST(max_freq * n_keys AS DOUBLE) / n_rows")} AS hot_key_ratio,
         |       n_parts_used, max_part_rows,
         |       ${Portable.snap6Sql(
             s"CAST(max_part_rows * $SkewParts AS DOUBLE) / n_rows")} AS part_skew
         |FROM tot, p99, ps""".stripMargin,

    "q182_chi2_select" -> {
      val e1 = "CAST(df AS DOUBLE) * ns / n"
      val e0 = "CAST(n - df AS DOUBLE) * ns / n"
      val t1 = s"CAST(floor(((o - $e1) * (o - $e1) / ($e1)) * 1000000.0)" +
        " AS BIGINT)"
      val t0 = s"CAST(floor((((ns - o) - $e0) * ((ns - o) - $e0) / ($e0))" +
        " * 1000000.0) AS BIGINT)"
      s"""WITH pres AS (
         |  SELECT DISTINCT doc_id, source, unnest(${TextPack.toksSql("text")}) AS tok
         |  FROM documents),
         |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
         |        FROM pres GROUP BY 1),
         |cand AS (
         |  SELECT tok, df FROM (
         |    SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS r
         |    FROM dft) WHERE r <= $Chi2Cand),
         |st AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
         |       FROM documents GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |obs AS (
         |  SELECT p.tok, p.source, CAST(count(*) AS BIGINT) AS o
         |  FROM pres p JOIN cand c ON c.tok = p.tok
         |  GROUP BY 1, 2),
         |grid AS (
         |  SELECT c.tok, c.df, st.source, st.ns, nd.n,
         |         coalesce(obs.o, 0) AS o
         |  FROM cand c CROSS JOIN st CROSS JOIN nd
         |  LEFT JOIN obs ON obs.tok = c.tok AND obs.source = st.source),
         |chi AS (
         |  SELECT tok, df,
         |         sum($t1 + CASE WHEN n > df THEN $t0 ELSE 0 END)
         |           AS chi2_e6
         |  FROM grid GROUP BY 1, 2)
         |SELECT rk, tok, df, CAST(chi2_e6 AS DOUBLE) / 1000000.0 AS chi2
         |FROM (
         |  SELECT tok, df, chi2_e6,
         |         CAST(row_number() OVER (ORDER BY chi2_e6 DESC, tok)
         |           AS INTEGER) AS rk
         |  FROM chi)
         |WHERE rk <= $Chi2Top ORDER BY rk""".stripMargin
    },

    "q184_gini_stump" -> {
      val gl = "1.0 - CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)" +
        " / CAST(nl * nl AS DOUBLE)"
      val gr = "1.0 - CAST((pt - pl) * (pt - pl)" +
        " + ((nt - nl) - (pt - pl)) * ((nt - nl) - (pt - pl)) AS DOUBLE)" +
        " / CAST((nt - nl) * (nt - nl) AS DOUBLE)"
      s"""WITH e AS (
         |  SELECT CAST(least(greatest(floor(value * 10), 0),
         |           ${StumpBins - 1}) AS BIGINT) AS bin,
         |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
         |  FROM events WHERE value IS NOT NULL),
         |per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(y) AS BIGINT) AS p
         |        FROM e GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |               CAST(sum(p) AS BIGINT) AS pt FROM per),
         |cum AS (
         |  SELECT bin, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS nl,
         |         CAST(sum(p) OVER (ORDER BY bin) AS BIGINT) AS pl
         |  FROM per),
         |scored AS (
         |  SELECT bin, nl, pl, nt, pt,
         |         CAST(floor((CAST(nl AS DOUBLE) * ($gl)
         |           + CAST(nt - nl AS DOUBLE) * ($gr))
         |           / CAST(nt AS DOUBLE) * 1000000.0) AS BIGINT) AS score_e6
         |  FROM cum CROSS JOIN tot WHERE nl < nt)
         |SELECT ${Portable.snap6Sql("CAST(bin + 1 AS DOUBLE) / 10.0")}
         |         AS threshold,
         |       nl AS n_left, pl AS pos_left,
         |       nt - nl AS n_right, pt - pl AS pos_right,
         |       CAST(score_e6 AS DOUBLE) / 1000000.0 AS gini
         |FROM (
         |  SELECT *, row_number() OVER (ORDER BY score_e6, bin) AS rk
         |  FROM scored)
         |WHERE rk = 1""".stripMargin
    }
  )
}
