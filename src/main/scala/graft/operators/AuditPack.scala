package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.functions.{Portable, TextFunctions => T}
import graft.sources.Tables

/** Warehouse-audit / reporting surface: pivoted cross-tabs, CUBE grouping
  * sets, single-pass column profiling, and robust (median/MAD) outlier
  * detection. These are the "describe the corpus before training on it"
  * queries a data pipeline runs on every ingest.
  *
  * Scale notes common to the pack: every query is one or two shuffles on
  * the natural grouping key; pivots use an EXPLICIT value list (a
  * `pivot(col)` without values runs a driver-side distinct job during plan
  * construction — the q45-TF-IDF mistake round 1 flagged); the profiler
  * computes all columns in one scan (no per-column passes).
  */
object AuditPack extends QueryPack {

  /** The closed event-type vocabulary of the events table. An explicit
    * list keeps the pivot plan construction job-free and the output schema
    * stable even when a scale factor is missing a type. */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Profiled numeric lineitem columns (one output row each). */
  val ProfileCols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Outlier gate: |x - median| > OutlierK * 1.4826 * MAD (the normal
    * consistency constant; 3-sigma-equivalent robust z-score). */
  val OutlierK = 3.0
  val MadConsistency = 1.4826

  /** Trailing-window length for the rolling anomaly score. */
  val RollN = 20

  /** Winsorization clip quantiles (q128). */
  val WinsorLo = 0.05
  val WinsorHi = 0.95

  /** Equi-depth bin count for the curriculum binning audit (q129). */
  val NBins = 10

  /** Outcome threshold (tokens) for the q217 calibration audit. */
  val EceMinToks = 50

  /** Fixed-width histogram bins for the mergeable-quantile audit (q144). */
  val HistBins = 32

  /** Coarse bins for the two-pass exact selection (q146) — pass 2 sorts
    * only ~N/KthBins rows. */
  val KthBins = 1024

  /** k-anonymity release gate and the sensitive-attribute bucket width
    * (chars) whose diversity is measured inside each cell (q151). */
  val AnonK = 3
  val SensBucketChars = 100L

  /** Privacy budget for the q157 DP histogram (Laplace b = 1/eps). */
  val DpEps = 1.0

  /** KS critical-value coefficient c(alpha) at alpha = 0.05 (q181). */
  val KsC05 = 1.358

  /** Poisson-bootstrap replicate count (q186). */
  val BootR = 32

  /** Cumulative Poisson(1) CDF at k = 0..7: a uniform u in [0,1) maps to
    * weight = #{thresholds < u} (inverse-CDF draw; P(w > 8) < 1e-5).
    * Literals are shared verbatim with the DuckDB twin so both engines
    * draw identical weights. */
  val PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999546000702375)

  /** Rater thresholds for the q193 agreement audit: quality cut at 0.45
    * and token-count cut at the sf0.01 median (56 ws tokens) so both
    * raters split the corpus near 50/50 — kappa is uninformative when one
    * rater accepts everything. */
  val KappaQualThr = 0.45
  val KappaTokThr = 56

  /** q194 snapshot-B mutations (simulated re-crawl): lang lost every 7th
    * doc, extraction pads n_chars by 40 every 5th doc. */
  val DriftLangNullMod = 7
  val DriftCharsPadMod = 5
  val DriftCharsPad = 40L

  /** q199 DP-mean release: clip ceiling for n_chars and the total privacy
    * budget (split evenly between the sum and count draws). */
  val DpMeanClip = 2000.0
  val DpMeanEps = 1.0

  /** q212 PSI: fixed-width bin size (chars) and the industry alert
    * thresholds (0.1 = drifting, 0.25 = major shift). Width 25 makes the
    * planted +40-char pad move most affected rows across a bin edge, so
    * the detector FIRES on the fixture (PSI ~0.2 at sf0.01). */
  val PsiBinWidth = 25L
  val PsiWarn = 0.1
  val PsiAlert = 0.25

  /** q227 split-conformal geometry: per-source two-pass selection bins
    * and the target coverage 1 − α = ConfCovNum/ConfCovDen (α = 0.2). */
  val ConfBins = 256
  val ConfCovNum = 4
  val ConfCovDen = 5

  /** A q153 foreign-key check: every `fact.key` must match some
    * `dim.dimKey`. */
  final case class RefFk(name: String, fact: String, key: String,
                         dim: String, dimKey: String)

  /** A q153 primary-key check: `keys` (one or two columns) are unique in
    * `table`. */
  final case class RefPk(name: String, table: String, keys: Seq[String])

  /** The star schema's constraints that q153 audits (query and oracle). */
  val RefFks: Seq[RefFk] = Seq(
    RefFk("fk_orders_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    RefFk("fk_lineitem_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    RefFk("fk_lineitem_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    RefFk("fk_lineitem_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    RefFk("fk_customer_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"))
  val RefPks: Seq[RefPk] = Seq(
    RefPk("pk_customer", "customer", Seq("c_custkey")),
    RefPk("pk_orders", "orders", Seq("o_orderkey")),
    RefPk("pk_lineitem", "lineitem", Seq("l_orderkey", "l_linenumber")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Split-conformal calibration, Mondrian (per-source) variant — the
    // distribution-free filter threshold a curation pipeline can attach
    // a finite-sample guarantee to: with calibration scores s_1..s_n and
    // q̂ = the ⌈(n+1)(1−α)⌉-th smallest, a fresh same-source doc exceeds
    // q̂ with probability ≤ α, NO distributional assumptions. Score =
    // |n_chars − calibration source mean| (exchangeable residual);
    // halves split by doc-id hash. The k-th smallest is the q146
    // two-pass histogram selection GENERALIZED PER GROUP: a 256-bin
    // histogram per source finds each covering bin (one agg + a window
    // over source×256 reduced rows), and only that bin's ~n/256 rows are
    // rank-sorted — no global or per-source full sort at any scale. A
    // calibration set smaller than k (tiny sources) yields q̂ = null =
    // +∞, the conformal convention: coverage trivially holds. Scores
    // ride e6-floored longs; reported coverage on the held-out half is
    // an exact integer ratio.
    "q227_conformal_threshold" -> ((s, dir) => {
      Governance.conformalThreshold(
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "source", "n_chars", ConfCovNum, ConfCovDen, ConfBins)
    }),

    // Cohen's kappa between two quality raters — the inter-annotator
    // agreement statistic a labeling pipeline reports before trusting a
    // heuristic rule as silver labels. Rater A: the shared quality-score
    // blend >= KappaQualThr; rater B: plain token-count >= KappaTokThr.
    // The whole statistic reduces to one scan + one 5-counter aggregate;
    // po, pe, kappa are ratios of exact integer products (kappa =
    // (n*(n11+n00) - peN) / (n*n - peN)), so the only float is the final
    // snap6 — order-free and cross-engine exact. Scale: a single
    // partial-aggregable pass, no shuffle beyond the 1-row agg.
    "q193_cohen_kappa" -> ((s, dir) => {
      val q = Portable.snap6(
        T.qualityScore(col("text"), TextPack.stopwords))
      val nToks = T.tokenStats(col("text")).getField("ws_tokens")
      val m = Tables.table(s, dir, "documents")
        .select((q >= KappaQualThr).as("ra"), (nToks >= KappaTokThr).as("rb"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("n00"))
      val peN = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
        (col("n01") + col("n00")) * (col("n10") + col("n00"))
      m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        Portable.snap6((col("n11") + col("n00")).cast("double") / col("n"))
          .as("po"),
        Portable.snap6(peN.cast("double") / (col("n") * col("n"))).as("pe"),
        when(col("n") * col("n") === peN, lit(null).cast("double"))
          .otherwise(Portable.snap6(
            (col("n") * (col("n11") + col("n00")) - peN).cast("double")
              / (col("n") * col("n") - peN).cast("double"))).as("kappa"))
    }),

    // Schema/profile drift between two snapshots — the structural audit a
    // recurring ingest runs BEFORE content-level drift tests (q145/q181
    // assume the columns still mean the same thing; this catches the
    // re-crawl that nulls a field or shifts a numeric distribution's
    // profile). Snapshot A = even doc ids; snapshot B = odd ids with the
    // simulated mutations above. ONE scan: each row explodes into
    // (column, value-as-string) pairs, then a single aggregate computes
    // per-column row/null/distinct counts for both sides (count_distinct
    // over a side-gated value — nulls drop out exactly like SQL). Drift
    // flags are pure integer comparisons (cross-multiplied rates), so the
    // row is engine-exact. Scale: one shuffle keyed on ~|columns| groups;
    // the per-side distinct uses the expand only over 3 column names, not
    // the corpus width.
    "q194_schema_drift" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .withColumn("side",
          when(col("doc_id") % 2 === 0, lit("a")).otherwise(lit("b")))
        .withColumn("lang2",
          when(col("side") === "b" && col("doc_id") % DriftLangNullMod === 0,
            lit(null).cast("string")).otherwise(col("lang")))
        .withColumn("nchars2",
          when(col("side") === "b" && col("doc_id") % DriftCharsPadMod === 0,
            col("n_chars") + DriftCharsPad).otherwise(col("n_chars")))
      val nullLong = lit(null).cast("long")
      val long = d.select(col("side"),
        explode(array(
          struct(lit("lang").as("cname"), col("lang2").cast("string").as("v"),
            nullLong.as("vn")),
          struct(lit("source").as("cname"), col("source").cast("string").as("v"),
            nullLong.as("vn")),
          struct(lit("n_chars").as("cname"), col("nchars2").cast("string").as("v"),
            col("nchars2").cast("long").as("vn"))))
          .as("kv"))
        .select(col("side"), col("kv.cname"), col("kv.v"), col("kv.vn"))
      def side(sd: String, c: Column) = when(col("side") === sd, c)
      long.groupBy("cname")
        .agg(sum(when(col("side") === "a", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("side") === "b", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("side") === "a" && col("v").isNull, 1L).otherwise(0L))
            .as("null_a"),
          sum(when(col("side") === "b" && col("v").isNull, 1L).otherwise(0L))
            .as("null_b"),
          count_distinct(side("a", col("v"))).as("distinct_a"),
          count_distinct(side("b", col("v"))).as("distinct_b"),
          count(side("a", col("vn"))).as("nn_a"),
          count(side("b", col("vn"))).as("nn_b"),
          coalesce(sum(side("a", col("vn"))), lit(0L)).as("sum_a"),
          coalesce(sum(side("b", col("vn"))), lit(0L)).as("sum_b"))
        // integer cross-multiplies: null-rate shift > 1% or distinct count
        // outside [1/2, 2]x — no float thresholds to disagree on
        .withColumn("null_drift",
          abs(col("null_a") * col("n_b") - col("null_b") * col("n_a")) * 100
            > col("n_a") * col("n_b"))
        .withColumn("distinct_drift",
          col("distinct_b") * 2 < col("distinct_a") ||
            col("distinct_b") > col("distinct_a") * 2)
        // numeric columns also watch the MEAN: a >1% relative shift of
        // sum/count between sides (exact integer cross-multiply; false
        // for non-numeric columns, whose vn is all-null)
        .withColumn("mean_drift",
          col("nn_a") > 0 && col("nn_b") > 0 && col("sum_a") > 0 &&
            abs(col("sum_a") * col("nn_b") - col("sum_b") * col("nn_a")) * 100
              > col("sum_a") * col("nn_b"))
        .drop("nn_a", "nn_b", "sum_a", "sum_b")
        .orderBy("cname")
    }),

    // Population Stability Index — THE production model-monitoring drift
    // score, complementing the family: q145 scores category composition
    // (KL/TV), q181 detects any CDF shift (KS), q194 flags per-column
    // profile deltas; PSI scores a numeric feature's BINNED histogram
    // shift in the units ops teams alert on (0.1 warn / 0.25 alert).
    // Same planted snapshot pair as q194, fixed-width bins (exact
    // integer bucketing — quantile cuts would need their own sync),
    // add-one smoothing so empty bins stay finite, per-bin terms rounded
    // then summed as DECIMAL (the q62 discipline: partition-order-free).
    // Mutual information between a metadata column (source) and the
    // quality bucket — the feature-relevance number that says whether a
    // metadata field is worth conditioning a filter on (complements
    // q182's chi2: MI is in bits and comparable across fields).
    // MI = Σ_cells p(s,b)·log2(p(s,b)/(p(s)p(b))), plus both marginal
    // entropies and the normalized MI/min(H) coefficient. Counts are
    // exact integers; each cell/marginal term snaps to 1e-6 DECIMAL
    // before the sum (the q212 PSI pattern), so the result is
    // partition-order-free. Cost: one groupBy on (source, bucket) —
    // cells are vocabulary-sized — and two marginal rollups OF the cell
    // table, never a second corpus scan.
    "q222_mutual_info" -> ((s, dir) => {
      val q = round(Selection.qualityLogit(col("text"), TextPack.stopwords), 6)
      val cells = Tables.table(s, dir, "documents")
        .select(col("source"),
          least(lit(9), floor(q * 10)).cast("int").as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as("c"))
        // EAGER: the marginals and `tot` reach this frame through
        // broadcast exchanges that materialize on concurrent threads — a
        // lazy checkpoint let them race to recompute the qualityLogit
        // corpus scan before any block persisted, which is exactly the
        // warm>cold nondeterminism VERDICT r6 flagged (task 3). One
        // up-front job computes the vocabulary-sized cell table once.
        .localCheckpoint(true) // feeds both marginals + the MI terms
      val ms = cells.groupBy("source").agg(sum("c").as("cs"))
      val mb = cells.groupBy("bucket").agg(sum("c").as("cb"))
      val tot = cells.agg(sum("c").as("n"), count(lit(1)).as("n_cells"))
      def entBits(counts: DataFrame, cnt: String) = counts
        .crossJoin(broadcast(tot))
        .select(Portable.snap6(-(col(cnt).cast("double") / col("n"))
          * log(2.0, col(cnt).cast("double") / col("n"))).as("t"))
        .agg(sum(col("t").cast("decimal(20,6)")).cast("double").as("h"))
      val mi = cells.join(ms, "source").join(mb, "bucket")
        .crossJoin(broadcast(tot))
        .select(Portable.snap6((col("c").cast("double") / col("n")) *
          log(2.0, col("c").cast("double") * col("n").cast("double")
            / (col("cs").cast("double") * col("cb").cast("double")))).as("t"))
        .agg(sum(col("t").cast("decimal(20,6)")).cast("double").as("mi"))
      mi.crossJoin(broadcast(entBits(ms, "cs").withColumnRenamed("h", "hs")))
        .crossJoin(broadcast(entBits(mb, "cb").withColumnRenamed("h", "hb")))
        .crossJoin(broadcast(tot.select(col("n_cells"))))
        .select(col("n_cells"),
          Portable.snap6(col("mi")).as("mi_bits"),
          Portable.snap6(col("hs")).as("h_source_bits"),
          Portable.snap6(col("hb")).as("h_bucket_bits"),
          Portable.snap6(col("mi") / least(col("hs"), col("hb"))).as("nmi"))
    }),

    "q212_psi_drift" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .withColumn("side",
          when(col("doc_id") % 2 === 0, lit("a")).otherwise(lit("b")))
        .withColumn("nchars2",
          when(col("side") === "b" && col("doc_id") % DriftCharsPadMod === 0,
            col("n_chars") + DriftCharsPad).otherwise(col("n_chars")))
        // explicit floor: a bare cast would truncate in Spark but ROUND
        // in DuckDB's double->bigint cast
        .select(col("side"),
          floor(col("nchars2") / PsiBinWidth).cast("long").as("bin"))
      val per = d.groupBy("bin").agg(
        sum(when(col("side") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === "b", 1L).otherwise(0L)).as("cb"))
      val tot = per.agg(sum("ca").as("na"), sum("cb").as("nb"),
        count(lit(1)).as("k"))
      val terms = per.crossJoin(broadcast(tot))
        .select(col("bin"),
          // add-one smoothing: (c + 1) / (n + k) keeps empty bins finite
          ((col("ca") + 1).cast("double") / (col("na") + col("k"))).as("pa"),
          ((col("cb") + 1).cast("double") / (col("nb") + col("k"))).as("pb"))
        .select(col("bin"),
          Portable.snap6((col("pa") - col("pb"))
            * log(col("pa") / col("pb"))).as("term"))
      terms.agg(
          count(lit(1)).as("n_bins"),
          sum(col("term").cast("decimal(20,6)")).cast("double").as("psi"))
        .select(col("n_bins"), Portable.snap6(col("psi")).as("psi"),
          (col("psi") >= PsiWarn).as("drifting"),
          (col("psi") >= PsiAlert).as("major_shift"))
    }),

    // Differentially-private per-source MEAN document length — the
    // companion release to q157's DP counts: counts alone leak nothing
    // about content; a mean needs clipping (sensitivity control) and TWO
    // noisy aggregates (sum and count) sharing the budget. n_true rides
    // along as the calibration audit; the released artifact drops it.
    "q199_group_dp_mean" -> ((s, dir) => {
      Governance.dpMean(Tables.table(s, dir, "documents"),
          "source", "n_chars", DpMeanClip, DpMeanEps)
        .select(col("grp").as("source"), col("n_true"), col("dp_mean"),
          lit(DpMeanEps).as("eps"))
        .orderBy("source")
    }),

    // Referential-integrity + key-constraint audit: every FK edge of the
    // star schema (violations = fact rows whose key has no dimension row;
    // a NULL fact key is a violation, a NULL dimension key matches
    // nothing) and every PK as a duplicate count — one audit row per
    // constraint. This is the "can I trust the joins" gate a pipeline runs
    // before training-set assembly.
    //
    // Scale shape: ONE column-pruned scan per table (lineitem takes part
    // in four checks and is read once, not seven times). Each table row
    // emits one tall (check_name, side, k1, k2) row per check it takes
    // part in; one partially aggregated groupBy(check_name, k1, k2)
    // counts each key's fact, dimension and PK rows — the shuffle that
    // replaces the five broadcast anti-joins — and a groupBy(check_name)
    // of those per-key counts yields the audit row. One "none" row per
    // check keeps all eight rows when a table is empty.
    "q153_ref_integrity" -> ((s, dir) => {
      def tall(keys: Seq[(String, String, Column, Column)]): Column =
        inline(array(keys.map { case (check, side, k1, k2) =>
          struct(lit(check).as("check_name"), lit(side).as("side"),
            k1.cast("long").as("k1"), k2.cast("long").as("k2"))
        }: _*))
      val noKey = lit(null)
      val tables = (RefFks.flatMap(f => Seq(f.fact, f.dim)) ++
        RefPks.map(_.table)).distinct
      val scans = tables.map { t =>
        Tables.table(s, dir, t).select(tall(
          RefFks.filter(_.fact == t).map(f =>
            (f.name, "fact", col(f.key), noKey)) ++
          RefFks.filter(_.dim == t).map(f =>
            (f.name, "dim", col(f.dimKey), noKey)) ++
          RefPks.filter(_.table == t).map(p =>
            (p.name, "pk", col(p.keys.head),
              p.keys.lift(1).map(col).getOrElse(noKey)))))
      }
      val none = s.range(1).select(tall(
        (RefFks.map(_.name) ++ RefPks.map(_.name))
          .map(c => (c, "none", noKey, noKey))))
      def rowsOf(side: String) = count(when(col("side") === side, 1))
      (scans :+ none).reduce(_ unionAll _)
        .groupBy(col("check_name"), col("k1"), col("k2"))
        .agg(rowsOf("fact").as("nf"), rowsOf("dim").as("nd"),
          rowsOf("pk").as("np"))
        .groupBy(col("check_name"))
        .agg(sum(col("nf") + col("np")).as("n_checked"),
          sum(when(col("np") > 1, col("np"))
            .when(col("nd") === 0 || col("k1").isNull, col("nf"))
            .otherwise(0L)).as("n_violations"))
        .select(col("check_name"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0).as("ok"))
        .orderBy("check_name")
    }),

    // Cross-tab: per user segment, total event value by type. The pivot is
    // a single groupBy shuffle producing one column per type; missing
    // (segment, type) combinations stay NULL in both engines.
    "q101_pivot_events" -> ((s, dir) => {
      Tables.table(s, dir, "events")
        .withColumn("segment", col("user_id") % 10)
        .groupBy("segment")
        .pivot("event_type", EventTypes)
        .agg(round(sum(col("value")), 6))
        .orderBy("segment")
    }),

    // CUBE over (lang, source): all four grouping sets in one pass, with
    // grouping_id disambiguating rolled-up NULLs from data NULLs. One
    // shuffle; Spark expands the cube map-side.
    "q102_cube_docs" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"))
        .select("lang", "source", "gid", "n_docs", "chars")
        .orderBy(col("gid"), col("lang"), col("source"))
    }),

    // Column profiler: non-null count, exact NDV, min/max/mean for every
    // profiled column in ONE scan (a single multi-aggregate — Spark plans
    // the distinct aggregates via Expand), then unpivoted to one row per
    // column. The shape a 100 TB profile job needs: columns scale the
    // plan, not the number of passes over the data.
    "q104_profile" -> ((s, dir) => {
      val li = Tables.table(s, dir, "lineitem")
      // Per-column union instead of one Expand×5 multi-distinct aggregate
      // (guide §1.2 step 2): the Expand form materializes 5 copies of
      // every scanned row into a wide-keyed hash aggregate; here each
      // column gets its own pruned single-column scan (parquet reads the
      // same total bytes) + one narrow groupBy(value) from which n, ndv,
      // min, max and the mean all derive. The mean is EXACT-integer: all
      // four profiled columns are exact multiples of 0.01, so Σ cents is a
      // lossless BIGINT and cents/100.0/n is the true mean to 1 ulp —
      // bit-stable under any partitioning, unlike a float Σ. Oracle
      // hashes unchanged (proof: round6(float avg) == round6(cents avg)
      // checked engine-side at sf0.001/0.01/0.1 before the switch). The
      // same aggregate checks the cents property on every distinct value
      // and raises an error when it fails, rather than report a mean that
      // silently dropped sub-cent digits. Empty input reports
      // n_nonnull = 0, as count() does.
      ProfileCols.map { c =>
        val cents = col("v") * 100
        li.select(col(c).as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
          .agg(
            coalesce(sum(when(col("v").isNotNull, col("cnt")).otherwise(0L)),
              lit(0L)).as("n"),
            count(col("v")).as("ndv"),
            round(min(col("v")), 6).as("min_v"),
            round(max(col("v")), 6).as("max_v"),
            (sum(when(col("v").isNotNull,
              round(cents, 0).cast("long") * col("cnt")))
              .cast("double") / 100.0 /
              sum(when(col("v").isNotNull, col("cnt")))).as("avg_raw"),
            max(abs(cents - round(cents, 0))).as("cents_off"))
          .select(lit(c).as("col_name"), col("n").as("n_nonnull"),
            col("ndv"), col("min_v"), col("max_v"),
            when(col("cents_off") >= 1e-9, raise_error(lit(
              s"q104_profile: $c holds a value that is not a whole number " +
                "of cents, so its exact-cents mean would be wrong")))
              .otherwise(round(col("avg_raw"), 6)).as("avg_v"))
      }.reduce(_ unionAll _)
        .orderBy("col_name")
    }),

    // Per-source vocabulary audit: Shannon entropy of the token
    // distribution + type-token ratio — the templated-content detector (a
    // boilerplate-heavy source has low entropy and low TTR for its size).
    // Two aggregations on (source, token) then source; probabilities are
    // exact long/long ratios, so only the ~vocabulary-sized entropy sum
    // carries float error (1e-16 against a 1e-6 output grid).
    "q115_source_entropy" -> ((s, dir) => {
      val tf = Tables.table(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      val tot = tf.groupBy("source")
        .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("n_types"))
      tf.join(tot, "source")
        .withColumn("p", col("cnt").cast("double") / col("n_tokens"))
        .groupBy("source", "n_tokens", "n_types")
        .agg(round(-sum(col("p") * log(col("p"))), 6).as("entropy"))
        .withColumn("ttr",
          round(col("n_types").cast("double") / col("n_tokens"), 6))
        .select("source", "n_tokens", "n_types", "entropy", "ttr")
        .orderBy("source")
    }),

    // Rolling-window anomaly detection: per event type, each value is
    // z-scored against the trailing 20 events (mean + sample stddev over a
    // ROWS frame that EXCLUDES the current row). The moment arithmetic
    // runs on integer cents — value snapped to 1e-2 fixed point — so the
    // windowed sums are exact integers in both engines regardless of how
    // the frame is accumulated (Spark iterates the frame, DuckDB uses a
    // segment tree: float sums would differ in the last ulp, integer sums
    // cannot). One window per type partition; output is one audit row per
    // type.
    "q112_rolling_anomaly" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-RollN, -1)
      val stats = Tables.table(s, dir, "events")
        .select(col("event_type"), col("ts"), col("event_id"), col("value"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .withColumn("n_w", count(col("cents")).over(w))
        .withColumn("s_w", sum(col("cents")).over(w))
        .withColumn("ss_w", sum(col("cents") * col("cents")).over(w))
        .filter(col("n_w") === RollN)
        .withColumn("mean_w", col("s_w").cast("double") / (RollN * 100.0))
        .withColumn("var_c",
          (col("ss_w").cast("double") -
            col("s_w").cast("double") * col("s_w").cast("double") / RollN)
            / (RollN - 1))
        .withColumn("sd_w", sqrt(col("var_c")) / 100.0)
        .withColumn("z",
          when(col("sd_w") === 0.0, lit(null))
            .otherwise((col("value") - col("mean_w")) / col("sd_w")))
      stats.groupBy("event_type")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_anomalies"),
          round(max(abs(col("z"))), 6).as("max_abs_z"))
        .orderBy("event_type")
    }),

    // Robust outlier detection: per event type, median + MAD (median
    // absolute deviation) and the count of values beyond the 3-sigma-
    // equivalent robust z-score. Medians are EXACT percentiles snapped to
    // 9 decimals before reuse so the two engines' interpolation agrees
    // bit-for-bit downstream; the deviation compare then runs on
    // identical doubles in both engines. Two grouped percentile passes +
    // one count — all shuffles on event_type.
    "q107_mad_outliers" -> ((s, dir) => {
      val ev = Tables.table(s, dir, "events").select("event_type", "value")
      val med = ev.groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 9).as("med"))
      val dev = ev.join(med, "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type", "med")
        .agg(round(expr("percentile(adev, 0.5)"), 9).as("mad"))
      dev.drop("med").join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(count(lit(1)).as("n"),
          sum(when(col("adev") > lit(OutlierK * MadConsistency) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(col("event_type"), col("n"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          col("n_outliers"))
        .orderBy("event_type")
    }),

    // Winsorized mean: per market segment, account balances clipped to
    // the segment's [p5, p95] before averaging — the robust central
    // tendency a profiler reports next to the raw mean. Quantiles are
    // exact-interpolated and snapped to 9 decimals before reuse (the
    // q107 convention); the clipped mean then runs on integer cents so
    // the grouped sum is order-exact.
    "q128_winsorize" -> ((s, dir) => {
      val c = Tables.table(s, dir, "customer")
        .select("c_mktsegment", "c_acctbal")
      // one percentile buffer for both cut points (array form), not two
      val cuts = c.groupBy("c_mktsegment")
        .agg(expr(
          s"percentile(c_acctbal, array(${WinsorLo}D, ${WinsorHi}D))").as("_c"))
        .select(col("c_mktsegment"),
          round(col("_c")(0), 9).as("lo"), round(col("_c")(1), 9).as("hi"))
      c.join(cuts, "c_mktsegment")
        .withColumn("w", least(greatest(col("c_acctbal"), col("lo")), col("hi")))
        .groupBy("c_mktsegment", "lo", "hi")
        .agg(count(lit(1)).as("n"),
          sum(when(col("c_acctbal") < col("lo") or
            col("c_acctbal") > col("hi"), 1L).otherwise(0L)).as("n_clipped"),
          sum(round(col("w") * 100, 0).cast("long")).as("cents"))
        .select(col("c_mktsegment"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
          col("n"), col("n_clipped"),
          round(col("cents").cast("double") / (col("n") * 100), 6)
            .as("wmean"))
        .orderBy("c_mktsegment")
    }),

    // Equi-depth curriculum binning WITHOUT a total sort: the "rank the
    // corpus by difficulty proxy, feed in bins" step, computed from the
    // length HISTOGRAM. One mergeable groupBy(n_chars) reduces 100 TB to
    // |distinct lengths| rows; the only unpartitioned window (cumulative
    // count) runs over that reduced histogram, and every per-bin
    // aggregate falls out of integer interval arithmetic: a length v
    // with c docs before it and m docs of it occupies ranks
    // (c, c+m], ntile(N)'s bucket b covers ranks
    // (B_{b-1}, B_b] with B_b = b·⌊n/N⌋ + min(b, n mod N), and the
    // overlap of the two intervals is that (v, b)'s doc count. Docs tied
    // on n_chars are interchangeable for count/min/max/char-mass, so the
    // output is bit-identical to the rank-order ntile (the oracle keeps
    // the ntile SQL; NtileAuditSpec pins plan-vs-ntile equality at small
    // sf) — but the physical plan has no full-table window and no skew
    // wider than a length histogram.
    "q129_quantile_bins" -> ((s, dir) => {
      val h = Tables.table(s, dir, "documents")
        .groupBy("n_chars").agg(count(lit(1)).as("m"))
      val wCum = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
      h.withColumn("c", coalesce(sum("m").over(wCum), lit(0L)))
        .crossJoin(broadcast(h.groupBy().agg(sum("m").as("n"))))
        .withColumn("b", explode(sequence(lit(1), lit(NBins))))
        .withColumn("lo", expr(
          s"(b - 1) * (n DIV $NBins) + least(CAST(b - 1 AS BIGINT), n % $NBins)"))
        .withColumn("hi", expr(
          s"b * (n DIV $NBins) + least(CAST(b AS BIGINT), n % $NBins)"))
        .withColumn("ov",
          greatest(lit(0L),
            least(col("c") + col("m"), col("hi")) -
              greatest(col("c"), col("lo"))))
        .filter(col("ov") > 0)
        .groupBy(col("b").cast("long").as("bin"))
        .agg(sum("ov").as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
          sum(col("ov") * col("n_chars")).as("chars"))
        .orderBy("bin")
    }),

    // Expected-calibration-error audit of the quality classifier: the
    // pinned-weight quality logit (q75's scorer) is treated as a
    // predicted probability and checked against an INDEPENDENT outcome
    // (the doc clears the token-count floor) in 10 equal-width
    // confidence bins — conf_bar vs empirical accuracy per bin, and
    // ECE = Σ n_b/N · |acc_b − conf_b| as the headline number every
    // reward/quality-model card reports. Float-order safety: per-bin
    // confidences sum as 1e-6 micro-longs, per-bin gaps are floored to
    // micro-longs before the ECE sum, so every aggregation is integer
    // and the result is partition-order-free. One groupBy on 10 bins
    // (map-side partials), one broadcast of the 1-row total.
    "q217_calibration_ece" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .select(
          round(Selection.qualityLogit(col("text"), TextPack.stopwords), 6)
            .as("conf"),
          (size(T.tokens(col("text"))) >= EceMinToks).as("y"))
      val b = d
        .withColumn("bin", least(lit(9), floor(col("conf") * 10)).cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("conf") * 1e6).cast("long")).as("cm"),
          sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
        .withColumn("conf_bar",
          col("cm").cast("double") / (col("n").cast("double") * lit(1e6)))
        .withColumn("acc", col("pos").cast("double") / col("n").cast("double"))
        .withColumn("gm",
          floor(abs(col("acc") - col("conf_bar")) * 1e6).cast("long"))
      val tot = b.agg(sum(col("n")).as("nt"),
        sum(col("n") * col("gm")).as("gsum"))
      b.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"),
          Portable.snap6(col("conf_bar")).as("conf"),
          Portable.snap6(col("acc")).as("acc"),
          Portable.snap6(col("gm").cast("double") / lit(1e6)).as("gap"),
          Portable.snap6(col("gsum").cast("double") /
            (col("nt").cast("double") * lit(1e6))).as("ece"))
        .orderBy("bin")
    }),

    // Mergeable-histogram quantiles: per-group fixed-width integer
    // histograms (the stored profile) summed into a global histogram —
    // the MERGE an exact percentile cannot do without rescanning — then
    // the median estimated by linear interpolation inside the covering
    // bin. Every histogram count and bin edge is an exact integer, so
    // the interpolated estimate is the identical double in both engines;
    // the exact median rides along and the estimate must land within one
    // bin width of it.
    "q144_hist_quantiles" -> ((s, dir) => {
      val li = Tables.table(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("c"))
      // ONE global aggregate (min/max/count/median in a single scan) feeds
      // both the binning bounds and the exact-median reference — this was
      // two separate full scans of li (bounds, then total+exact_med).
      val bounds = li.agg(min("c").as("lo"), max("c").as("hi"),
        count(lit(1)).as("total"),
        round(expr("percentile(c, 0.5)"), 9).as("exact_med"))
        .localCheckpoint() // 1 row, two differently-projected broadcast
        // consumers below — the pin stops each from re-running the scan
      val binned = li.crossJoin(broadcast(bounds.select("lo", "hi")))
        .withColumn("bin",
          expr(s"least(${HistBins - 1}, ((c - lo) * $HistBins) DIV (hi - lo + 1))"))
      // per-group histograms, then the global merge (sum of counts)
      val perGroup = binned.groupBy("l_returnflag", "bin")
        .agg(count(lit(1)).as("n"))
      val global = perGroup.groupBy("bin").agg(sum("n").as("n"))
      val w = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
      val est = global.crossJoin(broadcast(bounds))
        .withColumn("cum_before", coalesce(sum("n").over(w), lit(0L)))
        .withColumn("k", expr("(total + 1) DIV 2"))
        .filter(col("cum_before") < col("k") &&
          col("cum_before") + col("n") >= col("k"))
        .withColumn("width",
          (col("hi") - col("lo") + 1).cast("double") / HistBins)
        .withColumn("est_med",
          col("lo") + col("bin") * col("width") +
            col("width") * (col("k") - col("cum_before")).cast("double")
              / col("n"))
      est.select(col("total").as("n"),
        round(col("exact_med") / 100, 6).as("exact_median"),
        round(col("est_med") / 100, 6).as("est_median"),
        (abs(col("est_med") - col("exact_med")) <= col("width"))
          .as("within_bin"))
    }),

    // Distribution drift between corpus snapshots: KL(current ‖ previous)
    // and total variation over the source mix — the ingest monitor that
    // pages when a crawl's composition shifts. The "previous" snapshot is
    // derived deterministically (every 17th doc absent). Probabilities
    // are exact count rationals; each KL/TV term is rounded to 1e-9
    // units and summed as INTEGERS, so the grouped sums are order-exact
    // (the established micro-unit pattern for float reductions).
    "q145_mix_drift" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents").select("doc_id", "source")
      val cur = d.groupBy("source").agg(count(lit(1)).as("na"))
      val prev = d.filter(col("doc_id") % 17 =!= 3)
        .groupBy("source").agg(count(lit(1)).as("nb"))
      val tot = cur.agg(sum("na").as("ta"))
        .crossJoin(prev.agg(sum("nb").as("tb")))
      val terms = cur.join(prev, "source").crossJoin(broadcast(tot))
        .withColumn("p", col("na").cast("double") / col("ta"))
        .withColumn("q", col("nb").cast("double") / col("tb"))
        .withColumn("kl_u",
          round(col("p") * log(col("p") / col("q")) * 1e9, 0).cast("long"))
        .withColumn("tv_u",
          round(abs(col("p") - col("q")) * 1e9, 0).cast("long"))
      terms.agg(count(lit(1)).as("n_sources"),
        round(sum(col("kl_u")).cast("double") / 1e9, 6).as("kl"),
        round(sum(col("tv_u")).cast("double") / 2e9, 6).as("tv"))
    }),

    // EXACT k-th element (lower median) by two-pass selection — the
    // 100 TB exact-quantile algorithm: Spark's percentile() holds every
    // group value in executor memory and a global sort shuffles the
    // world; instead pass 1 builds a 1024-bin integer histogram (one
    // agg), identifies the single bin containing rank k, and pass 2
    // ranks only that bin's ~N/1024 rows. Fully relational (the
    // covering-bin row rides a broadcast, no driver round-trip).
    "q146_exact_kth" -> ((s, dir) => {
      val c = Tables.table(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100, 0).cast("long").as("c"))
      val bounds = c.agg(min("c").as("lo"), max("c").as("hi"))
      val binned = c.crossJoin(broadcast(bounds))
        .withColumn("bin",
          expr(s"least(${KthBins - 1}, ((c - lo) * $KthBins) DIV (hi - lo + 1))"))
        .select("c", "bin")
      val wc = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
      val covering = binned.groupBy("bin").agg(count(lit(1)).as("n"))
        .withColumn("cum_before", coalesce(sum("n").over(wc), lit(0L)))
        .crossJoin(binned.agg(count(lit(1)).as("total")))
        .withColumn("k", expr("(total + 1) DIV 2"))
        .filter(col("cum_before") < col("k") &&
          col("cum_before") + col("n") >= col("k"))
        .select(col("bin").as("cover_bin"), col("cum_before"),
          col("k"), col("total"))
      val wr = Window.partitionBy("bin").orderBy("c")
      binned.join(broadcast(covering), col("bin") === col("cover_bin"))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") === col("k") - col("cum_before"))
        .select(col("total").as("n"), col("c").as("kth_cents"))
    }),

    // k-anonymity release audit over the (lang, source) quasi-identifier
    // with a one-step generalization ladder (drop source, then full
    // suppression) and per-cell l-diversity of the length bucket. The
    // coarser levels re-aggregate level-0 partials — corpus scanned once.
    "q151_k_anonymity" -> ((s, dir) => {
      Governance.kAnonymity(Tables.table(s, dir, "documents"),
          "lang", "source", expr(s"n_chars DIV $SensBucketChars"), AnonK)
        .orderBy("qi_coarse", "qi_fine")
    }),

    // Differentially-private histogram release (seeded Laplace
    // mechanism): the per-source document counts as a privacy-budgeted
    // artifact. n_true rides along as the calibration audit — the
    // released file drops it. eps = DpEps, sensitivity 1 (one document
    // moves one count).
    "q157_dp_histogram" -> ((s, dir) => {
      Governance.dpCounts(Tables.table(s, dir, "documents"),
          "source", DpEps)
        .select(col("grp").as("source"), col("n_true"),
          col("noisy_count"), lit(DpEps).as("eps"))
        .orderBy("source")
    }),

    // Two-sample Kolmogorov-Smirnov drift test on the document-length
    // distribution — the CDF-level drift detector (q145's KL/TV sees
    // only category composition; KS catches a SHIFT inside one numeric
    // column, e.g. a re-crawl that truncates pages). Samples: even vs
    // odd doc ids. The sup-distance is computed entirely in integers:
    // at each distinct value, |F_A - F_B| * n_a * n_b =
    // |cum_a * n_b - cum_b * n_a| (exact), so the max is order-free and
    // cross-engine; only the final ratio and the critical value
    // c(0.05) * sqrt((n_a+n_b)/(n_a*n_b)) touch doubles. Scale shape:
    // one count-shuffle on the VALUE (distinct lengths, not rows), one
    // window over that small table; totals ride a 1-row broadcast, no
    // driver action.
    "q181_ks_drift" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .select(octet_length(col("text")).cast("long").as("v"),
          (col("doc_id") % 2 === 0).as("in_a"))
      val per = d.groupBy("v").agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("cb"))
      val tot = per.agg(sum("ca").as("na"), sum("cb").as("nb"))
      val w = Window.orderBy("v")
      val dnum = per
        .withColumn("cum_a", sum(col("ca")).over(w))
        .withColumn("cum_b", sum(col("cb")).over(w))
        .crossJoin(broadcast(tot))
        .groupBy("na", "nb")
        .agg(max(abs(col("cum_a") * col("nb") - col("cum_b") * col("na")))
          .as("dn"))
      dnum.select(col("na"), col("nb"),
          Portable.snap6(col("dn").cast("double")
            / (col("na") * col("nb")).cast("double")).as("d_stat"),
          Portable.snap6(lit(KsC05) * sqrt((col("na") + col("nb"))
            .cast("double") / (col("na") * col("nb")).cast("double")))
            .as("d_crit"))
        .withColumn("same_dist", col("d_stat") <= col("d_crit"))
    }),

    // Poisson-bootstrap confidence interval for the mean document
    // length — THE web-scale bootstrap: classic resampling needs n draws
    // per replicate coordinated globally, while Poisson(1) weights are
    // independent per (row, replicate), so all R replicates ride ONE
    // scan with an explode(R) and aggregate as weighted sums — no
    // sampling state, no second pass. Weights come from the inverse
    // Poisson CDF over the portable uniform hash (thresholds are shared
    // literals), so both engines draw identical weights. Per replicate,
    // mean = floor-quantized Sum(w*x)/Sum(w); the CI is the 2nd/31st of
    // the 32 sorted replicate means (~95%). Scale: R x one pass, partial
    // aggregation per replicate — the shuffle carries 32 rows.
    "q186_bootstrap_ci" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("x"))
      val rep = d.withColumn("r",
          explode(sequence(lit(0), lit(BootR - 1))))
        .withColumn("u", (Portable.hash32(concat(lit("bs"),
          col("r").cast("string"), lit(":"), col("doc_id").cast("string")))
          .cast("double") + lit(0.5)) / lit(4294967296.0))
        .withColumn("w", PoissonCdf.foldLeft(lit(0L)) { (acc, t) =>
          acc + when(col("u") > lit(t), 1L).otherwise(0L)
        })
      val means = rep.groupBy("r")
        .agg(floor(sum(col("w") * col("x")).cast("double") * lit(1e6)
          / sum(col("w")).cast("double")).cast("long").as("m_e6"))
      val ranked = means.select(col("m_e6"),
        row_number().over(Window.orderBy(col("m_e6"), col("r"))).as("rk"))
      val point = d.agg(count(lit(1)).as("n_docs"),
        Portable.snap6(sum(col("x")).cast("double")
          / count(lit(1)).cast("double")).as("mean_len"))
      point
        .crossJoin(broadcast(ranked.filter(col("rk") === 2)
          .select((col("m_e6").cast("double") / 1e6).as("ci_lo"))))
        .crossJoin(broadcast(ranked.filter(col("rk") === BootR - 1)
          .select((col("m_e6").cast("double") / 1e6).as("ci_hi"))))
        .select(col("n_docs"), col("mean_len"), col("ci_lo"), col("ci_hi"),
          lit(BootR).as("n_replicates"))
    }),

    // Dataset card: the one-page release report a corpus ships with —
    // volume, vocabulary-free token count, source/language composition,
    // duplication, length distribution, ASCII share — as a tall
    // (metric, value) table so downstream diffing is a 2-column join.
    // Three scans total: the base multi-aggregate (Expand handles the
    // two distinct aggs in one pass), the token-count scan, and the
    // lang-composition aggregate whose entropy terms quantize to 1e-9
    // longs before summation (q145's discipline). Nothing here is a
    // driver-side action; the card is ONE plan a scheduler can run
    // nightly at any scale.
    "q188_dataset_card" -> ((s, dir) => {
      import graft.functions.{TextFunctions => T}
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(octet_length(col("text")).cast("long")).as("len_sum"),
        round(expr("percentile(octet_length(text), 0.5)"), 4).as("len_p50"),
        sum(when(length(col("text")) === octet_length(col("text")), 1L)
          .otherwise(0L)).as("n_ascii"),
        countDistinct(md5(col("text"))).as("n_distinct"))
      val toks = d.select(size(T.tokens(col("text"))).cast("long").as("nt"))
        .agg(sum("nt").as("n_tokens"))
      val p = col("nl").cast("double") / col("n")
      val langEnt = d.groupBy("lang").agg(count(lit(1)).as("nl"))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("n"))))
        .select(round(p * log(p) * lit(-1e9), 0).cast("long").as("t"))
        .agg(sum(col("t")).as("ent_e9"))
      def m(name: String, v: org.apache.spark.sql.Column) =
        struct(lit(name).as("metric"), v.as("value"))
      mkCard(base, toks, langEnt, m)
    }),

    // Welch two-sample t-test on mean document length, even vs odd doc
    // ids — the parametric complement of q181's KS (KS sees any CDF
    // difference; the t-test prices a MEAN shift with a dof-adjusted
    // scale). Every moment (n, Σx, Σx²) is an exact integer from one
    // scan; means/variances/t/dof are derived from those six integers
    // with identical expression trees in both engines, so the doubles
    // agree bit-for-bit before the 1e-6 snap. Gate: |t| <= 1.96.
    "q190_welch_ttest" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .select(octet_length(col("text")).cast("long").as("x"),
          (col("doc_id") % 2 === 0).as("in_a"))
      val moments = d.agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
        sum(when(col("in_a"), col("x")).otherwise(0L)).as("sa"),
        sum(when(col("in_a"), col("x") * col("x")).otherwise(0L)).as("ssa"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("in_a"), col("x")).otherwise(0L)).as("sb"),
        sum(when(!col("in_a"), col("x") * col("x")).otherwise(0L)).as("ssb"))
      val na = col("na").cast("double")
      val nb = col("nb").cast("double")
      val ma = col("sa").cast("double") / na
      val mb = col("sb").cast("double") / nb
      val va = (col("ssa").cast("double") - col("sa").cast("double")
        * col("sa") / na) / (na - lit(1.0))
      val vb = (col("ssb").cast("double") - col("sb").cast("double")
        * col("sb") / nb) / (nb - lit(1.0))
      val se2 = va / na + vb / nb
      val t = (ma - mb) / sqrt(se2)
      val dof = se2 * se2 /
        (va / na * (va / na) / (na - lit(1.0))
          + vb / nb * (vb / nb) / (nb - lit(1.0)))
      moments.select(col("na"), col("nb"),
        Portable.snap6(ma).as("mean_a"), Portable.snap6(mb).as("mean_b"),
        Portable.snap6(t).as("t_stat"), Portable.snap6(dof).as("dof"),
        (abs(Portable.snap6(t)) <= lit(1.96)).as("same_mean"))
    })
  )

  /** q188 card assembly (split out so the query literal stays readable). */
  private def mkCard(base: DataFrame, toks: DataFrame, langEnt: DataFrame,
      m: (String, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): DataFrame = {
      base.crossJoin(toks).crossJoin(langEnt)
        .select(explode(array(
          m("n_docs", col("n_docs").cast("double")),
          m("n_tokens", col("n_tokens").cast("double")),
          m("n_sources", col("n_sources").cast("double")),
          m("dup_rate", Portable.snap6(lit(1.0)
            - col("n_distinct").cast("double") / col("n_docs"))),
          m("lang_entropy",
            Portable.snap6(col("ent_e9").cast("double") / lit(1e9))),
          m("len_mean", Portable.snap6(
            col("len_sum").cast("double") / col("n_docs"))),
          m("len_p50", col("len_p50")),
          m("pct_ascii", Portable.snap6(
            col("n_ascii").cast("double") / col("n_docs")))
        )).as("card"))
        .select(col("card.metric").as("metric"), col("card.value").as("value"))
        .orderBy("metric")
  }

  def oracles: Map[String, String] = Map(

    "q227_conformal_threshold" -> {
      val isCal = s"(${Portable.hash32Sql(
        "'cf:' || CAST(doc_id AS VARCHAR)")} % 2 = 0)"
      s"""WITH d AS (SELECT doc_id, source, n_chars, $isCal AS is_cal
         |           FROM documents),
         |m AS (SELECT source, count(*) AS n_cal, sum(n_chars) AS s_chars,
         |             ((count(*) + 1) * $ConfCovNum + ${ConfCovDen - 1})
         |               // $ConfCovDen AS k_rank
         |      FROM d WHERE is_cal GROUP BY 1),
         |scored AS (SELECT d.source, d.doc_id, d.is_cal,
         |                  CAST(floor(abs(CAST(n_chars AS DOUBLE)
         |                    - CAST(s_chars AS DOUBLE) / n_cal) * 1000000.0)
         |                    AS BIGINT) AS v
         |           FROM d JOIN m USING (source)),
         |ranked AS (SELECT source, v,
         |                  row_number() OVER (PARTITION BY source
         |                    ORDER BY v, doc_id) AS rn
         |           FROM scored WHERE is_cal),
         |qh AS (SELECT r.source, r.v AS qv
         |       FROM ranked r JOIN m USING (source) WHERE rn = k_rank),
         |cov AS (SELECT t.source, count(*) AS n_test,
         |               sum(CASE WHEN qh.qv IS NULL OR t.v <= qh.qv
         |                        THEN 1 ELSE 0 END) AS n_cov
         |        FROM scored t LEFT JOIN qh ON qh.source = t.source
         |        WHERE NOT t.is_cal GROUP BY 1)
         |SELECT m.source, CAST(n_cal AS BIGINT) AS n_cal,
         |       CAST(k_rank AS BIGINT) AS k_rank,
         |       CAST(qv AS DOUBLE) / 1000000.0 AS qhat,
         |       CAST(coalesce(n_test, 0) AS BIGINT) AS n_test,
         |       CAST(coalesce(n_cov, 0) AS BIGINT) AS n_covered,
         |       CASE WHEN coalesce(n_test, 0) = 0 THEN NULL
         |            ELSE ${Portable.snap6Sql(
                 "CAST(n_cov AS DOUBLE) / n_test")} END AS coverage
         |FROM m LEFT JOIN qh ON qh.source = m.source
         |       LEFT JOIN cov ON cov.source = m.source
         |ORDER BY m.source""".stripMargin
    },

    "q153_ref_integrity" -> {
      val fks = RefFks.map(f =>
        s"""SELECT '${f.name}' AS check_name,
           |  (SELECT count(*) FROM ${f.fact}) AS n_checked,
           |  (SELECT count(*) FROM ${f.fact} f LEFT JOIN
           |     (SELECT DISTINCT ${f.dimKey} FROM ${f.dim}) d
           |     ON f.${f.key} = d.${f.dimKey}
           |   WHERE d.${f.dimKey} IS NULL) AS n_violations""".stripMargin)
      val pks = RefPks.map(p =>
        s"""SELECT '${p.name}' AS check_name,
           |  (SELECT count(*) FROM ${p.table}) AS n_checked,
           |  (SELECT coalesce(sum(n), 0) FROM
           |     (SELECT count(*) AS n FROM ${p.table}
           |      GROUP BY ${p.keys.mkString(", ")})
           |   WHERE n > 1) AS n_violations""".stripMargin)
      s"""SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
         |       CAST(n_violations AS BIGINT) AS n_violations,
         |       n_violations = 0 AS ok
         |FROM (${(fks ++ pks).mkString("\nUNION ALL\n")})
         |ORDER BY check_name""".stripMargin
    },

    "q101_pivot_events" -> {
      val cols = EventTypes.map(t =>
        s"round(sum(CASE WHEN event_type = '$t' THEN value END), 6) AS \"$t\"")
      s"""SELECT user_id % 10 AS segment,
         |       ${cols.mkString(",\n       ")}
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q102_cube_docs" ->
      """SELECT lang, source,
        |       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
        |       count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY CUBE(lang, source)""".stripMargin,

    "q104_profile" -> ProfileCols.map(c =>
      s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
         |  round(min($c), 6) AS min_v, round(max($c), 6) AS max_v,
         |  round(avg($c), 6) AS avg_v FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n"),

    "q115_source_entropy" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(${TextPack.toksSql("text")}) AS tok
         |  FROM documents),
         |tf AS (SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
         |tot AS (
         |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |         count(*) AS n_types
         |  FROM tf GROUP BY 1)
         |SELECT tf.source, tot.n_tokens, tot.n_types,
         |       round(-sum((CAST(cnt AS DOUBLE) / n_tokens)
         |                  * ln(CAST(cnt AS DOUBLE) / n_tokens)), 6) AS entropy,
         |       round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr
         |FROM tf JOIN tot USING (source)
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    "q112_rolling_anomaly" ->
      s"""WITH c AS (
         |  SELECT event_type, ts, event_id, value,
         |         CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |w AS (
         |  SELECT event_type, value,
         |         count(cents) OVER fr AS n_w,
         |         CAST(sum(cents) OVER fr AS BIGINT) AS s_w,
         |         CAST(sum(cents * cents) OVER fr AS BIGINT) AS ss_w
         |  FROM c
         |  WINDOW fr AS (PARTITION BY event_type ORDER BY ts, event_id
         |                ROWS BETWEEN $RollN PRECEDING AND 1 PRECEDING)),
         |z AS (
         |  SELECT event_type, value,
         |         CAST(s_w AS DOUBLE) / ($RollN * 100.0) AS mean_w,
         |         sqrt((CAST(ss_w AS DOUBLE) -
         |               CAST(s_w AS DOUBLE) * CAST(s_w AS DOUBLE) / $RollN)
         |              / ($RollN - 1)) / 100.0 AS sd_w
         |  FROM w WHERE n_w = $RollN)
         |SELECT event_type, count(*) AS n_windows,
         |       CAST(sum(CASE WHEN sd_w <> 0.0
         |                      AND abs((value - mean_w) / sd_w) > 3.0
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
         |       round(max(CASE WHEN sd_w = 0.0 THEN NULL
         |                      ELSE abs((value - mean_w) / sd_w) END), 6)
         |         AS max_abs_z
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    "q107_mad_outliers" ->
      s"""WITH med AS (
         |  SELECT event_type, round(quantile_cont(value, 0.5), 9) AS med
         |  FROM events GROUP BY 1),
         |dev AS (
         |  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
         |  FROM events e JOIN med m USING (event_type)),
         |mad AS (
         |  SELECT event_type, med, round(quantile_cont(adev, 0.5), 9) AS mad
         |  FROM dev GROUP BY 1, 2)
         |SELECT d.event_type, count(*) AS n,
         |       round(m.med, 6) AS med, round(m.mad, 6) AS mad,
         |       CAST(sum(CASE WHEN d.adev > $OutlierK * $MadConsistency * m.mad
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM dev d JOIN mad m USING (event_type)
         |GROUP BY 1, m.med, m.mad ORDER BY 1""".stripMargin,

    "q128_winsorize" ->
      s"""WITH cuts AS (
         |  SELECT c_mktsegment,
         |         round(quantile_cont(c_acctbal, $WinsorLo), 9) AS lo,
         |         round(quantile_cont(c_acctbal, $WinsorHi), 9) AS hi
         |  FROM customer GROUP BY 1)
         |SELECT c.c_mktsegment,
         |       round(t.lo, 6) AS lo, round(t.hi, 6) AS hi,
         |       count(*) AS n,
         |       CAST(sum(CASE WHEN c.c_acctbal < t.lo OR c.c_acctbal > t.hi
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
         |       round(CAST(sum(CAST(round(
         |                 least(greatest(c.c_acctbal, t.lo), t.hi) * 100)
         |               AS BIGINT)) AS DOUBLE) / (count(*) * 100), 6) AS wmean
         |FROM customer c JOIN cuts t USING (c_mktsegment)
         |GROUP BY 1, t.lo, t.hi ORDER BY 1""".stripMargin,

    "q146_exact_kth" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
        |             AS c FROM lineitem)
        |SELECT count(*) AS n,
        |       CAST(quantile_disc(c, 0.5) AS BIGINT) AS kth_cents
        |FROM c""".stripMargin,

    "q145_mix_drift" ->
      """WITH cur AS (SELECT source, count(*) AS na FROM documents GROUP BY 1),
        |prev AS (SELECT source, count(*) AS nb FROM documents
        |         WHERE doc_id % 17 <> 3 GROUP BY 1),
        |tot AS (SELECT (SELECT sum(na) FROM cur) AS ta,
        |               (SELECT sum(nb) FROM prev) AS tb),
        |terms AS (
        |  SELECT CAST(round((na / CAST(ta AS DOUBLE))
        |           * ln((na / CAST(ta AS DOUBLE))
        |                / (nb / CAST(tb AS DOUBLE))) * 1e9) AS BIGINT) AS kl_u,
        |         CAST(round(abs(na / CAST(ta AS DOUBLE)
        |                        - nb / CAST(tb AS DOUBLE)) * 1e9) AS BIGINT)
        |           AS tv_u
        |  FROM cur JOIN prev USING (source) CROSS JOIN tot)
        |SELECT count(*) AS n_sources,
        |       round(CAST(sum(kl_u) AS DOUBLE) / 1e9, 6) AS kl,
        |       round(CAST(sum(tv_u) AS DOUBLE) / 2e9, 6) AS tv
        |FROM terms""".stripMargin,

    "q144_hist_quantiles" ->
      s"""WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
         |             AS c FROM lineitem),
         |bounds AS (SELECT min(c) AS lo, max(c) AS hi FROM c),
         |binned AS (
         |  SELECT least(${HistBins - 1},
         |           ((c - lo) * $HistBins) // (hi - lo + 1)) AS bin
         |  FROM c CROSS JOIN bounds),
         |g AS (SELECT bin, count(*) AS n FROM binned GROUP BY 1),
         |stats AS (SELECT count(*) AS total,
         |                 round(quantile_cont(c, 0.5), 9) AS exact_med
         |          FROM c),
         |cum AS (
         |  SELECT bin, n,
         |         coalesce(sum(n) OVER (ORDER BY bin
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS cum_before
         |  FROM g),
         |est AS (
         |  SELECT cum.bin, cum.n, cum.cum_before,
         |         bounds.lo, bounds.hi, stats.total, stats.exact_med,
         |         (stats.total + 1) // 2 AS k,
         |         CAST(bounds.hi - bounds.lo + 1 AS DOUBLE) / $HistBins
         |           AS width
         |  FROM cum CROSS JOIN bounds CROSS JOIN stats)
         |SELECT CAST(total AS BIGINT) AS n,
         |       round(exact_med / 100, 6) AS exact_median,
         |       round((lo + bin * width
         |              + width * CAST(k - cum_before AS DOUBLE) / n)
         |             / 100, 6) AS est_median,
         |       abs(lo + bin * width
         |           + width * CAST(k - cum_before AS DOUBLE) / n
         |           - exact_med) <= width AS within_bin
         |FROM est WHERE cum_before < k AND cum_before + n >= k""".stripMargin,

    "q222_mutual_info" -> {
      val logit = Selection.qualityLogitSql(TextPack.stopwords)
      s"""WITH d AS (SELECT source, text, ${TextPack.toksSql("text")} AS toks
         |           FROM documents),
         |s AS (SELECT source,
         |        CAST(least(9, floor(ROUND(($logit), 6) * 10)) AS INTEGER)
         |          AS bucket
         |      FROM d),
         |cells AS (SELECT source, bucket, count(*) AS c
         |          FROM s GROUP BY 1, 2),
         |ms AS (SELECT source, sum(c) AS cs FROM cells GROUP BY source),
         |mb AS (SELECT bucket, sum(c) AS cb FROM cells GROUP BY bucket),
         |tot AS (SELECT sum(c) AS n, count(*) AS n_cells FROM cells),
         |mi AS (SELECT sum(CAST(${Portable.snap6Sql(
                   "(CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE)" +
                   " * CAST(n AS DOUBLE) / (CAST(cs AS DOUBLE) * CAST(cb AS DOUBLE)))")}
         |         AS DECIMAL(20,6))) AS v
         |       FROM cells JOIN ms USING (source) JOIN mb USING (bucket)
         |       CROSS JOIN tot),
         |hs AS (SELECT sum(CAST(${Portable.snap6Sql(
                   "-(CAST(cs AS DOUBLE) / n) * log2(CAST(cs AS DOUBLE) / n)")}
         |         AS DECIMAL(20,6))) AS v FROM ms CROSS JOIN tot),
         |hb AS (SELECT sum(CAST(${Portable.snap6Sql(
                   "-(CAST(cb AS DOUBLE) / n) * log2(CAST(cb AS DOUBLE) / n)")}
         |         AS DECIMAL(20,6))) AS v FROM mb CROSS JOIN tot)
         |SELECT CAST(n_cells AS BIGINT) AS n_cells,
         |       ${Portable.snap6Sql("CAST(mi.v AS DOUBLE)")} AS mi_bits,
         |       ${Portable.snap6Sql("CAST(hs.v AS DOUBLE)")} AS h_source_bits,
         |       ${Portable.snap6Sql("CAST(hb.v AS DOUBLE)")} AS h_bucket_bits,
         |       ${Portable.snap6Sql(
                   "CAST(mi.v AS DOUBLE) / least(CAST(hs.v AS DOUBLE), CAST(hb.v AS DOUBLE))")}
         |         AS nmi
         |FROM mi CROSS JOIN hs CROSS JOIN hb CROSS JOIN tot""".stripMargin
    },

    "q217_calibration_ece" -> {
      val logit = Selection.qualityLogitSql(TextPack.stopwords)
      s"""WITH d AS (SELECT doc_id, text, ${TextPack.toksSql("text")} AS toks
         |           FROM documents),
         |s AS (SELECT ROUND(($logit), 6) AS conf,
         |             len(toks) >= $EceMinToks AS y FROM d),
         |b AS (SELECT CAST(least(9, floor(conf * 10)) AS INTEGER) AS bin,
         |             count(*) AS n,
         |             sum(CAST(floor(conf * 1e6) AS BIGINT)) AS cm,
         |             sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos
         |      FROM s GROUP BY 1),
         |c AS (SELECT bin, n,
         |             CAST(cm AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
         |               AS conf_bar,
         |             CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc
         |      FROM b),
         |g AS (SELECT *,
         |             CAST(floor(abs(acc - conf_bar) * 1e6) AS BIGINT) AS gm
         |      FROM c),
         |t AS (SELECT sum(n) AS nt, sum(n * gm) AS gsum FROM g)
         |SELECT bin, CAST(n AS BIGINT) AS n,
         |       ${Portable.snap6Sql("conf_bar")} AS conf,
         |       ${Portable.snap6Sql("acc")} AS acc,
         |       ${Portable.snap6Sql("CAST(gm AS DOUBLE) / 1e6")} AS gap,
         |       ${Portable.snap6Sql(
                   "CAST(gsum AS DOUBLE) / (CAST(nt AS DOUBLE) * 1e6)")}
         |         AS ece
         |FROM g CROSS JOIN t ORDER BY bin""".stripMargin
    },

    "q129_quantile_bins" ->
      s"""WITH b AS (
         |  SELECT doc_id, n_chars,
         |         ntile($NBins) OVER (ORDER BY n_chars, doc_id) AS bin
         |  FROM documents)
         |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
         |       CAST(min(n_chars) AS BIGINT) AS min_chars,
         |       CAST(max(n_chars) AS BIGINT) AS max_chars,
         |       CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q151_k_anonymity" ->
      s"""WITH g0 AS (
         |  SELECT coalesce(CAST(lang AS VARCHAR), '') AS qi_coarse,
         |         coalesce(CAST(source AS VARCHAR), '') AS qi_fine,
         |         count(*) AS n,
         |         CAST(count(DISTINCT n_chars // $SensBucketChars) AS BIGINT)
         |           AS l_div
         |  FROM documents GROUP BY 1, 2),
         |g1 AS (SELECT qi_coarse, CAST(sum(n) AS BIGINT) AS n1
         |       FROM g0 GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n2 FROM g0)
         |SELECT qi_coarse, qi_fine, n, l_div,
         |       CAST(CASE WHEN n >= $AnonK THEN 0
         |                 WHEN n1 >= $AnonK THEN 1 ELSE 2 END AS INTEGER)
         |         AS level,
         |       CASE WHEN n >= $AnonK THEN n
         |            WHEN n1 >= $AnonK THEN n1 ELSE n2 END AS anon_n
         |FROM g0 JOIN g1 USING (qi_coarse) CROSS JOIN t
         |ORDER BY qi_coarse, qi_fine""".stripMargin,

    "q193_cohen_kappa" -> {
      val q = graft.functions.Portable.snap6Sql(
        graft.functions.TextFunctions.qualityScoreSql(TextPack.stopwords))
      s"""WITH t AS (SELECT ${TextPack.toksSql("text")} AS toks, text
         |           FROM documents),
         |r AS (SELECT ($q) >= $KappaQualThr AS ra,
         |             len(toks) >= $KappaTokThr AS rb FROM t),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |        CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |        CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |        CAST(sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS n00
         |      FROM r),
         |p AS (SELECT *, (n11 + n10) * (n11 + n01)
         |               + (n01 + n00) * (n10 + n00) AS pen FROM m)
         |SELECT n, n11, n10, n01, n00,
         |       ${graft.functions.Portable.snap6Sql(
                   "CAST(n11 + n00 AS DOUBLE) / n")} AS po,
         |       ${graft.functions.Portable.snap6Sql(
                   "CAST(pen AS DOUBLE) / (n * n)")} AS pe,
         |       CASE WHEN n * n = pen THEN NULL
         |            ELSE ${graft.functions.Portable.snap6Sql(
                   "CAST(n * (n11 + n00) - pen AS DOUBLE) / CAST(n * n - pen AS DOUBLE)")}
         |       END AS kappa
         |FROM p""".stripMargin
    },

    "q194_schema_drift" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
         |         lang, source, n_chars
         |  FROM documents),
         |m AS (SELECT side,
         |        CASE WHEN side = 'b' AND doc_id % $DriftLangNullMod = 0
         |             THEN NULL ELSE lang END AS lang2,
         |        source,
         |        CASE WHEN side = 'b' AND doc_id % $DriftCharsPadMod = 0
         |             THEN n_chars + $DriftCharsPad ELSE n_chars END AS nchars2
         |      FROM d),
         |l AS (SELECT side, 'lang' AS cname, CAST(lang2 AS VARCHAR) AS v,
         |             CAST(NULL AS BIGINT) AS vn FROM m
         |      UNION ALL
         |      SELECT side, 'source', CAST(source AS VARCHAR),
         |             CAST(NULL AS BIGINT) FROM m
         |      UNION ALL
         |      SELECT side, 'n_chars', CAST(nchars2 AS VARCHAR),
         |             CAST(nchars2 AS BIGINT) FROM m),
         |g AS (SELECT cname,
         |        CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |        CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |        CAST(sum(CASE WHEN side = 'a' AND v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_a,
         |        CAST(sum(CASE WHEN side = 'b' AND v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_b,
         |        CAST(count(DISTINCT CASE WHEN side = 'a' THEN v END) AS BIGINT) AS distinct_a,
         |        CAST(count(DISTINCT CASE WHEN side = 'b' THEN v END) AS BIGINT) AS distinct_b,
         |        CAST(count(CASE WHEN side = 'a' THEN vn END) AS BIGINT) AS nn_a,
         |        CAST(count(CASE WHEN side = 'b' THEN vn END) AS BIGINT) AS nn_b,
         |        CAST(coalesce(sum(CASE WHEN side = 'a' THEN vn END), 0) AS BIGINT) AS sum_a,
         |        CAST(coalesce(sum(CASE WHEN side = 'b' THEN vn END), 0) AS BIGINT) AS sum_b
         |      FROM l GROUP BY cname)
         |SELECT cname, n_a, n_b, null_a, null_b, distinct_a, distinct_b,
         |       abs(null_a * n_b - null_b * n_a) * 100 > n_a * n_b AS null_drift,
         |       distinct_b * 2 < distinct_a OR distinct_b > distinct_a * 2
         |         AS distinct_drift,
         |       nn_a > 0 AND nn_b > 0 AND sum_a > 0 AND
         |         abs(sum_a * nn_b - sum_b * nn_a) * 100 > sum_a * nn_b
         |         AS mean_drift
         |FROM g ORDER BY cname""".stripMargin,

    "q212_psi_drift" -> {
      val term = graft.functions.Portable.snap6Sql(
        "(pa - pb) * ln(pa / pb)")
      s"""WITH d AS (
         |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
         |         CAST(floor((CASE WHEN doc_id % 2 = 1
         |                     AND doc_id % $DriftCharsPadMod = 0
         |                    THEN n_chars + $DriftCharsPad
         |                    ELSE n_chars END) / $PsiBinWidth) AS BIGINT)
         |           AS bin
         |  FROM documents),
         |per AS (SELECT bin,
         |          CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |          CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |        FROM d GROUP BY bin),
         |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS k FROM per),
         |t AS (SELECT bin,
         |        CAST(ca + 1 AS DOUBLE) / (na + k) AS pa,
         |        CAST(cb + 1 AS DOUBLE) / (nb + k) AS pb
         |      FROM per CROSS JOIN tot),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_bins,
         |             CAST(sum(CAST($term AS DECIMAL(20,6))) AS DOUBLE) AS psi
         |      FROM t)
         |SELECT n_bins, ${graft.functions.Portable.snap6Sql("psi")} AS psi,
         |       psi >= $PsiWarn AS drifting, psi >= $PsiAlert AS major_shift
         |FROM s""".stripMargin
    },

    "q199_group_dp_mean" -> {
      def lap(tag: String, b: Double) = {
        val u = s"((${graft.functions.Portable.hash32Sql(
          s"'dpm:$tag:' || grp")} + 0.5) / 4294967296.0)"
        s"($b * -1.0) * sign($u - 0.5) * ln(1.0 - 2.0 * abs($u - 0.5))"
      }
      val bS = DpMeanClip / (DpMeanEps / 2.0)
      val bN = 1.0 / (DpMeanEps / 2.0)
      s"""WITH c AS (
         |  SELECT coalesce(CAST(source AS VARCHAR), '') AS grp,
         |         count(*) AS n_true,
         |         sum(least(greatest(CAST(n_chars AS DOUBLE), 0.0),
         |                   $DpMeanClip)) AS clip_sum
         |  FROM documents GROUP BY 1)
         |SELECT grp AS source, CAST(n_true AS BIGINT) AS n_true,
         |       ${graft.functions.Portable.snap6Sql(
                   s"(clip_sum + ${lap("s", bS)}) / greatest(n_true + ${lap("n", bN)}, 1.0)")}
         |         AS dp_mean,
         |       CAST($DpMeanEps AS DOUBLE) AS eps
         |FROM c ORDER BY source""".stripMargin
    },

    "q157_dp_histogram" -> {
      val u = s"((${graft.functions.Portable.hash32Sql(
        "'dp:' || grp")} + 0.5) / 4294967296.0)"
      val noise =
        s"(-1.0 / $DpEps) * sign($u - 0.5) * ln(1.0 - 2.0 * abs($u - 0.5))"
      s"""WITH c AS (
         |  SELECT coalesce(CAST(source AS VARCHAR), '') AS grp,
         |         count(*) AS n_true
         |  FROM documents GROUP BY 1)
         |SELECT grp AS source, CAST(n_true AS BIGINT) AS n_true,
         |       ${graft.functions.Portable.snap6Sql(s"n_true + $noise")}
         |         AS noisy_count,
         |       CAST($DpEps AS DOUBLE) AS eps
         |FROM c ORDER BY source""".stripMargin
    },

    "q181_ks_drift" -> {
      val dStat = Portable.snap6Sql(
        "CAST(dn AS DOUBLE) / CAST(na * nb AS DOUBLE)")
      val dCrit = Portable.snap6Sql(
        s"$KsC05 * sqrt(CAST(na + nb AS DOUBLE) / CAST(na * nb AS DOUBLE))")
      s"""WITH d AS (
         |  SELECT CAST(octet_length(encode(text)) AS BIGINT) AS v,
         |         doc_id % 2 = 0 AS in_a
         |  FROM documents),
         |per AS (
         |  SELECT v,
         |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
         |  FROM d GROUP BY 1),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |               CAST(sum(cb) AS BIGINT) AS nb FROM per),
         |cum AS (
         |  SELECT CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         |         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
         |  FROM per),
         |m AS (
         |  SELECT na, nb, max(abs(cum_a * nb - cum_b * na)) AS dn
         |  FROM cum CROSS JOIN tot GROUP BY na, nb)
         |SELECT na, nb, $dStat AS d_stat, $dCrit AS d_crit,
         |       $dStat <= $dCrit AS same_dist
         |FROM m""".stripMargin
    },

    "q186_bootstrap_ci" -> {
      val u = s"((${Portable.hash32Sql(
        "'bs' || CAST(r AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}" +
        " + 0.5) / 4294967296.0)"
      val w = PoissonCdf
        .map(t => s"(CASE WHEN u > $t THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH d AS (
         |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS x
         |  FROM documents),
         |rep AS (
         |  SELECT r, x, $u AS u
         |  FROM d CROSS JOIN
         |    (SELECT unnest(generate_series(0, ${BootR - 1})) AS r)),
         |wt AS (SELECT r, x, CAST($w AS BIGINT) AS w FROM rep),
         |means AS (
         |  SELECT r, CAST(floor(CAST(sum(w * x) AS DOUBLE) * 1000000.0
         |           / CAST(sum(w) AS DOUBLE)) AS BIGINT) AS m_e6
         |  FROM wt GROUP BY r),
         |ranked AS (
         |  SELECT m_e6, row_number() OVER (ORDER BY m_e6, r) AS rk
         |  FROM means),
         |pt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         ${Portable.snap6Sql(
               "CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |           AS mean_len
         |  FROM d)
         |SELECT n_docs, mean_len, ci_lo, ci_hi,
         |       CAST($BootR AS INTEGER) AS n_replicates
         |FROM pt
         |CROSS JOIN (SELECT CAST(m_e6 AS DOUBLE) / 1000000.0 AS ci_lo
         |            FROM ranked WHERE rk = 2) lo
         |CROSS JOIN (SELECT CAST(m_e6 AS DOUBLE) / 1000000.0 AS ci_hi
         |            FROM ranked WHERE rk = ${BootR - 1}) hi""".stripMargin
    },

    "q188_dataset_card" -> {
      val pq = "CAST(nl AS DOUBLE) / n"
      s"""WITH base AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |         CAST(sum(octet_length(encode(text))) AS BIGINT) AS len_sum,
         |         ROUND(quantile_cont(octet_length(encode(text)), 0.5), 4)
         |           AS len_p50,
         |         CAST(sum(CASE WHEN len(text) = octet_length(encode(text))
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ascii,
         |         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
         |  FROM documents),
         |toks AS (
         |  SELECT CAST(sum(len(t)) AS BIGINT) AS n_tokens
         |  FROM (SELECT ${TextPack.toksSql("text")} AS t FROM documents)),
         |le AS (
         |  SELECT CAST(sum(CAST(round(($pq) * ln($pq) * -1e9) AS BIGINT))
         |           AS BIGINT) AS ent_e9
         |  FROM (SELECT lang, count(*) AS nl FROM documents GROUP BY 1)
         |  CROSS JOIN (SELECT count(*) AS n FROM documents))
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value
         |  FROM base
         |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM toks
         |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM base
         |  UNION ALL SELECT 'dup_rate', ${Portable.snap6Sql(
             "1.0 - CAST(n_distinct AS DOUBLE) / n_docs")} FROM base
         |  UNION ALL SELECT 'lang_entropy', ${Portable.snap6Sql(
             "CAST(ent_e9 AS DOUBLE) / 1000000000.0")} FROM le
         |  UNION ALL SELECT 'len_mean', ${Portable.snap6Sql(
             "CAST(len_sum AS DOUBLE) / n_docs")} FROM base
         |  UNION ALL SELECT 'len_p50', len_p50 FROM base
         |  UNION ALL SELECT 'pct_ascii', ${Portable.snap6Sql(
             "CAST(n_ascii AS DOUBLE) / n_docs")} FROM base)
         |ORDER BY metric""".stripMargin
    },

    "q190_welch_ttest" -> {
      val na = "CAST(na AS DOUBLE)"
      val nb = "CAST(nb AS DOUBLE)"
      val ma = s"(CAST(sa AS DOUBLE) / $na)"
      val mb = s"(CAST(sb AS DOUBLE) / $nb)"
      val va = s"((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / $na)" +
        s" / ($na - 1.0))"
      val vb = s"((CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / $nb)" +
        s" / ($nb - 1.0))"
      val se2 = s"($va / $na + $vb / $nb)"
      val t = s"(($ma - $mb) / sqrt($se2))"
      val dof = s"($se2 * $se2 / ($va / $na * ($va / $na) / ($na - 1.0)" +
        s" + $vb / $nb * ($vb / $nb) / ($nb - 1.0)))"
      s"""WITH d AS (
         |  SELECT CAST(octet_length(encode(text)) AS BIGINT) AS x,
         |         doc_id % 2 = 0 AS in_a
         |  FROM documents),
         |m AS (
         |  SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |         CAST(sum(CASE WHEN in_a THEN x ELSE 0 END) AS BIGINT) AS sa,
         |         CAST(sum(CASE WHEN in_a THEN x * x ELSE 0 END) AS BIGINT)
         |           AS ssa,
         |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
         |         CAST(sum(CASE WHEN in_a THEN 0 ELSE x END) AS BIGINT) AS sb,
         |         CAST(sum(CASE WHEN in_a THEN 0 ELSE x * x END) AS BIGINT)
         |           AS ssb
         |  FROM d)
         |SELECT na, nb,
         |       ${Portable.snap6Sql(ma)} AS mean_a,
         |       ${Portable.snap6Sql(mb)} AS mean_b,
         |       ${Portable.snap6Sql(t)} AS t_stat,
         |       ${Portable.snap6Sql(dof)} AS dof,
         |       abs(${Portable.snap6Sql(t)}) <= 1.96 AS same_mean
         |FROM m""".stripMargin
    }
  )
}
