package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.functions.{Portable, TextFunctions => T}
import graft.sources.Tables

/** Driver-contract queries for the data-selection operators ([[Selection]],
  * plus [[CorpusOps.paragraphDedup]]/[[CorpusOps.packSequences]]): the
  * stages between a cleaned corpus and a training mix. Every query is
  * oracle-checked — the operators are hash/count/window arithmetic that
  * DuckDB replicates exactly; the two log-based scores reuse the q62
  * round-then-DECIMAL-sum pattern so per-doc sums are order-independent.
  */
object SelectionPack extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  /** Non-overlapping paragraph width (tokens) for sub-document dedup. */
  val ParaTokens = 12
  /** Per-source quota for the training-mix cap (documents spread over 20
    * sources — 25/source at sf0.01 — so the cap must BIND there to be a
    * real test of the cut). */
  val CapPerSource = 15
  /** Second-snapshot id offset + mutation period for cross-snapshot dedup. */
  val SnapOffset = 300000L

  /** Positions materialized by the q200 interleave schedule. */
  val ScheduleN = 60
  /** Sequence-packing budget (tokens) and prefix-sum block width (ids). */
  val PackBudget = 64
  val PackBlock = 128L
  /** Document-frequency band for the inverted index (3-gram terms). */
  val PostMinDf = 4
  val PostMaxDf = 12
  /** Token budget for the best-quality corpus subset. */
  val TokenBudget = 6000L

  /** Systematic-resampling draw count and prefix-sum block (q221). */
  val SirK = 50
  val SirBlock = 4096L
  /** Weighted-sample draw size + snapshot-delta added-id offset. */
  val SampleK = 50

  /** Per-stratum exact sample size (q134). */
  val ExactK = 20
  val DeltaOffset = 400000L
  /** q100 capstone knobs: re-crawl copy offset/period, per-source cap,
    * token budget (binds at every sf: ~120 docs fit of 300 capped). */
  val MixCopyOffset = 500000L
  val MixBudget = 12000L

  /** q100's corpus -> kept-set chain: exact dedup (min-id keeper over the
    * content hash) -> quality scoring -> per-source cap (top
    * [[CapPerSource]] by score) -> [[Selection.budgetSelect]] token cut.
    * Returns budgetSelect's (id, score, n_toks, cum_before). Exposed so
    * the pipeline invariants (no duplicate content survives, cap binds,
    * budget holds) are testable on the KEPT SET, not just the shard
    * aggregate the q100 contract query emits. */
  def mixKept(frame: DataFrame): DataFrame = {
    // Decide with SMALL rows (optimization-guide §8): token count, quality
    // and content hash are all computed in the scan stage and the text is
    // dropped before the first exchange — previously the raw document rode
    // the dedup shuffle, the cap shuffle AND the budget stage, so every
    // wire byte was corpus-sized. At 100 TB these exchanges are now
    // metadata-sized (~50 B/row).
    val scored = frame.select(col("doc_id"), col("source"),
      T.tokenStats(col("text")).getField("ws_tokens").cast("long").as("n_toks"),
      T.qualityScore(col("text"), TextPack.stopwords).as("_q"),
      Dedup.contentHash(col("text")).as("_h"))
    // exact-dedup keeper via ONE min_by aggregation (map-side partials
    // shrink rows before the wire) instead of a rank window + filter —
    // same keeper row (min doc_id per content hash), no per-group sort.
    val keeper = scored.groupBy(col("_h"))
      .agg(min_by(struct(col("doc_id"), col("source"), col("n_toks"),
        col("_q")), col("doc_id")).as("_k"))
      .select(col("_k.doc_id").as("doc_id"), col("_k.source").as("source"),
        col("_k.n_toks").as("n_toks"), col("_k._q").as("_q"))
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("_q").desc, col("doc_id"))
    val capped = keeper
      .withColumn("_r2", row_number().over(wCap))
      .filter(col("_r2") <= CapPerSource)
    Selection.budgetSelectOnCounts(
      capped.select(col("doc_id").as("id"), col("n_toks"), col("_q")),
      budget = MixBudget)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Corpus-wide paragraph dedup: first occurrence of each 12-token
    // paragraph wins, documents reconstructed from survivors. The oracle
    // pins per-doc paragraph counts AND the reconstructed content hash.
    "q69_paragraph_dedup" -> ((s, dir) => {
      CorpusOps.paragraphDedup(docs(s, dir), "doc_id", "text", ParaTokens)
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          substring(md5(col("clean_text")), 1, 8).as("clean_hash"))
        .orderBy("doc_id")
    }),

    // Gopher-style within-doc repetition signals: top-token share +
    // duplicate 2-/3-gram occurrence fractions.
    "q70_ngram_repetition" -> ((s, dir) => {
      Selection.ngramRepetition(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Per-source quota: top CapPerSource docs by (quality desc, doc_id).
    "q71_domain_cap" -> ((s, dir) => {
      val scored = docs(s, dir).select(col("doc_id"), col("source"),
        T.qualityScore(col("text"), TextPack.stopwords).as("q"))
      Selection.domainCap(scored, "source",
          Seq(col("q").desc, col("doc_id")), CapPerSource)
        .select(col("source"), col("rank"), col("doc_id"),
          Portable.snap6(col("q")).as("q"))
        .orderBy("source", "rank")
    }),

    // Cross-snapshot dedup: a re-crawl (ids offset, every 3rd doc mutated)
    // against the previous snapshot — only genuinely new content survives.
    "q72_cross_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val snap2 = d.select((col("doc_id") + SnapOffset).as("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" fresh")))
          .otherwise(col("text")).as("text"),
        col("source"))
      Selection.crossDedup(snap2, d)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // Greedy sequence packing via the two-level (scale-safe) prefix sum:
    // per doc, its position in the packed token stream.
    "q73_pack_sequences" -> ((s, dir) => {
      CorpusOps.packSequences(docs(s, dir), "doc_id", "text",
          budget = PackBudget, blockSize = PackBlock)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // DSIR importance weights toward the src0 "curated" domain.
    "q74_dsir_weights" -> ((s, dir) => {
      Selection.dsirWeights(docs(s, dir), "doc_id", "text",
          col("source") === "src0")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Systematic (low-variance) importance RESAMPLING — the draw step
    // that turns q74-style importance weights into an actual corpus:
    // k evenly-spaced positions u_j = (j−½)·W/k walk the cumulative
    // weight axis and each doc receives one copy per position inside its
    // [cum_before, cum_before+w) interval. With weights as 1e-6
    // micro-longs the copy count is PURE integer arithmetic —
    // copies = ⌊(2k·cum_after + W)/2W⌋ − ⌊(2k·cum_before + W)/2W⌋ —
    // so the draw is engine- and partitioning-exact, and Σcopies = k by
    // telescoping (Round6OpsSpec asserts it). The cumulative axis uses
    // the two-level blocked prefix sum (q73's scale shape), never a
    // global window.
    "q221_sir_resample" -> ((s, dir) => {
      val w = Portable.snap6(
        T.qualityScore(col("text"), TextPack.stopwords) + lit(0.01))
      val base = docs(s, dir)
        .select(col("doc_id"), round(w * lit(1e6), 0).cast("long").as("wm"))
      val cum = CorpusOps.blockedPrefixSum(base,
          floor(col("doc_id") / SirBlock).cast("long"),
          Seq(col("doc_id")), col("wm"))
        .crossJoin(broadcast(base.groupBy().agg(sum(col("wm")).as("tw"))))
      // integer DIV, not float division + floor: a draw position landing
      // exactly on a cum boundary must bin identically in both engines
      cum
        .withColumn("copies", expr(
          s"(2 * $SirK * (cum_before + wm) + tw) DIV (2 * tw)" +
            s" - (2 * $SirK * cum_before + tw) DIV (2 * tw)"))
        .filter(col("copies") >= 1)
        .select(col("doc_id"),
          Portable.snap6(col("wm").cast("double") / lit(1e6)).as("weight"),
          col("copies").cast("long").as("copies"))
        .orderBy("doc_id")
    }),

    // Fixed-weight logistic quality classifier at scan speed; bin + verdict
    // derive from the ROUNDED score so the cut is engine-independent.
    "q75_quality_logit" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          round(Selection.qualityLogit(col("text"), TextPack.stopwords), 6)
            .as("score"))
        .withColumn("bin", least(lit(9), floor(col("score") * 10)).cast("int"))
        .withColumn("keep", col("score") >= 0.5)
        .orderBy("doc_id")
    }),

    // Token-budget selection: best-quality docs that fit, whole, in a
    // 6000-token budget (binds at every sf: it keeps the top ~150 docs).
    "q77_budget_select" -> ((s, dir) => {
      Selection.budgetSelect(docs(s, dir), "doc_id", "text",
          T.qualityScore(col("text"), TextPack.stopwords),
          budget = TokenBudget, scoreBlocks = 64)
        .select(col("id").as("doc_id"), Portable.snap6(col("score")).as("q"),
          col("n_toks"), col("cum_before"))
        .orderBy("doc_id")
    }),

    // Preference-DATASET capstone: the q100 pattern applied to the
    // preference layer — re-crawled frame -> exact dedup (min-id keeper)
    // -> quality scoring -> per-group chosen/rejected pairs -> per-shard
    // curriculum order (highest-margin pairs first), ONE declarative
    // plan. Every stage is load-bearing for the hash: the rejected-side
    // tie-break is LARGEST id, so a dedup regression would surface the
    // 500k-offset re-crawl ids in the output; a quality or margin bug
    // flips pair members; the shard hash and rank pin the layout. Scale:
    // dedup shuffles 128-bit hashes, pairs are one max_by/min_by
    // aggregation, the curriculum window partitions by shard.
    "q201_preference_capstone" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      val frame = base.unionAll(base.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + MixCopyOffset).as("doc_id"),
          col("source"), col("lang"), col("text")))
      val hashed = frame.withColumn("ch", Dedup.contentHash(col("text")))
      val keepers = hashed.groupBy("ch").agg(min(col("doc_id")).as("doc_id"))
      val surv = hashed.join(keepers, Seq("ch", "doc_id"))
      val q = Portable.snap6(T.qualityScore(col("text"), TextPack.stopwords))
      val pairs = Selection.preferencePairs(
          surv.select(col("source"), col("lang"), col("doc_id"), q.as("qual")),
          Seq("source", "lang"), "doc_id", "qual", rejectedMinId = false)
        .withColumn("margin", Portable.snap6(col("q_max") - col("q_min")))
        .withColumn("shard",
          (Portable.hash32m(concat(lit("pshard:"), col("source"),
            lit(":"), col("lang"))) % 4).cast("int"))
      val wSh = org.apache.spark.sql.expressions.Window
        .partitionBy("shard")
        .orderBy(col("margin").desc, col("source"), col("lang"))
      pairs.withColumn("rn", row_number().over(wSh))
        .select(col("shard"), col("rn"), col("source"), col("lang"),
          col("chosen_id"), col("rejected_id"), col("margin"))
        .orderBy("shard", "rn")
    }),

    // Preference-pair assembly (the DPO/RLHF dataset shape): within each
    // (source, lang) prompt group, chosen = the highest-quality document,
    // rejected = the lowest, with doc_id as the deterministic tie-break;
    // groups that can't produce a strict preference (fewer than 2 docs or
    // zero margin) are dropped — a zero-margin "pair" teaches nothing and
    // poisons the loss. Scale shape: quality is scan-stage arithmetic and
    // both extremes come from ONE max_by/min_by aggregation (partial
    // map-side, one shuffle on the group key) — no rank window, no sort.
    // Group-relative advantage normalization (the GRPO/RLOO batch step):
    // within each (source, lang) "prompt group" the reward is re-centered
    // and re-scaled, adv = (r − mean_g)/std_g, so groups with different
    // reward calibrations contribute comparable gradients. Degenerate
    // groups (all rewards equal, or singletons) get advantage 0 — the
    // zero-signal contract — detected EXACTLY on the integer variance
    // numerator n·Σr² − (Σr)², never on a float epsilon. Rewards ride
    // 1e-6 micro-longs, so adv = (n·r − Σr)/sqrt(n·Σr² − (Σr)²) is
    // integer-exact under the sqrt and bit-identical across engines.
    // Scale: one groupBy on the group key + a broadcast join back —
    // group count is source×lang-bounded, corpus size only touches the
    // scan; every 13th doc is emitted as the audit sample.
    "q216_grpo_advantage" -> ((s, dir) => {
      val micro = round(Portable.snap6(
        T.qualityScore(col("text"), TextPack.stopwords)) * lit(1e6), 0)
        .cast("long")
      val d = docs(s, dir)
        .select(col("source"), col("lang"), col("doc_id"), micro.as("rm"))
      val g = Selection.rewardStats(d, Seq("source", "lang"), "rm")
        .withColumn("var_num",
          col("n").cast("decimal(19,0)") * col("s2")
            - col("s1").cast("decimal(19,0)") * col("s1").cast("decimal(19,0)"))
      d.join(broadcast(g), Seq("source", "lang"))
        .filter(col("doc_id") % 13 === 0)
        .select(col("source"), col("lang"), col("doc_id"), col("n"),
          Portable.snap6(col("rm").cast("double") / lit(1e6)).as("reward"),
          Portable.snap6(when(col("var_num") > 0,
            (col("n") * col("rm") - col("s1")).cast("double")
              / sqrt(col("var_num").cast("double")))
            .otherwise(lit(0.0))).as("advantage"))
        .orderBy("doc_id")
    }),

    "q195_dpo_pairs" -> ((s, dir) => {
      val q = Portable.snap6(T.qualityScore(col("text"), TextPack.stopwords))
      Selection.preferencePairs(
          docs(s, dir)
            .select(col("source"), col("lang"), col("doc_id"), q.as("qual")),
          Seq("source", "lang"), "doc_id", "qual")
        .select(col("source"), col("lang"), col("n_docs"),
          col("chosen_id"), col("rejected_id"),
          Portable.snap6(col("q_max") - col("q_min")).as("margin"))
        .orderBy("source", "lang")
    }),

    // Per-source quantile normalization audit: a raw quality score is
    // incomparable across sources (each crawler has its own length/markup
    // profile), so mixing pipelines re-express the score as its quantile
    // WITHIN the source before a global cut. Emits, for a deterministic
    // doc sample, the within-source and global percent-ranks of n_chars
    // and their gap — the number that says how much a global threshold
    // would mis-rank each source. Ranks are (rank-1)/(n-1) over the total
    // order (n_chars, doc_id): integer-derived, engine-exact. Scale: the
    // per-source window partitions naturally; the GLOBAL rank is
    // decomposed histogram-style (the q129 pattern) instead of a total
    // sort — rank(doc) = docs with a smaller n_chars (cumulative count
    // over the broadcast length histogram) + the doc's row_number within
    // its OWN length (a window partitioned by n_chars). No unpartitioned
    // window ever sees a corpus-sized input.
    "q196_quantile_norm" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val wSrc = W.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
      val nSrc = W.partitionBy("source")
      val wChars = W.partitionBy("n_chars").orderBy("doc_id")
      val d0 = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val h = d0.groupBy("n_chars").agg(count(lit(1)).as("m"))
      val wCum = W.orderBy("n_chars")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val cum = h
        .withColumn("c", coalesce(sum("m").over(wCum), lit(0L)))
        .crossJoin(broadcast(h.groupBy().agg(sum("m").as("n_all"))))
        .select("n_chars", "c", "n_all")
      val d = d0
        .withColumn("r_src", rank().over(wSrc))
        .withColumn("n_src", count(lit(1)).over(nSrc))
        .withColumn("rn_chars", row_number().over(wChars))
        .join(broadcast(cum), "n_chars")
        .withColumn("r_all", col("c") + col("rn_chars"))
      d.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), col("source"),
          Portable.snap6((col("r_src") - 1).cast("double")
            / greatest(col("n_src") - 1, lit(1L))).as("pr_source"),
          Portable.snap6((col("r_all") - 1).cast("double")
            / greatest(col("n_all") - 1, lit(1L))).as("pr_global"),
          Portable.snap6(abs(
            (col("r_src") - 1).cast("double") / greatest(col("n_src") - 1, lit(1L))
              - (col("r_all") - 1).cast("double") / greatest(col("n_all") - 1, lit(1L))))
            .as("rank_gap"))
        .orderBy("doc_id")
    }),

    // Weighted fair interleave — the SCHEDULE a training mix actually
    // realizes: each source advances a virtual clock at 1/weight per
    // document (start-time fair queueing), and the global reading order
    // merges by (virtual_time, source). A weight-3 source lands 3 docs in
    // the stream for every 1 from a weight-1 source — deterministically,
    // with no RNG at read time. Within-source order is the q178-style
    // seeded hash shuffle. Scale: per-source windows partition naturally;
    // the global merge materializes only the first ScheduleN positions
    // via orderBy+limit (TakeOrdered — no full global sort shuffles).
    "q200_interleave_schedule" -> ((s, dir) => {
      val wSrc = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(col("shuf"), col("doc_id"))
      val d = docs(s, dir)
        .select(col("doc_id"), col("source"),
          (lit(1.0) + (Portable.hash32m(col("source")) % 4).cast("double"))
            .as("w"),
          Portable.hash32(concat(lit("sched:"), col("doc_id").cast("string")))
            .as("shuf"))
        .withColumn("rn", row_number().over(wSrc))
        .withColumn("vt", Portable.snap6(col("rn").cast("double") / col("w")))
      d.orderBy(col("vt"), col("source"), col("rn")).limit(ScheduleN)
        .select(col("vt"), col("source"), col("rn"), col("doc_id"))
    }),

    // Deterministic Efraimidis-Spirakis weighted sample: 50 docs drawn
    // with probability ~ quality score, reproducible bit-for-bit.
    "q82_weighted_sample" -> ((s, dir) => {
      Selection.weightedSample(
          docs(s, dir).select(col("doc_id"),
            (T.qualityScore(col("text"), TextPack.stopwords) + 0.01).as("w")),
          "doc_id", col("w"), k = SampleK)
        .select(col("rank"), col("doc_id"), round(col("es_key"), 6).as("es_key"),
          round(col("w") - 0.01, 6).as("q"))
        .orderBy("rank")
    }),

    // Exact-k stratified SRS: exactly 20 docs per source, chosen by the
    // salted-md5 permutation — the fixed-size eval-set draw fractional
    // sampling can't provide. Reproduces across engines/partitionings.
    "q134_exact_k_sample" -> ((s, dir) => {
      Selection.exactKSample(docs(s, dir).select("doc_id", "source"),
          "doc_id", "source", k = ExactK)
        .select(col("source"), col("rank"), col("doc_id"))
        .orderBy("source", "rank")
    }),

    // Crawl-snapshot diff: the second snapshot drops every 17th doc,
    // rewrites every 11th, adds re-keyed copies of every 13th — the delta
    // report drives incremental reprocessing.
    "q83_snapshot_delta" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val snap2 = d.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(d.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + DeltaOffset).as("doc_id"), col("text")))
      Selection.snapshotDelta(d, snap2, "doc_id", "text")
        .filter(col("status") =!= "unchanged")
        .select(col("id").as("doc_id"), col("status"))
        .orderBy("doc_id")
    }),

    // Token-length histogram per source (linear 10-token buckets, capped):
    // the corpus-audit report behind length-filter thresholds. Integer
    // bucket arithmetic — no float log whose last ulp could differ
    // across engines at bucket boundaries.
    // The capstone: a full corpus -> training-shards pipeline in ONE
    // declarative plan — re-crawled frame -> exact dedup (min-id keeper)
    // -> quality scoring -> per-source cap -> token-budget cut -> shard
    // manifest. Every stage is an operator this engine already ships
    // (Dedup.contentHash, domain cap's rank-limit, budgetSelect's blocked
    // prefix sum, shardIndex), composed; the oracle replays the entire
    // chain, so a regression ANYWHERE in the pipeline breaks the hash.
    // Scale: dedup + cap + budget are the same bounded-shuffle shapes as
    // their standalone queries; nothing new materializes.
    "q100_training_mix" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val frame = d.unionAll(d.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + MixCopyOffset).as("doc_id"),
          col("source"), col("text")))
      mixKept(frame)
        .select(col("id").as("doc_id"), col("n_toks"))
        .withColumn("shard", CorpusOps.shardIndex(col("doc_id")))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("shard")
    }),

    "q85_length_histogram" -> ((s, dir) => {
      docs(s, dir)
        .select(col("source"),
          T.tokenStats(col("text")).getField("ws_tokens").as("n"))
        .withColumn("bucket", least(lit(8), floor(col("n") / 10)).cast("int"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n")).cast("long").as("min_toks"),
          max(col("n")).cast("long").as("max_toks"))
        .orderBy("source", "bucket")
    }),

    // Inverted index over 3-gram terms inside a df band: df + sorted
    // posting list (content-hashed, head ids in the clear).
    "q76_posting_lists" -> ((s, dir) => {
      Selection.postingLists(docs(s, dir), "doc_id",
          T.wordNgrams(T.tokens(col("text")), 3), PostMinDf, PostMaxDf)
        .select(col("term"), col("df"),
          substring(md5(array_join(
            transform(col("postings"), x => x.cast("string")), ",")), 1, 8)
            .as("posting_hash"),
          array_join(transform(slice(col("postings"), 1, 3),
            x => x.cast("string")), ",").as("head_ids"))
        .orderBy("term")
    })
  )

  // ---- DuckDB twins --------------------------------------------------------

  private def toks = TextPack.toksSql("text")

  /** DuckDB word-n-gram list over a `toks` column (the Spark
    * `wordNgrams` twin — shared shape with DedupPack.shinglesSql). */
  private def ngramsSql(n: Int): String =
    s"""CASE WHEN len(toks) >= $n
       |     THEN list_transform(generate_series(1, len(toks) - ${n - 1}),
       |                         i -> array_to_string(list_slice(toks, i, i + ${n - 1}), ' '))
       |     ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  def oracles: Map[String, String] = Map(
    "q201_preference_capstone" -> {
      val q = Portable.snap6Sql(
        graft.functions.TextFunctions.qualityScoreSql(TextPack.stopwords))
      s"""WITH docs AS (
         |  SELECT doc_id, source, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $MixCopyOffset AS doc_id, source, lang, text
         |  FROM documents WHERE doc_id % 4 = 0),
         |h AS (SELECT *, ${DedupPack.contentHashSql("text")} AS ch FROM docs),
         |k AS (SELECT ch, min(doc_id) AS doc_id FROM h GROUP BY ch),
         |sv AS (SELECT h.* FROM h JOIN k USING (ch, doc_id)),
         |qv AS (SELECT source, lang, doc_id, ($q) AS qual
         |       FROM (SELECT source, lang, doc_id, text,
         |               ${TextPack.toksSql("text")} AS toks FROM sv)),
         |r AS (SELECT *,
         |        ROW_NUMBER() OVER (PARTITION BY source, lang
         |                           ORDER BY qual DESC, doc_id) AS rc,
         |        ROW_NUMBER() OVER (PARTITION BY source, lang
         |                           ORDER BY qual ASC, doc_id DESC) AS rr,
         |        count(*) OVER (PARTITION BY source, lang) AS nd,
         |        max(qual) OVER (PARTITION BY source, lang) AS q_max,
         |        min(qual) OVER (PARTITION BY source, lang) AS q_min
         |      FROM qv),
         |c AS (SELECT source, lang, nd, doc_id AS chosen_id, q_max, q_min
         |      FROM r WHERE rc = 1),
         |j AS (SELECT source, lang, doc_id AS rejected_id FROM r WHERE rr = 1),
         |p AS (SELECT c.source, c.lang, chosen_id, rejected_id,
         |        ${Portable.snap6Sql("q_max - q_min")} AS margin,
         |        CAST(${Portable.hash32mSql(
                   "'pshard:' || c.source || ':' || c.lang")} % 4 AS INTEGER)
         |          AS shard
         |      FROM c JOIN j USING (source, lang)
         |      WHERE nd >= 2 AND q_max > q_min)
         |SELECT shard,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |             ORDER BY margin DESC, source, lang) AS INTEGER) AS rn,
         |       source, lang, chosen_id, rejected_id, margin
         |FROM p ORDER BY shard, rn""".stripMargin
    },

    "q221_sir_resample" -> {
      val q = Portable.snap6Sql(
        graft.functions.TextFunctions.qualityScoreSql(TextPack.stopwords) +
          " + 0.01")
      s"""WITH d AS (SELECT doc_id, ${TextPack.toksSql("text")} AS toks, text
         |           FROM documents),
         |w AS (SELECT doc_id, CAST(round(($q) * 1e6) AS BIGINT) AS wm
         |      FROM d),
         |c AS (SELECT doc_id, wm,
         |        coalesce(sum(wm) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cum_before,
         |        sum(wm) OVER () AS tw
         |      FROM w)
         |SELECT doc_id, ${Portable.snap6Sql("CAST(wm AS DOUBLE) / 1e6")}
         |         AS weight,
         |       CAST((2 * $SirK * (cum_before + wm) + tw) // (2 * tw)
         |          - (2 * $SirK * cum_before + tw) // (2 * tw) AS BIGINT)
         |         AS copies
         |FROM c
         |WHERE (2 * $SirK * (cum_before + wm) + tw) // (2 * tw)
         |    - (2 * $SirK * cum_before + tw) // (2 * tw) >= 1
         |ORDER BY doc_id""".stripMargin
    },

    "q216_grpo_advantage" -> {
      val q = Portable.snap6Sql(
        graft.functions.TextFunctions.qualityScoreSql(TextPack.stopwords))
      s"""WITH d AS (SELECT source, lang, doc_id,
         |             ${TextPack.toksSql("text")} AS toks, text
         |           FROM documents),
         |m AS (SELECT source, lang, doc_id,
         |        CAST(round(($q) * 1e6) AS BIGINT) AS rm FROM d),
         |g AS (SELECT source, lang, count(*) AS n,
         |        CAST(sum(rm) AS HUGEINT) AS s1,
         |        CAST(sum(rm * rm) AS HUGEINT) AS s2
         |      FROM m GROUP BY source, lang),
         |v AS (SELECT *, n * s2 - s1 * s1 AS var_num FROM g)
         |SELECT m.source, m.lang, doc_id, CAST(n AS BIGINT) AS n,
         |       ${Portable.snap6Sql("CAST(rm AS DOUBLE) / 1e6")} AS reward,
         |       ${Portable.snap6Sql(
                   "CASE WHEN var_num > 0 THEN CAST(n * rm - s1 AS DOUBLE)" +
                   " / sqrt(CAST(var_num AS DOUBLE)) ELSE 0.0 END")}
         |         AS advantage
         |FROM m JOIN v USING (source, lang)
         |WHERE doc_id % 13 = 0
         |ORDER BY doc_id""".stripMargin
    },

    "q195_dpo_pairs" -> {
      val q = Portable.snap6Sql(
        graft.functions.TextFunctions.qualityScoreSql(TextPack.stopwords))
      s"""WITH d AS (SELECT source, lang, doc_id,
         |             ${TextPack.toksSql("text")} AS toks, text
         |           FROM documents),
         |q AS (SELECT source, lang, doc_id, ($q) AS qual FROM d),
         |r AS (SELECT *,
         |        ROW_NUMBER() OVER (PARTITION BY source, lang
         |                           ORDER BY qual DESC, doc_id) AS rc,
         |        ROW_NUMBER() OVER (PARTITION BY source, lang
         |                           ORDER BY qual ASC, doc_id) AS rr,
         |        count(*) OVER (PARTITION BY source, lang) AS nd,
         |        max(qual) OVER (PARTITION BY source, lang) AS q_max,
         |        min(qual) OVER (PARTITION BY source, lang) AS q_min
         |      FROM q),
         |c AS (SELECT source, lang, nd, doc_id AS chosen_id, q_max, q_min
         |      FROM r WHERE rc = 1),
         |j AS (SELECT source, lang, doc_id AS rejected_id FROM r WHERE rr = 1)
         |SELECT c.source, c.lang, CAST(nd AS BIGINT) AS n_docs,
         |       chosen_id, rejected_id,
         |       ${Portable.snap6Sql("q_max - q_min")} AS margin
         |FROM c JOIN j USING (source, lang)
         |WHERE nd >= 2 AND q_max > q_min
         |ORDER BY source, lang""".stripMargin
    },

    "q196_quantile_norm" -> {
      val prS = "CAST(r_src - 1 AS DOUBLE) / greatest(n_src - 1, 1)"
      val prG = "CAST(r_all - 1 AS DOUBLE) / greatest(n_all - 1, 1)"
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |         rank() OVER (PARTITION BY source
         |                      ORDER BY n_chars, doc_id) AS r_src,
         |         count(*) OVER (PARTITION BY source) AS n_src,
         |         rank() OVER (ORDER BY n_chars, doc_id) AS r_all,
         |         count(*) OVER () AS n_all
         |  FROM documents)
         |SELECT doc_id, source,
         |       ${Portable.snap6Sql(prS)} AS pr_source,
         |       ${Portable.snap6Sql(prG)} AS pr_global,
         |       ${Portable.snap6Sql(s"abs($prS - $prG)")} AS rank_gap
         |FROM r WHERE doc_id % 17 = 0 ORDER BY doc_id""".stripMargin
    },

    "q200_interleave_schedule" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(1 + (${Portable.hash32mSql("source")} % 4) AS DOUBLE) AS w,
         |         ${Portable.hash32Sql("'sched:' || CAST(doc_id AS VARCHAR)")}
         |           AS shuf
         |  FROM documents),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |                                   ORDER BY shuf, doc_id) AS rn
         |      FROM d)
         |SELECT ${Portable.snap6Sql("CAST(rn AS DOUBLE) / w")} AS vt,
         |       source, CAST(rn AS INTEGER) AS rn, doc_id
         |FROM r ORDER BY vt, source, rn LIMIT $ScheduleN""".stripMargin,

    "q69_paragraph_dedup" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, toks,
         |        unnest(generate_series(0, len(toks) - 1, $ParaTokens)) AS start
         |      FROM d),
         |p AS (SELECT doc_id, CAST(start // $ParaTokens AS INTEGER) AS ci,
         |        array_to_string(toks[start + 1 : start + $ParaTokens], ' ') AS chunk
         |      FROM s),
         |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk
         |                                   ORDER BY doc_id, ci) AS rn FROM p)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       substring(md5(coalesce(
         |         string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY ci),
         |         '')), 1, 8) AS clean_hash
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q70_ngram_repetition" ->
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         |e AS (
         |  SELECT doc_id, 1 AS n, unnest(toks) AS g FROM d
         |  UNION ALL
         |  SELECT doc_id, 2, unnest(${ngramsSql(2)}) FROM d
         |  UNION ALL
         |  SELECT doc_id, 3, unnest(${ngramsSql(3)}) FROM d),
         |pg AS (SELECT doc_id, n, g, count(*) AS c FROM e GROUP BY 1, 2, 3),
         |pk AS (SELECT doc_id, n, sum(c) AS tot,
         |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup, max(c) AS mx
         |       FROM pg GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(max(CASE WHEN n = 1 THEN tot END) AS BIGINT) AS n_toks,
         |  max(CASE WHEN n = 1 THEN ROUND(CAST(mx AS DOUBLE) / tot, 6) END) AS top_tok_share,
         |  max(CASE WHEN n = 2 THEN ROUND(CAST(dup AS DOUBLE) / tot, 6) END) AS dup2_frac,
         |  max(CASE WHEN n = 3 THEN ROUND(CAST(dup AS DOUBLE) / tot, 6) END) AS dup3_frac
         |FROM pk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q71_domain_cap" ->
      s"""WITH t AS (SELECT doc_id, source, text, $toks AS toks FROM documents),
         |s AS (SELECT doc_id, source,
         |        ${T.qualityScoreSql(TextPack.stopwords)} AS q FROM t),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |                                   ORDER BY q DESC, doc_id) AS rank
         |      FROM s)
         |SELECT source, CAST(rank AS INTEGER) AS rank, doc_id, ${Portable.snap6Sql("q")} AS q
         |FROM r WHERE rank <= $CapPerSource ORDER BY source, rank""".stripMargin,

    "q72_cross_dedup" ->
      s"""WITH snap2 AS (
         |  SELECT doc_id + $SnapOffset AS doc_id,
         |         CASE WHEN doc_id % 3 = 0 THEN text || ' fresh' ELSE text END AS text,
         |         source
         |  FROM documents),
         |ref AS (SELECT DISTINCT ${DedupPack.contentHashSql("text")} AS h FROM documents)
         |SELECT doc_id, source FROM snap2
         |WHERE ${DedupPack.contentHashSql("text")} NOT IN (SELECT h FROM ref)
         |ORDER BY doc_id""".stripMargin,

    "q73_pack_sequences" ->
      s"""WITH d AS (SELECT doc_id, len($toks) AS n_toks FROM documents),
         |c AS (SELECT doc_id, n_toks,
         |        sum(n_toks) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks
         |          AS cum_before
         |      FROM d)
         |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
         |       CAST(cum_before AS BIGINT) AS cum_before,
         |       CAST(cum_before // $PackBudget AS BIGINT) AS seq_id,
         |       CAST(cum_before % $PackBudget AS BIGINT) AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "q74_dsir_weights" ->
      s"""WITH toks AS (SELECT doc_id, source = 'src0' AS tgt, unnest($toks) AS tok
         |              FROM documents),
         |cf AS (SELECT tok, count(*) AS c_all,
         |         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
         |       FROM toks GROUP BY tok),
         |t AS (SELECT CAST(sum(c_all) AS DOUBLE) AS n_all,
         |        CAST(sum(c_tgt) AS DOUBLE) AS n_tgt,
         |        CAST(count(*) AS DOUBLE) AS v FROM cf),
         |r AS (SELECT tok, CAST(ROUND(ln(
         |        ((c_tgt + 1) / ((SELECT n_tgt FROM t) + (SELECT v FROM t))) /
         |        ((c_all + 1) / ((SELECT n_all FROM t) + (SELECT v FROM t)))), 6)
         |        AS DECIMAL(18,6)) AS r
         |      FROM cf)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |       ROUND(CAST(sum(r) AS DOUBLE), 6) AS dsir_score,
         |       sum(r) > 0 AS target_like
         |FROM toks JOIN r USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q75_quality_logit" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |s AS (SELECT doc_id,
         |        ROUND(${Selection.qualityLogitSql(TextPack.stopwords)}, 6) AS score
         |      FROM t)
         |SELECT doc_id, score,
         |       CAST(least(9, floor(score * 10)) AS INTEGER) AS bin,
         |       score >= 0.5 AS keep
         |FROM s ORDER BY doc_id""".stripMargin,

    "q77_budget_select" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |s AS (SELECT doc_id, len(toks) AS n_toks,
         |        ${T.qualityScoreSql(TextPack.stopwords)} AS q FROM t),
         |c AS (SELECT doc_id, q, n_toks,
         |        sum(n_toks) OVER (ORDER BY q DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks
         |          AS cum_before
         |      FROM s)
         |SELECT doc_id, ${Portable.snap6Sql("q")} AS q, CAST(n_toks AS BIGINT) AS n_toks,
         |       CAST(cum_before AS BIGINT) AS cum_before
         |FROM c WHERE cum_before + n_toks <= $TokenBudget
         |ORDER BY doc_id""".stripMargin,

    "q134_exact_k_sample" ->
      s"""SELECT source,
         |       CAST(row_number() OVER (PARTITION BY source
         |         ORDER BY md5('srs:' || CAST(doc_id AS VARCHAR)), doc_id)
         |         AS BIGINT) AS rank,
         |       doc_id
         |FROM documents
         |QUALIFY rank <= $ExactK
         |ORDER BY source, rank""".stripMargin,

    "q82_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |s AS (SELECT doc_id,
         |        ${T.qualityScoreSql(TextPack.stopwords)} + 0.01 AS w FROM t),
         |k AS (SELECT doc_id, w,
         |        ROUND(ln((CAST('0x' || substr(md5('es:' || CAST(doc_id AS VARCHAR)), 1, 8)
         |             AS BIGINT) + 1) / 4294967297.0) / w, 6) AS es_key
         |      FROM s),
         |r AS (SELECT doc_id, w, es_key,
         |        ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS rn
         |      FROM k)
         |SELECT CAST(rn AS INTEGER) AS rank, doc_id,
         |       ROUND(es_key, 6) AS es_key, ROUND(w - 0.01, 6) AS q
         |FROM r WHERE rn <= $SampleK ORDER BY rank""".stripMargin,

    "q83_snapshot_delta" -> {
      val h = (t: String) => DedupPack.contentHashSql(t)
      s"""WITH snap1 AS (SELECT doc_id, text FROM documents),
         |snap2 AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 11 = 5 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 17 <> 3
         |  UNION ALL
         |  SELECT doc_id + $DeltaOffset AS doc_id, text
         |  FROM documents WHERE doc_id % 13 = 0),
         |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |        CASE WHEN a.doc_id IS NULL THEN 'added'
         |             WHEN b.doc_id IS NULL THEN 'removed'
         |             WHEN ${h("a.text")} <> ${h("b.text")} THEN 'changed'
         |             ELSE 'unchanged' END AS status
         |      FROM snap1 a FULL OUTER JOIN snap2 b ON a.doc_id = b.doc_id)
         |SELECT doc_id, status FROM j WHERE status <> 'unchanged'
         |ORDER BY doc_id""".stripMargin
    },

    "q100_training_mix" -> {
      val shardC = "ascii(substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1))"
      s"""WITH frame AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $MixCopyOffset AS doc_id, source, text
         |  FROM documents WHERE doc_id % 9 = 0),
         |t AS (SELECT doc_id, source, text, ${TextPack.toksSql("text")} AS toks FROM frame),
         |s AS (SELECT doc_id, source, len(toks) AS n,
         |        ${T.qualityScoreSql(TextPack.stopwords)} AS q,
         |        ${DedupPack.contentHashSql("text")} AS h
         |      FROM t),
         |ded AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
         |        FROM s),
         |cap AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |                    ORDER BY q DESC, doc_id) AS r2
         |        FROM ded WHERE rn = 1),
         |sel AS (SELECT doc_id, n,
         |          sum(n) OVER (ORDER BY q DESC, doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS cb
         |        FROM cap WHERE r2 <= $CapPerSource),
         |kept AS (SELECT doc_id, n FROM sel WHERE cb + n <= $MixBudget),
         |sh AS (SELECT doc_id, n,
         |         CASE WHEN $shardC <= 57 THEN $shardC - 48
         |              ELSE $shardC - 87 END AS shard
         |       FROM kept)
         |SELECT CAST(shard AS INTEGER) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n) AS BIGINT) AS n_tokens,
         |       min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
    },

    "q85_length_histogram" ->
      s"""WITH s AS (SELECT source, len($toks) AS n FROM documents),
         |b AS (SELECT source, CAST(least(8, n // 10) AS INTEGER) AS bucket, n FROM s)
         |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(min(n) AS BIGINT) AS min_toks, CAST(max(n) AS BIGINT) AS max_toks
         |FROM b GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,

    "q76_posting_lists" ->
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         |g AS (SELECT DISTINCT doc_id, unnest(${ngramsSql(3)}) AS term FROM d),
         |p AS (SELECT term, count(*) AS df, list_sort(list(doc_id)) AS postings
         |      FROM g GROUP BY term)
         |SELECT term, CAST(df AS BIGINT) AS df,
         |       substring(md5(array_to_string(postings, ',')), 1, 8) AS posting_hash,
         |       array_to_string(postings[1:3], ',') AS head_ids
         |FROM p WHERE df BETWEEN $PostMinDf AND $PostMaxDf
         |ORDER BY term""".stripMargin
  )
}
