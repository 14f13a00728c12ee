package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Data-selection operators — the stages between a cleaned corpus and a
  * training mix: per-domain quota capping, cross-snapshot dedup, DSIR-style
  * importance weighting, model-based quality scoring, n-gram repetition
  * signals, and the inverted-index build. No reference analog (the
  * builder-prompt LLM-pipeline scope); all are oracle-checked via
  * [[SelectionPack]].
  *
  * Scale notes are per-operator; the common theme is that every shuffle is
  * keyed on a hash or a token, never on raw document text, and nothing here
  * is quadratic in the corpus.
  */
object Selection {

  /** Keep at most `cap` rows per domain, best-first — the per-source quota
    * a training mix enforces so one crawl cannot drown the rest. Ordering
    * must be made total by the caller (tiebreak on a unique key) or the cut
    * is nondeterministic.
    *
    * Scale shape: rank-limit windows compile to WindowGroupLimit in Spark
    * 3.5+ — each map task keeps a per-domain top-`cap` heap BEFORE the
    * shuffle, so the exchange carries O(domains × cap) rows per task, not
    * the corpus (plan-asserted in SelectionSpec). */
  def domainCap(df: DataFrame, domainCol: String, order: Seq[org.apache.spark.sql.Column],
                cap: Int): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val w = Window.partitionBy(col(domainCol)).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w)).filter(col("rank") <= cap)
  }

  /** Cross-snapshot / cross-corpus exact dedup: rows of `fresh` whose
    * normalized content hash does NOT appear in `reference` — the
    * incremental-crawl ingestion step (only new content survives) and the
    * train-vs-benchmark exact decontamination step.
    *
    * Scale shape: one anti-join keyed on the 16-byte content hash, never
    * raw text; the reference side reduces to DISTINCT hashes first, so the
    * join build side is the reference's unique-content cardinality.
    * Combine with [[ScaleJoins.enableRuntimeBloomFilter]] at 100 TB: the
    * bloom filter prunes fresh-side rows before the exchange. */
  def crossDedup(fresh: DataFrame, reference: DataFrame,
                 textCol: String = "text"): DataFrame = {
    val refHashes = reference
      .select(Dedup.contentHash(col(textCol)).as("_ref_h")).distinct()
    fresh.join(refHashes,
      Dedup.contentHash(fresh(textCol)) === col("_ref_h"), "left_anti")
  }

  /** Within-document n-gram repetition signals (the Gopher repetition
    * rules): per document, for each n in 1..3 —
    *   - n=1: share of tokens taken by the single most frequent token
    *   - n=2,3: fraction of n-gram occurrences that are duplicates
    *     (occur ≥ 2 times in the document)
    * High values mean boilerplate/spam; the fractions are layout- and
    * engine-independent (counts, not floats, until the final division).
    *
    * Scale shape: explode + two aggregations keyed (doc, n, gram) then
    * (doc, n) — partial-agg friendly, shuffle size bounded by distinct
    * n-grams per document. Token-less documents produce no rows. */
  def ngramRepetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), T.tokens(col(textCol)).as("_t"))
    // One scan: posexplode over the three gram arrays, then explode each —
    // a 3-way union of per-n selects would re-read and re-tokenize the
    // corpus once per n (the lit(n) difference defeats ReuseExchange).
    val exploded = toks
      .select(col("id"), posexplode(array(
        T.wordNgrams(col("_t"), 1),
        T.wordNgrams(col("_t"), 2),
        T.wordNgrams(col("_t"), 3))).as(Seq("_p", "_grams")))
      .select(col("id"), (col("_p") + 1).as("n"), explode(col("_grams")).as("g"))
    val perGram = exploded.groupBy("id", "n", "g").agg(count(lit(1)).as("c"))
    val perKind = perGram.groupBy("id", "n").agg(
      sum(col("c")).as("tot"),
      sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"),
      max(col("c")).as("mx"))
    perKind.groupBy("id").agg(
      max(when(col("n") === 1, col("tot"))).as("n_toks"),
      max(when(col("n") === 1,
        round(col("mx").cast("double") / col("tot"), 6))).as("top_tok_share"),
      max(when(col("n") === 2,
        round(col("dup").cast("double") / col("tot"), 6))).as("dup2_frac"),
      max(when(col("n") === 3,
        round(col("dup").cast("double") / col("tot"), 6))).as("dup3_frac"))
  }

  /** DSIR-style importance weight (Xie et al. 2023, simplified to unigram
    * LMs): per-document sum of log p_target(tok)/p_corpus(tok), both
    * add-one-smoothed over the corpus vocabulary. Positive = looks like
    * the target domain; the weight drives importance resampling of a raw
    * crawl toward a curated distribution.
    *
    * Determinism: the per-token log-ratio is rounded to 6 places and
    * summed as DECIMAL(18,6) (the q62 pattern) so the per-doc score is
    * exact and independent of addition order — float summation order
    * differs across partitionings and engines.
    *
    * Scale shape: token-frequency tables are one shuffle each (shared scan
    * via the `_tgt` flag — no second corpus pass); the ratio table joins
    * back on the token with no broadcast hint (a real vocabulary outgrows
    * a broadcast — AQE decides). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: org.apache.spark.sql.Column): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), isTarget.as("_tgt"),
      explode(T.tokens(col(textCol))).as("tok"))
    val cf = toks.groupBy("tok").agg(
      count(lit(1)).as("c_all"),
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("c_tgt"))
    val totals = cf.agg(sum(col("c_all")).as("n_all"),
      sum(col("c_tgt")).as("n_tgt"), count(lit(1)).as("v"))
    val ratio = cf.crossJoin(totals).select(col("tok"),
      round(log(
        ((col("c_tgt") + 1).cast("double") / (col("n_tgt") + col("v"))) /
          ((col("c_all") + 1).cast("double") / (col("n_all") + col("v")))), 6)
        .cast("decimal(18,6)").as("r"))
    toks.join(ratio, "tok")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("r")).as("_s"))
      .select(col("id"), col("n_toks"),
        round(col("_s").cast("double"), 6).as("dsir_score"),
        (col("_s") > 0).as("target_like"))
  }

  /** Inverted-index build: term → document-frequency + sorted posting
    * list, for terms inside a df band (drop hapaxes below `minDf`, drop
    * stop-like terms above `maxDf`) — the retrieval-index step behind
    * contamination lookup and hard-negative mining.
    *
    * Scale shape: per-doc `array_distinct` before the explode bounds rows
    * at distinct-terms-per-doc; one shuffle on the term. The df band caps
    * posting-list length (maxDf), so `collect_list` state is bounded —
    * without a band, posting lists of stopwords would be corpus-sized and
    * need positional sharding instead. */
  def postingLists(docs: DataFrame, idCol: String,
                   terms: org.apache.spark.sql.Column,
                   minDf: Int, maxDf: Int): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, "need 1 <= minDf <= maxDf")
    docs
      .select(col(idCol).as("id"),
        explode(array_distinct(terms)).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("id"))).as("postings"))
      .filter(col("df").between(minDf, maxDf))
  }

  /** Model-based quality score: a fixed-weight logistic model over the
    * single-pass token statistics (length, mean token length, stopword
    * ratio, alpha-token share) — the shape of a fastText/linear quality
    * classifier applied at scan speed, with the (normally trained) weights
    * pinned so the score is reproducible. Returns a column in (0, 1);
    * token-less docs score 0.
    *
    * Scale shape: pure scan-stage expressions off ONE TokenStats pass
    * (codegen subexpression elimination merges the repeated struct). */
  def qualityLogit(text: org.apache.spark.sql.Column,
                   stopwords: Seq[String]): org.apache.spark.sql.Column = {
    val ts = T.tokenStats(text)
    val n = ts.getField("ws_tokens")
    val nd = n.cast("double")
    val avgLen = ts.getField("nonspace_chars").cast("double") / nd
    val stopR = T.vocabHitsText(text, stopwords).cast("double") / nd
    val alphaR = ts.getField("alpha_tokens").cast("double") / nd
    val z = lit(-3.0) +
      least(nd / 200.0, lit(1.0)) * 2.0 +
      stopR * 4.0 +
      alphaR * 1.5 +
      (avgLen - lit(5.0)) * -0.3
    when(n === 0, lit(0.0)).otherwise(lit(1.0) / (lit(1.0) + exp(-z)))
  }

  /** Token-budget corpus selection: keep the highest-quality documents
    * whose token counts fit, whole, inside `budget` — the "best N tokens"
    * subsetting step of a data mix. Selection order is (score desc, id)
    * — made total by the id tiebreak — and a document is kept iff every
    * strictly-better document plus itself fits.
    *
    * Scale shape: the running total over the score order uses
    * [[CorpusOps.blockedPrefixSum]] with the score quantized into
    * `scoreBlocks` buckets as the block key (monotone in the order:
    * equal scores share a bucket), so no corpus-wide single-task window
    * exists — the global pass touches only per-bucket totals. */
  def budgetSelect(docs: DataFrame, idCol: String, textCol: String,
                   score: org.apache.spark.sql.Column, budget: Long,
                   scoreBlocks: Int = 64): DataFrame =
    budgetSelectOnCounts(docs.select(col(idCol).as("id"),
        T.tokenStats(col(textCol)).getField("ws_tokens").cast("long").as("n_toks"),
        score.as("_q")),
      budget, scoreBlocks)

  /** [[budgetSelect]] over PRE-COUNTED rows `(id, n_toks LONG, _q)` — the
    * form for callers that already carry the token count, so the document
    * text never reaches this operator's exchanges (decide with small rows;
    * the text column stays behind in the caller's scan stage). */
  def budgetSelectOnCounts(base: DataFrame, budget: Long,
                           scoreBlocks: Int = 64): DataFrame = {
    require(budget >= 0 && scoreBlocks >= 1, "budget/scoreBlocks must be >= 0/1")
    // block ascending == score descending; floor keeps equal scores together
    val blk = floor((lit(1.0) - col("_q")) * scoreBlocks).cast("long")
    CorpusOps.blockedPrefixSum(base, blk,
        Seq(col("_q").desc, col("id")), col("n_toks"))
      .filter(col("cum_before") + col("n_toks") <= budget)
      .select(col("id"), col("_q").as("score"), col("n_toks"), col("cum_before"))
  }

  /** Pick the best representative of each duplicate group: given
    * components (id, comp) from [[DupGroups.connectedComponents]] and a
    * per-id score, keep the HIGHEST-scoring member (smallest id on ties) —
    * the dedup policy that keeps the cleanest copy instead of the
    * min-id one. One aggregation (max_by over a struct order), no window.
    *
    * Returns (component, size, keeper_id, keeper_score). */
  def bestOfGroup(components: DataFrame, scored: DataFrame,
                  idCol: String, scoreCol: String): DataFrame = {
    val s = scored.select(col(idCol).as("id"), col(scoreCol).as("_s"))
    components.join(s, "id")
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("size"),
        // min_by on (-score, id): highest score, then smallest id — and the
        // id needs no numeric negation, so string/any orderable ids keep the
        // documented deterministic tie-break.
        min_by(struct(col("id").as("kid"), col("_s").as("ks")),
          struct(-col("_s"), col("id"))).as("_k"))
      .select(col("comp").as("component"), col("size"),
        col("_k.kid").as("keeper_id"), col("_k.ks").as("keeper_score"))
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis 2006): each row draws u from ITS OWN hash
    * (layout-independent, engine-portable — never `rand()`), gets key
    * ln(u)/w, and the k largest keys win; inclusion probability is
    * proportional to weight, and the draw is reproducible bit-for-bit.
    * Weights must be strictly positive.
    *
    * Scale shape: the top-k is orderBy+limit — TakeOrdered, a map-side
    * partial top-k heap per task, never a global sort; the rank window
    * touches only the k winners. */
  def weightedSample(df: DataFrame, idCol: String,
                     weight: org.apache.spark.sql.Column, k: Int,
                     salt: String = "es"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = (graft.functions.Portable.hash32(
      concat(lit(salt + ":"), col(idCol).cast("string"))) + 1).cast("double") /
      lit(4294967297.0) // (h+1) / (2^32 + 1) ∈ (0, 1)
    // Rounded to 6 BEFORE the top-k cut (the repo's cross-engine pattern):
    // JVM Math.log and another engine's libm may differ in the last ulp, and
    // ordering on the raw double would let that flip the k-th rank.
    val keyed = df.withColumn("es_key", round(log(u) / weight, 6))
    val top = keyed.orderBy(col("es_key").desc, col(idCol)).limit(k)
    val w = Window.orderBy(col("es_key").desc, col(idCol))
    top.withColumn("rank", row_number().over(w))
  }

  /** Exact-k stratified simple random sample: per stratum, EXACTLY
    * min(k, |stratum|) rows, chosen by ranking the stratum's rows on a
    * salted md5 of the id (a deterministic uniform permutation — same
    * family as hashSplit, so the pick reproduces across engines, runs,
    * and partitionings). Fractional sampling (stratifiedSample) can't
    * promise a sample SIZE; evaluation sets and human-review batches
    * need one.
    *
    * Scale shape: one shuffle on the stratum for the rank window. For
    * k ≪ stratum this is the window-rank form; if a stratum is a
    * monster partition, the same semantics run as a per-stratum top-k
    * (TakeOrdered) — see weightedSample's heap note. */
  def exactKSample(df: DataFrame, idCol: String, stratumCol: String, k: Int,
                   salt: String = "srs"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val key = md5(concat(lit(salt + ":"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(key, col(idCol)) // full-md5 order; id tiebreak for safety
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Crawl-snapshot diff: full-outer join of two snapshots on the id,
    * comparing normalized content hashes — (id, status) with status in
    * added / removed / changed / unchanged. The incremental-ingestion
    * planner's input: only added+changed need reprocessing.
    *
    * Scale shape: one full-outer shuffle join on the id carrying 16-byte
    * hashes, never document text. */
  def snapshotDelta(oldSnap: DataFrame, newSnap: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol).as("id"),
      Dedup.contentHash(col(textCol)).as("_ho"))
    val n = newSnap.select(col(idCol).as("id"),
      Dedup.contentHash(col(textCol)).as("_hn"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("_ho").isNull, "added")
          .when(col("_hn").isNull, "removed")
          .when(col("_ho") =!= col("_hn"), "changed")
          .otherwise("unchanged"))
      .select(col("id"), col("status"))
  }

  /** DuckDB twin of [[qualityLogit]] — expects `text` and a `toks` column
    * (the [[TextPack.toksSql]] split) in scope. ONE definition of the
    * weights, interpolated into both engines' plans. */
  /** Preference-pair aggregation (the DPO/RLHF dataset shape): per group,
    * chosen = the max-quality member and rejected = the min-quality member,
    * realized as ONE max_by/min_by aggregation (map-side partial, no rank
    * window). Tie-breaks: chosen always takes the smallest id among the
    * maxima; rejected takes the smallest id among the minima when
    * `rejectedMinId` (the q195 contract), or the LARGEST when false (the
    * q201 capstone uses max-id so an upstream dedup regression surfaces
    * re-crawl ids in the output). Groups without a strict preference
    * (n < 2 or zero margin) are dropped. Input needs (groupCols..., idCol,
    * qualCol); output: groupCols + (n_docs, chosen_id, q_max, rejected_id,
    * q_min). */
  def preferencePairs(df: DataFrame, groupCols: Seq[String], idCol: String,
                      qualCol: String, rejectedMinId: Boolean = true): DataFrame = {
    val rejTie = if (rejectedMinId) col(idCol) else -col(idCol)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        max_by(col(idCol), struct(col(qualCol), -col(idCol))).as("chosen_id"),
        max(col(qualCol)).as("q_max"),
        min_by(col(idCol), struct(col(qualCol), rejTie)).as("rejected_id"),
        min(col(qualCol)).as("q_min"))
      .filter(col("n_docs") >= 2 && col("q_max") > col("q_min"))
  }

  /** Per-group (n, s1 = Σrm, s2 = Σrm² as DECIMAL(38,0)) of an integer
    * reward: q216's aggregate, which [[graft.streaming.StreamingGroupStats]]
    * runs in Update mode. A NULL rm is counted in n, skipped by the sums. */
  def rewardStats(df: DataFrame, groupCols: Seq[String], rmCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(rmCol)).as("s1"),
        sum((col(rmCol) * col(rmCol)).cast("decimal(38,0)")).as("s2"))

  def qualityLogitSql(stopwords: Seq[String]): String = {
    val hits = s"len(list_filter(toks, t -> t IN (${stopwords.map(w => s"'$w'").mkString(", ")})))"
    s"""CASE WHEN len(toks) = 0 THEN 0.0 ELSE
       |  1.0 / (1.0 + exp(-(-3.0
       |    + least(len(toks) / 200.0, 1.0) * 2.0
       |    + (CAST($hits AS DOUBLE) / len(toks)) * 4.0
       |    + (CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS DOUBLE) / len(toks)) * 1.5
       |    + ((CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(toks)) - 5.0) * -0.3)))
       |END""".stripMargin
  }
}
