package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.functions.Portable
import graft.sources.Tables

/** Dedup operators as driver-contract queries. The documents corpus has no
  * exact duplicates, so each query injects a deterministic "re-crawl": a
  * copy of every (or every 5th) document with id+100000. The operators must
  * then rediscover exactly those pairs/clusters.
  */
object DedupPack extends QueryPack {

  val CopyOffset = 100000L

  /** Jaccard threshold for the prefix-filtered join (q141). */
  val PrefixT = 0.5

  /** documents ∪ shifted copy of documents. */
  def withCopies(spark: SparkSession, dir: String, mod: Int = 1): DataFrame = {
    val d = Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") % mod === 0)
    d.union(d.select((col("doc_id") + CopyOffset).as("doc_id"), col("text")))
  }

  def withCopiesSql(mod: Int = 1): String =
    s"""SELECT doc_id, text FROM documents WHERE doc_id % $mod = 0
       |UNION ALL
       |SELECT doc_id + $CopyOffset AS doc_id, text FROM documents WHERE doc_id % $mod = 0""".stripMargin

  /** Per LSH candidate pair of the q31 frame, signature agreement beside
    * the exact Jaccard: (doc_a, doc_b, n_shared, jaccard, n_agree) — the
    * input of the q180 estimate audit and the q191 sweep. */
  private def agreeVsExact(s: SparkSession, dir: String, numHashes: Int): DataFrame = {
    // ONE checkpoint of (doc_id, shs, sig): the bands read the signature,
    // and the verify's two side joins bring each pair both shingle sets
    // AND both signatures (sig_a, sig_b), so the estimate needs no joins
    // of its own. Documents without a signature (no shingle) have no
    // candidate and drop here.
    val docs = Dedup.shingleSets(withCopies(s, dir, mod = 2), 3)
      .withColumn("sig", Dedup.minhash(col("shs"), numHashes))
      .filter(col("sig").isNotNull)
      .localCheckpoint()
    val cand = Dedup.lshCandidates(Dedup.lshBands(docs, numHashes, 4))
    Dedup.jaccard(cand, docs)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("jaccard"),
        Dedup.sigAgreement(col("sig_a"), col("sig_b")).as("n_agree"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash-groupBy on normalized content.
    "q30_exact_dedup" -> ((s, dir) => {
      Dedup.exact(withCopies(s, dir))
        .select(col("content_hash"), col("keeper"), col("n_copies"))
        .orderBy("keeper")
    }),

    // Incremental dedup maintenance: today's delta ingest (all re-crawled
    // copies + every 10th original) screened against the deduped base and
    // itself via Dedup.deltaMinhashLsh — candidates never pair base×base,
    // so a daily run costs the delta's collisions, not the corpus
    // history's. Emits both pair kinds (delta-base cross dups = "this
    // re-crawl duplicates the archive"; delta-delta = "today's batch
    // duplicates itself") — the routing decision an ingest pipeline
    // makes. Same corpus and parameters as q31, so the batch run defines
    // ground truth: DedupSpec pins q234 ≡ q31 restricted to pairs with a
    // delta endpoint.
    "q234_delta_dedup" -> ((s, dir) => {
      val all = withCopies(s, dir, mod = 2)
      def isDelta(c: org.apache.spark.sql.Column) =
        c >= CopyOffset || c % 10 === 0
      val pairs = Dedup.deltaMinhashLsh(
        all.filter(!isDelta(col("doc_id"))),
        all.filter(isDelta(col("doc_id"))),
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
      pairs.select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 6).as("jaccard"),
          when(isDelta(col("doc_a")) && isDelta(col("doc_b")),
            lit("delta-delta")).otherwise(lit("delta-base")).as("pair_kind"))
        .orderBy("doc_a", "doc_b")
    }),

    // MinHash + LSH near-dup candidates, Jaccard-verified.
    "q31_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLsh(withCopies(s, dir, mod = 2), shingleN = 3,
        numHashes = 16, bands = 4, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // LSH recall audit: the banded-MinHash pipeline measured against the
    // exact shared-shingle Jaccard ground truth on the SAME frame and
    // shingle table. Verified-LSH pairs are a subset of the exact pairs by
    // construction, so the numbers that matter are recall (pairs whose
    // bands never collided) and candidate precision (how much the verify
    // stage pruned). Every output is an integer count or an exact ratio of
    // two counts — no float-order hazard. The ground-truth side is the
    // Σ df(shingle)² self-join, affordable at audit-sample scale (at
    // 100 TB you run this audit on a stratified sample, not the corpus —
    // the operator composes with CorpusOps.stratifiedSample unchanged).
    "q116_dedup_recall_audit" -> ((s, dir) => {
      // EAGER checkpoints: the four metric aggregates below are
      // independent stages of one job — a lazy checkpoint lets them race
      // to compute the shared shingle/candidate pipeline concurrently
      // (duplicating the Σ df² self-join) instead of reading blocks
      val sets = Dedup.shingleSets(withCopies(s, dir, mod = 2), 3)
        .localCheckpoint() // four consumers below share one pipeline
      val cand = Dedup.lshCandidates(
        Dedup.lshBands(Dedup.signatures(sets, 16), 16, 4))
        .localCheckpoint() // consumed by n_cand AND the verify join
      val exact = Dedup.allPairsJaccardOn(Dedup.shingleRows(sets))
        .filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b").localCheckpoint()
      // verified-LSH pairs = candidates whose exact Jaccard clears the
      // threshold, and the exact table already holds EVERY pair that
      // clears it — so the verify stage is a pair-key semi-join against
      // it; a candidate verify (Dedup.jaccard(cand, sets)) would
      // recompute the same numbers
      val lsh = cand.join(exact, Seq("doc_a", "doc_b"), "left_semi")
        .localCheckpoint()
      val m = cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(lsh.join(exact, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_both")))
      m.select(col("n_cand"), col("n_lsh"), col("n_exact"), col("n_both"),
        round(col("n_both").cast("double") / col("n_exact"), 6).as("recall"),
        round(col("n_lsh").cast("double") / col("n_cand"), 6).as("cand_precision"))
    }),

    // MinHash ESTIMATE-accuracy audit: the q116 audit checks which pairs
    // LSH finds; this one checks what the signature CLAIMS about them —
    // per candidate pair, estimated Jaccard (agreeing components / 16)
    // against the exact shared-shingle Jaccard. The estimate is what a
    // signature-only pipeline (no shingle re-join) would threshold on at
    // 100 TB, so its error distribution decides whether 16 hashes are
    // enough or the verify join stays mandatory. n_agree is an integer,
    // both ratios are snapped from identically-shaped doubles — exact
    // cross-engine. Cost: candidates × one 16-long array compare (no
    // shingle blow-up on the estimate side).
    "q180_minhash_estimate" -> ((s, dir) => {
      val H = 16
      agreeVsExact(s, dir, H)
        .select(col("doc_a"), col("doc_b"), col("n_agree"),
          Portable.snap6(col("n_agree").cast("double") / H).as("est_jaccard"),
          col("n_shared"),
          Portable.snap6(col("jaccard")).as("exact_jaccard"),
          Portable.snap6(abs(col("n_agree").cast("double") / H
            - col("jaccard"))).as("abs_err"))
        .orderBy("doc_a", "doc_b")
    }),

    // Operating-point sweep for signature-only dedup: q180 measures the
    // MinHash estimate's error; this query turns it into the
    // precision/recall curve vs the exact-Jaccard ground truth
    // (dup := exact >= 0.5) at estimate thresholds 0.1..0.9 — the table
    // you read to CHOOSE the threshold (and to decide whether the exact
    // verify join can be dropped at 100 TB). One pass over the candidate
    // pairs crossed with 9 threshold literals; counts are integers,
    // ratios snapped, empty cells NULL in both engines.
    "q191_minhash_pr" -> ((s, dir) => {
      val H = 16
      val pairs = agreeVsExact(s, dir, H)
        .select((col("n_agree").cast("double") / H).as("est"),
          (col("jaccard") >= 0.5).as("actual"))
      pairs
        .withColumn("thr",
          explode(array((1 to 9).map(i => lit(i / 10.0)): _*)))
        .groupBy("thr").agg(
          sum(when(col("est") >= col("thr") && col("actual"), 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("est") >= col("thr") && !col("actual"), 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("est") < col("thr") && col("actual"), 1L)
            .otherwise(0L)).as("fn"))
        .select(col("thr"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0, Portable.snap6(
            col("tp").cast("double") / (col("tp") + col("fp")))).as("prec"),
          when(col("tp") + col("fn") > 0, Portable.snap6(
            col("tp").cast("double") / (col("tp") + col("fn")))).as("rec"))
        .orderBy("thr")
    }),

    // Mergeable per-source MinHash sketches: one 16-long signature per
    // SOURCE (min over the source's whole 5-gram shingle set) estimates
    // every pairwise source Jaccard from sketch agreement alone —
    // q117's exact matrix needs the shared-shingle self-join, while the
    // sketch path compares 16 longs per source pair. The sketch IS the
    // merge: the element-wise min of the source's per-document row
    // signatures (min is associative), which is what lets a 100 TB
    // pipeline keep per-shard sketches and fold them at the end without
    // re-reading data. The exact Jaccard rides along as the accuracy
    // audit (abs_err is what you accept for the cheap path).
    "q185_source_sketch" -> ((s, dir) => {
      val H = 16
      val sets = Dedup.shingleSets(
          Tables.table(s, dir, "documents").select(col("source"), col("text")),
          5, id = "source")
        .localCheckpoint() // sketch + exact-verify share the tokenize
      val sh = Dedup.shingleRows(sets, "source")
        .distinct() // ids repeat per source — shingleSets() dedups per ROW
        .localCheckpoint() // counts + pair counts share it
      val sigs = Dedup.signatures(sets, H, "source")
        .groupBy("source").agg(Dedup.minhashMerge(col("sig"), H).as("sig"))
      val est = sigs.select(col("source").as("src_a"), col("sig").as("siga"))
        .join(sigs.select(col("source").as("src_b"), col("sig").as("sigb")),
          col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          Dedup.sigAgreement(col("siga"), col("sigb")).as("n_agree"))
      // set-expansion pair counting (Dedup.sharedPairCounts): the K²
      // source pairs combine map-side instead of shuffling Σ df² rows
      val shared = Dedup.sharedPairCounts(sh)
      val exact = Dedup.jaccardRatio
      Dedup.withSetSizes(
          est.join(shared, Seq("src_a", "src_b"), "left")
            .na.fill(0L, Seq("n_shared")),
          Dedup.setSizes(sh, "source"), "source", "src_a", "src_b")
        .select(col("src_a"), col("src_b"), col("n_agree"),
          Portable.snap6(col("n_agree").cast("double") / H).as("est_jaccard"),
          Portable.snap6(exact).as("exact_jaccard"),
          Portable.snap6(abs(col("n_agree").cast("double") / H - exact))
            .as("abs_err"))
        .orderBy("src_a", "src_b")
    }),

    // Cross-source contamination matrix: for every source pair, how many
    // distinct 5-gram shingles they share, normalized by the smaller
    // source's shingle set (the containment direction that catches a
    // small source embedded in a big one). The self-join runs on DISTINCT
    // (source, shingle) rows — Σ_sh (#sources carrying sh)² ≤ 400 per
    // shingle — never on documents, so the matrix costs the same as one
    // vocabulary aggregation regardless of corpus size.
    "q117_source_overlap" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents").select(col("source"), col("text"))
      val sh = Dedup.shingles(docs, 5, id = "source")
        .distinct() // ids repeat per source — shingles() dedups per ROW
        .localCheckpoint()
      Dedup.withSetSizes(Dedup.sharedPairCounts(sh), Dedup.setSizes(sh, "source"),
          "source", "src_a", "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
          round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 6)
            .as("overlap"))
        .orderBy("src_a", "src_b")
    }),

    // Per-document 16-bit SimHash.
    "q32_simhash" -> ((s, dir) => {
      Dedup.simhash(Tables.table(s, dir, "documents"), bits = 16)
        .orderBy("doc_id")
    }),

    // Exact n-gram Jaccard over all pairs of a blocked subset — via the
    // shared-shingle self-join, so only pairs with overlap are scored.
    "q33_ngram_jaccard" -> ((s, dir) => {
      val docs = withCopies(s, dir, mod = 5)
      val sh = Dedup.shingles(docs, n = 3)
      Dedup.allPairsJaccard(sh)
        .filter(col("jaccard") >= 0.3)
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // Prefix-filtered threshold Jaccard: the LOSSLESS candidate pruner —
    // the oracle is the EXACT all-pairs join at the same threshold, so a
    // single missing or extra pair fails the hash. Candidates come only
    // from each document's rarest (n − ⌈t·n⌉ + 1) shingles.
    "q141_prefix_jaccard" -> ((s, dir) => {
      val docs = withCopies(s, dir, mod = 5)
      val sh = Dedup.shingles(docs, n = 3)
      Dedup.prefixFilterJaccard(sh, threshold = PrefixT)
        .select(col("doc_a"), col("doc_b"),
          col("n_shared").cast("long").as("n_shared"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // Decontamination: word-5-gram overlap of an eval split against the
    // train split; planted verbatim copies of train docs must come out
    // contaminated, the organic eval split must not.
    "q56_contamination" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents").select(col("doc_id"), col("text"))
      val train = d.filter(col("doc_id") % 10 =!= 9)
      val evalSet = d.filter(col("doc_id") % 10 === 9)
        .unionAll(d.filter(col("doc_id") % 20 === 6)
          .select((col("doc_id") + PlantOffset).as("doc_id"), col("text")))
      Decontaminate.overlap(train, evalSet, n = 5, threshold = 0.5)
        .orderBy("doc_id")
    }),

    // Bloom-filter membership screen: the broadcastable alternative to the
    // q72 anti-join shape. The reference split's content hashes fill a
    // graft_bloom_agg sketch (a few hundred KB at ANY corpus scale for a
    // fixed capacity); the probe is then a scan-stage expression on the
    // corpus side — no shuffle of the probe side at all. Gates: the Bloom
    // no-false-negative guarantee must hold exactly, and the false-positive
    // count stays under 2x the design fpp (0.01 at well under capacity).
    "q86_bloom_screen" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents").select(col("doc_id"), col("text"))
      val sketch = d.filter(col("doc_id") % 7 === 0)
        .select(Dedup.contentHash(col("text")).as("h"))
        .agg(expr("graft_bloom_agg(h, 65536, 0.01d)").as("bloom"))
      val probes = d
        .select(col("doc_id"), Dedup.contentHash(col("text")).as("h"),
          (col("doc_id") % 7 === 0).as("is_ref"))
        .crossJoin(broadcast(sketch))
        .select(col("is_ref"), expr("graft_bloom_probe(bloom, h)").as("hit"))
      probes.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        bool_and(!col("is_ref") || col("hit")).as("no_false_negatives"),
        (sum(when(col("hit") && !col("is_ref"), 1L).otherwise(0L)) <=
          ceil(sum(when(!col("is_ref"), 1L).otherwise(0L)) * 0.02)).as("fp_ok"))
    }),

    // Duplicated-span coverage (the exact-substring-dedup signal of Lee et
    // al. 2022 at window granularity): per document, the fraction of its
    // distinct 8-token windows that also occur in ANOTHER document. The
    // frame is the FULL corpus plus copies of every 6th doc — copied docs
    // (and their copies) must score 1.0 while the uncopied majority
    // exercises the organic near-zero side, so a broken df count cannot
    // hide. Scale shape: one shuffle keyed on the window text for the
    // document-frequency table, one join back — cost Σ df(window), never
    // |docs|²; at 100 TB key on a 64-bit window hash instead of the
    // string to shrink the exchange.
    "q88_dup_spans" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents").select(col("doc_id"), col("text"))
      val frame = d.unionAll(d.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + CopyOffset).as("doc_id"), col("text")))
      val sh = Dedup.shingles(frame, n = 8).localCheckpoint()
      val df = sh.groupBy(col("sh")).agg(count_distinct(col("doc_id")).as("nd"))
      sh.join(df, "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          round(col("n_dup_spans").cast("double") / col("n_spans"), 6)
            .as("dup_coverage"))
        .orderBy("doc_id")
    }),

    // Template-level dedup — normalization-INVARIANT exact dedup: crawls
    // are full of template pages identical up to the numbers in them
    // (prices, ids, dates, counters), which content-hash dedup cannot
    // group. Folding digit runs to '0' before hashing collapses each
    // template family to one key; the output separates byte-identical
    // copies (n_distinct_raw = 1) from true template families
    // (n_distinct_raw > 1 — the rows only THIS pass can find). Frame
    // plants both: byte copies of every 9th doc, digit-mutated copies of
    // every 7th. Same one-shuffle-on-hash shape as q30.
    "q210_template_dedup" -> ((s, dir) => {
      // every page carries a numeric field (the fixture texts are
      // digit-free, so the render stamps one in — crawl pages always
      // have counters/ids); re-crawls of every 7th page differ ONLY in
      // that number, byte re-ingests of every 9th not at all
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" ref="),
            (col("doc_id") % 90).cast("string")).as("text"))
      val frame = d
        .unionAll(d.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + CopyOffset).as("doc_id"), col("text")))
        .unionAll(Tables.table(s, dir, "documents")
          .filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2 * CopyOffset).as("doc_id"),
            concat(col("text"), lit(" ref="),
              (col("doc_id") % 90 + 1000).cast("string")).as("text")))
      frame
        .select(col("doc_id"),
          md5(regexp_replace(
            graft.functions.TextFunctions.normalize(col("text")),
            "[0-9]+", "0"))
            .as("template_hash"),
          md5(col("text")).as("raw_hash"))
        .groupBy("template_hash")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("raw_hash")).as("n_distinct_raw"),
          min(col("doc_id")).as("keeper"))
        .filter(col("n_docs") > 1)
        .select(col("keeper"), col("n_docs"), col("n_distinct_raw"),
          (col("n_distinct_raw") > 1).as("template_only"))
        .orderBy("keeper")
    }),

    // Duplication LOCALITY accounting: of all exact-dup pairs, how many
    // live WITHIN one source vs ACROSS sources — the number that decides
    // whether per-source (cheap, shardable by source) dedup suffices or
    // the shuffle must be global. Frame plants both kinds: every 6th doc
    // re-ingested under its own source, every 10th under a 'recrawl'
    // source. Pair counts come from two grouped aggregations over
    // (hash, source) counts — C(n,2) arithmetic, never a pair self-join
    // (the q175 shape), so cost is independent of clique sizes.
    "q207_dup_locality" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val frame = d
        .unionAll(d.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + CopyOffset).as("doc_id"),
            col("source"), col("text")))
        .unionAll(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 2 * CopyOffset).as("doc_id"),
            lit("recrawl").as("source"), col("text")))
      val keyed = frame.select(md5(col("text")).as("h"), col("source"))
      val perHS = keyed.groupBy("h", "source").agg(count(lit(1)).as("ns"))
      val perH = perHS.groupBy("h").agg(
        sum(col("ns")).as("n"),
        sum(expr("(ns * (ns - 1)) div 2")).as("within_pairs"))
      perH.filter(col("n") > 1)
        .agg(count(lit(1)).as("n_groups_multi"),
          sum(expr("(n * (n - 1)) div 2")).as("n_pairs"),
          sum(col("within_pairs")).as("n_within"),
          sum(expr("(n * (n - 1)) div 2") - col("within_pairs"))
            .as("n_cross"))
        .withColumn("frac_cross",
          round(col("n_cross").cast("double") / col("n_pairs"), 6))
    }),

    // Arrival-order n-gram novelty: per document, the fraction of its
    // distinct 3-grams no EARLIER document (lower doc_id = earlier
    // arrival) already contained — the marginal-diversity signal a
    // dedup'd corpus still needs (a doc can be 0% duplicate yet 0% novel
    // when its phrasing is fully covered by predecessors; dedup keeps it,
    // a diversity-budgeted mix downweights it). One shuffle on the gram
    // hash for the global first-seen table (min partial-aggregates
    // map-side), joined back to the per-doc grams — cost Σ df, never
    // pairwise.
    "q205_ngram_novelty" -> ((s, dir) => {
      // The join-back of the wide gram table to the first-seen table is
      // gone (VERDICT r7 task 5): a gram is novel for EXACTLY the doc
      // that is its global min, so per-doc novel counts come from the
      // first-seen table ALONE (groupBy first_id) and per-doc totals
      // from a count — the gram table crosses one shuffle per
      // aggregation and never rides a join. The final stitch joins two
      // doc-sized aggregates on doc_id (the left side already
      // partitioned by it). Eager pin (fleet rule: multi-consumer
      // checkpoint): the two consumers partition on DIFFERENT keys
      // (doc_id vs gh), so ReuseExchange can no longer share the shingle
      // pipeline the way the old same-key shape did; one materialization
      // feeds both. (Re-measured r8 on this shape, closing the old
      // "no-pin was 40% faster" note that applied to the join form:
      // cold 12.9 → ~4 s at sf0.1.)
      val sh = Dedup.shingles(
        Tables.table(s, dir, "documents").select(col("doc_id"), col("text")), 3)
        .select(col("doc_id"), md5(col("sh")).as("gh"))
        .localCheckpoint()
      val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val novel = sh.groupBy("gh").agg(min(col("doc_id")).as("first_id"))
        .groupBy(col("first_id").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          round(coalesce(col("n_novel"), lit(0L)).cast("double")
            / col("n_grams"), 6).as("novelty"))
        .orderBy("doc_id")
    }),

    // Maximal duplicated-span runs: q88 counts WHICH 8-token windows are
    // shared; this merges consecutive shared window starts into maximal
    // spans (Lee et al. exact-substring granularity) — a verbatim L-token
    // quote is ONE run covering L tokens, so max_span_toks is the length
    // of the longest verbatim duplication per doc, the number a
    // remove-the-span (rather than drop-the-doc) dedup policy cuts on.
    "q192_dup_runs" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents").select(col("doc_id"), col("text"))
      val frame = d.unionAll(d.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + CopyOffset).as("doc_id"), col("text")))
      Dedup.dupRuns(frame, w = 8)
        .select(col("doc_id"), col("n_runs"), col("n_shared_windows"),
          col("max_run"), col("max_span_toks"))
        .orderBy("doc_id")
    }),

    // Dup-group clustering: connected components over the q31 near-dup
    // pairs — transitive closure turns the pair list into keep/drop groups.
    "q57_dup_groups" -> ((s, dir) => {
      val pairs = Dedup.minhashLsh(withCopies(s, dir, mod = 2), shingleN = 3,
        numHashes = 16, bands = 4, threshold = 0.5)
      DupGroups.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy("doc_id")
    }),

    // Best-of-group dedup: keep the HIGHEST-quality member of each dup
    // cluster, not the min id — the re-crawl copies carry extra stopwords
    // (higher quality score), so keepers must be the COPIES, proving the
    // policy actually picks by score.
    "q78_best_of_group" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents").select(col("doc_id"), col("text"))
      val boosted = d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + CopyOffset).as("doc_id"),
          concat(col("text"), lit(BoostSuffix)).as("text"))
      val frame = d.unionAll(boosted)
      val pairs = Dedup.minhashLsh(frame, shingleN = 3,
        numHashes = 16, bands = 4, threshold = 0.5)
      val comps = DupGroups.connectedComponents(pairs)
      val scored = frame.select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text"),
          TextPack.stopwords).as("q"))
      Selection.bestOfGroup(comps, scored, "doc_id", "q")
        .select(col("component"), col("size"), col("keeper_id"),
          Portable.snap6(col("keeper_score")).as("keeper_q"))
        .orderBy("component")
    }),

    // SimHash near-dup by banded Hamming search (32-bit signatures, 4
    // bands of 8 bits): candidates from an equi-join on exact band
    // chunks (pigeonhole covers Hamming <= 3), popcount verify on
    // candidates only. Mutated re-crawls (one appended token) land a few
    // bits away; organic pairs at Hamming <= 3 in 32-bit space are rare.
    "q84_simhash_dedup" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents").select(col("doc_id"), col("text"))
      val frame = d.unionAll(d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + CopyOffset).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text")))
      Dedup.simhashNearDup(frame, maxHamming = 3, bands = 4, bits = 32)
        .orderBy("doc_a", "doc_b")
    }),

    // Asymmetric shingle containment: planted 13-token excerpts must come
    // out with containment 1.0 on the excerpt side even though their
    // Jaccard vs the source is far below any dedup threshold.
    "q80_containment" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .filter(col("doc_id") % 4 === 0).select(col("doc_id"), col("text"))
      val excerpts = d.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") + CopyOffset).as("doc_id"),
          array_join(slice(graft.functions.TextFunctions.tokens(col("text")),
            1, ExcerptTokens), " ").as("text"))
      val sh = Dedup.shingles(d.unionAll(excerpts), n = 3)
      Dedup.allPairsContainment(sh)
        .filter(greatest(col("containment_a"), col("containment_b")) >= 0.9)
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          round(col("containment_a"), 6).as("containment_a"),
          round(col("containment_b"), 6).as("containment_b"))
        .orderBy("doc_a", "doc_b")
    }),

    // Prefix-block sharing audit — the KV-cache/prefix-caching yield
    // curve: for each block size B, hash every document's FIRST B tokens
    // and measure how many docs share their opening block with another
    // doc. hit_rate = (docs − distinct blocks)/docs is exactly the cache
    // hit fraction of a prefix cache filled in any order (every block's
    // first doc misses, the rest hit). One shuffle per B on 16-byte
    // hashes — never text, never pairs; B values ride an exploded
    // 4-element literal, so the whole curve is a single aggregation
    // cascade.
    "q215_prefix_blocks" -> ((s, dir) => {
      Dedup.prefixBlocks(Tables.table(s, dir, "documents"), PrefixBlockSizes)
        .groupBy("block_len", "h").agg(count(lit(1)).as("c"))
        .groupBy("block_len")
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_blocks"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("n_shared_docs"))
        .select(col("block_len").cast("long").as("block_len"),
          col("n_docs"), col("n_blocks"), col("n_shared_docs"),
          Portable.snap6((col("n_docs") - col("n_blocks")).cast("double")
            / col("n_docs").cast("double")).as("hit_rate"))
        .orderBy("block_len")
    })
  )

  /** Quality-raising suffix for the q78 re-crawl copies (stopword-dense,
    * small enough that MinHash still pairs copy with original). */
  val BoostSuffix = " the of and a is"
  /** Prefix-cache block sizes (tokens) for the q215 yield curve. */
  val PrefixBlockSizes: Seq[Int] = Seq(2, 4, 8, 16)
  /** Excerpt width (tokens) for q80's planted quotes. */
  val ExcerptTokens = 13

  val PlantOffset = 200000L

  // ---- DuckDB twins --------------------------------------------------------

  /** CTE chain `hh, sig, bands, cand` (expects a CTE named `sh`):
    * minhash signatures → LSH bands → candidate pairs. Shared by the q31
    * oracle and the curation-pipeline oracle so the SQL can't desync. */
  def minhashCandCtes(numHashes: Int = 16, bands: Int = 4): String = {
    val h = Portable.hash32mSql("sh")
    val r = numHashes / bands
    val mins = (1 to numHashes).map(i => s"MIN(${Portable.permuteSql("h", i)}) AS m$i")
    val bandSelects = (0 until bands).map { b =>
      val cols = (1 to r).map(j => s"m${b * r + j}")
      s"SELECT doc_id, $b AS band, concat_ws(':', ${cols.mkString(", ")}) AS bkey FROM sig"
    }
    s"""hh AS (SELECT doc_id, sh, $h AS h FROM sh),
       |sig AS (SELECT doc_id, ${mins.mkString(", ")} FROM hh GROUP BY doc_id),
       |bands AS (${bandSelects.mkString("\nUNION ALL\n")}),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
       |         WHERE x.doc_id < y.doc_id)""".stripMargin
  }

  /** DuckDB twins of TextFunctions.normalize / Dedup.contentHash — the one
    * SQL definition of the canonical content hash. */
  def normalizeSql(text: String): String =
    s"lower(trim(regexp_replace($text, '\\s+', ' ', 'g')))"
  def contentHashSql(text: String): String = s"md5(${normalizeSql(text)})"

  /** CTE pair `counts, shared` (expects `sh` and `cand`) — the single
    * definition of per-doc shingle counts and shared-shingle counts that
    * every Jaccard tail builds on (q31, q33, the curation oracle). */
  def countsSharedCtes: String =
    s"""counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |shared AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
       |           FROM cand c
       |           JOIN sh sa ON sa.doc_id = c.doc_a
       |           JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
       |           GROUP BY 1, 2)""".stripMargin

  /** CTE chain `counts, shared, neardup` (expects `sh` and `cand`):
    * Jaccard-verified removal list — the DISTINCT doc_b of every pair at or
    * above the threshold. */
  def neardupRemovalCtes(threshold: Double): String =
    s"""$countsSharedCtes,
       |neardup AS (SELECT DISTINCT doc_b FROM shared
       |            JOIN counts ca ON ca.doc_id = doc_a
       |            JOIN counts cb ON cb.doc_id = doc_b
       |            WHERE CAST(n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - n_shared) >= $threshold)""".stripMargin

  /** Distinct word-`n`-gram shingles CTE body over docs(doc_id, text). */
  def shinglesSql(docsCte: String, n: Int = 3): String = {
    val toks = TextPack.toksSql("text")
    s"""SELECT DISTINCT doc_id, unnest(
       |  CASE WHEN len(toks) >= $n
       |       THEN list_transform(generate_series(1, len(toks) - ${n - 1}),
       |                           i -> array_to_string(list_slice(toks, i, i + ${n - 1}), ' '))
       |       ELSE CAST([] AS VARCHAR[]) END) AS sh
       |FROM (SELECT doc_id, $toks AS toks FROM $docsCte)""".stripMargin
  }

  private def jaccardTailSql(threshold: Double, extraCols: String = ""): String =
    s"""$countsSharedCtes,
       |j AS (SELECT doc_a, doc_b, n_shared,
       |             CAST(n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - n_shared) AS jaccard
       |      FROM shared JOIN counts ca ON ca.doc_id = doc_a
       |                  JOIN counts cb ON cb.doc_id = doc_b)
       |SELECT doc_a, doc_b,$extraCols ROUND(jaccard, 6) AS jaccard
       |FROM j WHERE jaccard >= $threshold ORDER BY doc_a, doc_b""".stripMargin

  def oracles: Map[String, String] = Map(

    "q215_prefix_blocks" -> {
      val perB = PrefixBlockSizes.map { b =>
        s"""SELECT $b AS block_len,
           |       md5(array_to_string(list_slice(toks, 1, $b), ' ')) AS h
           |FROM t WHERE len(toks) >= $b""".stripMargin
      }.mkString("\n UNION ALL\n")
      s"""WITH t AS (SELECT doc_id, ${TextPack.toksSql("text")} AS toks
         |           FROM documents),
         |e AS ($perB),
         |g AS (SELECT block_len, h, count(*) AS c FROM e GROUP BY 1, 2)
         |SELECT CAST(block_len AS BIGINT) AS block_len,
         |       CAST(sum(c) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_blocks,
         |       CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
         |         AS n_shared_docs,
         |       ${Portable.snap6Sql(
                   "CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)")}
         |         AS hit_rate
         |FROM g GROUP BY block_len ORDER BY block_len""".stripMargin
    },

    "q30_exact_dedup" ->
      s"""WITH docs AS (${withCopiesSql(1)})
         |SELECT ${contentHashSql("text")} AS content_hash,
         |       MIN(doc_id) AS keeper,
         |       CAST(COUNT(*) AS BIGINT) AS n_copies
         |FROM docs GROUP BY 1 ORDER BY keeper""".stripMargin,

    "q31_minhash_lsh" ->
      s"""WITH docs AS (${withCopiesSql(2)}),
         |sh AS (${shinglesSql("docs")}),
         |${minhashCandCtes()},
         |${jaccardTailSql(0.5)}""".stripMargin,

    "q234_delta_dedup" -> {
      val isD = (c: String) => s"($c >= $CopyOffset OR $c % 10 = 0)"
      s"""WITH docs AS (${withCopiesSql(2)}),
         |sh AS (${shinglesSql("docs")}),
         |${minhashCandCtes()},
         |cd AS (SELECT doc_a, doc_b FROM cand
         |       WHERE ${isD("doc_a")} OR ${isD("doc_b")}),
         |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |shared AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
         |           FROM cd c
         |           JOIN sh sa ON sa.doc_id = c.doc_a
         |           JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
         |           GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |             CAST(n_shared AS DOUBLE)
         |               / (ca.n_sh + cb.n_sh - n_shared) AS jaccard
         |      FROM shared JOIN counts ca ON ca.doc_id = doc_a
         |                  JOIN counts cb ON cb.doc_id = doc_b)
         |SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard,
         |       CASE WHEN ${isD("doc_a")} AND ${isD("doc_b")}
         |            THEN 'delta-delta' ELSE 'delta-base' END AS pair_kind
         |FROM j WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
    },

    "q180_minhash_estimate" -> {
      val agreeSum = (1 to 16)
        .map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END").mkString(" + ")
      val jraw = "CAST(n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - n_shared)"
      s"""WITH docs AS (${withCopiesSql(2)}),
         |sh AS (${shinglesSql("docs")}),
         |${minhashCandCtes()},
         |$countsSharedCtes,
         |agree AS (SELECT c.doc_a, c.doc_b, $agreeSum AS n_agree
         |          FROM cand c JOIN sig x ON x.doc_id = c.doc_a
         |                      JOIN sig y ON y.doc_id = c.doc_b)
         |SELECT s.doc_a AS doc_a, s.doc_b AS doc_b,
         |       CAST(a.n_agree AS BIGINT) AS n_agree,
         |       ${Portable.snap6Sql("CAST(a.n_agree AS DOUBLE) / 16")} AS est_jaccard,
         |       CAST(n_shared AS BIGINT) AS n_shared,
         |       ${Portable.snap6Sql(jraw)} AS exact_jaccard,
         |       ${Portable.snap6Sql(
             s"abs(CAST(a.n_agree AS DOUBLE) / 16 - ($jraw))")} AS abs_err
         |FROM shared s
         |JOIN counts ca ON ca.doc_id = s.doc_a
         |JOIN counts cb ON cb.doc_id = s.doc_b
         |JOIN agree a ON a.doc_a = s.doc_a AND a.doc_b = s.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "q191_minhash_pr" -> {
      val agreeSum = (1 to 16)
        .map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END").mkString(" + ")
      val thrList = (1 to 9).map(i => s"CAST(0.$i AS DOUBLE)").mkString(", ")
      s"""WITH docs AS (${withCopiesSql(2)}),
         |sh AS (${shinglesSql("docs")}),
         |${minhashCandCtes()},
         |$countsSharedCtes,
         |agree AS (SELECT c.doc_a, c.doc_b, $agreeSum AS n_agree
         |          FROM cand c JOIN sig x ON x.doc_id = c.doc_a
         |                      JOIN sig y ON y.doc_id = c.doc_b),
         |pairs AS (
         |  SELECT CAST(a.n_agree AS DOUBLE) / 16 AS est,
         |         (CAST(n_shared AS DOUBLE)
         |            / (ca.n_sh + cb.n_sh - n_shared)) >= 0.5 AS actual
         |  FROM shared s
         |  JOIN counts ca ON ca.doc_id = s.doc_a
         |  JOIN counts cb ON cb.doc_id = s.doc_b
         |  JOIN agree a ON a.doc_a = s.doc_a AND a.doc_b = s.doc_b),
         |thr AS (SELECT unnest([$thrList]) AS thr),
         |g AS (
         |  SELECT thr,
         |         CAST(sum(CASE WHEN est >= thr AND actual
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN est >= thr AND NOT actual
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN est < thr AND actual
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM pairs CROSS JOIN thr GROUP BY 1)
         |SELECT thr, tp, fp, fn,
         |       CASE WHEN tp + fp > 0 THEN ${Portable.snap6Sql(
             "CAST(tp AS DOUBLE) / (tp + fp)")} END AS prec,
         |       CASE WHEN tp + fn > 0 THEN ${Portable.snap6Sql(
             "CAST(tp AS DOUBLE) / (tp + fn)")} END AS rec
         |FROM g ORDER BY thr""".stripMargin
    },

    "q185_source_sketch" -> {
      val agreeSum = (1 to 16)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      val minCols = (1 to 16)
        .map(i => s"min(${Portable.permuteSql("h", i)}) AS m$i").mkString(", ")
      val jraw = "CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared)"
      s"""WITH docs AS (SELECT source AS doc_id, text FROM documents),
         |shs AS (SELECT doc_id AS source, sh FROM (${shinglesSql("docs", 5)})),
         |hh AS (SELECT source, ${Portable.hash32mSql("sh")} AS h FROM shs),
         |sig AS (SELECT source, $minCols FROM hh GROUP BY 1),
         |est AS (SELECT a.source AS src_a, b.source AS src_b,
         |               CAST($agreeSum AS BIGINT) AS n_agree
         |        FROM sig a JOIN sig b ON a.source < b.source),
         |counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh
         |           FROM shs GROUP BY 1),
         |sharedx AS (SELECT a.source AS src_a, b.source AS src_b,
         |                   CAST(count(*) AS BIGINT) AS n_shared
         |            FROM shs a JOIN shs b
         |              ON b.sh = a.sh AND a.source < b.source
         |            GROUP BY 1, 2),
         |p AS (SELECT e.src_a, e.src_b, e.n_agree,
         |             coalesce(s.n_shared, 0) AS n_shared,
         |             ca.n_sh AS n_a, cb.n_sh AS n_b
         |      FROM est e
         |      LEFT JOIN sharedx s
         |        ON s.src_a = e.src_a AND s.src_b = e.src_b
         |      JOIN counts ca ON ca.source = e.src_a
         |      JOIN counts cb ON cb.source = e.src_b)
         |SELECT src_a, src_b, n_agree,
         |       ${Portable.snap6Sql("CAST(n_agree AS DOUBLE) / 16")}
         |         AS est_jaccard,
         |       ${Portable.snap6Sql(jraw)} AS exact_jaccard,
         |       ${Portable.snap6Sql(
             s"abs(CAST(n_agree AS DOUBLE) / 16 - ($jraw))")} AS abs_err
         |FROM p ORDER BY src_a, src_b""".stripMargin
    },

    "q116_dedup_recall_audit" ->
      s"""WITH docs AS (${withCopiesSql(2)}),
         |sh AS (${shinglesSql("docs")}),
         |${minhashCandCtes()},
         |$countsSharedCtes,
         |lsh AS (SELECT doc_a, doc_b FROM shared
         |        JOIN counts ca ON ca.doc_id = doc_a
         |        JOIN counts cb ON cb.doc_id = doc_b
         |        WHERE CAST(n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - n_shared) >= 0.5),
         |sharedx AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS n_shared
         |            FROM sh sa JOIN sh sb ON sb.sh = sa.sh AND sa.doc_id < sb.doc_id
         |            GROUP BY 1, 2),
         |exact AS (SELECT doc_a, doc_b FROM sharedx
         |          JOIN counts ca ON ca.doc_id = doc_a
         |          JOIN counts cb ON cb.doc_id = doc_b
         |          WHERE CAST(n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - n_shared) >= 0.5),
         |m AS (SELECT (SELECT count(*) FROM cand) AS n_cand,
         |             (SELECT count(*) FROM lsh) AS n_lsh,
         |             (SELECT count(*) FROM exact) AS n_exact,
         |             (SELECT count(*) FROM lsh JOIN exact USING (doc_a, doc_b)) AS n_both)
         |SELECT n_cand, n_lsh, n_exact, n_both,
         |       round(CAST(n_both AS DOUBLE) / n_exact, 6) AS recall,
         |       round(CAST(n_lsh AS DOUBLE) / n_cand, 6) AS cand_precision
         |FROM m""".stripMargin,

    "q117_source_overlap" ->
      s"""WITH docs AS (SELECT source AS doc_id, text FROM documents),
         |shs AS (SELECT doc_id AS source, sh FROM (${shinglesSql("docs", 5)})),
         |counts AS (SELECT source, count(*) AS n_sh FROM shs GROUP BY 1),
         |p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |      FROM shs a JOIN shs b ON b.sh = a.sh AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared,
         |       ca.n_sh AS n_a, cb.n_sh AS n_b,
         |       round(CAST(n_shared AS DOUBLE) / least(ca.n_sh, cb.n_sh), 6)
         |         AS overlap
         |FROM p JOIN counts ca ON ca.source = src_a
         |       JOIN counts cb ON cb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin,

    "q32_simhash" -> {
      val sums = (0 until 16).map(b => s"SUM(((h >> $b) & 1) * 2 - 1) AS s$b")
      val sig = (0 until 16).map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, unnest(${TextPack.toksSql("text")}) AS tok FROM documents),
         |h AS (SELECT doc_id, ${Portable.hash32mSql("tok")} AS h FROM toks),
         |bits AS (SELECT doc_id, ${sums.mkString(", ")} FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($sig AS BIGINT) AS simhash
         |FROM bits ORDER BY doc_id""".stripMargin
    },

    "q33_ngram_jaccard" ->
      s"""WITH docs AS (${withCopiesSql(5)}),
         |sh AS (${shinglesSql("docs")}),
         |ids AS (SELECT DISTINCT doc_id FROM sh),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM ids a JOIN ids b ON a.doc_id < b.doc_id),
         |${jaccardTailSql(0.3, " CAST(n_shared AS BIGINT) AS n_shared,")}""".stripMargin,

    // EXACT all-pairs join: equality with the Spark side's prefix-filtered
    // result proves the pruning lossless
    "q141_prefix_jaccard" ->
      s"""WITH docs AS (${withCopiesSql(5)}),
         |sh AS (${shinglesSql("docs")}),
         |ids AS (SELECT DISTINCT doc_id FROM sh),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM ids a JOIN ids b ON a.doc_id < b.doc_id),
         |${jaccardTailSql(PrefixT, " CAST(n_shared AS BIGINT) AS n_shared,")}""".stripMargin,

    "q56_contamination" ->
      s"""WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 9),
         |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 9
         |       UNION ALL
         |       SELECT doc_id + $PlantOffset AS doc_id, text FROM documents WHERE doc_id % 20 = 6),
         |tsh AS (SELECT DISTINCT sh FROM (${shinglesSql("tr", 5)})),
         |esh AS (${shinglesSql("ev", 5)}),
         |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM esh GROUP BY doc_id),
         |hits AS (SELECT e.doc_id, COUNT(*) AS n_hit FROM esh e JOIN tsh t ON e.sh = t.sh
         |         GROUP BY e.doc_id),
         |v AS (SELECT DISTINCT doc_id FROM ev),
         |f AS (SELECT v.doc_id,
         |             CAST(coalesce(c.n_sh, 0) AS BIGINT) AS n_sh,
         |             CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |             ROUND(CASE WHEN coalesce(c.n_sh, 0) = 0 THEN 0.0
         |                        ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / c.n_sh END,
         |                   6) AS overlap_frac
         |      FROM v LEFT JOIN counts c ON c.doc_id = v.doc_id
         |             LEFT JOIN hits h ON h.doc_id = v.doc_id)
         |SELECT doc_id, n_sh, n_hit, overlap_frac,
         |       overlap_frac >= 0.5 AS contaminated
         |FROM f ORDER BY doc_id""".stripMargin,

    // The Bloom gates are guarantees, not estimates: membership is exact
    // in DuckDB, and the sketch side must agree on the member count while
    // both boolean gates hold by construction (no-FN is the Bloom
    // contract; fp_ok has 2x slack over the design fpp).
    "q86_bloom_screen" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT) AS n_ref,
        |       TRUE AS no_false_negatives, TRUE AS fp_ok
        |FROM documents""".stripMargin,

    "q210_template_dedup" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         text || ' ref=' || CAST(doc_id % 90 AS VARCHAR) AS text
         |  FROM documents),
         |frame AS (
         |  SELECT doc_id, text FROM d
         |  UNION ALL
         |  SELECT doc_id + $CopyOffset AS doc_id, text
         |  FROM d WHERE doc_id % 9 = 0
         |  UNION ALL
         |  SELECT doc_id + ${2 * CopyOffset} AS doc_id,
         |         text || ' ref=' || CAST(doc_id % 90 + 1000 AS VARCHAR) AS text
         |  FROM documents WHERE doc_id % 7 = 0),
         |h AS (SELECT doc_id,
         |        md5(regexp_replace(${normalizeSql("text")}, '[0-9]+', '0', 'g'))
         |          AS template_hash,
         |        md5(text) AS raw_hash
         |      FROM frame),
         |g AS (SELECT template_hash, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_distinct_raw,
         |             min(doc_id) AS keeper
         |      FROM h GROUP BY template_hash)
         |SELECT keeper, n_docs, n_distinct_raw,
         |       n_distinct_raw > 1 AS template_only
         |FROM g WHERE n_docs > 1 ORDER BY keeper""".stripMargin,

    "q207_dup_locality" ->
      s"""WITH frame AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $CopyOffset AS doc_id, source, text
         |  FROM documents WHERE doc_id % 6 = 0
         |  UNION ALL
         |  SELECT doc_id + ${2 * CopyOffset} AS doc_id,
         |         'recrawl' AS source, text
         |  FROM documents WHERE doc_id % 10 = 0),
         |k AS (SELECT md5(text) AS h, source FROM frame),
         |phs AS (SELECT h, source, count(*) AS ns FROM k GROUP BY 1, 2),
         |ph AS (SELECT h, sum(ns) AS n,
         |              sum((ns * (ns - 1)) // 2) AS within_pairs
         |       FROM phs GROUP BY h),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_groups_multi,
         |               CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS n_pairs,
         |               CAST(sum(within_pairs) AS BIGINT) AS n_within,
         |               CAST(sum((n * (n - 1)) // 2 - within_pairs) AS BIGINT)
         |                 AS n_cross
         |        FROM ph WHERE n > 1)
         |SELECT n_groups_multi, n_pairs, n_within, n_cross,
         |       ROUND(CAST(n_cross AS DOUBLE) / n_pairs, 6) AS frac_cross
         |FROM agg""".stripMargin,

    "q205_ngram_novelty" ->
      s"""WITH sh AS (${shinglesSql("documents")}),
         |g AS (SELECT doc_id, md5(sh) AS gh FROM sh),
         |fs AS (SELECT gh, min(doc_id) AS first_id FROM g GROUP BY gh)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |       CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_novel,
         |       ROUND(CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
         |                  AS DOUBLE) / count(*), 6) AS novelty
         |FROM g JOIN fs USING (gh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q192_dup_runs" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $CopyOffset AS doc_id, text
         |  FROM documents WHERE doc_id % 6 = 0),
         |d AS (SELECT doc_id, ${TextPack.toksSql("text")} AS toks FROM docs),
         |st AS (SELECT doc_id, toks,
         |              unnest(generate_series(1, len(toks) - 7)) AS i
         |       FROM d WHERE len(toks) >= 8),
         |w AS (SELECT doc_id, i - 1 AS pos,
         |             md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS wh
         |      FROM st),
         |dfq AS (SELECT wh FROM w GROUP BY wh
         |        HAVING count(DISTINCT doc_id) >= 2),
         |sh AS (SELECT doc_id, pos FROM w JOIN dfq USING (wh)),
         |r AS (SELECT doc_id, pos,
         |             pos - ROW_NUMBER() OVER (PARTITION BY doc_id
         |                                      ORDER BY pos) AS grp
         |      FROM sh),
         |runs AS (SELECT doc_id, grp, count(*) AS len FROM r GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
         |       CAST(sum(len) AS BIGINT) AS n_shared_windows,
         |       CAST(max(len) AS BIGINT) AS max_run,
         |       CAST(max(len) + 7 AS BIGINT) AS max_span_toks
         |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q88_dup_spans" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $CopyOffset AS doc_id, text
         |  FROM documents WHERE doc_id % 6 = 0),
         |shg AS (${shinglesSql("docs", 8)}),
         |df AS (SELECT sh, count(DISTINCT doc_id) AS nd FROM shg GROUP BY sh),
         |per AS (SELECT doc_id, count(*) AS n_spans,
         |               sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
         |        FROM shg JOIN df USING (sh) GROUP BY doc_id)
         |SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
         |       CAST(n_dup AS BIGINT) AS n_dup_spans,
         |       ROUND(CAST(n_dup AS DOUBLE) / n_spans, 6) AS dup_coverage
         |FROM per ORDER BY doc_id""".stripMargin,

    // Transitive closure of the q31 pair list as a recursive min-label
    // walk — the SQL fixpoint twin of DupGroups.connectedComponents.
    "q57_dup_groups" ->
      s"""WITH RECURSIVE docs AS (${withCopiesSql(2)}),
         |sh AS (${shinglesSql("docs")}),
         |${minhashCandCtes()},
         |$countsSharedCtes,
         |pairs AS (SELECT doc_a, doc_b FROM shared
         |          JOIN counts ca ON ca.doc_id = doc_a
         |          JOIN counts cb ON cb.doc_id = doc_b
         |          WHERE CAST(n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - n_shared) >= 0.5),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |verts AS (SELECT DISTINCT src AS id FROM und),
         |walk(id, comp) AS (
         |  SELECT id, id AS comp FROM verts
         |  UNION
         |  SELECT u.src AS id, w.comp FROM und u JOIN walk w ON u.dst = w.id)
         |SELECT id AS doc_id, min(comp) AS component
         |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,

    // q57's recursive min-label walk + a per-component quality argmax.
    "q78_best_of_group" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $CopyOffset AS doc_id, text || '$BoostSuffix' AS text
         |  FROM documents WHERE doc_id % 4 = 0),
         |sh AS (${shinglesSql("docs")}),
         |${minhashCandCtes()},
         |$countsSharedCtes,
         |pairs AS (SELECT doc_a, doc_b FROM shared
         |          JOIN counts ca ON ca.doc_id = doc_a
         |          JOIN counts cb ON cb.doc_id = doc_b
         |          WHERE CAST(n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - n_shared) >= 0.5),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |verts AS (SELECT DISTINCT src AS id FROM und),
         |walk(id, comp) AS (
         |  SELECT id, id AS comp FROM verts
         |  UNION
         |  SELECT u.src AS id, w.comp FROM und u JOIN walk w ON u.dst = w.id),
         |cmp AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         |qv AS (SELECT doc_id, ${graft.functions.TextFunctions.qualityScoreSql(TextPack.stopwords)} AS q
         |       FROM (SELECT doc_id, text, ${TextPack.toksSql("text")} AS toks FROM docs)),
         |j AS (SELECT c.component, c.id, qv.q FROM cmp c JOIN qv ON qv.doc_id = c.id),
         |r AS (SELECT *,
         |        ROW_NUMBER() OVER (PARTITION BY component ORDER BY q DESC, id) AS rn,
         |        COUNT(*) OVER (PARTITION BY component) AS size
         |      FROM j)
         |SELECT component, CAST(size AS BIGINT) AS size, id AS keeper_id,
         |       ${Portable.snap6Sql("q")} AS keeper_q
         |FROM r WHERE rn = 1 ORDER BY component""".stripMargin,

    "q84_simhash_dedup" -> {
      val bits = 32
      val sums = (0 until bits).map(b => s"SUM(((h >> $b) & 1) * 2 - 1) AS s$b")
      val sigExpr = (0 until bits)
        .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
      val bandSelects = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, (sh >> ${b * 8}) & 255 AS ckey FROM sig")
        .mkString("\nUNION ALL\n")
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $CopyOffset AS doc_id, text || ' zzz' AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |toks AS (SELECT doc_id, unnest(${TextPack.toksSql("text")}) AS tok FROM docs),
         |hh AS (SELECT doc_id, ${Portable.hash32mSql("tok")} AS h FROM toks),
         |bsum AS (SELECT doc_id, ${sums.mkString(", ")} FROM hh GROUP BY doc_id),
         |sig AS (SELECT doc_id, CAST($sigExpr AS BIGINT) AS sh FROM bsum),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.ckey = y.ckey
         |         WHERE x.doc_id < y.doc_id),
         |v AS (SELECT doc_a, doc_b,
         |        CAST(bit_count(xor(sa.sh, sb.sh)) AS INTEGER) AS hamming
         |      FROM cand JOIN sig sa ON sa.doc_id = doc_a
         |                JOIN sig sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, hamming FROM v
         |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
    },

    "q80_containment" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
         |docs AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + $CopyOffset AS doc_id,
         |         array_to_string(list_slice(${TextPack.toksSql("text")}, 1, $ExcerptTokens), ' ') AS text
         |  FROM base WHERE doc_id % 8 = 0),
         |sh AS (${shinglesSql("docs")}),
         |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |c AS (SELECT doc_a, doc_b, n_shared,
         |        CAST(n_shared AS DOUBLE) / ca.n_sh AS c_a,
         |        CAST(n_shared AS DOUBLE) / cb.n_sh AS c_b
         |      FROM shared JOIN counts ca ON ca.doc_id = doc_a
         |                  JOIN counts cb ON cb.doc_id = doc_b)
         |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
         |       ROUND(c_a, 6) AS containment_a, ROUND(c_b, 6) AS containment_b
         |FROM c WHERE greatest(c_a, c_b) >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin
  )
}
