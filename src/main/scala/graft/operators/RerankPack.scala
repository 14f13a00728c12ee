package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.functions.Portable
import graft.functions.VectorFunctions.{cosineRound4, cosineRound4Sql, sqNorm, toDoubleArray}
import graft.sources.Tables

/** Result-set shaping and preference-fitting operators: MMR diversity
  * re-ranking of retrieval candidates (q238) and Bradley–Terry strength
  * fitting from pairwise outcomes (q239) — the two steps that sit between
  * raw retrieval/preference logs and what a training or serving pipeline
  * actually consumes (a diverse context window; a scalar quality prior per
  * group).
  *
  * Reference context: the reference serves point predictions only
  * (`flink-queryable-client/.../ALSPredict.java:74-79`); ranked-list
  * post-processing and preference aggregation are engine extensions in the
  * same spirit as the ANN/eval stack (q225/q237).
  *
  * Determinism discipline (shared with SimilarityPack): cosines round to 4
  * before any comparison; every cross-row float SUM rides integer units
  * (1e9-quantized terms summed as longs); scores snap via floor (never
  * ROUND-half ties) before argmax or output.
  */
object RerankPack extends QueryPack {

  /** q238 candidate-list depth, selection size, relevance weight. */
  val MmrCand = 8
  val MmrK = 4
  val MmrLambda = 0.7

  /** q239 MM (minorize-maximize) iteration count. */
  val BtIters = 3

  /** q240 kNN depth for the margin denominator. */
  val BitextK = 4

  /** q241 cluster count and Lloyd round count. */
  val KmK = 8
  val KmRounds = 2

  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def queriesDf(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Maximal-marginal-relevance re-rank: from each query's exact top-C
    // candidate list, greedily select K results maximizing
    // λ·rel − (1−λ)·max_sim_to_already_selected — the standard diversity
    // re-ranker between an ANN index and a RAG context window (top-k
    // alone returns near-duplicate passages; q233 measures how common
    // those are). The greedy loop lives IN the plan, FPS-style (q235):
    // each of the K−1 steps is an anti-join of the candidate table
    // against the ≤|Q|·K selected rows (broadcast), a per-(qid,cand)
    // max-penalty aggregate, and a per-qid argmax — no driver collect,
    // so the same plan runs unchanged on a cluster. Cost O(K·|Q|·C)
    // with C = 8 candidates — independent of corpus size; the corpus
    // appears only in the candidate generator (exact here = the oracle
    // for the production IVF swap, exactly like q225). Scores snap via
    // floor before every argmax so both engines pick identical winners.
    "q238_mmr_rerank" -> ((s, dir) => {
      val e = corpus(s, dir)
        .select(col("id"), toDoubleArray(col("vec")).as("v"))
        .withColumn("n2", sqNorm(col("v")))
      val cand = Similarity.bruteForceTopK(corpus(s, dir), queriesDf(s, dir),
          MmrCand)
        .select(col("qid"), col("id"), col("sim").as("rel"), col("rank"))
        .join(e, Seq("id"))
        // EAGER: every MMR step broadcasts the selected set (derived from
        // this frame) while the main job anti-joins against it — lazy,
        // those concurrent jobs race to compute the bruteForceTopK
        // upstream before any block persists, duplicating it per step
        .localCheckpoint(true) // scanned once per MMR step
      val first = cand.filter(col("rank") === 1)
        .select(col("qid"), lit(1).as("step"), col("id"), col("v"), col("n2"),
          Portable.snap6(lit(MmrLambda) * col("rel")).as("mmr"))
      val chosen = (2 to MmrK).foldLeft(first) { (acc, t) =>
        val sel = acc.select(col("qid"), col("id"), col("v").as("sv"),
          col("n2").as("sn2"))
        val remaining = cand.join(sel.select("qid", "id"),
          Seq("qid", "id"), "left_anti")
        val scored = remaining
          .join(broadcast(sel.drop("id")), Seq("qid"))
          .groupBy(col("qid"), col("id"), col("rel"), col("v"), col("n2"))
          .agg(max(cosineRound4(col("v"), col("n2"), col("sv"), col("sn2")))
            .as("pen"))
          .withColumn("mmr", Portable.snap6(
            lit(MmrLambda) * col("rel") - lit(1.0 - MmrLambda) * col("pen")))
        // each step's ≤|Q| winners are checkpointed EAGERLY so step t+1's
        // plan does not re-execute the whole prefix chain, and the final
        // action's per-step broadcast exchanges find every step already
        // materialized instead of racing to compute the same lazy chain
        // concurrently (q235 discipline)
        val next = scored.groupBy(col("qid"))
          .agg(max_by(struct(col("id"), col("v"), col("n2"), col("mmr")),
            struct(col("mmr"), negate(col("id")))).as("m"))
          .select(col("qid"), lit(t).as("step"), col("m.id").as("id"),
            col("m.v").as("v"), col("m.n2").as("n2"), col("m.mmr").as("mmr"))
          .localCheckpoint(true)
        acc.unionAll(next)
      }
      chosen.select(col("qid"), col("step"), col("id"), col("mmr"))
        .orderBy("qid", "step")
    }),

    // Bradley–Terry strength fitting from pairwise outcomes — the
    // aggregation step behind reward-model data curation and arena-style
    // evals: pairwise "which of the two is better" records in, one
    // scalar strength per player out. Matches are deterministic document
    // duels (adjacent doc_ids, different languages, longer text wins,
    // tie → lower doc_id); players are the 5 languages. The fit is
    // Hunter's MM iteration p_i ← W_i / Σ_j n_ij/(p_i+p_j), mean-
    // normalized, T = 3 rounds unrolled IN the plan over the ≤|L|²-row
    // directed match matrix (broadcast joins against the ≤|L|-row
    // strength table). Scale: the one corpus-sized shuffle is the match
    // aggregation into (i, j, n, wins); everything after is
    // players²-bounded regardless of corpus size. Every cross-row float
    // sum rides 1e9-integer terms so the fit is partition-order-free.
    "q239_bradley_terry" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val a = docs.select(col("doc_id").as("id_a"), col("lang").as("lang_a"),
        col("n_chars").as("nc_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("lang").as("lang_b"),
        col("n_chars").as("nc_b"))
      val matches = a.join(b, col("id_b") === col("id_a") + 1 &&
          col("lang_a") =!= col("lang_b"))
        .select(least(col("lang_a"), col("lang_b")).as("i"),
          greatest(col("lang_a"), col("lang_b")).as("j"),
          when(col("nc_a") > col("nc_b"), col("lang_a"))
            .when(col("nc_b") > col("nc_a"), col("lang_b"))
            .otherwise(col("lang_a")).as("winner"))
      val m = matches.groupBy("i", "j")
        .agg(count(lit(1)).as("n"),
          sum(when(col("winner") === col("i"), 1L).otherwise(0L)).as("wi"))
      val d = m.select(col("i").as("x"), col("j").as("y"), col("n"),
          col("wi").as("w"))
        .unionAll(m.select(col("j").as("x"), col("i").as("y"), col("n"),
          (col("n") - col("wi")).as("w")))
        // EAGER: each MM round reaches this frame through BROADCAST
        // exchanges (px/py) whose jobs would otherwise race the main job
        // to compute the corpus-sized match aggregation before any block
        // persists; one up-front job computes the ≤|L|²-row table once
        .localCheckpoint(true) // scanned once per MM iteration
      val players = d.groupBy(col("x"))
        .agg(sum(col("n")).as("games"), sum(col("w")).as("wins"))
        .localCheckpoint(true) // same: feeds every round AND the final join
      val p0 = players.select(col("x"), lit(1.0).as("p"))
      val pT = (1 to BtIters).foldLeft(p0) { (prev, _) =>
        val px = prev.select(col("x").as("px_x"), col("p").as("px_p"))
        val py = prev.select(col("x").as("py_x"), col("p").as("py_p"))
        val den = d
          .join(broadcast(px), col("x") === col("px_x"))
          .join(broadcast(py), col("y") === col("py_x"))
          .withColumn("t_e9",
            expr("CAST(round(n * 1e9 / (px_p + py_p)) AS BIGINT)"))
          .groupBy(col("x")).agg(sum(col("t_e9")).as("den_e9"))
        val praw = players.join(den, Seq("x"))
          .withColumn("praw_e9", expr(
            "CAST(round((CAST(wins AS DOUBLE) * 1e9 / den_e9) * 1e9) AS BIGINT)"))
        val tot = praw.agg(sum(col("praw_e9")).as("tot_e9"),
          count(lit(1)).as("nl"))
        // roll: eager checkpoint + release of the superseded round (the
        // round-1 `prev` is a plain projection — release is a no-op there)
        graft.plans.Checkpoints.roll(
          praw.crossJoin(broadcast(tot))
            .select(col("x"),
              expr("CAST(praw_e9 AS DOUBLE) * nl / tot_e9").as("p")),
          prev)
      }
      // the directed match table is dead once the final strengths landed
      graft.plans.Checkpoints.release(d)
      players.join(pT, Seq("x"))
        .select(col("x").as("lang"), col("games"), col("wins"),
          Portable.snap6(col("p")).as("strength"))
        .orderBy("lang")
    }),

    // Margin-based bitext mining (the CCMatrix/LASER criterion): split
    // the corpus into two halves (even/odd ids standing in for the two
    // languages), take each even vector's nearest odd neighbor, and
    // score it by margin = cos(x,y) / mean(avg-kNN-sim of x, of y) —
    // ratio-to-local-density, which is what separates true translation
    // pairs from hubs that are merely close to everything. A pair is
    // also flagged mutual when y's nearest even vector is x. The kNN
    // sims are already on the round-4 lattice, so the per-side averages
    // ride exact 1e4-integer sums and the margin is one deterministic
    // double division. Exact kNN here = the oracle for the production
    // IVF swap (q225 discipline); everything after candidate generation
    // is |corpus|·k-bounded with equi-joins only.
    "q240_bitext_margin" -> ((s, dir) => {
      val ex = corpus(s, dir).filter(col("id") % 2 === 0)
      val ey = corpus(s, dir).filter(col("id") % 2 === 1)
      val fwd = Similarity.bruteForceTopK(ey,
          ex.select(col("id").as("qid"), col("vec").as("qvec")), BitextK)
        .withColumn("sim_e4", expr("CAST(round(sim * 1e4) AS BIGINT)"))
        .localCheckpoint() // feeds candidates and the x-side stats —
        // EAGER, or the two consumers race and run the O(n²) kNN twice
      val bwd2 = Similarity.bruteForceTopK(ex,
          ey.select(col("id").as("qid"), col("vec").as("qvec")), BitextK)
        .withColumn("sim_e4", expr("CAST(round(sim * 1e4) AS BIGINT)"))
        .localCheckpoint()
      val xstat = fwd.groupBy(col("qid").as("x_id"))
        .agg(sum(col("sim_e4")).as("xsum_e4"))
      val ystat = bwd2.groupBy(col("qid").as("y_id"))
        .agg(sum(col("sim_e4")).as("ysum_e4"))
      val cand = fwd.filter(col("rank") === 1)
        .select(col("qid").as("x_id"), col("id").as("y_id"),
          col("sim").as("cos_sim"), col("sim_e4"))
      val back1 = bwd2.filter(col("rank") === 1)
        .select(col("qid").as("y_id"), col("id").as("x_back"))
      cand.join(xstat, Seq("x_id")).join(ystat, Seq("y_id"))
        .join(back1, Seq("y_id"))
        .select(col("x_id"), col("y_id"), col("cos_sim"),
          Portable.snap6(expr(
            s"CAST(sim_e4 AS DOUBLE) * ${2 * BitextK} / (xsum_e4 + ysum_e4)"))
            .as("margin"),
          (col("x_back") === col("x_id")).as("mutual"))
        .orderBy("x_id")
    }),

    // K-means Lloyd rounds — the clustering loop behind semantic dedup,
    // topic balancing, and IVF index builds (q36's centroids are its
    // INPUT; this is the operator that would produce them). R = 2 rounds
    // unrolled in the plan: assignment is the IVF argmax scan (corpus ×
    // broadcast centroids, round-4 cosine, ties to the smaller cid);
    // update quantizes every member component onto a 1e9 lattice and
    // sums longs — the mergeable map-side-combine shape — so the new
    // centroids are identical under any partitioning, then snaps the
    // per-dimension mean back onto the lattice (all subsequent rounds
    // run on lattice centroids, which is what lets DuckDB replay the
    // loop bit-for-bit). Empty clusters keep their previous centroid.
    // Output pins the full final state: member counts, the lattice
    // component sum, and an md5 of the exact component integers.
    "q241_kmeans_rounds" -> ((s, dir) => {
      val (centR, _) = kmeansFit(s, dir)
      centR.select(col("cid"), col("n_members"),
          (aggregate(col("me9"), lit(0L), (a, x) => a + x).cast("double")
            / lit(1e9)).as("c_sum"),
          substring(md5(array_join(transform(col("me9"),
            _.cast("string")), ",")), 1, 8).as("c_hash"))
        .orderBy("cid")
    }),

    // Cluster-purity audit — the external-validation step a clustering
    // run ships with: the final Lloyd assignment joined to the held
    // label column, majority label + purity per cluster. Low purity on
    // a labeled probe set is the signal that a semantic-dedup or
    // topic-balancing config (q68/q90) is grouping unrelated content.
    // Same lattice loop as q241, so the two outputs describe one fit;
    // the per-(cluster,label) count is the only added shuffle and is
    // |K·labels|-bounded. Ties on the majority count break to the
    // smaller label in both engines.
    "q242_cluster_purity" -> ((s, dir) => {
      val (_, asgR) = kmeansFit(s, dir)
      val labels = Tables.table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("label"))
      val cnt = asgR.select("id", "cid").join(labels, Seq("id"))
        .groupBy(col("cid"), col("label"))
        .agg(count(lit(1)).as("n"))
      cnt.groupBy(col("cid"))
        .agg(sum(col("n")).as("n_members"),
          max_by(struct(col("label"), col("n")),
            struct(col("n"), negate(col("label")))).as("m"))
        .select(col("cid"), col("n_members"),
          col("m.label").as("majority_label"),
          col("m.n").as("n_majority"),
          Portable.snap6(col("m.n").cast("double") / col("n_members"))
            .as("purity"))
        .orderBy("cid")
    }),
  )

  /** [[KmRounds]] Lloyd rounds on the 1e9 lattice (see q241): returns
    * (final centroids frame (cid, me9, n_members, cv), final-round
    * assignment (id, cid)). Shared by q241 (state) and q242 (purity),
    * and MEMOIZED per (session, dir) so running both executes ONE fit
    * (ADVICE r6) — the entry is validated against the live block manager
    * first, so a harness that sweeps persisted RDDs between queries (the
    * hermetic bench) invalidates it and the fit recomputes instead of
    * dereferencing released checkpoint blocks. */
  private val kmCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]

  /** Memoized fit, guarded three ways (ADVICE r7): entries whose session
    * has stopped are evicted on every access (a dead entry would pin the
    * stopped session + its frames for the JVM lifetime); the
    * check-then-fit runs under a lock so concurrent q241/q242 callers
    * can't run the expensive fit twice; and `live` re-validates the
    * checkpoint blocks against the block manager so a hermetic sweep
    * invalidates instead of serving dangling frames. Remaining documented
    * staleness: rewriting the data UNDER `dir` within one session while
    * the blocks stay live serves the old fit — acceptable because the
    * testdata dirs are immutable inputs; a mutable deployment would key
    * the cache by (dir, snapshot version). */
  private def kmeansFit(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    kmCache.synchronized {
      kmCache.filterInPlace { case ((sess, _), _) =>
        !sess.sparkContext.isStopped }
      def live(p: (DataFrame, DataFrame)): Boolean = {
        val ids = s.sparkContext.getPersistentRDDs.keySet
        Seq(p._1, p._2).forall(f =>
          graft.plans.Checkpoints.pinnedRddId(f).exists(ids.contains))
      }
      kmCache.get((s, dir)).filter(live).getOrElse {
        val fit = kmeansFitImpl(s, dir)
        kmCache((s, dir)) = fit
        fit
      }
    }

  private def kmeansFitImpl(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = corpus(s, dir)
      .select(col("id"), toDoubleArray(col("vec")).as("v"))
      .withColumn("n2", sqNorm(col("v")))
      .localCheckpoint() // scanned once per Lloyd round
    val c0 = corpus(s, dir).filter(col("id") < KmK)
      .select(col("id").as("cid"),
        transform(toDoubleArray(col("vec")),
          x => round(x * lit(1e9)).cast("long")).as("me9"))
    val cent0 = c0.withColumn("cv",
      transform(col("me9"), m => m.cast("double") / lit(1e9)))
      .withColumn("n_members", lit(null).cast("long"))
    val fit = (1 to KmRounds)
      .foldLeft((cent0, null: DataFrame)) { case ((cent, prevAsg), _) =>
      // the K centroids ride as ONE broadcast row holding a struct array,
      // and the per-point argmax is Similarity.nearestCentroid over its K
      // elements — the q235 FPS shape: identical rounded sims and the same
      // (sim desc, cid asc) winner, but no corpus-sized exchange whose
      // hash keys included the 64-double vector (the old crossJoin×K +
      // groupBy(id, v) shuffled the whole corpus per Lloyd round)
      val cb = Similarity.centroidRow(
        cent.select(col("cid"), col("cv").as("cvec")))
      // roll: each round's frames land EAGERLY and release the round they
      // supersede — lazy per-round checkpoints pinned rounds × corpus
      // blocks for the session lifetime (the BENCH_r06 leak) and let the
      // final action's broadcasts race to materialize the same chain
      val asg = graft.plans.Checkpoints.roll(
        e.crossJoin(broadcast(cb))
          .select(col("id"), col("v"), Similarity.nearestCentroid(
            col("v"), col("n2"), col("cs")).as("cid")),
        Option(prevAsg).toSeq: _*)
      // element-wise BIGINT vector sum in ONE aggregation (map-side
      // partials, exact-integer lattice as before) — replaces the
      // posexplode to 64× corpus rows + groupBy(cid, d) + the
      // collect_list/array_sort re-assembly
      val newc = asg
        .select(col("cid"), transform(col("v"),
          x => round(x * lit(1e9)).cast("long")).as("xv"))
        .groupBy(col("cid"))
        .agg(graft.functions.VectorFunctions.vecSumLong(col("xv")).as("s_arr"),
          count(lit(1)).as("n_new"))
        .select(col("cid"),
          transform(col("s_arr"), s =>
            round(s.cast("double") / col("n_new")).cast("long"))
            .as("me9_new"),
          col("n_new"))
      val next = graft.plans.Checkpoints.roll(
        cent.select(col("cid"), col("me9").as("me9_prev"))
          .join(newc, Seq("cid"), "left_outer")
          .select(col("cid"),
            coalesce(col("me9_new"), col("me9_prev")).as("me9"),
            coalesce(col("n_new"), lit(0L)).as("n_members"))
          .withColumn("cv",
            transform(col("me9"), m => m.cast("double") / lit(1e9))),
        cent) // round-1 cent0 is a plain plan: release is a no-op there
      (next, asg)
    }
    // the pinned corpus is dead once the final round's frames landed
    graft.plans.Checkpoints.release(e)
    fit
  }

  // ---- oracles ----------------------------------------------------------

  def oracles: Map[String, String] = Map(

    "q238_mmr_rerank" -> {
      val steps = (2 to MmrK).map { t =>
        val prev = s"sel${t - 1}"
        s"""rem$t AS (SELECT cv.* FROM cv WHERE NOT EXISTS (
           |  SELECT 1 FROM $prev s WHERE s.qid = cv.qid AND s.id = cv.id)),
           |sc$t AS (SELECT r.qid, r.id, r.rel,
           |           max(${cosineRound4Sql("r.v", "s.v", 64)}) AS pen
           |         FROM rem$t r JOIN $prev s ON s.qid = r.qid
           |         GROUP BY r.qid, r.id, r.rel),
           |n$t AS (SELECT qid, id,
           |          ${Portable.snap6Sql(
                        s"$MmrLambda * rel - ${1.0 - MmrLambda} * pen")} AS mmr
           |        FROM sc$t),
           |w$t AS (SELECT qid, $t AS step, id, mmr FROM (
           |          SELECT qid, id, mmr, ROW_NUMBER() OVER (PARTITION BY qid
           |                   ORDER BY mmr DESC, id) AS rn FROM n$t)
           |        WHERE rn = 1),
           |sel$t AS (SELECT s.qid, s.step, s.id, s.mmr, e.v
           |          FROM (SELECT qid, step, id, mmr FROM $prev
           |                UNION ALL SELECT qid, step, id, mmr FROM w$t) s
           |          JOIN e ON e.id = s.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id % 50 = 0),
         |scored AS (SELECT q.qid, e.id, ${cosineRound4Sql("e.v", "q.qv", 64)} AS rel
         |           FROM e CROSS JOIN q WHERE e.id <> q.qid),
         |cand AS (SELECT qid, id, rel, rn FROM (
         |           SELECT qid, id, rel, ROW_NUMBER() OVER (PARTITION BY qid
         |                    ORDER BY rel DESC, id) AS rn FROM scored)
         |         WHERE rn <= $MmrCand),
         |cv AS (SELECT c.qid, c.id, c.rel, e.v FROM cand c
         |       JOIN e ON e.id = c.id),
         |sel1 AS (SELECT c.qid, 1 AS step, c.id,
         |           ${Portable.snap6Sql(s"$MmrLambda * c.rel")} AS mmr, e.v
         |         FROM cand c JOIN e ON e.id = c.id WHERE c.rn = 1),
         |$steps
         |SELECT qid, step, id, mmr FROM sel$MmrK
         |ORDER BY qid, step""".stripMargin
    },

    "q239_bradley_terry" -> {
      val iters = (1 to BtIters).map { t =>
        val prev = if (t == 1) "p0" else s"p${t - 1}"
        s"""den$t AS (SELECT d.x,
           |            sum(CAST(round(d.n * 1e9 / (px.p + py.p)) AS BIGINT))
           |              AS den_e9
           |          FROM d JOIN $prev px ON px.x = d.x
           |                 JOIN $prev py ON py.x = d.y
           |          GROUP BY d.x),
           |pr$t AS (SELECT pl.x,
           |           CAST(round((CAST(pl.wins AS DOUBLE) * 1e9 / den_e9)
           |                      * 1e9) AS BIGINT) AS praw_e9
           |         FROM players pl JOIN den$t USING (x)),
           |tt$t AS (SELECT sum(praw_e9) AS tot_e9, count(*) AS nl FROM pr$t),
           |p$t AS (SELECT x, CAST(praw_e9 AS DOUBLE) * nl / tot_e9 AS p
           |        FROM pr$t CROSS JOIN tt$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH docs AS (SELECT doc_id, lang, n_chars FROM documents),
         |matches AS (
         |  SELECT least(a.lang, b.lang) AS i, greatest(a.lang, b.lang) AS j,
         |         CASE WHEN a.n_chars > b.n_chars THEN a.lang
         |              WHEN b.n_chars > a.n_chars THEN b.lang
         |              ELSE a.lang END AS winner
         |  FROM docs a JOIN docs b ON b.doc_id = a.doc_id + 1
         |  WHERE a.lang <> b.lang),
         |m AS (SELECT i, j, count(*) AS n,
         |             sum(CASE WHEN winner = i THEN 1 ELSE 0 END) AS wi
         |      FROM matches GROUP BY i, j),
         |d AS (SELECT i AS x, j AS y, n, wi AS w FROM m
         |      UNION ALL SELECT j, i, n, n - wi FROM m),
         |players AS (SELECT x, sum(n) AS games, sum(w) AS wins
         |            FROM d GROUP BY x),
         |p0 AS (SELECT x, CAST(1.0 AS DOUBLE) AS p FROM players),
         |$iters
         |SELECT pl.x AS lang, CAST(pl.games AS BIGINT) AS games,
         |       CAST(pl.wins AS BIGINT) AS wins,
         |       ${Portable.snap6Sql("pt.p")} AS strength
         |FROM players pl JOIN p$BtIters pt USING (x)
         |ORDER BY lang""".stripMargin
    },

    "q240_bitext_margin" ->
      s"""WITH ex AS (SELECT vec_id AS id, embedding AS v FROM embeddings
         |            WHERE vec_id % 2 = 0),
         |ey AS (SELECT vec_id AS id, embedding AS v FROM embeddings
         |       WHERE vec_id % 2 = 1),
         |f AS (SELECT x.id AS qid, y.id AS id, ${cosineRound4Sql("y.v", "x.v", 64)} AS sim
         |      FROM ex x CROSS JOIN ey y),
         |fr AS (SELECT qid, id, sim, CAST(round(sim * 1e4) AS BIGINT)
         |         AS sim_e4,
         |        ROW_NUMBER() OVER (PARTITION BY qid
         |          ORDER BY sim DESC, id) AS rn FROM f),
         |fk AS (SELECT * FROM fr WHERE rn <= $BitextK),
         |b AS (SELECT y.id AS qid, x.id AS id, ${cosineRound4Sql("x.v", "y.v", 64)} AS sim
         |      FROM ey y CROSS JOIN ex x),
         |br AS (SELECT qid, id, CAST(round(sim * 1e4) AS BIGINT) AS sim_e4,
         |        ROW_NUMBER() OVER (PARTITION BY qid
         |          ORDER BY sim DESC, id) AS rn FROM b),
         |bk AS (SELECT * FROM br WHERE rn <= $BitextK),
         |xstat AS (SELECT qid AS x_id, sum(sim_e4) AS xsum_e4
         |          FROM fk GROUP BY 1),
         |ystat AS (SELECT qid AS y_id, sum(sim_e4) AS ysum_e4
         |          FROM bk GROUP BY 1),
         |cand AS (SELECT qid AS x_id, id AS y_id, sim AS cos_sim, sim_e4
         |         FROM fk WHERE rn = 1),
         |back1 AS (SELECT qid AS y_id, id AS x_back FROM bk WHERE rn = 1)
         |SELECT c.x_id, c.y_id, c.cos_sim,
         |       ${Portable.snap6Sql(
                 s"CAST(c.sim_e4 AS DOUBLE) * ${2 * BitextK} " +
                   "/ (xs.xsum_e4 + ys.ysum_e4)")} AS margin,
         |       (b1.x_back = c.x_id) AS mutual
         |FROM cand c JOIN xstat xs USING (x_id) JOIN ystat ys USING (y_id)
         |     JOIN back1 b1 USING (y_id)
         |ORDER BY x_id""".stripMargin,

    "q241_kmeans_rounds" ->
      s"""WITH $kmeansCtesSql
         |SELECT cid, CAST(n_members AS BIGINT) AS n_members,
         |       CAST(list_sum(me9) AS DOUBLE) / 1e9 AS c_sum,
         |       substr(md5(array_to_string(me9, ',')), 1, 8) AS c_hash
         |FROM cent$KmRounds ORDER BY cid""".stripMargin,

    "q242_cluster_purity" ->
      s"""WITH $kmeansCtesSql,
         |cnt AS (SELECT a.cid, emb.label, count(*) AS n
         |        FROM asg$KmRounds a
         |        JOIN embeddings emb ON emb.vec_id = a.id
         |        GROUP BY a.cid, emb.label),
         |tot AS (SELECT cid, sum(n) AS n_members FROM cnt GROUP BY cid),
         |mj AS (SELECT cid, label, n FROM (
         |         SELECT cid, label, n, ROW_NUMBER() OVER (PARTITION BY cid
         |                  ORDER BY n DESC, label) AS rn FROM cnt)
         |       WHERE rn = 1)
         |SELECT t.cid, CAST(t.n_members AS BIGINT) AS n_members,
         |       mj.label AS majority_label, CAST(mj.n AS BIGINT) AS n_majority,
         |       ${Portable.snap6Sql("CAST(mj.n AS DOUBLE) / t.n_members")}
         |         AS purity
         |FROM tot t JOIN mj USING (cid)
         |ORDER BY t.cid""".stripMargin,
  )

  /** DuckDB twin of [[kmeansFit]]: the shared CTE chain ending at
    * cent`KmRounds` (lattice centroid state) and asg`KmRounds` (final
    * assignment). */
  private lazy val kmeansCtesSql: String = {
    val rounds = (1 to KmRounds).map { r =>
        val prev = s"cent${r - 1}"
        s"""asg$r AS (SELECT id, v, cid FROM (
           |  SELECT e.id, e.v, c.cid,
           |         ROW_NUMBER() OVER (PARTITION BY e.id
           |           ORDER BY ${cosineRound4Sql("e.v", "c.cv", 64)} DESC, c.cid) AS rn
           |  FROM e CROSS JOIN $prev c) WHERE rn = 1),
           |dd$r AS (SELECT cid, unnest(generate_series(1, 64)) AS d, v
           |         FROM asg$r),
           |sums$r AS (SELECT cid, d,
           |             sum(CAST(round(v[d] * 1e9) AS BIGINT)) AS s_e9,
           |             count(*) AS n
           |           FROM dd$r GROUP BY cid, d),
           |m$r AS (SELECT cid, d,
           |          CAST(round(CAST(s_e9 AS DOUBLE) / n) AS BIGINT) AS m_e9,
           |          n FROM sums$r),
           |nc$r AS (SELECT cid, list(m_e9 ORDER BY d) AS me9_new,
           |           max(n) AS n_new FROM m$r GROUP BY cid),
           |cent$r AS (SELECT c.cid,
           |             coalesce(nc.me9_new, c.me9) AS me9,
           |             coalesce(nc.n_new, 0) AS n_members,
           |             list_transform(coalesce(nc.me9_new, c.me9),
           |               m -> CAST(m AS DOUBLE) / 1e9) AS cv
           |           FROM $prev c LEFT JOIN nc$r nc USING (cid))"""
          .stripMargin
      }.mkString(",\n")
    s"""e AS (SELECT vec_id AS id,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |c0 AS (SELECT vec_id AS cid,
       |         list_transform(embedding, x ->
       |           CAST(round(CAST(x AS DOUBLE) * 1e9) AS BIGINT)) AS me9
       |       FROM embeddings WHERE vec_id < $KmK),
       |cent0 AS (SELECT cid, me9, CAST(NULL AS BIGINT) AS n_members,
       |            list_transform(me9, m -> CAST(m AS DOUBLE) / 1e9) AS cv
       |          FROM c0),
       |$rounds""".stripMargin
  }
}
