package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.functions.VectorFunctions
import graft.sources.Tables

/** Multi-vector retrieval and embedding post-processing: ColBERT-style
  * late-interaction (MaxSim) scoring, and the pool → L2-normalize →
  * matryoshka-truncate pipeline that turns per-token vectors into a
  * storable document embedding.
  */
object VectorPack extends QueryPack {

  val Dim = 64
  /** MaxSim corpus split: vec_id < QueryVecs are query token vectors
    * (QueryCount queries round-robin), the rest are document token
    * vectors (DocCount docs round-robin). */
  val QueryVecs = 8
  val QueryCount = 2
  val DocCount = 25
  val TopK = 5

  /** Pooling group fan-in (vec_id mod PoolGroups → one pooled vector). */
  val PoolGroups = 50
  /** Matryoshka prefix length. */
  val TruncDim = 16
  /** Fixed-point scale for pooling sums: per-element values are snapped
    * to 1e-7 integers BEFORE aggregation, so the grouped sum is integer
    * addition — associative, hence identical across engines and shuffle
    * partitionings (same trick as [[Graph.pageRank]]'s rank units). */
  val PoolScale = 1e7

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), VectorFunctions.toDoubleArray(col("embedding")).as("v"))

  /** Per-label embedding sums in 1e-6 fixed point, (label, cv, n): each
    * element is floored to a micro-long, summed per label by ONE `vecSumLong`
    * (BIGINT adds are associative, so the sums are identical under any
    * shuffle partitioning) next to the label's row count. Cosine is
    * scale-invariant, so the sum vector `cv` stands in for the centroid
    * with no division step — the q166 and q228 centroids. */
  private[graft] def labelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .groupBy("label")
      .agg(VectorFunctions.vecSumLong(transform(col("embedding"),
          x => floor(x.cast("double") * lit(1e6)).cast("long"))).as("sv"),
        count(lit(1)).as("n"))
      .select(col("label"),
        transform(col("sv"), v => v.cast("double")).as("cv"), col("n"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ColBERT-style late interaction: score(q, d) = Σ_{qv ∈ q} max_{dv ∈ d}
    // cos(qv, dv); top-5 docs per query. The query side is a handful of
    // vectors — broadcast against the document-token corpus (at 100 TB the
    // document side would first be cut by an ANN candidate stage, e.g.
    // Similarity.ivfTopK over pooled vectors; the MaxSim rerank here is the
    // exact final stage of that cascade). Per-token maxes become 1e-6
    // micro-longs before the Σ — see the inline note on why that makes
    // the score order-independent.
    "q105_maxsim" -> ((s, dir) => {
      val qv = emb(s, dir).filter(col("vec_id") < QueryVecs)
        .select((col("vec_id") % QueryCount).as("query_id"),
          col("vec_id").as("qv_id"), col("v").as("qe"))
      val dv = emb(s, dir).filter(col("vec_id") >= QueryVecs)
        .select((col("vec_id") % DocCount).as("doc_id"), col("v").as("de"))
      val sims = dv.crossJoin(broadcast(qv))
        .select(col("query_id"), col("qv_id"), col("doc_id"),
          VectorFunctions.cosineOrNull(col("qe"), col("de")).as("sim"))
      // per-token max → micro-long → integer Σ: max is order-free on
      // identical doubles, round-to-INTEGER agrees across engines (no
      // scaled re-round), and the long sum is associative — the maxsim
      // total is deterministic under any partitioning
      val best = sims.groupBy("query_id", "qv_id", "doc_id")
        .agg(round(max(col("sim")) * lit(1e6), 0).cast("long").as("m_micro"))
      val scores = best.groupBy("query_id", "doc_id")
        .agg((sum(col("m_micro")).cast("double") / lit(1e6)).as("maxsim"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("maxsim").desc, col("doc_id"))
      scores.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .orderBy("query_id", "rank")
    }),

    // Pool per-token vectors to one embedding per group: element-wise mean
    // (fixed-point integer sums — see PoolScale), L2-normalize, truncate
    // to the 16-dim matryoshka prefix, re-normalize. Output: group, fan-in,
    // full-vector norm, first 4 components of the final truncated unit
    // vector. One aggregation per group: the element-wise fixed-point sum
    // (`vecSumLong`) beside the row count. The mean divides by the ROW
    // count, so vectors of unequal length in one group raise.
    "q109_vec_pool" -> ((s, dir) => {
      val arr = emb(s, dir)
        .groupBy((col("vec_id") % PoolGroups).as("g"))
        .agg(VectorFunctions.vecSumLong(transform(col("v"),
            x => round(x * lit(PoolScale), 0).cast("long"))).as("ssum"),
          count(lit(1)).as("n_vecs"),
          min(size(col("v"))).as("k_min"), max(size(col("v"))).as("k_max"))
        .withColumn("mvec", when(col("k_min") =!= col("k_max"),
            raise_error(lit("q109_vec_pool: vectors in a group differ in length")))
          .otherwise(transform(col("ssum"), v => v.cast("double") /
            (col("n_vecs").cast("double") * lit(PoolScale)))))
      // squared-norm sums in 1e-12 fixed point: each mv is deterministic
      // (exact integer division), but Spark folds the array in index order
      // while the SQL twin sums GROUP BY rows in arbitrary order — snapping
      // each mv² to a micro-long first makes the Σ associative and the
      // norms bit-identical under any order
      def sqSumFp(c: Column): Column =
        aggregate(c, lit(0L),
          (a, e) => a + round(e * e * lit(1e12), 0).cast("long"))
          .cast("double") / lit(1e12)
      val t = slice(col("mvec"), 1, TruncDim)
      val tnorm = sqrt(sqSumFp(t))
      val P = graft.functions.Portable
      arr.select(col("g"), col("n_vecs"),
          P.snap6(sqrt(sqSumFp(col("mvec")))).as("full_norm"),
          P.snap6(element_at(t, 1) / tnorm).as("c1"),
          P.snap6(element_at(t, 2) / tnorm).as("c2"),
          P.snap6(element_at(t, 3) / tnorm).as("c3"),
          P.snap6(element_at(t, 4) / tnorm).as("c4"))
        .orderBy("g")
    }),

    // Confident-learning label-noise audit (Cleanlab-style): estimate
    // which (noisy label → true class) confusions the labeled corpus
    // contains, WITHOUT clean labels. Self-confidence thresholds
    // t_j = mean score of class j over rows CARRYING label j; a row is
    // "confidently" class j when score_j ≥ t_j, and its predicted class
    // is the argmax over the classes it is confident in. The joint
    // count matrix C[noisy][pred] — off-diagonal mass = estimated label
    // noise. Scores are cosine-to-class-centroid with q166's
    // fixed-point-sum centroids (scale-invariance makes sums exact
    // stand-ins for means); thresholds stay EXACT rationals (Σ, n) so
    // the ≥ test is the integer comparison sim·n_j ≥ Σ_j — no float
    // mean, no epsilon. Scale: centroids are |classes| broadcast rows,
    // scoring is scan-stage, thresholds one tiny agg, argmax a map-side
    // max_by — the corpus shuffles once, on vec_id.
    "q228_label_noise" -> ((s, dir) => {
      val cent = labelCentroids(s, dir).select(col("label").as("j"), col("cv"))
      val rows = Tables.table(s, dir, "embeddings")
        .select(col("vec_id"), col("label").as("noisy"),
          VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      val scored = rows.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("noisy"), col("j"),
          floor(VectorFunctions.cosineOrNull(col("v"), col("cv")) * lit(1e4))
            .cast("long").as("sim_e4"))
      val thr = scored.filter(col("noisy") === col("j"))
        .groupBy("j").agg(count(lit(1)).as("n_j"), sum("sim_e4").as("s_j"))
      val confident = scored.join(broadcast(thr), "j")
        .filter(col("sim_e4") * col("n_j") >= col("s_j"))
      confident.groupBy("vec_id", "noisy")
        .agg(max_by(col("j"), struct(col("sim_e4"), -col("j"))).as("pred"))
        .groupBy(col("noisy").as("noisy_label"), col("pred").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("noisy_label", "pred_label")
    }),

    // Pairwise similarity of per-class embedding centroids — the
    // class-collapse / embedding-drift audit: two labels whose centroids
    // sit near cosine 1 are indistinguishable to the encoder (or the
    // labels are duplicated). The centroids are [[labelCentroids]]'
    // fixed-point sums. The pairwise stage operates on |labels| rows — a
    // class vocabulary, bounded by construction, so the < self-join is a
    // broadcast of K rows however big the corpus that produced them.
    "q166_class_centroids" -> ((s, dir) => {
      val cent = labelCentroids(s, dir)
      val a = cent.select(col("label").as("label_a"), col("cv").as("va"),
        col("n").as("n_a"))
      val b = cent.select(col("label").as("label_b"), col("cv").as("vb"),
        col("n").as("n_b"))
      a.join(b, col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          graft.functions.Portable.snap6(
            VectorFunctions.cosineOrNull(col("va"), col("vb"))).as("cos"))
        .orderBy("label_a", "label_b")
    }),

    // Per-class semantic diversity WITHOUT pair enumeration: the mean
    // pairwise squared L2 distance collapses to the closed form
    // E‖x−y‖² = 2·(E‖x‖² − ‖E x‖²) — one aggregation pass computes the
    // number the naive O(n²) self-join would, so the cost at 100 TB is one
    // per-label aggregation, never candidate pairs. All sums ride
    // fixed-point integers (per-row ‖x‖² in 1e-12 units, per-dim
    // component sums in 1e-7 units; the squared component sums exceed
    // 64-bit so they widen to DECIMAL(38) / HUGEINT), making the result
    // bit-identical across engines and shuffle orders. The collapse
    // detector: diversity near 0 means the class's embeddings have
    // degenerated to a point.
    "q214_semantic_diversity" -> ((s, dir) => {
      val P = graft.functions.Portable
      def dec(c: Column): Column = c.cast("decimal(38,0)")
      Tables.table(s, dir, "embeddings")
        .groupBy("label")
        // per-row ‖x‖² in 1e-12 fixed point (micro² units) fits a long;
        // the corpus-sized SUM widens to DECIMAL
        .agg(count(lit(1)).as("n"),
          sum(dec(aggregate(col("embedding"), lit(0L), (a, x) =>
            a + round(x.cast("double") * x.cast("double") * lit(1e12), 0)
              .cast("long")))).as("s2sum"),
          // per-dim component sums in 1e-7 units
          VectorFunctions.vecSumLong(transform(col("embedding"),
            x => round(x.cast("double") * lit(PoolScale), 0).cast("long")))
            .as("si"))
        // Σ_i (Σ_rows sv)², each square exact in DECIMAL
        .withColumn("nsum", aggregate(col("si"), dec(lit(0)),
          (a, si) => dec(a + dec(si) * dec(si))))
        .select(col("label"), col("n"),
          P.snap6(col("s2sum").cast("double") /
            (col("n").cast("double") * lit(1e12))).as("mean_sq_norm"),
          P.snap6(lit(2.0) * (
            col("s2sum").cast("double") / (col("n").cast("double") * lit(1e12))
              - col("nsum").cast("double") /
                (col("n").cast("double") * col("n").cast("double")
                  * lit(PoolScale) * lit(PoolScale)))).as("diversity"))
        .orderBy("label")
    }),

    // Feature standardization FIT over an embedding column: per-dimension
    // mean and population std from ONE aggregation over (dim, Σx, Σx²) in
    // fixed point — the preprocessing statistics every encoder-input
    // pipeline persists. Variance uses the integer identity
    // n·Σx² − (Σx)² (exact, DECIMAL-widened) so a tiny negative float
    // residue can never produce NaN stds, and both engines see the
    // identical double. Scale: the shuffle carries dim-count keys with
    // map-side partial sums — corpus size only touches the scan. This is
    // the one per-position posexplode aggregation left: the output is one
    // row per dimension anyway, and Σsv² must widen to DECIMAL(38,0),
    // which `vecSumLong`'s overflow-raising BIGINT adds cannot do.
    "q218_embed_standardize" -> ((s, dir) => {
      val P = graft.functions.Portable
      Tables.table(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("i0", "x")))
        .select((col("i0") + 1).cast("long").as("dim"),
          round(col("x").cast("double") * lit(PoolScale), 0)
            .cast("long").as("sv"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum(col("sv")).as("s1"),
          // sv² ≤ 1e14 fits a long, but the SUM is corpus-sized — widen
          // to DECIMAL(38) before aggregating (DuckDB's BIGINT sum
          // widens to HUGEINT the same way)
          sum((col("sv") * col("sv")).cast("decimal(38,0)")).as("s2"))
        .select(col("dim"), col("n"),
          P.snap6(col("s1").cast("double") /
            (col("n").cast("double") * lit(PoolScale))).as("mean"),
          P.snap6(sqrt(
            (col("n").cast("decimal(19,0)") * col("s2")
              - col("s1").cast("decimal(19,0)") * col("s1").cast("decimal(19,0)"))
              .cast("double")) /
            (col("n").cast("double") * lit(PoolScale))).as("std"))
        .orderBy("dim")
    })
  )

  // ---- DuckDB twins --------------------------------------------------------

  private def diversitySql: String =
    s"""WITH r AS (
       |  SELECT label,
       |         list_aggregate(list_transform(embedding, x ->
       |           CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12)
       |                AS BIGINT)), 'sum') AS s2
       |  FROM embeddings),
       |rs AS (SELECT label, count(*) AS n,
       |              CAST(sum(s2) AS HUGEINT) AS s2sum
       |       FROM r GROUP BY label),
       |d AS (
       |  SELECT label, generate_subscripts(embedding, 1) AS i,
       |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * $PoolScale)
       |              AS BIGINT) AS sv
       |  FROM embeddings),
       |ds AS (SELECT label, i, CAST(sum(sv) AS HUGEINT) AS si
       |       FROM d GROUP BY label, i),
       |ns AS (SELECT label, sum(si * si) AS nsum FROM ds GROUP BY label)
       |SELECT label, CAST(rs.n AS BIGINT) AS n,
       |       ${graft.functions.Portable.snap6Sql(
                 "CAST(s2sum AS DOUBLE) / (CAST(rs.n AS DOUBLE) * 1e12)")}
       |         AS mean_sq_norm,
       |       ${graft.functions.Portable.snap6Sql(
                 "2.0 * (CAST(s2sum AS DOUBLE) / (CAST(rs.n AS DOUBLE) * 1e12)" +
                 s" - CAST(nsum AS DOUBLE) / (CAST(rs.n AS DOUBLE) * CAST(rs.n AS DOUBLE) * $PoolScale * $PoolScale))")}
       |         AS diversity
       |FROM rs JOIN ns USING (label) ORDER BY label""".stripMargin

  private def standardizeSql: String =
    s"""WITH d AS (
       |  SELECT generate_subscripts(embedding, 1) AS dim,
       |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * $PoolScale)
       |              AS BIGINT) AS sv
       |  FROM embeddings),
       |a AS (SELECT dim, count(*) AS n, CAST(sum(sv) AS HUGEINT) AS s1,
       |             CAST(sum(sv * sv) AS HUGEINT) AS s2
       |      FROM d GROUP BY dim)
       |SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
       |       ${graft.functions.Portable.snap6Sql(
                 s"CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * $PoolScale)")}
       |         AS mean,
       |       ${graft.functions.Portable.snap6Sql(
                 "sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))" +
                 s" / (CAST(n AS DOUBLE) * $PoolScale)")}
       |         AS std
       |FROM a ORDER BY dim""".stripMargin


  def oracles: Map[String, String] = Map(

    "q214_semantic_diversity" -> diversitySql,
    "q218_embed_standardize" -> standardizeSql,

    "q105_maxsim" ->
      s"""WITH q AS (
         |  SELECT vec_id % $QueryCount AS query_id, vec_id AS qv_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
         |  FROM embeddings WHERE vec_id < $QueryVecs),
         |d AS (
         |  SELECT vec_id % $DocCount AS doc_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
         |  FROM embeddings WHERE vec_id >= $QueryVecs),
         |pm AS (
         |  SELECT query_id, qv_id, doc_id,
         |         CAST(round(max(${VectorFunctions.cosineOrNullSql("qe", "de", Dim)}) * 1000000.0) AS BIGINT) AS m_micro
         |  FROM q CROSS JOIN d GROUP BY 1, 2, 3),
         |sc AS (
         |  SELECT query_id, doc_id,
         |         CAST(sum(m_micro) AS DOUBLE) / 1000000.0 AS maxsim
         |  FROM pm GROUP BY 1, 2),
         |r AS (
         |  SELECT query_id, doc_id, maxsim,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY maxsim DESC, doc_id) AS rank
         |  FROM sc)
         |SELECT query_id, doc_id, maxsim, CAST(rank AS INT) AS rank
         |FROM r WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,

    "q109_vec_pool" ->
      s"""WITH x AS (
         |  SELECT vec_id % $PoolGroups AS g,
         |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * $PoolScale)
         |              AS BIGINT) AS sv,
         |         generate_subscripts(embedding, 1) AS i
         |  FROM embeddings),
         |m AS (
         |  SELECT g, i,
         |         CAST(sum(sv) AS DOUBLE) / (count(*) * $PoolScale) AS mv,
         |         count(*) AS n
         |  FROM x GROUP BY 1, 2),
         |a AS (
         |  SELECT g, max(n) AS n_vecs,
         |         CAST(sum(CAST(round(mv * mv * 1000000000000.0) AS BIGINT)) AS DOUBLE)
         |           / 1000000000000.0 AS sq_full,
         |         CAST(sum(CASE WHEN i <= $TruncDim
         |                  THEN CAST(round(mv * mv * 1000000000000.0) AS BIGINT) END) AS DOUBLE)
         |           / 1000000000000.0 AS sq_t,
         |         max(CASE WHEN i = 1 THEN mv END) AS m1,
         |         max(CASE WHEN i = 2 THEN mv END) AS m2,
         |         max(CASE WHEN i = 3 THEN mv END) AS m3,
         |         max(CASE WHEN i = 4 THEN mv END) AS m4
         |  FROM m GROUP BY 1)
         |SELECT g, CAST(n_vecs AS BIGINT) AS n_vecs,
         |       ${graft.functions.Portable.snap6Sql("sqrt(sq_full)")} AS full_norm,
         |       ${graft.functions.Portable.snap6Sql("m1 / sqrt(sq_t)")} AS c1,
         |       ${graft.functions.Portable.snap6Sql("m2 / sqrt(sq_t)")} AS c2,
         |       ${graft.functions.Portable.snap6Sql("m3 / sqrt(sq_t)")} AS c3,
         |       ${graft.functions.Portable.snap6Sql("m4 / sqrt(sq_t)")} AS c4
         |FROM a ORDER BY g""".stripMargin,

    "q228_label_noise" ->
      s"""WITH cells AS (
         |  SELECT label, i,
         |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
         |           AS BIGINT) AS q
         |  FROM embeddings CROSS JOIN generate_series(1, $Dim) AS t(i)),
         |sums AS (SELECT label, i, CAST(sum(q) AS BIGINT) AS sv
         |         FROM cells GROUP BY 1, 2),
         |cent AS (SELECT label AS j, list(CAST(sv AS DOUBLE) ORDER BY i) AS cv
         |         FROM sums GROUP BY 1),
         |rws AS (SELECT vec_id, label AS noisy,
         |               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings),
         |scored AS (SELECT vec_id, noisy, j,
         |                  CAST(floor((${VectorFunctions.cosineOrNullSql(
                         "v", "cv", Dim)}) * 10000) AS BIGINT) AS sim_e4
         |           FROM rws CROSS JOIN cent),
         |thr AS (SELECT j, count(*) AS n_j, sum(sim_e4) AS s_j
         |        FROM scored WHERE noisy = j GROUP BY 1),
         |conf AS (SELECT s.vec_id, s.noisy, s.j, s.sim_e4
         |         FROM scored s JOIN thr USING (j)
         |         WHERE s.sim_e4 * thr.n_j >= thr.s_j),
         |pred AS (SELECT vec_id, noisy, j AS pred FROM (
         |           SELECT vec_id, noisy, j,
         |                  row_number() OVER (PARTITION BY vec_id
         |                    ORDER BY sim_e4 DESC, j) AS rn
         |           FROM conf) WHERE rn = 1)
         |SELECT noisy AS noisy_label, pred AS pred_label,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q166_class_centroids" ->
      s"""WITH cells AS (
         |  SELECT label, i,
         |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
         |           AS BIGINT) AS q
         |  FROM embeddings CROSS JOIN generate_series(1, $Dim) AS t(i)),
         |sums AS (SELECT label, i, CAST(sum(q) AS BIGINT) AS sv
         |         FROM cells GROUP BY 1, 2),
         |cent AS (SELECT label, list(CAST(sv AS DOUBLE) ORDER BY i) AS cv
         |         FROM sums GROUP BY 1),
         |n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
         |c AS (SELECT cent.label, cv, n.n
         |      FROM cent JOIN n ON n.label = cent.label)
         |SELECT a.label AS label_a, b.label AS label_b,
         |       a.n AS n_a, b.n AS n_b,
         |       ${graft.functions.Portable.snap6Sql(
             VectorFunctions.cosineOrNullSql("a.cv", "b.cv", 64))} AS cos
         |FROM c a JOIN c b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin
  )
}
