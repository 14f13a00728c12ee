package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.functions.VectorFunctions._

/** ALS serving/evaluation operators as driver-contract queries
  * (SURVEY.md §2.3 J1/J2/J5, §2.4 A1/A4).
  *
  * Every reference point-lookup RPC (QueryClientHelper.java:104-139) is an
  * equi-join here; the model side is broadcast so the fact side never
  * shuffles — the property that keeps these plans flat at 100 TB fact scale.
  */
object AlsPack extends QueryPack {

  private val K = Ratings.DefaultK

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // J2 + A4 + P12: the MSE pipeline (reference MSE.java as pure dataflow).
    "q01_mse" -> ((s, dir) => {
      AlsScoring.mse(AlsScoring.predictions(
        Ratings.ratings(s, dir),
        Ratings.userFactors(s, dir, K),
        Ratings.itemFactors(s, dir, K)))
        .select(round(col("mse"), 6).as("mse"), col("n"))
    }),

    // A1: global element-wise vector mean (ALSMeanVector.scala:31-34) —
    // Training.meanVector's one row, laid out as one (dim, mean_f) row per
    // element.
    "q04_mean_vector" -> ((s, dir) => {
      Training.meanVector(
          Ratings.userFactors(s, dir, K).select(col("uf").as("factors")))
        .select(posexplode(col("mean_vector")).as(Seq("pos", "f")))
        .select((col("pos") + 1).as("dim"), round(col("f"), 6).as("mean_f"))
        .orderBy("dim")
    }),

    // J1: point lookups — a key-set read against the model table. At scale
    // this is a partition-pruned scan, not an RPC per key.
    "q07_point_lookup" -> ((s, dir) => {
      Ratings.userFactors(s, dir, K)
        .filter(col("user_id") % 500 === 7)
        .select(col("user_id"), round(element_at(col("uf"), 1), 6).as("f1"))
        .orderBy("user_id")
    }),

    // J2 left-outer + coalesce: the reference's orElse(MEAN) fallback
    // (SGD.java:142-147,227). Items ending in 0 simulate missing keys.
    "q08_mean_fallback" -> ((s, dir) => {
      val present = Ratings.itemFactors(s, dir, K).filter(col("item_id") % 10 =!= 0)
      val meanVec = array(Seq.fill(K)(lit(0.5)): _*)
      val preds = Ratings.ratings(s, dir)
        .join(broadcast(Ratings.userFactors(s, dir, K)), "user_id")
        .join(broadcast(present), Seq("item_id"), "left_outer")
        .select(
          col("itf").isNull.cast("int").as("missing"),
          dot(col("uf"), coalesce(col("itf"), meanVec)).as("prediction"))
      preds.agg(
        round(avg(col("prediction")), 6).as("avg_pred"),
        sum(col("missing")).cast("long").as("n_missing"),
        count(lit(1)).as("n"))
    }),

    // J5: pair lookup + dot product (ALSPredict.java:65-83) for a sampled
    // set of (user, item) pairs.
    "q10_pair_predict" -> ((s, dir) => {
      val pairs = Ratings.ratings(s, dir)
        .select(col("user_id"), col("item_id"))
        .filter((col("user_id") + col("item_id")) % 97 === 0)
        .distinct()
      AlsScoring.predictions(pairs,
        Ratings.userFactors(s, dir, K), Ratings.itemFactors(s, dir, K))
        .select(col("user_id"), col("item_id"),
          round(col("prediction"), 6).as("prediction"))
        .orderBy("user_id", "item_id")
    }),

    // Ranking-quality evaluation: NDCG@5 of the model's per-user item
    // ranking (by predicted score) against the observed ratings — the
    // top-k serving metric that MSE (q01) misses: a recommender is
    // judged by what it puts FIRST, not by average error. Per-user
    // windows rank by prediction and by ideal relevance; the position
    // discounts 1/log2(p+1) are five compile-time literals shared verbatim
    // with the oracle (no runtime libm call to disagree on), and DCG
    // terms are 1e-9 fixed-point longs, so the per-user sums are
    // order-free integers. One shuffle to dedup (user, item), broadcast
    // model joins, two rank windows partitioned by user.
    "q171_ndcg" -> ((s, dir) => {
      val k = 5
      val r = Ratings.ratings(s, dir)
        .groupBy("user_id", "item_id").agg(max(col("rating")).as("rel"))
      val scored = r
        .join(broadcast(Ratings.userFactors(s, dir, K)), "user_id")
        .join(broadcast(Ratings.itemFactors(s, dir, K)), "item_id")
        .select(col("user_id"), col("item_id"), col("rel"),
          dot(col("uf"), col("itf")).as("pred"))
      val wP = Window.partitionBy("user_id")
        .orderBy(col("pred").desc, col("item_id"))
      val wI = Window.partitionBy("user_id")
        .orderBy(col("rel").desc, col("item_id"))
      def discount(pos: org.apache.spark.sql.Column) =
        AlsPack.NdcgDiscounts.zipWithIndex.foldLeft(lit(0.0)) {
          case (acc, (d, i)) => when(pos === (i + 1), lit(d)).otherwise(acc)
        }
      def term(pos: org.apache.spark.sql.Column) =
        when(pos <= k,
          floor(col("rel").cast("double") * discount(pos) * lit(1e9))
            .cast("long")).otherwise(lit(0L))
      val ranked = scored
        .withColumn("rp", row_number().over(wP))
        .withColumn("ri", row_number().over(wI))
      ranked.groupBy("user_id")
        .agg(count(lit(1)).as("n_items"),
          sum(term(col("rp"))).as("dcg5_e9"),
          sum(term(col("ri"))).as("idcg5_e9"))
        .select(col("user_id"), col("n_items"), col("dcg5_e9"),
          graft.functions.Portable.snap6(
            col("dcg5_e9").cast("double") / col("idcg5_e9")).as("ndcg5"))
        .orderBy("user_id")
    })
  )

  /** 1/log2(p+1) for p = 1..5, round-tripped literals shared with the
    * DuckDB twin so neither engine evaluates a log at runtime. */
  val NdcgDiscounts: Seq[Double] =
    (1 to 5).map(p => 1.0 / (math.log(p + 1) / math.log(2)))

  def oracles: Map[String, String] = {
    val uf = Ratings.userFactorsSql(K)
    val itf = Ratings.itemFactorsSql(K)
    val dotp = Ratings.dotSql(K)
    Map(
      "q01_mse" ->
        s"""WITH r AS (${Ratings.ratingsSql}),
           |uf AS ($uf), itf AS ($itf),
           |p AS (SELECT rating, $dotp AS prediction
           |      FROM r JOIN uf USING (user_id) JOIN itf USING (item_id))
           |SELECT ROUND(AVG((rating - prediction) * (rating - prediction)), 6) AS mse,
           |       CAST(COUNT(*) AS BIGINT) AS n
           |FROM p""".stripMargin,

      "q04_mean_vector" -> {
        val dims = (1 to K).map(j =>
          s"SELECT $j AS dim, ROUND(AVG(u$j), 6) AS mean_f FROM uf")
        s"WITH uf AS ($uf)\n${dims.mkString("\nUNION ALL\n")}\nORDER BY dim"
      },

      "q07_point_lookup" ->
        s"""WITH uf AS ($uf)
           |SELECT user_id, ROUND(u1, 6) AS f1 FROM uf
           |WHERE user_id % 500 = 7 ORDER BY user_id""".stripMargin,

      "q08_mean_fallback" -> {
        val dotFb = (1 to K).map(j => s"u$j * COALESCE(i$j, 0.5)").mkString("(", " + ", ")")
        s"""WITH r AS (${Ratings.ratingsSql}),
           |uf AS ($uf),
           |itf AS (SELECT * FROM ($itf) WHERE item_id % 10 <> 0),
           |p AS (SELECT CASE WHEN i1 IS NULL THEN 1 ELSE 0 END AS missing,
           |             $dotFb AS prediction
           |      FROM r JOIN uf USING (user_id) LEFT JOIN itf USING (item_id))
           |SELECT ROUND(AVG(prediction), 6) AS avg_pred,
           |       CAST(SUM(missing) AS BIGINT) AS n_missing,
           |       CAST(COUNT(*) AS BIGINT) AS n
           |FROM p""".stripMargin
      },

      "q10_pair_predict" ->
        s"""WITH r AS (${Ratings.ratingsSql}),
           |uf AS ($uf), itf AS ($itf),
           |pairs AS (SELECT DISTINCT user_id, item_id FROM r
           |          WHERE (user_id + item_id) % 97 = 0)
           |SELECT user_id, item_id, ROUND($dotp, 6) AS prediction
           |FROM pairs JOIN uf USING (user_id) JOIN itf USING (item_id)
           |ORDER BY user_id, item_id""".stripMargin,

      "q171_ndcg" -> {
        // identical discount literals as the Spark side (round-trip
        // Double.toString — both engines parse back the same double)
        val discCase = NdcgDiscounts.zipWithIndex
          .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
        def termSql(pos: String) =
          s"""CASE WHEN $pos <= 5 THEN
             |  CAST(floor((rel * (CASE $pos $discCase ELSE 0.0 END))
             |    * 1000000000.0) AS BIGINT) ELSE 0 END""".stripMargin
        s"""WITH r AS (${Ratings.ratingsSql}),
           |r0 AS (SELECT user_id, item_id, max(rating) AS rel
           |       FROM r GROUP BY 1, 2),
           |uf AS ($uf), itf AS ($itf),
           |p AS (SELECT user_id, item_id, rel, $dotp AS pred
           |      FROM r0 JOIN uf USING (user_id) JOIN itf USING (item_id)),
           |rk AS (SELECT user_id, rel,
           |         row_number() OVER (PARTITION BY user_id
           |           ORDER BY pred DESC, item_id) AS rp,
           |         row_number() OVER (PARTITION BY user_id
           |           ORDER BY rel DESC, item_id) AS ri
           |       FROM p),
           |t AS (SELECT user_id, count(*) AS n_items,
           |        CAST(sum(${termSql("rp")}) AS BIGINT) AS dcg5_e9,
           |        CAST(sum(${termSql("ri")}) AS BIGINT) AS idcg5_e9
           |      FROM rk GROUP BY 1)
           |SELECT user_id, n_items, dcg5_e9,
           |       ${graft.functions.Portable.snap6Sql(
               "CAST(dcg5_e9 AS DOUBLE) / idcg5_e9")} AS ndcg5
           |FROM t ORDER BY user_id""".stripMargin
      }
    )
  }
}
