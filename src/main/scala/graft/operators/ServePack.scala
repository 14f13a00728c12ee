package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.functions.Portable
import graft.streaming.{ModelConsumer, SgdUpdater}

/** Batch-expressible faces of the serving/update loop (SURVEY.md §2.9,
  * §7.2 steps 4-5), oracle-checked so the driver can verify the semantics
  * that the streaming specs exercise with MemoryStream.
  *
  *  - q16: latest-record-per-key — the consumer's `ValueState` overwrite
  *    semantics (ALSKafkaConsumer.java:85-92) as max_by(seq) per key; one
  *    micro-batch of [[graft.streaming.ModelConsumer.latestPerKey]] computes
  *    exactly this.
  *  - q17: one mini-batch SGD step (SGD.java:160-217 as dataflow) — updated
  *    user vectors after a single gradient step from the deterministic
  *    factor fixture. It calls the same [[graft.streaming.SgdUpdater.step]]
  *    that [[graft.streaming.SgdUpdater.updateLoop]] runs per micro-batch,
  *    with no MEAN rows, so both joins stay inner as in the oracle.
  */
object ServePack extends QueryPack {

  private val K = Ratings.DefaultK
  private val Lr = 0.001

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.9 keyed state: two generations of records per key (every 3rd user
    // gets an update with a higher seq); latest wins.
    "q16_latest_per_key" -> ((s, dir) => {
      val base = Ratings.userFactors(s, dir, K)
        .select(ModelCodec.keyCol(col("user_id"), ModelCodec.User).as("key"),
          (col("user_id") * 2).as("seq"),
          col("uf").as("factors"))
      val updates = Ratings.userFactors(s, dir, K)
        .filter(col("user_id") % 3 === 0)
        .select(ModelCodec.keyCol(col("user_id"), ModelCodec.User).as("key"),
          (col("user_id") * 2 + 1).as("seq"),
          transform(col("uf"), f => f + lit(1.0)).as("factors"))
      ModelConsumer.latestPerKeyBatch(base.unionAll(updates))
        .select(col("key"), col("seq"),
          round(element_at(col("factors"), 1), 6).as("f1"))
        .orderBy("key")
    }),

    // One SGD step on the user side; emit the first two updated components
    // for a deterministic sample of users.
    "q17_sgd_step" -> ((s, dir) => {
      val userF = Ratings.userFactors(s, dir, K)
      val itemF = Ratings.itemFactors(s, dir, K)
      val scored = AlsScoring.predictions(Ratings.ratings(s, dir), userF, itemF)
      SgdUpdater.step(scored, userF, itemF, lr = Lr)._1
        .filter(col("user_id") % 50 === 7)
        .select(col("user_id"),
          round(element_at(col("uf"), 1), 6).as("u1"),
          round(element_at(col("uf"), 2), 6).as("u2"))
        .orderBy("user_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "q16_latest_per_key" -> {
      val f1base = Portable.factorSql("c_custkey", 1)
      s"""WITH recs AS (
         |  SELECT concat(c_custkey, '-U') AS key, c_custkey * 2 AS seq,
         |         $f1base AS f1 FROM customer
         |  UNION ALL
         |  SELECT concat(c_custkey, '-U') AS key, c_custkey * 2 + 1 AS seq,
         |         $f1base + 1.0 AS f1 FROM customer WHERE c_custkey % 3 = 0)
         |SELECT key, CAST(MAX(seq) AS BIGINT) AS seq,
         |       ROUND(arg_max(f1, seq), 6) AS f1
         |FROM recs GROUP BY key ORDER BY key""".stripMargin
    },

    "q17_sgd_step" -> {
      val uf = Ratings.userFactorsSql(K)
      val itf = Ratings.itemFactorsSql(K)
      val dotp = Ratings.dotSql(K)
      s"""WITH r AS (${Ratings.ratingsSql}),
         |uf AS ($uf), itf AS ($itf),
         |scored AS (SELECT user_id, rating - $dotp AS err, i1, i2
         |           FROM r JOIN uf USING (user_id) JOIN itf USING (item_id)),
         |grads AS (SELECT user_id, SUM(err * i1) AS g1, SUM(err * i2) AS g2
         |          FROM scored GROUP BY user_id)
         |SELECT user_id,
         |       ROUND(u1 + $Lr * g1, 6) AS u1,
         |       ROUND(u2 + $Lr * g2, 6) AS u2
         |FROM uf JOIN grads USING (user_id)
         |WHERE user_id % 50 = 7 ORDER BY user_id""".stripMargin
    }
  )
}
