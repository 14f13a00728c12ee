package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{AlsScoring, ModelCodec, Ratings}
import graft.streaming._

/** End-to-end serve loop (SURVEY.md §7.3) driven by MemoryStream — no Kafka
  * needed: records → latest-per-key state → ServingStore → predict, then the
  * SGD feedback loop updating the store.
  */
class StreamingServeSpec extends SparkSpec {
  import spark.implicits._

  private def rec(id: Long, kind: String, fs: Double*): String =
    s"$id,$kind,${fs.map(f => f"$f%.6f").mkString(";")}"

  test("consumer keeps latest record per key across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val store = ServingStore.factorStore()
    val q = ModelConsumer.serveTo(spark, in.toDF(), store)
    try {
      in.addData(rec(1, "U", 0.1, 0.2), rec(2, "U", 0.3, 0.4))
      q.processAllAvailable()
      assert(store.get("1-U").get.toSeq === Seq(0.1, 0.2))
      assert(store.get("2-U").get.toSeq === Seq(0.3, 0.4))
      assert(store.get("9-U").isEmpty)

      // second batch: overwrite key 1, add item key; latest wins
      in.addData(rec(1, "U", 0.9, 0.8), rec(5, "I", 1.0, 2.0))
      q.processAllAvailable()
      assert(store.get("1-U").get.toSeq === Seq(0.9, 0.8))
      assert(store.get("5-I").get.toSeq === Seq(1.0, 2.0))
      assert(store.size === 3)
    } finally q.stop()
  }

  test("within one batch the highest-seq record wins per key") {
    val parsed = Seq(
      ("1-U", 10L, Array(1.0)), ("1-U", 11L, Array(2.0)),
      ("2-U", 5L, Array(3.0))).toDF("key", "seq", "factors")
    val latest = ModelConsumer.latestPerKeyBatch(parsed)
      .select("key", "factors").as[(String, Array[Double])].collect().toMap
    assert(latest("1-U").toSeq === Seq(2.0))
    assert(latest("2-U").toSeq === Seq(3.0))
  }

  test("predict service: pair dot product, absent keys, mean fallback") {
    val store = ServingStore.factorStore()
    store.put("7-U", Array(1.0, 2.0))
    store.put("3-I", Array(0.5, 0.25))
    val svc = new PredictService(store)
    assert(svc.predictPair(7, 3).get === 1.0 * 0.5 + 2.0 * 0.25)
    // the fallback is per side: a served MEAN-I covers absent items only
    store.put(ModelCodec.MeanI, Array(1.0, 1.0))
    assert(svc.predictPair(7, 99).get === 3.0) // 1*1 + 2*1
    assert(svc.predictPair(42, 3).isEmpty) // no MEAN-U served
    store.put(ModelCodec.MeanU, Array(2.0, 4.0))
    assert(svc.predictPair(42, 3).get === 2.0 * 0.5 + 4.0 * 0.25)
    assert(svc.predictPair(42, 99).get === 2.0 * 1.0 + 4.0 * 1.0)
    assert(svc.predictPair(7, 3).get === 1.0 * 0.5 + 2.0 * 0.25) // served keys win
  }

  test("predict service: no MEAN row served, an absent side gives None") {
    val store = ServingStore.factorStore()
    store.put("7-U", Array(1.0, 2.0))
    store.put("3-I", Array(0.5, 0.25))
    val svc = new PredictService(store)
    assert(svc.predictPair(7, 99).isEmpty) // UnknownKeyOrNamespace -> empty
    assert(svc.predictPair(42, 3).isEmpty)
    assert(svc.predictPair(42, 99).isEmpty)
  }

  test("predict service: sparse SVM accumulation skips absent features") {
    val store = ServingStore.factorStore()
    store.put("10-W", Array(2.0))
    store.put("11-W", Array(-1.0))
    val svc = new PredictService(store)
    assert(svc.predictSparse(Map(10L -> 3.0, 11L -> 4.0, 12L -> 100.0)) === 2.0)
    assert(svc.classify(Map(10L -> 3.0)) === 1)
    assert(svc.classify(Map(11L -> 3.0)) === -1)
  }

  test("MEAN rows flow through the consumer under their literal state key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val store = ServingStore.factorStore()
    val q = ModelConsumer.serveTo(spark, in.toDF(), store)
    try {
      in.addData("MEAN,U,0.500000;0.600000", rec(3, "U", 0.1, 0.2))
      q.processAllAvailable()
      assert(store.get("MEAN-U").get.toSeq === Seq(0.5, 0.6))
      assert(store.get("3-U").get.toSeq === Seq(0.1, 0.2))
    } finally q.stop()
  }

  test("SGD with MEAN fallback onboards a user missing from the model") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    store.put(ModelCodec.MeanU, Array(0.5, 0.5))
    store.put(ModelCodec.MeanI, Array(0.5, 0.5))
    store.put("7-I", Array(1.0, 2.0)) // item exists; user 42 does not
    val in = MemoryStream[String]
    val q = SgdUpdater.updateLoop(spark, in.toDF(), store, lr = 0.1)
    try {
      in.addData("42,7,4.0")
      q.processAllAvailable()
    } finally q.stop()
    // user 42 was onboarded from MEAN: u' = mean + lr*err*i
    val u = store.get("42-U").get
    val err = 4.0 - (0.5 * 1.0 + 0.5 * 2.0)
    assert(math.abs(u(0) - (0.5 + 0.1 * err * 1.0)) < 1e-9)
    assert(math.abs(u(1) - (0.5 + 0.1 * err * 2.0)) < 1e-9)
    // the item side updated against the mean user vector
    assert(store.get("7-I").isDefined)
  }

  test("streaming evaluator reports per-batch MSE with MEAN fallback") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    store.put("1-U", Array(1.0, 0.0))
    store.put("7-I", Array(2.0, 0.0))
    store.put(ModelCodec.MeanU, Array(0.5, 0.5))
    store.put(ModelCodec.MeanI, Array(0.5, 0.5))
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    val in = MemoryStream[String]
    val q = StreamingEvaluator.mseStream(spark, in.toDF(), store,
      (b, m, n) => results.synchronized { results += ((b, m, n)) })
    try {
      // known pair: pred 2.0, err 1.0; unknown user 99: mean·7-I = 1.0, err 1.0
      in.addData("1,7,3.0", "99,7,2.0")
      q.processAllAvailable()
    } finally q.stop()
    val (_, mse, n) = results.synchronized(results.head)
    assert(n === 2L)
    assert(math.abs(mse - 1.0) < 1e-9)
  }

  test("streaming evaluator falls back per side: MEAN-U served, MEAN-I not") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    store.put("1-U", Array(1.0, 0.0))
    store.put("7-I", Array(2.0, 0.0))
    store.put(ModelCodec.MeanU, Array(0.5, 0.5))
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    val in = MemoryStream[String]
    val q = StreamingEvaluator.mseStream(spark, in.toDF(), store,
      (b, m, n) => results.synchronized { results += ((b, m, n)) })
    try {
      // unknown user 99, known item: MEAN-U·7-I = 1.0, err 1.0 — counted;
      // known user, unknown item 88 with no MEAN-I: dropped, as SGD drops it
      in.addData("99,7,2.0", "1,88,3.0")
      q.processAllAvailable()
    } finally q.stop()
    val (_, mse, n) = results.synchronized(results.head)
    assert(n === 1L)
    assert(math.abs(mse - 1.0) < 1e-9)
  }

  test("SgdUpdater.step on a DataFrame equals one updateLoop micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    def seeded(): TrieMapServingStore[String, Array[Double]] = {
      val st = ServingStore.factorStore()
      st.put("1-U", Array(0.5, 0.25)); st.put("2-U", Array(-0.75, 1.0))
      st.put("7-I", Array(1.0, 2.0)); st.put("8-I", Array(0.125, -0.5))
      st.put(ModelCodec.MeanU, Array(0.5, 0.5))
      st.put(ModelCodec.MeanI, Array(0.25, 0.75))
      st
    }
    // known pairs, an unknown user (42), an unknown item (9), both unknown
    val lines = Seq("1,7,4.0", "2,7,3.0", "1,8,1.0", "42,7,5.0", "2,9,2.0",
      "42,9,1.0", "1,7,2.0")
    val (lr, lambda) = (0.1, 0.01)

    val store = seeded()
    val in = MemoryStream[String]
    val q = SgdUpdater.updateLoop(spark, in.toDF(), store, lr, lambda)
    try {
      in.addData(lines)
      q.processAllAvailable()
    } finally q.stop()

    val model = seeded()
    val (scored, m) = ServingStore.scoreBatch(lines.toDF("value"), model)
    val (newU, newI) = SgdUpdater.step(scored, m.userF, m.itemF, lr, lambda, m.meanU, m.meanI)
    val batch = newU.as[(Long, Array[Double])].collect().map { case (id, v) => s"$id-U" -> v } ++
      newI.as[(Long, Array[Double])].collect().map { case (id, v) => s"$id-I" -> v }
    assert(batch.map(_._1).toSet ===
      Set("1-U", "2-U", "42-U", "7-I", "8-I", "9-I"))
    def bits(v: Array[Double]) = v.toSeq.map(java.lang.Double.doubleToLongBits)
    batch.foreach { case (key, v) =>
      assert(bits(store.get(key).get) === bits(v), s"key $key")
      assert(bits(v) !== bits(model.get(key).getOrElse(Array.empty[Double])), s"key $key moved")
    }
    assert(store.size === batch.length + 2) // + the two MEAN rows
  }

  test("one SGD and one MSE micro-batch each read the store once") {
    implicit val sqlCtx = spark.sqlContext
    // counts the trait calls a loop makes on the store it is handed
    final class Counting(under: ServingStore.FactorStore) extends ServingStore.FactorStore {
      var gets, snapshots = 0
      override def get(key: String): Option[Array[Double]] = { gets += 1; under.get(key) }
      override def put(key: String, value: Array[Double]): Unit = under.put(key, value)
      override def size: Int = under.size
      override def snapshot: Map[String, Array[Double]] = { snapshots += 1; under.snapshot }
    }
    def seeded(): Counting = {
      val st = ServingStore.factorStore()
      st.put("1-U", Array(0.5, 0.25)); st.put("7-I", Array(1.0, 2.0))
      st.put(ModelCodec.MeanU, Array(0.5, 0.5))
      st.put(ModelCodec.MeanI, Array(0.25, 0.75))
      new Counting(st)
    }
    val lines = Seq("1,7,4.0", "42,7,5.0", "1,9,2.0")

    val sgdStore = seeded()
    val sgdIn = MemoryStream[String]
    val sgd = SgdUpdater.updateLoop(spark, sgdIn.toDF(), sgdStore, lr = 0.1)
    try {
      sgdIn.addData(lines)
      sgd.processAllAvailable()
    } finally sgd.stop()
    assert((sgdStore.snapshots, sgdStore.gets) === ((1, 0)))

    val mseStore = seeded()
    val mseIn = MemoryStream[String]
    val results = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mse = StreamingEvaluator.mseStream(spark, mseIn.toDF(), mseStore,
      (_, _, n) => results.synchronized { results += n })
    try {
      mseIn.addData(lines)
      mse.processAllAvailable()
    } finally mse.stop()
    assert(results.synchronized(results.toSeq) === Seq(3L))
    assert((mseStore.snapshots, mseStore.gets) === ((1, 0)))
  }

  test("ModelCodec: the Scala state key equals the Column state key") {
    import ModelCodec._
    val ids = Seq((7L, User), (3L, Item), (10L, Weight), (2L, Bucket))
    val fromScala = ids.map { case (id, kind) => key(id, kind) } ++
      Seq(key(MeanId, User), key(MeanId, Item))
    val fromCol = spark.range(1).select(
      ids.map { case (id, kind) => keyCol(lit(id), kind) } ++
        Seq(keyCol(lit(MeanId), User), keyCol(lit(MeanId), Item)): _*)
      .head().toSeq
    assert(fromCol === fromScala)
    assert(fromScala === Seq("7-U", "3-I", "10-W", "2-B", "MEAN-U", "MEAN-I"))
    assert(Seq(MeanU, MeanI) === Seq("MEAN-U", "MEAN-I"))
  }

  test("poison records do not kill the serve or SGD queries") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    store.put(ModelCodec.MeanU, Array(0.5, 0.5))
    store.put(ModelCodec.MeanI, Array(0.5, 0.5))
    val in = MemoryStream[String]
    val q = ModelConsumer.serveTo(spark, in.toDF(), store)
    try {
      in.addData("5,U", "garbage", rec(1, "U", 0.1, 0.2))
      q.processAllAvailable() // truncated + garbage records skipped
      assert(store.get("1-U").get.toSeq === Seq(0.1, 0.2))
    } finally q.stop()

    val rIn = MemoryStream[String]
    val sgd = SgdUpdater.updateLoop(spark, rIn.toDF(), store, lr = 0.1)
    try {
      rIn.addData("abc,2,3.0", "1,2,notanumber", "3,4,2.0")
      sgd.processAllAvailable() // malformed rating lines dropped
      assert(store.get("3-U").isDefined, "valid row must still update")
      assert(store.get("abc-U").isEmpty)
    } finally sgd.stop()
  }

  test("LCG stays in range for ids beyond 2^33 (SF-100k key space)") {
    import graft.functions.Portable
    val big = Seq(15000000000L, 8400000001L, Long.MaxValue / 2).toDF("id")
    val vals = big.select(Portable.lcgUnit(col("id"), 1).as("u"))
      .as[Double].collect()
    vals.foreach(u => assert(u >= 0.0 && u < 1.0, s"lcgUnit out of range: $u"))
  }

  test("SGD feedback loop through the store decreases MSE") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    // seed the store with the deterministic fixture model at sf0.001
    val uf = Ratings.userFactors(spark, sf0).collect()
    val itf = Ratings.itemFactors(spark, sf0).collect()
    uf.foreach(r => store.put(s"${r.getLong(0)}-U", r.getSeq[Double](1).toArray))
    itf.foreach(r => store.put(s"${r.getLong(0)}-I", r.getSeq[Double](1).toArray))

    def mseNow(): Double = {
      val m = ServingStore.read(spark, store)
      AlsScoring.mse(AlsScoring.predictions(Ratings.ratings(spark, sf0), m.userF, m.itemF))
        .collect()(0).getDouble(0)
    }

    val before = mseNow()
    val in = MemoryStream[String]
    val q = SgdUpdater.updateLoop(spark, in.toDF(), store, lr = 1e-4)
    try {
      val lines = Ratings.ratings(spark, sf0).limit(2000)
        .collect().map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}")
      in.addData(lines.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val after = mseNow()
    assert(after < before, s"SGD step should reduce MSE: before=$before after=$after")
  }

  test("store byte budget: loud rejection at the cap, updates re-weigh") {
    // budget for ~2 small entries; the third distinct key must be REFUSED
    // with an explicit error (not an OOM), while replacing an existing
    // key re-weighs: a shrinking update frees budget, a growing one can
    // itself trip the cap
    val entry = TrieMapServingStore.defaultWeigh("1-U", Array(0.1, 0.2))
    val small = TrieMapServingStore.defaultWeigh("3-U", Array(0.5))
    val store = ServingStore.factorStore(maxBytes = 2 * entry + small)
    store.put("1-U", Array(0.1, 0.2))
    store.put("2-U", Array(0.3, 0.4))
    assert(store.bytes === 2 * entry)
    val e = intercept[IllegalStateException] { store.put("3-U", Array(0.5, 0.6)) }
    assert(e.getMessage.contains("over budget"))
    assert(e.getMessage.contains("3-U"))
    assert(store.size === 2) // rejected put left the store untouched
    // same-size replace fits exactly; growing the value does not
    store.put("1-U", Array(0.7, 0.8))
    assert(store.get("1-U").get.toSeq === Seq(0.7, 0.8))
    intercept[IllegalStateException] { store.put("1-U", Array.fill(64)(0.0)) }
    // shrink 1-U, freeing room for the key that was rejected before
    store.put("1-U", Array(0.9))
    store.put("3-U", Array(0.5))
    assert(store.size === 3)
    assert(store.bytes <= store.maxBytes)
  }
}
