package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.operators.{ModelCodec, Ratings, SvmPack, Training}
import graft.streaming.{ModelConsumer, PredictService, ServingStore, SgdUpdater}

/** The serving-loop benchmark's JVM side. One run = one workload:
  *
  *  - sgd_update: open-loop predictions while SgdUpdater applies rating
  *    micro-batches back to back;
  *  - batch_ops: the same predictions while operator queries run a cold
  *    pass, then warm passes.
  *
  * It reaches the program only through public functions and writes
  * `result.json` (metrics, per-phase counts, checks) into the run directory.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --run DIR --cpus C
  */
object Main {
  val Rate = 5000.0
  val SgdBatch = 10000
  val SgdLr = 0.002
  val SgdLambda = 0.01
  val BatchQueries: Seq[String] = Seq("q144_hist_quantiles", "q153_ref_integrity",
    "q180_minhash_estimate")

  final case class WriterUnit(id: Long, t0: Long, t1: Long, wall0: Long, wall1: Long)
  final case class QueryRun(rows: Int, hash: Int, constructNs: Long, wallNs: Long,
                            compileNs: Long, planMs: Double)

  /** Progress on stderr, stamped with JVM uptime. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2fs $msg")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("run"), a("cpus").toInt)
    try run.execute() finally run.spark.stop()
  }
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
                data: String, runDir: String, cpus: Int) {
  import Main._

  log("jvm started")
  val tracer = new Tracer(trace)
  val gc = new GcProbe
  // the generator thread keeps a core of its own, so the latency it sees is
  // the program's stalls rather than the generator waiting for a CPU
  val sparkCores: Int = math.max(1, cpus - 1)
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$sparkCores]")
    .config("spark.sql.shuffle.partitions", sparkCores.toLong)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$runDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    .config("spark.sql.streaming.checkpointLocation", s"$runDir/ckpt")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  log("session created")
  spark.sparkContext.setCheckpointDir(s"$runDir/rdd-ckpt")
  val probe: Option[SparkProbe] = if (!trace) None else {
    val p = new SparkProbe(tracer)
    spark.sparkContext.addSparkListener(p)
    spark.streams.addListener(p.streaming)
    Some(p)
  }
  import spark.implicits._
  implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext

  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val phases = mutable.LinkedHashMap[String, (Int, Int)](
    "predictions" -> (0, 0), "publishes" -> (0, 0),
    "sgd_batches" -> (0, 0), "queries" -> (0, 0))
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val oracle = mutable.LinkedHashMap[String, Map[String, Any]]()

  def check(name: String, ok: Boolean, detail: => String): Unit =
    checks += ((name, ok, if (ok) "" else detail))
  def count(phase: String, ok: Boolean): Unit = {
    val (n, f) = phases(phase)
    phases(phase) = (n + 1, f + (if (ok) 0 else 1))
  }
  def ms(ns: Long): Double = ns / 1e6
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def pct(xs: Array[Long], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.clone(); java.util.Arrays.sort(s)
      s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0)).toDouble
    }

  // ---- model and requests ---------------------------------------------------

  val base = ServingStore.factorStore()
  val timed: Option[TimedStore] = if (trace) Some(new TimedStore(base, tracer)) else None
  /** What the program's writers receive: the store, or its timing decorator. */
  val store: ServingStore.FactorStore = timed.getOrElse(base)
  val view = new ReadView(store)
  val input = MemoryStream[String]
  var consumer: StreamingQuery = _

  def table(name: String): DataFrame = spark.read.parquet(s"$data/$name.parquet")

  /** FIXTURES.md §2's ratings fact: user = ordering customer, item = part,
    * rating = quantity; `h` is a seeded hash that picks the held-out 5%. */
  lazy val ratings: DataFrame = table("orders")
    .join(table("lineitem"), col("o_orderkey") === col("l_orderkey"))
    .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"),
      col("l_quantity").as("rating"),
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"), lit(seed)), lit(1000)).as("h"))
    .cache()

  def parseRecord(r: String): (String, Array[Double]) = {
    val p = r.split(",", 3)
    (s"${p(0)}-${p(1)}", p(2).split(";").map(_.toDouble))
  }

  var consumerCompileNs = 0L

  /** Offer the model records to the consumer, wait until the batch is
    * processed, then check that every key reads its published value. */
  def publish(records: Seq[String]): Unit = {
    val c0 = CodeGenerator.compileTime
    val (ok, _) = unit("publish_full", "full_model") {
      try { input.addData(records); consumer.processAllAvailable(); true }
      catch { case e: Exception => check("full_model", ok = false, e.toString); false }
    }
    consumerCompileNs += CodeGenerator.compileTime - c0
    count("publishes", ok)
    if (ok) {
      val mismatch = storeMatches(records)
      check("full_model_reads_published_values", mismatch.isEmpty, mismatch.getOrElse(""))
    }
  }

  /** Every record's key reads exactly the parse of that record. */
  def storeMatches(records: Seq[String]): Option[String] = records.iterator.map(parseRecord)
    .collectFirst { case (k, v) if !base.get(k).exists(java.util.Arrays.equals(_, v)) =>
      s"key $k reads ${base.get(k).map(_.mkString(";"))}, published ${v.mkString(";")}" }

  /** Model records for the serving workloads: an ALS fit (rank 8) on the
    * ratings outside the held-out slice, its MEAN rows, and SVM weights. */
  def fittedModel(): Seq[String] = {
    val train = ratings.filter(col("h") >= 50).select("user_id", "item_id", "rating")
    train.count()
    log("ratings loaded")
    val (uf, itf) = tracer.span("train", "als") { _ =>
      val t0 = System.nanoTime()
      val m = Training.alsTrain(train, rank = 8, maxIter = 2, blocks = sparkCores)
      layers("train.als_fit_ms") = ms(System.nanoTime() - t0)
      m
    }
    exportModel(uf, itf)
  }

  /** The operator queries' own fixture factors (no fit) for batch_ops. */
  def fixtureModel(): Seq[String] = {
    layers("train.als_fit_ms") = 0.0
    exportModel(Ratings.userFactors(spark, data), Ratings.itemFactors(spark, data))
  }

  def exportModel(uf: DataFrame, itf: DataFrame): Seq[String] = {
    val t0 = System.nanoTime()
    val w = SvmPack.weights(spark, data)
      .select(ModelCodec.encodeRecord(col("feature_id"), lit("W"), array(col("w"))))
    val recs = Training.alsExport(uf, itf).union(Training.meanExport(uf, itf)).union(w)
      .as[String].collect().sorted.toSeq
    layers("train.export_ms") = ms(System.nanoTime() - t0)
    recs
  }

  /** Requests: ALS pairs from the held-out slice whose user and item are
    * both served, and one SVM vector per sampled order (partkey:quantity). */
  def requests(): Requests = {
    val pairs = ratings.filter(col("h") < 50).select("user_id", "item_id")
      .as[(Long, Long)].collect()
      .filter { case (u, i) => base.get(s"$u-U").isDefined && base.get(s"$i-I").isDefined }
      .sorted.toIndexedSeq
    val vectors = table("lineitem")
      .filter(pmod(xxhash64(col("l_orderkey"), lit(seed)), lit(20)) === 0)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1).take(5000)
      .map { case (_, ls) => ls.sortBy(l => (l._2, l._3)).map(l => l._2 -> l._3).toMap }
      .toIndexedSeq
    check("requests_drawn", pairs.nonEmpty && vectors.nonEmpty,
      s"${pairs.size} pairs, ${vectors.size} vectors")
    Requests.draw(seed, 50000, pairs, vectors)
  }

  /** Fit or load the model, publish it in full, check the store, draw the
    * requests and warm the read path for one untimed second. */
  def setup(records: => Seq[String]): Requests = {
    val recs = records
    log(s"model exported: ${recs.size} records")
    consumer = ModelConsumer.serveTo(spark, input.toDF(), store, Some(s"$runDir/ckpt/consumer"))
    publish(recs)
    val distinct = recs.map(parseRecord(_)._1).distinct.size
    check("store_holds_only_published_keys", base.size == distinct,
      s"store has ${base.size} keys, the records ${distinct}")
    log("model published")
    val req = requests()
    log("requests drawn")
    val warm = new LoadGen(new PredictService(view), view, req, Rate, new Tracer(false))
      .run((Rate * 1.0).toInt)
    check("warmup_predictions", warm.failed == 0 && warm.mismatches == 0,
      s"${warm.failed} failed, ${warm.mismatches} mismatched: ${warm.firstMismatch}")
    req
  }

  // ---- the timed phase --------------------------------------------------------

  val units = mutable.ArrayBuffer[WriterUnit]()

  /** One writer unit (publish, SGD batch, query pass): timed, spanned, and
    * marked as the parent of the Spark jobs it starts. */
  def unit[A](name: String, tag: String)(f: => A): (A, Double) = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (r, id) = tracer.span(name, tag)(id => (f, id))
    val t1 = System.nanoTime()
    units += WriterUnit(id, t0, t1, w0, System.currentTimeMillis())
    (r, ms(t1 - t0))
  }

  /** Drop what Spark has cached and collect garbage until the heap in use
    * settles (Spark's cleaner frees broadcasts only after a GC has found them
    * unreachable), so neither the timed phase nor the heap figure depends on
    * when the cleaner runs. Returns the heap in use. */
  def releaseCaches(): Long = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var (prev, cur, tries) = (Long.MaxValue, used(), 0)
    while (prev - cur > (1L << 20) && tries < 5) {
      Thread.sleep(300)
      prev = cur; cur = used(); tries += 1
    }
    cur
  }

  /** Run the open-loop reader on its own thread beside `writer`, which is
    * given a test for whether the reader is still sending. Returns what the
    * reader saw. */
  def timedPhase(req: Requests, limit: Int)(writer: (() => Boolean) => Unit): LoadResult = {
    val gen = new LoadGen(new PredictService(view), view, req, Rate, tracer)
    var res: LoadResult = null
    val t = new Thread(() => res = gen.run(limit), "perfbench-loadgen")
    releaseCaches()
    e2e("setup_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    log("timed phase starts")
    gc.counting = true
    timed.foreach(_.reset())
    t.start()
    try writer(() => t.isAlive) finally { gen.stopRequested = true; t.join() }
    gc.counting = false
    res
  }

  def execute(): Unit = {
    val write = mutable.ArrayBuffer[Double]()
    val res = workload match {
      case "sgd_update" => sgdUpdate(write)
      case "batch_ops" => batchOps(write)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    check("writer_units", write.nonEmpty, "no write unit completed")
    report(res, write.toSeq, releaseCaches())
  }

  var sgdQueryId: Option[java.util.UUID] = None
  var sgdCompileNs = 0L

  def sgdUpdate(write: mutable.ArrayBuffer[Double]): LoadResult = {
    val req = setup(fittedModel())
    consumer.stop()
    // the training ratings in table order, which the seed already shuffled
    val lines = ratings.filter(col("h") >= 50)
      .select(concat_ws(",", col("user_id"), col("item_id"), col("rating")))
      .as[String].take(SgdBatch * 20)
    val heldOut = ratings.filter(col("h") < 50).select("user_id", "item_id", "rating")
      .as[(Long, Long, Double)].collect()
    val before = base.snapshot
    val sgdIn = MemoryStream[String]
    val sgd = SgdUpdater.updateLoop(spark, sgdIn.toDF(), store, SgdLr, SgdLambda,
      Some(s"$runDir/ckpt/sgd"))
    sgdQueryId = Some(sgd.id)
    var batches = 0
    var phaseNs = 0L
    val res = timedPhase(req, (Rate * seconds).toInt) { alive =>
      val start = System.nanoTime()
      var ok = true
      while (ok && alive() && (batches + 1) * SgdBatch <= lines.length) {
        val b = batches
        val c0 = CodeGenerator.compileTime
        val (done, took) = unit("sgd_batch", s"batch$b") {
          try {
            sgdIn.addData(lines.slice(b * SgdBatch, (b + 1) * SgdBatch).toSeq)
            sgd.processAllAvailable(); true
          } catch { case e: Exception => check(s"sgd_batch$b", ok = false, e.toString); false }
        }
        sgdCompileNs += CodeGenerator.compileTime - c0
        count("sgd_batches", done)
        ok = done
        if (done) { write += took; batches += 1 }
      }
      phaseNs = System.nanoTime() - start
    }
    layers("sgd.ratings_per_s") = batches * SgdBatch / math.max(1e-9, phaseNs / 1e9)
    sgd.stop()
    val snap = base.snapshot
    check("sgd_vectors_finite", snap.values.forall(_.forall(d => !d.isNaN && !d.isInfinite)),
      "a served vector holds NaN or Inf")
    val consumed = lines.take(batches * SgdBatch).map { l =>
      val p = l.split(","); (p(0).toLong, p(1).toLong, p(2).toDouble) }
    val (mseBefore, mseAfter) = (mse(before, consumed), mse(snap, consumed))
    check("sgd_lowers_mse_on_consumed", mseAfter < mseBefore,
      s"MSE on the consumed ratings went from $mseBefore to $mseAfter")
    layers("sgd.heldout_mse_before") = mse(before, heldOut)
    layers("sgd.heldout_mse_after") = mse(snap, heldOut)
    res
  }

  /** Mean squared error of a served model on ratings whose user and item
    * it holds; the MEAN rows stand in for absent keys as SgdUpdater does. */
  def mse(model: Map[String, Array[Double]], rs: scala.collection.Seq[(Long, Long, Double)]): Double = {
    var sum = 0.0
    var n = 0L
    rs.foreach { case (u, i, r) =>
      for (uv <- model.get(s"$u-U").orElse(model.get("MEAN-U"));
           iv <- model.get(s"$i-I").orElse(model.get("MEAN-I"))) {
        var d = 0.0
        var j = 0
        while (j < math.min(uv.length, iv.length)) { d += uv(j) * iv(j); j += 1 }
        sum += (r - d) * (r - d); n += 1
      }
    }
    if (n == 0) Double.NaN else sum / n
  }

  /** Each batch pass: its label and every query's run (None if it failed). */
  val passes = mutable.ArrayBuffer[(String, Seq[(String, Option[QueryRun])])]()
  /** The cold pass's rows, kept until they are written for the oracle check. */
  val coldRows = mutable.LinkedHashMap[String, (Array[Row], StructType)]()

  def batchOps(write: mutable.ArrayBuffer[Double]): LoadResult = {
    val req = setup(fixtureModel())
    consumer.stop()
    val fns = SparkEntry.queries
    def runPass(label: String): Unit = {
      val (out, took) = unit("query_pass", label) {
        BatchQueries.map { q =>
          spark.sparkContext.setJobGroup(s"$label:$q", q)
          val r = tracer.span("query", s"$label:$q", tracer.unit) { qid =>
            try {
              val c0 = CodeGenerator.compileTime
              val t0 = System.nanoTime()
              val df = tracer.span("construct", q, qid)(_ => fns(q)(spark, data))
              val t1 = System.nanoTime()
              val rows = tracer.span("execute", q, qid)(_ => df.collect())
              val t2 = System.nanoTime()
              if (label == "cold")
                coldRows(q) = (rows, df.schema)
              Some(QueryRun(rows.length,
                scala.util.hashing.MurmurHash3.seqHash(rows.map(_.toString).sorted.toSeq),
                t1 - t0, t2 - t0, CodeGenerator.compileTime - c0,
                df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble))
            } catch { case e: Exception =>
              check(s"$label:$q", ok = false, e.toString); None }
          }
          spark.sparkContext.clearJobGroup()
          count("queries", r.isDefined)
          q -> r
        }
      }
      passes += label -> out
      write += took
    }
    val res = timedPhase(req, (Rate * 180).toInt) { _ =>
      val start = System.nanoTime()
      runPass("cold")
      var w = 0
      while (w == 0 || System.nanoTime() - start < seconds * 1e9) { w += 1; runPass(s"warm$w") }
    }
    val cold = passes.head._2.toMap
    for ((label, qs) <- passes.tail; (q, r) <- qs; c <- cold(q); w <- r)
      check(s"$q:${label}_hash_equals_cold", w.hash == c.hash,
        s"$label row hash ${w.hash} (${w.rows} rows) != cold ${c.hash} (${c.rows} rows)")
    for ((q, (rows, schema)) <- coldRows) {
      val out = s"$runDir/out/$q"
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1).write.parquet(out)
      oracle(q) = Map("out" -> out, "sql" -> SparkEntry.oracleSql.get(q))
    }
    coldRows.clear()
    res
  }

  // ---- reporting ----------------------------------------------------------------

  /** Listener events arrive asynchronously; give the bus a moment. */
  def waitForBus(): Unit = Thread.sleep(1500)

  /** Operator layers per pass (cold, first warm) and per query on the cold
    * pass; zeros where the workload runs no queries. */
  def batchLayers(p: SparkProbe): Unit = {
    for ((name, i) <- Seq("cold", "warm").zipWithIndex) {
      val (label, qs) = passes.lift(i).getOrElse(("", Nil))
      val runs = qs.flatMap(_._2)
      val tot = qs.map { case (q, _) => p.totalsOf(s"group:$label:$q") }
      def put(k: String, v: Double) = layers(s"ops.$name.$k") = v
      put("wall_ms", runs.map(r => ms(r.wallNs)).sum)
      put("construct_ms", runs.map(r => ms(r.constructNs)).sum)
      put("plan_ms", runs.map(_.planMs).sum)
      put("compile_ms", runs.map(r => ms(r.compileNs)).sum)
      put("exec_ms", runs.map(r => ms(r.wallNs - r.constructNs)).sum)
      put("task_run_ms", tot.map(_.runMs).sum.toDouble)
      put("task_cpu_ms", tot.map(t => ms(t.cpuNs)).sum)
      put("gc_ms", tot.map(_.gcMs).sum.toDouble)
      put("shuffle_bytes", tot.map(_.shuffleBytes).sum.toDouble)
      put("spill_bytes", tot.map(_.spillBytes).sum.toDouble)
      put("jobs", tot.map(_.jobs).sum.toDouble)
      put("failed", qs.count(_._2.isEmpty).toDouble)
    }
    val cold = passes.headOption.map(_._2.toMap).getOrElse(Map.empty)
    BatchQueries.foreach { q =>
      val r = cold.get(q).flatten
      layers(s"ops.$q.wall_ms") = r.map(x => ms(x.wallNs)).getOrElse(0.0)
      layers(s"ops.$q.construct_ms") = r.map(x => ms(x.constructNs)).getOrElse(0.0)
      layers(s"ops.$q.compile_ms") = r.map(x => ms(x.compileNs)).getOrElse(0.0)
    }
  }

  /** Per-batch figures of a streaming query from its progress events and
    * the Spark jobs tagged with its id: medians over the batches that carried
    * input, zeros when the query did not run. */
  def streamLayers(p: SparkProbe, prefix: String, queryId: Option[java.util.UUID],
                   spanName: String, compileNs: Long): Unit = {
    val prog = queryId.map(p.progressOf).getOrElse(Nil)
    def dur(k: String*) = median(prog.map(pr => k.map(x =>
      Option(pr.durationMs.get(x)).map(_.toDouble).getOrElse(0.0)).sum))
    layers(s"$prefix.batches") = prog.size
    layers(s"$prefix.trigger_ms") = dur("triggerExecution")
    layers(s"$prefix.add_batch_ms") = dur("addBatch")
    layers(s"$prefix.plan_ms") = dur("queryPlanning")
    layers(s"$prefix.commit_ms") = dur("walCommit", "commitOffsets")
    layers(s"$prefix.compile_ms") = if (prog.isEmpty) 0.0 else ms(compileNs) / prog.size
    layers(s"$prefix.rows_in") = median(prog.map(_.numInputRows.toDouble))
    val tots = prog.map(pr => p.totalsOf(s"stream:${pr.id}:${pr.batchId}"))
    // the bench-side unit that waited for each batch, matched by start time
    val unitOf = prog.map { pr =>
      val t0 = tracer.nanoOf(java.time.Instant.parse(pr.timestamp).toEpochMilli)
      val u = units.find(u => u.t0 <= t0 + 2000000L && t0 <= u.t1)
      val id = tracer.newId()
      tracer.add(id, u.map(_.id).getOrElse(0L), spanName, s"batch${pr.batchId}",
        t0, t0 + pr.batchDuration * 1000000L)
      tracer.adopt(s"stream:${pr.id}:${pr.batchId}", id)
      u
    }
    if (prefix == "consumer") {
      val state = prog.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
      layers("consumer.rows_updated") = median(prog.map(_.stateOperators.map(_.numRowsUpdated).sum.toDouble))
      layers("consumer.state_rows") = state.map(_.numRowsTotal).sum.toDouble
      layers("consumer.state_bytes") = state.map(_.memoryUsedBytes).sum.toDouble
    } else {
      layers("sgd.jobs_per_batch") = median(tots.map(_.jobs.toDouble))
      layers("sgd.tasks_per_batch") = median(tots.map(_.tasks.toDouble))
      layers("sgd.task_run_ms") = median(tots.map(_.runMs.toDouble))
      layers("sgd.task_cpu_ms") = median(tots.map(t => ms(t.cpuNs)))
      layers("sgd.shuffle_bytes") = median(tots.map(_.shuffleBytes.toDouble))
      layers("sgd.driver_only_ms") = median(unitOf.zip(tots).collect { case (Some(u), t) =>
        t.idleMs(u.wall0, u.wall1).toDouble })
      Seq("sgd.ratings_per_s", "sgd.heldout_mse_before", "sgd.heldout_mse_after")
        .foreach(layers.getOrElseUpdate(_, 0.0))
    }
  }

  def report(res: LoadResult, write: Seq[Double], heapBytes: Long): Unit = {
    phases("predictions") = (res.sent, res.failed)
    check("predictions_match_vectors_read", res.mismatches == 0,
      s"${res.mismatches} mismatches; first: ${res.firstMismatch}")
    e2e("predict_p50_us") = pct(res.latencyNs, 0.50) / 1e3
    e2e("predict_p99_us") = pct(res.latencyNs, 0.99) / 1e3
    e2e("write_cold_ms") = write.headOption.getOrElse(0.0)
    e2e("write_p50_ms") = median(if (write.size > 1) write.tail else write)
    e2e("heap_live_mb") = heapBytes / 1048576.0
    probe.foreach(traceLayers(_, res))
    val result = Map(
      "workload" -> workload, "seed" -> seed,
      "e2e" -> e2e.toMap, "layers" -> layers.toMap,
      "phases" -> phases.map { case (k, (n, f)) => k -> Map("attempted" -> n, "failed" -> f) }.toMap,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "oracle" -> oracle.toMap, "write_units_ms" -> write)
    val w = new java.io.PrintWriter(s"$runDir/result.json", "UTF-8")
    try w.println(Serialization.write(result)(DefaultFormats)) finally w.close()
    if (trace) tracer.write(s"$runDir/spans.jsonl")
  }

  def traceLayers(p: SparkProbe, res: LoadResult): Unit = {
    waitForBus()
    streamLayers(p, "consumer", Some(consumer.id), "consumer_batch", consumerCompileNs)
    streamLayers(p, "sgd", sgdQueryId, "sgd_microbatch", sgdCompileNs)
    batchLayers(p)
    val t = timed.get
    layers("store.gets") = t.gets.sum.toDouble
    layers("store.get_hit_ratio") = t.hits.sum.toDouble / math.max(1L, t.gets.sum)
    layers("store.puts") = t.puts.sum.toDouble
    layers("store.put_ms") = ms(t.putNs.sum)
    layers("store.snapshots") = t.snapshots.sum.toDouble
    layers("store.snapshot_ms") = ms(t.snapshotNs.sum)
    layers("store.keys") = base.size.toDouble
    layers("store.bytes") = base.bytes.toDouble
    layers("predict.calls") = res.sent
    // a failed request counts as late
    layers("predict.late_share") =
      (res.latencyNs.count(_ > 1000000L) + res.failed).toDouble / math.max(1, res.sent)
    layers("predict.lookups") = res.lookups.toDouble
    layers("predict.not_found") = res.notFound.toDouble
    layers("predict.service_p50_us") = pct(res.serviceNs, 0.50) / 1e3
    layers("predict.service_p99_us") = pct(res.serviceNs, 0.99) / 1e3
    layers("predict.sched_late_p99_us") = pct(res.schedLateNs, 0.99) / 1e3
    layers("jvm.gc_ms") = gc.totalMs.get.toDouble
    layers("jvm.gc_pause_max_ms") = gc.maxPauseMs.get.toDouble
    phases.foreach { case (k, (n, f)) =>
      layers(s"phase.$k.attempted") = n; layers(s"phase.$k.failed") = f }
    tracer.selfMs(Seq("train", "publish_full", "consumer_batch", "sgd_batch",
      "sgd_microbatch", "spark_job", "store_snapshot", "predict", "query_pass", "query",
      "construct", "execute"))
      .foreach { case (n, v) => layers(s"self.${n}_ms") = v }
  }
}
