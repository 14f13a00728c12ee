package graft

import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.Checkpoints.{sweep => sweepSession}

/** The 242-query suite bench, the driver's `runMain graft.Bench` surface.
  *
  * After an untimed session warm-up, every query runs in name order into
  * the noop sink, once cold and then once warm. Each execution runs on its
  * own job-group thread under a [[DeadlineS]] deadline and is followed by
  * a hermetic [[graft.plans.Checkpoints.sweep]]. A query whose cold or
  * warm execution failed (or hit the deadline) is re-run once as a
  * cold + warm pair at the end of the run, and that pair replaces its
  * figures. Host CPU steal is stamped per query and for the run; it never
  * gates or retries anything.
  *
  * The full record goes to BENCH_DETAIL.json; stdout gets exactly one
  * JSON line, [[summaryLine]].
  */
object Bench {

  /** Per-execution wall-clock cap: one pathological query must not eat
    * the driver's window. */
  val DeadlineS = 120
  /** How long a deadline-cancelled execution gets to unwind before the
    * run moves on. */
  val GraceS = 15
  /** Chars of the stdout line spent on the slowest-queries map. The
    * driver reads the last ~2,000 chars of stdout, and sbt appends a
    * ~75-char "[success]" banner after the line. */
  val QueryMapBudget = 600

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line. Only
    * the first 8 fields (user nice system idle iowait irq softirq steal)
    * are summed: guest/guest_nice are already folded into user/nice, so a
    * full-line sum double-counts them and understates the steal share.
    * (-1, -1) when unreadable (non-Linux). */
  private[graft] def cpuSteal(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Throwable => (-1L, -1L) }

  /** One execution. `secs` is -1 for a failure and -2 for a deadline
    * kill; `stealJ`/`jiffies` are the /proc/stat deltas of its window (0
    * when unreadable), kept raw so the run figure can be jiffy-weighted. */
  private[graft] case class Exec(ok: Boolean, secs: Double, stealJ: Long,
                                 jiffies: Long) {
    def stealPct: Double = if (jiffies <= 0) -1.0 else 100.0 * stealJ / jiffies
  }

  /** A query's headline figures; `retried` marks that they come from the
    * end-of-run retry pair. */
  private[graft] case class Result(name: String, cold: Exec, warm: Exec,
                                   retried: Boolean = false)

  private def fmt(v: Double) = f"$v%.3f"
  private def jmap(vs: Seq[(String, Double)]) =
    vs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** Fields shared by the stdout line and BENCH_DETAIL.json. `value` is
    * the cold total, -1 when any query is still failed after its retry: a
    * failed query must not vanish from the headline. */
  private def totals(rs: Seq[Result]): String = {
    val nFailed = rs.count(!_.cold.ok)
    val value = if (nFailed > 0) -1.0 else rs.map(_.cold.secs).sum
    val warmValue = rs.filter(_.warm.ok).map(_.warm.secs).sum
    val jiffies = rs.map(_.cold.jiffies).sum
    val stealPct =
      if (jiffies <= 0) -1.0 else 100.0 * rs.map(_.cold.stealJ).sum / jiffies
    s""""metric":"total","value":${fmt(value)},"warm_value":${fmt(warmValue)},""" +
      s""""unit":"sec","n_queries":${rs.size},"n_failed":$nFailed,""" +
      s""""n_retried":${rs.count(_.retried)},"steal_pct":${fmt(stealPct)}"""
  }

  /** The single stdout line: the totals plus the slowest queries that fit
    * in [[QueryMapBudget]] chars. */
  private[graft] def summaryLine(rs: Seq[Result], sfDir: String): String = {
    val slowest = rs.map(r => r.name -> r.cold.secs).sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val kept = slowest.scanLeft(0)(_ + _.length + 1).tail
      .zip(slowest).takeWhile(_._1 <= QueryMapBudget).map(_._2)
    s"""{${totals(rs)},"queries":${kept.mkString("{", ",", "}")},""" +
      s""""sf":"$sfDir","detail":"BENCH_DETAIL.json"}"""
  }

  /** The full record written to BENCH_DETAIL.json. */
  private[graft] def detailJson(rs: Seq[Result], sfDir: String): String =
    s"""{${totals(rs)},"queries":${jmap(rs.map(r => r.name -> r.cold.secs))},""" +
      s""""warm":${jmap(rs.map(r => r.name -> r.warm.secs))},""" +
      s""""retry":${jmap(rs.filter(_.retried).map(r => r.name -> r.cold.secs))},""" +
      s""""steal":${jmap(rs.map(r => r.name -> r.cold.stealPct))},"sf":"$sfDir"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DriverSession()
    // Untimed session warm-up: analyzer/optimizer rules, shuffle + noop
    // sink, codegen plumbing and the parquet read/write stack, via a
    // throwaway file. It touches no test table, so each query's file
    // listing and footer reads stay inside its own timing.
    spark.range(16).repartition(2).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    val warmDir =
      s"${System.getProperty("java.io.tmpdir")}/graft-warm/w.parquet"
    spark.range(64).selectExpr("id", "cast(id as double) d", "cast(id as string) s")
      .write.mode("overwrite").parquet(warmDir)
    spark.read.parquet(warmDir).write.format("noop").mode("overwrite").save()

    def execute(name: String, tag: String,
                fn: (SparkSession, String) => DataFrame): Exec = {
      val group = s"bench-$name-$tag"
      val pool = Executors.newSingleThreadExecutor(
        (r: Runnable) => { val t = new Thread(r, group); t.setDaemon(true); t })
      val (steal0, jiffies0) = cpuSteal()
      val t0 = System.nanoTime()
      val task = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
          // noop sink: materializes every output column, which count()
          // would let Catalyst prune
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          finally spark.sparkContext.clearJobGroup()
        }
      })
      val secs =
        try { task.get(DeadlineS, TimeUnit.SECONDS); (System.nanoTime() - t0) / 1e9 }
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelJobGroup(group)
            System.err.println(s"[bench] $name $tag FAILED-SLOW: exceeded ${DeadlineS}s")
            try task.get(GraceS, TimeUnit.SECONDS) catch { case _: Throwable => }
            -2.0
          case e: Throwable =>
            System.err.println(s"[bench] $name $tag FAILED: " +
              s"${Option(e.getCause).getOrElse(e).getMessage}")
            -1.0
        }
      val (steal1, jiffies1) = cpuSteal()
      pool.shutdownNow()
      sweepSession(spark)
      val readable = steal0 >= 0 && steal1 >= 0 && jiffies1 > jiffies0
      val e = Exec(secs >= 0, secs, if (readable) steal1 - steal0 else 0L,
        if (readable) jiffies1 - jiffies0 else 0L)
      if (e.ok) System.err.println(
        f"[bench] $name $tag: $secs%.2f s (host steal ${e.stealPct}%.1f%%)")
      e
    }
    def pair(name: String, fn: (SparkSession, String) => DataFrame,
             retried: Boolean): Result = {
      val tag = if (retried) "retry-" else ""
      val cold = execute(name, tag + "cold", fn)
      val warm = if (cold.ok) execute(name, tag + "warm", fn) else cold
      Result(name, cold, warm, retried)
    }

    // sorted name order: deterministic run order across code changes
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val first = queries.map { case (name, fn) => pair(name, fn, retried = false) }
    val results = first.zip(queries).map { case (r, (name, fn)) =>
      if (r.cold.ok && r.warm.ok) r
      else {
        System.err.println(s"[bench] retrying $name")
        pair(name, fn, retried = true)
      }
    }
    try {
      val w = new java.io.PrintWriter("BENCH_DETAIL.json")
      try w.println(detailJson(results, sfDir)) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    println(summaryLine(results, sfDir))
    spark.stop()
  }
}
