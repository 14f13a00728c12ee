package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Exec, Result}

/** The bench's output contract: the single stdout line the driver parses
  * out of the last ~2,000 chars of stdout, the -1 rule for a still-failed
  * query, and the /proc/stat steal reading. Pure: no query runs. */
class BenchSpec extends AnyFunSuite {

  private val sf = "/srv/graft/testdata/sf0.1"
  private def ok(secs: Double) = Exec(ok = true, secs, 3L, 400L)
  private val failed = Exec(ok = false, -2.0, 0L, 0L)
  /** The whole fleet, with made-up timings. */
  private val fleet = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map {
    case (name, i) => Result(name, ok(1.0 + i % 17), ok(0.5 + i % 5))
  }

  private def num(j: JValue, k: String): Double = (j \ k) match {
    case JDouble(d)  => d
    case JInt(n)     => n.toDouble
    case JDecimal(d) => d.toDouble
    case v           => fail(s"$k is not a number: $v")
  }

  test("exactly one metric line, and it parses as JSON") {
    val line = Bench.summaryLine(fleet, sf)
    assert(!line.contains('\n'))
    assert("\"metric\":\"total\"".r.findAllMatchIn(line).size === 1)
    val j = parse(line)
    assert((j \ "metric") === JString("total"))
    assert(num(j, "n_queries") === fleet.size)
    assert(num(j, "n_failed") === 0)
    assert(math.abs(num(j, "value") - fleet.map(_.cold.secs).sum) < 1e-6)
    assert(math.abs(num(j, "warm_value") - fleet.map(_.warm.secs).sum) < 1e-6)
    assert(math.abs(num(j, "steal_pct") - 0.75) < 1e-6)
    // the query map holds the slowest queries first
    val JObject(kept) = j \ "queries"
    assert(kept.nonEmpty && kept.size < fleet.size)
    val keptNames = kept.map(_._1).toSet
    val (in, out) = fleet.partition(r => keptNames(r.name))
    assert(in.map(_.cold.secs).min >= out.map(_.cold.secs).max)
  }

  test("with the full fleet the line stays inside the driver's stdout tail") {
    assert(fleet.size === 242)
    assert(Bench.summaryLine(fleet, sf).length < 1900)
  }

  test("value is -1 when a query is still failed after its retry") {
    val rs = fleet.updated(7, fleet(7).copy(cold = failed, warm = failed,
      retried = true))
    val j = parse(Bench.summaryLine(rs, sf))
    assert(num(j, "value") === -1.0)
    assert(num(j, "n_failed") === 1)
    assert(num(j, "n_retried") === 1)
    val d = parse(Bench.detailJson(rs, sf))
    assert(num(d, "value") === -1.0)
    assert(num(d \ "retry", rs(7).name) === -2.0)
    assert(num(d \ "queries", rs(7).name) === -2.0)
  }

  test("a retried query contributes its retry time to the headline") {
    val rs = fleet.updated(3, fleet(3).copy(cold = ok(9.0), retried = true))
    val d = parse(Bench.detailJson(rs, sf))
    assert(math.abs(num(d, "value") - rs.map(_.cold.secs).sum) < 1e-6)
    assert(num(d \ "retry", rs(3).name) === 9.0)
    val JObject(retry) = d \ "retry"
    assert(retry.size === 1)
    val JObject(qs) = d \ "queries"
    val JObject(steal) = d \ "steal"
    assert(qs.size === 242 && steal.size === 242)
  }

  test("cpuSteal sums only the first 8 /proc/stat fields (no guest double-count)") {
    val (steal, total) = Bench.cpuSteal()
    if (total >= 0) { // Linux
      assert(steal >= 0 && steal <= total)
      // re-read: monotone non-decreasing counters
      val (steal2, total2) = Bench.cpuSteal()
      assert(steal2 >= steal && total2 >= total)
      // the 8-field sum must be strictly smaller than a full-line sum
      // whenever guest jiffies are nonzero, and equal otherwise; either
      // way it can never exceed it
      val f = {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      }
      assert(f.take(8).sum <= f.sum)
      assert(total <= f.sum)
    }
  }
}
