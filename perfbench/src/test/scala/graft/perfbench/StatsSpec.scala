package graft.perfbench

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest ladder percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(24).contains(50.0))
    assert(Stats.tailPercentile(25).contains(60.0))
    assert(Stats.tailPercentile(39).contains(60.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    // whatever the count, the chosen percentile leaves >= 10 beyond it
    // and the next ladder step up does not
    (1 to 2000).foreach { n =>
      Stats.tailPercentile(n).foreach { p =>
        assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
        Stats.Ladder.takeWhile(_ > p).foreach(q =>
          assert(Stats.beyond(n, q) < 10, s"n=$n q=$q"))
      }
    }
    assert(Stats.samplesFor(75.0) == 40)
    assert(Stats.samplesFor(60.0) == 25)
    assert(Stats.samplesFor(50.0) == 20)
  }

  test("nearest-rank percentiles; a failed sample (+Inf) only raises them") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 20.0)
    assert(Stats.percentile(xs, 75) == 30.0)
    assert(Stats.percentile(xs, 100) == 40.0)
    assert(Stats.median(xs) == 20.5 && Stats.median(xs.drop(1)) == 21.0)
    val failed = xs.updated(0, Double.PositiveInfinity)
    assert(Stats.percentile(failed, 75) == 31.0)
    assert(Stats.percentile(failed, 100).isPosInfinity)
  }

  private def stream(body: String, status: Int = 200): StreamRead = {
    var t = 0L
    Sse.read(status, 0L, new ByteArrayInputStream(body.getBytes(StandardCharsets.UTF_8)),
      () => { t += 1; t })
  }

  test("a heartbeat never counts as the first event") {
    val r = stream(
      "data: {\"type\":\"heartbeat\"}\r\n\r\n" +
      "data: {\"type\":\"heartbeat\"}\r\n\r\n" +
      "data: {\"id\":\"_\",\"type\":\"timeseries\",\"message\":{}}\r\n\r\n" +
      "data: {\"type\":\"done\"}\r\n\r\n")
    assert(r.ok)
    assert(r.heartbeats == 2)
    assert(r.data.size == 1 && r.data.head.contains("timeseries"))
    // the clock ticks once per non-heartbeat event: first event = tick 1
    assert(r.firstEventNs == 1 && r.doneNs == 2)
  }

  test("an answer with only heartbeats before done: done is the first event") {
    val r = stream("data: {\"type\":\"heartbeat\"}\r\n\r\ndata: {\"type\":\"done\"}\r\n\r\n")
    assert(r.ok && r.data.isEmpty && r.firstEventNs == r.doneNs)
  }

  test("a stream without done counts as failed") {
    val r = stream("data: {\"id\":\"_\",\"type\":\"timeseries\",\"message\":{}}\r\n\r\n" +
      "data: {\"type\":\"heartbeat\"}\r\n\r\n")
    assert(!r.ok)
    assert(r.failure.contains("stream ended without done"))
    val s = Sample(Req("k", "/p", "", None, CardCheck("", 0, 1)), 0, 0L, r)
    assert(s.doneMs.isPosInfinity && s.ttfeMs.isPosInfinity)
  }

  test("a non-200 answer counts as failed and keeps its message") {
    val r = stream("bad filter", status = 400)
    assert(!r.ok)
    assert(r.failure.exists(f => f.contains("400") && f.contains("bad filter")))
  }

  test("the cardinality tolerance covers both estimators' three-sigma error") {
    assert(Checks.withinHll(1000, 1000))
    assert(Checks.withinHll(1100, 1000))
    assert(!Checks.withinHll(1200, 1000))
    assert(Checks.round6(0.1234565) == BigDecimal("0.123457"))
  }
}
