package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ast.{ASTInput, AstJson}
import graft.engine.{QueryEngine, ReplaySequencer, ResultCache, Telemetry}
import graft.engine.ReplaySequencer.SegmentSpan

/** The sealed-interval result cache: a replay served partly or wholly
  * from the cache emits the same (seq, row) sequence as the cache-less
  * replay, runs jobs only for the groups it cannot serve, misses exactly
  * the intervals whose segments changed, and stays under its byte
  * bound. */
class ResultCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).get

  private def tel(df: DataFrame): Telemetry =
    Telemetry.nanos(df, "ts", valueCol = col("value"),
      message = Some(col("props")))

  private val asts: Map[String, ASTInput] = Map(
    "sum" -> AstJson.parseAstInput(
      """{"baseExpressions": {"a": {"dataset": "logs",
        |  "filter": {"k": "event_type", "v": ["click", "view", "buy"], "op": "in"},
        |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
        |}}}""".stripMargin),
    "p90" -> AstJson.parseAstInput(
      """{"baseExpressions": {"a": {"dataset": "logs",
        |  "filter": {"k": "event_type", "v": ["click", "view"], "op": "in"},
        |  "chart": {"aggregation": "p90", "groupBys": ["event_type"]}
        |}}}""".stripMargin),
    "formula" -> AstJson.parseAstInput(
      """{"baseExpressions": {
        |  "a": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["click"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}},
        |  "b": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["view"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}}
        |}, "formulae": ["a / b"]}""".stripMargin))

  /** A replay polled `polls` times, the clock sliding one step a poll: a
    * step, a first window (its start possibly off the step grid),
    * events around every window, segment spans with gaps, a
    * minGroupSize and a direction. */
  private case class Scenario(stepMs: Long, startMs: Long, endMs: Long,
      events: Seq[(Long, String, Double)], spans: Seq[SegmentSpan],
      minGroupSize: Int, reverse: Boolean)

  private val polls = 4

  private val scenarioGen: Gen[Scenario] = for {
    stepMs <- Gen.oneOf(60000L, 300000L, 3600000L)
    nSteps <- Gen.chooseNum(12, 30)
    startOff <- Gen.oneOf(Gen.const(0L), Gen.const(0L),
      Gen.chooseNum(1L, stepMs - 1))
    nEvents <- Gen.chooseNum(150, 400)
    events <- Gen.listOfN(nEvents, for {
      t <- Gen.chooseNum(-stepMs, (nSteps + polls + 1) * stepMs)
      k <- Gen.oneOf("click", "view", "buy")
      v <- Gen.chooseNum(0, 200)
    } yield (base + t, k, v / 4.0))
    nSpans <- Gen.chooseNum(1, 4)
    spans <- Gen.listOfN(nSpans, for {
      a <- Gen.chooseNum(-2L, (nSteps + polls).toLong)
      len <- Gen.chooseNum(1L, 12L)
      jitter <- Gen.chooseNum(0L, stepMs - 1)
    } yield (a * stepMs + jitter, (a + len) * stepMs + jitter / 2))
    minGroupSize <- Gen.chooseNum(1, 4)
    reverse <- Gen.oneOf(false, true)
  } yield Scenario(stepMs, base + startOff, base + nSteps * stepMs,
    events,
    spans.zipWithIndex.map { case ((a, b), i) =>
      SegmentSpan(s"s$i", base + a, base + b) },
    minGroupSize, reverse)

  /** Delivered rows, compared the way ReplayWaveSpec compares them
    * (value rounded to 6 places), in delivery order. */
  private def delivered(t: Telemetry, ast: ASTInput, sc: Scenario,
      shift: Long, cache: ResultCache.Scope)
      : Seq[(Int, Boolean, Long, String, String, Double)] =
    QueryEngine.streamRows(QueryEngine.evaluateIncremental(_ => t, ast,
        sc.startMs + shift, sc.endMs + shift, sc.stepMs, sc.spans,
        sc.minGroupSize, sc.reverse, cache = cache)).toList
      .map { case (seq, sealedRow, r) =>
        (seq, sealedRow, r.getAs[Long]("step_ts"), r.getAs[String]("group_key"),
          r.getAs[String]("label"),
          BigDecimal(r.getAs[Double]("value"))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }

  for ((kind, ast) <- asts.toSeq.sortBy(_._1); i <- 0 until 4) {
    test(s"$kind replay $i: cached and uncached delivery emit the same " +
      "(seq, row) sequence over a clock sliding one step a poll") {
      val sc = sample(scenarioGen, 53L * i + kind.hashCode)
      val t = tel(sc.events.map { case (ts, k, v) =>
        (ts * 1000000L + 17L, k, v, "{}") }
        .toDF("ts", "event_type", "value", "props"))
      val store = new ResultCache(ResultCache.DefaultBytes)
      val cache = store.scope(this)
      (0 until polls).foreach { p =>
        val shift = p * sc.stepMs
        val want = delivered(t, ast, sc, shift, ResultCache.Off)
        val got = delivered(t, ast, sc, shift, cache)
        assert(got === want, s"poll $p: $sc")
      }
      // the first window again: a group with neither a gap interval nor
      // a clipped edge is served
      def covered(t0: Long) = sc.spans.exists(s =>
        s.endMs > t0 && s.startMs < t0 + sc.stepMs)
      val whole = ReplaySequencer.sequence(sc.spans, sc.startMs, sc.endMs,
          sc.stepMs, sc.minGroupSize, sc.reverse)
        .filter(g => g.startMs % sc.stepMs == 0 &&
          (g.startMs until g.endMs by sc.stepMs).forall(covered))
      val hitsBefore = store.hits.get
      delivered(t, ast, sc, 0, cache)
      assert(store.hits.get - hitsBefore ===
        whole.map(g => (g.endMs - g.startMs) / sc.stepMs).sum, sc.toString)
    }
  }

  // ------------------------------------------------------ job economy

  private lazy val hourly: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 48 * 30).map { i =>
      ((base + (i / 30) * hour + rnd.nextInt(3600000)) * 1000000L,
        s"svc${rnd.nextInt(4)}", s"u${rnd.nextInt(400)}", 1.0, "{}")
    }.toDF("ts", "service", "user_id", "value", "props")
  }
  private val sumByService = AstJson.parseAstInput(
    """{"baseExpressions": {"a": {"dataset": "logs",
      |  "filter": {"k": "service", "op": "exists"},
      |  "chart": {"aggregation": "sum", "groupBys": ["service"]}
      |}}}""".stripMargin)

  private def chart(t: Telemetry, startMs: Long, endMs: Long,
      spans: Seq[SegmentSpan], minGroupSize: Int,
      cache: ResultCache.Scope): Seq[(Int, Row)] =
    QueryEngine.streamRows(QueryEngine.evaluateIncremental(_ => t,
      sumByService, startMs, endMs, hour, spans, minGroupSize,
      cache = cache)).map(x => (x._1, x._3)).toList

  /** The rows and the job count of one replay. */
  private def logged[A](body: => A): (A, Int) =
    JobLog.during(spark.sparkContext) { log =>
      val a = body
      (a, log.all.size)
    }

  test("a re-poll slid by one step runs jobs only for the group holding " +
    "the new interval; a clipped window start runs its first group") {
    val t = tel(hourly)
    val span = Seq(SegmentSpan("s", base, base + 48 * hour))
    val store = new ResultCache(ResultCache.DefaultBytes)
    val cache = store.scope(this)
    chart(t, base, base + 12 * hour, span, 4, ResultCache.Off) // warm
    val (first, firstJobs) =
      logged(chart(t, base, base + 12 * hour, span, 4, cache))
    assert(firstJobs > 2)
    assert(store.misses.get === 12 && store.hits.get === 0)
    // the same window: served whole, no job
    val (again, againJobs) =
      logged(chart(t, base, base + 12 * hour, span, 4, cache))
    assert(againJobs === 0)
    assert(again === first)
    assert(store.hits.get === 12)
    // one step later: groups [1,5) [5,9) [9,13); only the last holds a
    // new interval, so one wave (its aggregate stage and result job) runs
    val (slid, slidJobs) =
      logged(chart(t, base + hour, base + 13 * hour, span, 4, cache))
    assert(slidJobs === 2)
    assert(store.misses.get === 13)
    assert(slid === chart(t, base + hour, base + 13 * hour, span, 4,
      ResultCache.Off))
    // a window start off the grid clips group 0: it runs, the rest are
    // served
    val (clipped, clippedJobs) = logged(chart(t, base + hour + 60000L,
      base + 13 * hour, span, 4, cache))
    assert(clippedJobs === 2)
    assert(clipped === chart(t, base + hour + 60000L, base + 13 * hour,
      span, 4, ResultCache.Off))
  }

  test("re-registering a segment with a new id or span over an interval " +
    "misses that interval only") {
    val t = tel(hourly)
    val spans = (0 until 12).map(h =>
      SegmentSpan(s"h$h", base + h * hour, base + (h + 1) * hour))
    val store = new ResultCache(ResultCache.DefaultBytes)
    val cache = store.scope(this)
    val end = base + 12 * hour
    val want = chart(t, base, end, spans, 1, ResultCache.Off)
    assert(chart(t, base, end, spans, 1, cache) === want)
    for (changed <- Seq(
        spans.updated(5, SegmentSpan("h5-compacted", base + 5 * hour,
          base + 6 * hour)),
        spans.updated(7, SegmentSpan("h7", base + 7 * hour + 1000,
          base + 8 * hour)))) {
      val misses = store.misses.get
      val (got, jobs) = logged(chart(t, base, end, changed, 1, cache))
      assert(store.misses.get - misses === 1)
      assert(jobs === 2) // one group, one wave
      assert(got === want)
    }
  }

  test("cardinality served from the cache equals the cache-less running " +
    "estimates, clock sliding one step a poll") {
    val t = tel(hourly)
    val e = AstJson.parseBaseExpr(
      """{"id": "a", "dataset": "logs",
        |  "filter": {"k": "service", "op": "exists"}}""".stripMargin)
    // hours 21-22 are a gap inside the group [20h, 26h)
    val spans = Seq(SegmentSpan("a", base, base + 21 * hour),
      SegmentSpan("b", base + 23 * hour, base + 48 * hour))
    val store = new ResultCache(ResultCache.DefaultBytes)
    val cache = store.scope(this)
    for (p <- 0 until 3; minGroupSize <- Seq(1, 4)) {
      val (s, en) = (base + p * hour, base + (36 + p) * hour)
      def run(c: ResultCache.Scope) = QueryEngine.cardinalityIncremental(t,
        e, Seq("user_id"), s, en, hour, spans, minGroupSize, c).toList
      assert(run(cache) === run(ResultCache.Off), s"poll $p")
    }
    val (again, jobs) = logged(QueryEngine.cardinalityIncremental(t, e,
      Seq("user_id"), base, base + 36 * hour, hour, spans, 4, cache).toList)
    assert(jobs > 0) // the gap's group runs
    val (_, servedJobs) = logged(QueryEngine.cardinalityIncremental(t, e,
      Seq("user_id"), base, base + 20 * hour, hour, spans, 4, cache).toList)
    assert(servedJobs === 0)
    assert(again.last._2 > 300)
  }

  test("an overfilled cache stays under its byte bound and counts its " +
    "evictions; what it serves is still exact") {
    val t = tel(hourly)
    val span = Seq(SegmentSpan("s", base, base + 48 * hour))
    val bound = 32L * 1024
    val store = new ResultCache(bound)
    val cache = store.scope(this)
    val want = chart(t, base, base + 48 * hour, span, 1, ResultCache.Off)
    for (_ <- 0 until 2) {
      assert(chart(t, base, base + 48 * hour, span, 1, cache) === want)
      assert(store.bytes <= bound)
      assert(store.size > 0)
    }
    assert(store.evictions.get > 0)
    // tenants never share entries
    val other = new ResultCache(ResultCache.DefaultBytes)
    val (a, b) = (other.scope(new Object), other.scope(new Object))
    chart(t, base, base + 4 * hour, span, 1, a)
    val (_, jobs) = logged(chart(t, base, base + 4 * hour, span, 1, b))
    assert(jobs > 0 && other.hits.get === 0)
  }
}
