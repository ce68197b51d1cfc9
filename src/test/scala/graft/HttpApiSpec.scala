package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.QueryHttpApi
import graft.engine.{QueryEngine, ReplaySequencer, Telemetry}

/** The HTTP/SSE transport shell: a reference client's wire contract —
  * SSE framing (`data: {...}\r\n\r\n`), the timeseries/event/done
  * payload shapes, tag/cardinality streams, and the JSON side routes —
  * all served over the same engine calls the oracles pin. */
class HttpApiSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private val base = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  private lazy val events = {
    (0 until 480).map { i =>
      ((base + i * 6L * 60000L) * 1000000L,
        if (i % 3 == 0) "click" else "view",
        (i % 50) / 2.0, s"""{"k": $i}""")
    }.toDF("ts", "event_type", "value", "props")
  }
  private lazy val tel = Telemetry.nanos(events, "ts",
    valueCol = col("value"), message = Some(col("props")))

  private val chartAst =
    """{"baseExpressions": {"a": {
      |  "dataset": "logs",
      |  "filter": {"k": "event_type", "v": ["click", "view"], "op": "in"},
      |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
      |}}}""".stripMargin

  private def withApi(segments: Seq[ReplaySequencer.SegmentSpan] = Nil)(
      f: Int => Unit): Unit = {
    val api = new QueryHttpApi(_ => tel, segments = segments,
      now = () => java.time.Instant.ofEpochMilli(base + 48 * hour))
    val port = api.start(0)
    try f(port) finally api.stop()
  }

  private def http(port: Int, method: String, path: String,
      body: String = ""): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (body.nonEmpty || method == "POST") {
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = if (is == null) ""
      else new String(is.readAllBytes(), StandardCharsets.UTF_8)
    (code, text)
  }

  /** Parse an SSE body into its `data:` JSON events (wire framing
    * asserted here: every event is `data: {json}\r\n\r\n`). */
  private def sseEvents(bodyText: String): Seq[JsonNode] = {
    val chunks = bodyText.split("\r\n\r\n").filter(_.nonEmpty)
    chunks.map { c =>
      assert(c.startsWith("data: "), s"bad SSE frame: $c")
      mapper.readTree(c.stripPrefix("data: "))
    }.toSeq
  }

  test("GET /ready answers 200; scopeTags/functionSpecs serve JSON") {
    withApi() { port =>
      assert(http(port, "GET", "/ready")._1 == 200)
      val (c1, scopes) = http(port, "GET", "/api/v1/scopeTags")
      assert(c1 == 200)
      val arr = mapper.readTree(scopes)
      assert(arr.isArray &&
        (0 until arr.size).map(arr.get(_).asText()).toSet ==
          QueryEngine.scopeTags.toSet)
      val (c2, fns) = http(port, "GET", "/api/v1/functionSpecs")
      assert(c2 == 200)
      assert(mapper.readTree(fns).size ==
        graft.plans.GraftExtensions.functions.size)
    }
  }

  test("POST /api/v1/graph?explain=true answers the formatted plan and " +
    "replay-group count without executing the query") {
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    val api = new QueryHttpApi(_ => tel, segments = Seq(span),
      minGroupSize = 4,
      now = () => java.time.Instant.ofEpochMilli(base + 48 * hour))
    val port = api.start(0)
    try {
      val (code, bodyText) = http(port, "POST",
        s"/api/v1/graph?s=$base&e=${base + 48 * hour}&explain=true",
        chartAst)
      assert(code == 200)
      val evs = sseEvents(bodyText)
      assert(evs.map(_.get("type").asText()) == Seq("explain", "done"))
      val m = evs.head.get("message")
      val plan = m.get("plan").asText()
      // the formatted plan carries the chart shape: step bucketing and
      // the partial/final aggregate pair
      assert(plan.contains("HashAggregate"), plan.take(400))
      // it is the replay wave's frame the route runs — sorted within
      // partitions and merged on the driver — not the globally sorted
      // batch evaluate
      assert(plan.contains(QueryEngine.REPLAY_SEQ), plan)
      assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
      assert(m.get("stepMs").asLong() ==
        graft.functions.TimeRange.autoStepMillis(base, base + 48 * hour))
      val groups = ReplaySequencer.sequence(Seq(span), base,
        base + 48 * hour, m.get("stepMs").asLong(), 4)
      assert(m.get("replayGroups").asInt() == groups.size)
      // one query per wave of 1, 2, 4, … groups: 36 groups → 6 waves
      assert(groups.size == 36)
      assert(m.get("replayWaves").asInt() == 6)
      assert(m.get("replayWaves").asInt() ==
        ReplaySequencer.waves(groups).size)
    } finally api.stop()
  }

  test("concurrent POSTs to one route each run their OWN body") {
    // regression: the body used to travel as an HttpExchange attribute,
    // which the JDK server keeps per CONTEXT — concurrent POSTs to one
    // route could read each other's AST. Eight distinct filters, all
    // released at once by one latch, must each answer as when sent alone.
    def astFor(i: Int): String =
      s"""{"baseExpressions": {"a": {
         |  "dataset": "logs",
         |  "filter": {"k": "value", "v": ["${i * 3}"], "op": "gt",
         |             "dataType": "number"},
         |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
         |}}}""".stripMargin
    def answer(text: String): Seq[(Long, String, Double)] =
      sseEvents(text).filter(n =>
          Option(n.get("type")).exists(_.asText() == "timeseries"))
        .map { n =>
          val m = n.get("message")
          (m.get("timestamp").asLong(),
            m.get("tags").get("event_type").asText(),
            m.get("value").asDouble())
        }.sortBy(t => (t._1, t._2))
    withApi() { port =>
      val path = s"/api/v1/graph?s=$base&e=${base + 48 * hour}" +
        "&timeseriesOnly=true"
      val serial = (0 until 8).map { i =>
        val (code, text) = http(port, "POST", path, astFor(i))
        assert(code == 200)
        answer(text)
      }
      assert(serial.distinct.size == 8, "filters must give distinct answers")
      // a few bursts: each one is a fresh chance for the bodies to cross
      (0 until 4).foreach { round =>
        val go = new java.util.concurrent.CountDownLatch(1)
        val got = new java.util.concurrent.ConcurrentHashMap[Int,
          Seq[(Long, String, Double)]]()
        val threads = (0 until 8).map { i =>
          new Thread(() => {
            go.await()
            val (code, text) = http(port, "POST", path, astFor(i))
            if (code == 200) got.put(i, answer(text))
          })
        }
        threads.foreach(_.start())
        go.countDown()
        threads.foreach(_.join(120000))
        val wrong = (0 until 8).filter(i => got.get(i) != serial(i))
        assert(wrong.isEmpty,
          s"burst $round: requests $wrong answered another body")
      }
    }
  }

  test("POST /api/v1/graph streams timeseries events that equal the " +
    "engine evaluation, then exemplar events, then done") {
    withApi() { port =>
      val s = base.toString
      val e = (base + 48 * hour).toString
      val (code, bodyText) = http(port, "POST",
        s"/api/v1/graph?s=$s&e=$e", chartAst)
      assert(code == 200)
      val events0 = sseEvents(bodyText)
      assert(events0.last.get("type").asText() == "done")
      val ts = events0.filter(n =>
        Option(n.get("type")).exists(_.asText() == "timeseries"))
      val ex = events0.filter(n =>
        Option(n.get("type")).exists(_.asText() == "event"))
      assert(ts.nonEmpty)
      // 48h window → the reference step ladder picks 20m for ≤ 3d
      val stepMs = graft.functions.TimeRange.autoStepMillis(
        base, base + 48 * hour)
      val expected = QueryEngine.evaluate(_ => tel,
          graft.ast.AstJson.parseAstInput(chartAst),
          base, base + 48 * hour, stepMs)
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          r.getDouble(2), r.getString(3)))
        .sortBy(t => (t._1, t._2))
      val got = ts.map { n =>
        val m = n.get("message")
        (m.get("timestamp").asLong(),
          m.get("tags").get("event_type").asText(),
          m.get("value").asDouble(), m.get("label").asText())
      }.sortBy(t => (t._1, t._2))
      assert(got == expected.toSeq)
      // auto-exemplars beside the log chart expression: raw event rows
      assert(ex.nonEmpty)
      assert(ex.forall(_.get("id").asText() == "a"))
      assert(ex.head.get("message").has("event_type"))
      // timeseriesOnly=true suppresses them
      val (_, noEx) = http(port, "POST",
        s"/api/v1/graph?s=$s&e=$e&timeseriesOnly=true", chartAst)
      assert(!sseEvents(noEx).exists(n =>
        Option(n.get("type")).exists(_.asText() == "event")))
    }
  }

  test("graph over registered segments delivers incrementally and " +
    "concatenates to the same series") {
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    withApi(Seq(span)) { port =>
      val (code, bodyText) = http(port, "POST",
        s"/api/v1/graph?s=$base&e=${base + 48 * hour}&timeseriesOnly=true",
        chartAst)
      assert(code == 200)
      val ts = sseEvents(bodyText).filter(n =>
        Option(n.get("type")).exists(_.asText() == "timeseries"))
      val stepMs = graft.functions.TimeRange.autoStepMillis(
        base, base + 48 * hour)
      val expected = QueryEngine.evaluate(_ => tel,
          graft.ast.AstJson.parseAstInput(chartAst),
          base, base + 48 * hour, stepMs)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      val got = ts.map { n =>
        val m = n.get("message")
        (m.get("timestamp").asLong(),
          m.get("tags").get("event_type").asText(),
          m.get("value").asDouble())
      }
      // replay order: timestamps non-decreasing across sealed groups
      assert(got.map(_._1).sliding(2).forall {
        case Seq(a, b) => a <= b
        case _ => true
      })
      assert(got.sortBy(t => (t._1, t._2)) == expected.toSeq)
    }
  }

  test("POST /api/v1/tags/{dataset} streams tag values (and names " +
    "without tagName); limit caps the stream") {
    withApi() { port =>
      val (code, bodyText) = http(port, "POST",
        s"/api/v1/tags/logs?tagName=event_type&s=$base&e=${base + 48 * hour}")
      assert(code == 200)
      val vals = sseEvents(bodyText).filter(_.has("message"))
        .filter(n => Option(n.get("type")).exists(_.asText() == "data"))
        .map(_.get("message").get("event_type").asText())
      assert(vals.toSet == Set("click", "view"))
      val (_, names) = http(port, "POST",
        s"/api/v1/tags/logs?s=$base&e=${base + 48 * hour}")
      val nameList = sseEvents(names)
        .filter(n => Option(n.get("type")).exists(_.asText() == "data"))
        .map(_.get("message").get("name").asText())
      assert(nameList.contains("event_type"))
      val (_, capped) = http(port, "POST",
        s"/api/v1/tags/logs?tagName=event_type&limit=1&s=$base&e=${base + 48 * hour}")
      assert(sseEvents(capped).count(n =>
        Option(n.get("type")).exists(_.asText() == "data")) == 1)
    }
  }

  test("a negative /tags limit answers 400 on the batch value, the " +
    "tag-name and the replay path") {
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    val window = s"s=$base&e=${base + 48 * hour}"
    for ((segments, query) <- Seq(
        (Nil, s"tagName=event_type&limit=-1&$window"), // batch values
        (Nil, s"limit=-1&$window"), // tag names
        (Seq(span), s"tagName=event_type&limit=-1&$window"))) // replay
      withApi(segments) { port =>
        val (code, text) = http(port, "POST", s"/api/v1/tags/logs?$query")
        assert(code == 400, s"segments=${segments.size} $query: $text")
      }
  }

  test("/tags and /cardinality scope a baseExpressions wrapper to its " +
    "lowest id, and answer 400 to an empty wrapper") {
    // only "a", the lowest id and last in the body, filters to clicks
    def expr(filter: String) =
      s"""{"dataset": "logs", "filter": $filter,
         |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}}"""
        .stripMargin
    val all = expr("""{"k": "event_type", "v": [], "op": "exists"}""")
    val wrapper = Seq("e" -> all, "d" -> all, "c" -> all, "b" -> all,
        "a" -> expr("""{"k": "event_type", "v": ["click"], "op": "in"}"""))
      .map { case (id, e) => s""""$id": $e""" }
      .mkString("""{"baseExpressions": {""", ", ", "}}")
    val tagsPath =
      s"/api/v1/tags/logs?tagName=event_type&s=$base&e=${base + 48 * hour}"
    val cardPath = s"/api/v1/cardinality?s=$base&e=${base + 48 * hour}"
    withApi() { port =>
      val (code, tags) = http(port, "POST", tagsPath, wrapper)
      assert(code == 200, tags)
      assert(sseEvents(tags)
        .filter(n => Option(n.get("type")).exists(_.asText() == "data"))
        .map(_.get("message").get("event_type").asText()) == Seq("click"))
      val (cardCode, card) = http(port, "POST", cardPath, wrapper)
      assert(cardCode == 200, card)
      assert(sseEvents(card).filter(_.has("message"))
        .map(_.get("message").asLong()) == Seq(1L))
      for (path <- Seq(tagsPath, cardPath)) {
        val (empty, text) =
          http(port, "POST", path, """{"baseExpressions": {}}""")
        assert(empty == 400, s"$path: $text")
      }
    }
  }

  test("tag values of a non-string column stream as strings on both the " +
    "batch and the replay path") {
    val coded = (0 until 480).map { i =>
      ((base + i * 6L * 60000L) * 1000000L, "click", i % 4, 1.0)
    }.toDF("ts", "event_type", "code", "value")
    val codedTel = Telemetry.nanos(coded, "ts", valueCol = col("value"))
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    for (segments <- Seq(Nil, Seq(span))) {
      val api = new QueryHttpApi(_ => codedTel, segments = segments,
        now = () => java.time.Instant.ofEpochMilli(base + 48 * hour))
      val port = api.start(0)
      try {
        val (code, bodyText) = http(port, "POST",
          s"/api/v1/tags/logs?tagName=code&s=$base&e=${base + 48 * hour}")
        assert(code == 200, bodyText)
        val evs = sseEvents(bodyText)
        assert(!evs.exists(_.get("type").asText() == "error"), bodyText)
        val vals = evs
          .filter(n => Option(n.get("type")).exists(_.asText() == "data"))
          .map(_.get("message").get("code").asText())
        assert(vals.sorted == Seq("0", "1", "2", "3"),
          s"segments=${segments.size}: $bodyText")
      } finally api.stop()
    }
  }

  test("heartbeat frames keep the stream alive between replay-group " +
    "jobs and parsers skip them (T5)") {
    // 50 ms heartbeat + 144 single-interval replay groups in 8 waves:
    // every wave is its own Spark query (>> 50 ms), so heartbeats appear
    // between events
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    val api = new QueryHttpApi(_ => tel, segments = Seq(span),
      minGroupSize = 1, heartbeatMillis = 50,
      now = () => java.time.Instant.ofEpochMilli(base + 48 * hour))
    val port = api.start(0)
    try {
      val (code, bodyText) = http(port, "POST",
        s"/api/v1/graph?s=$base&e=${base + 48 * hour}&timeseriesOnly=true",
        chartAst)
      assert(code == 200)
      val evs = sseEvents(bodyText)
      assert(evs.exists(n =>
        Option(n.get("type")).exists(_.asText() == "heartbeat")))
      assert(evs.last.get("type").asText() == "done")
      // data events are unaffected by interleaved heartbeats
      val ts = evs.filter(n =>
        Option(n.get("type")).exists(_.asText() == "timeseries"))
      val stepMs = graft.functions.TimeRange.autoStepMillis(
        base, base + 48 * hour)
      val nExpected = QueryEngine.evaluate(_ => tel,
        graft.ast.AstJson.parseAstInput(chartAst),
        base, base + 48 * hour, stepMs).count()
      assert(ts.size.toLong == nExpected)
    } finally api.stop()
  }

  test("a client disconnect cancels the request's remaining Spark work " +
    "(job group teardown, the engine half of stream abort)") {
    // 144 single-interval replay groups in 8 waves. Every row after the
    // first group costs 3 s, so the later waves run for seconds with
    // nothing to write; the client reads ONE event and slams the
    // socket. Only the heartbeat can notice then: its write fails within
    // ~100 ms and cancels the job group, so the group's jobs must stop
    // almost immediately.
    val firstGroupEndNs = (base + 20 * 60000L) * 1000000L // 20 min step
    val slowValue = udf { (ts: Long, v: Double) =>
      if (ts >= firstGroupEndNs) Thread.sleep(3000)
      v
    }
    val slowTel = Telemetry.nanos(events, "ts",
      valueCol = slowValue(col("ts"), col("value")),
      message = Some(col("props")))
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    val api = new QueryHttpApi(_ => slowTel, segments = Seq(span),
      minGroupSize = 1, heartbeatMillis = 100,
      now = () => java.time.Instant.ofEpochMilli(base + 48 * hour))
    val port = api.start(0)
    try {
      val sock = new java.net.Socket("127.0.0.1", port)
      val out = sock.getOutputStream
      val req = s"POST /api/v1/graph?s=$base&e=${base + 48 * hour}" +
        "&timeseriesOnly=true HTTP/1.1\r\nHost: x\r\n" +
        s"Content-Length: ${chartAst.length}\r\n\r\n$chartAst"
      out.write(req.getBytes(StandardCharsets.UTF_8)); out.flush()
      val in = sock.getInputStream
      // read until the first SSE event has arrived, then disconnect
      // (chunked framing puts a size line between CRLFCRLF and the
      // first "data: ", so match the frame prefix alone)
      val buf = new StringBuilder
      val b = new Array[Byte](4096)
      while (!buf.toString.contains("\"timeseries\"")) {
        val n = in.read(b)
        assert(n > 0, s"stream ended early: $buf")
        buf.append(new String(b, 0, n, StandardCharsets.UTF_8))
      }
      sock.close()
      val tracker = spark.sparkContext.statusTracker
      // give the heartbeat a beat to notice, then watch for quiescence
      Thread.sleep(600)
      val at600 = tracker.getActiveJobIds().length
      Thread.sleep(1200)
      val at1800 = tracker.getActiveJobIds().length
      assert(at1800 == 0,
        s"jobs still active 1.8s after disconnect: $at1800 (at600=$at600)")
      // without cancellation the later waves would still be running
      // (3 s a row); with it their jobs, and any they would submit next,
      // die with the request's job group
    } finally api.stop()
  }

  test("tag values over registered segments stream incrementally with " +
    "first-seen dedup: each value arrives once, in replay-group order") {
    // "early" occurs in EVERY hour, "late" only after hour 24; forward
    // replay (single-interval groups) must emit "early" from the first
    // group and "late" exactly once when its first group completes —
    // never re-emitting "early" from later groups
    val ev2 = (0 until 480).map { i =>
      ((base + i * 6L * 60000L) * 1000000L,
        if (i >= 240 && i % 7 == 0) "late" else "early", 1.0)
    }.toDF("ts", "event_type", "value")
    val tel2 = Telemetry.nanos(ev2, "ts", valueCol = col("value"))
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    val api = new QueryHttpApi(_ => tel2, segments = Seq(span),
      minGroupSize = 1,
      now = () => java.time.Instant.ofEpochMilli(base + 48 * hour))
    val port = api.start(0)
    try {
      val (code, bodyText) = http(port, "POST",
        s"/api/v1/tags/logs?tagName=event_type&s=$base&e=${base + 48 * hour}")
      assert(code == 200)
      val vals = sseEvents(bodyText)
        .filter(n => Option(n.get("type")).exists(_.asText() == "data"))
        .map(_.get("message").get("event_type").asText())
      assert(vals == Seq("early", "late")) // once each, first-seen order
      // limit caps ACROSS groups, not per group
      val (_, capped) = http(port, "POST",
        s"/api/v1/tags/logs?tagName=event_type&limit=1&s=$base&e=${base + 48 * hour}")
      assert(sseEvents(capped).count(n =>
        Option(n.get("type")).exists(_.asText() == "data")) == 1)
    } finally api.stop()
  }

  test("a tags request that reaches its limit leaves no replay wave " +
    "running: every job of the request ends within ~1 s of the response") {
    // 144 single-interval (20 min) replay groups in 8 waves, each group
    // with one fresh `slot` value. A UDF on the event time makes chosen
    // rows slow; the frame is RDD-backed so it runs in tasks (over a
    // local relation the optimizer would evaluate it at planning time).
    //  - limit=1 is met by group 0 while every later row costs 3 s;
    //  - limit=2 is met by wave 1 (groups 1-2) while the last wave holds
    //    a 10 s row — only the request's cancel on exit can stop it. One
    //    slow task, so the request's other jobs keep the remaining cores.
    val raw = (0 until 480).map { i =>
      ((base + i * 6L * 60000L) * 1000000L, s"t${i * 6 / 20}", 1.0)
    }.toDF("ts", "slot", "value")
    val frame = spark.createDataFrame(raw.rdd, raw.schema)
    def slowFrom(fromMs: Long, sleepMs: Long): Telemetry = {
      val slow = udf { (ms: Long) =>
        if (ms >= fromMs) Thread.sleep(sleepMs)
        ms
      }
      Telemetry(frame, slow(expr("ts div 1000000")),
        (s, e) => col("ts") >= s * 1000000L && col("ts") < e * 1000000L,
        col("value"), None)
    }
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    val cases = Seq(
      1 -> slowFrom(base + 20 * 60000L, 3000),
      2 -> slowFrom(base + 479 * 6L * 60000L, 10000))
    for ((limit, slowTel) <- cases) {
      val api = new QueryHttpApi(_ => slowTel, segments = Seq(span),
        minGroupSize = 1,
        now = () => java.time.Instant.ofEpochMilli(base + 48 * hour))
      val port = api.start(0)
      try JobLog.during(spark.sparkContext) { log =>
        val (code, text) = http(port, "POST", "/api/v1/tags/logs" +
          s"?tagName=slot&limit=$limit&s=$base&e=${base + 48 * hour}",
          """{"id": "a", "dataset": "logs",
            |  "filter": {"k": "slot", "op": "exists"}}""".stripMargin)
        val closed = System.currentTimeMillis()
        assert(code == 200)
        val evs = sseEvents(text)
        assert(evs.last.get("type").asText() == "done")
        assert(evs.filter(n => Option(n.get("type"))
            .exists(_.asText() == "data"))
          .map(_.get("message").get("slot").asText()) ==
          (0 until limit).map(i => s"t$i"))
        Thread.sleep(1500)
        val jobs = log.all.filter(j =>
          Option(j.group).exists(_.startsWith("graft-sse-")))
        assert(jobs.nonEmpty)
        assert(jobs.forall(_.end <= closed + 1000),
          s"limit=$limit: response closed at $closed\n" + jobs.mkString("\n"))
      } finally api.stop()
    }
  }

  test("multi-tenant: Bearer key scopes every route to that tenant's " +
    "tables and segments; missing/unknown credentials answer 401") {
    val evA = (0 until 48).map(i =>
      ((base + i * hour) * 1000000L, "alpha_only", 1.0))
      .toDF("ts", "event_type", "value")
    val evB = (0 until 48).map(i =>
      ((base + i * hour) * 1000000L, "beta_only", 2.0))
      .toDF("ts", "event_type", "value")
    val telA = Telemetry.nanos(evA, "ts", valueCol = col("value"))
    val telB = Telemetry.nanos(evB, "ts", valueCol = col("value"))
    // tenant B registers segments; tenant A registers none — A's replay
    // sequencing must not see B's spans (isolation in BOTH dimensions)
    val spanB = ReplaySequencer.SegmentSpan("b", base, base + 48 * hour)
    val api = new QueryHttpApi(_ => tel,
      tenants = Map(
        "cust-a" -> QueryHttpApi.Tenant(_ => telA),
        "cust-b" -> QueryHttpApi.Tenant(_ => telB, Seq(spanB))),
      minGroupSize = 1,
      now = () => java.time.Instant.ofEpochMilli(base + 48 * hour))
    val port = api.start(0)
    def authed(key: Option[String], path: String): (Int, String) = {
      val conn = new URI(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      key.foreach(k => conn.setRequestProperty("Authorization", s"Bearer $k"))
      conn.setDoOutput(true)
      conn.getOutputStream.write("".getBytes(StandardCharsets.UTF_8))
      val code = conn.getResponseCode
      val is = if (code < 400) conn.getInputStream else conn.getErrorStream
      (code, if (is == null) ""
        else new String(is.readAllBytes(), StandardCharsets.UTF_8))
    }
    try {
      val path = s"/api/v1/tags/logs?tagName=event_type&s=$base&e=${base + 48 * hour}"
      // no credential / unknown credential → 401, nothing streams
      assert(authed(None, path)._1 == 401)
      assert(authed(Some("nope"), path)._1 == 401)
      // each tenant sees ONLY its own tag values
      def valsFor(key: String): Seq[String] = {
        val (code, text) = authed(Some(key), path)
        assert(code == 200)
        sseEvents(text)
          .filter(n => Option(n.get("type")).exists(_.asText() == "data"))
          .map(_.get("message").get("event_type").asText())
      }
      assert(valsFor("cust-a") == Seq("alpha_only"))
      assert(valsFor("cust-b") == Seq("beta_only"))
      // JSON routes gate too
      val conn = new URI(s"http://127.0.0.1:$port/api/v1/scopeTags").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 401)
    } finally api.stop()
  }

  test("signed-token auth: valid HMAC token scopes to its tenant; " +
    "expired and forged tokens answer 401") {
    val evA = (0 until 48).map(i =>
      ((base + i * hour) * 1000000L, "alpha_only", 1.0))
      .toDF("ts", "event_type", "value")
    val telA = Telemetry.nanos(evA, "ts", valueCol = col("value"))
    val secret = "test-secret-key".getBytes(StandardCharsets.UTF_8)
    // controllable clock: issue at t0, verify "later"
    var clock = java.time.Instant.ofEpochSecond(1700000000L)
    val tokens = new graft.api.SignedToken(secret, issuer = "graft",
      ttlSeconds = 60, now = () => clock)
    val api = new QueryHttpApi(_ => tel,
      tenants = Map("cust-a" -> QueryHttpApi.Tenant(_ => telA)),
      minGroupSize = 1,
      now = () => java.time.Instant.ofEpochMilli(base + 48 * hour),
      verifier = tokens.verifier)
    val port = api.start(0)
    def authed(key: Option[String], path: String): (Int, String) = {
      val conn = new URI(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      key.foreach(k => conn.setRequestProperty("Authorization", s"Bearer $k"))
      conn.setDoOutput(true)
      conn.getOutputStream.write("".getBytes(StandardCharsets.UTF_8))
      val code = conn.getResponseCode
      val is = if (code < 400) conn.getInputStream else conn.getErrorStream
      (code, if (is == null) ""
        else new String(is.readAllBytes(), StandardCharsets.UTF_8))
    }
    try {
      val path = s"/api/v1/tags/logs?tagName=event_type&s=$base&e=${base + 48 * hour}"
      val valid = tokens.issue("cust-a")
      // the raw customerId is NOT a credential under a real verifier
      assert(authed(Some("cust-a"), path)._1 == 401)
      // valid signed token → scoped tenant data
      val (code, text) = authed(Some(valid), path)
      assert(code == 200)
      assert(sseEvents(text)
        .filter(n => Option(n.get("type")).exists(_.asText() == "data"))
        .map(_.get("message").get("event_type").asText()) ==
        Seq("alpha_only"))
      // forged signature (valid shape, wrong key) → 401
      val forged = new graft.api.SignedToken(
        "wrong-key".getBytes(StandardCharsets.UTF_8), issuer = "graft",
        ttlSeconds = 60, now = () => clock).issue("cust-a")
      assert(authed(Some(forged), path)._1 == 401)
      // tampered payload (claim swap, original signature) → 401
      val Array(h, p, sig) = valid.split('.')
      val enc = java.util.Base64.getUrlEncoder.withoutPadding()
      val dec = java.util.Base64.getUrlDecoder
      val swapped = enc.encodeToString(
        new String(dec.decode(p), StandardCharsets.UTF_8)
          .replace("cust-a", "cust-x")
          .getBytes(StandardCharsets.UTF_8))
      assert(authed(Some(s"$h.$swapped.$sig"), path)._1 == 401)
      // alg-none downgrade → 401
      val noneHdr = enc.encodeToString(
        """{"alg":"none","typ":"JWT"}""".getBytes(StandardCharsets.UTF_8))
      assert(authed(Some(s"$noneHdr.$p."), path)._1 == 401)
      // token for an unknown tenant verifies but resolves no scope → 401
      assert(authed(Some(tokens.issue("cust-z")), path)._1 == 401)
      // expiry: same token, clock advanced past ttl → 401
      clock = clock.plusSeconds(61)
      assert(authed(Some(valid), path)._1 == 401)
      // a re-issued token under the advanced clock works again
      assert(authed(Some(tokens.issue("cust-a")), path)._1 == 200)
    } finally api.stop()
  }

  test("two concurrent SSE streams both progress to done with " +
    "heartbeats — one stream cannot starve or wedge the other") {
    // 144 single-interval replay groups each (8 waves per stream) +
    // 50 ms heartbeats: the pooled dispatcher, per-request
    // FAIR pools, and the shared heartbeat scheduler (writes dispatched
    // off-thread) must service both sockets side by side
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    val api = new QueryHttpApi(_ => tel, segments = Seq(span),
      minGroupSize = 1, heartbeatMillis = 50,
      now = () => java.time.Instant.ofEpochMilli(base + 48 * hour))
    val port = api.start(0)
    try {
      val results = new java.util.concurrent.ConcurrentHashMap[Int, Seq[JsonNode]]()
      val threads = (0 until 2).map { i =>
        new Thread(() => {
          val (code, text) = http(port, "POST",
            s"/api/v1/graph?s=$base&e=${base + 48 * hour}&timeseriesOnly=true",
            chartAst)
          assert(code == 200)
          results.put(i, sseEvents(text))
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      val stepMs = graft.functions.TimeRange.autoStepMillis(
        base, base + 48 * hour)
      val nExpected = QueryEngine.evaluate(_ => tel,
        graft.ast.AstJson.parseAstInput(chartAst),
        base, base + 48 * hour, stepMs).count()
      (0 until 2).foreach { i =>
        val evs = results.get(i)
        assert(evs != null, s"stream $i did not complete")
        assert(evs.last.get("type").asText() == "done")
        assert(evs.count(n => Option(n.get("type"))
          .exists(_.asText() == "timeseries")).toLong == nExpected)
        assert(evs.exists(n => Option(n.get("type"))
          .exists(_.asText() == "heartbeat")), s"stream $i: no heartbeat")
      }
    } finally api.stop()
  }

  test("POST /api/v1/cardinality streams the estimate; malformed AST " +
    "answers 400 before the stream starts") {
    withApi() { port =>
      val bodyAst =
        """{"dataset": "logs",
          |  "filter": {"k": "event_type", "v": [], "op": "exists"},
          |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
          |}""".stripMargin
      val (code, text) = http(port, "POST",
        s"/api/v1/cardinality?s=$base&e=${base + 48 * hour}", bodyAst)
      assert(code == 200)
      val msgs = sseEvents(text).filter(_.has("message"))
      assert(msgs.map(_.get("message").asLong()) == Seq(2L))
      val (bad, _) = http(port, "POST",
        s"/api/v1/cardinality?s=$base&e=${base + 48 * hour}", "{nope")
      assert(bad == 400)
    }
  }

  // ------------------------------------------------ sealed-interval cache

  private def dataLines(text: String): Seq[String] =
    text.split("\r\n\r\n").toSeq.filter(_.startsWith("data: "))
      .filterNot(_.contains("\"heartbeat\""))

  test("a re-poll of a sealed chart window answers byte-identical SSE " +
    "data lines and runs no Spark job") {
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    withApi(Seq(span)) { port =>
      val path =
        s"/api/v1/graph?s=$base&e=${base + 48 * hour}&timeseriesOnly=true"
      val (c1, first) = http(port, "POST", path, chartAst)
      assert(c1 == 200)
      val (c2, again, jobs) = JobLog.during(spark.sparkContext) { log =>
        val (c, t) = http(port, "POST", path, chartAst)
        (c, t, log.all.filter(j =>
          Option(j.group).exists(_.startsWith("graft-sse-"))))
      }
      assert(c2 == 200)
      assert(dataLines(first).count(_.contains("timeseries")) > 0)
      assert(dataLines(again) == dataLines(first))
      assert(jobs.isEmpty, jobs.mkString("\n"))
    }
  }

  test("explain=true reports cachedGroups: 0 on a fresh server, every " +
    "replay group after one completed poll of the same AST and window") {
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    withApi(Seq(span)) { port =>
      val window = s"s=$base&e=${base + 48 * hour}"
      def explain(): JsonNode = {
        val (code, text) = http(port, "POST",
          s"/api/v1/graph?$window&explain=true", chartAst)
        assert(code == 200, text)
        sseEvents(text).head.get("message")
      }
      val cold = explain()
      assert(cold.get("cachedGroups").asInt() == 0)
      assert(cold.get("replayGroups").asInt() > 0)
      assert(http(port, "POST", s"/api/v1/graph?$window&timeseriesOnly=true",
        chartAst)._1 == 200)
      val warm = explain()
      assert(warm.get("cachedGroups").asInt() ==
        warm.get("replayGroups").asInt())
      assert(warm.get("replayWaves").asInt() == 0)
      assert(!warm.has("plan"))
    }
  }

  test("multi-tenant: tenants with identical segment ids and AST but " +
    "different tables never get each other's cached rows") {
    def telOf(v: Double) = Telemetry.nanos((0 until 48).map(i =>
        ((base + i * hour) * 1000000L, "click", v))
      .toDF("ts", "event_type", "value"), "ts", valueCol = col("value"))
    val span = ReplaySequencer.SegmentSpan("seg", base, base + 48 * hour)
    val api = new QueryHttpApi(_ => tel,
      tenants = Map(
        "cust-a" -> QueryHttpApi.Tenant(_ => telOf(1.0), Seq(span)),
        "cust-b" -> QueryHttpApi.Tenant(_ => telOf(2.0), Seq(span))),
      now = () => java.time.Instant.ofEpochMilli(base + 48 * hour))
    val port = api.start(0)
    def values(key: String, path: String): Seq[Double] = {
      val conn = new URI(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Authorization", s"Bearer $key")
      conn.setDoOutput(true)
      conn.getOutputStream.write(chartAst.getBytes(StandardCharsets.UTF_8))
      assert(conn.getResponseCode == 200)
      sseEvents(new String(conn.getInputStream.readAllBytes(),
          StandardCharsets.UTF_8))
        .filter(n => Option(n.get("type")).exists(_.asText() == "timeseries"))
        .map(_.get("message").get("value").asDouble())
    }
    try {
      val path =
        s"/api/v1/graph?s=$base&e=${base + 48 * hour}&timeseriesOnly=true"
      for (_ <- 0 until 2) {
        val a = values("cust-a", path)
        val b = values("cust-b", path)
        assert(a.nonEmpty && a.sum == 48.0, a)
        assert(b.nonEmpty && b.sum == 96.0, b)
      }
      assert(api.resultCache.hits.get > 0)
    } finally api.stop()
  }

  test("a formula nested 20,000 parens deep answers 400 with a message, " +
    "not a dead request thread") {
    val deep = "(" * 20000 + "a" + ")" * 20000
    val body =
      s"""{"baseExpressions": {"a": {"dataset": "logs", "returnResults": false,
         |  "filter": {"k": "event_type", "v": ["click"], "op": "eq"},
         |  "chart": {"aggregation": "sum", "groupBys": []}}},
         |  "formulae": ["$deep"]}""".stripMargin
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    for (segments <- Seq(Nil, Seq(span)))
      withApi(segments) { port =>
        val (code, text) = http(port, "POST",
          s"/api/v1/graph?s=$base&e=${base + 48 * hour}", body)
        assert(code == 400, text.take(200))
        assert(text.contains("deeper than"), text.take(200))
      }
  }

  // ------------------------------------------------------ TCP_NODELAY

  /** Linux delays an ACK by at least 40 ms; a response whose small body
    * write waited for the ACK of its headers (Nagle) cannot beat it. */
  private val delayedAckFloorMs = 20.0

  /** Wall ms of each of `n` calls, on the keep-alive connection the
    * JDK client reuses for sequential requests to one port. */
  private def timed(n: Int)(call: => (Int, String)): Seq[Double] =
    (0 until n).map { _ =>
      val t0 = System.nanoTime()
      val (code, text) = call
      assert(code < 500, text)
      (System.nanoTime() - t0) / 1e6
    }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  test("21 re-polls of a served sealed chart on one keep-alive " +
    "connection run no job and answer in a median under 20 ms") {
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    withApi(Seq(span)) { port =>
      val path =
        s"/api/v1/graph?s=$base&e=${base + 48 * hour}&timeseriesOnly=true"
      assert(http(port, "POST", path, chartAst)._1 == 200)
      val (ms, jobs) = JobLog.during(spark.sparkContext) { log =>
        (timed(21)(http(port, "POST", path, chartAst)),
          log.all.filter(j =>
            Option(j.group).exists(_.startsWith("graft-sse-"))))
      }
      assert(jobs.isEmpty, jobs.mkString("\n"))
      assert(median(ms) < delayedAckFloorMs, ms.mkString(", "))
    }
  }

  test("a served /cardinality re-poll, a 400 and a plain-JSON answer " +
    "each beat the delayed-ACK floor; start turns Nagle off") {
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    withApi(Seq(span)) { port =>
      assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
      val card = s"/api/v1/cardinality?s=$base&e=${base + 48 * hour}"
      val cardBody =
        """{"dataset": "logs",
          |  "filter": {"k": "event_type", "v": [], "op": "exists"}}"""
          .stripMargin
      assert(http(port, "POST", card, cardBody)._1 == 200)
      val graph = s"/api/v1/graph?s=$base&e=${base + 48 * hour}"
      for ((what, call) <- Seq[(String, () => (Int, String))](
          "cardinality re-poll" -> (() => http(port, "POST", card, cardBody)),
          "400" -> (() => http(port, "POST", graph, "{nope")),
          "scopeTags" -> (() => http(port, "GET", "/api/v1/scopeTags")))) {
        val (code, _) = call()
        assert(code == (if (what == "400") 400 else 200), what)
        val ms = timed(11)(call())
        assert(median(ms) < delayedAckFloorMs, s"$what: ${ms.mkString(", ")}")
      }
    }
  }
}
