package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.{Duration, Instant}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.api.QueryHttpApi
import graft.engine.{ReplaySequencer, Telemetry}
import graft.sources.{ManifestFileIndex, SegmentIndex}

/** What the server answers one request with, and how the answer is
  * checked afterwards. Bodies are the JSON the client POSTs. */
sealed trait Check
final case class GraphCheck(ast: String, startMs: Long, endMs: Long,
    exemplars: Boolean) extends Check
final case class TagsCheck(expr: String, tag: String, startMs: Long,
    endMs: Long) extends Check
final case class CardCheck(expr: String, startMs: Long, endMs: Long)
    extends Check

final case class Req(kind: String, path: String, body: String,
    key: Option[String], check: Check)

/** One timed request as the client saw it. */
final case class Sample(req: Req, client: Int, startNs: Long, read: StreamRead) {
  def ttfeMs: Double =
    if (read.ok) (read.firstEventNs - startNs) / 1e6 else Double.PositiveInfinity
  def doneMs: Double =
    if (read.ok) (read.doneNs - startNs) / 1e6 else Double.PositiveInfinity
  def headersMs: Double = (read.headersNs - startNs) / 1e6
  def wallMs: Double = (read.endNs - startNs) / 1e6
}

/** The serving stack under test: the segment manifest built with
  * [[SegmentIndex.build]], a manifest-pruned relation over the segment
  * files, and [[QueryHttpApi]] on an ephemeral port. */
final class Stack(val api: QueryHttpApi, val port: Int, val tel: Telemetry,
    val manifest: DataFrame, val segments: Seq[ReplaySequencer.SegmentSpan]) {
  def tables: String => Telemetry = _ => tel
  def stop(): Unit = { api.stop(); manifest.unpersist() }
}

object Serving {
  /** Columns fingerprinted into the manifest's trigram sets: `pod`, the
    * churning tag the explore workload filters on. Every hourly segment
    * holds every service and level, so fingerprinting those could never
    * prune a file. */
  val Indexed: Seq[String] = Seq("pod")

  /** Build the manifest and serve it. `incremental` registers every
    * segment's span, which turns on replay-group delivery; `keys` are
    * the tenants' Bearer keys (empty = single tenant, no auth). Returns
    * the stack and the manifest build's seconds. */
  def setUp(spark: SparkSession, files: Seq[String], incremental: Boolean,
      keys: Seq[String], nowMs: Long): (Stack, Double) = {
    val t0 = System.nanoTime()
    val manifest = SegmentIndex.build(spark, files, "ts",
      _ => expr("ts div 1000000"), Indexed, mergeSchema = false).cache()
    val segs = ManifestFileIndex.segmentsOf(manifest)
    val buildS = (System.nanoTime() - t0) / 1e9
    val rel = ManifestFileIndex.relation(spark, manifest, "ts",
      _ / 1000000L, Indexed.toSet)
    val tel = Telemetry.nanos(rel, "ts", valueCol = col("value"),
      message = Some(col("message")))
    val spans =
      if (incremental) segs.map(s => ReplaySequencer.SegmentSpan(
        new java.io.File(s.file).getName, s.minTs, s.maxTs + 1))
      else Nil
    val tenant = QueryHttpApi.Tenant(_ => tel, spans)
    val api = new QueryHttpApi(_ => tel, segments = spans,
      now = () => Instant.ofEpochMilli(nowMs),
      tenants = keys.map(_ -> tenant).toMap)
    val port = api.start(0)
    val client = newClient()
    val ready = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ready"))
        .GET().build(),
      HttpResponse.BodyHandlers.discarding())
    require(ready.statusCode() == 200, s"/ready answered ${ready.statusCode()}")
    (new Stack(api, port, tel, manifest, spans), buildS)
  }

  /** Passes a timed run makes at least: a dash pass is four samples, too
    * few for a steady median. */
  val MinPasses = 2

  def newClient(): HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  /** Send one request and read its SSE stream to the end. */
  def call(client: HttpClient, port: Int, req: Req, clientId: Int): Sample = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.path}"))
      .timeout(Duration.ofSeconds(150))
      .POST(HttpRequest.BodyPublishers.ofString(req.body))
    req.key.foreach(k => b.header("Authorization", s"Bearer $k"))
    val t0 = System.nanoTime()
    try {
      val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofInputStream())
      val th = System.nanoTime()
      val in = resp.body()
      try Sample(req, clientId, t0, Sse.read(resp.statusCode(), th, in))
      finally in.close()
    } catch {
      case e: Exception =>
        val t = System.nanoTime()
        Sample(req, clientId, t0, StreamRead(-1, t, -1, -1, t, Vector.empty,
          0, 0, Some(e.getClass.getSimpleName + ": " + e.getMessage)))
    }
  }

  /** Closed loop: `clients` threads, one HttpClient (one connection)
    * each, send back to back in whole passes of `pass` requests until
    * `seconds` have passed (at least [[MinPasses]]; capped at
    * `capSeconds`), so every run holds the same mix of request kinds.
    * Returns the samples and the elapsed seconds from start to the last
    * completion. */
  def closedLoop(port: Int, clients: Int, seconds: Double, pass: Int,
      capSeconds: Double, next: (Int, Int) => Req): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val cap = t0 + (capSeconds * 1e9).toLong
    val out = Array.fill(clients)(Vector.newBuilder[Sample])
    var lastEnd = t0
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val client = newClient()
        var i = 0
        def more(now: Long): Boolean =
          now < cap && (i % pass != 0 || i < MinPasses * pass || now < deadline)
        while (more(System.nanoTime())) {
          val s = call(client, port, next(c, i), c)
          Main.log(f"client $c ${s.req.kind} ${s.ttfeMs}%.1f / ${s.wallMs}%.1f ms ok=${s.read.ok}")
          out(c) += s
          i += 1
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val all = out.toSeq.flatMap(_.result())
    all.foreach(s => lastEnd = math.max(lastEnd, s.read.endNs))
    (all, (lastEnd - t0) / 1e9)
  }
}

/** Request generators for the two HTTP workloads. */
final class Workloads(seed: Long, dataStartMs: Long, dataEndMs: Long,
    podsByDay: IndexedSeq[IndexedSeq[String]]) {
  import Workloads._

  // ------------------------------------------------------------ dash_repoll

  /** The four re-polled panels, in the order a client sends them. The
    * windows are the dashboard's `e-1h` and `e-24h` scaled down to
    * `e-5m` (10 s steps: 30 steps, 8 replay groups) and `e-70m` (1 min
    * steps: 70 steps, 18 groups), so two passes fit in a run; `warm`
    * gives the warm-up's two-minute windows. */
  def dashPanels(key: Option[String], nowMs: Long, warm: Boolean = false): IndexedSeq[Req] = {
    val (short, long) = if (warm) ("e-2m", "e-2m") else ("e-5m", "e-70m")
    def win(s: String): (Long, Long) =
      graft.functions.TimeRange.resolve(s, "now", Instant.ofEpochMilli(nowMs))
    val (ss, es) = win(short)
    val (sl, el) = win(long)
    val sum = chart("sum", "service", All)
    val p90 = chart("p90", "service", All)
    val tagExpr = s"""{"id":"t","dataset":"logs","filter":$All}"""
    val cardExpr = cardinalityExpr(All)
    IndexedSeq(
      Req("graph_sum", s"/api/v1/graph?s=$short&e=now&timeseriesOnly=true",
        sum, key, GraphCheck(sum, ss, es, exemplars = false)),
      Req("graph_p90", s"/api/v1/graph?s=$long&e=now&timeseriesOnly=true",
        p90, key, GraphCheck(p90, sl, el, exemplars = false)),
      Req("tags", s"/api/v1/tags/logs?tagName=service&s=$long&e=now",
        tagExpr, key, TagsCheck(tagExpr, "service", sl, el)),
      Req("cardinality", s"/api/v1/cardinality?s=$long&e=now",
        cardExpr, key, CardCheck(cardExpr, sl, el)))
  }

  // ---------------------------------------------------------- explore_adhoc

  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Request `i` of explore client `c`: kinds rotate so every client
    * sends each kind in turn; windows and filters are drawn from a
    * seeded stream and never repeat within a run. */
  def explore(c: Int, i: Int): Req = {
    val rnd = new scala.util.Random(seed * 1000003L + c * 7919L + i)
    val kind = ExploreKinds((c + i) % ExploreKinds.size)
    // each round of the six kinds takes the next window length, so a pass
    // (ExplorePass requests) asks for the same amount of scanning under
    // every seed; the seed moves the windows and filters
    val days = WindowDays((i / ExploreKinds.size) % WindowDays.size)
    Iterator.fill(1000)(exploreDraw(kind, days, rnd))
      .find(r => seen.add(r.path + "\u0000" + r.body))
      .getOrElse(throw new IllegalStateException(
        s"no unseen $kind request over $days days after 1000 draws"))
  }

  /** One request of every kind over three-day windows (no timed window
    * is three days long, so the timed requests stay unseen). */
  def exploreWarmUp: Seq[Req] = {
    val rnd = new scala.util.Random(seed)
    ExploreKinds.map(k => exploreDraw(k, 3, rnd))
  }

  private def exploreDraw(kind: String, days: Int, rnd: scala.util.Random): Req = {
    val hours = ((dataEndMs - dataStartMs) / HourMs).toInt
    val len = days * 24
    val endH = len + rnd.nextInt(hours - len + 1)
    val e = dataStartMs + endH * HourMs
    val s = e - len * HourMs
    val win = s"s=$s&e=$e"
    def graph(body: String, ex: Boolean) =
      Req(kind, s"/api/v1/graph?$win" + (if (ex) "" else "&timeseriesOnly=true"),
        body, None, GraphCheck(body, s, e, ex))
    kind match {
      case "p90_by_host" =>
        val svcs = rnd.shuffle(Services.toList).take(3)
        graph(chart("p90", "host", inFilter("service", svcs)), ex = false)
      case "hll_users" =>
        val f = eqFilter("event_type", Levels(rnd.nextInt(Levels.size)))
        val body = cardinalityExpr(f)
        Req(kind, s"/api/v1/cardinality?$win", body, None, CardCheck(body, s, e))
      case "pod_eq" =>
        // a pod lives one day; pick a day wholly inside the window
        val lo = ((s - dataStartMs + DayMs - 1) / DayMs).toInt
        val hi = ((e - dataStartMs) / DayMs).toInt - 1
        val pods = podsByDay(lo + rnd.nextInt(hi - lo + 1))
        val pod = pods(rnd.nextInt(pods.size))
        graph(chart("count", "event_type", eqFilter("pod", pod)), ex = false)
      case "message_filter" =>
        val (op, v) = MessageFilters(rnd.nextInt(MessageFilters.size))
        val f = s"""{"k":"message","v":[${q(v)}],"op":"$op"}"""
        graph(chart("count", "service", f), ex = false)
      case "ratio_formula" =>
        val svc = Services(rnd.nextInt(Services.size))
        val body =
          s"""{"baseExpressions":{""" +
          s""""a":{"dataset":"logs","returnResults":false,"filter":${and(eqFilter("event_type", "ERROR"), eqFilter("service", svc))},""" +
          s""""chart":{"aggregation":"count","groupBys":["host"]}},""" +
          s""""b":{"dataset":"logs","returnResults":false,"filter":${eqFilter("service", svc)},""" +
          s""""chart":{"aggregation":"count","groupBys":["host"]}}},""" +
          s""""formulae":["a / b"]}"""
        graph(body, ex = false)
      case "exemplars" =>
        val svc = Services(rnd.nextInt(Services.size))
        val f = and(eqFilter("event_type", "ERROR"), eqFilter("service", svc))
        val body =
          s"""{"baseExpressions":{"a":{"dataset":"logs","limit":50,""" +
          s""""filter":$f,"chart":{"aggregation":"count","groupBys":[]}}}}"""
        graph(body, ex = true)
    }
  }
}

object Workloads {
  val HourMs = 3600000L
  /** Explore window lengths, in days, one per round of the six kinds.
    * The longest leaves a day of room, so windows still move with the
    * seed. */
  val WindowDays: IndexedSeq[Int] = IndexedSeq(2, 6)
  val DayMs = 24 * HourMs
  /** Must match gen.py's SERVICES and LEVELS. */
  val Services: IndexedSeq[String] = IndexedSeq(
    "checkout", "cart", "catalog", "search", "payments", "auth", "users",
    "inventory", "shipping", "orders", "billing", "gateway", "frontend",
    "recommend", "reviews", "email", "notify", "ledger", "media", "ads")
  val Levels: IndexedSeq[String] = IndexedSeq("INFO", "DEBUG", "WARN", "ERROR")
  val ExploreKinds: IndexedSeq[String] = IndexedSeq("p90_by_host", "hll_users",
    "pod_eq", "message_filter", "ratio_formula", "exemplars")
  /** Requests in one pass: every kind at every window length. */
  val ExplorePass: Int = ExploreKinds.size * WindowDays.size
  val DashPanels = 4
  val MessageFilters: IndexedSeq[(String, String)] = IndexedSeq(
    "contains" -> "timeout after", "contains" -> "login failed",
    "contains" -> "OutOfMemoryError", "regex" -> "cache miss key=[a-z]+:1[0-9]+",
    "regex" -> "shipped to zone 3[0-9]")
  val All = """{"k":"event_type","op":"exists"}"""

  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def eqFilter(k: String, v: String) = s"""{"k":"$k","v":[${q(v)}],"op":"eq"}"""
  def inFilter(k: String, vs: Seq[String]) =
    s"""{"k":"$k","v":[${vs.map(q).mkString(",")}],"op":"in"}"""
  def and(a: String, b: String) = s"""{"op":"and","q1":$a,"q2":$b}"""
  def chart(agg: String, groupBy: String, filter: String): String =
    s"""{"baseExpressions":{"a":{"dataset":"logs","filter":$filter,""" +
    s""""chart":{"aggregation":"$agg","groupBys":["$groupBy"]}}}}"""
  def cardinalityExpr(filter: String): String =
    s"""{"id":"c","dataset":"logs","filter":$filter,""" +
    s""""chart":{"aggregation":"count","groupBys":["user_id"]}}"""
}
