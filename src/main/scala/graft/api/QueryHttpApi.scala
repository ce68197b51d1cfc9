package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row

import graft.ast.{AstJson, BaseExpr, Filter, Ops, BinaryClause}
import graft.engine.{QueryEngine, ReplaySequencer, Telemetry, WaveScheduler}
import graft.functions.TimeRange

/** The HTTP/SSE transport shell over [[graft.engine.QueryEngine]] — the
  * reference's query-api route surface (QueryApi.scala:57-401) served
  * from the JDK's built-in HTTP server, so a reference client can point
  * at this engine unchanged:
  *
  *  - `POST /api/v1/graph?s=&e=[&timeseriesOnly=]` — SSE stream of
  *    `{"id","type":"timeseries","message":{timestamp,tags,value,label}}`
  *    events (QueryEngineV2.scala:400-417), auto-exemplar
  *    `type:"event"` payloads beside every log/trace chart expression
  *    (QueryApi.scala:236-270, QueryEngineV2.scala:545-552), terminated
  *    by `{"type":"done"}` (SSEMessage.scala:30). When segment spans
  *    are registered, delivery is INCREMENTAL: sealed replay groups
  *    stream in replay order through [[QueryEngine.evaluateIncremental]]
  *    (one query per wave of 1, 2, 4, … groups; wave 0 alone, then every
  *    later wave at once), flushed per event — the SSE half of O4/T6.
  *    A re-poll of sealed data is served from [[resultCache]]: see below.
  *  - `POST /api/v1/tags/{dataset}?tagName=&s=&e=&limit=` — SSE of tag
  *    payloads (`message = {tag: value}` / name→count for the name
  *    query), default limit 1000 (QueryApi.scala:99-175).
  *  - `POST /api/v1/cardinality?s=&e=` — SSE of
  *    `{"message": <estimate>}` strings (QueryApi.scala:71-95).
  *  - `GET /api/v1/scopeTags`, `/api/v1/functionSpecs`,
  *    `/api/v1/metricMetadata` — plain JSON; `GET /ready` — 200.
  *
  * Time strings (`s`,`e` = `"e-1h"`, `"now"`, epoch ms, ISO) resolve
  * via [[TimeRange.resolve]]; the step mirrors the reference's
  * duration ladder ([[TimeRange.autoStepMillis]],
  * QueryApi.scala:297-309). Transport only: every data-plane behavior
  * lives in the engine and is oracle-checked there.
  *
  * Multi-tenant scoping: the reference runs every route inside
  * `auth { customerId => … }` (QueryApi.scala:73,101) and keys storage
  * by customer/collector (Commons.scala:160-177). When `tenants` is
  * non-empty, every /api route requires `Authorization: Bearer <key>`;
  * the key resolves (via `authenticate`) to a customerId whose
  * [[QueryHttpApi.Tenant]] carries its OWN table provider and segment
  * registry — queries, pruning, and replay sequencing all scope to that
  * tenant's data. Missing/unknown credentials → 401 before any stream
  * starts. With `tenants` empty the shell is single-tenant (no auth),
  * the embedded-test posture.
  *
  * Sealed-interval result cache: the shell owns one [[ResultCache]] of
  * [[ResultCache.DefaultBytes]] (LRU, measured with `SizeEstimator`),
  * scoped per [[QueryHttpApi.Tenant]] instance. `/graph` and
  * `/cardinality` over registered segments store the chart rows or HLL
  * sketch of every whole step interval inside the window that a
  * registered segment overlaps, keyed by the parsed AST (or BaseExpr
  * and groupBys), the step, the interval and the overlapping spans. A
  * replay group whose intervals are all stored is emitted with no Spark
  * job; a group holding a gap interval or a window-clipped edge always
  * runs. Tags, exemplars and the batch path are not cached: a group's
  * top K cannot be rebuilt from its intervals' top K.
  */
final class QueryHttpApi(
    tables: String => Telemetry,
    segments: Seq[ReplaySequencer.SegmentSpan] = Nil,
    minGroupSize: Int = 4,
    metricNameColumn: String = "event_type",
    heartbeatMillis: Long = 1000,
    now: () => java.time.Instant = () => java.time.Instant.now(),
    tenants: Map[String, QueryHttpApi.Tenant] = Map.empty,
    authenticate: HttpExchange => Option[String] = QueryHttpApi.bearerAuth,
    verifier: String => Option[String] = Some(_),
    writeStallMillis: Long = 15000) {

  import QueryHttpApi.{Tenant, Unauthorized}

  private val mapper = new ObjectMapper()
  /** The sealed-interval result cache; its counters are the hit view. */
  val resultCache = new graft.engine.ResultCache(
    graft.engine.ResultCache.DefaultBytes)
  private val singleTenant = Tenant(tables, segments)
  private var server: HttpServer = _
  private val heartbeater =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-sse-heartbeat"); t.setDaemon(true); t
    })
  // heartbeat WRITES run here, never on the scheduler thread: one
  // stalled client (full socket buffer) must not wedge the shared timer
  // and silence keep-alives/disconnect-detection for every other stream
  private val hbWriters = java.util.concurrent.Executors
    .newCachedThreadPool(r => {
      val t = new Thread(r, "graft-sse-hb-write"); t.setDaemon(true); t
    })

  /** The per-request tenant scope: single-tenant when no registry, else
    * Bearer credential → `verifier` → customerId → that tenant's
    * tables+segments, 401 otherwise (thrown pre-stream, so the client
    * sees a real status). The default verifier is the identity
    * (credential IS the customerId — the static-registry posture);
    * production plugs [[SignedToken.verifier]], the reference's
    * JWT-validation twin (AuthToken.scala:17-40), so expiry and forged
    * signatures reject before the tenant lookup. */
  private def scope(ex: HttpExchange): Tenant =
    if (tenants.isEmpty) singleTenant
    else authenticate(ex).flatMap(verifier).flatMap(tenants.get)
      .getOrElse(throw new Unauthorized)

  /** Start on `port` (0 = ephemeral); returns the bound port.
    *
    * Every accepted socket runs with TCP_NODELAY. The JDK server flushes
    * the response headers as one segment; without NODELAY, Nagle holds
    * the next small write (an SSE event, a 400 or JSON body) until the
    * client ACKs the headers, and a keep-alive client delays that ACK by
    * Linux's 40 ms minimum, so every response paid ~44 ms. The JDK reads
    * `sun.net.httpserver.nodelay` once, when the first `HttpServer` of
    * the process is created, and ignores it later: it must be set before
    * any other JDK `HttpServer` in the process exists. This class is the
    * only one that creates one. */
  def start(port: Int = 0): Int = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/ready", exchange => {
      exchange.sendResponseHeaders(200, -1); exchange.close()
    })
    server.createContext("/api/v1/scopeTags", json { (_, _) =>
      mapper.writeValueAsString(
        QueryEngine.scopeTags.toArray)
    })
    server.createContext("/api/v1/functionSpecs", json { (_, _) =>
      mapper.writeValueAsString(
        graft.plans.GraftExtensions.functions.map(_._1).sorted.toArray)
    })
    server.createContext("/api/v1/metricMetadata", json { (_, tenant) =>
      val rows = QueryEngine.metricMetadata(
        tenant.tables("metrics"), metricNameColumn).collect()
      mapper.writeValueAsString(rows.map(r => java.util.Map.of(
        "metricName", r.getString(0), "metricType", r.getString(1))))
    })
    server.createContext("/api/v1/graph", sse(handleGraph))
    server.createContext("/api/v1/tags", sse(handleTags))
    server.createContext("/api/v1/cardinality", sse(handleCardinality))
    // one pooled thread per in-flight request (the default is a single
    // dispatcher thread — one slow SSE stream would serialize every
    // other request); job groups are thread-local, so each request's
    // Spark work stays attributable and cancellable
    server.setExecutor(java.util.concurrent.Executors
      .newCachedThreadPool(r => {
        val t = new Thread(r, "graft-http"); t.setDaemon(true); t
      }))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    heartbeater.shutdownNow()
    hbWriters.shutdownNow()
  }

  // ------------------------------------------------------------ plumbing

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def timeRange(p: Map[String, String]): (Long, Long) =
    TimeRange.resolve(p.getOrElse("s", "e-1h"), p.getOrElse("e", "now"),
      now())

  private def json(f: (HttpExchange, Tenant) => String)
      : com.sun.net.httpserver.HttpHandler = { ex =>
    var interrupted = false
    try {
      val bytes = f(ex, scope(ex)).getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
    } catch {
      case _: Unauthorized => ex.sendResponseHeaders(401, -1)
      case Answerable(e) =>
        interrupted = e.isInstanceOf[InterruptedException]
        badRequest(ex, e)
    } finally {
      ex.close()
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  /** A handler failure that gets an answer: every `NonFatal`, a
    * `StackOverflowError` (a too-deep request has unwound its own stack
    * by the time it is caught; the JVM is fine) and an
    * `InterruptedException`. The handler that catches an interrupt sets
    * the thread's flag again only after `ex.close()`: the exchange writes
    * through an interruptible channel, which a write on an interrupted
    * thread closes, and the answer would be lost. */
  private object Answerable {
    def unapply(t: Throwable): Option[Throwable] = t match {
      case _: StackOverflowError | _: InterruptedException | NonFatal(_) =>
        Some(t)
      case _ => None
    }
  }

  /** 400 with the failure's message, or its class name when it has none.
    * Callers catch [[Answerable]], not `Exception`: an `AssertionError`
    * or a `StackOverflowError` from planning must answer a status too,
    * not drop the connection and kill the pool thread. */
  private def badRequest(ex: HttpExchange, e: Throwable): Unit = {
    val msg = Option(e.getMessage).filter(_.nonEmpty)
      .getOrElse(e.getClass.getName).getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(400, msg.length)
    ex.getResponseBody.write(msg)
  }

  /** SSE endpoint shell: chunked text/event-stream, handler emits
    * events through `emit`, then the done sentinel; a pre-stream error
    * becomes a 400 like the reference (QueryApi.scala:283-288), a
    * missing/unknown credential a 401. The handler gets the request body
    * as a parameter: HttpExchange attributes live in the server's
    * per-CONTEXT map, so a body stored there could be overwritten by a
    * concurrent POST to the same route before the handler reads it.
    * Each event is its own small flush; it leaves at once only because
    * [[start]] turns Nagle off (TCP_NODELAY, set before the JDK reads it
    * at the process's first `HttpServer`), else the first event after the
    * headers waits for the client's delayed ACK. */
  private[api] def sse(
      f: (HttpExchange, Tenant, String, String => Unit) => Unit)
      : com.sun.net.httpserver.HttpHandler = { ex =>
    // headers go out on the FIRST event, so parse/plan errors (which
    // all happen before any emit) can still answer 400 like the
    // reference (QueryApi.scala:283-288). `streaming` is written by the
    // handler thread and read by the heartbeat scheduler — volatile so
    // the scheduler reliably observes the stream going live.
    @volatile var streaming = false
    // an answered InterruptedException: the flag is set again at the end
    var interrupted = false
    // heartbeat/handler share the socket; ReentrantLock (not
    // synchronized) so state stays inspectable from the scheduler
    val lock = new java.util.concurrent.locks.ReentrantLock()
    @volatile var lastWrite = System.nanoTime()
    // nanoTime when a socket write BEGAN; 0 = no write in flight. The
    // scheduler uses it as a write deadline: a client that stopped
    // reading leaves some thread blocked on a full socket buffer —
    // after writeStallMillis the scheduler force-closes the exchange
    // (breaking the blocked write) and cancels the job group, instead
    // of letting the stall wedge heartbeats for every other stream.
    @volatile var writeStart = 0L
    val hbPending = new java.util.concurrent.atomic.AtomicBoolean(false)
    // per-request Spark job group (thread-local, carried by every job
    // this handler launches, replay waves on the engine's pool included)
    // so an abandoned stream can be CANCELLED — the reference tears the
    // Akka stream down on disconnect; here a disconnect must stop the
    // remaining replay groups' cluster work, not just the writes
    val qid = "graft-sse-" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    val sc = org.apache.spark.sql.SparkSession.getDefaultSession
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession)
      .map(_.sparkContext)
    // future jobs too: a handler between two jobs at cancel time must
    // not start its next one (replay waves on the engine's pool stop
    // when the handler closes its replay, see drain)
    def cancel(): Unit =
      sc.foreach(c => try c.cancelJobGroupAndFutureJobs(qid)
      catch { case _: Exception => () })
    def raw(jsonStr: String): Unit = {
      lock.lock()
      try {
        writeStart = System.nanoTime()
        ex.getResponseBody.write(("data: " + jsonStr + "\r\n\r\n")
          .getBytes(StandardCharsets.UTF_8))
        ex.getResponseBody.flush() // per-event flush = incremental delivery
        lastWrite = System.nanoTime()
      } finally {
        writeStart = 0L
        lock.unlock()
      }
    }
    def emit(jsonStr: String): Unit = {
      if (!streaming) {
        ex.getResponseHeaders.add("Content-Type", "text/event-stream")
        ex.sendResponseHeaders(200, 0) // 0 = chunked
        streaming = true
      }
      raw(jsonStr)
    }
    // T5 keep-alive (reference Commons.scala:501 keepAlive(1s,
    // Heartbeat)): while a replay group's job runs, the client still
    // sees bytes — only AFTER the headers are committed, so the 400
    // path never races. The heartbeat doubles as the DISCONNECT
    // detector: a failed keep-alive write cancels the job group within
    // one interval, even while a long job is still running
    var hb: java.util.concurrent.ScheduledFuture[_] = null
    try {
      val tenant = scope(ex) // 401 before any header commits
      val requestBody = body(ex) // read before responding
      sc.foreach { c =>
        c.setJobGroup(qid, s"sse ${ex.getRequestURI.getPath}",
          interruptOnCancel = true)
        // own FAIR pool per request (weight-1 on-demand pools, same
        // posture ConcurrentBench measures): one heavy query fair-shares
        // the cluster instead of starving every other stream. Inert
        // under the default FIFO scheduler.
        c.setLocalProperty("spark.scheduler.pool", qid)
      }
      // The scheduler tick NEVER touches the socket — it watches the
      // write deadline and dispatches due heartbeats to hbWriters, so a
      // stalled stream can only wedge its own writer thread (and the
      // deadline breaks even that by force-closing the exchange).
      hb = heartbeater.scheduleAtFixedRate(() => {
        val ws = writeStart
        if (ws != 0 &&
            (System.nanoTime() - ws) / 1000000 >= writeStallMillis) {
          cancel() // client stopped reading: stop the cluster work...
          try ex.close() // ...and break the thread blocked in write()
          catch { case _: Exception => () }
        } else if (streaming && ws == 0 &&
            (System.nanoTime() - lastWrite) / 1000000 >= heartbeatMillis &&
            hbPending.compareAndSet(false, true)) {
          hbWriters.execute(() => {
            try raw("""{"type":"heartbeat"}""")
            catch { case _: Exception => cancel() } // client went away
            finally hbPending.set(false)
          })
        }
      }, heartbeatMillis, heartbeatMillis,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      f(ex, tenant, requestBody, emit)
      emit("""{"type":"done"}""")
    } catch {
      case _: Unauthorized =>
        ex.sendResponseHeaders(401, -1)
      case Answerable(e) =>
        interrupted = e.isInstanceOf[InterruptedException]
        // a 400 before the first event; mid-stream the truncated stream
        // (no done sentinel) is the error signal, as in SSE generally
        if (!streaming) badRequest(ex, e)
    } finally {
      // every exit cancels the request's remaining Spark work, not only
      // an error: a handler that stopped early (a tags limit reached, a
      // disconnect) may leave jobs behind
      cancel()
      // Teardown: stop scheduling new heartbeats, then close the
      // exchange UNDER the write lock when it can be acquired quickly —
      // a healthy in-flight heartbeat raw() holds the lock for
      // microseconds, and close()'s terminal chunk must not interleave
      // with its write on the non-thread-safe chunked stream. Fall back
      // to a LOCK-FREE close only when the lock doesn't come in time:
      // that means a writer is parked on a stalled socket (it holds the
      // lock until the write deadline), and close() is precisely what
      // breaks that parked write — blocking on the lock here would
      // deadlock this handler thread behind the parked writer whenever
      // it unwinds via a mid-stream exception before the deadline.
      if (hb != null) hb.cancel(false)
      val locked =
        try lock.tryLock(250, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException =>
          Thread.currentThread().interrupt(); false }
      try ex.close() catch { case _: Exception => () }
      finally if (locked) lock.unlock()
      sc.foreach { c =>
        c.clearJobGroup()
        c.setLocalProperty("spark.scheduler.pool", null)
      }
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  /** Emit every replay result; a failed emit (the client went away)
    * also stops the waves launched ahead of it. */
  private def drain[A](replay: WaveScheduler.Replay[A])(f: A => Unit)
      : Unit =
    try replay.foreach(f) finally replay.close()

  private def payload(id: String, tpe: String,
      message: java.util.Map[String, AnyRef]): String =
    mapper.writeValueAsString(java.util.Map.of(
      "id", id, "type", tpe, "message", message))

  // ------------------------------------------------------------- routes

  private def handleGraph(ex: HttpExchange, tenant: Tenant, q: String,
      emit: String => Unit): Unit = {
    val tables = tenant.tables
    val segments = tenant.segments
    val p = params(ex)
    val (startMs, endMs) = timeRange(p)
    val stepMs = TimeRange.autoStepMillis(startMs, endMs)
    val ast = AstJson.parseAstInput(q)
    val groupBys = ast.baseExpressions.values.flatMap(_.chart)
      .flatMap(_.groupBys).toList.distinct

    def tagsOf(groupKey: String): java.util.Map[String, AnyRef] = {
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      val parts = groupKey.split(":", -1)
      if (groupBys.nonEmpty && parts.length == groupBys.length)
        groupBys.zip(parts).foreach { case (k, v) => m.put(k, v) }
      else if (groupKey.nonEmpty) m.put("group", groupKey)
      m
    }
    def emitChartRow(r: Row): Unit = {
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      m.put("timestamp", Long.box(r.getLong(r.fieldIndex("step_ts"))))
      m.put("tags", tagsOf(r.getString(r.fieldIndex("group_key"))))
      m.put("value", Double.box(r.getDouble(r.fieldIndex("value"))))
      m.put("label", r.getString(r.fieldIndex("label")))
      emit(payload("_", "timeseries", m))
    }

    val cache = resultCache.scope(tenant)
    def replay() = QueryEngine.evaluateIncremental(
      tables, ast, startMs, endMs, stepMs, segments, minGroupSize,
      cache = cache)

    if (p.get("explain").exists(_.toBoolean)) {
      // plan-only mode: one "explain" event with the formatted physical
      // plan of the frame this route runs — wave 0's on the incremental
      // path (later waves differ only in their time hull), none when no
      // replay group overlaps the window or the cache serves them all —
      // the replay-group and wave counts (one query per wave) and the
      // groups the cache would serve. Nothing executes, so this answers
      // in planning time even when the window covers months of segments
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      m.put("stepMs", Long.box(stepMs))
      val df =
        if (segments.isEmpty)
          Some(QueryEngine.evaluateRuns(tables, ast, startMs, endMs, stepMs))
        else {
          val batches = replay().toList
          m.put("replayGroups", Int.box(batches.map(_.seqs.size).sum))
          m.put("replayWaves", Int.box(batches.count(_.frame.isDefined)))
          m.put("cachedGroups", Int.box(batches.map(_.served.size).sum))
          batches.flatMap(_.frame).headOption
        }
      df.foreach(d => m.put("plan",
        org.apache.spark.sql.GraftColumnBridge.explainString(d)))
      emit(payload("_", "explain", m))
      return
    }

    if (segments.nonEmpty) {
      // incremental: sealed replay groups stream in waves of 1, 2, 4, …
      // groups; wave 0 runs alone, then every later wave at once, and
      // rows go out in replay order as the socket drains
      drain(QueryEngine.streamRows(replay())) {
        case (_, _, r) => emitChartRow(r)
      }
    } else {
      // batch path: the same driver-side merge as a replay wave, so the
      // whole chart (steps × series rows) sits on the driver before the
      // first byte goes out — bounded by spark.driver.maxResultSize,
      // which fails the request loudly (see QueryEngine.mergeRuns)
      QueryEngine.mergeRuns(
          QueryEngine.evaluateRuns(tables, ast, startMs, endMs, stepMs),
          QueryEngine.ChartOrder)
        .foreach(emitChartRow)
    }

    // auto-exemplars beside every returning log/trace chart expression
    if (!p.get("timeseriesOnly").exists(_.toBoolean)) {
      import scala.jdk.CollectionConverters._
      def emitExemplar(id: String)(r: Row): Unit = {
        val m = new java.util.LinkedHashMap[String, AnyRef]()
        r.schema.fields.zipWithIndex.foreach { case (f2, i) =>
          m.put(f2.name,
            if (r.isNullAt(i)) null
            else r.get(i).asInstanceOf[AnyRef])
        }
        emit(payload(id, "event", m))
      }
      ast.baseExpressions.toList.sortBy(_._1).foreach { case (id, b) =>
        if (b.returnResults && b.chart.nonEmpty &&
            (b.dataset == "logs" || b.dataset == "traces")) {
          if (segments.nonEmpty)
            // per-replay-group exemplar frames, flushed as each group's
            // pruned job completes (QueryEngineV2.scala:493-543)
            QueryEngine.exemplarsIncremental(tables(b.dataset), b,
                startMs, endMs, stepMs, segments, minGroupSize)
              .foreach { case (_, df) =>
                df.toLocalIterator().asScala.foreach(emitExemplar(id))
              }
          else
            QueryEngine.exemplars(tables(b.dataset), b, startMs, endMs)
              .toLocalIterator().asScala.foreach(emitExemplar(id))
        }
      }
    }
  }

  /** The one filter context of a `/tags` or `/cardinality` body. The
    * reference's routes parse a BARE BaseExpr only — ASTUtils.toBaseExpr
    * (ASTUtils.scala:290) reads top-level id/dataset/filter and would
    * reject a `baseExpressions` wrapper. Accepting the wrapper is a
    * deliberate LENIENT EXTENSION (not parity): dashboards tend to
    * re-POST the /graph payload verbatim, and rejecting it buys nothing.
    * A wrapper is scoped to its expression with the lowest id — tag
    * discovery and cardinality need ONE filter context, ids order
    * deterministically, and silently merging several expressions'
    * filters would answer a question nobody asked; the other
    * expressions are intentionally ignored. An empty wrapper is an
    * error. */
  private def scopedBaseExpr(q: String): BaseExpr =
    if (mapper.readTree(q).has("baseExpressions"))
      AstJson.parseAstInput(q).baseExpressions.toList.sortBy(_._1)
        .headOption.map(_._2).getOrElse(
          throw new IllegalArgumentException("empty baseExpressions"))
    else AstJson.parseBaseExpr(q)

  private def handleTags(ex: HttpExchange, tenant: Tenant, q: String,
      emit: String => Unit): Unit = {
    import scala.jdk.CollectionConverters._
    val p = params(ex)
    val (startMs, endMs) = timeRange(p)
    val dataset = ex.getRequestURI.getPath.stripPrefix("/api/v1/tags")
      .stripPrefix("/") match { case "" => "logs"; case d => d }
    val expr =
      if (q.trim.isEmpty)
        BaseExpr(id = "_", dataset = dataset,
          filter = Filter("event_type", Nil, Ops.EXISTS))
      else scopedBaseExpr(q)
    // checked once for every path; unchecked they disagree (limit(-1)
    // fails analysis, take(-1) and the replay loop send nothing)
    val limit = p.get("limit").map(_.toInt).getOrElse(1000)
    require(limit >= 0, s"limit must be >= 0, got $limit")
    val tel = tenant.tables(dataset)
    p.get("tagName") match {
      case Some(tag) if tenant.segments.nonEmpty =>
        // replay-group incremental delivery: each group flushes only the
        // values NOT seen in any earlier group (first-seen dedup at the
        // coordinator, QueryEngineV2.scala:419-491), so a dropdown fills
        // from the first group while the rest of the window replays
        var sent = 0
        val it = QueryEngine.tagValuesIncremental(tel, expr, tag,
          startMs, endMs, TimeRange.autoStepMillis(startMs, endMs),
          tenant.segments, minGroupSize)
        try while (sent < limit && it.hasNext) {
          val (_, fresh) = it.next()
          fresh.take(limit - sent).foreach { v =>
            emit(payload("_", "data", java.util.Map.of(tag, v)))
            sent += 1
          }
        } finally it.close() // the limit may leave later waves running
      case Some(tag) =>
        QueryEngine.tagValues(tel, expr, tag, startMs, endMs, limit)
          .toLocalIterator().asScala.foreach { r =>
            emit(payload("_", "data", java.util.Map.of(
              tag, r.getString(r.fieldIndex("tagValue")))))
          }
      case None =>
        QueryEngine.tagNames(tel, expr, startMs, endMs, limit)
          .toLocalIterator().asScala.foreach { r =>
            emit(payload("_", "data",
              java.util.Map.of("name", r.getString(0))))
          }
    }
  }

  private def handleCardinality(ex: HttpExchange, tenant: Tenant,
      q: String, emit: String => Unit): Unit = {
    val segments = tenant.segments
    val p = params(ex)
    val (startMs, endMs) = timeRange(p)
    val expr = scopedBaseExpr(q)
    val groupBys = expr.chart.map(_.groupBys).getOrElse(Nil)
    val tel = tenant.tables(expr.dataset)
    if (segments.nonEmpty) {
      // running estimate per replay group, the reference's converging
      // cardinality stream (QueryEngineV2.scala:599-668)
      drain(QueryEngine.cardinalityIncremental(tel, expr, groupBys,
          startMs, endMs, TimeRange.autoStepMillis(startMs, endMs),
          segments, minGroupSize, resultCache.scope(tenant))) {
          case (_, est) =>
        emit(s"""{"message": ${math.rint(est).toLong}}""")
      }
    } else {
      val est = QueryEngine.cardinality(tel, expr, groupBys,
        startMs, endMs).head().getLong(0)
      emit(s"""{"message": $est}""")
    }
  }
}

object QueryHttpApi {

  /** One tenant's data scope: its table provider and its registered
    * sealed-segment replay spans. The reference keys both by
    * customer/collector in the storage layout (Commons.scala:160-177);
    * here each customerId maps to its own Tenant, so every route —
    * queries, pruning, replay sequencing, metadata — sees only that
    * tenant's data. */
  case class Tenant(tables: String => Telemetry,
      segments: Seq[ReplaySequencer.SegmentSpan] = Nil)

  /** Default credential extractor: `Authorization: Bearer <key>`, the
    * key doubling as the tenant registry lookup (swap in a real
    * token-validation function for production auth). */
  def bearerAuth(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer "))
      .map(_.stripPrefix("Bearer ").trim)
      .filter(_.nonEmpty)

  /** Pre-stream auth failure → 401, mirroring the reference's
    * `auth { customerId => … }` reject path (QueryApi.scala:73,101). */
  private[api] final class Unauthorized extends Exception("unauthorized")
}
