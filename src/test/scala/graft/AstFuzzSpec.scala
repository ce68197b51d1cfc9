package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.StreamReadConstraints
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.api.QueryHttpApi
import graft.engine.{ReplaySequencer, Telemetry}

/** Hostile AST JSON over HTTP: valid `/graph`, `/tags` and
  * `/cardinality` bodies, each mutated once (truncated, a value swapped
  * for another JSON type, an unknown op, a huge number, or nesting at
  * Jackson's depth limit), are sent to a batch and a replay server. Every
  * answer is a complete stream (200 ending in done) or a 4xx with a
  * message, within a fixed timeout: never a dropped connection, a 5xx, a
  * truncated 200 or a `null` body. Seeds are fixed, so a failure
  * reproduces from its printed seed. */
class AstFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val mapper = new ObjectMapper()
  private val nodes = JsonNodeFactory.instance
  private val base = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L
  private val timeoutMs = 30000
  private val maxDepth = StreamReadConstraints.defaults().getMaxNestingDepth

  private lazy val tel = {
    import spark.implicits._
    Telemetry.nanos((0 until 480).map { i =>
      ((base + i * 6L * 60000L) * 1000000L,
        if (i % 3 == 0) "click" else "view",
        (i % 50) / 2.0, s"""{"k": $i}""")
    }.toDF("ts", "event_type", "value", "props"), "ts",
      valueCol = col("value"), message = Some(col("props")))
  }

  private val leaf =
    """{"k": "event_type", "v": ["click", "view"], "op": "in"}"""
  private val expr =
    s"""{"id": "a", "dataset": "logs", "filter": $leaf,
       |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}}"""
      .stripMargin
  private val graphBodies = Seq(
    s"""{"baseExpressions": {"a": $expr}}""",
    s"""{"baseExpressions": {
       |  "a": {"dataset": "logs", "limit": 5,
       |    "filter": {"op": "and",
       |      "q1": {"k": "value", "v": ["3"], "op": "gt", "dataType": "number"},
       |      "q2": {"not": {"k": "event_type", "v": ["view"], "op": "eq"}}},
       |    "chart": {"aggregation": "p90", "groupBys": []}},
       |  "b": {"dataset": "logs", "returnResults": false,
       |    "filter": {"k": "event_type", "v": [], "op": "exists"},
       |    "chart": {"aggregation": "count", "groupBys": []}}},
       |  "formulae": ["a / b"]}""".stripMargin)
  private val exprBodies = Seq(expr,
    s"""{"dataset": "logs", "filter": {"op": "or",
       |  "q1": {"k": "props", "v": ["k\\": 1"], "op": "contains"},
       |  "q2": {"k": "event_type", "v": ["click"], "op": "eq"}}}"""
      .stripMargin)

  private val window = s"s=$base&e=${base + 48 * hour}"
  private val routes = Seq(
    s"/api/v1/graph?$window" -> graphBodies,
    s"/api/v1/tags/logs?tagName=event_type&$window" -> exprBodies,
    s"/api/v1/tags/logs?$window" -> exprBodies,
    s"/api/v1/cardinality?$window" -> exprBodies)

  /** A replaceable position in a tree: its field name ("" in an
    * array), the containers around it, and a setter. */
  private case class Slot(key: String, depth: Int, set: JsonNode => Unit)

  private def slots(n: JsonNode, depth: Int): Seq[Slot] = n match {
    case o: ObjectNode => o.properties().asScala.toSeq.flatMap { e =>
      Slot(e.getKey, depth + 1, v => o.set[JsonNode](e.getKey, v)) +:
        slots(e.getValue, depth + 1)
    }
    case a: ArrayNode => (0 until a.size).flatMap { i =>
      Slot("", depth + 1, v => a.set(i, v)) +: slots(a.get(i), depth + 1)
    }
    case _ => Nil
  }

  private val hole = "__fuzz__"

  /** `json` with the slot chosen by `pick` set to raw JSON text `v`. */
  private def splice(json: String, pick: Seq[Slot] => Slot,
      v: Slot => String): String = {
    val tree = mapper.readTree(json)
    val s = pick(slots(tree, 0))
    s.set(nodes.textNode(hole))
    mapper.writeValueAsString(tree).replace("\"" + hole + "\"", v(s))
  }

  private val swaps = Seq("\"x\"", "7", "-2.5", "true", "null", "[]", "{}",
    """["a", 1]""", """{"k": 1}""")
  private val ops = Seq("", "EQ", "nope", "in ", "regexp", "\\u0000",
    "and", "not", "exists", "count_distinct", "p1000", "avg ")
  private val opKeys =
    Set("op", "aggregation", "dataset", "dataType", "type", "name")
  private val huge = Seq("1e400", "-1e400", "2147483648", "-2147483649",
    "9223372036854775808", "123456789012345678901234567890",
    "1" * 900, "-0.0", "4.9e-324")

  private def mutate(json: String): Gen[String] = {
    val n = slots(mapper.readTree(json), 0).size
    val nOps = slots(mapper.readTree(json), 0).count(s => opKeys(s.key))
    Gen.frequency(
      2 -> Gen.choose(0, json.length - 1).map(json.take),
      3 -> Gen.zip(Gen.choose(0, n - 1), Gen.oneOf(swaps))
        .map { case (i, v) => splice(json, _(i), _ => v) },
      2 -> Gen.zip(Gen.choose(0, nOps - 1), Gen.oneOf(ops))
        .map { case (i, op) =>
          splice(json, _.filter(s => opKeys(s.key))(i), _ => s""""$op"""")
        },
      2 -> Gen.zip(Gen.choose(0, n - 1), Gen.oneOf(huge))
        .map { case (i, v) => splice(json, _(i), _ => v) },
      3 -> Gen.zip(Gen.choose(0, n - 1), Gen.choose(-1, 1),
          Gen.oneOf("array", "object", "not"))
        .map { case (i, delta, kind) =>
          splice(json, _(i), { s =>
            // the slot's containers plus d more: Jackson's limit itself
            // (delta 0), one under it and one past it
            val d = maxDepth - s.depth + delta
            kind match {
              case "array" => "[" * d + "1" + "]" * d
              case "object" => """{"a": """ * d + "1" + "}" * d
              case _ => """{"not": """ * (d - 1) + leaf + "}" * (d - 1)
            }
          })
        })
  }

  private def send(port: Int, path: String, body: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    (code, if (is == null) ""
      else new String(is.readAllBytes(), StandardCharsets.UTF_8))
  }

  test("mutated AST bodies answer a complete stream or a 4xx with a " +
    "message, in time, on the batch and the replay path") {
    val span = ReplaySequencer.SegmentSpan("s", base, base + 48 * hour)
    // no heartbeat inside the read timeout: a stalled answer times out
    val apis = Seq(Nil, Seq(span)).map(segs => new QueryHttpApi(_ => tel,
      segments = segs, heartbeatMillis = 2L * timeoutMs,
      now = () => java.time.Instant.ofEpochMilli(base + 48 * hour)))
    val ports = apis.map(_.start(0))
    val cases = for {
      (path, bodies) <- Gen.oneOf(routes)
      body <- Gen.oneOf(bodies)
      mutated <- mutate(body)
      port <- Gen.oneOf(ports)
    } yield (port, path, mutated)
    val codes = scala.collection.mutable.Map.empty[Int, Int]
    try for (i <- 0 until 160) {
      val (port, path, body) = cases(Gen.Parameters.default, Seed(i.toLong)).get
      val what = s"seed $i, ${if (port == ports.head) "batch" else "replay"} " +
        s"$path:\n${body.take(300)}"
      val t0 = System.nanoTime()
      val (code, text) =
        try send(port, path, body)
        catch { case e: java.io.IOException => fail(s"$what\n$e") }
      val ms = (System.nanoTime() - t0) / 1000000
      assert(ms < timeoutMs, s"$what\ntook $ms ms")
      codes(code) = codes.getOrElse(code, 0) + 1
      if (code == 200)
        assert(text.split("\r\n\r\n").filter(_.nonEmpty).lastOption
          .contains("""data: {"type":"done"}"""),
          s"$what\ntruncated stream: ${text.takeRight(300)}")
      else {
        assert(code >= 400 && code < 500, s"$what\n$code $text")
        assert(text.trim.nonEmpty && text != "null", s"$what\n$code")
      }
    } finally apis.foreach(_.stop())
    // the mutations reach both the decoder's rejections and the engine
    assert(codes.getOrElse(200, 0) > 0 && codes.getOrElse(400, 0) > 0, codes)
  }
}
