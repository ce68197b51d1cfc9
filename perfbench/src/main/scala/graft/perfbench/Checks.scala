package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

import graft.ast.AstJson
import graft.engine.{QueryEngine, Telemetry}
import graft.functions.TimeRange

/** Answer checks, run after the timed phase on every timed request: the
  * expected answer is the engine's batch evaluation of the same AST over
  * the same window, computed in process (once per distinct request).
  * Thread-safe, so requests can be checked in parallel. */
final class Checks(tel: Telemetry) {
  import Checks._

  private val mapper = new ObjectMapper()
  private val tables: String => Telemetry = _ => tel
  private val expected = new java.util.concurrent.ConcurrentHashMap[Check, Any]()

  /** None when the answer is right, else why it is wrong. */
  def verify(check: Check, data: Seq[String]): Option[String] = {
    val events = data.map(mapper.readTree)
    check match {
      case g: GraphCheck =>
        val exp = expected.computeIfAbsent(g, _ => graphRows(g))
          .asInstanceOf[(Vector[(Long, String, BigDecimal)], Vector[String])]
        val got = events.filter(typeOf(_) == "timeseries").map { n =>
          val m = n.get("message")
          (m.get("timestamp").asLong(), m.get("label").asText(),
            round6(m.get("value").asDouble()))
        }.sorted.toVector
        val gotEx = events.filter(typeOf(_) == "event")
          .map(n => canonical(n.get("message"))).toVector
        if (got != exp._1)
          Some(s"timeseries: ${got.size} rows, expected ${exp._1.size}" +
            firstDiff(got, exp._1))
        else if (g.exemplars && gotEx != exp._2)
          Some(s"exemplars: ${gotEx.size} events, expected ${exp._2.size}" +
            firstDiff(gotEx, exp._2))
        else None
      case t: TagsCheck =>
        val exp = expected.computeIfAbsent(t, _ => {
          val e = AstJson.parseBaseExpr(t.expr)
          QueryEngine.tagValues(tel, e, t.tag, t.startMs, t.endMs)
            .collect().map(_.getAs[String]("tagValue")).toVector.sorted
        }).asInstanceOf[Vector[String]]
        val got = events.map(_.get("message").get(t.tag).asText()).toVector
        if (got.distinct.size != got.size) Some("tags: duplicate values")
        else if (got.sorted != exp) Some(s"tags: ${got.sorted} != $exp")
        else None
      case c: CardCheck =>
        val exp = expected.computeIfAbsent(c, _ => {
          val e = AstJson.parseBaseExpr(c.expr)
          val groupBys = e.chart.map(_.groupBys).getOrElse(Nil)
          QueryEngine.cardinality(tel, e, groupBys, c.startMs, c.endMs)
            .head().getLong(0): java.lang.Long
        }).asInstanceOf[Long]
        events.lastOption.map(_.get("message").asLong()) match {
          case None => Some("cardinality: no estimate")
          case Some(got) if !withinHll(got, exp) =>
            Some(s"cardinality: $got vs batch $exp beyond ${CardinalityTolerance}")
          case _ => None
        }
    }
  }

  private def graphRows(g: GraphCheck)
      : (Vector[(Long, String, BigDecimal)], Vector[String]) = {
    val ast = AstJson.parseAstInput(g.ast)
    val step = TimeRange.autoStepMillis(g.startMs, g.endMs)
    val rows = QueryEngine.evaluate(tables, ast, g.startMs, g.endMs, step)
      .collect().map { r =>
        (r.getAs[Long]("step_ts"), r.getAs[String]("label"),
          round6(r.getAs[Double]("value")))
      }.sorted.toVector
    val ex =
      if (!g.exemplars) Vector.empty
      else ast.baseExpressions.toList.sortBy(_._1).flatMap { case (_, b) =>
        if (b.returnResults && b.chart.nonEmpty && b.dataset == "logs")
          QueryEngine.exemplars(tel, b, g.startMs, g.endMs).collect()
            .map(r => canonical(mapper.readTree(
              mapper.writeValueAsString(rowMap(r)))))
        else Nil
      }.toVector
    (rows, ex)
  }

  /** The server's exemplar payload shape: field name -> value. */
  private def rowMap(r: Row): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    r.schema.fields.zipWithIndex.foreach { case (f, i) =>
      m.put(f.name, if (r.isNullAt(i)) null else r.get(i).asInstanceOf[AnyRef])
    }
    m
  }

  private def canonical(n: JsonNode): String = mapper.writeValueAsString(n)
}

object Checks {
  /** `round(value, 6)`, the rounding the `ast_incremental_chart` entry
    * applies before its oracle compare (HALF_UP on the decimal value). */
  def round6(v: Double): BigDecimal =
    if (v.isNaN || v.isInfinite) BigDecimal(-1)
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** Three standard errors of the difference between the two estimators
    * that can answer `/cardinality`: the replay path's DataSketches HLL
    * union at lgK 12 (1.04/sqrt(2^12)) and the batch path's
    * `approx_count_distinct` at its default rsd 0.05 (HLL++ with 2^9
    * registers, 1.04/sqrt(2^9)). */
  val CardinalityTolerance: Double =
    3 * math.sqrt(math.pow(1.04 / math.sqrt(4096), 2) +
      math.pow(1.04 / math.sqrt(512), 2))

  def withinHll(got: Long, exp: Long): Boolean =
    if (exp == 0) got == 0
    else math.abs(got - exp).toDouble / exp <= CardinalityTolerance

  private def typeOf(n: JsonNode): String =
    Option(n.get("type")).map(_.asText()).getOrElse("")

  private def firstDiff[A](a: Seq[A], b: Seq[A]): String =
    a.zipAll(b, null, null).find { case (x, y) => x != y }
      .map { case (x, y) => s"; first difference: got $x, expected $y" }
      .getOrElse("")
}
