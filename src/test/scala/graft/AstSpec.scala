package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ast._
import graft.functions.{QuantityParser, TimeRange}

class AstSpec extends AnyFunSuite {

  test("AST JSON decode: filter tree, extract, compute, chart") {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"op": "and",
        |    "q1": {"k": "resource.container.name", "v": ["agent"], "op": "eq"},
        |    "q2": {"not": {"k": "level", "v": ["debug", "trace"], "op": "in"}}},
        |  "extract": {"regex": "raw=(\\d+)", "fields": [{"name": "raw", "type": "number"}]},
        |  "compute": {"labelName": "x", "functionCall": {
        |     "name": "div", "args": [
        |       {"type": "label", "name": "raw", "dataType": "number"},
        |       {"type": "literal", "value": 2, "dataType": "number"}]}},
        |  "chart": {"aggregation": "avg", "groupBys": ["level"], "type": "rate"},
        |  "order": "ASC", "limit": 50
        |}}, "formulae": []}""".stripMargin)
    val b = ast.baseExpressions("a")
    assert(b.dataset == "logs")
    assert(b.order == "ASC" && b.limit == 50)
    b.filter match {
      case BinaryClause(Filter("resource.container.name", List("agent"), "eq", _, _, _),
          NotClause(Filter("level", List("debug", "trace"), "in", _, _, _)), "and") =>
      case other => fail(s"unexpected filter $other")
    }
    assert(b.extractor.get.fields == List(ExtractedField("raw", "number")))
    assert(b.compute.get.labelName == "x")
    assert(b.chart.get.aggregation == "avg")
    assert(b.chart.get.chartType == "rate")
    assert(b.syntheticFields == Set("raw", "x"))
  }

  test("RE2 (?P<name> spelling normalizes only where it opens a group") {
    val b = AstJson.parseBaseExpr(
      """{"filter": {"k": "message", "v": ["x"], "op": "contains"},
        |  "extract": {"regex": "val=(?P<amt>\\d+) cls=[(?P<]"}}"""
        .stripMargin)
    val ex = b.extractor.get
    // the named group is rewritten to Java syntax; the same contiguous
    // text inside the character class is NOT touched
    assert(ex.regex == """val=(?<amt>\d+) cls=[(?P<]""")
    assert(ex.fields == List(ExtractedField("amt", "string")))
    // and the result must actually compile under java.util.regex
    val m = java.util.regex.Pattern.compile(ex.regex)
      .matcher("val=42 cls=P")
    assert(m.find() && m.group("amt") == "42")
  }

  test("binary clause accepts positional members like the reference") {
    val c = AstJson.parseFilter(
      """{"op": "or",
        |  "a": {"k": "x", "v": ["1"], "op": "eq"},
        |  "b": {"k": "y", "v": ["2"], "op": "eq"},
        |  "c": {"k": "z", "v": ["3"], "op": "eq"}}""".stripMargin match {
        case s => new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
      })
    // left-folded: ((x or y) or z)
    c match {
      case BinaryClause(BinaryClause(_, _, "or"), Filter("z", _, _, _, _, _), "or") =>
      case other => fail(s"unexpected $other")
    }
  }

  test("formula parsing: precedence and parens") {
    val a = BaseExpr(id = "a", filter = Filter("k", List("v"), "eq"))
    val b = BaseExpr(id = "b", filter = Filter("k", List("v"), "eq"))
    val m = Map("a" -> a, "b" -> b)

    FormulaParser.parse("a + b * 2", m) match {
      case Formula(`a`, Formula(`b`, ConstantExpr(2.0), "mul"), "add") =>
      case other => fail(s"precedence broken: $other")
    }
    FormulaParser.parse("(a - b) * (a + b)", m) match {
      case Formula(Formula(`a`, `b`, "sub"), Formula(`a`, `b`, "add"), "mul") =>
      case other => fail(s"parens broken: $other")
    }
    assertThrows[IllegalArgumentException](FormulaParser.parse("(a + b", m))
    assertThrows[IllegalArgumentException](FormulaParser.parse("a + c", m))
  }

  test("quantity parsing: durations to nanos, sizes to bytes") {
    assert(QuantityParser.parseQuantity("1.5s", DataTypes.DURATION).contains(1.5e9))
    assert(QuantityParser.parseQuantity("10ms", DataTypes.DURATION).contains(1e7))
    assert(QuantityParser.parseQuantity("2h", DataTypes.DURATION).contains(7.2e12))
    assert(QuantityParser.parseQuantity("3kb", DataTypes.DATA_SIZE).contains(3000.0))
    assert(QuantityParser.parseQuantity("1mib", DataTypes.DATA_SIZE).contains(131072.0))
    // the reference's own golden cases (QuantityParserTest.scala:27-51)
    assert(QuantityParser.parseQuantity("30s", DataTypes.DURATION).contains(3.0e10))
    assert(QuantityParser.parseQuantity("2m", DataTypes.DURATION).contains(1.2e11))
    assert(QuantityParser.parseQuantity("1h", DataTypes.DURATION).contains(3.6e12))
    assert(QuantityParser.parseQuantity("100b", DataTypes.DATA_SIZE).contains(100.0))
    assert(QuantityParser.parseQuantity("2kb", DataTypes.DATA_SIZE).contains(2000.0))
    assert(QuantityParser.parseQuantity("1mb", DataTypes.DATA_SIZE).contains(1e6))
    assert(QuantityParser.parseQuantity("invalid", DataTypes.DURATION).isEmpty)
    assert(QuantityParser.parseQuantity("", DataTypes.DURATION).isEmpty)
    assert(QuantityParser.parseQuantity("nounit", DataTypes.DURATION).isEmpty)
    assert(QuantityParser.parseQuantity("123", DataTypes.DATA_SIZE).isEmpty)
    assert(QuantityParser.normalize("42", DataTypes.NUMBER) == 42.0)
    // unparseable thresholds are NaN → the filter compiler matches
    // NOTHING (a 0.0 default silently turned `x > bogus` into `x > 0`)
    assert(QuantityParser.normalize("bogus", DataTypes.DURATION).isNaN)
    // non-dot pseudo-decimals must degrade gracefully, not throw (the
    // regex dot was once unescaped, making group(1) = "1,5" / "1a2" and
    // crashing toDouble): find() then parses the first valid quantity
    // substring ("5s") or falls through to the unknown-unit path
    assert(QuantityParser.parseQuantity("1,5s", DataTypes.DURATION).contains(5e9))
    assert(QuantityParser.normalize("1a2s", DataTypes.DURATION).isNaN)
  }

  test("reference payload shapes: arguments key, metrics default, missing literal value") {
    // the reference emits "arguments" (ComputeFunction.scala:235) — both
    // spellings must decode identically
    val fc = AstJson.parseFunctionCall(new com.fasterxml.jackson.databind
      .ObjectMapper().readTree(
      """{"name":"mul","arguments":[
        |  {"type":"literal","value":2,"dataType":"number"},
        |  {"type":"literal","value":3,"dataType":"number"}]}""".stripMargin))
    assert(fc.args.length == 2)
    // missing dataset routes to metrics (reference ASTUtils.scala:297)
    val b = AstJson.parseBaseExpr(
      """{"filter": {"k": "x", "op": "exists"}}""")
    assert(b.dataset == "metrics")
    // a literal arg without a value is a decode error, not an NPE
    val err = intercept[IllegalArgumentException] {
      AstJson.parseBaseExpr(
        """{"dataset":"logs","filter":{"k":"x","op":"exists"},
          |"compute":{"labelName":"y","functionCall":{"name":"mul",
          |  "args":[{"type":"literal","dataType":"number"}]}}}""".stripMargin)
    }
    assert(err.getMessage.contains("literal compute arg without a value"))
  }

  test("formula constants accept scientific notation (reference grammar parity)") {
    import graft.ast.{FormulaParser, BaseExpr, Filter, Ops}
    val base = Map("a" -> BaseExpr(id = "a",
      filter = Filter(k = "x", op = Ops.EXISTS)))
    val node = FormulaParser.parse("a * 1e3", base)
    assert(node != null)
    assert(FormulaParser.parse("a / 2E-2", base) != null)
    val bad = intercept[IllegalArgumentException] {
      FormulaParser.parse("a * 1.2.3", base)
    }
    assert(bad.getMessage.contains("malformed number"))
  }

  test("formula paren nesting past MaxDepth is an IllegalArgumentException, " +
    "not a StackOverflowError") {
    import graft.ast.{FormulaParser, BaseExpr, Filter, Ops}
    val base = Map("a" -> BaseExpr(id = "a",
      filter = Filter(k = "x", op = Ops.EXISTS)))
    def nested(n: Int) = "(" * n + "a" + ")" * n
    assert(FormulaParser.parse(nested(FormulaParser.MaxDepth), base) ===
      FormulaParser.parse("a", base))
    for (n <- Seq(FormulaParser.MaxDepth + 1, 20000)) {
      val e = intercept[IllegalArgumentException](
        FormulaParser.parse(nested(n), base))
      assert(e.getMessage.contains("deeper than"), n)
    }
  }

  test("time range resolution") {
    val now = java.time.Instant.parse("2024-01-31T00:00:00Z")
    val (s1, e1) = TimeRange.resolve("e-1h", "now", now)
    assert(e1 == now.toEpochMilli && s1 == e1 - 3600000L)
    val (s2, e2) = TimeRange.resolve("1704067200", "1704153600", now)
    assert(s2 == 1704067200000L && e2 == 1704153600000L)
    val (s3, _) = TimeRange.resolve("2024-01-10", "now", now)
    assert(s3 == 1704844800000L)
    assertThrows[IllegalArgumentException](TimeRange.resolve("now", "e-1h", now))
    // step auto-selection table
    assert(TimeRange.autoStepMillis(0, 3600000) == 10000L)
    assert(TimeRange.autoStepMillis(0, 12 * 3600000L) == 60000L)
    assert(TimeRange.autoStepMillis(0, 24 * 3600000L) == 300000L)
    assert(TimeRange.autoStepMillis(0, 3 * 86400000L) == 1200000L)
    assert(TimeRange.autoStepMillis(0, 30 * 86400000L) == 3600000L)
  }
}
