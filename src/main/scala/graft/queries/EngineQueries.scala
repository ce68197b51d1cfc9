package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ast.AstJson
import graft.engine.{QueryEngine, Telemetry}

/** The reference's query surface (JSON AST → SSE series) driven end-to-end
  * through [[graft.engine.QueryEngine]] over the `events` table, with
  * DuckDB oracles. `events` plays the telemetry role: `ts` (epoch-nanos) =
  * `_cardinalhq.timestamp`, `value` = `_cardinalhq.value`, `props` =
  * `_cardinalhq.message`, `event_type`/`user_id` = tags.
  *
  * Determinism notes: engine sums are plain double aggregation (the scale
  * path), so oracle pairs round to 6 dp — safe because the data is 2 dp
  * (the true decimal sum has no digit at the tie position and the
  * accumulated error is ≪ 5e-7).
  */
object EngineQueries {

  /** Full events time range at any SF, in epoch millis. */
  private val START = 1704067200000L // 2024-01-01T00:00:00Z
  private val END = 1706745600000L   // 2024-02-01T00:00:00Z
  private val HOUR = 3600000L
  private val DAY = 86400000L

  private def eventsTel(s: SparkSession, dir: String): Telemetry =
    Telemetry.nanos(Tables.load(s, dir, "events"), "ts",
      valueCol = col("value"), message = Some(col("props")))

  /** (min, max) epoch-nanos of events.ts for the incremental entries'
    * SegmentSpan — from parquet footer statistics when every file
    * carries them (no Spark job; the reference reads segment spans from
    * its PG manifest, never from the data — r16, one job floor saved
    * per entry), else the one-row aggregate the entries always ran.
    * int64 footer min/max are exact, so both paths return bit-identical
    * values (TsBoundsSpec pins equality on every sf fixture). */
  private def eventsTsBounds(s: SparkSession, dir: String): (Long, Long) =
    Tables.tsBoundsNanos(s, dir, "events").getOrElse {
      val b = Tables.load(s, dir, "events")
        .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
      (b.getLong(0), b.getLong(1))
    }

  private def tables(s: SparkSession, dir: String): String => Telemetry = {
    val tel = eventsTel(s, dir)
    _ => tel
  }

  // A1/F3 chart through the AST: sum(value) by event_type, 1h buckets
  def ast_chart_sum(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "event_type", "v": ["click", "view"], "op": "in"},
        |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.evaluate(tables(s, dir), ast, START, END, HOUR)
      .select(col("step_ts"), col("group_key"),
        round(col("value"), 6).as("value"))
      .orderBy("step_ts", "group_key")
  }

  // J1 formula through the AST: clicks/views ratio per day
  def ast_formula_ratio(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {
        |  "a": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["click"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}},
        |  "b": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["view"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}}
        |}, "formulae": ["a / b"]}""".stripMargin)
    QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
      .select(col("step_ts"), round(col("value"), 6).as("value"))
      .orderBy("step_ts")
  }

  // E1+E2 through the AST: extract k, compute k2 = k*0.5, chart sum(k2).
  // k*0.5 is dyadic so double sums are exact at any order — no rounding.
  def ast_extract_compute(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"op": "and",
        |    "q1": {"k": "event_type", "v": ["view"], "op": "!="},
        |    "q2": {"k": "k", "v": ["10"], "op": "gt",
        |           "dataType": "number", "extracted": true}},
        |  "extract": {"regex": "\"k\":\\s*(\\d+)",
        |              "fields": [{"name": "k", "type": "number"}]},
        |  "compute": {"labelName": "k2", "functionCall": {
        |     "name": "mul", "args": [
        |       {"type": "label", "name": "k", "dataType": "number"},
        |       {"type": "literal", "value": 0.5, "dataType": "number"}]}},
        |  "chart": {"aggregation": "sum", "groupBys": ["event_type"],
        |            "fieldName": "k2", "fieldType": "number"}
        |}}}""".stripMargin)
    QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"), col("value"))
      .orderBy("step_ts", "group_key")
  }

  // F9 missing-column constant-fold: filter on a nonexistent tag → false
  def ast_missing_column(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"op": "or",
        |    "q1": {"k": "no_such_column", "v": ["x"], "op": "eq"},
        |    "q2": {"k": "event_type", "v": ["click"], "op": "eq"}},
        |  "chart": {"aggregation": "count", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"), col("value"))
      .orderBy("step_ts", "group_key")
  }

  // A5 percentile chart (exact mode for the oracle; approx is the default)
  def ast_chart_p90(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "value", "v": ["0"], "op": "gt", "dataType": "number"},
        |  "chart": {"aggregation": "p90", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.withExactPercentiles {
      QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
        .select(col("step_ts"), col("group_key"),
          round(col("value"), 4).as("value"))
        .orderBy("step_ts", "group_key")
    }
  }

  // O1 exemplars through the AST (window sized so limit never truncates —
  // ms-tie ordering at a limit boundary is engine-dependent)
  def ast_exemplars(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseBaseExpr(
      """{"id": "a", "dataset": "logs", "order": "DESC", "limit": 100000,
        |  "filter": {"op": "and",
        |    "q1": {"k": "value", "v": ["198"], "op": "gt", "dataType": "number"},
        |    "q2": {"k": "event_type", "v": ["purchase"], "op": "eq"}}
        |}""".stripMargin)
    QueryEngine.exemplars(eventsTel(s, dir), ast, START, END)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  // O1 auto-exemplar orchestration: ONE AST evaluation returns the chart
  // series AND the exemplar stream for the log expression (reference
  // QueryApi.scala:235-270 streams both over one SSE channel). Window
  // sized so the exemplar limit never truncates (ms-tie order at a limit
  // boundary is engine-dependent).
  def ast_chart_with_exemplars(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs", "order": "DESC", "limit": 100000,
        |  "filter": {"op": "and",
        |    "q1": {"k": "value", "v": ["198"], "op": "gt", "dataType": "number"},
        |    "q2": {"k": "event_type", "v": ["purchase"], "op": "eq"}},
        |  "chart": {"aggregation": "count", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    val res = QueryEngine.evaluateWithExemplars(
      tables(s, dir), ast, START, END, DAY)
    val chart = res.chart.select(
      lit("chart").as("kind"), col("step_ts"),
      col("group_key").as("label"), round(col("value"), 6).as("value"),
      lit(null).cast("long").as("event_id"))
    val ex = res.exemplars("a").select(
      lit("exemplar").as("kind"),
      expr("ts div 1000000").as("step_ts"),
      col("event_type").as("label"), col("value"), col("event_id"))
    chart.unionByName(ex).orderBy("kind", "step_ts", "label", "event_id")
  }

  // §3.1 step 6: multi-expression orchestration — two returned series plus
  // a formula over them, unioned into one (step_ts, group_key, value,
  // label) stream (U1 through the AST; labels = filter text for grouped-
  // less series, reference BaseExpr.scala:697-716)
  def ast_multi_series(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {
        |  "a": {"dataset": "logs",
        |        "filter": {"k": "event_type", "v": ["click"], "op": "eq"},
        |        "chart": {"aggregation": "count", "groupBys": []}},
        |  "b": {"dataset": "logs",
        |        "filter": {"k": "event_type", "v": ["view"], "op": "eq"},
        |        "chart": {"aggregation": "count", "groupBys": []}}
        |}, "formulae": ["a + b"]}""".stripMargin)
    QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
      .select(col("step_ts"), col("label"), round(col("value"), 6).as("value"))
      .orderBy("step_ts", "label")
  }

  // A4 avg chart (Spark's native partial sum/count replaces the
  // reference's coordinator-side sum+count dual sourcing)
  def ast_chart_avg(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "event_type", "v": ["click"], "op": "eq"},
        |  "chart": {"aggregation": "avg", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.withDecimalAverages {
      QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
        .select(col("step_ts"), col("group_key"),
          round(col("value"), 6).as("value"))
        .orderBy("step_ts", "group_key")
    }
  }

  // A2: metrics dataset — pre-rolled per-minute rollup_* columns
  // re-aggregated at query step. The derived metrics table is built once
  // per context and sf dir (the shape metric segments have in the reference:
  // BaseExpr.scala:376-395).
  private def metricsDir(s: SparkSession, sfDir: String): String =
    Tables.artifact(s, "metrics", sfDir) { out =>
      Tables.load(s, sfDir, "events")
        .groupBy(
          (expr("ts div 1000000") - expr("ts div 1000000") % 60000L).as("ts"),
          col("event_type"))
        .agg(
          sum(col("value").cast("decimal(18,2)")).cast("double").as("rollup_sum"),
          count(lit(1)).cast("double").as("rollup_count"),
          min(col("value")).as("rollup_min"),
          max(col("value")).as("rollup_max"),
          // mergeable sketch columns in the reference's byte formats
          // (SketchInterop.scala): DDSketch proto of the raw values for
          // percentile re-aggregation, DataSketches HLL image of the
          // ingest-configured cardinality key (user_id) for ces
          graft.functions.SketchInteropFunctions
            .ddProtoSketch(col("value")).as("sketch_dd"),
          graft.functions.SketchInteropFunctions
            .dsHllSketch(col("user_id")).as("sketch_hll"))
        .withColumn("rollup_avg", col("rollup_sum") / col("rollup_count"))
        .withColumn("name", lit("events.value"))
        .write.parquet(out)
      out
    }

  private[graft] def prepare(s: SparkSession, dir: String): Unit =
    metricsDir(s, dir)

  // The rollup CASCADE: hour segments derived FROM the minute segments
  // (not from raw) — sums/counts re-aggregate through DECIMAL, min/max
  // through min/max, and the sketch columns merge BYTE-WISE (DDSketch
  // proto bin addition, HLL union) — the property that lets a metrics
  // lake keep only coarse rollups for old data without losing
  // percentiles or cardinality. Built once per context and sf dir.
  private[graft] def hourMetricsDir(s: SparkSession, sfDir: String): String =
    Tables.artifact(s, "metrics_hour", sfDir) { out =>
      s.read.parquet(metricsDir(s, sfDir))
        .groupBy((col("ts") - col("ts") % 3600000L).as("ts"),
          col("event_type"))
        .agg(
          sum(col("rollup_sum").cast("decimal(18,2)")).cast("double")
            .as("rollup_sum"),
          sum(col("rollup_count")).cast("double").as("rollup_count"),
          min(col("rollup_min")).as("rollup_min"),
          max(col("rollup_max")).as("rollup_max"),
          graft.functions.SketchInteropFunctions
            .ddProtoMerge(col("sketch_dd")).as("sketch_dd"),
          graft.functions.SketchInteropFunctions
            .dsHllUnion(col("sketch_hll")).as("sketch_hll"))
        .withColumn("rollup_avg", col("rollup_sum") / col("rollup_count"))
        .withColumn("name", lit("events.value"))
        .write.parquet(out)
      out
    }

  /** Day-step query answered from the HOUR cascade (minute → hour →
    * query): the oracle recomputes the same two-level decimal
    * re-aggregation from raw events, so a cascade that loses mass,
    * double-counts an hour, or mis-buckets hash-mismatches. */
  def ast_metrics_cascade(s: SparkSession, dir: String): DataFrame = {
    val hdf = s.read.parquet(hourMetricsDir(s, dir))
    val tel = Telemetry.millis(hdf, "ts", valueCol = col("rollup_sum"))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "metrics",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.evaluate(_ => tel, ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"),
        round(col("value"), 6).as("value"))
      .orderBy("step_ts", "group_key")
  }

  def ast_metrics_rollup(s: SparkSession, dir: String): DataFrame = {
    val mdf = s.read.parquet(metricsDir(s, dir))
    val tel = Telemetry.millis(mdf, "ts", valueCol = col("rollup_sum"))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "metrics",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.evaluate(_ => tel, ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"),
        round(col("value"), 6).as("value"))
      .orderBy("step_ts", "group_key")
  }

  // A2: count aggregation over metrics defaults to the rollup_count
  // column — daily datapoint counts, not counts of rollup rows
  // (reference pairs rollup with the aggregation; ASTUtils.scala:231-242)
  def ast_metrics_count(s: SparkSession, dir: String): DataFrame = {
    val mdf = s.read.parquet(metricsDir(s, dir))
    val tel = Telemetry.millis(mdf, "ts", valueCol = col("rollup_sum"))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "metrics",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "count", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.evaluate(_ => tel, ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"), col("value"))
      .orderBy("step_ts", "group_key")
  }

  // A2: avg over metrics re-weights as Σ rollup_sum / Σ rollup_count —
  // the true datapoint average, not an unweighted average of minutes
  def ast_metrics_avg(s: SparkSession, dir: String): DataFrame = {
    val mdf = s.read.parquet(metricsDir(s, dir))
    val tel = Telemetry.millis(mdf, "ts", valueCol = col("rollup_sum"))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "metrics",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "avg", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.withDecimalAverages {
      QueryEngine.evaluate(_ => tel, ast, START, END, DAY)
        .select(col("step_ts"), col("group_key"),
          round(col("value"), 6).as("value"))
        .orderBy("step_ts", "group_key")
    }
  }

  // A2: min/max over metrics re-aggregate their own rollup columns
  def ast_metrics_minmax(s: SparkSession, dir: String): DataFrame = {
    val mdf = s.read.parquet(metricsDir(s, dir))
    val tel = Telemetry.millis(mdf, "ts", valueCol = col("rollup_sum"))
    def ev(aggName: String, as: String): DataFrame = {
      val ast = AstJson.parseAstInput(
        s"""{"baseExpressions": {"a": {
           |  "dataset": "metrics",
           |  "filter": {"k": "event_type", "op": "exists"},
           |  "chart": {"aggregation": "$aggName", "groupBys": ["event_type"]}
           |}}}""".stripMargin)
      QueryEngine.evaluate(_ => tel, ast, START, END, DAY)
        .select(col("step_ts"), col("group_key"), col("value").as(as))
    }
    ev("min", "min_v").join(ev("max", "max_v"), Seq("step_ts", "group_key"))
      .orderBy("step_ts", "group_key")
  }

  // A2: explicit rollup — the chart aggregation applies to that rollup
  // series verbatim (max over per-minute averages; BaseExpr.scala:391)
  def ast_metrics_rollup_avg(s: SparkSession, dir: String): DataFrame = {
    val mdf = s.read.parquet(metricsDir(s, dir))
    val tel = Telemetry.millis(mdf, "ts", valueCol = col("rollup_sum"))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "metrics",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "max", "rollup": "avg",
        |            "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.evaluate(_ => tel, ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"),
        round(col("value"), 6).as("value"))
      .orderBy("step_ts", "group_key")
  }

  // A2+A5: a percentile aggregation over pre-rolled metrics cannot be
  // recovered from rollups — it degrades to the MAX envelope of the
  // requested rollup series (reference BaseExpr.scala:380 MAX(rollup_<r>))
  def ast_metrics_p90_rollup(s: SparkSession, dir: String): DataFrame = {
    // sketch columns dropped: this entry pins the SKETCH-LESS segment
    // semantics — percentile over pre-rolled columns degrades to the max
    // envelope (BaseExpr.scala:380). Sketch-bearing segments take the
    // merged-sketch path instead (ast_metrics_p90_sketch).
    val mdf = s.read.parquet(metricsDir(s, dir))
      .drop("sketch_dd", "sketch_hll")
    val tel = Telemetry.millis(mdf, "ts", valueCol = col("rollup_sum"))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "metrics",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "p90", "rollup": "sum",
        |            "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.evaluate(_ => tel, ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"),
        round(col("value"), 6).as("value"))
      .orderBy("step_ts", "group_key")
  }

  // A5-over-rollups via sketch-bearing segments: percentile aggregation
  // merges the per-minute DDSketch proto payloads (reference sketch path,
  // TimeGroupedSketchAggregator.scala:36-46 + BaseExpr.scala:59-61)
  // instead of degrading to the max envelope. Oracle gate: DDSketch
  // promises ±1% relative error against the ORDER STATISTIC at rank
  // floor(q·(n-1)) — not against an interpolated percentile, which in a
  // small group can sit half an order-statistic gap away (measured up to
  // 18% on n≈50 groups). The gate computes that exact order statistic
  // (per-group sort, bounded by group size) and admits 1.5% — structural
  // error ≤ ~1%, so every group passes deterministically and a broken
  // merge/codec drops rows and fails the hash.
  def ast_metrics_p90_sketch(s: SparkSession, dir: String): DataFrame = {
    val mdf = s.read.parquet(metricsDir(s, dir))
    val tel = Telemetry.millis(mdf, "ts", valueCol = col("rollup_sum"))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "metrics",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "p90", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    val est = QueryEngine.evaluate(_ => tel, ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"), col("value"))
    val exact = Tables.load(s, dir, "events")
      .groupBy(
        (expr("ts div 1000000") - expr("ts div 1000000") % DAY).as("step_ts"),
        col("event_type").as("group_key"))
      .agg(expr("element_at(sort_array(collect_list(value)), " +
        "cast(floor(0.9d * (count(value) - 1)) as int) + 1)").as("exact_p90"))
    est.join(exact, Seq("step_ts", "group_key"))
      .where(abs(col("value") - col("exact_p90")) / col("exact_p90") <= 0.015)
      .select(col("step_ts"), col("group_key"))
      .orderBy("step_ts", "group_key")
  }

  // A6/ces over sketch-bearing segments: cardinality merges the
  // per-minute DataSketches HLL images (heapify + Union, the reference's
  // exact merge) and estimates at eval. Oracle gate: estimate within 5%
  // of the exact distinct user count per (step, group) — these
  // cardinalities sit in the sketch's near-exact range, so the gate is
  // never near its boundary.
  def ast_metrics_ces_sketch(s: SparkSession, dir: String): DataFrame = {
    val mdf = s.read.parquet(metricsDir(s, dir))
    val tel = Telemetry.millis(mdf, "ts", valueCol = col("rollup_sum"))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "metrics",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "ces", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    val est = QueryEngine.evaluate(_ => tel, ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"), col("value"))
    val exact = Tables.load(s, dir, "events")
      .groupBy(
        (expr("ts div 1000000") - expr("ts div 1000000") % DAY).as("step_ts"),
        col("event_type").as("group_key"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    est.join(exact, Seq("step_ts", "group_key"))
      .where(abs(col("value") - col("exact_users")) / col("exact_users") <= 0.05)
      .select(col("step_ts"), col("group_key"), col("exact_users"))
      .orderBy("step_ts", "group_key")
  }

  // F11/F13: exemplar output over a metrics-shaped table — the dataset's
  // fixed lead projection (ts, name) and rollup_* suppression decide the
  // output schema, which the oracle hash-checks
  def ast_exemplars_metrics(s: SparkSession, dir: String): DataFrame = {
    val mdf = s.read.parquet(metricsDir(s, dir))
    val tel = Telemetry.millis(mdf, "ts", valueCol = col("rollup_sum"))
    val ast = AstJson.parseBaseExpr(
      """{"id": "a", "dataset": "metrics", "order": "ASC", "limit": 1000000,
        |  "filter": {"k": "event_type", "v": ["click"], "op": "eq"}}""".stripMargin)
    QueryEngine.exemplars(tel, ast, START, END).orderBy("ts")
  }

  // J1 corner: formula with an avg-aggregated operand. The reference
  // evaluates each operand under its OWN aggregation, wraps the per-step
  // value as a singleton {sum→v} map-sketch and rewrites the formula
  // stage to aggregation=sum (QueryEngineV2.scala:310-389) — sum over a
  // singleton is the identity, so the observable semantics are plain
  // arithmetic over own-aggregation operand values; QueryEngine.combine
  // computes exactly that, oracle-checked here.
  def ast_formula_avg_operand(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {
        |  "a": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["click"], "op": "eq"},
        |        "chart": {"aggregation": "avg", "groupBys": []}},
        |  "b": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["view"], "op": "eq"},
        |        "chart": {"aggregation": "avg", "groupBys": []}}
        |}, "formulae": ["a / b"]}""".stripMargin)
    QueryEngine.withDecimalAverages {
      QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
        .select(col("step_ts"), round(col("value"), 6).as("value"))
        .orderBy("step_ts")
    }
  }

  // Shared-scan over METRICS rollup segments: a formula over two metrics
  // expressions (purchase share of total) compiles to ONE segment scan —
  // both operands' rollup re-aggregations ride the same pivot, and the
  // J1 div alignment (drop zero denominators) is presence algebra, not a
  // join. The reference evaluates N BaseExprs over one segment stream
  // (QueryEngineV2.scala:211-417); this is that execution shape for the
  // pre-rolled metrics path.
  def ast_metrics_formula_ratio(s: SparkSession, dir: String): DataFrame = {
    val mdf = s.read.parquet(metricsDir(s, dir))
    val tel = Telemetry.millis(mdf, "ts", valueCol = col("rollup_sum"))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {
        |  "a": {"dataset": "metrics", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["purchase"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}},
        |  "b": {"dataset": "metrics", "returnResults": false,
        |        "filter": {"k": "event_type", "op": "exists"},
        |        "chart": {"aggregation": "sum", "groupBys": []}}
        |}, "formulae": ["a / b"]}""".stripMargin)
    QueryEngine.evaluate(_ => tel, ast, START, END, DAY)
      .select(col("step_ts"), round(col("value"), 6).as("value"))
      .orderBy("step_ts")
  }

  // §3.1 step 1: relative time-range strings + auto-step selection wired
  // end-to-end. "e-2d".."now" at a pinned now (the data's end — pinned so
  // the oracle is reproducible) resolves to a 2-day span, and
  // autoStepMillis picks the 20-minute bucket the reference's table does
  // (Strings.scala:60-185, QueryApi.scala:297-309).
  def ast_relative_time(s: SparkSession, dir: String): DataFrame = {
    val now = java.time.Instant.parse("2024-02-01T00:00:00Z")
    val (startMs, endMs) =
      graft.functions.TimeRange.resolve("e-2d", "now", now)
    val stepMs = graft.functions.TimeRange.autoStepMillis(startMs, endMs)
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.evaluate(tables(s, dir), ast, startMs, endMs, stepMs)
      .select(col("step_ts"), col("group_key"),
        round(col("value"), 6).as("value"))
      .orderBy("step_ts", "group_key")
  }

  // §3.2 tag-values API
  def ast_tag_values(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseBaseExpr(
      """{"id": "a", "dataset": "logs",
        |  "filter": {"k": "value", "v": ["100"], "op": "ge", "dataType": "number"}
        |}""".stripMargin)
    QueryEngine.tagValues(eventsTel(s, dir), ast, "event_type", START, END)
  }

  // F6 + QuantityParser: duration-typed literal normalized at plan time
  // ("150ns" → 150.0; treating value as nanos) — exercises the full
  // duration path the reference runs for latency filters
  def ast_duration_filter(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "value", "v": ["150ns"], "op": "gt",
        |             "dataType": "duration"},
        |  "chart": {"aggregation": "count", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"), col("value"))
      .orderBy("step_ts", "group_key")
  }

  // A3 min/max through the AST
  def ast_chart_minmax(s: SparkSession, dir: String): DataFrame = {
    val minAst = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "min", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    val maxAst = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "event_type", "op": "exists"},
        |  "chart": {"aggregation": "max", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    val mn = QueryEngine.evaluate(tables(s, dir), minAst, START, END, DAY)
      .select(col("step_ts"), col("group_key"), col("value").as("min_v"))
    val mx = QueryEngine.evaluate(tables(s, dir), maxAst, START, END, DAY)
      .select(col("step_ts"), col("group_key"), col("value").as("max_v"))
    mn.join(mx, Seq("step_ts", "group_key"))
      .orderBy("step_ts", "group_key")
  }

  // §3.2 tag-names API (F13/F14: names with a non-null value under the
  // filter, deduplicated)
  def ast_tag_names(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseBaseExpr(
      """{"id": "a", "dataset": "logs",
        |  "filter": {"k": "event_type", "v": ["purchase"], "op": "eq"}
        |}""".stripMargin)
    QueryEngine.tagNames(eventsTel(s, dir), ast, START, END)
  }

  // §3.3 cardinality API. Oracle-gated: the HLL++ estimate must land
  // within 5% of the exact distinct tag-tuple count under the same
  // filter; the hash-checked output is the exact count, so estimator
  // drift fails the oracle instead of passing a rows-only check.
  def ast_cardinality(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseBaseExpr(
      """{"id": "a", "dataset": "logs",
        |  "filter": {"k": "props", "op": "exists"}}""".stripMargin)
    val est = QueryEngine.cardinality(eventsTel(s, dir), ast,
      Seq("event_type", "user_id"), START, END)
    val exact = Tables.load(s, dir, "events")
      .where(col("props").isNotNull)
      .agg(countDistinct(concat_ws(":", col("event_type"), col("user_id")))
        .as("exact_tuples"))
    est.crossJoin(exact)
      .where(abs(col("cardinality") - col("exact_tuples")) /
        col("exact_tuples") <= 0.05)
      .select(col("exact_tuples"))
  }

  /** Incremental tag-value delivery: each distinct value emits with the
    * seq of the FIRST replay group containing it — the oracle recomputes
    * every value's first group from its min event day, so a wrong
    * replay order, a missed group, or a broken coordinator dedup all
    * hash-mismatch (exact values, no estimator gating needed). */
  def ast_incremental_tags(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseBaseExpr(
      """{"id": "a", "dataset": "logs",
        |  "filter": {"k": "props", "op": "exists"}}""".stripMargin)
    val (tsLo, tsHi) = eventsTsBounds(s, dir)
    val span = graft.engine.ReplaySequencer.SegmentSpan("events",
      tsLo / 1000000L, tsHi / 1000000L + 1)
    val rows = QueryEngine.tagValuesIncremental(eventsTel(s, dir), ast,
        "event_type", START, END, DAY, Seq(span), minGroupSize = 4)
      .flatMap { case (seq, vs) => vs.map(v => (seq.toLong, v)) }.toList
    import s.implicits._
    rows.toDF("seq", "tag_value").orderBy("seq", "tag_value")
  }

  /** Incremental exemplar delivery: each group's exemplar frame tagged
    * with its seq; the filter is selective enough that no group hits the
    * limit, so the oracle assigns every matching event its group by day
    * arithmetic — completing the incremental family (chart forward +
    * reverse, cardinality, tags, exemplars: every result kind the
    * reference streams per replay group). */
  def ast_incremental_exemplars(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseBaseExpr(
      """{"id": "a", "dataset": "logs", "order": "DESC", "limit": 100000,
        |  "filter": {"op": "and",
        |    "q1": {"k": "value", "v": ["198"], "op": "gt", "dataType": "number"},
        |    "q2": {"k": "event_type", "v": ["purchase"], "op": "eq"}}
        |}""".stripMargin)
    val (tsLo, tsHi) = eventsTsBounds(s, dir)
    val span = graft.engine.ReplaySequencer.SegmentSpan("events",
      tsLo / 1000000L, tsHi / 1000000L + 1)
    QueryEngine.exemplarsIncremental(eventsTel(s, dir), ast,
        START, END, DAY, Seq(span), minGroupSize = 4)
      .map { case (seq, df) =>
        df.select(lit(seq).cast("long").as("seq"), col("event_id"),
          col("event_type"), col("value"))
      }.reduce(_ unionByName _)
      .orderBy("seq", "event_id")
  }

  // Multiwindow burn rate (the SRE alerting primitive, beyond the
  // reference): flag hours where the error ratio exceeds the threshold
  // in BOTH the short (1 h) and long (trailing 6 h) windows — the
  // standard fast-burn page that ignores blips. Integer counts make
  // every ratio and comparison an identical IEEE chain on both engines;
  // the long window is a RANGE frame over the hourly series (tiny,
  // post-aggregation), not a rescan.
  def ast_burn_rate(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.load(s, dir, "events")
      .groupBy((expr("ts div 1000000") - expr("ts div 1000000") % 3600000L)
        .as("hour_ts"))
      .agg(count(when(col("event_type") === "error", 1)).as("err"),
        count(lit(1)).as("total"))
    val w6 = org.apache.spark.sql.expressions.Window
      .orderBy(col("hour_ts")).rangeBetween(-5L * 3600000L, 0)
    hourly
      .withColumn("short_ratio",
        col("err").cast("double") / col("total"))
      .withColumn("long_ratio",
        sum(col("err")).over(w6).cast("double") / sum(col("total")).over(w6))
      .where(col("short_ratio") > 0.21 && col("long_ratio") > 0.21)
      .select(col("hour_ts"), col("err"), col("total"),
        col("short_ratio"), col("long_ratio"))
      .orderBy("hour_ts")
  }

  // Z-score anomaly flags (beyond the reference): points more than 2σ
  // from their series' window mean. Counts are exact integers, so the
  // integer sums (Σv, Σv², n) are identical on both engines and μ, σ,
  // and the 2σ test are each a short chain of identical IEEE ops —
  // deterministic anomaly DECISIONS, no tolerance. One window over the
  // post-aggregation series (tiny), no second scan.
  def ast_anomaly_bands(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "props", "op": "exists"},
        |  "chart": {"aggregation": "count", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    val chart = QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
    val vl = col("value").cast("long")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
    chart
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_s", sum(vl).over(w))
      .withColumn("_ss", sum(vl * vl).over(w))
      .withColumn("mu", col("_s").cast("double") / col("_n"))
      .withColumn("sigma", sqrt(
        col("_ss").cast("double") / col("_n") - col("mu") * col("mu")))
      .where(abs(col("value") - col("mu")) > lit(2.0) * col("sigma"))
      .select(col("step_ts"), col("group_key"), col("value"),
        col("mu"), col("sigma"))
      .orderBy("step_ts", "group_key")
  }

  // Week-over-week ratio (beyond the reference): per-series daily
  // counts joined against the same series 7 days earlier. Counts are
  // exact integers in double, so the ratio is one identical IEEE
  // division on both engines — no rounding tolerance.
  def ast_wow_ratio(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "props", "op": "exists"},
        |  "chart": {"aggregation": "count", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    val chart = QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
    QueryEngine.periodOverPeriod(chart, 7 * DAY)
      .select(col("step_ts"), col("group_key"), col("value"),
        col("prev_value"), col("ratio"))
      .orderBy("step_ts", "group_key")
  }

  // Top-N series (beyond the reference): rank the 150 per-user series
  // by total count — exact integers in double, so the cut and the
  // (total desc, label) tie-break are engine-identical — and keep only
  // the top 5 series' rows. r15 shape: totals + each label's rows
  // collect in ONE aggregation pass, labels rank via dense_rank whose
  // `<= n` filter compiles to a WindowGroupLimit pair (PlanShapeSpec
  // pins one scan + bounded rank).
  def ast_top_series(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "props", "op": "exists"},
        |  "chart": {"aggregation": "count", "groupBys": ["user_id"]}
        |}}}""".stripMargin)
    val chart = QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
    QueryEngine.topSeries(chart, 5)
      .select(col("step_ts"), col("group_key"), col("value"))
      .orderBy("step_ts", "group_key")
  }

  // Top-N + "__other__" rollup (beyond the reference): the top-3
  // per-user series keep their rows and the remaining users collapse
  // into one residual series per day, conserving each step's total.
  // Counts are exact integers in double, so the cut, the tie-break and
  // the residual sums are engine-identical.
  def ast_top_series_other(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "props", "op": "exists"},
        |  "chart": {"aggregation": "count", "groupBys": ["user_id"]}
        |}}}""".stripMargin)
    val chart = QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
    QueryEngine.topSeriesOther(chart, 3)
      .select(col("step_ts"), col("label"), col("value"))
      .orderBy("step_ts", "label")
  }

  // Latency heatmap (beyond the reference): datapoint counts on a
  // (day × value-bucket) grid under a filter — the 2-D density the
  // reference's DDSketch percentiles summarize to one line. Buckets are
  // floor(value / 25): one identical IEEE division + floor on both
  // engines, no tolerance band.
  def ast_heatmap(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "event_type", "v": ["click", "error"], "op": "in"}
        |}}}""".stripMargin)
    val e = ast.baseExpressions("a")
    QueryEngine.heatmap(eventsTel(s, dir), e, START, END, DAY, 25.0)
      .orderBy("step_ts", "bucket")
  }

  // U1 cross-DATASET formula: errors-per-datapoint = a logs count over
  // a metrics rollup-count, the mixed dashboard every observability UI
  // serves. The two operands resolve to DIFFERENT telemetry frames
  // through the tables function (raw events vs the minute-rollup
  // segment table); shared-scan bucketing keeps one scan per dataset
  // and J1 alignment inner-joins the per-day series. Both operands are
  // exact integers, so the ratio is one identical IEEE division.
  def ast_cross_dataset_formula(s: SparkSession, dir: String): DataFrame = {
    val logsTel = eventsTel(s, dir)
    val metricsTel = Telemetry.millis(
      s.read.parquet(metricsDir(s, dir)), "ts", valueCol = col("rollup_sum"))
    val tables: String => Telemetry = {
      case "metrics" => metricsTel
      case _ => logsTel
    }
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {
        |  "a": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["error"], "op": "eq"},
        |        "chart": {"aggregation": "count", "groupBys": []}},
        |  "b": {"dataset": "metrics", "returnResults": false,
        |        "filter": {"k": "event_type", "op": "exists"},
        |        "chart": {"aggregation": "count", "groupBys": []}}},
        | "formulae": ["a / b"]}""".stripMargin)
    QueryEngine.evaluate(tables, ast, START, END, DAY)
      .select(col("step_ts"), round(col("value"), 6).as("value"))
      .orderBy("step_ts")
  }

  // E1 with DERIVED field names: the reference accepts an extractor with
  // no fields list and derives names from the regex's NAMED capture
  // groups (RegexpStage.scala:27-40) — a reference user's query runs
  // unchanged here, including the RE2 `(?P<name>` spelling (normalized
  // to Java's `(?<name>` at parse time). Grouping by the derived field
  // exercises the synthetic-field grouping path end to end.
  def ast_extract_named(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "props", "op": "exists"},
        |  "extract": {"regex": "\"k\":\\s*(?P<kv>\\d+)"},
        |  "chart": {"aggregation": "count", "groupBys": ["kv"]}
        |}}}""".stripMargin)
    QueryEngine.evaluate(tables(s, dir), ast, START, END, DAY)
      .select(col("step_ts"), col("group_key"), col("value"))
      .orderBy("step_ts", "group_key")
  }

  /** Cardinality attribution per tag, oracle-gated the ast_cardinality
    * way: every per-tag HLL estimate must land within 5% of its exact
    * distinct count; the hash-checked output is the exact table, so
    * estimator drift fails the oracle rather than passing rows-only. */
  def ast_cardinality_by_tag(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseBaseExpr(
      """{"id": "a", "dataset": "logs",
        |  "filter": {"k": "props", "op": "exists"}}""".stripMargin)
    val est = QueryEngine.cardinalityByTag(eventsTel(s, dir), ast,
      Seq("event_type", "user_id"), START, END)
    val ev = Tables.load(s, dir, "events").where(col("props").isNotNull)
    val exact = ev.agg(
        countDistinct(col("event_type")).as("_e"),
        countDistinct(col("user_id")).as("_u"))
      .select(explode(map(
        lit("event_type"), col("_e"), lit("user_id"), col("_u")))
        .as(Seq("tag", "n_exact")))
    est.join(exact, "tag")
      .where(abs(col("n_values") - col("n_exact")) / col("n_exact") <= 0.05)
      .select(col("tag"), col("n_exact"))
      .orderBy("tag")
  }

  /** The reference's running-cardinality stream
    * (QueryEngineV2.computeCardinality): per replay group the estimate
    * converges as group sketches union into the coordinator state.
    * Oracle-gated like ast_cardinality: every per-group running
    * estimate must land within 5% of the exact running distinct count
    * over the SAME prefix of replay groups, and the hash-checked output
    * is the exact prefix table — so both estimator drift AND a wrong
    * replay prefix (groups skipped, mis-ordered, double-counted)
    * hash-mismatch. */
  def ast_incremental_cardinality(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val ast = AstJson.parseBaseExpr(
      """{"id": "a", "dataset": "logs",
        |  "filter": {"k": "props", "op": "exists"}}""".stripMargin)
    val (tsLo, tsHi) = eventsTsBounds(s, dir)
    val (loMs, hiMs) = (tsLo / 1000000L, tsHi / 1000000L)
    val span = graft.engine.ReplaySequencer.SegmentSpan("events",
      loMs, hiMs + 1)
    val ests = QueryEngine.cardinalityIncremental(eventsTel(s, dir), ast,
      Seq("event_type", "user_id"), START, END, DAY, Seq(span),
      minGroupSize = 4).toList
    import s.implicits._
    val estDf = ests.map { case (k, v) => (k.toLong, v) }.toDF("seq", "est")
    val day0 = loMs / 86400000L
    // Exact running distinct count per replay prefix. A tuple is in
    // prefix `seq` iff it occurs on ANY day < (seq+1)·4, i.e. iff its
    // FIRST day does — so aggregate each tuple to its first-seen day
    // once, histogram those, and prefix-sum the histogram over the
    // (tiny) seq grid. The r14 spelling joined every event row to every
    // later seq (a broadcast-nested-loop fan-out of ~|rows|·seqs/2) and
    // ran countDistinct per prefix, holding each tuple in ~seqs/2
    // distinct buffers; this computes the identical n_exact with one
    // distinct-sized aggregation and a days×seqs nested loop.
    val firstSeen = ev.where(col("props").isNotNull)
      .select((floor(expr("ts div 1000000") / 86400000L) - day0).as("d"),
        concat_ws(":", col("event_type"), col("user_id")).as("t"))
      .groupBy(col("t")).agg(min(col("d")).as("fd"))
      .groupBy(col("fd")).agg(count(lit(1)).as("c"))
    val prefixes = firstSeen
      .join(s.range(ests.size).toDF("seq"), col("fd") < (col("seq") + 1) * 4)
      .groupBy("seq").agg(sum(col("c")).as("n_exact"))
    estDf.join(prefixes, "seq")
      .where(abs(col("est") - col("n_exact")) / col("n_exact") <= 0.05)
      .select(col("seq"), col("n_exact"))
      .orderBy("seq")
  }

  /** Incremental (SSE-style) delivery end-to-end: sealed events (before
    * 2024-01-25) replay through [[graft.engine.ReplaySequencer]] in
    * day-interval groups merged 4 intervals at a time (the reference's
    * executionGroupSize), the live/unsealed tail emits LAST — and the
    * ordered concatenation of every batch is EXACTLY the batch chart
    * (each batch is the same AST over the group's time range; groups
    * tile the window on step boundaries, so no bucket straddles two
    * batches). The oracle recomputes each row's (emit_seq, sealed)
    * assignment from the day grid alone: sealed rows land in group
    * (day − day0) / 4, live rows in the one group after the last sealed
    * group — so a sequencing bug (wrong group bounds, a bucket split
    * across batches, live rows interleaved) hash-mismatches even though
    * every VALUE is the plain chart sum. */
  def ast_incremental_chart(s: SparkSession, dir: String): DataFrame = {
    val cutMs = 1706140800000L // 2024-01-25T00:00:00Z, a step boundary
    val ev = Tables.load(s, dir, "events")
    val sealedDf = ev.where(col("ts") < cutMs * 1000000L)
    val liveDf = ev.where(col("ts") >= cutMs * 1000000L)
    def tel(df: org.apache.spark.sql.DataFrame): Telemetry =
      Telemetry.nanos(df, "ts", valueCol = col("value"),
        message = Some(col("props")))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "event_type", "v": ["click", "view"], "op": "in"},
        |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    // the sealed segment's span, from metadata (the reference's PG
    // manifest lookup) — one one-row aggregate, planning-time only
    val b = sealedDf.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .head()
    val span = graft.engine.ReplaySequencer.SegmentSpan("events-sealed",
      b.getLong(0) / 1000000L, b.getLong(1) / 1000000L + 1)
    val batches = QueryEngine.evaluateIncremental(
      _ => tel(sealedDf), ast, START, END, DAY, Seq(span),
      minGroupSize = 4, liveTables = Some(_ => tel(liveDf)))
    batches.map { rb =>
      rb.df.select(col(QueryEngine.REPLAY_SEQ).cast("long").as("emit_seq"),
        lit(rb.sealedBatch).as("sealed"), col("step_ts"),
        col("group_key"), round(col("value"), 6).as("value"))
    }.reduce(_ unionByName _)
      .orderBy("emit_seq", "step_ts", "group_key")
  }

  /** Reverse (newest-first) incremental delivery — the log-tail view:
    * `checkShouldReverseSort` queries replay groups newest-endTs-first
    * so the first SSE batch is the most recent data
    * (QueryEngineV2.scala:561, SequencingStrategy.scala:62-64). Same
    * construction as [[ast_incremental_chart]] but reverse = true over
    * the whole table (no live tail): group k holds day intervals
    * [dmax−4k−3, dmax−4k], so the oracle recomputes emit_seq as
    * (dmax − day)/4 — a wrong replay direction renumbers every batch
    * and hash-mismatches. */
  def ast_incremental_reverse(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "event_type", "v": ["click", "view"], "op": "in"},
        |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    val tel = Telemetry.nanos(ev, "ts", valueCol = col("value"),
      message = Some(col("props")))
    val (tsLo, tsHi) = eventsTsBounds(s, dir)
    val span = graft.engine.ReplaySequencer.SegmentSpan("events",
      tsLo / 1000000L, tsHi / 1000000L + 1)
    QueryEngine.evaluateIncremental(_ => tel, ast, START, END, DAY,
        Seq(span), minGroupSize = 4, reverse = true)
      .map { rb =>
        rb.df.select(col(QueryEngine.REPLAY_SEQ).cast("long").as("emit_seq"),
          col("step_ts"), col("group_key"), round(col("value"), 6).as("value"))
      }.reduce(_ unionByName _)
      .orderBy("emit_seq", "step_ts", "group_key")
  }

  /** Incremental delivery × FORMULAS: a `a / b` ratio AST replayed in
    * day-interval groups (minGroupSize 4, the reference's
    * executionGroupSize). [[QueryEngine.evaluateIncremental]] runs the
    * full formula evaluation once per replay WAVE and tags every bucket
    * with its group, so this pins that formula semantics tile across
    * group (and wave) boundaries: groups end on step
    * boundaries, every formula join key (step_ts) lives entirely inside
    * one group, and the ordered concatenation of the batches equals the
    * batch formula (reference: Formula.scala:32-69 applies the operation
    * per SSE-delivered point stream, SequencingStrategy.scala:35-66
    * orders the groups — the division happens per replayed group there
    * too).
    *
    * The div-by-zero-drop case is FORCED onto a group boundary: 'view'
    * values on day day0+4 — the FIRST bucket of replay group 1 — are
    * zeroed at the source, so that bucket's denominator sum is 0.0 and
    * the formula must DROP it (reference drops the point rather than
    * emitting Inf, Formula.scala:60-64). The oracle recomputes the same
    * grid: emit_seq = (day − day0)/4, the zeroed bucket filtered by
    * b.v != 0 — a group-boundary bug (bucket straddling two groups,
    * off-by-one group bounds, Inf leaking instead of a drop)
    * hash-mismatches. */
  def ast_incremental_formula(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val (tsLo, tsHi) = eventsTsBounds(s, dir)
    val (loMs, hiMs) = (tsLo / 1000000L, tsHi / 1000000L)
    val day0 = loMs / 86400000L
    // first day interval of replay group 1 (grid fact, planning-time)
    val boundaryDay = day0 + 4
    val zeroed = ev.withColumn("value",
      when(col("event_type") === "view" &&
          floor(expr("ts div 1000000") / 86400000L) === boundaryDay,
        lit(0.0)).otherwise(col("value")))
    val tel = Telemetry.nanos(zeroed, "ts", valueCol = col("value"),
      message = Some(col("props")))
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {
        |  "a": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["click"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}},
        |  "b": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["view"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}}
        |}, "formulae": ["a / b"]}""".stripMargin)
    val span = graft.engine.ReplaySequencer.SegmentSpan("events",
      loMs, hiMs + 1)
    QueryEngine.evaluateIncremental(_ => tel, ast, START, END, DAY,
        Seq(span), minGroupSize = 4)
      .map { rb =>
        rb.df.select(col(QueryEngine.REPLAY_SEQ).cast("long").as("emit_seq"),
          col("step_ts"), round(col("value"), 6).as("value"))
      }.reduce(_ unionByName _)
      .orderBy("emit_seq", "step_ts")
  }

  /** GET /api/v1/scopeTags: the fixed infra scope dimensions, pinned as
    * a VALUES oracle the way ast_function_specs pins the function
    * registry — renaming or dropping a scope dimension breaks the same
    * contract a dashboard holds the reference to. */
  def ast_scope_tags(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      QueryEngine.scopeTags.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType, nullable = false))))
      .orderBy("tag")
  }

  /** GET /api/v1/metricMetadata: distinct (metricName, metricType)
    * catalog over the metrics telemetry, type defaulting to "gauge" —
    * the reference's PG exemplar-store query re-expressed as a
    * distinct-aggregate over the data itself. */
  def ast_metric_metadata(s: SparkSession, dir: String): DataFrame =
    QueryEngine.metricMetadata(eventsTel(s, dir), "event_type")

  /** The reference's GET /api/v1/functionSpecs: the custom-function
    * registry dumped as rows (reference QueryApi.scala:356-360 over
    * ComputeFunction.getSpecs). Here the registry is
    * [[graft.plans.GraftExtensions.functions]]; the oracle pins the
    * EXACT published surface as a VALUES list, so dropping or renaming
    * a SQL-registered function fails the correctness gate — the same
    * contract an API consumer holds the reference to. */
  def ast_function_specs(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      graft.plans.GraftExtensions.functions.map(_._1).sorted
        .map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType, nullable = false))))
      .orderBy("name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ast_incremental_chart" -> ast_incremental_chart _,
    "ast_incremental_reverse" -> ast_incremental_reverse _,
    "ast_incremental_formula" -> ast_incremental_formula _,
    "ast_scope_tags" -> ast_scope_tags _,
    "ast_metric_metadata" -> ast_metric_metadata _,
    "ast_function_specs" -> ast_function_specs _,
    "ast_chart_sum" -> ast_chart_sum _,
    "ast_formula_ratio" -> ast_formula_ratio _,
    "ast_extract_compute" -> ast_extract_compute _,
    "ast_missing_column" -> ast_missing_column _,
    "ast_chart_p90" -> ast_chart_p90 _,
    "ast_chart_avg" -> ast_chart_avg _,
    "ast_multi_series" -> ast_multi_series _,
    "ast_metrics_rollup" -> ast_metrics_rollup _,
    "ast_metrics_cascade" -> ast_metrics_cascade _,
    "ast_metrics_count" -> ast_metrics_count _,
    "ast_metrics_avg" -> ast_metrics_avg _,
    "ast_metrics_minmax" -> ast_metrics_minmax _,
    "ast_metrics_rollup_avg" -> ast_metrics_rollup_avg _,
    "ast_metrics_p90_rollup" -> ast_metrics_p90_rollup _,
    "ast_metrics_p90_sketch" -> ast_metrics_p90_sketch _,
    "ast_metrics_ces_sketch" -> ast_metrics_ces_sketch _,
    "ast_duration_filter" -> ast_duration_filter _,
    "ast_chart_minmax" -> ast_chart_minmax _,
    "ast_exemplars" -> ast_exemplars _,
    "ast_chart_with_exemplars" -> ast_chart_with_exemplars _,
    "ast_exemplars_metrics" -> ast_exemplars_metrics _,
    "ast_formula_avg_operand" -> ast_formula_avg_operand _,
    "ast_metrics_formula_ratio" -> ast_metrics_formula_ratio _,
    "ast_relative_time" -> ast_relative_time _,
    "ast_tag_values" -> ast_tag_values _,
    "ast_tag_names" -> ast_tag_names _,
    "ast_cardinality" -> ast_cardinality _,
    "ast_cardinality_by_tag" -> ast_cardinality_by_tag _,
    "ast_extract_named" -> ast_extract_named _,
    "ast_cross_dataset_formula" -> ast_cross_dataset_formula _,
    "ast_top_series" -> ast_top_series _,
    "ast_top_series_other" -> ast_top_series_other _,
    "ast_heatmap" -> ast_heatmap _,
    "ast_wow_ratio" -> ast_wow_ratio _,
    "ast_anomaly_bands" -> ast_anomaly_bands _,
    "ast_burn_rate" -> ast_burn_rate _,
    "ast_incremental_tags" -> ast_incremental_tags _,
    "ast_incremental_exemplars" -> ast_incremental_exemplars _,
    "ast_incremental_cardinality" -> ast_incremental_cardinality _
  )

  val oracleSql: Map[String, String] = Map(
    // incremental delivery: every row's replay-group assignment is
    // recomputed from the day grid (sealed day d -> group (d-day0)/4,
    // live rows -> one group past the last sealed group); all operands
    // of the integer divisions are non-negative, so trunc == floor on
    // both engines
    "ast_incremental_chart" ->
      """WITH e AS (
        |  SELECT epoch_ms(ts) AS ms, event_type, value FROM events),
        |b AS (
        |  SELECT min(ms) // 86400000 AS day0, max(ms) // 86400000 AS dmax
        |  FROM e WHERE ms < 1706140800000),
        |g AS (
        |  SELECT (ms // 86400000) * 86400000 AS step_ts,
        |    CASE WHEN ms < 1706140800000
        |      THEN ((ms // 86400000) - b.day0) // 4
        |      ELSE ((b.dmax - b.day0) // 4) + 1 END AS emit_seq,
        |    ms < 1706140800000 AS sealed, event_type, value
        |  FROM e, b WHERE event_type IN ('click', 'view'))
        |SELECT CAST(emit_seq AS BIGINT) AS emit_seq, sealed, step_ts,
        |  event_type AS group_key, round(sum(value), 6) AS value
        |FROM g GROUP BY 1, 2, 3, 4
        |ORDER BY emit_seq, step_ts, group_key""".stripMargin,
    // incremental formula: per-day a/b ratio with emit_seq recomputed
    // from the day grid; the 'view' sum on day0+4 (group 1's first
    // bucket) is zeroed at the source, so that step must DROP (b.v != 0
    // mirrors the engine's div-by-zero-drop). Non-negative operands ⇒
    // trunc == floor on both engines.
    "ast_incremental_formula" ->
      """WITH e AS (
        |  SELECT epoch_ms(ts) AS ms, event_type, value FROM events),
        |b0 AS (SELECT min(ms) // 86400000 AS day0 FROM e),
        |g AS (
        |  SELECT (ms // 86400000) * 86400000 AS step_ts,
        |    ((ms // 86400000) - b0.day0) // 4 AS emit_seq, event_type,
        |    CASE WHEN event_type = 'view'
        |        AND (ms // 86400000) - b0.day0 = 4
        |      THEN 0.0 ELSE value END AS value
        |  FROM e, b0),
        |a AS (SELECT step_ts, emit_seq, sum(value) AS v FROM g
        |      WHERE event_type = 'click' GROUP BY 1, 2),
        |b AS (SELECT step_ts, emit_seq, sum(value) AS v FROM g
        |      WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT CAST(emit_seq AS BIGINT) AS emit_seq, step_ts,
        |  round(a.v / b.v, 6) AS value
        |FROM a JOIN b USING (step_ts, emit_seq) WHERE b.v != 0.0
        |ORDER BY emit_seq, step_ts""".stripMargin,
    // reverse replay: emit_seq = (dmax - day)/4, newest group first;
    // non-negative operands ⇒ trunc == floor on both engines
    "ast_incremental_reverse" ->
      """WITH e AS (
        |  SELECT epoch_ms(ts) AS ms, event_type, value FROM events),
        |b AS (SELECT max(ms) // 86400000 AS dmax FROM e),
        |g AS (
        |  SELECT (ms // 86400000) * 86400000 AS step_ts,
        |    (b.dmax - (ms // 86400000)) // 4 AS emit_seq, event_type, value
        |  FROM e, b WHERE event_type IN ('click', 'view'))
        |SELECT CAST(emit_seq AS BIGINT) AS emit_seq, step_ts,
        |  event_type AS group_key, round(sum(value), 6) AS value
        |FROM g GROUP BY 1, 2, 3
        |ORDER BY emit_seq, step_ts, group_key""".stripMargin,
    "ast_scope_tags" ->
      """SELECT * FROM (VALUES
        |  ('resource.file'), ('resource.k8s.namespace.name'),
        |  ('resource.service.name')) AS t(tag)
        |ORDER BY tag""".stripMargin,
    "ast_metric_metadata" ->
      """SELECT DISTINCT event_type AS metric_name, 'gauge' AS metric_type
        |FROM events WHERE event_type IS NOT NULL
        |ORDER BY metric_name, metric_type""".stripMargin,
    // the published SQL-function surface, pinned name by name
    "ast_function_specs" ->
      """SELECT * FROM (VALUES
        |  ('ddsketch'), ('ddsketch_quantile'), ('ddsketch_quantile_of'),
        |  ('hll_estimate'), ('hll_estimate_of'), ('hll_sketch'),
        |  ('graft_byte_entropy'), ('graft_char_ngrams'), ('graft_cosine'),
        |  ('graft_dd_from_proto'), ('graft_dd_proto'), ('graft_dd_proto_merge'),
        |  ('graft_dd_proto_quantile'), ('graft_dd_proto_stat'),
        |  ('graft_dd_to_proto'), ('graft_dot'), ('graft_hll_compat'),
        |  ('graft_hll_compat_estimate'), ('graft_hll_compat_union'),
        |  ('graft_int8_cosine'), ('graft_int8_quantize'), ('graft_minhash'),
        |  ('graft_regex_extract_struct'), ('graft_rolling_hash_windows'),
        |  ('graft_simhash'), ('graft_theta'),
        |  ('graft_theta_diff'), ('graft_theta_estimate'),
        |  ('graft_theta_intersect'), ('graft_theta_union'),
        |  ('graft_word_shingles'), ('graft_xml_extract_struct')) AS t(name)
        |ORDER BY name""".stripMargin,
    "ast_chart_sum" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS step_ts,
        |  event_type AS group_key, round(sum(value), 6) AS value
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY step_ts, group_key ORDER BY step_ts, group_key""".stripMargin,
    "ast_formula_ratio" ->
      """WITH a AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |         sum(value) AS v FROM events
        |  WHERE event_type = 'click' GROUP BY step_ts),
        |b AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |         sum(value) AS v FROM events
        |  WHERE event_type = 'view' GROUP BY step_ts)
        |SELECT a.step_ts AS step_ts, round(a.v / b.v, 6) AS value
        |FROM a JOIN b USING (step_ts) WHERE b.v != 0.0
        |ORDER BY step_ts""".stripMargin,
    "ast_extract_compute" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, sum(k2) AS value
        |FROM (
        |  SELECT ts, event_type,
        |    TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS DOUBLE) * 0.5 AS k2,
        |    TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS DOUBLE) AS k
        |  FROM events WHERE regexp_matches(props, '"k":\s*(\d+)'))
        |WHERE event_type != 'view' AND k > 10.0 AND k2 IS NOT NULL
        |GROUP BY step_ts, group_key ORDER BY step_ts, group_key""".stripMargin,
    "ast_missing_column" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, CAST(count(*) AS DOUBLE) AS value
        |FROM events WHERE (false OR event_type = 'click')
        |GROUP BY step_ts, group_key ORDER BY step_ts, group_key""".stripMargin,
    "ast_chart_p90" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key,
        |  round(quantile_cont(value, 0.9), 4) AS value
        |FROM events WHERE value > 0.0
        |GROUP BY step_ts, group_key ORDER BY step_ts, group_key""".stripMargin,
    "ast_multi_series" ->
      """WITH a AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |         CAST(count(*) AS DOUBLE) AS v FROM events
        |  WHERE event_type = 'click' GROUP BY step_ts),
        |b AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |         CAST(count(*) AS DOUBLE) AS v FROM events
        |  WHERE event_type = 'view' GROUP BY step_ts)
        |SELECT step_ts, label, value FROM (
        |  SELECT COALESCE(a.step_ts, b.step_ts) AS step_ts, 'a + b' AS label,
        |    round(COALESCE(a.v, 0) + COALESCE(b.v, 0), 6) AS value
        |  FROM a FULL OUTER JOIN b ON a.step_ts = b.step_ts
        |  UNION ALL
        |  SELECT step_ts, 'event_type = click', round(v, 6) FROM a
        |  UNION ALL
        |  SELECT step_ts, 'event_type = view', round(v, 6) FROM b)
        |ORDER BY step_ts, label""".stripMargin,
    "ast_duration_filter" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, CAST(count(*) AS DOUBLE) AS value
        |FROM events WHERE value > 150.0
        |GROUP BY step_ts, group_key ORDER BY step_ts, group_key""".stripMargin,
    "ast_chart_minmax" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY step_ts, group_key
        |ORDER BY step_ts, group_key""".stripMargin,
    "ast_chart_avg" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
        |    / count(value), 6) AS value
        |FROM events WHERE event_type = 'click'
        |GROUP BY step_ts, group_key ORDER BY step_ts, group_key""".stripMargin,
    "ast_metrics_cascade" ->
      """WITH m AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS mts, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ms
        |  FROM events GROUP BY 1, 2),
        |h AS (
        |  SELECT (mts // 3600000) * 3600000 AS hts, event_type,
        |    CAST(sum(CAST(ms AS DECIMAL(18,2))) AS DOUBLE) AS hs
        |  FROM m GROUP BY 1, 2)
        |SELECT (hts // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, round(sum(hs), 6) AS value
        |FROM h GROUP BY 1, 2
        |ORDER BY step_ts, group_key""".stripMargin,
    "ast_metrics_rollup" ->
      """WITH rollup AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS mts, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rollup_sum
        |  FROM events GROUP BY mts, event_type)
        |SELECT (mts // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, round(sum(rollup_sum), 6) AS value
        |FROM rollup GROUP BY step_ts, group_key
        |ORDER BY step_ts, group_key""".stripMargin,
    "ast_metrics_count" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, CAST(count(*) AS DOUBLE) AS value
        |FROM events GROUP BY step_ts, group_key
        |ORDER BY step_ts, group_key""".stripMargin,
    "ast_metrics_avg" ->
      """WITH rollup AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS mts, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rollup_sum,
        |    CAST(count(*) AS DOUBLE) AS rollup_count
        |  FROM events GROUP BY mts, event_type)
        |SELECT (mts // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key,
        |  round(CAST(sum(CAST(rollup_sum AS DECIMAL(28,10))) AS DOUBLE)
        |    / sum(rollup_count), 6) AS value
        |FROM rollup GROUP BY step_ts, group_key
        |ORDER BY step_ts, group_key""".stripMargin,
    "ast_metrics_minmax" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY step_ts, group_key
        |ORDER BY step_ts, group_key""".stripMargin,
    "ast_metrics_rollup_avg" ->
      """WITH rollup AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS mts, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS rollup_avg
        |  FROM events GROUP BY mts, event_type)
        |SELECT (mts // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, round(max(rollup_avg), 6) AS value
        |FROM rollup GROUP BY step_ts, group_key
        |ORDER BY step_ts, group_key""".stripMargin,
    "ast_metrics_p90_rollup" ->
      """WITH rollup AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS mts, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rollup_sum
        |  FROM events GROUP BY mts, event_type)
        |SELECT (mts // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, round(max(rollup_sum), 6) AS value
        |FROM rollup GROUP BY step_ts, group_key
        |ORDER BY step_ts, group_key""".stripMargin,
    "ast_metrics_p90_sketch" ->
      """SELECT DISTINCT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key
        |FROM events ORDER BY step_ts, group_key""".stripMargin,
    "ast_metrics_ces_sketch" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key,
        |  count(DISTINCT user_id) AS exact_users
        |FROM events GROUP BY 1, 2 ORDER BY step_ts, group_key""".stripMargin,
    "ast_exemplars" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE value > 198.0 AND event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "ast_chart_with_exemplars" ->
      """SELECT * FROM (
        |  SELECT 'chart' AS kind,
        |    (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |    event_type AS label, round(CAST(count(*) AS DOUBLE), 6) AS value,
        |    CAST(NULL AS BIGINT) AS event_id
        |  FROM events WHERE value > 198.0 AND event_type = 'purchase'
        |  GROUP BY step_ts, label
        |  UNION ALL
        |  SELECT 'exemplar', epoch_ms(ts), event_type, value, event_id
        |  FROM events WHERE value > 198.0 AND event_type = 'purchase')
        |ORDER BY kind, step_ts, label, event_id""".stripMargin,
    "ast_relative_time" ->
      """SELECT (epoch_ms(ts) // 1200000) * 1200000 AS step_ts,
        |  event_type AS group_key, round(sum(value), 6) AS value
        |FROM events
        |WHERE epoch_ms(ts) >= 1706572800000 AND epoch_ms(ts) < 1706745600000
        |GROUP BY step_ts, group_key ORDER BY step_ts, group_key""".stripMargin,
    "ast_exemplars_metrics" ->
      """WITH rollup AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS mts, event_type
        |  FROM events GROUP BY mts, event_type)
        |SELECT mts AS ts, 'events.value' AS name, event_type FROM rollup
        |WHERE event_type = 'click' ORDER BY ts""".stripMargin,
    "ast_formula_avg_operand" ->
      """WITH a AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |    CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
        |      / count(value) AS v FROM events
        |  WHERE event_type = 'click' GROUP BY step_ts),
        |b AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |    CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
        |      / count(value) AS v FROM events
        |  WHERE event_type = 'view' GROUP BY step_ts)
        |SELECT a.step_ts AS step_ts, round(a.v / b.v, 6) AS value
        |FROM a JOIN b USING (step_ts) WHERE b.v != 0.0
        |ORDER BY step_ts""".stripMargin,
    "ast_metrics_formula_ratio" ->
      """WITH rollup AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS mts, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rollup_sum
        |  FROM events GROUP BY mts, event_type),
        |a AS (
        |  SELECT (mts // 86400000) * 86400000 AS step_ts,
        |    sum(rollup_sum) AS v FROM rollup
        |  WHERE event_type = 'purchase' GROUP BY step_ts),
        |b AS (
        |  SELECT (mts // 86400000) * 86400000 AS step_ts,
        |    sum(rollup_sum) AS v FROM rollup
        |  WHERE event_type IS NOT NULL GROUP BY step_ts)
        |SELECT a.step_ts AS step_ts, round(a.v / b.v, 6) AS value
        |FROM a JOIN b USING (step_ts) WHERE b.v != 0.0
        |ORDER BY step_ts""".stripMargin,
    "ast_tag_values" ->
      """SELECT event_type AS tagValue, count(*) AS count FROM events
        |WHERE value >= 100.0 AND event_type IS NOT NULL
        |GROUP BY tagValue ORDER BY count DESC, tagValue
        |LIMIT 1000""".stripMargin,
    "ast_tag_names" ->
      """WITH f AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT tagName FROM (
        |  SELECT 'event_id' AS tagName, count(event_id) AS n FROM f
        |  UNION ALL SELECT 'ts', count(ts) FROM f
        |  UNION ALL SELECT 'user_id', count(user_id) FROM f
        |  UNION ALL SELECT 'event_type', count(event_type) FROM f
        |  UNION ALL SELECT 'value', count(value) FROM f
        |  UNION ALL SELECT 'props', count(props) FROM f)
        |WHERE n > 0 ORDER BY tagName""".stripMargin,
    "ast_cardinality" ->
      """SELECT count(DISTINCT concat_ws(':', event_type, user_id))
        |  AS exact_tuples
        |FROM events WHERE props IS NOT NULL""".stripMargin,
    // incremental exemplars: every matching event lands in its day's
    // group (the selective filter keeps all groups under the limit)
    "ast_incremental_exemplars" ->
      """WITH b AS (
        |  SELECT min(epoch_ms(ts)) // 86400000 AS day0 FROM events)
        |SELECT CAST(((epoch_ms(ts) // 86400000) - b.day0) // 4 AS BIGINT)
        |    AS seq,
        |  event_id, event_type, value
        |FROM events, b
        |WHERE value > 198 AND event_type = 'purchase'
        |ORDER BY seq, event_id""".stripMargin,
    // incremental tags: a value's emission seq = the replay group of its
    // first event day
    "ast_incremental_tags" ->
      """WITH e AS (
        |  SELECT epoch_ms(ts) AS ms, event_type FROM events
        |  WHERE props IS NOT NULL),
        |b AS (
        |  SELECT min(epoch_ms(ts)) // 86400000 AS day0 FROM events)
        |SELECT CAST((min(e.ms // 86400000) - b.day0) // 4 AS BIGINT)
        |    AS seq,
        |  e.event_type AS tag_value
        |FROM e, b GROUP BY e.event_type, b.day0
        |ORDER BY seq, tag_value""".stripMargin,
    "ast_burn_rate" ->
      """WITH h AS (
        |  SELECT (epoch_ms(ts) // 3600000) * 3600000 AS hour_ts,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS err,
        |    CAST(count(*) AS BIGINT) AS total
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT hour_ts, err, total,
        |    CAST(err AS DOUBLE) / total AS short_ratio,
        |    CAST(sum(err) OVER w AS DOUBLE) / sum(total) OVER w
        |      AS long_ratio
        |  FROM h
        |  WINDOW w AS (ORDER BY hour_ts
        |    RANGE BETWEEN 18000000 PRECEDING AND CURRENT ROW))
        |SELECT * FROM r
        |WHERE short_ratio > 0.21 AND long_ratio > 0.21
        |ORDER BY hour_ts""".stripMargin,
    "ast_anomaly_bands" ->
      """WITH c AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |    event_type, CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE props IS NOT NULL GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
        |    CAST(sum(v * v) AS BIGINT) AS ss
        |  FROM c GROUP BY 1)
        |SELECT c.step_ts, c.event_type AS group_key,
        |  CAST(c.v AS DOUBLE) AS value,
        |  CAST(st.s AS DOUBLE) / st.n AS mu,
        |  sqrt(CAST(st.ss AS DOUBLE) / st.n
        |    - (CAST(st.s AS DOUBLE) / st.n) * (CAST(st.s AS DOUBLE) / st.n))
        |    AS sigma
        |FROM c JOIN st USING (event_type)
        |WHERE abs(CAST(c.v AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
        |  > 2.0 * sqrt(CAST(st.ss AS DOUBLE) / st.n
        |    - (CAST(st.s AS DOUBLE) / st.n) * (CAST(st.s AS DOUBLE) / st.n))
        |ORDER BY c.step_ts, group_key""".stripMargin,
    "ast_wow_ratio" ->
      """WITH c AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |    event_type, CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE props IS NOT NULL GROUP BY 1, 2)
        |SELECT c.step_ts, c.event_type AS group_key, c.v AS value,
        |  p.v AS prev_value, c.v / p.v AS ratio
        |FROM c JOIN c p
        |  ON c.step_ts = p.step_ts + 604800000
        | AND c.event_type = p.event_type
        |ORDER BY c.step_ts, group_key""".stripMargin,
    "ast_top_series" ->
      """WITH c AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |    CAST(user_id AS VARCHAR) AS label,
        |    CAST(count(*) AS DOUBLE) AS value
        |  FROM events WHERE props IS NOT NULL GROUP BY 1, 2),
        |t AS (
        |  SELECT label FROM (
        |    SELECT label, sum(value) AS tot FROM c GROUP BY label)
        |  ORDER BY tot DESC, label LIMIT 5)
        |SELECT c.step_ts, c.label AS group_key, c.value
        |FROM c JOIN t USING (label)
        |ORDER BY step_ts, group_key""".stripMargin,
    "ast_top_series_other" ->
      """WITH c AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |    CAST(user_id AS VARCHAR) AS label,
        |    CAST(count(*) AS DOUBLE) AS value
        |  FROM events WHERE props IS NOT NULL GROUP BY 1, 2),
        |t AS (
        |  SELECT label FROM (
        |    SELECT label, sum(value) AS tot FROM c GROUP BY label)
        |  ORDER BY tot DESC, label LIMIT 3)
        |SELECT step_ts, label, value FROM c JOIN t USING (label)
        |UNION ALL
        |SELECT step_ts, '__other__' AS label, sum(value) AS value
        |FROM c ANTI JOIN t USING (label) GROUP BY step_ts
        |ORDER BY step_ts, label""".stripMargin,
    "ast_heatmap" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  CAST(floor(value / 25.0) AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM events WHERE event_type IN ('click', 'error')
        |  AND value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY step_ts, bucket""".stripMargin,
    "ast_cross_dataset_formula" ->
      """WITH a AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |    count(*) AS v
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |b AS (
        |  SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |    count(*) AS v
        |  FROM events GROUP BY 1)
        |SELECT a.step_ts AS step_ts,
        |  round(CAST(a.v AS DOUBLE) / b.v, 6) AS value
        |FROM a JOIN b USING (step_ts)
        |ORDER BY step_ts""".stripMargin,
    "ast_extract_named" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  regexp_extract(props, '"k":\s*(\d+)', 1) AS group_key,
        |  CAST(count(*) AS DOUBLE) AS value
        |FROM events WHERE props IS NOT NULL
        |GROUP BY 1, 2 ORDER BY step_ts, group_key""".stripMargin,
    // running cardinality: exact distinct over each replay-group PREFIX
    // (group k covers days [day0, day0 + 4(k+1)) of the span)
    "ast_incremental_cardinality" ->
      """WITH e AS (
        |  SELECT epoch_ms(ts) AS ms, event_type, user_id, props
        |  FROM events),
        |b AS (
        |  SELECT min(ms) // 86400000 AS day0, max(ms) // 86400000 AS dmax
        |  FROM e),
        |ks AS (
        |  SELECT unnest(range(0,
        |    (SELECT (dmax - day0) // 4 + 1 FROM b))) AS seq)
        |SELECT ks.seq AS seq,
        |  count(DISTINCT concat_ws(':', e.event_type, e.user_id))
        |    AS n_exact
        |FROM ks, e, b
        |WHERE e.props IS NOT NULL
        |  AND e.ms // 86400000 - b.day0 < 4 * (ks.seq + 1)
        |GROUP BY ks.seq ORDER BY seq""".stripMargin,
    "ast_cardinality_by_tag" ->
      """SELECT 'event_type' AS tag,
        |  count(DISTINCT event_type) AS n_exact
        |FROM events WHERE props IS NOT NULL
        |UNION ALL
        |SELECT 'user_id' AS tag, count(DISTINCT user_id) AS n_exact
        |FROM events WHERE props IS NOT NULL
        |ORDER BY tag""".stripMargin
  )
}
