package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructType}
import graft.ast._
import graft.compile.{ComputeCompiler, FilterCompiler}

/** A queryable telemetry table: the DataFrame plus how to read time,
  * value, and the extraction-input message from it.
  *
  * @param tsMillis   epoch-millis Column (used for bucketing/projection)
  * @param tsRange    pushdown-friendly time-range predicate builder —
  *                   must express the bound on a *raw* column so it
  *                   reaches the parquet scan (e.g. nanos column compared
  *                   against `startMs * 1e6`), not on a derived expression
  * @param value      per-row value (metric sample; 1.0 for logs)
  * @param message    regex-extraction input column, if any
  */
final case class Telemetry(
    df: DataFrame,
    tsMillis: Column,
    tsRange: (Long, Long) => Column,
    value: Column,
    message: Option[Column]
) {
  def fieldSet: Set[String] = df.columns.toSet
}

object Telemetry {
  /** Table with an epoch-millis long/timestamp-free column named `tsCol`. */
  def millis(df: DataFrame, tsCol: String, valueCol: Column,
      message: Option[Column] = None): Telemetry =
    Telemetry(df, col(tsCol),
      (s, e) => col(tsCol) >= s && col(tsCol) < e, valueCol, message)

  /** Table with an epoch-nanos long column named `tsCol` (e.g. parquet
    * TIMESTAMP(NANOS) read via nanosAsLong). */
  def nanos(df: DataFrame, tsCol: String, valueCol: Column,
      message: Option[Column] = None): Telemetry =
    Telemetry(df, expr(s"$tsCol div 1000000"),
      (s, e) => col(tsCol) >= s * 1000000L && col(tsCol) < e * 1000000L,
      valueCol, message)
}

/** Compiles the query AST to DataFrame plans — the Spark equivalent of the
  * reference's worker SQL generation + coordinator merge
  * (reference BaseExpr.generateSql BaseExpr.scala:108-144, eval pipeline
  * QueryEngineV2.scala:211-417). One logical Spark job per BaseExpr:
  * scan → time+attribute filter → extract → compute → step-bucketed
  * group-agg; formulas join the per-expression series. Catalyst's
  * partial/final hash aggregation replaces the reference's
  * PushDownAggregatorStage + TimeGroupedSketchAggregator, and the shuffle
  * replaces its worker/coordinator SSE exchange.
  */
object QueryEngine {
  val STEP_TS = "step_ts"
  val VALUE = "value"
  val GROUP_KEY = "group_key"
  val LABEL = "label"

  /** Plan-construction options, scoped per thread (DynamicVariable):
    * a global mutable flag would race when two queries are BUILT
    * concurrently — one thread's finally-reset could strip the other's
    * mode mid-construction. Scoping covers plan construction only, which
    * is exactly when these are read (they select which Column expression
    * enters the plan).
    *
    * - exactPercentiles: p* aggregations use exact `percentile`
    *   (oracle-matchable) instead of `percentile_approx` (scale path).
    * - decimalAverages: avg accumulates the numerator in DECIMAL and
    *   divides once, bit-identical across engines/runs (oracle mode);
    *   default is native double avg — the scale path. Why it exists:
    *   averages of 2-decimal data tie at the round-6 boundary whenever
    *   the count divides the sum into an exact multiple of 5e-7, and a
    *   1-ulp summation-order difference then flips the rounded value. */
  private case class Flags(
      exactPercentiles: Boolean = false,
      decimalAverages: Boolean = false,
      noSharedScan: Boolean = false)
  private val flagScope = new scala.util.DynamicVariable(Flags())

  /** Build plans inside `body` with exact (oracle-mode) percentiles. */
  def withExactPercentiles[A](body: => A): A =
    flagScope.withValue(flagScope.value.copy(exactPercentiles = true))(body)

  /** Build plans inside `body` with decimal-accumulated averages. */
  def withDecimalAverages[A](body: => A): A =
    flagScope.withValue(flagScope.value.copy(decimalAverages = true))(body)

  /** Build plans inside `body` with the shared-scan multi-expression
    * rewrite disabled (per-node plans) — the A/B hook for equivalence
    * tests; production callers never need it. */
  def withoutSharedScan[A](body: => A): A =
    flagScope.withValue(flagScope.value.copy(noSharedScan = true))(body)

  private def exactPercentiles: Boolean = flagScope.value.exactPercentiles
  private def decimalAverages: Boolean = flagScope.value.decimalAverages
  private def sharedScanEnabled: Boolean = !flagScope.value.noSharedScan

  private def avgOf(t: Column): Column =
    if (decimalAverages)
      sum(t.cast("decimal(28,10)")).cast("double") / count(t)
    else avg(t)

  // -------------------------------------------------------------- base plan

  /** scan → ts filter → extract → compute → full filter tree.
    * Synthetic-field predicates land after the extraction/compute
    * projections (reference E10 ordering, BaseExpr.scala:146-157); Catalyst
    * pushes the non-synthetic conjuncts back down into the scan.
    */
  def prepared(tel: Telemetry, e: BaseExpr, startMs: Long, endMs: Long): DataFrame = {
    var df = tel.df.where(tel.tsRange(startMs, endMs))

    // E1: regex extraction — gate rows on match, project one column per
    // capture group (reference BaseExpr.scala:244-265,291-304). One
    // matcher pass per row via RegexExtractStruct (vs regexp_extract × N
    // fields, which re-runs the regex per field).
    e.extractor.foreach { ex =>
      val msg = tel.message.getOrElse(
        throw new IllegalArgumentException(
          s"baseExpr ${e.id} has an extractor but the table has no message column"))
      df = df.withColumn("_nlp",
          graft.functions.RegexExtractStruct(msg, ex.regex, ex.fields.map(_.name)))
        .where(col("_nlp").isNotNull)
      ex.fields.foreach { f =>
        val raw = col("_nlp").getField(f.name)
        val colV =
          if (f.dataType == DataTypes.NUMBER) raw.cast("double") else raw
        df = df.withColumn(f.name, colV)
      }
      df = df.drop("_nlp")
    }

    // E2: computed column
    e.compute.foreach { cp =>
      df = df.withColumn(cp.labelName, ComputeCompiler.compile(cp.functionCall))
    }

    // F1-F10 over the full tree; synthetic fields now exist
    df.where(FilterCompiler.compile(e.filter, df.columns.toSet))
  }

  // -------------------------------------------------------------- chart path

  private def stepTsCol(tsMillis: Column, stepMs: Long): Column =
    (floor(tsMillis / lit(stepMs)) * stepMs).as(STEP_TS)

  /** Post-agg count↔rate transform
    * (reference ASTUtils.getTransformerFunc:190-219). */
  private def transform(e: BaseExpr, stepMs: Long, v: Column): Column = {
    // double division: integer div would make sub-second steps divide by
    // zero and mis-scale steps that are not whole seconds
    val stepSec = stepMs / 1000.0
    val chartType = e.chart.map(_.chartType).getOrElse("count")
    if (e.dataset == "metrics") {
      (chartType, e.metricType) match {
        case ("count", "rate") => v * stepSec
        case ("rate", "count") => v / stepSec
        case _ => v
      }
    } else if (chartType == "rate") v / stepSec
    else v
  }

  /** Step-bucketed aggregation: (step_ts LONG, groupBys..., value DOUBLE).
    *
    * Scale shape: one shuffle on (step_ts, groupBys) with map-side partial
    * aggregation; percentiles/cardinality use mergeable sketches
    * (percentile_approx / HLL++) so the partial/final split holds at any
    * executor count.
    */
  def chart(tel: Telemetry, e: BaseExpr, startMs: Long, endMs: Long,
      stepMs: Long): DataFrame = {
    val chartOpts = e.chart.getOrElse(ChartOptions())
    var base = prepared(tel, e, startMs, endMs)

    // groupBys on columns absent from the schema are dropped
    // (reference BaseExpr.scala:338-346)
    val present = base.columns.toSet
    val groupBys = chartOpts.groupBys.filter(present.contains)

    // value source: a charted field (try_cast double + unit display
    // normalization — reference BaseExpr.scala:350-369) or the row value
    val valueSrc: Column = chartOpts.fieldName match {
      case Some(fieldName) =>
        if (!present.contains(fieldName)) lit(null).cast("double")
        else {
          val raw = FilterCompiler.fieldCol(fieldName)
          val casted =
            if (e.syntheticFields.contains(fieldName)) raw.cast("double")
            else {
              // ALWAYS backtick-quote: an unquoted "x-request-id" would
              // parse as the subtraction x - request - id
              expr(s"try_cast(`${fieldName.replace("`", "``")}` as double)")
            }
          chartOpts.fieldType match {
            case Some(DataTypes.DURATION) => casted / 1000000L // ns → ms
            case Some(DataTypes.DATA_SIZE) => casted / 1000L // B → KB
            case _ => casted
          }
        }
      case None => tel.value
    }
    if (chartOpts.fieldName.isDefined)
      base = base.where(valueSrc.isNotNull)

    // A2: metrics read pre-rolled rollup_<agg> columns
    // (reference BaseExpr.scala:376-395). A percentile ROLLUP is
    // suppressed (no rollup_p* column in segments); a percentile/ces
    // AGGREGATION keeps the rollup — it degrades to the max envelope of
    // that rollup series (BaseExpr.scala:380 MAX(rollup_<r>)).
    val rollup: Option[String] =
      if (e.dataset != "metrics") None
      else chartOpts.rollup match {
        case Some(r) if !r.startsWith("p") => Some(r)
        case _ => None
      }

    def rollupCol(r: String): Column = FilterCompiler.fieldCol(s"rollup_$r")

    /** Metrics re-aggregation. With an explicit rollup the reference applies
      * the chart aggregation to that rollup series verbatim
      * (`aggregationFunc(rollup_<r>)`, BaseExpr.scala:377-395). Without one
      * the reference's UI always sends rollup = aggregation; we derive the
      * same pairing so each aggregation re-aggregates the right pre-rolled
      * column: sum→Σ rollup_sum, count→Σ rollup_count (datapoint count, not
      * rollup-row count), min/max→min/max of theirs, and avg re-weights as
      * Σ rollup_sum / Σ rollup_count (an avg of rollup_avg would weight
      * every minute equally regardless of its sample count).
      *
      * Divergence note: the reference's literal no-rollup fallback is
      * getOrElse(SUM) → aggregation(rollup_sum) (BaseExpr.scala:377);
      * ASTUtils.scala:235 implies the UI always sends a rollup for
      * metrics but does not prove it equals the aggregation. We keep the
      * weighted semantics above deliberately — they are correct for
      * re-aggregation — and note the fallback path is unproven parity.
      *
      * SKETCH-BEARING SEGMENTS: when the segment schema carries mergeable
      * sketch columns (`sketch_dd` — DDSketch proto payload of the raw
      * values, `sketch_hll` — DataSketches HLL image of the ingest-
      * configured cardinality key), percentile and ces aggregations merge
      * the sketches instead of degrading to the max-envelope /
      * distinct-of-rollup-values fallbacks — the reference's sketch path
      * (PushDownAggregatorStage merges per-segment sketches,
      * TimeGroupedSketchAggregator.scala:36-55; quantile/estimate read
      * from the merged sketch, BaseExpr.scala:57-61) rather than its
      * SQL-over-rollup-columns path. Fallbacks remain for sketch-less
      * segments.
      */
    def metricsAgg(aggregation: String): Column = {
      val sketchPath: Option[Column] = aggregation match {
        case p if isPercentile(p) && base.columns.contains("sketch_dd") =>
          val q = p.drop(1).toDouble / 100.0
          Some(graft.functions.SketchInteropFunctions.ddProtoQuantileOf(
            graft.functions.SketchInteropFunctions.ddProtoMerge(
              FilterCompiler.fieldCol("sketch_dd")), lit(q)))
        case "ces" if base.columns.contains("sketch_hll") =>
          Some(graft.functions.SketchInteropFunctions.dsHllEstimateOf(
            graft.functions.SketchInteropFunctions.dsHllUnion(
              FilterCompiler.fieldCol("sketch_hll"))))
        case _ => None
      }
      sketchPath.getOrElse(metricsRollupAgg(aggregation))
    }

    // shared arms (used by both rollup branches and the raw path): ces is
    // a distinct count of the group-key tuple per step bucket (HLL++,
    // mergeable — reference Aggregator.scala:43-60); percentiles over
    // pre-rolled data degrade to the max envelope of the chosen column
    // (reference BaseExpr.scala:380: MAX(rollup_<r>))
    def cesAgg(fallback: Column): Column = {
      val keyCols = if (groupBys.nonEmpty) groupBys.map(FilterCompiler.fieldCol)
        else List(fallback)
      approx_count_distinct(tupleKey(keyCols)).cast("double")
    }
    def isPercentile(p: String): Boolean = {
      val ok = p.startsWith("p") && p.length > 1 && p.drop(1).forall(_.isDigit)
      // p999 (shorthand for p99.9 elsewhere) would otherwise reach
      // percentile_approx as quantile 9.99 and die deep in analysis
      if (ok) require(p.drop(1).toInt <= 100,
        s"percentile aggregation '$p' out of range (p0..p100)")
      ok
    }

    def metricsRollupAgg(aggregation: String): Column = rollup match {
      case Some(r) =>
        val t = rollupCol(r)
        aggregation match {
          case "sum" => sum(t)
          case "count" => count(t).cast("double")
          case "min" => min(t)
          case "max" => max(t)
          case "avg" => avgOf(t)
          case p if isPercentile(p) => max(t)
          case "ces" => cesAgg(t)
          case other =>
            throw new IllegalArgumentException(s"unknown aggregation $other")
        }
      case None =>
        aggregation match {
          case "sum" => sum(rollupCol("sum"))
          case "count" => sum(rollupCol("count"))
          case "min" => min(rollupCol("min"))
          case "max" => max(rollupCol("max"))
          case "avg" =>
            if (decimalAverages)
              sum(rollupCol("sum").cast("decimal(28,10)")).cast("double") /
                sum(rollupCol("count"))
            else sum(rollupCol("sum")) / sum(rollupCol("count"))
          case p if isPercentile(p) => max(rollupCol("sum"))
          case "ces" => cesAgg(rollupCol("sum"))
          case other =>
            throw new IllegalArgumentException(s"unknown aggregation $other")
        }
    }

    val target: Column = valueSrc

    val agg: Column =
      if (e.dataset == "metrics") metricsAgg(chartOpts.aggregation)
      else chartOpts.aggregation match {
        case "sum" => sum(target)
        case "count" => count(target).cast("double")
        case "min" => min(target)
        case "max" => max(target)
        case "avg" => avgOf(target)
        case p if isPercentile(p) =>
          val q = p.drop(1).toDouble / 100.0
          if (exactPercentiles) expr_percentile(target, q)
          else percentile_approx(target, lit(q), lit(10000))
        case "ces" => cesAgg(target)
        case other =>
          throw new IllegalArgumentException(s"unknown aggregation $other")
      }

    // Raw-path ces estimates DISTINCT TAG TUPLES per step bucket
    // (reference: one HLL over the groupBys-concatenated key per bucket,
    // Aggregator.scala:43-60 — the tags feed the KEY, not the grouping):
    // grouping by those same tags would make every value identically 1.
    // The metrics sketch path keeps per-tag grouping — its distinct key
    // is the ingest-configured column (user_id), not the tags.
    val cesOverTuples = chartOpts.aggregation == "ces" && groupBys.nonEmpty &&
      !(e.dataset == "metrics" && base.columns.contains("sketch_hll"))
    val groupCols =
      if (cesOverTuples) Nil
      else groupBys.map(g => FilterCompiler.fieldCol(g).as(g))
    val grouped = base
      .groupBy((stepTsCol(tel.tsMillis, stepMs) :: groupCols): _*)
      .agg(agg.cast("double").as(VALUE))

    grouped.withColumn(VALUE,
      transform(e, stepMs, col(VALUE)).cast("double"))
  }

  private def expr_percentile(c: Column, q: Double): Column =
    call_function("percentile", c, lit(q))

  // --------------------------------------------------------- output hygiene

  /** F13: internal columns suppressed from user-facing exemplar/tag output
    * (reference NoisyTagsDropper.scala:24-60): pre-rolled rollup_*
    * partials and time-partition/bookkeeping columns. */
  private val noisyTagPrefixes: Seq[String] = Seq("rollup_", "sketch_")
  private val noisyTags: Set[String] =
    Set("day", "month", "hour", "minute", "year", "sketch")

  def isNoisyTag(name: String): Boolean =
    noisyTags.contains(name) || noisyTagPrefixes.exists(name.startsWith)

  /** F11: per-dataset fixed lead columns for exemplar output (reference
    * BaseExpr.scala:41-45 LOGS/METRICS/SPANS_PROJECTIONS), in this
    * engine's column vocabulary. */
  val datasetProjections: Map[String, Seq[String]] = Map(
    "logs" -> Seq("ts", "value", "props"),
    "metrics" -> Seq("ts", "name"),
    "traces" -> Seq("ts", "value", "span_name", "span_kind"))

  /** Display projection: the dataset's fixed columns lead, remaining tags
    * follow in table order, internal columns are dropped. Pure projection
    * — column pruning still reaches the scan. */
  def projectForDisplay(df: DataFrame, dataset: String): DataFrame = {
    val present = df.columns
    val lead = datasetProjections.getOrElse(dataset, Seq.empty)
      .filter(present.contains)
    val rest = present.filterNot(c => lead.contains(c) || isNoisyTag(c))
    df.select((lead ++ rest).map(c => col(s"`$c`")): _*)
  }

  // ----------------------------------------------------------- exemplar path

  /** O1: raw matching rows, ts-ordered with limit
    * (reference BaseExpr.scala:237-239; Spark plans this as
    * TakeOrderedAndProject — a distributed top-k, no global sort), then
    * the F11/F13 display projection. */
  def exemplars(tel: Telemetry, e: BaseExpr, startMs: Long, endMs: Long): DataFrame = {
    val base = prepared(tel, e, startMs, endMs)
      .withColumn("_ts_ms", tel.tsMillis)
    val sorted =
      if (e.order.equalsIgnoreCase("ASC")) base.orderBy(col("_ts_ms").asc)
      else base.orderBy(col("_ts_ms").desc)
    projectForDisplay(sorted.limit(e.limit).drop("_ts_ms"), e.dataset)
  }

  // -------------------------------------------------------------- tags APIs

  /** The reference's default tag-value limit (BaseExpr.scala:127-143). */
  val DefaultTagLimit = 1000

  /** Tag-value counts: SELECT tag, COUNT(*) ... GROUP BY tag
    * (reference BaseExpr.scala:127-143, default limit 1000). */
  def tagValues(tel: Telemetry, e: BaseExpr, tagName: String,
      startMs: Long, endMs: Long, limit: Int = DefaultTagLimit): DataFrame = {
    val base = prepared(tel, e, startMs, endMs)
    // a tag absent from the scanned segments' schema has no values —
    // return the empty frame instead of an unresolved-column error
    // (missing-column tolerance is load-bearing for per-segment schemas,
    // same contract as the filter compiler's fold-to-false)
    if (!base.columns.contains(tagName) &&
        !e.syntheticFields.contains(tagName))
      return base.limit(0)
        .select(lit(null).cast("string").as("tagValue"),
          lit(0L).as("count"))
    // values go out as strings whatever the column's type
    base
      .where(FilterCompiler.fieldCol(tagName).isNotNull)
      .groupBy(FilterCompiler.fieldCol(tagName).cast("string").as("tagValue"))
      .agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), col("tagValue"))
      .limit(limit)
  }

  /** Tag names present (non-null somewhere) under the filter
    * (reference tag-name mode, Commons.scala:407-423 + dedup stage);
    * internal columns suppressed (F13). */
  def tagNames(tel: Telemetry, e: BaseExpr, startMs: Long, endMs: Long,
      limit: Int = 1000): DataFrame = {
    val spark = tel.df.sparkSession
    import spark.implicits._
    val base = prepared(tel, e, startMs, endMs)
    val cols = base.columns.filterNot(isNoisyTag)
    val counts = base.select(cols.map(c =>
      count(col(s"`$c`")).as(c)).toIndexedSeq: _*).collect()(0)
    val names = cols.zipWithIndex
      .filter { case (_, i) => counts.getLong(i) > 0 }
      .map(_._1).sorted.take(limit)
    names.toSeq.toDF("tagName")
  }

  /** §3.3 cardinality: distinct tag-tuple estimate under the filter
    * (reference computeCardinality, QueryEngineV2.scala:599-698). */
  def cardinality(tel: Telemetry, e: BaseExpr, groupBys: Seq[String],
      startMs: Long, endMs: Long): DataFrame = {
    val base = prepared(tel, e, startMs, endMs)
    val keys = groupBys.filter(base.columns.toSet.contains)
      .map(FilterCompiler.fieldCol)
    base.agg(approx_count_distinct(tupleKey(keys)).as("cardinality"))
  }

  /** Top-N SERIES selection over a chart result (beyond the reference —
    * its UI truncates client-side; truncating in the engine is what
    * works at 100k-series cardinality): keep only the rows of the N
    * labels with the largest total |value|, ties broken by label.
    *
    * ONE pass over the chart subtree: per-label totals and the label's
    * rows collect in the same aggregation (a series' rows are one per
    * time step — the chart grid bounds the list, not the data), labels
    * rank in a single-partition window over one ROW PER LABEL, and the
    * kept rows explode back out schema-identical. The r14 spelling
    * (totals agg + TakeOrdered + broadcast semi join) re-planned the
    * chart subtree under both consumers — Catalyst expands the DAG per
    * consumer, so the scan + chart aggregation ran twice. */
  def topSeries(chart: DataFrame, n: Int): DataFrame = {
    require(n > 0, s"topSeries n=$n must be positive")
    val rest = chart.columns.filter(_ != LABEL).toSeq
    chart
      .groupBy(col(LABEL))
      .agg(sum(abs(col(VALUE))).as("_tot"),
        collect_list(struct(rest.map(col): _*)).as("_rows"))
      .withColumn("_rk", dense_rank().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("_tot"), col(LABEL))))
      .where(col("_rk") <= n)
      .select(col(LABEL), explode(col("_rows")).as("_r"))
      .select(chart.columns.toSeq.map(c =>
        if (c == LABEL) col(LABEL) else col(s"_r.$c").as(c)): _*)
  }

  /** Period-over-period comparison (beyond the reference): align each
    * chart point with the SAME series' point `offsetMs` earlier and
    * emit (value, prev_value, ratio) — the week-over-week panel behind
    * every seasonality-aware alert. One self-join on (shifted step,
    * label): both sides are already aggregated series (one row per
    * step×series), so the join input is tiny relative to the scan and
    * partitions on the same keys the chart aggregation produced. Inner
    * join: steps without a comparison point drop (a ratio against
    * nothing is not 0 or ∞ — it is absent). */
  def periodOverPeriod(chart: DataFrame, offsetMs: Long): DataFrame = {
    require(offsetMs > 0, s"offsetMs $offsetMs must be positive")
    val prev = chart.select(
      (col(STEP_TS) + offsetMs).as(STEP_TS), col(LABEL),
      col(VALUE).as("prev_value"))
    chart.join(prev, Seq(STEP_TS, LABEL))
      .withColumn("ratio", col(VALUE) / col("prev_value"))
  }

  /** [[topSeries]] with an "__other__" rollup (beyond the reference —
    * its UI truncates and the residual silently vanishes): the N
    * largest-total series keep their rows verbatim, and every remaining
    * series collapses into ONE `__other__` series per step whose value
    * is the SUM of the collapsed values — so each step's total is
    * conserved and the panel shows how much the cut hid. Only valid for
    * summable aggregations (sum/count); the caller owns that contract.
    *
    * Plan shape: ONE computation of the chart subtree — the (label,
    * step, value) grid is cut once ([[graft.operators.Lineage
    * .cutShared]], lazy: series-grid-sized, never data-sized), the ≤ n
    * winning labels come from a TakeOrdered over the narrow per-label
    * totals (map-side top-n; n is the UI truncation width, so the
    * collected list is a bounded plan literal — the same in-gate
    * posture as the engine's span/stats lookups), and one distributed
    * (label, step) partial-agg shuffle closes the rollup. NO
    * single-partition exchange anywhere. Kept rows pass through the
    * sum unchanged (one row per step×series — the chart aggregation's
    * grouping keys guarantee it, so the sum of one double is that
    * double). The r15 spelling ranked rows that carried each label's
    * whole collected series through ONE task (at the 100k-series
    * design point: the entire panel in one partition); the r14
    * semi/anti spelling re-planned the chart subtree under THREE
    * consumers. Calling this runs the ranking jobs immediately (the
    * TakeOrdered collect also materializes the lazy cut, so the
    * returned frame reads executor-pinned blocks). */
  def topSeriesOther(chart: DataFrame, n: Int): DataFrame = {
    require(n > 0, s"topSeriesOther n=$n must be positive")
    val cut = graft.operators.Lineage.cutShared(
      chart.select(col(LABEL), col(STEP_TS), col(VALUE)), eager = false)
    // ties at the n-th total break toward the smaller label — labels are
    // distinct after the groupBy, so (tot desc, label asc) is a total
    // order and limit(n) selects exactly the dense_rank <= n set
    val top = cut
      .groupBy(col(LABEL)).agg(sum(abs(col(VALUE))).as("_tot"))
      .orderBy(desc("_tot"), col(LABEL)).limit(n)
      .select(col(LABEL)).collect().map(_.get(0)).toSeq
    cut
      .select(
        when(if (top.isEmpty) lit(false) else col(LABEL).isin(top: _*),
          col(LABEL)).otherwise(lit("__other__")).as(LABEL),
        col(STEP_TS), col(VALUE))
      .groupBy(col(LABEL), col(STEP_TS))
      .agg(sum(col(VALUE)).as(VALUE))
      .select(LABEL, STEP_TS, VALUE)
  }

  /** Latency-heatmap frame (beyond the reference — its DDSketch
    * percentiles are the 1-D cut of this): datapoint counts on a 2-D
    * (time step × value bucket) grid, the density panel behind every
    * latency heatmap. Buckets are fixed-width `floor(value / width)` —
    * one identical IEEE division + floor on any engine, so the grid is
    * engine-exact without a tolerance band (the a29 recipe).
    *
    * 100 TB shape: ONE scan + ONE partial-aggregated shuffle keyed on
    * (step, bucket) — the shuffle carries at most steps×buckets partial
    * counts per map task regardless of row count, the same contract as
    * the chart aggregate. */
  def heatmap(tel: Telemetry, e: BaseExpr, startMs: Long, endMs: Long,
      stepMs: Long, valueWidth: Double): DataFrame = {
    require(valueWidth > 0, s"heatmap valueWidth $valueWidth must be positive")
    val base = prepared(tel, e, startMs, endMs)
    base
      .where(tel.value.isNotNull)
      .groupBy(
        stepTsCol(tel.tsMillis, stepMs),
        floor(tel.value / valueWidth).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Cardinality ATTRIBUTION: one row per candidate tag with its
    * distinct-value estimate under the expression's filter, next to the
    * full-tuple cardinality — the "which tag explodes my series count"
    * table behind the reference's per-tag cardinality endpoint
    * (QueryApi.scala:71-97). ONE aggregation pass: every per-tag HLL and
    * the tuple HLL partial-aggregate map-side together, so the cost is
    * one scan + one one-row shuffle regardless of tag count. */
  def cardinalityByTag(tel: Telemetry, e: BaseExpr, groupBys: Seq[String],
      startMs: Long, endMs: Long): DataFrame = {
    val base = prepared(tel, e, startMs, endMs)
    val keys = groupBys.filter(base.columns.toSet.contains)
    require(keys.nonEmpty, "cardinalityByTag needs at least one present tag")
    val aggs = keys.map(k =>
      approx_count_distinct(FilterCompiler.fieldCol(k)).as(s"_c_$k")) :+
      approx_count_distinct(
        tupleKey(keys.map(FilterCompiler.fieldCol))).as("_tuple")
    base.agg(aggs.head, aggs.tail: _*)
      .select(explode(map(
          keys.flatMap(k => Seq(lit(k), col(s"_c_$k"))): _*))
        .as(Seq("tag", "n_values")), col("_tuple").as("tuple_cardinality"))
  }

  /** The reference's groupBys-concatenated distinct key (':'-joined,
    * Aggregator.scala:43-60) with one divergence: null parts coalesce to
    * "" so the separator count is arity-stable — concat_ws SKIPS nulls,
    * which conflated ("x", null) with (null, "x") as "x" and undercounted
    * distinct tuples. The reference's separator-collision semantics
    * ("x:y","z" vs "x","y:z") are kept as-is for parity. */
  private def tupleKey(keys: Seq[Column]): Column =
    concat_ws(":", keys.map(k => coalesce(k.cast("string"), lit(""))): _*)

  // ----------------------------------------------------------- formula layer

  /** Evaluate the full AST: every formula, plus every returnResults base
    * expression, unioned into (step_ts, group_key, value, label).
    *
    * J1 alignment semantics (reference Formula.scala:32-69): group key is
    * the sorted final-grouping tag values joined with ":" (missing tag →
    * ""); `add` zero-fills a missing side via full-outer join; sub/mul
    * inner-join; div inner-joins and drops zero denominators.
    *
    * LABEL CONTRACT: grouped rows are labeled with the group key alone
    * (the reference's SSE protocol keys each stream by expression id, so
    * its labels never need the id). When a caller unions multiple
    * returning expressions that share a grouping, the rows interleave
    * under identical labels — evaluate each expression separately (or
    * combine via `formulae`) if per-expression identity matters.
    *
    * Rows are ordered by [[ChartOrder]] with a global sort; the serving
    * path takes [[evaluateRuns]] and merges on the driver instead. */
  def evaluate(tables: String => Telemetry, ast: ASTInput,
      startMs: Long, endMs: Long, stepMs: Long): DataFrame =
    chartRows(tables, ast, startMs, endMs, stepMs)
      .orderBy(ChartOrder.map(col): _*)

  /** The order [[evaluate]] delivers chart rows in. */
  val ChartOrder: Seq[String] = Seq(STEP_TS, LABEL)

  /** [[evaluate]]'s rows sorted within each partition by [[ChartOrder]]
    * instead of globally: the frame the batch `/graph` route runs, in
    * [[ChartOrder]] once [[mergeRuns]] merges it. No range-sampling job
    * and no sort exchange. */
  def evaluateRuns(tables: String => Telemetry, ast: ASTInput,
      startMs: Long, endMs: Long, stepMs: Long): DataFrame =
    chartRows(tables, ast, startMs, endMs, stepMs)
      .sortWithinPartitions(ChartOrder.map(col): _*)

  /** [[evaluate]]'s rows in no particular order. Its callers add their
    * own sort: a global sort kept below a partition-local one is not
    * removed by the optimizer, so the serving frames must not start
    * from [[evaluate]]. */
  private def chartRows(tables: String => Telemetry, ast: ASTInput,
      startMs: Long, endMs: Long, stepMs: Long): DataFrame = {
    val formulaNodes: List[(String, AstNode)] = ast.formulae.map { f =>
      f -> FormulaParser.parse(f, ast.baseExpressions)
    }
    val baseSeries: List[(String, AstNode)] = ast.baseExpressions.toList
      .sortBy(_._1)
      .filter(_._2.returnResults)
      .map { case (id, b) => id -> (b: AstNode) }

    val outputs = formulaNodes ++ baseSeries
    require(outputs.nonEmpty,
      "AST yields no output series: no formulae and every base " +
      "expression has returnResults=false")

    // Shared-scan rewrite: all multi-expression outputs over one raw
    // dataset compile to ONE segment scan and ONE shuffle instead of a
    // scan+shuffle per BaseExpr reference (the reference executes N
    // BaseExprs over a single segment stream, QueryEngineV2.scala:211-417
    // — at 100 TB the per-expression rescans are the dominant IO cost).
    // Outputs are BUCKETED by dataset, so a mixed logs+metrics dashboard
    // still gets one scan per dataset; cross-dataset formulas and
    // ineligible shapes stay per-node.
    val (sharedBuckets, perNodeOutputs) =
      if (!sharedScanEnabled) (Nil, outputs)
      else {
        val (single, multi) = outputs.partition { case (_, n) =>
          AstOps.baseExprsIn(n).map(_.dataset).distinct.size == 1
        }
        val byDataset = single.groupBy { case (_, n) =>
          AstOps.baseExprsIn(n).head.dataset }
        val (shareable, solo) = byDataset.toList.partition { case (d, os) =>
          val refs = os.flatMap(o => AstOps.baseExprsIn(o._2))
          refs.size >= 2 && {
            val cols = tables(d).df.columns.toSet
            refs.forall(e => sharedScanEligible(e, cols))
          }
        }
        (shareable.map(_._2), multi ++ solo.flatMap(_._2))
      }
    val sharedDfs = sharedBuckets.map(bucket =>
      evaluateSharedScan(tables, bucket, startMs, endMs, stepMs))

    val perNodeDfs = perNodeOutputs.map { case (labelStr, node) =>
      val grouping = AstOps.finalGrouping(node).toList.sorted
      val df = evalNode(tables, node, grouping, startMs, endMs, stepMs)
      // relabel ONLY the genuinely ungrouped series — plan-time facts: a
      // runtime GROUP_KEY === "" test would also catch a grouped series
      // whose single tag is null, masquerading it as the overall series.
      // "Ungrouped" = no grouping at all, or every operand chart carries
      // none of its grouping columns (raw-path ces-over-tuples), so the
      // key is the constant ""/":" on every row.
      val labelCol =
        if (grouping.isEmpty || effectivelyUngroupedNode(tables, node, grouping))
          lit(seriesLabel(labelStr, node))
        else col(GROUP_KEY)
      df.withColumn(LABEL, labelCol)
        .select(col(STEP_TS), col(GROUP_KEY), col(VALUE), col(LABEL))
    }
    (sharedDfs ++ perNodeDfs).reduceLeft(_ unionByName _)
  }

  // ------------------------------------------- shared-scan multi-expression

  /** A BaseExpr is shared-scan eligible when its chart aggregation can be
    * expressed as a null-ignoring conditional aggregate over at most two
    * value columns: no extractor/compute projections (their synthetic
    * columns are per-expression), and sum/count/min/max/avg/p* — all skip
    * nulls, which is what makes the `agg(when(slot, v))` pivot exact.
    * Covers the raw path AND the metrics rollup re-aggregation path
    * (rollup_* columns are just per-slot value sources; avg's
    * Σsum/Σcount ratio rides two columns). Excluded: ces (its
    * distinct-tuple key construction changes the grouping itself) and
    * percentile-over-sketch (TypedImperativeAggregate merge of
    * per-segment sketch payloads — per-node keeps that path). */
  private def sharedScanEligible(e: BaseExpr, cols: Set[String]): Boolean =
    e.extractor.isEmpty && e.compute.isEmpty && {
      val agg = e.chart.getOrElse(ChartOptions()).aggregation
      agg match {
        case "sum" | "count" | "min" | "max" | "avg" => true
        case p if p.startsWith("p") && p.length > 1 &&
            p.drop(1).forall(_.isDigit) && p.drop(1).toInt <= 100 =>
          // metrics percentile with sketch_dd takes the sketch-merge path
          !(e.dataset == "metrics" && cols.contains("sketch_dd"))
        case "ces" =>
          // metrics ces with sketch_hll takes the sketch-union path
          !(e.dataset == "metrics" && cols.contains("sketch_hll"))
        case _ => false
      }
    }

  /** One (BaseExpr, consuming-output grouping) pair. The same expression
    * referenced standalone (its own groupBys) and inside a formula (the
    * formula's finalGrouping) needs a slot per context — the group-key
    * layout differs. */
  private case class SharedSlot(idx: Int, e: BaseExpr,
      grouping: List[String], liveKeys: Set[String])

  /** Compile the whole multi-expression AST to ONE scan + ONE shuffle:
    *
    *   scan → ts filter → OR-of-slot-filters (pushed down) →
    *   explode(matching slots) → groupBy(step, raw-group-values) →
    *   per-slot conditional aggregates + presence →
    *   per-output value/label columns → explode(present outputs)
    *
    * Formulas become arithmetic over the pivoted per-slot columns with
    * join semantics expressed as presence algebra (add: either side
    * present + zero-fill; sub/mul: both; div: both and denominator ≠ 0)
    * — the J1 alignment joins disappear entirely.
    *
    * Grouping is by RAW group values (null kept distinct from ""), so a
    * base series keeps exactly the per-tuple rows the per-node path
    * produced; the output group key string coalesces nulls to "" exactly
    * like [[seriesDf]]. Divergence (documented): a formula operand whose
    * grouping tag holds the literal "" no longer aligns with a dead-key
    * operand's "" — the per-node path's string-key join conflated them.
    *
    * Scale shape: slot structs add O(slots) narrow columns per row
    * pre-shuffle; the shuffle carries each matched row once per matching
    * slot (same bytes the per-node path shuffled, minus the repeated
    * scans); all aggregates keep Catalyst's partial/final split. */
  private def evaluateSharedScan(tables: String => Telemetry,
      outputs: List[(String, AstNode)], startMs: Long, endMs: Long,
      stepMs: Long): DataFrame = {
    val tel = tables(
      outputs.flatMap(o => AstOps.baseExprsIn(o._2)).head.dataset)
    val cols = tel.df.columns.toSet

    // ---- slots: distinct (expr id, grouping context) pairs
    val slotKeys: List[(String, List[String])] = outputs.flatMap {
      case (_, node) =>
        val g = AstOps.finalGrouping(node).toList.sorted
        AstOps.baseExprsIn(node).map(b => (b.id, g))
    }.distinct
    val exprById: Map[String, BaseExpr] = outputs
      .flatMap(o => AstOps.baseExprsIn(o._2)).map(b => b.id -> b).toMap
    val slots: List[SharedSlot] = slotKeys.zipWithIndex.map {
      case ((id, grouping), idx) =>
        val e = exprById(id)
        // zero live keys also covers raw-path ces-over-tuples, whose
        // chart drops its grouping columns — see [[liveKeysOf]]
        SharedSlot(idx, e, grouping, liveKeysOf(e, grouping, cols))
    }
    val slotIdx: Map[(String, List[String]), Int] =
      slotKeys.zipWithIndex.toMap
    val maxKt = slots.map(_.grouping.size).max.max(1)

    // ---- per-slot row-level expressions (chart()'s raw value path)
    def valueSrcOf(e: BaseExpr): (Column, Boolean) = {
      val chartOpts = e.chart.getOrElse(ChartOptions())
      chartOpts.fieldName match {
        case Some(fieldName) =>
          if (!cols.contains(fieldName)) (lit(null).cast("double"), true)
          else {
            val casted =
              expr(s"try_cast(`${fieldName.replace("`", "``")}` as double)")
            val scaled = chartOpts.fieldType match {
              case Some(DataTypes.DURATION) => casted / 1000000L
              case Some(DataTypes.DATA_SIZE) => casted / 1000L
              case _ => casted
            }
            (scaled, true)
          }
        case None => (tel.value, false)
      }
    }
    val matchedOf: Map[Int, Column] = slots.map { s =>
      val (v, needNotNull) = valueSrcOf(s.e)
      val f = FilterCompiler.compile(s.e.filter, cols)
      s.idx -> (if (needNotNull) f && v.isNotNull else f)
    }.toMap

    /** Per-slot row-level value columns (v, w) and the aggregate arm
      * built from their when()-gated forms. Raw path: v = the charted
      * value, w unused. Metrics path (chart():metricsRollupAgg): v/w are
      * the rollup_* columns the aggregation re-aggregates — avg without
      * an explicit rollup re-weights as Σ rollup_sum / Σ rollup_count,
      * riding both columns. */
    /** Per-slot columns: value v, second value w (avg-no-rollup ratio),
      * string key sv (ces distinct-tuple counting), and the aggregate arm
      * over their when()-gated forms. */
    case class SlotArm(v: Column, w: Column, sv: Column,
        arm: (Column, Column, Column) => Column)

    def armOf(s: SharedSlot): SlotArm = {
      val chartOpts = s.e.chart.getOrElse(ChartOptions())
      val aggregation = chartOpts.aggregation
      val nullD = lit(null).cast("double")
      val nullS = lit(null).cast("string")
      def pQuantile(p: String)(v: Column): Column = {
        val q = p.drop(1).toDouble / 100.0
        if (exactPercentiles) expr_percentile(v, q)
        else percentile_approx(v, lit(q), lit(10000))
      }
      // ces: the distinct key is the groupBys tuple when present, else
      // the value column — chart():cesAgg; HLL++ ignores the nulls the
      // when() gate produces for other slots' rows
      def cesArm(fallback: Column): SlotArm = {
        val keyCols = chartOpts.groupBys.filter(cols.contains)
          .map(FilterCompiler.fieldCol)
        // tupleKey in BOTH branches: the per-node cesAgg wraps the
        // no-groupBys fallback in tupleKey too, whose coalesce makes a
        // null value count as one distinct "" key — a bare cast would
        // silently drop it from the HLL and undercount by one
        val key = tupleKey(if (keyCols.nonEmpty) keyCols else List(fallback))
        SlotArm(nullD, nullD, key,
          (_, _, sv) => approx_count_distinct(sv).cast("double"))
      }
      if (s.e.dataset == "metrics") {
        val rollup: Option[String] = chartOpts.rollup match {
          case Some(r) if !r.startsWith("p") => Some(r)
          case _ => None
        }
        def rc(r: String): Column = FilterCompiler.fieldCol(s"rollup_$r")
        rollup match {
          case Some(r) =>
            if (aggregation == "ces") cesArm(rc(r))
            else {
              val arm: Column => Column = aggregation match {
                case "sum" => sum
                case "count" => count(_).cast("double")
                case "min" => min
                case "max" => max
                case "avg" => avgOf
                // percentile over pre-rolled data degrades to the max
                // envelope of the chosen rollup (chart(): metricsRollupAgg)
                case _ => max
              }
              SlotArm(rc(r), nullD, nullS, (v, _, _) => arm(v))
            }
          case None =>
            aggregation match {
              case "sum" => SlotArm(rc("sum"), nullD, nullS, (v, _, _) => sum(v))
              case "count" => SlotArm(rc("count"), nullD, nullS, (v, _, _) => sum(v))
              case "min" => SlotArm(rc("min"), nullD, nullS, (v, _, _) => min(v))
              case "max" => SlotArm(rc("max"), nullD, nullS, (v, _, _) => max(v))
              case "avg" => SlotArm(rc("sum"), rc("count"), nullS, (v, w, _) =>
                if (decimalAverages)
                  sum(v.cast("decimal(28,10)")).cast("double") / sum(w)
                else sum(v) / sum(w))
              case "ces" => cesArm(rc("sum"))
              case p => SlotArm(rc("sum"), nullD, nullS, (v, _, _) => max(v))
            }
        }
      } else {
        val (v, _) = valueSrcOf(s.e)
        if (aggregation == "ces") cesArm(v)
        else {
          val arm: Column => Column = aggregation match {
            case "sum" => sum
            case "count" => count(_).cast("double")
            case "min" => min
            case "max" => max
            case "avg" => avgOf
            case p => pQuantile(p)
          }
          SlotArm(v, nullD, nullS, (vw, _, _) => arm(vw))
        }
      }
    }
    val arms: Map[Int, SlotArm] = slots.map(s => s.idx -> armOf(s)).toMap

    val slotStructs: Seq[Column] = slots.map { s =>
      val a = arms(s.idx)
      // raw group values, padded to the widest slot so the struct array
      // is uniformly typed; dead keys (tag not grouped/present for this
      // slot) are null like the per-node path's "" — coalesced at output
      val ktParts = s.grouping.map { k =>
        if (s.liveKeys.contains(k))
          FilterCompiler.fieldCol(k).cast("string")
        else lit(null).cast("string")
      }.padTo(maxKt, lit(null).cast("string"))
      struct(
        lit(s.idx).as("i"), matchedOf(s.idx).as("m"),
        a.v.cast("double").as("v"), a.w.cast("double").as("w"),
        a.sv.cast("string").as("sv"),
        array(ktParts: _*).as("kt"))
    }

    val pre = tel.df
      .where(tel.tsRange(startMs, endMs))
      .where(slots.map(s => matchedOf(s.idx)).reduce(_ || _))
      .select(
        stepTsCol(tel.tsMillis, stepMs),
        explode(filter(array(slotStructs: _*),
          s => s.getField("m"))).as("_s"))
      .select(col(STEP_TS), col("_s.i").as("_i"), col("_s.v").as("_v"),
        col("_s.w").as("_w"), col("_s.sv").as("_sv"), col("_s.kt").as("_kt"))

    // ---- one shuffle: per-slot conditional aggregates + presence
    val aggCols: Seq[Column] = slots.flatMap { s =>
      val agg = arms(s.idx).arm(
        when(col("_i") === s.idx, col("_v")),
        when(col("_i") === s.idx, col("_w")),
        when(col("_i") === s.idx, col("_sv")))
      Seq(
        transform(s.e, stepMs, agg.cast("double")).cast("double")
          .as(s"_v${s.idx}"),
        // presence = the per-node path would have a group row: ≥1 matched
        // row, independent of value nulls (count-over-all-null groups
        // still exist there, with value 0/null)
        (count(when(col("_i") === s.idx, lit(1))) > 0).as(s"_p${s.idx}"))
    }
    val pivoted = pre.groupBy(col(STEP_TS), col("_kt"))
      .agg(aggCols.head, aggCols.tail: _*)

    // ---- per-output (value, presence) over the pivoted columns
    def nodeCols(node: AstNode, grouping: List[String]): (Column, Column) =
      node match {
        case b: BaseExpr =>
          val i = slotIdx((b.id, grouping))
          (col(s"_v$i"), col(s"_p$i"))
        case ConstantExpr(_) =>
          throw new IllegalArgumentException(
            "constant-only formula has no series to align with")
        case Formula(e1, e2, op) => (e1, e2) match {
          case (ConstantExpr(c), right) =>
            val (rv, rp) = nodeCols(right, grouping)
            op match {
              case "add" => (rv + c, rp)
              case "sub" => (lit(c) - rv, rp)
              case "mul" => (rv * c, rp)
              // when-guarded: ANSI division evaluates the value column on
              // every pivot row, including the zero-denominator rows the
              // presence filter drops afterwards
              case "div" => (when(rv =!= 0.0, lit(c) / rv), rp && rv =!= 0.0)
            }
          case (left, ConstantExpr(c)) =>
            val (lv, lp) = nodeCols(left, grouping)
            op match {
              case "add" => (lv + c, lp)
              case "sub" => (lv - c, lp)
              case "mul" => (lv * c, lp)
              case "div" =>
                if (c == 0.0) (lit(null).cast("double"), lit(false))
                else (lv / c, lp)
            }
          case (left, right) =>
            val (lv, lp) = nodeCols(left, grouping)
            val (rv, rp) = nodeCols(right, grouping)
            op match {
              case "add" =>
                (coalesce(lv, lit(0.0)) + coalesce(rv, lit(0.0)), lp || rp)
              case "sub" => (lv - rv, lp && rp)
              case "mul" => (lv * rv, lp && rp)
              case "div" =>
                (when(rv =!= 0.0, lv / rv), lp && rp && rv =!= 0.0)
              case other =>
                throw new IllegalArgumentException(s"unknown formula op $other")
            }
        }
      }

    val outStructs: Seq[Column] = outputs.map { case (labelStr, node) =>
      val grouping = AstOps.finalGrouping(node).toList.sorted
      val (v, p) = nodeCols(node, grouping)
      val keyCol =
        if (grouping.isEmpty) lit("")
        else array_join(
          org.apache.spark.sql.functions.transform(
            slice(col("_kt"), 1, grouping.size),
            x => coalesce(x, lit(""))), ":")
      // same ungrouped-ness rule as the per-node path: no grouping, or
      // EVERY operand chart carries none of its grouping columns
      val ungrouped = grouping.isEmpty ||
        AstOps.baseExprsIn(node).forall(b =>
          slots(slotIdx((b.id, grouping))).liveKeys.isEmpty)
      val labelCol =
        if (ungrouped) lit(seriesLabel(labelStr, node)) else keyCol
      struct(v.cast("double").as("v"), p.as("p"),
        keyCol.as("k"), labelCol.as("l"))
    }

    pivoted
      .select(col(STEP_TS),
        explode(filter(array(outStructs: _*),
          o => o.getField("p"))).as("_o"))
      .select(col(STEP_TS), col("_o.k").as(GROUP_KEY),
        col("_o.v").as(VALUE), col("_o.l").as(LABEL))
    // no sort here: evaluate()'s callers sort once after the union
  }

  /** Combined result of one AST evaluation: the chart series stream plus
    * the auto-exemplar stream per log/trace base expression. */
  case class AstResults(chart: DataFrame, exemplars: Map[String, DataFrame])

  /** O1 orchestration (reference QueryApi.scala:235-270): the reference
    * streams exemplar events automatically NEXT TO every log/trace chart
    * expression over the same SSE channel — one query in, two result
    * kinds out. Here one call compiles the AST once and returns the chart
    * series plus, for every returning log/trace base expression, its
    * exemplar frame (same filter/extract/compute pipeline feeding both —
    * [[exemplars]] and [[chart]] share `prepared`, so filter pushdown and
    * segment pruning decisions are identical). Metrics expressions get no
    * exemplar stream, matching the reference's dataset gate. */
  def evaluateWithExemplars(tables: String => Telemetry, ast: ASTInput,
      startMs: Long, endMs: Long, stepMs: Long): AstResults = {
    val chart = evaluate(tables, ast, startMs, endMs, stepMs)
    val ex = ast.baseExpressions.toList.sortBy(_._1).collect {
      case (id, b) if b.returnResults &&
          (b.dataset == "logs" || b.dataset == "traces") =>
        id -> exemplars(tables(b.dataset), b, startMs, endMs)
    }.toMap
    AstResults(chart, ex)
  }

  private def seriesLabel(id: String, node: AstNode): String = node match {
    case b: BaseExpr => b.filter.show
    case _ => id
  }

  /** The fixed infra scope dimensions served by GET /api/v1/scopeTags
    * (reference QueryApi.scala:57-61 over Commons.scala:104-109) — the
    * tag names a UI scopes dashboards by. A constant of the data model,
    * not of any deployment. */
  val scopeTags: Seq[String] = Seq(
    "resource.k8s.namespace.name", "resource.service.name", "resource.file")

  /** GET /api/v1/metricMetadata (reference QueryEngineV2.scala:952-995):
    * the distinct (metricName, metricType) catalog, type defaulting to
    * "gauge" where absent — the reference reads it from its exemplar
    * metadata store; Spark-native, it is a distinct-aggregate over the
    * metrics telemetry itself (one narrow shuffle of (name, type)
    * pairs, partial-aggregated map-side). */
  def metricMetadata(tel: Telemetry, nameCol: String,
      typeCol: Option[String] = None): DataFrame = {
    val t = typeCol.map(c => coalesce(FilterCompiler.fieldCol(c),
      lit("gauge"))).getOrElse(lit("gauge"))
    tel.df.select(FilterCompiler.fieldCol(nameCol).as("metric_name"),
        t.as("metric_type"))
      .where(col("metric_name").isNotNull)
      .distinct()
      .orderBy("metric_name", "metric_type")
  }

  /** Column carrying each incrementally-delivered row's replay group
    * seq (0-based, in replay order; the live batch takes the seq after
    * the last sealed group). */
  val REPLAY_SEQ = "replay_seq"

  /** One incrementally-delivered result batch, in replay order: the
    * chart rows of ONE replay wave ([[ReplaySequencer.waves]]) evaluated
    * as a single query (`frame`), and of the groups the result cache
    * serves (`served`, their rows by seq). `seqs` and `groups` list every
    * group the batch emits, in replay order; a batch the cache serves
    * whole has no frame and runs no job. `frame` holds [[evaluate]]'s
    * rows plus [[REPLAY_SEQ]], so selecting one seq yields exactly that
    * group's rows. It is sorted WITHIN each partition by
    * [[ReplayOrder]], not globally: the emit order comes from
    * [[streamRows]], which merges the partitions on the driver and then
    * calls `store` with the merged rows. `sealedBatch` = false only for
    * the trailing live (unsealed) batch: one group covering the whole
    * window. */
  case class ReplayBatch(seqs: Seq[Int],
      groups: Seq[ReplaySequencer.ReplayGroup], sealedBatch: Boolean,
      frame: Option[DataFrame], served: Map[Int, Seq[Row]] = Map.empty)(
      private[engine] val store: Array[Row] => Unit = _ => ()) {
    def firstSeq: Int = seqs.head
    /** The wave's query; a batch the cache serves whole has none. */
    def df: DataFrame = frame.getOrElse(throw new NoSuchElementException(
      s"replay groups $seqs are served from the result cache: no query"))
  }

  /** A replay's groups cut into steps, in replay order: `wave` holds
    * groups `lookup` cannot serve (waves of 1, 2, 4, … over those groups
    * alone); `all` also holds the served groups whose seqs lie inside
    * the wave's range or, when `wave` is empty, between two waves. */
  private case class Cut[V](all: Seq[(ReplaySequencer.ReplayGroup, Int)],
      wave: Seq[(ReplaySequencer.ReplayGroup, Int)], served: Map[Int, V])

  private def cuts[V](groups: List[ReplaySequencer.ReplayGroup],
      lookup: ReplaySequencer.ReplayGroup => Option[V]): List[Cut[V]] = {
    val indexed = groups.zipWithIndex.toIndexedSeq
    val hits = indexed.flatMap { case (g, i) => lookup(g).map(i -> _) }.toMap
    val out = List.newBuilder[Cut[V]]
    var next = 0
    def upTo(end: Int, wave: Seq[(ReplaySequencer.ReplayGroup, Int)])
        : Unit = if (end > next) {
      val all = indexed.slice(next, end)
      out += Cut(all, wave, all.flatMap(x => hits.get(x._2).map(x._2 -> _)).toMap)
      next = end
    }
    ReplaySequencer.waves(indexed.filterNot(x => hits.contains(x._2)))
      .foreach { w => upTo(w.head._2, Nil); upTo(w.last._2 + 1, w) }
    upTo(indexed.size, Nil)
    out.result()
  }

  /** `r` with its [[REPLAY_SEQ]] set to `seq`. */
  private def withSeq(r: Row, seq: Int): Row = {
    val v = r.toSeq.toArray
    v(r.fieldIndex(REPLAY_SEQ)) = seq
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      v, r.schema)
  }

  /** The time hull [min start, max end) of a wave of (group, seq); it
    * may hold gaps between groups. */
  private def hull(wave: Seq[(ReplaySequencer.ReplayGroup, Int)])
      : (Long, Long) =
    (wave.map(_._1.startMs).min, wave.map(_._1.endMs).max)

  /** Per ROW: the seq of the wave group whose [start, end) holds
    * epoch-millis `tMs`; null when `tMs` falls in a gap between groups,
    * so a `replay_seq IS NOT NULL` filter drops exactly the rows the
    * per-group queries never scanned. A compiled CASE: it runs in the
    * scan stage, whose code already varies per wave with the pushed
    * time-range literals. */
  private def replaySeq(tMs: Column,
      wave: Seq[(ReplaySequencer.ReplayGroup, Int)]): Column = {
    def in(g: ReplaySequencer.ReplayGroup) =
      tMs >= g.startMs && tMs < g.endMs
    val (g0, i0) = wave.head
    wave.tail.foldLeft(when(in(g0), lit(i0))) { case (c, (g, i)) =>
      c.when(in(g), lit(i))
    }
  }

  /** Per step BUCKET (post-aggregation chart rows): the seq of the wave
    * group that bucket [stepTs, stepTs + stepMs) overlaps, null for a
    * gap bucket. Group bounds are step-aligned except where the window
    * clips them, so a bucket overlaps at most one group. The bounds ride
    * in one array literal read by an interpreted `aggregate`, so the
    * final stage's generated code holds no per-wave constant and every
    * wave after the first hits the codegen cache (primitive literals are
    * inlined into generated code; an array literal is passed by
    * reference). */
  private def bucketSeq(stepTs: Column, stepMs: Long,
      wave: Seq[(ReplaySequencer.ReplayGroup, Int)]): Column = {
    val bounds = typedLit(wave.map { case (g, i) =>
      (g.startMs - stepMs, g.endMs, i) })
    aggregate(bounds, lit(null).cast("int"), (acc, b) =>
      when(stepTs > b("_1") && stepTs < b("_2"), b("_3")).otherwise(acc))
  }

  /** Incremental (SSE-style) result delivery — the reference streams
    * partial results per replay group as workers finish, sealed segments
    * replayed in group order before any unsealed/live data
    * (QueryEngineV2.scala:553-592 groups via
    * SequencingStrategy.computeReplaySequence; QueryApi.scala:186-295
    * forwards each group's points as SSE events). A dashboard user feels
    * this as time-to-first-datapoint ∝ the first group, not the query.
    *
    * Spark-first shape: each [[ReplaySequencer.ReplayGroup]] is a time
    * range, and consecutive groups run together in waves of 1, 2, 4, …
    * ([[ReplaySequencer.waves]]): a batch is ONE [[evaluate]] over the
    * wave's time hull, each chart row tagged with its group's seq. A
    * G-group replay therefore pays ⌈log2(G+1)⌉ plans, codegen passes and
    * job sets instead of G, while group 0 still runs alone. The pushed
    * timestamp filters + manifest pruning restrict each wave's scan to
    * its groups' segments. Groups tile the window on step boundaries,
    * so every chart bucket lies inside one group or one gap; gap buckets
    * get no seq and drop. The iterator builds a wave's DataFrame when
    * pulled and runs no job: [[streamRows]] runs wave 0 alone, then
    * every later wave at once ([[WaveScheduler]]), so the last group
    * arrives by the end of the slowest later wave, not of their sum. The
    * concatenation of all batches equals the batch [[evaluate]] exactly —
    * pinned by IncrementalDeliverySpec, ReplayWaveSpec and the
    * `ast_incremental_chart` oracle.
    *
    * No wave sorts globally: its frame is sorted within each post-
    * aggregate partition, and [[streamRows]] merges the partitions on
    * the driver, as the reference's coordinator k-way merges its sorted
    * worker streams (QueryEngineV2.scala:76-97). A wave is then its
    * aggregate stage and one result job, with no range-sampling job and
    * no sort exchange.
    *
    * Ordering contract (the reference's sealed-before-unsealed rule):
    * all sealed groups emit first, in replay order (forward: step ranges
    * strictly increasing; reverse: strictly decreasing — newest first,
    * the log-tail view); the live batch, when `liveTables` is given,
    * emits LAST regardless of its time range. [[streamRows]] emits rows
    * in [[ReplayOrder]], so per-step delivery order matches the
    * reference's per-group mergeSorted emission.
    *
    * Result cache: a sealed group whose every interval `cache` holds
    * ([[ResultCache]]: keyed by the AST, the step, the interval and the
    * spans of the segments overlapping it; whole, covered intervals
    * only, never one clipped by the window or a gap) is emitted from
    * the cache with no job, in its place in replay order. The waves are
    * cut over the other groups alone, and each wave stores its
    * intervals' rows once merged. The live batch is never cached. The
    * default [[ResultCache.Off]] stores nothing, so every group runs. */
  def evaluateIncremental(tables: String => Telemetry, ast: ASTInput,
      startMs: Long, endMs: Long, stepMs: Long,
      segments: Seq[ReplaySequencer.SegmentSpan],
      minGroupSize: Int = 1, reverse: Boolean = false,
      liveTables: Option[String => Telemetry] = None,
      cache: ResultCache.Scope = ResultCache.Off)
      : Iterator[ReplayBatch] = {
    val groups = ReplaySequencer.sequence(
      segments, startMs, endMs, stepMs, minGroupSize, reverse)
    // the plan flags in scope ([[withExactPercentiles]], …) change the
    // rows, so they are part of the key
    val intervals = cache.intervals((ast, flagScope.value), segments,
      startMs, endMs, stepMs)
    def runs(df: DataFrame, seq: Column): DataFrame =
      df.withColumn(REPLAY_SEQ, seq).where(col(REPLAY_SEQ).isNotNull)
        .sortWithinPartitions(ReplayOrder.map(col): _*)
    val sealedIt = cuts(groups, intervals.lookup).iterator
      .map { c =>
        val frame = if (c.wave.isEmpty) None else {
          val (lo, hi) = hull(c.wave)
          Some(runs(chartRows(tables, ast, lo, hi, stepMs),
            bucketSeq(col(STEP_TS), stepMs, c.wave)))
        }
        ReplayBatch(c.all.map(_._2), c.all.map(_._1), sealedBatch = true,
          // a served group's rows: its intervals' rows, oldest first
          frame, c.served.map { case (i, vs) =>
            i -> vs.flatMap(_.asInstanceOf[Array[Row]]).map(withSeq(_, i))
          }) { rows =>
          // one entry per interval: its rows share its step_ts
          val byStep = rows.groupBy(_.getAs[Long](STEP_TS))
          c.wave.foreach { case (g, _) => intervals.starts(g).foreach(t =>
            intervals.store(t, byStep.getOrElse(t, Array.empty[Row])))
          }
        }
      }
    liveTables match {
      case None => sealedIt
      case Some(live) => sealedIt ++ Iterator.single(
        ReplayBatch(Seq(groups.size),
          Seq(ReplaySequencer.ReplayGroup(startMs, endMs, Nil)),
          sealedBatch = false,
          Some(runs(chartRows(live, ast, startMs, endMs, stepMs),
            lit(groups.size))))())
    }
  }

  /** Running cardinality over the replay sequence — the reference's
    * computeCardinality stream (QueryEngineV2.scala:599-668): each
    * replay group contributes its HLL sketch, the coordinator unions it
    * into the running state (HllSketch.heapify + Union, lgK 12,
    * byte-identical to the reference's statefulMapConcat) and emits the
    * updated estimate — a dashboard watches the distinct count converge
    * while the replay progresses. One estimate per group, empty groups
    * included. Each wave is one pruned aggregation grouped by
    * [[REPLAY_SEQ]] that collects every group sketch of the wave; wave 0
    * runs alone, then every later wave at once ([[WaveScheduler]]), and
    * the union takes the sketches on the consumer thread in seq order.
    *
    * The emitted value is the union's COMPOSITE estimate, a function of
    * the sketch registers alone. The HIP estimate (`getResult
    * .getEstimate`) also depends on the order coupons reach the union,
    * which follows the partition layout of each group's scan: the same
    * rows repartitioned moved it by a whole unit.
    *
    * A wave aggregates one sketch per (group, step interval), and the
    * union takes a group's interval sketches oldest first; the composite
    * estimate is the same as from one sketch per group. `cache` holds
    * each whole, covered interval's sketch, so a group whose intervals
    * it all holds is unioned from the cache with no job, as in
    * [[evaluateIncremental]]. */
  def cardinalityIncremental(tel: Telemetry, e: BaseExpr,
      groupBys: Seq[String], startMs: Long, endMs: Long, stepMs: Long,
      segments: Seq[ReplaySequencer.SegmentSpan], minGroupSize: Int = 1,
      cache: ResultCache.Scope = ResultCache.Off)
      : WaveScheduler.Replay[(Int, Double)] = {
    import org.apache.datasketches.hll.HllSketch
    val groups = ReplaySequencer.sequence(
      segments, startMs, endMs, stepMs, minGroupSize)
    val intervals = cache.intervals(("cardinality", e, groupBys), segments,
      startMs, endMs, stepMs)
    val union = new org.apache.datasketches.hll.Union(12)
    // each step yields its groups' interval sketches by seq, oldest first
    // (an interval without rows has none)
    val steps = cuts(groups, intervals.lookup).iterator.map { c =>
      val served = c.served.map { case (i, vs) =>
        i -> vs.flatMap(_.asInstanceOf[Option[Array[Byte]]]) }
      if (c.wave.isEmpty) WaveScheduler.Ready((c, served))
      else {
        val (lo, hi) = hull(c.wave)
        val base = prepared(tel, e, lo, hi)
        val keys = groupBys.filter(base.columns.toSet.contains)
          .map(FilterCompiler.fieldCol)
        WaveScheduler.Wave(base
          .select(replaySeq(tel.tsMillis, c.wave).as(REPLAY_SEQ),
            stepTsCol(tel.tsMillis, stepMs), tupleKey(keys).as("_k"))
          .where(col(REPLAY_SEQ).isNotNull)
          .groupBy(REPLAY_SEQ, STEP_TS)
          .agg(graft.functions.SketchInteropFunctions.dsHllSketch(col("_k"))),
          (df: DataFrame) => {
            val sketch = df.collect().map(r =>
              (r.getInt(0), r.getLong(1)) -> r.getAs[Array[Byte]](2)).toMap
            (c, served ++ c.wave.map { case (g, i) =>
              i -> intervals.starts(g).flatMap { t =>
                intervals.store(t, sketch.get((i, t)))
                sketch.get((i, t))
              }
            })
          })
      }
    }
    WaveScheduler.inReplayOrder(steps) { case (c, sketches) =>
      c.all.iterator.map { case (_, i) =>
        sketches(i).foreach(b => union.update(HllSketch.heapify(b)))
        (i, union.getCompositeEstimate)
      }
    }
  }

  /** Incremental tag-value delivery — the reference's evaluateTagQuery
    * streams distinct values as replay groups complete, deduplicating at
    * the coordinator so each value reaches the UI once, when first seen
    * (QueryEngineV2.scala:419-491 over the TagNameCompressionStage
    * dedup). Per group: the values NOT seen in any earlier group, in
    * sorted order, out of the group's top [[DefaultTagLimit]] by count
    * (what [[tagValues]] keeps for the group alone) — a dropdown fills
    * from the first group while the rest of the window still replays.
    *
    * Each wave is one query: per-(seq, value) counts, then each
    * partition keeps its own top [[DefaultTagLimit]] per seq by (count
    * desc, value). That cut is exact: the aggregate hash-partitions by
    * (seq, value), so every count is complete in its partition and a
    * value missing from its partition's top K is outside the group's
    * too. The collected lists are merged into each group's top K on the
    * driver, so the driver holds at most limit × partitions values per
    * group, and no exchange by seq (a rank window) runs: a wave is its
    * aggregate stage and one result job. Wave 0 runs alone, then every
    * later wave at once ([[WaveScheduler]]). The merge and the
    * first-seen dedup stay on the consumer thread, in seq order. */
  def tagValuesIncremental(tel: Telemetry, e: BaseExpr, tagName: String,
      startMs: Long, endMs: Long, stepMs: Long,
      segments: Seq[ReplaySequencer.SegmentSpan], minGroupSize: Int = 1)
      : WaveScheduler.Replay[(Int, Seq[String])] = {
    val groups = ReplaySequencer.sequence(
      segments, startMs, endMs, stepMs, minGroupSize)
    val seen = scala.collection.mutable.HashSet[String]()
    val waves = ReplaySequencer.waves(groups.zipWithIndex).iterator
      .map { wave =>
        val (lo, hi) = hull(wave)
        val base = prepared(tel, e, lo, hi)
        // a tag absent from the scanned segments' schema has no values
        // (the same missing-column tolerance as tagValues)
        if (!base.columns.contains(tagName) &&
            !e.syntheticFields.contains(tagName))
          WaveScheduler.Wave(base,
            (_: DataFrame) => (wave, Array.empty[Row]))
        else {
          val counts = base
            .select(replaySeq(tel.tsMillis, wave).as(REPLAY_SEQ),
              FilterCompiler.fieldCol(tagName).cast("string").as("tagValue"))
            .where(col(REPLAY_SEQ).isNotNull && col("tagValue").isNotNull)
            .groupBy(REPLAY_SEQ, "tagValue")
            .agg(count(lit(1)).as("count"))
            .sortWithinPartitions(col(REPLAY_SEQ), desc("count"),
              col("tagValue"))
          val limit = DefaultTagLimit
          WaveScheduler.Wave(counts.mapPartitions { (rows: Iterator[Row]) =>
              // a partition's rows arrive grouped by seq
              var seq, n = -1
              rows.filter { r =>
                if (r.getInt(0) != seq) { seq = r.getInt(0); n = 0 }
                n += 1
                n <= limit
              }
            }(Encoders.row(counts.schema)),
            (df: DataFrame) => (wave, df.collect()))
        }
      }
    WaveScheduler.inReplayOrder(waves) { case (wave, rows) =>
      val byGroup = rows.toSeq.groupBy(_.getInt(0))
      wave.iterator.map { case (_, i) =>
        val top = byGroup.getOrElse(i, Nil).sorted(tagRank)
          .take(DefaultTagLimit).map(_.getString(1))
        val fresh = top.filterNot(seen.contains).sorted
        seen ++= fresh
        (i, fresh)
      }
    }
  }

  /** [[tagValues]]' order on (seq, value, count) rows: count desc, then
    * value as Spark sorts strings. */
  private val tagRank: Ordering[Row] = (a, b) => {
    val c = java.lang.Long.compare(b.getLong(2), a.getLong(2))
    if (c != 0) c else compareUtf8(a.getString(1), b.getString(1))
  }

  /** Incremental exemplar delivery — the reference streams exemplar
    * events per replay group next to the chart batches
    * (QueryEngineV2.scala:493-543): each group contributes its own
    * exemplar frame (the BaseExpr's order/limit applied WITHIN the
    * group, exactly the per-group worker behavior). Lazy per group and
    * serial: the consumer runs each frame when it reaches it.
    *
    * Deliberately NOT waved: a group's order/limit is a map-side
    * TakeOrdered — each partition ships only its top `limit` rows to the
    * driver, nothing is shuffled. A wave could only express a per-group
    * limit as a rank partitioned by replay_seq, which shuffles the wide
    * exemplar rows (up to `limit` per group and map partition; with the
    * large limits exemplar queries use, every matching row). Nor does
    * it use [[WaveScheduler]]: it hands back each group's frame
    * unexecuted and the caller drains the frames one after another, so
    * one group's wide exemplar rows at most are in flight on the driver.
    * Running later groups ahead of the consumer would pull theirs too. */
  def exemplarsIncremental(tel: Telemetry, e: BaseExpr,
      startMs: Long, endMs: Long, stepMs: Long,
      segments: Seq[ReplaySequencer.SegmentSpan], minGroupSize: Int = 1)
      : Iterator[(Int, DataFrame)] =
    ReplaySequencer.sequence(segments, startMs, endMs, stepMs, minGroupSize)
      .iterator.zipWithIndex.map { case (g, i) =>
        (i, exemplars(tel, e, g.startMs, g.endMs))
      }

  /** The order [[streamRows]] emits chart rows in. */
  val ReplayOrder: Seq[String] = REPLAY_SEQ +: ChartOrder

  /** Row-level SSE-style emission, (seq, sealed, row) in [[ReplayOrder]].
    * Each wave's task runs [[mergeRuns]] over its batch: one result job
    * fetches the wave's sorted partitions and the merge runs in the same
    * task, so a later wave's merge overlaps the other waves' jobs. Wave
    * 0 runs and drains alone; once its rows are consumed, every later
    * wave starts at once ([[WaveScheduler]]). The consumer holds a
    * wave's rows on the driver while it emits them (see [[mergeRuns]]). */
  def streamRows(batches: Iterator[ReplayBatch])
      : WaveScheduler.Replay[(Int, Boolean, Row)] =
    WaveScheduler.inReplayOrder(batches.map(b => b.frame match {
      case Some(df) => WaveScheduler.Wave(df, (d: DataFrame) => {
        val rows = mergeRuns(d, ReplayOrder)
        b.store(rows)
        (b, rows)
      })
      case None => WaveScheduler.Ready((b, Array.empty[Row]))
    })) { case (b, rows) =>
      val bySeq = rows.groupBy(r => r.getInt(r.fieldIndex(REPLAY_SEQ)))
      b.seqs.iterator.flatMap(i => b.served.getOrElse(i,
          bySeq.getOrElse(i, Array.empty[Row]).toSeq))
        .map(r => (r.getInt(r.fieldIndex(REPLAY_SEQ)), b.sealedBatch, r))
    }

  /** The rows of `df` in the order `df.orderBy(keys)` gives — ascending,
    * nulls first, strings in UTF-8 byte order — without a global sort.
    * The serving path's one way to order a result: `df` comes sorted
    * within each partition by `keys` ([[evaluateRuns]], a
    * [[ReplayBatch]]), one job collects every partition, and a TimSort
    * on the driver finds the sorted runs the partitions arrive as and
    * merges them. Any frame gives the right order; an unsorted one only
    * costs a full sort on the driver.
    *
    * Memory: the whole result sits on the driver while it is merged and
    * emitted (a `toLocalIterator` drain would hold one partition at a
    * time). That is the bound every `collect()` on the serving path (tags
    * and cardinality waves) lives under: chart rows are steps × series,
    * and a result past `spark.driver.maxResultSize` fails the request
    * loudly instead of growing the heap. */
  def mergeRuns(df: DataFrame, keys: Seq[String]): Array[Row] = {
    val rows = df.collect()
    java.util.Arrays.sort(rows, rowOrder(df.schema, keys))
    rows
  }

  /** Spark's ascending order over key columns of collected rows: nulls
    * first, then by value. Only the sort-key types the serving path
    * has (int seq, long step, string label) are supported. */
  private def rowOrder(schema: StructType, keys: Seq[String])
      : java.util.Comparator[Row] =
    keys.map { k =>
      val i = schema.fieldIndex(k)
      val byValue: (Row, Row) => Int = schema(i).dataType match {
        case IntegerType =>
          (a, b) => Integer.compare(a.getInt(i), b.getInt(i))
        case LongType =>
          (a, b) => java.lang.Long.compare(a.getLong(i), b.getLong(i))
        case StringType =>
          (a, b) => compareUtf8(a.getString(i), b.getString(i))
        case t => throw new IllegalArgumentException(
          s"no driver-side order for sort key $k of type $t")
      }
      val c: java.util.Comparator[Row] = (a, b) =>
        if (a.isNullAt(i)) { if (b.isNullAt(i)) 0 else -1 }
        else if (b.isNullAt(i)) 1
        else byValue(a, b)
      c
    }.reduceLeft(_ thenComparing _)

  /** `a` against `b` in the order of their UTF-8 bytes, which is code
    * point order and how Spark sorts strings. `String.compareTo` compares
    * UTF-16 units, which differs only where a surrogate (half of a code
    * point past U+FFFF) meets a unit in U+E000–U+FFFF: moving the
    * surrogates above that range restores code point order without
    * encoding either string. */
  private[graft] def compareUtf8(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) Integer.compare(a.length, b.length)
    else {
      val (x, y) = (a.charAt(i).toInt, b.charAt(i).toInt)
      if (x >= 0xD800 && y >= 0xD800) {
        def shift(c: Int) = if (c >= 0xE000) c - 0x800 else c + 0x2000
        shift(x) - shift(y)
      } else x - y
    }
  }

  /** The grouping keys of `e` that actually reach its chart output under
    * a consuming output's `grouping` context. Zero live keys means the
    * series' group key is the constant ""/":" on every row — either the
    * tags are absent from the table, or the chart drops them by design
    * (raw-path ces-over-tuples: the tags feed the distinct KEY, not the
    * grouping; the metrics sketch_hll ces path KEEPS per-tag grouping).
    * A plan-time fact, so labeling never needs a runtime
    * `group_key === ""` test (which would also catch a grouped series
    * whose single tag is null, masquerading it as the overall series). */
  private def liveKeysOf(e: BaseExpr, grouping: List[String],
      cols: Set[String]): Set[String] = {
    val chartOpts = e.chart.getOrElse(ChartOptions())
    val own = chartOpts.groupBys.toSet
    val present = (k: String) => cols.contains(k) || e.syntheticFields.contains(k)
    val cesOverTuples = chartOpts.aggregation == "ces" &&
      chartOpts.groupBys.exists(present) &&
      !(e.dataset == "metrics" && cols.contains("sketch_hll"))
    if (cesOverTuples) Set.empty
    else grouping.filter(k => own.contains(k) && present(k)).toSet
  }

  /** An output series is effectively ungrouped when EVERY base operand
    * contributes zero live keys — then every joined/pivoted key is the
    * constant "" and the label must fall back to the series label. One
    * grouped operand anywhere makes the key space real (formula joins
    * against "" keys are part of J1's alignment semantics). */
  private def effectivelyUngroupedNode(tables: String => Telemetry,
      node: AstNode, grouping: List[String]): Boolean =
    AstOps.baseExprsIn(node) match {
      case Nil => false
      case bs => bs.forall(b =>
        liveKeysOf(b, grouping, tables(b.dataset).df.columns.toSet).isEmpty)
    }

  /** One series: (step_ts, group_key, value) with the group key built over
    * the formula's final grouping (absent tags → ""). */
  def seriesDf(tables: String => Telemetry, e: BaseExpr,
      finalGrouping: List[String], startMs: Long, endMs: Long,
      stepMs: Long): DataFrame = {
    val tel = tables(e.dataset)
    val c = chart(tel, e, startMs, endMs, stepMs)
    val own = e.chart.map(_.groupBys.toSet).getOrElse(Set.empty)
    val present = c.columns.toSet
    val liveKeys = finalGrouping.filter(k =>
      own.contains(k) && present.contains(k)).toSet
    val keyParts = finalGrouping.map { k =>
      if (liveKeys.contains(k))
        coalesce(FilterCompiler.fieldCol(k).cast("string"), lit(""))
      else lit("")
    }
    val key = if (keyParts.isEmpty) lit("") else concat_ws(":", keyParts: _*)
    c.select(col(STEP_TS), key.as(GROUP_KEY), col(VALUE))
  }

  private def evalNode(tables: String => Telemetry, node: AstNode,
      grouping: List[String], startMs: Long, endMs: Long,
      stepMs: Long): DataFrame = node match {
    case b: BaseExpr => seriesDf(tables, b, grouping, startMs, endMs, stepMs)
    case ConstantExpr(_) =>
      throw new IllegalArgumentException(
        "constant-only formula has no series to align with")
    case Formula(e1, e2, op) =>
      (e1, e2) match {
        case (ConstantExpr(c), right) =>
          applyConst(evalNode(tables, right, grouping, startMs, endMs, stepMs),
            c, op, constOnLeft = true)
        case (left, ConstantExpr(c)) =>
          applyConst(evalNode(tables, left, grouping, startMs, endMs, stepMs),
            c, op, constOnLeft = false)
        case (left, right) =>
          combine(
            evalNode(tables, left, grouping, startMs, endMs, stepMs),
            evalNode(tables, right, grouping, startMs, endMs, stepMs), op)
      }
  }

  /** ConstantExpr pairs with every group of the other side
    * (reference ASTUtils.eval ConstantExpr case, :50-65). */
  private def applyConst(df: DataFrame, c: Double, op: String,
      constOnLeft: Boolean): DataFrame = {
    val v = col(VALUE)
    // div-by-zero drops the bucket (reference Formula.scala:59-63).
    // The zero-denominator filter must run BEFORE the value column is
    // replaced: filtering the withColumn output would test the
    // TRANSFORMED value (c/v), wrongly dropping every bucket of a
    // "0 / a" formula and any bucket whose quotient underflows to 0.
    val base = if (op == "div" && constOnLeft) df.where(v =!= 0.0) else df
    val newV = op match {
      case "add" => v + c
      case "sub" => if (constOnLeft) lit(c) - v else v - c
      case "mul" => v * c
      case "div" => if (constOnLeft) lit(c) / v else v / c
    }
    val out = base.withColumn(VALUE, newV)
    if (op == "div" && !constOnLeft && c == 0.0) out.limit(0) else out
  }

  private def combine(d1: DataFrame, d2: DataFrame, op: String): DataFrame = {
    val l = d1.select(col(STEP_TS), col(GROUP_KEY), col(VALUE).as("_v1"))
    val r = d2.select(col(STEP_TS), col(GROUP_KEY), col(VALUE).as("_v2"))
    op match {
      case "add" =>
        l.join(r, Seq(STEP_TS, GROUP_KEY), "full_outer")
          .select(col(STEP_TS), col(GROUP_KEY),
            (coalesce(col("_v1"), lit(0.0)) + coalesce(col("_v2"), lit(0.0)))
              .as(VALUE))
      case "sub" =>
        l.join(r, Seq(STEP_TS, GROUP_KEY))
          .select(col(STEP_TS), col(GROUP_KEY),
            (col("_v1") - col("_v2")).as(VALUE))
      case "mul" =>
        l.join(r, Seq(STEP_TS, GROUP_KEY))
          .select(col(STEP_TS), col(GROUP_KEY),
            (col("_v1") * col("_v2")).as(VALUE))
      case "div" =>
        l.join(r, Seq(STEP_TS, GROUP_KEY))
          .where(col("_v2") =!= 0.0)
          .select(col(STEP_TS), col(GROUP_KEY),
            (col("_v1") / col("_v2")).as(VALUE))
      case other =>
        throw new IllegalArgumentException(s"unknown formula op $other")
    }
  }
}
