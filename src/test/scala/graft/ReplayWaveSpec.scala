package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ast.{ASTInput, AstJson}
import graft.engine.{QueryEngine, ReplaySequencer, Telemetry, WaveScheduler}
import graft.engine.ReplaySequencer.SegmentSpan

/** Replay waves: incremental delivery runs 1, 2, 4, … replay groups per
  * Spark query and tags each row with its group's `replay_seq`. Every
  * incremental result must equal a per-group reference built here from
  * one plain `evaluate` / `tagValues` / sketch per group — the
  * per-group emission the waves replace — and an 18-group replay must
  * cost a handful of query job sets, not 18. */
class ReplayWaveSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00:00Z

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).get

  // ------------------------------------------------------------ waves

  test("waves are 1, 2, 4, … contiguous groups in order, the last " +
    "taking the rest; every group appears exactly once") {
    assert(ReplaySequencer.waves(Nil) === Nil)
    assert(ReplaySequencer.waves(0 until 8).map(_.size) === List(1, 2, 4, 1))
    assert(ReplaySequencer.waves(0 until 18).map(_.size) ===
      List(1, 2, 4, 8, 3))
    assert(ReplaySequencer.waves(0 until 90).size === 7)
    assert(ReplaySequencer.waves(0 until 72).size === 7)
    (0 until 200).foreach { i =>
      val n = sample(Gen.chooseNum(0, 2000), i.toLong)
      val ws = ReplaySequencer.waves((0 until n).toList)
      assert(ws.flatten === (0 until n).toList, s"n=$n")
      ws.zipWithIndex.foreach { case (w, k) =>
        if (k < ws.size - 1) assert(w.size === (1 << k), s"n=$n wave $k")
        else assert(w.nonEmpty && w.size <= (1 << k), s"n=$n last wave")
        // wave k starts at group 2^k − 1
        assert(w.head === (1 << k) - 1, s"n=$n wave $k")
      }
      // ⌈log2(n + 1)⌉ waves
      assert(ws.size === 32 - Integer.numberOfLeadingZeros(n), s"n=$n")
    }
  }

  // ------------------------------------------- chart: waves == per group

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
    "ratio" -> AstJson.parseAstInput(
      """{"baseExpressions": {
        |  "a": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["click"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}},
        |  "b": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["view"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}}
        |}, "formulae": ["a / b"]}""".stripMargin))

  /** One random replay: a step, a window (its start possibly off the
    * step grid), events around it (values are quarters, so every sum is
    * exact in any order), segment spans with gaps, a minGroupSize, a
    * direction and an optional live tail cut. */
  private case class Scenario(stepMs: Long, startMs: Long, endMs: Long,
      events: Seq[(Long, String, Double)], spans: Seq[SegmentSpan],
      minGroupSize: Int, reverse: Boolean, liveCutMs: Option[Long])

  private val scenarioGen: Gen[Scenario] = for {
    stepMs <- Gen.oneOf(60000L, 300000L, 3600000L)
    nSteps <- Gen.chooseNum(12, 40)
    startOff <- Gen.oneOf(Gen.const(0L), Gen.chooseNum(1L, stepMs - 1))
    nEvents <- Gen.chooseNum(150, 400)
    events <- Gen.listOfN(nEvents, for {
      t <- Gen.chooseNum(-stepMs, (nSteps + 1) * stepMs)
      k <- Gen.oneOf("click", "view", "buy")
      v <- Gen.chooseNum(0, 200)
    } yield (base + t, k, v / 4.0))
    nSpans <- Gen.chooseNum(1, 4)
    spans <- Gen.listOfN(nSpans, for {
      a <- Gen.chooseNum(-2L, nSteps.toLong)
      len <- Gen.chooseNum(1L, 10L)
      jitter <- Gen.chooseNum(0L, stepMs - 1)
    } yield (a * stepMs + jitter, (a + len) * stepMs + jitter / 2))
    minGroupSize <- Gen.chooseNum(1, 4)
    reverse <- Gen.oneOf(false, true)
    live <- Gen.oneOf(false, true)
    cut <- Gen.chooseNum(nSteps / 2, nSteps)
  } yield Scenario(stepMs, base + startOff, base + nSteps * stepMs,
    events,
    spans.zipWithIndex.map { case ((a, b), i) =>
      SegmentSpan(s"s$i", base + a, base + b) },
    minGroupSize, reverse,
    if (live) Some(base + cut * stepMs) else None)

  private type SeqRow = (Int, Long, String, Double)

  private def seqRows(df: DataFrame, seq: org.apache.spark.sql.Column)
      : Seq[SeqRow] =
    df.select(seq.cast("int"), col("step_ts"), col("group_key"),
        round(col("value"), 6))
      .as[SeqRow].collect().toSeq.sortBy(r => (r._1, r._2, r._3, r._4))

  for ((kind, ast) <- asts.toSeq.sortBy(_._1); i <- 0 until 6) {
    test(s"$kind replay $i: wave rows equal the per-group evaluate rows") {
      val sc = sample(scenarioGen, 31L * i + kind.hashCode)
      val all = sc.events.map { case (t, k, v) =>
        (t * 1000000L + 17L, k, v, "{}") }
        .toDF("ts", "event_type", "value", "props")
      val (sealedDf, liveDf) = sc.liveCutMs match {
        case Some(c) => (all.where(col("ts") < c * 1000000L),
          Some(all.where(col("ts") >= c * 1000000L)))
        case None => (all, None)
      }
      val groups = ReplaySequencer.sequence(sc.spans, sc.startMs, sc.endMs,
        sc.stepMs, sc.minGroupSize, sc.reverse)
      val batches = QueryEngine.evaluateIncremental(_ => tel(sealedDf), ast,
        sc.startMs, sc.endMs, sc.stepMs, sc.spans, sc.minGroupSize,
        sc.reverse, liveDf.map(l => (_: String) => tel(l))).toList
      assert(batches.size ===
        ReplaySequencer.waves(groups).size + liveDf.size, sc.toString)

      val perGroup = groups.zipWithIndex.map { case (g, j) =>
          QueryEngine.evaluate(_ => tel(sealedDf), ast, g.startMs, g.endMs,
            sc.stepMs).withColumn("_seq", lit(j))
        } ++ liveDf.map(l => QueryEngine.evaluate(_ => tel(l), ast,
          sc.startMs, sc.endMs, sc.stepMs).withColumn("_seq", lit(groups.size)))
      val expected =
        if (perGroup.isEmpty) Nil
        else seqRows(perGroup.reduce(_ unionByName _), col("_seq"))
      val got =
        if (batches.isEmpty) Nil
        else seqRows(batches.map(_.df).reduce(_ unionByName _),
          col(QueryEngine.REPLAY_SEQ))
      assert(got === expected, sc.toString)

      // delivered order: seq non-decreasing, step_ts within a seq too
      val delivered = QueryEngine.streamRows(batches.iterator).toList
      assert(delivered.map(_._1) === delivered.map(_._1).sorted)
      delivered.sliding(2).foreach {
        case List((s1, _, r1), (s2, _, r2)) if s1 == s2 =>
          assert(r1.getAs[Long]("step_ts") <= r2.getAs[Long]("step_ts"))
        case _ =>
      }
      assert(delivered.map(_._2) ===
        delivered.map(d => !liveDf.isDefined || d._1 < groups.size))
    }
  }

  // ------------------------------------------------- tags, cardinality

  private val hour = 3600000L

  /** 48 hourly steps of events over ten skewed service values and
    * ~1500 distinct users, enough to take the lgK-12 HLL sketches out of
    * their exact modes. */
  private lazy val tagEvents: DataFrame = {
    val rnd = new scala.util.Random(11)
    (0 until 3000).map { i =>
      val h = rnd.nextInt(48)
      val svc = s"svc${math.min(rnd.nextInt(10), rnd.nextInt(10))}"
      ((base + h * hour + rnd.nextInt(3600000)) * 1000000L, svc,
        s"u${rnd.nextInt(1500)}", 1.0, "{}")
    }.toDF("ts", "service", "user_id", "value", "props")
  }
  private val spanGap = Seq(SegmentSpan("a", base, base + 20 * hour),
    SegmentSpan("b", base + 26 * hour, base + 48 * hour))
  private val anyService = AstJson.parseBaseExpr(
    """{"id": "a", "dataset": "logs",
      |  "filter": {"k": "service", "op": "exists"}}""".stripMargin)

  /** Twelve hours of 1200 events each over 2000 skewed values: a
    * 3-hour group holds well over DefaultTagLimit distinct values. */
  private lazy val wideTags: DataFrame = {
    val rnd = new scala.util.Random(5)
    (0 until 12 * 1200).map { i =>
      ((base + (i / 1200) * hour + rnd.nextInt(3600000)) * 1000000L,
        s"v${math.min(rnd.nextInt(2000), rnd.nextInt(2000))}", 1.0, "{}")
    }.toDF("ts", "k", "value", "props")
  }
  private val anyK = AstJson.parseBaseExpr(
    """{"id": "a", "dataset": "logs",
      |  "filter": {"k": "k", "op": "exists"}}""".stripMargin)

  test("tags: each group keeps its top DefaultTagLimit values by count, " +
    "first-seen dedup across groups, equal to per-group tagValues") {
    val wideSpans = Seq(SegmentSpan("a", base, base + 5 * hour),
      SegmentSpan("b", base + 6 * hour, base + 12 * hour))
    val cases = Seq(
      (tel(tagEvents), anyService, "service", spanGap, 48, 1),
      (tel(tagEvents), anyService, "service", spanGap, 48, 3),
      (tel(wideTags), anyK, "k", wideSpans, 12, 3))
    for ((t, e, tag, spans, hours, minGroupSize) <- cases) {
      val end = base + hours * hour
      val groups = ReplaySequencer.sequence(spans, base, end, hour,
        minGroupSize)
      val seen = scala.collection.mutable.HashSet[String]()
      val expected = groups.zipWithIndex.map { case (g, i) =>
        val vals = QueryEngine.tagValues(t, e, tag, g.startMs, g.endMs)
          .collect().map(_.getString(0))
        val fresh = vals.filterNot(seen.contains).sorted.toSeq
        seen ++= fresh
        (i, fresh)
      }
      val got = QueryEngine.tagValuesIncremental(t, e, tag, base, end, hour,
        spans, minGroupSize).toList
      assert(got === expected, s"tag=$tag minGroupSize=$minGroupSize")
    }
    // the wide groups really are cut by the limit
    assert(QueryEngine.tagValues(tel(wideTags), anyK, "k", base,
      base + 3 * hour, limit = 5000).count() > QueryEngine.DefaultTagLimit)
  }

  test("cardinality: one running estimate per group, empty groups " +
    "included, equal to the per-group sketch union") {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val t = tel(tagEvents)
    // a span over hours with no events makes some groups empty
    val spans = spanGap :+ SegmentSpan("empty", base + 60 * hour,
      base + 64 * hour)
    val end = base + 64 * hour
    val keys = Seq("service", "user_id")
    for (minGroupSize <- Seq(1, 4)) {
      val groups = ReplaySequencer.sequence(spans, base, end, hour,
        minGroupSize)
      val union = new Union(12)
      val expected = groups.zipWithIndex.map { case (g, i) =>
        val bytes = QueryEngine.prepared(t, anyService, g.startMs, g.endMs)
          .agg(graft.functions.SketchInteropFunctions.dsHllSketch(
            concat_ws(":", keys.map(k =>
              coalesce(col(k).cast("string"), lit(""))): _*)))
          .head().getAs[Array[Byte]](0)
        if (bytes != null) union.update(HllSketch.heapify(bytes))
        (i, union.getCompositeEstimate)
      }
      val got = QueryEngine.cardinalityIncremental(t, anyService, keys,
        base, end, hour, spans, minGroupSize).toList
      assert(got.size === groups.size)
      assert(got === expected, s"minGroupSize=$minGroupSize")
      assert(got.last._2 > 1000) // HLL mode, not an exact coupon list
    }
  }

  // ------------------------------------------------------ job economy

  test("an 18-group chart replay runs at most 5x the Spark jobs of one " +
    "single-group evaluate") {
    val t = tel(tagEvents)
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {"dataset": "logs",
        |  "filter": {"k": "service", "op": "exists"},
        |  "chart": {"aggregation": "sum", "groupBys": ["service"]}
        |}}}""".stripMargin)
    val span = Seq(SegmentSpan("s", base, base + 18 * hour))
    val groups = ReplaySequencer.sequence(span, base, base + 18 * hour,
      hour, 1)
    assert(groups.size === 18)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.computeIfAbsent(g,
            _ => new java.util.concurrent.atomic.AtomicInteger())
            .incrementAndGet())
    }
    def jobsOf(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBridge.flushListeners(sc)
      Option(jobs.get(group)).map(_.get).getOrElse(0)
    }
    sc.addSparkListener(listener)
    try {
      // warm both plan shapes once so neither side pays first compiles
      QueryEngine.streamRows(QueryEngine.evaluateIncremental(_ => t, ast,
        base, base + 18 * hour, hour, span)).foreach(_ => ())
      val one = jobsOf("wave-one") {
        val it = QueryEngine.evaluate(_ => t, ast, groups.head.startMs,
          groups.head.endMs, hour).toLocalIterator()
        while (it.hasNext) it.next()
      }
      val replay = jobsOf("wave-replay") {
        QueryEngine.streamRows(QueryEngine.evaluateIncremental(_ => t, ast,
          base, base + 18 * hour, hour, span)).foreach(_ => ())
      }
      assert(one > 0)
      assert(replay <= 5 * one, s"replay ran $replay jobs, one group $one")
    } finally sc.removeSparkListener(listener)
  }

  // ------------------------------------------------------------ schedule

  private val sumByService = AstJson.parseAstInput(
    """{"baseExpressions": {"a": {"dataset": "logs",
      |  "filter": {"k": "service", "op": "exists"},
      |  "chart": {"aggregation": "sum", "groupBys": ["service"]}
      |}}}""".stripMargin)

  /** Run `body` under job group `group`, scheduler pool `pool` and
    * interrupt-on-cancel, as `QueryHttpApi` runs a request. */
  private def asCaller[T](group: String, pool: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = true)
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try body finally {
      sc.clearJobGroup()
      sc.setLocalProperty("spark.scheduler.pool", null)
    }
  }

  test("an 18-group chart replay runs wave 0 alone, then overlaps the " +
    "later waves under the caller's job group and pool; 10 jobs") {
    val t = tel(tagEvents)
    val span = Seq(SegmentSpan("s", base, base + 18 * hour))
    def replay(): Unit = QueryEngine.streamRows(QueryEngine
      .evaluateIncremental(_ => t, sumByService, base, base + 18 * hour,
        hour, span)).foreach(_ => ())
    replay() // warm: no first compiles inside the logged run
    val jobs = JobLog.during(spark.sparkContext) { log =>
      asCaller("wave-schedule", "wave-pool")(replay())
      log.all
    }
    // 5 waves × (aggregate stage, one result job over the sorted
    // partitions): no range sampling, no sort exchange
    assert(jobs.size === 10, jobs.mkString("\n"))
    assert(jobs.forall(j => j.group == "wave-schedule" &&
      j.pool == "wave-pool"), jobs.mkString("\n"))
    val pooled = jobs.filter(
      _.tags.exists(_.startsWith(WaveScheduler.JobTagPrefix)))
    assert(pooled.nonEmpty)
    // wave 0 runs on the caller, before anything is submitted to the pool
    val (wave0, later) = jobs.span(j => !pooled.contains(j))
    assert(wave0.size === 2, jobs.mkString("\n"))
    assert(later.map(_.start).min >= wave0.map(_.end).max,
      jobs.mkString("\n"))
    assert(pooled.combinations(2).exists { case Seq(a, b) => a.overlaps(b) },
      s"no two later-wave jobs overlap:\n${jobs.mkString("\n")}")
  }

  test("an 18-group tags replay runs 10 jobs: per wave its aggregate " +
    "stage and one result job, no exchange by replay_seq") {
    val t = tel(tagEvents)
    val span = Seq(SegmentSpan("s", base, base + 18 * hour))
    def replay(): Unit = QueryEngine.tagValuesIncremental(t, anyService,
      "service", base, base + 18 * hour, hour, span).foreach(_ => ())
    replay() // warm
    val jobs = JobLog.during(spark.sparkContext) { log =>
      asCaller("tags-schedule", "wave-pool")(replay())
      log.all
    }
    assert(jobs.size === 10, jobs.mkString("\n"))
    assert(jobs.forall(_.group == "tags-schedule"), jobs.mkString("\n"))
  }

  /** Global sorts and range exchanges in an executed adaptive plan:
    * its final plan, query stages included. */
  private def globalSorts(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Walk extends
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Walk.collect(df.queryExecution.executedPlan) {
      case s: SortExec if s.global => s.nodeName
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
        e.nodeName
    }
  }

  test("neither the batch /graph frame nor a chart wave runs a global " +
    "sort: no RangePartitioning exchange, no global SortExec") {
    val t = tel(tagEvents)
    val end = base + 18 * hour
    val batch = QueryEngine.evaluateRuns(_ => t, sumByService, base, end, hour)
    assert(QueryEngine.mergeRuns(batch, QueryEngine.ChartOrder).nonEmpty)
    assert(globalSorts(batch) === Nil, batch.queryExecution.executedPlan)
    val waves = QueryEngine.evaluateIncremental(_ => t, sumByService, base,
      end, hour, Seq(SegmentSpan("s", base, end))).toList
    assert(QueryEngine.streamRows(waves.iterator).size ===
      QueryEngine.evaluate(_ => t, sumByService, base, end, hour).count())
    waves.foreach(w =>
      assert(globalSorts(w.df) === Nil, w.df.queryExecution.executedPlan))
    // the check itself sees the batch reference's global sort
    val sorted = QueryEngine.evaluate(_ => t, sumByService, base, end, hour)
    sorted.collect()
    assert(globalSorts(sorted).nonEmpty)
  }

  test("a failing wave 2 surfaces its own error from the chart, tags and " +
    "cardinality iterators promptly; no job of the caller outlives it") {
    // 18 hourly groups → waves [0] [1-2] [3-6] [7-14] [15-17]. Rows of
    // hours 3-6 throw inside a UDF; one row of the last wave sleeps 20 s,
    // so that wave is still running when wave 2 fails. An RDD-backed
    // frame keeps the UDF in tasks: over a local relation the optimizer
    // would evaluate it on the driver, at planning time.
    val slowMs = tagEvents.select((col("ts") / 1000000L).cast("long"))
      .as[Long].collect().filter(ms => (ms - base) / hour == 16).min
    val (b, hr) = (base, hour) // the UDF must not capture the suite
    val hostile = udf { (ms: Long) =>
      val h = (ms - b) / hr
      if (h >= 3 && h < 7) throw new IllegalStateException("wave-2 row")
      if (ms == slowMs) Thread.sleep(20000)
      ms
    }
    val t = Telemetry(spark.createDataFrame(tagEvents.rdd, tagEvents.schema),
      hostile(expr("ts div 1000000")),
      (s, e) => col("ts") >= s * 1000000L && col("ts") < e * 1000000L,
      col("value"), Some(col("props")))
    val span = Seq(SegmentSpan("s", base, base + 18 * hour))
    val end = base + 18 * hour
    val kinds: Seq[(String, () => Unit)] = Seq(
      "chart" -> (() => QueryEngine.streamRows(QueryEngine
        .evaluateIncremental(_ => t, sumByService, base, end, hour, span))
        .foreach(_ => ())),
      "tags" -> (() => QueryEngine.tagValuesIncremental(t, anyService,
        "service", base, end, hour, span).foreach(_ => ())),
      "cardinality" -> (() => QueryEngine.cardinalityIncremental(t,
        anyService, Seq("user_id"), base, end, hour, span)
        .foreach(_ => ())))
    for ((kind, run) <- kinds) {
      JobLog.during(spark.sparkContext) { log =>
        val t0 = System.nanoTime()
        val err = intercept[Exception](asCaller(kind, kind)(run()))
        val secs = (System.nanoTime() - t0) / 1e9
        assert(!err.isInstanceOf[java.util.concurrent.CompletionException],
          kind)
        assert(Iterator.iterate[Throwable](err)(_.getCause)
          .takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains("wave-2 row")),
          s"$kind: $err")
        val mine = log.all.filter(_.group == kind)
        assert(secs < 15,
          s"$kind: the error took $secs s:\n${mine.mkString("\n")}")
        assert(mine.nonEmpty)
        assert(mine.forall(_.end != Long.MaxValue),
          s"$kind: jobs still running:\n${mine.mkString("\n")}")
      }
    }
  }
}
