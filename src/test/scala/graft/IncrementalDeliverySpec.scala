package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ast.AstJson
import graft.engine.{QueryEngine, ReplaySequencer, Telemetry}
import graft.engine.ReplaySequencer.{ReplayGroup, SegmentSpan}

/** Incremental (SSE-style) delivery: the replay sequencer mirrors the
  * reference's SequencingStrategy (discretize → per-interval split →
  * contiguous merge), and evaluateIncremental's batches obey the
  * reference's ordering contract (sealed before unsealed, steps monotone
  * in replay order) while concatenating EXACTLY to the batch result.
  */
class IncrementalDeliverySpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val STEP = 60000L // 1 min

  // ----------------------------------------------------- sequencer unit

  test("a multi-step span splits into per-interval groups at minGroupSize=1") {
    // S1 9:16-9:19 → (9:16,9:17,9:18), the SequencingStrategy.scala:71-76
    // worked example
    val gs = ReplaySequencer.sequence(
      Seq(SegmentSpan("s1", min(16), min(19))), min(0), min(60), STEP, 1)
    assert(gs === List(
      ReplayGroup(min(16), min(17), Seq("s1")),
      ReplayGroup(min(17), min(18), Seq("s1")),
      ReplayGroup(min(18), min(19), Seq("s1"))))
  }
  private def min(m: Long): Long = m * STEP

  test("overlapping segments share interval groups; merge joins " +
    "contiguous intervals until minGroupSize slices") {
    // S1 9:16-9:19, S2 9:17-9:19: intervals 16→(S1), 17→(S1,S2),
    // 18→(S1,S2); minGroupSize=3 merges 16+17 (1+2 slices), then 18
    val gs = ReplaySequencer.sequence(
      Seq(SegmentSpan("s1", min(16), min(19)),
        SegmentSpan("s2", min(17), min(19))),
      min(0), min(60), STEP, minGroupSize = 3)
    assert(gs.map(g => (g.startMs, g.endMs)) ===
      List((min(16), min(18)), (min(18), min(19))))
    assert(gs.head.segmentIds.toSet === Set("s1", "s2"))
  }

  test("non-aligned span bounds floor/ceil to the step grid and clamp " +
    "to the query window") {
    val gs = ReplaySequencer.sequence(
      Seq(SegmentSpan("s", min(16) + 7, min(18) + 1)),
      min(16) + 30, min(60), STEP, minGroupSize = 10)
    // intervals 16,17,18 merge into one (partial flush); start clamps to
    // the query start inside interval 16
    assert(gs === List(ReplayGroup(min(16) + 30, min(19), Seq("s"))))
  }

  test("reverse sequencing emits newest interval groups first") {
    val gs = ReplaySequencer.sequence(
      Seq(SegmentSpan("s", min(10), min(14))), min(0), min(60), STEP,
      minGroupSize = 2, reverse = true)
    assert(gs.map(g => (g.startMs, g.endMs)) ===
      List((min(12), min(14)), (min(10), min(12))))
  }

  test("groups tile the covered window disjointly on step boundaries " +
    "(randomized spans)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val spans = (0 until 1 + rnd.nextInt(6)).map { i =>
        val a = rnd.nextInt(200).toLong * 1000
        SegmentSpan(s"s$i", a, a + 1000 + rnd.nextInt(50000))
      }
      val gs = ReplaySequencer.sequence(spans, 0, 300000, 7000,
        minGroupSize = 1 + rnd.nextInt(4))
      // disjoint, ordered, step-aligned interior bounds
      gs.sliding(2).foreach {
        case List(a, b) => assert(a.endMs <= b.startMs)
        case _ =>
      }
      gs.foreach { g =>
        assert(g.startMs < g.endMs)
        if (g.startMs > 0) assert(g.startMs % 7000 === 0)
        if (g.endMs < 300000) assert(g.endMs % 7000 === 0)
      }
      // coverage: every step interval a span overlaps (within the
      // window) is inside exactly one group
      val covered = spans.flatMap { s =>
        val lo = Math.max(s.startMs / 7000, 0L)
        val hi = Math.min((s.endMs + 6999) / 7000, 300000L / 7000)
        lo until hi
      }.toSet
      covered.foreach { iv =>
        val mid = iv * 7000 + 3500
        assert(gs.count(g => g.startMs <= mid && mid < g.endMs) === 1,
          s"interval $iv spans=$spans groups=$gs")
      }
    }
  }

  // ------------------------------------- end-to-end ordering + equality

  private def mkEvents(n: Int): org.apache.spark.sql.DataFrame = {
    val base = 1704067200000L
    (0 until n).map { i =>
      (base * 1000000L + i.toLong * 97 * 60000L * 1000000L,
        if (i % 3 == 0) "click" else "view", (i % 50) / 2.0,
        s"""{"k": $i}""")
    }.toDF("ts", "event_type", "value", "props")
  }

  private def tel(df: org.apache.spark.sql.DataFrame): Telemetry =
    Telemetry.nanos(df, "ts", valueCol = col("value"),
      message = Some(col("props")))

  private val AST = AstJson.parseAstInput(
    """{"baseExpressions": {"a": {
      |  "dataset": "logs",
      |  "filter": {"k": "event_type", "v": ["click", "view"], "op": "in"},
      |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
      |}}}""".stripMargin)

  test("concatenated incremental batches equal the batch evaluate, " +
    "sealed batches precede the live batch, steps monotone") {
    val ev = mkEvents(400)
    val base = 1704067200000L
    val cut = base + 200L * 97 * 60000 // some mid step boundary-ish cut
    val cutAligned = cut - cut % 3600000 // align to the 1h step grid
    val sealedDf = ev.where(col("ts") < cutAligned * 1000000L)
    val liveDf = ev.where(col("ts") >= cutAligned * 1000000L)
    val bounds = sealedDf.agg(org.apache.spark.sql.functions.min(col("ts")), org.apache.spark.sql.functions.max(col("ts"))).head()
    val span = SegmentSpan("s", bounds.getLong(0) / 1000000L,
      bounds.getLong(1) / 1000000L + 1)
    val start = base
    val end = base + 400L * 97 * 60000
    val batches = QueryEngine.evaluateIncremental(
      _ => tel(sealedDf), AST, start, end, 3600000L, Seq(span),
      minGroupSize = 24, liveTables = Some(_ => tel(liveDf))).toList

    // ordering contract: groups are numbered 0, 1, 2, … in delivery
    // order, the live batch last
    val sealedFlags = batches.map(_.sealedBatch)
    assert(sealedFlags.init.forall(identity) && !sealedFlags.last)
    val seqs = batches.flatMap(_.seqs)
    assert(seqs === seqs.indices.toList)
    val sealedB = batches.init
    sealedB.flatMap(_.groups).sliding(2).foreach {
      case List(a, b) => assert(a.endMs <= b.startMs)
      case _ =>
    }
    // steps monotone ACROSS sealed groups as delivered
    val sealedRows = sealedB.map(_.df).reduce(_ unionByName _)
    val stepsPerGroup = sealedB.flatMap(_.seqs).map(i =>
      sealedRows.where(col(QueryEngine.REPLAY_SEQ) === i)
        .select("step_ts").as[Long].collect().toSeq)
    stepsPerGroup.filter(_.nonEmpty).sliding(2).foreach {
      case Seq(a, b) => assert(a.max < b.min)
      case _ =>
    }

    // concatenation == batch evaluate over the SAME data (sealed+live)
    val concat = batches.map(_.df).reduce(_ unionByName _)
      .select("step_ts", "group_key", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val whole = QueryEngine.evaluate(_ => tel(ev), AST, start, end, 3600000L)
      .select("step_ts", "group_key", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(concat === whole)
  }

  test("formula ASTs tile across replay groups; a zero-denominator " +
    "bucket at a group boundary is dropped, not emitted as Inf") {
    val base = 1704067200000L
    val hour = 3600000L
    // 96 hourly buckets; click numerator = bucket index + 1, view
    // denominator = 2.0 except bucket 24 (= group 1's FIRST bucket at
    // minGroupSize 24), which is zeroed
    val rows = (0 until 96).flatMap { h =>
      val ts = (base + h * hour) * 1000000L + 1000L
      Seq((ts, "click", (h + 1).toDouble, "{}"),
        (ts, "view", if (h == 24) 0.0 else 2.0, "{}"))
    }
    val df = rows.toDF("ts", "event_type", "value", "props")
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {
        |  "a": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["click"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}},
        |  "b": {"dataset": "logs", "returnResults": false,
        |        "filter": {"k": "event_type", "v": ["view"], "op": "eq"},
        |        "chart": {"aggregation": "sum", "groupBys": []}}
        |}, "formulae": ["a / b"]}""".stripMargin)
    val span = SegmentSpan("s", base, base + 96 * hour)
    val batches = QueryEngine.evaluateIncremental(_ => tel(df), ast,
      base, base + 96 * hour, hour, Seq(span), minGroupSize = 24).toList
    assert(batches.flatMap(_.seqs).size === 4)
    // group 1 covers buckets 24-47; its first bucket must be ABSENT
    // (div-by-zero drop), the other 23 present with the right ratio
    val g1 = batches.map(_.df).reduce(_ unionByName _)
      .where(col(QueryEngine.REPLAY_SEQ) === 1)
      .select("step_ts", "value")
      .as[(Long, Double)].collect().toMap
    assert(!g1.contains(base + 24 * hour))
    assert(g1.size === 23)
    (25 until 48).foreach { h =>
      assert(g1(base + h * hour) === (h + 1) / 2.0)
    }
    // no Inf/NaN anywhere, and concatenation == batch formula evaluate
    val concat = batches.map(_.df).reduce(_ unionByName _)
      .select("step_ts", "value")
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(concat.forall { case (_, v) => !v.isInfinite && !v.isNaN })
    val whole = QueryEngine.evaluate(_ => tel(df), ast,
        base, base + 96 * hour, hour)
      .select("step_ts", "value")
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(concat === whole)
    assert(concat.length === 95)
  }

  test("an UNALIGNED sealed/live cut splits the straddled bucket into " +
    "two partial rows whose per-(step,label) SUM equals the batch value") {
    // the reference behaves the same way: a bucket half-sealed at query
    // time arrives as a sealed partial plus a live partial and the UI
    // merges (sum aggregation) — partials must NEVER double-count
    val ev = mkEvents(300)
    val base = 1704067200000L
    val cut = base + 150L * 97 * 60000 + 1234567 // deliberately off-grid
    val sealedDf = ev.where(col("ts") < cut * 1000000L)
    val liveDf = ev.where(col("ts") >= cut * 1000000L)
    val bounds = sealedDf.agg(
      org.apache.spark.sql.functions.min(col("ts")),
      org.apache.spark.sql.functions.max(col("ts"))).head()
    val span = SegmentSpan("s", bounds.getLong(0) / 1000000L,
      bounds.getLong(1) / 1000000L + 1)
    val start = base
    val end = base + 300L * 97 * 60000
    val batches = QueryEngine.evaluateIncremental(
      _ => tel(sealedDf), AST, start, end, 3600000L, Seq(span),
      minGroupSize = 24, liveTables = Some(_ => tel(liveDf))).toList
    val summed = batches.map(_.df).reduce(_ unionByName _)
      .groupBy("step_ts", "group_key")
      .agg(org.apache.spark.sql.functions.sum("value").as("value"))
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getDouble(2)))
      .toMap
    val whole = QueryEngine.evaluate(_ => tel(ev), AST, start, end, 3600000L)
      .collect().map(r => ((r.getAs[Long]("step_ts"),
        r.getAs[String]("group_key")), r.getAs[Double]("value"))).toMap
    assert(summed.keySet === whole.keySet)
    whole.foreach { case (k, v) =>
      assert(math.abs(summed(k) - v) < 1e-9, s"bucket $k double-counted")
    }
  }

  test("reverse incremental delivery emits newest groups first and " +
    "still concatenates to the batch result") {
    val ev = mkEvents(240)
    val bounds = ev.agg(
      org.apache.spark.sql.functions.min(col("ts")),
      org.apache.spark.sql.functions.max(col("ts"))).head()
    val span = SegmentSpan("s", bounds.getLong(0) / 1000000L,
      bounds.getLong(1) / 1000000L + 1)
    val base = 1704067200000L
    val end = base + 240L * 97 * 60000
    val batches = QueryEngine.evaluateIncremental(
      _ => tel(ev), AST, base, end, 3600000L, Seq(span),
      minGroupSize = 24, reverse = true).toList
    assert(batches.flatMap(_.seqs).size > 1)
    batches.flatMap(_.groups).sliding(2).foreach {
      case List(a, b) => assert(b.endMs <= a.startMs,
        s"reverse order violated: $a then $b")
      case _ =>
    }
    val concat = batches.map(_.df).reduce(_ unionByName _)
      .select("step_ts", "group_key", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val whole = QueryEngine.evaluate(_ => tel(ev), AST, base, end, 3600000L)
      .select("step_ts", "group_key", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(concat === whole)
  }

  test("replay groups from a real multi-file segment manifest: concat " +
    "equals batch over the segment relation") {
    // segment landscape: the sf0.001 events split into 6 time-ranged
    // files (the ingest shape); spans come from the SegmentIndex
    // manifest rows — the same (file, min_ts, max_ts) the planner uses
    val segBase = tempDir("graft_inc_segs")
    val ev = Tables.load(spark, SparkTestSession.sfDir, "events")
    ev.repartitionByRange(6, col("ts"))
      .write.mode("overwrite").parquet(segBase)
    val files = new java.io.File(segBase).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(files.size == 6)
    val manifest = graft.sources.SegmentIndex.build(spark, files, "ts",
      c => expr("ts div 1000000"), Seq.empty)
    val spans = manifest.select("file", "min_ts", "max_ts").collect()
      .map(r => SegmentSpan(r.getString(0), r.getLong(1), r.getLong(2) + 1))
      .toSeq
    val rel = spark.read.parquet(files: _*)
    val relTel = Telemetry.nanos(rel, "ts", valueCol = col("value"),
      message = Some(col("props")))
    val start = 1704067200000L
    val end = start + 31L * 86400000L
    val batches = QueryEngine.evaluateIncremental(
      _ => relTel, AST, start, end, 86400000L, spans,
      minGroupSize = 3).toList
    assert(batches.flatMap(_.seqs).size > 1, "expected multiple replay groups")
    val concat = batches.map(_.df).reduce(_ unionByName _)
      .select("step_ts", "group_key", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val whole = QueryEngine.evaluate(_ => relTel, AST, start, end, 86400000L)
      .select("step_ts", "group_key", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(concat === whole)
  }

  test("streamRows delivers (seq, sealed, row) in replay order") {
    val ev = mkEvents(120)
    val bounds = ev.agg(org.apache.spark.sql.functions.min(col("ts")), org.apache.spark.sql.functions.max(col("ts"))).head()
    val span = SegmentSpan("s", bounds.getLong(0) / 1000000L,
      bounds.getLong(1) / 1000000L + 1)
    val base = 1704067200000L
    val rows = QueryEngine.streamRows(QueryEngine.evaluateIncremental(
      _ => tel(ev), AST, base, base + 120L * 97 * 60000, 3600000L,
      Seq(span), minGroupSize = 48)).toList
    assert(rows.nonEmpty)
    // seq non-decreasing; within a seq, (step_ts, label) non-decreasing
    rows.sliding(2).foreach {
      case List((s1, _, r1), (s2, _, r2)) =>
        assert(s1 <= s2)
        if (s1 == s2) {
          val (t1, t2) = (r1.getAs[Long]("step_ts"), r2.getAs[Long]("step_ts"))
          assert(t1 < t2 || t1 == t2 &&
            r1.getAs[String]("label") <= r2.getAs[String]("label"))
        }
      case _ =>
    }
  }
}
