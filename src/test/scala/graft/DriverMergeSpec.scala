package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ast.AstJson
import graft.engine.{QueryEngine, Telemetry}
import graft.engine.ReplaySequencer.SegmentSpan

/** The serving path orders chart rows on the driver: each partition is
  * sorted, and `QueryEngine.mergeRuns` merges the partitions. What it
  * emits must equal `orderBy` row for row — on the batch `/graph` frame,
  * on the concatenated replay waves forward and reverse, and on the live
  * tail. The fixture keeps several post-aggregate partitions (AQE's
  * coalescing is off here, and the count is asserted), holds ties on
  * (step, label), a grouped series whose tag is null, and labels whose
  * UTF-16 and UTF-8 orders disagree. Tags waves merge on the driver too:
  * each partition's top values per group, cut inside a tie. */
class DriverMergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // U+FF5E sorts before U+1F600 in UTF-8 (and code points), after it in
  // UTF-16 units: a String.compareTo merge swaps their series
  private val fullwidth = "\uFF5E"
  private val emoji = "\uD83D\uDE00" // U+1F600
  private val services = Seq(fullwidth, emoji, "a", "b", null, "z" + emoji)

  private lazy val events: DataFrame = {
    val rnd = new scala.util.Random(3)
    (0 until 24 * 40).map { i =>
      val svc = services(rnd.nextInt(services.size))
      ((base + (i / 40) * hour + rnd.nextInt(3600000)) * 1000000L,
        if (rnd.nextBoolean()) "click" else "view", svc,
        rnd.nextInt(40) / 4.0, "{}")
    }.toDF("ts", "event_type", "svc", "value", "props")
  }

  private def tel(df: DataFrame): Telemetry =
    Telemetry.nanos(df, "ts", valueCol = col("value"),
      message = Some(col("props")))

  // two returning series grouped the same way: equal (step, label) ties
  private val ast = AstJson.parseAstInput(
    """{"baseExpressions": {
      |  "a": {"dataset": "logs",
      |        "filter": {"k": "event_type", "v": ["click", "view"], "op": "in"},
      |        "chart": {"aggregation": "sum", "groupBys": ["svc"]}},
      |  "b": {"dataset": "logs",
      |        "filter": {"k": "event_type", "v": ["click"], "op": "eq"},
      |        "chart": {"aggregation": "count", "groupBys": ["svc"]}}
      |}}""".stripMargin)

  /** Run `body` with AQE's partition coalescing off, so the small
    * fixture keeps every post-aggregate partition. */
  private def unCoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  private def nonEmptyPartitions(df: DataFrame): Long =
    df.select(spark_partition_id()).distinct().count()

  /** Rows as comparable tuples. Rows tied on every sort key keep their
    * positions as a run, sorted inside it: `orderBy` leaves the order of
    * tied rows open, so only the run's contents are compared. */
  private def canonical(rows: Seq[Row], keys: Seq[String])
      : Seq[Seq[Any]] = {
    val tuples = rows.map(r => r.toSeq)
    val idx = keys.map(k => rows.headOption.map(_.fieldIndex(k)).getOrElse(0))
    def key(t: Seq[Any]) = idx.map(t(_))
    val out = Seq.newBuilder[Seq[Any]]
    var i = 0
    while (i < tuples.size) {
      val k = key(tuples(i))
      val run = tuples.drop(i).takeWhile(t => key(t) == k)
      out ++= run.sortBy(_.mkString("\u0000"))
      i += run.size
    }
    out.result()
  }

  test("the batch /graph frame, merged on the driver, equals orderBy " +
    "row for row") {
    unCoalesced {
      val t = tel(events)
      val end = base + 24 * hour
      val runs = QueryEngine.evaluateRuns(_ => t, ast, base, end, hour)
      assert(nonEmptyPartitions(runs) >= 2)
      val got = QueryEngine.mergeRuns(runs, QueryEngine.ChartOrder).toSeq
      val expected = QueryEngine.evaluate(_ => t, ast, base, end, hour)
        .collect().toSeq
      assert(canonical(got, QueryEngine.ChartOrder) ===
        canonical(expected, QueryEngine.ChartOrder))
      // the fixture holds what the merge order must get right
      val labels = got.map(_.getAs[String]("label"))
      assert(labels.contains("") && labels.contains(fullwidth) &&
        labels.contains(emoji))
      assert(fullwidth.compareTo(emoji) > 0)
      assert(got.sliding(2).exists { case Seq(a, b) =>
        a.getAs[Long]("step_ts") == b.getAs[Long]("step_ts") &&
          a.getAs[String]("label") == b.getAs[String]("label")
      }, "no (step, label) tie")
    }
  }

  for (reverse <- Seq(false, true); live <- Seq(false, true)) {
    val kind = (if (reverse) "reverse" else "forward") +
      (if (live) " with a live tail" else "")
    test(s"replay waves ($kind) emit the orderBy of their batches, row " +
      "for row") {
      unCoalesced {
        val cut = base + 17 * hour
        val (sealedDf, liveDf) =
          if (live) (events.where(col("ts") < cut * 1000000L),
            Some(events.where(col("ts") >= cut * 1000000L)))
          else (events, None)
        val span = Seq(SegmentSpan("s", base, base + 24 * hour))
        val batches = QueryEngine.evaluateIncremental(_ => tel(sealedDf), ast,
          base, base + 24 * hour, hour, span, minGroupSize = 2,
          reverse = reverse, liveTables = liveDf.map(l => (_: String) => tel(l)))
          .toList
        assert(batches.size >= 4)
        assert(nonEmptyPartitions(batches.last.df) >= 2)
        val got = QueryEngine.streamRows(batches.iterator).toList
        val expected = batches.map(_.df).reduce(_ unionByName _)
          .orderBy(QueryEngine.ReplayOrder.map(col): _*).collect().toSeq
        assert(canonical(got.map(_._3), QueryEngine.ReplayOrder) ===
          canonical(expected, QueryEngine.ReplayOrder))
        // sealed groups first, the live batch last
        assert(got.map(_._2) === got.map(g => !live || g._1 < batches.last.firstSeq))
        assert(got.map(_._1).distinct.size > 4)
      }
    }
  }

  private val anyK = AstJson.parseBaseExpr(
    """{"id": "a", "dataset": "logs",
      |  "filter": {"k": "k", "op": "exists"}}""".stripMargin)

  test("tags: counts tied across the limit boundary and across " +
    "partitions cut as per-group tagValues does") {
    // per hour: 600 values seen twice, then 600 seen once, so the cut at
    // DefaultTagLimit falls inside a tie of count 1 that spans every
    // partition. The tied values start with U+FF5E or U+1F600, whose
    // UTF-16 order is the reverse of Spark's (UTF-8) order: only the
    // latter keeps every U+FF5E value and the first 100 U+1F600 ones.
    val tied = Seq("\uFF5E", "\uD83D\uDE00")
    val rows = for {
      h <- 0 until 2
      i <- 0 until 600
      (v, n) <- Seq(f"t$h-$i%03d" -> 2, f"${tied(i % 2)}$h-$i%03d" -> 1)
      k <- 0 until n
    } yield ((base + h * hour + i * 1000L + k) * 1000000L, v, 1.0, "{}")
    val t = tel(rows.toDF("ts", "k", "value", "props"))
    unCoalesced {
      val end = base + 2 * hour
      val spans = Seq(SegmentSpan("s", base, end))
      val expected = (0 until 2).map { h =>
        (h, QueryEngine.tagValues(t, anyK, "k", base + h * hour,
          base + (h + 1) * hour).collect().map(_.getString(0)).sorted.toSeq)
      }
      assert(expected.forall(_._2.size === QueryEngine.DefaultTagLimit))
      assert(expected.head._2.count(_.startsWith(tied(0))) === 300)
      val got = QueryEngine.tagValuesIncremental(t, anyK, "k", base, end,
        hour, spans).toList
      assert(got === expected)
      // the count-1 tie is spread over several partitions
      assert(QueryEngine.prepared(t, anyK, base, base + hour)
        .groupBy("k").count().where(col("count") === 1)
        .select(spark_partition_id()).distinct().count() >= 2)
    }
  }

  test("compareUtf8 orders strings as UTF8String does") {
    // BMP units on both sides of the surrogate block, and code points
    // past U+FFFF (U+10000, U+1F600, U+10FFFF)
    val unit = Gen.oneOf('a', 'c', '\uD7FF', '\uE000', '\uFF5E', '\uFFFF')
    val str = Gen.listOf(Gen.frequency(4 -> unit.map(_.toString),
      1 -> Gen.oneOf("\uD800\uDC00", emoji, "\uDBFF\uDFFF")))
      .map(_.take(5).mkString)
    (0 until 2000).foreach { i =>
      val p = Gen.Parameters.default
      val a = str(p, Seed(2L * i)).get
      val b = str(p, Seed(2L * i + 1)).get
      val want = Integer.signum(
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
      assert(Integer.signum(QueryEngine.compareUtf8(a, b)) === want,
        s"'$a' vs '$b'")
    }
  }
}
