package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins the r16 footer-statistics bounds lookup: the incremental
  * entries' SegmentSpan now comes from `Tables.tsBoundsNanos` (parquet
  * footer min/max, no Spark job) with the one-row aggregate as the
  * fallback. int64 footer statistics are exact, so the two paths MUST
  * agree bit-for-bit on every fixture — the emit_seq day grid derives
  * from these values, and any divergence renumbers every replay group
  * and fails the oracle. */
class TsBoundsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"footer ts bounds equal the aggregate bounds on $sf") {
      val dir = s"/root/testdata/$sf"
      val footer = Tables.tsBoundsNanos(spark, dir, "events")
      assert(footer.isDefined,
        "events.parquet must carry usable int64 ts statistics")
      val b = Tables.load(spark, dir, "events")
        .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
      assert(footer.get === ((b.getLong(0), b.getLong(1))))
    }
  }

  test("a table without the ts column yields None, not a bad bound") {
    assert(Tables.tsBoundsNanos(spark, "/root/testdata/sf0.001",
      "documents").isEmpty)
  }

  // --- unit annotations resolved per file (temp-dir fixtures)

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z, millis

  /** Append `n` rows at t0 + i minutes to `dir` as ONE parquet file
    * whose `ts` is a TIMESTAMP written as `outputType`, or a raw int64
    * of epoch nanos when `outputType` is None. */
  private def writeTs(dir: String, from: Int, n: Int,
      outputType: Option[String]): Unit = {
    import spark.implicits._
    val millis = (from until from + n).map(i => t0 + i * 60000L)
    val conf = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(conf)
    try {
      val df = outputType match {
        case Some(t) =>
          spark.conf.set(conf, t)
          millis.map(m => new java.sql.Timestamp(m)).toDF("ts")
        case None => millis.map(_ * 1000000L).toDF("ts")
      }
      df.coalesce(1).write.mode("append").parquet(dir)
    } finally spark.conf.set(conf, prev)
  }

  test("files that disagree on the ts annotation yield None; each " +
    "annotation alone still matches the aggregate") {
    val micros = tempDir("graft_tsbounds")
    writeTs(s"$micros/events.parquet", 0, 10, Some("TIMESTAMP_MICROS"))
    writeTs(s"$micros/events.parquet", 10, 10, Some("TIMESTAMP_MICROS"))
    val b = Tables.load(spark, micros, "events")
      .agg(min(col("ts")), max(col("ts"))).head()
    assert(Tables.tsBoundsNanos(spark, micros, "events") ===
      Some((b.getLong(0), b.getLong(1))))
    assert(b.getLong(0) === t0 * 1000000L)

    val mixed = tempDir("graft_tsbounds")
    writeTs(s"$mixed/events.parquet", 0, 10, Some("TIMESTAMP_MICROS"))
    writeTs(s"$mixed/events.parquet", 10, 10, None)
    assert(Tables.tsBoundsNanos(spark, mixed, "events").isEmpty)
  }

  test("a TIMESTAMP(MILLIS) file yields None, so the aggregate " +
    "fallback runs") {
    val root = tempDir("graft_tsbounds")
    writeTs(s"$root/events.parquet", 0, 10, Some("TIMESTAMP_MILLIS"))
    assert(Tables.tsBoundsNanos(spark, root, "events").isEmpty)
  }
}
