package graft.tools
import org.apache.spark.sql.functions._

/** Bucket-occupancy probe for the banded-hamming join: per band of the
  * density-scaled SRP signature, the hot-bucket tail (max / p99.9 /
  * count over maxBucket) — the number that decides whether a capped
  * bucket is a skew guard firing correctly or recall silently lost.
  * Usage: runMain graft.tools.BandOccupancy <sfDir> [maxBucket] */
object BandOccupancy {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val maxBucket = args.drop(1).headOption.map(_.toInt).getOrElse(1000)
    val spark = graft.LocalTuning.session(32).getOrCreate()
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val n = e.count()
    val (w, h) = graft.operators.Dedup.autoSrpParams(n)
    val nChunks = h + 1
    println(s"[occ] n=$n width=$w radius=$h chunks=$nChunks " +
      s"chunkBits=${w / nChunks} keyspace=${1L << (w / nChunks)} " +
      s"4n=${4 * n}")
    val occ = e.select(
        graft.functions.SketchExpressions.srpCodeWide(
          col("embedding").cast("array<double>"), w).as("sig"))
      .select(posexplode(graft.functions.SketchExpressions
        .bitChunks(col("sig"), w, nChunks)).as(Seq("band", "key")))
      .groupBy("band", "key").agg(count(lit(1)).as("occ"))
    occ.groupBy("band").agg(
        max(col("occ")).as("max_occ"),
        expr("percentile_approx(occ, 0.999)").as("p999"),
        sum(when(col("occ") > maxBucket, 1).otherwise(0)).as("over_cap"),
        // otherwise(0L): without it sum() over zero matching rows is
        // NULL, ambiguous output in the probe whose job is deciding
        // whether cap loss exists (ADVICE r12)
        sum(when(col("occ") > maxBucket, col("occ")).otherwise(lit(0L)))
          .as("rows_in_over"),
        count(lit(1)).as("buckets"))
      .orderBy("band")
      .show(32, truncate = false)
    spark.stop()
  }
}
