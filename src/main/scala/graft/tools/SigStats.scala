package graft.tools
import org.apache.spark.sql.functions._

/** Signature-duplication probe: how much of the banded-hamming candidate
  * volume is GENUINE near-dup structure (identical / near-identical SRP
  * codes) vs keyspace collision. Prints distinct-signature stats and the
  * true output pair count of the s36 contract at the given dir. */
object SigStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.LocalTuning.session(32).getOrCreate()
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val n = e.count()
    val (w, h) = graft.operators.Dedup.autoSrpParams(n)
    val packed = e.select(col("vec_id"),
      graft.functions.SketchExpressions.srpCodeWide(
        col("embedding").cast("array<double>"), w).as("sig"))
    val sigOcc = packed.groupBy("sig").agg(count(lit(1)).as("c"))
    val top = sigOcc.orderBy(desc("c")).limit(10).collect()
    val distinct = sigOcc.count()
    val dupMass = sigOcc.where(col("c") > 1)
      .agg(coalesce(sum(col("c")), lit(0L))).collect()(0).getLong(0)
    println(s"[sig] n=$n (w=$w,h=$h) distinctSigs=$distinct " +
      s"rowsInDupSigs=$dupMass top10=${top.map(_.getLong(1)).mkString(",")}")
    val pairs = graft.operators.Dedup.hammingNearDuplicatesWide(
      packed, "vec_id", "sig", w, h, maxBucket = Int.MaxValue)
    println(s"[sig] truePairs=${pairs.count()}")
    spark.stop()
  }
}
