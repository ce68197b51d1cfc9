package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: component timings for the exact-quantile selection shape
  * (a15). Times the narrow scan alone, the range exchange, and the
  * exchange + reduce sort, to attribute the serial scan-stage cost. */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.LocalTuning.session(32).getOrCreate()
    def narrow = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_returnflag").cast("string").as("_g"),
        col("l_extendedprice").cast("double").as("_v"))
      .where(col("_g").isNotNull && col("_v").isNotNull)
    def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      mk.write.format("noop").mode("overwrite").save() // warm
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[qprobe] $name median=${ts.sorted.apply(2)}%.3f " +
        s"all=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    time("scan_only")(narrow)
    time("scan_range32")(narrow.repartitionByRange(32, col("_g"), col("_v")))
    time("small_collect_sort") {
      narrow.groupBy(col("_g"))
        .agg(sort_array(collect_list(col("_v"))).as("vs"))
        .select(col("_g"),
          element_at(col("vs"), (floor(lit(0.5) * (size(col("vs")) - 1)) + 1)
            .cast("int")).as("p50"),
          element_at(col("vs"), (floor(lit(0.95) * (size(col("vs")) - 1)) + 1)
            .cast("int")).as("p95"))
        .orderBy("_g")
    }
    spark.stop()
  }
}
