package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalTuning.session(4).getOrCreate()
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated subset for local iteration (mirrors
    // SPARK_GRAFT_BENCH_ONLY); the driver leaves it unset and dumps all.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a PREVIOUS run's parquet behind —
        // the driver would hash stale-but-correct data and report the
        // broken query green
        deleteRecursively(new java.io.File(s"$outDir/$name"))
      }
    }
    val json = JsonOut.obj(SparkEntry.oracleSql, quoteValues = true)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
