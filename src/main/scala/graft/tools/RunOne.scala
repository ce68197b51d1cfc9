package graft.tools

import java.nio.file.{Files, Paths}

/** Targeted verification runner: like graft.Verify but for a named subset
  * of SparkEntry.queries. Writes each result to outDir/<name>/ plus the
  * full oracle_sql.json, so `tools/check.py outDir sfDir` validates just
  * the requested entries.
  *
  * Usage: runMain graft.tools.RunOne <sfDir> <outDir> <name> [name...]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val spark = graft.LocalTuning.session(4).getOrCreate()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(
        name, sys.error(s"unknown query: $name"))
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      println(s"[runone] wrote $outDir/$name")
    }
    val json = graft.JsonOut.obj(graft.SparkEntry.oracleSql, quoteValues = true)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
