package graft.tools

/** Dev tool: dump `explain formatted` of selected SparkEntry queries to
  * stdout for plan review (pushdown, pruning, codegen spans). Usage:
  * runMain graft.tools.ExplainDump <sfDir> [queryName ...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wanted = args.drop(1).toSet
    val spark = graft.LocalTuning.session(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.contains(n) }
      .foreach { case (name, fn) =>
        println(s"\n===================== $name =====================")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
      }
    spark.stop()
  }
}
