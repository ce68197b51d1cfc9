package graft.tools
object TimeQ {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args.drop(1).toSeq)
    val spark = graft.LocalTuning.session(32).getOrCreate()
    val iters = sys.env.getOrElse("SPARK_GRAFT_TIMEQ_ITERS", "3").toInt
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[timeq] $n $sfDir median=${ts.sorted.apply(ts.size / 2)}%.2f all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
