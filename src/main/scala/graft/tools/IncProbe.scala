package graft.tools

/** Dev probe: driver-side build cost vs execution cost of the
  * ast_incremental_* family (VERDICT r16 item 8). Each entry's wall
  * splits into (a) `fn(s, dir)` — evaluateIncremental + the
  * unionByName reduce, which pays eager Catalyst ANALYSIS per
  * accumulated union step plus the bounds `.head()` job — and (b) the
  * noop action (execution incl. planning/codegen). A large (a) with a
  * small (b) means the cost is plan-shape machinery, not data.
  *
  * Usage: runMain graft.tools.IncProbe <sfDir> [entry...]
  */
object IncProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("ast_incremental_chart", "ast_incremental_reverse",
        "ast_incremental_formula", "ast_incremental_tags",
        "ast_incremental_exemplars", "ast_incremental_cardinality")
    val spark = graft.LocalTuning.session(32).getOrCreate()
    val iters = sys.env.getOrElse("SPARK_GRAFT_TIMEQ_ITERS", "3").toInt
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      val samples = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      println(f"[incprobe] $n%-28s build=${med(samples.map(_._1))}%.3f " +
        f"exec=${med(samples.map(_._2))}%.3f " +
        s"all=${samples.map(p => f"${p._1}%.2f+${p._2}%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
