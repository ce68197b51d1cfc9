package graft.tools

/** Assignment-floor attribution (r11 verdict task 6): time the
  * ASSIGNMENT subplan of each linear-slope entry (s33/s34/s37) against
  * the full entry at a given scale, so `full − assign` decomposes the
  * wall into the linear per-vector assignment term vs the candidate-
  * pair verification term. Usage:
  *   runMain graft.tools.FloorProfile <sfDir>
  * Prints one `[floor]` line per probe (median of ITERS timed runs
  * after one warm run, noop sink — the TimeQ contract). */
object FloorProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.LocalTuning.session(32).getOrCreate()
    val iters = sys.env.getOrElse("SPARK_GRAFT_TIMEQ_ITERS", "3").toInt
    graft.queries.PipelineQueries.floorProbes(spark, sfDir).foreach {
      case (name, mk) =>
        mk().write.format("noop").mode("overwrite").save() // warm
        val ts = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          mk().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // true median: average the two middle samples for even iteration
        // counts — picking the upper-middle biased the report high for
        // SPARK_GRAFT_TIMEQ_ITERS=2 or 4 (ADVICE r12)
        val sorted = ts.sorted
        val median =
          if (sorted.size % 2 == 1) sorted(sorted.size / 2)
          else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
        println(f"[floor] $name $sfDir median=$median%.2f " +
          s"all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
