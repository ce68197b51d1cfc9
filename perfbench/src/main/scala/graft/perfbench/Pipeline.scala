package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `pipeline_batch` workload: pipeline and streaming
  * `SparkEntry.queries` builders, run serially on the sf0.1 fixture: a
  * loop that re-analyzes its growing plan every round (u5, 87 jobs) and
  * a stateful stream that commits state every trigger (st7).
  * Every execution writes its result as parquet under `outDir`, which
  * `run.py` compares with the entry's `SparkEntry.oracleSql` answer. */
object Pipeline {
  val Entries: Seq[String] = Seq("u5_recursive_cte", "st7_stream_dedup")

  /** The entry order of one run: a seeded permutation. */
  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Entries)

  final case class Exec(entry: String, pass: Int, startNs: Long, builtNs: Long,
      endNs: Long, firstJobMs: Double, error: Option[String]) {
    def doneMs: Double = if (error.isEmpty) (endNs - startNs) / 1e6
      else Double.PositiveInfinity
  }

  /** Run `entry` once: build the DataFrame, then write it. Time to first
    * job is the call-to-first-job-submission delay the probe saw. */
  def run(spark: SparkSession, sfDir: String, entry: String, pass: Int,
      out: String, probe: Probe): Exec = {
    val fn = SparkEntry.queries(entry)
    probe.armFirstJob()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var built = t0
    val err =
      try {
        val df = fn(spark, sfDir)
        built = System.nanoTime()
        df.write.mode("overwrite").parquet(out)
        None
      } catch {
        case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    val t1 = System.nanoTime()
    probe.flush()
    val first = probe.firstJobMs.map(ms => (ms - wall0).toDouble.max(0.0))
      .getOrElse((t1 - t0) / 1e6)
    Exec(entry, pass, t0, built, t1, first, err)
  }
}
