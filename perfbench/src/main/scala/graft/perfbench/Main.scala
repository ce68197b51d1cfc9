package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. `run.py` starts it once per run:
  *
  * {{{
  * Main --workload <dash_repoll|explore_adhoc|pipeline_batch> --seed N
  *      --seconds S --trace 0|1 --data <segments dir> --sf <sf0.1 dir>
  *      --work <scratch dir> --out <result.json> --tail <percentile>
  *      --clients N --data-start-ms T --data-end-ms T
  * }}}
  *
  * and reads the result file it writes: every metric by name, the
  * attempted/failed counts, the failures and run details. */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def long(k: String): Long = apply(k).toLong
    def double(k: String): Double = apply(k).toDouble
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    // exit explicitly either way: the result is on disk (or the run
    // failed), and lingering client or server threads must not keep the
    // JVM alive
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(a: Args): Unit = {
    val work = new java.io.File(a("work"))
    val result = a("workload") match {
      case "dash_repoll" | "explore_adhoc" => Http.run(() => session(work), a)
      case "pipeline_batch" =>
        val t0 = System.nanoTime()
        val spark = session(work)
        val sessionS = (System.nanoTime() - t0) / 1e9
        try Batch.run(spark, a, new Probe(spark).install(), sessionS)
        finally spark.stop()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val w = new java.io.PrintWriter(a("out"), "UTF-8")
    try w.println(result) finally w.close()
    log("result written")
  }

  /** A new session on `local[nproc]` with the program's `LocalTuning`. */
  def session(work: java.io.File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.LocalTuning(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // QueryHttpApi gives every request its own pool; pools only
      // fair-share under the FAIR scheduler
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Bench.controlProbes' two plan shapes (one warm run, then one timed):
    * the empty-job floor and a constant 32→32 exchange. They depend on no
    * data and no operator, so a shift in them is the box, not the change. */
  def controlProbes(spark: SparkSession): Map[String, Double] = {
    val par = spark.sparkContext.defaultParallelism
    def timed(run: () => Unit): Double = {
      run()
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e6
    }
    Map(
      "control.empty_job_ms" -> timed(() => {
        spark.range(0, par.toLong, 1, par).count(): Unit
      }),
      "control.exchange_ms" -> timed(() => {
        spark.range(0, 1310720L, 1, 32).repartition(32)
          .write.format("noop").mode("overwrite").save()
      }))
  }

  private val start = System.nanoTime()

  /** Progress line on stderr (the run log), seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - start) / 1e9}%7.2f s] $msg")

  /** Heap in use after a full collection, MiB. */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  // ---------------------------------------------------------------- JSON

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite figure $v")
    v.toString
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** The result file: metrics, counts, failures, details. */
  def result(workload: String, attempted: Int, failures: Seq[String],
      metrics: Map[String, Double], info: Map[String, Double],
      extra: Seq[(String, String)] = Nil): String =
    obj(Seq(
      "workload" -> str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.take(20).map(str).mkString("[", ",", "]"),
      "metrics" -> obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "info" -> obj(info.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }))
      ++ extra)
}
