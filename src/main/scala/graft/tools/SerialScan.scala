package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Dev sweep: run EVERY SparkEntry query once (warm) and flag entries
  * whose plan executes a SINGLE-TASK stage with substantial run time —
  * the serial-work-hiding-in-parallel-plans signature that round 14
  * found by hand in 16 entries (single-split scans, pushed-down derived
  * filters, AQE size-coalescing of CPU-dense stages, driver-side plan
  * analysis is NOT caught here — compare wall vs stage sum for that).
  * Usage: runMain graft.tools.SerialScan <sfDir> [minSerialMs]
  */
object SerialScan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val minMs = args.drop(1).headOption.map(_.toLong).getOrElse(250L)
    val spark = graft.LocalTuning.session(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.names.foreach { n =>
      try graft.Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => } }
    try graft.SparkEntry.prepare(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[serialscan] prepare failed: ${e.getMessage}") }
    case class St(stage: Int, ms: Long, tasks: Int, runMs: Long)
    val stages = ArrayBuffer[St]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          val si = sc.stageInfo
          val ms = (for { s <- si.submissionTime; c <- si.completionTime }
            yield c - s).getOrElse(-1L)
          stages += St(si.stageId, ms, si.numTasks,
            si.taskMetrics.executorRunTime)
        }
    }
    val flagged = ArrayBuffer[String]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
        org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
        stages.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val serial = stages.filter(s => s.tasks == 1 && s.runMs >= minMs)
        if (serial.nonEmpty) {
          val det = serial.map(s => s"stage=${s.stage} run=${s.runMs}ms")
            .mkString(", ")
          flagged += f"$name wall=$wall%.2f  $det"
          println(f"[serialscan] FLAG $name wall=$wall%.2f  $det")
        }
      } catch { case e: Throwable =>
        spark.sparkContext.removeSparkListener(listener)
        println(s"[serialscan] ERR $name ${e.getMessage}") }
    }
    println(s"[serialscan] flagged ${flagged.size} of " +
      s"${graft.SparkEntry.queries.size} entries (>= ${minMs}ms serial)")
    spark.stop()
  }
}
