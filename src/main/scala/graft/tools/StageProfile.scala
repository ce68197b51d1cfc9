package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Dev tool: run a named SparkEntry query warm and print per-stage wall
  * times + task counts, to attribute query wall time to plan stages
  * (fixed scheduling cost vs data work). Usage:
  *   runMain graft.tools.StageProfile <sfDir> <name> [name...]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = graft.LocalTuning.session(32).getOrCreate()
    case class St(job: Int, stage: Int, name: String, subMs: Long, ms: Long,
      tasks: Int, runMs: Long, deserMs: Long,
      shuffleReadMB: Double, shuffleWriteMB: Double)
    val stages = ArrayBuffer[St]()
    val jobs = ArrayBuffer[(Int, Long)]()
    var curJob = -1
    var t0ms = 0L
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        synchronized { curJob = js.jobId; jobs += ((js.jobId, System.currentTimeMillis())) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          val si = sc.stageInfo
          val ms = (for { s <- si.submissionTime; c <- si.completionTime }
            yield c - s).getOrElse(-1L)
          stages += St(curJob, si.stageId, si.name.takeWhile(_ != '\n'),
            si.submissionTime.map(_ - t0ms).getOrElse(-1L), ms, si.numTasks,
            si.taskMetrics.executorRunTime,
            si.taskMetrics.executorDeserializeTime,
            si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6)
        }
    }
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
      stages.clear(); jobs.clear()
      val cgn0 = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
      spark.sparkContext.addSparkListener(listener)
      t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val cgn1 = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
      println(f"\n== $n wall=$wall%.2fs jobs=${jobs.size} stages=${stages.size} stageWallSum=${stages.map(_.ms).sum / 1e3}%.2fs codegenCompiles=${cgn1 - cgn0}")
      stages.sortBy(_.subMs).foreach { s =>
        println(f"  t+${s.subMs}%5dms job=${s.job}%3d stage=${s.stage}%4d wall=${s.ms}%5dms run=${s.runMs}%5dms deser=${s.deserMs}%4dms tasks=${s.tasks}%4d r=${s.shuffleReadMB}%6.1fMB w=${s.shuffleWriteMB}%6.1fMB")
      }
      if (sys.env.contains("SPARK_GRAFT_PROFILE_PLAN")) {
        val df2 = fn(spark, sfDir)
        df2.foreach((_: org.apache.spark.sql.Row) => ())
        println(df2.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
