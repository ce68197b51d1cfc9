package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Every job a context starts while the log is attached: when it
  * started and ended (the scheduler's clock, epoch ms), the local
  * properties it was submitted with and its task count. */
final class JobLog(sc: SparkContext) extends SparkListener {
  import JobLog.Job

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).getOrElse(new java.util.Properties())
    jobs.put(e.jobId, Job(e.jobId, e.time,
      p.getProperty("spark.jobGroup.id"),
      p.getProperty("spark.scheduler.pool"),
      Option(p.getProperty("spark.job.tags"))
        .map(_.split(",").toSet).getOrElse(Set.empty),
      e.stageInfos.map(_.numTasks).sum))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  /** The jobs so far, in submission order, after draining the bus. */
  def all: Seq[Job] = {
    org.apache.spark.GraftListenerBridge.flushListeners(sc)
    jobs.values.asScala.toSeq.sortBy(_.id)
  }
}

object JobLog {
  /** `tasks` sums the job's stages, skipped ones included. */
  final case class Job(id: Int, start: Long, group: String, pool: String,
      tags: Set[String], tasks: Int) {
    /** Long.MaxValue while the job runs. */
    @volatile var end: Long = Long.MaxValue
    def overlaps(o: Job): Boolean = start < o.end && o.start < end
    override def toString: String =
      s"job $id [$start, $end] group=$group pool=$pool tags=$tags tasks=$tasks"
  }

  def during[T](sc: SparkContext)(f: JobLog => T): T = {
    val log = new JobLog(sc)
    sc.addSparkListener(log)
    try f(log) finally sc.removeSparkListener(log)
  }
}
