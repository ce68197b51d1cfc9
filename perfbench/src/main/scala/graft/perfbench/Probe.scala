package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from outside the program: a [[SparkListener]] (jobs,
  * stages, tasks, shuffle), a [[StreamingQueryListener]] (trigger
  * phases), a [[QueryExecutionListener]] (Catalyst phases) and Spark's
  * codegen counters. Scheduler and task counters are kept per job-group
  * class: `http` for the API's per-request `graft-sse-*` groups, the
  * group itself otherwise, and `all` for everything. Read a consistent
  * view with [[snapshot]] after [[flush]]. */
final class Probe(spark: SparkSession) {
  import Probe._

  private val byClass = new ConcurrentHashMap[String, Array[Double]]()
  private val stageClass = new ConcurrentHashMap[Int, String]()
  private val streaming = new Array[Double](4)
  @volatile private var catalystMs = 0.0
  private val firstJob = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)

  /** Forget the first job seen; [[firstJobMs]] then reports the
    * submission time (epoch ms) of the next job to start. */
  def armFirstJob(): Unit = { flush(); firstJob.set(Long.MaxValue) }
  def firstJobMs: Option[Long] = Some(firstJob.get).filter(_ != Long.MaxValue)

  private def classOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(g => if (g.startsWith("graft-sse-")) "http" else g)
      .getOrElse("none")

  private def add(cls: String, i: Int, v: Double): Unit =
    Seq(cls, "all").foreach { c =>
      val a = byClass.computeIfAbsent(c, _ => new Array[Double](Fields.size))
      a.synchronized { a(i) += v }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      firstJob.accumulateAndGet(e.time, math.min)
      add(classOf(e.properties), Jobs, 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val c = classOf(e.properties)
      stageClass.put(e.stageInfo.stageId, c)
      add(c, Stages, 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = Option(stageClass.get(e.stageId)).getOrElse("none")
      val m = e.taskMetrics
      val info = e.taskInfo
      add(c, Tasks, 1)
      if (m != null && info != null) {
        val getting =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
          else 0L
        val delay = info.finishTime - info.launchTime - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting
        add(c, DelayMs, math.max(0L, delay).toDouble)
        add(c, RunMs, m.executorRunTime.toDouble)
        add(c, CpuMs, m.executorCpuTime / 1e6)
        add(c, GcMs, m.jvmGCTime.toDouble)
        add(c, InputRows, m.inputMetrics.recordsRead.toDouble)
        add(c, ShuffleMb, (m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten) / 1048576.0)
        add(c, SpillMb, (m.diskBytesSpilled + m.memoryBytesSpilled) / 1048576.0)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      streaming.synchronized {
        streaming(0) += 1
        streaming(1) += d("addBatch")
        streaming(2) += d("walCommit")
        streaming(3) += p.stateOperators.map(_.commitTimeMs.toDouble).sum
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      catalystMs += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
    this
  }

  def flush(): Unit =
    org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)

  /** Every counter by name (`<field>` for class `all`, `<cls>:<field>`
    * for the others), plus streaming, Catalyst and codegen totals. */
  def snapshot(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val sched = byClass.asScala.toSeq.flatMap { case (c, a) =>
      val vs = a.synchronized(a.clone())
      Fields.zip(vs).map { case (f, v) => (if (c == "all") f else s"$c:$f") -> v }
    }
    val st = streaming.synchronized(streaming.clone())
    (sched ++ Seq(
      "streaming.triggers" -> st(0),
      "streaming.add_batch_ms" -> st(1),
      "streaming.wal_commit_ms" -> st(2),
      "streaming.state_commit_ms" -> st(3),
      "catalyst.phases_ms" -> catalystMs,
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6)).toMap
  }
}

object Probe {
  val Fields: IndexedSeq[String] = IndexedSeq("scheduler.jobs",
    "scheduler.stages", "scheduler.tasks", "scheduler.delay_ms",
    "tasks.run_ms", "tasks.cpu_ms", "tasks.gc_ms", "tasks.input_rows",
    "shuffle.mb", "shuffle.spill_mb")
  /** Process-wide counters (not kept per job group). */
  val Global: Seq[String] = Seq("streaming.triggers", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.state_commit_ms",
    "codegen.compiles", "codegen.compile_ms")
  private val Jobs = 0
  private val Stages = 1
  private val Tasks = 2
  private val DelayMs = 3
  private val RunMs = 4
  private val CpuMs = 5
  private val GcMs = 6
  private val InputRows = 7
  private val ShuffleMb = 8
  private val SpillMb = 9

  /** `after - before` for every key (missing = 0). */
  def delta(before: Map[String, Double], after: Map[String, Double])
      : Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
