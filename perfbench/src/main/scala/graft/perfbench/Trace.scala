package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.ast.{AstJson, BaseExpr}
import graft.engine.{QueryEngine, ReplaySequencer}
import graft.functions.TimeRange
import graft.sources.SegmentIndex

/** One timed interval. `parent` is -1 for a root; `req` is the request
  * (or pipeline entry) it belongs to. */
final case class Span(id: Int, parent: Int, req: Int, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the single-threaded traced run. */
final class Tracer {
  private val spans = ArrayBuffer[Span]()

  def record(name: String, parent: Int, req: Int, startNs: Long,
      endNs: Long): Int = {
    val id = spans.size
    spans += Span(id, parent, req, name, startNs, endNs)
    id
  }

  /** Time `body`; it receives the new span's id for its children. */
  def span[A](name: String, parent: Int, req: Int)(body: Int => A): A = {
    val id = spans.size
    spans += null // reserve the id so children number after the parent
    val t0 = System.nanoTime()
    try body(id)
    finally spans(id) = Span(id, parent, req, name, t0, System.nanoTime())
  }

  def all: Seq[Span] = spans.toSeq

  /** Duration minus the durations of direct children: the time no child
    * span accounts for. */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - kids.getOrElse(s.id, 0.0))).toMap
  }

  /** One JSON line per span, relative to `t0Ns`. */
  def write(path: java.io.File, t0Ns: Long): Unit = {
    val self = selfMs
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        f""""name":"${s.name}","start_ms":${(s.startNs - t0Ns) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - t0Ns) / 1e6}%.3f,"dur_ms":${s.ms}%.3f,""" +
        f""""self_ms":${self(s.id)}%.3f}""")
    } finally w.close()
  }
}

/** The traced run: one client, serial requests. Each request is sent over
  * HTTP (span `http`), then the same calls are replayed in process, one
  * span per step: parse, prune, sequence, then build, plan and drain per
  * replay group. Jobs are serial, so the counters' change over a
  * request's HTTP interval is that request's. */
object Traced {

  /** Replay `req` in process under the `perfbench-replay` job group;
    * returns the per-layer figures of the replay, with `replay_ms` (its
    * wall) and `trace.unattributed_ms` (its wall minus its child spans). */
  def replay(spark: SparkSession, stack: Stack, req: Req, tr: Tracer,
      rid: Int): Map[String, Double] = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-replay", "in-process replay", interruptOnCancel = false)
    val acc = scala.collection.mutable.HashMap[String, Double]().withDefaultValue(0.0)
    def planDrain(df: DataFrame, parent: Int, drain: DataFrame => Unit): Unit = {
      measured("plan", "catalyst.plan_ms", parent)(df.queryExecution.executedPlan)
      measured("drain", "engine.drain_ms", parent)(drain(df))
      acc("scan.files_read") += filesRead(df.queryExecution.executedPlan)
    }
    def measured[A](name: String, key: String, parent: Int)(body: => A): A = {
      val t0 = System.nanoTime()
      val out = tr.span(name, parent, rid)(_ => body)
      acc(key) += (System.nanoTime() - t0) / 1e6
      out
    }
    def build[A](parent: Int)(body: => A): A =
      measured("build", "engine.build_ms", parent)(body)
    def parse[A](parent: Int)(body: => A): A =
      measured("parse", "ast.parse_ms", parent)(body)
    def iterate(df: DataFrame): Unit = {
      val it = df.toLocalIterator()
      while (it.hasNext) it.next()
    }
    def prune(root: Int, exprs: Seq[BaseExpr], s: Long, e: Long): Unit = {
      val t0 = System.nanoTime()
      val kept = tr.span("prune", root, rid) { _ =>
        exprs.flatMap(b => SegmentIndex.prune(stack.manifest, Some(b.filter),
          Serving.Indexed.toSet, s, e)).distinct.size
      }
      acc("sources.prune_ms") += (System.nanoTime() - t0) / 1e6
      acc("sources.files_kept") += kept
    }
    def sequence(root: Int, s: Long, e: Long, step: Long)
        : List[ReplaySequencer.ReplayGroup] =
      if (stack.segments.isEmpty) Nil
      else tr.span("sequence", root, rid)(_ =>
        ReplaySequencer.sequence(stack.segments, s, e, step, 4))

    tr.span("replay", -1, rid) { root =>
      req.check match {
        case g: GraphCheck =>
          val ast = parse(root)(AstJson.parseAstInput(req.body))
          prune(root, ast.baseExpressions.values.toSeq, g.startMs, g.endMs)
          val step = TimeRange.autoStepMillis(g.startMs, g.endMs)
          val groups = sequence(root, g.startMs, g.endMs, step)
          acc("engine.replay_groups") += groups.size
          if (groups.isEmpty) {
            val df = build(root)(QueryEngine.evaluate(stack.tables, ast,
              g.startMs, g.endMs, step))
            planDrain(df, root, iterate)
          } else groups.foreach { grp =>
            tr.span("group", root, rid) { gid =>
              val df = build(gid)(QueryEngine.evaluate(stack.tables, ast,
                grp.startMs, grp.endMs, step))
              planDrain(df, gid, iterate)
            }
          }
          if (g.exemplars) ast.baseExpressions.toList.sortBy(_._1).foreach {
            case (_, b) if b.returnResults && b.chart.nonEmpty =>
              val df = build(root)(QueryEngine.exemplars(stack.tel, b,
                g.startMs, g.endMs))
              planDrain(df, root, iterate)
            case _ => ()
          }
        case t: TagsCheck =>
          val e = parse(root)(AstJson.parseBaseExpr(req.body))
          prune(root, Seq(e), t.startMs, t.endMs)
          val step = TimeRange.autoStepMillis(t.startMs, t.endMs)
          val groups = sequence(root, t.startMs, t.endMs, step)
          acc("engine.replay_groups") += groups.size
          val ranges =
            if (groups.isEmpty) Seq((t.startMs, t.endMs))
            else groups.map(g => (g.startMs, g.endMs))
          ranges.foreach { case (s, en) =>
            tr.span("group", root, rid) { gid =>
              val df = build(gid)(QueryEngine.tagValues(stack.tel, e, t.tag, s, en))
              planDrain(df, gid, d => d.collect())
            }
          }
        case c: CardCheck =>
          val e = parse(root)(AstJson.parseBaseExpr(req.body))
          prune(root, Seq(e), c.startMs, c.endMs)
          val groupBys = e.chart.map(_.groupBys).getOrElse(Nil)
          val step = TimeRange.autoStepMillis(c.startMs, c.endMs)
          val groups = sequence(root, c.startMs, c.endMs, step)
          acc("engine.replay_groups") += groups.size
          if (groups.isEmpty) {
            val df = build(root)(QueryEngine.cardinality(stack.tel, e, groupBys,
              c.startMs, c.endMs))
            planDrain(df, root, d => d.collect())
          } else {
            // the per-group sketch job is internal to the engine's
            // iterator: one `group` span covers its build, plan and drain
            val it = QueryEngine.cardinalityIncremental(stack.tel, e, groupBys,
              c.startMs, c.endMs, step, stack.segments, 4)
            while (it.hasNext) tr.span("group", root, rid)(_ => it.next())
          }
      }
    }
    sc.clearJobGroup()
    val root = tr.all.filter(x => x.req == rid && x.name == "replay").last
    acc("replay_ms") = root.ms
    acc("trace.unattributed_ms") = tr.selfMs(root.id)
    acc.toMap
  }

  /** Files the executed plan's scans read (after execution). */
  def filesRead(plan: SparkPlan): Double = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
    case p => (p.children ++ p.subqueries).map(filesRead).sum
  }
}
