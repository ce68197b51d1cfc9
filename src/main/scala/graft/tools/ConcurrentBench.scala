package graft.tools

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** Concurrent-query posture bench: the reference coordinator serves many
  * dashboard queries simultaneously (one Akka stream per request); the
  * Spark-native analogue is many concurrent actions on ONE SparkContext
  * under the FAIR scheduler, each query in its own on-demand pool so no
  * single heavy query starves the rest (pools created by setting the
  * `spark.scheduler.pool` thread-local property get weight 1 and share
  * the executors fairly).
  *
  * Runs the headline set twice — serially, then N-way concurrently
  * (default 8 threads, each query in its own pool + job group) — and
  * prints one JSON line:
  *   - per-query serial and concurrent seconds, and the inflation ratio
  *   - `stable`: whether every query's result hash matches its serial
  *     run (concurrent evaluation must not change answers)
  *   - wall-clock speedup of the concurrent batch vs the serial batch
  *
  * Usage: runMain graft.tools.ConcurrentBench [sfDir] [threads] [name...]
  * The session is created here with FAIR mode (scheduler mode is fixed
  * at context creation and the Bench/Verify mains don't need it).
  */
object ConcurrentBench {

  private val DefaultSet = Seq(
    "f1_eq", "a1_step_agg", "a5_percentile", "ast_chart_sum",
    "ast_formula_ratio", "e15_xml_extract", "o1_topk", "u3_set_ops")

  /** Attributes executor task time + JVM GC time to the job GROUP that
    * launched each task, so the concurrent pass can separate "the same
    * work fair-shared across fewer effective cores" (task_ms flat, wall
    * inflates — amortizes at scale) from "each task got slower under
    * contention" (task_ms itself inflates — a real defect). */
  private final class GroupMetricsListener(stageDetailFor: Option[String])
      extends org.apache.spark.scheduler.SparkListener {
    import scala.collection.concurrent.TrieMap
    private val stageToGroup = TrieMap[Int, String]()
    val taskMs = TrieMap[String, Long]()
    val gcMs = TrieMap[String, Long]()
    // per-stage attribution for ONE named query (serial + concurrent
    // groups): (group, stageId) -> (tasks, runMs, gcMs); stage wall and
    // name from completion events. Answers "which stage's tasks slow
    // down under concurrency" — fair-share queueing inflates WALL with
    // task_ms flat; per-task slowdown inflates run here.
    val stageTasks = TrieMap[(String, Int), (Long, Long, Long)]()
    val stageInfo = TrieMap[(String, Int), (String, Long)]()
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val g = Option(js.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) js.stageIds.foreach(sid => stageToGroup(sid) = g)
    }
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      for (g <- stageToGroup.get(te.stageId);
           m <- Option(te.taskMetrics)) {
        taskMs.updateWith(g)(v => Some(v.getOrElse(0L) + m.executorRunTime))
        gcMs.updateWith(g)(v => Some(v.getOrElse(0L) + m.jvmGCTime))
        if (stageDetailFor.exists(n => g == s"s:$n" || g == s"c:$n"))
          stageTasks.updateWith((g, te.stageId)) { v =>
            val (t, r, gc) = v.getOrElse((0L, 0L, 0L))
            Some((t + 1, r + m.executorRunTime, gc + m.jvmGCTime))
          }
      }
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      for (g <- stageToGroup.get(sc.stageInfo.stageId)
           if stageDetailFor.exists(n => g == s"s:$n" || g == s"c:$n")) {
        val wall = (for (a <- sc.stageInfo.submissionTime;
            b <- sc.stageInfo.completionTime) yield b - a).getOrElse(0L)
        stageInfo.updateWith((g, sc.stageInfo.stageId)) { v =>
          // attempts re-run under the same id: accumulate wall
          Some((sc.stageInfo.name.takeWhile(_ != '\n'),
            v.map(_._2).getOrElse(0L) + wall))
        }
      }
  }

  private def hashOf(df: org.apache.spark.sql.DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.collect().map(_.toString).sorted
      .foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val threads = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val names = if (args.length > 2) args.drop(2).toSeq else DefaultSet
    val spark = graft.LocalTuning.session(32)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    graft.Tables.names.foreach { n =>
      try graft.Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => }
    }
    val qs = names.map(n => n -> graft.SparkEntry.queries(n))
    val listener = new GroupMetricsListener(
      sys.env.get("SPARK_GRAFT_CONC_STAGES"))
    spark.sparkContext.addSparkListener(listener)

    // Both passes run SPARK_GRAFT_CONC_ITERS times (default 3) and
    // report per-query MEDIANS: a single 0.3 s-scale concurrent
    // measurement carries scheduling noise bigger than the effects this
    // bench exists to detect (observed: the same query 1.8x one run,
    // 3.2x the next, zero GC either time).
    val iters = sys.env.getOrElse("SPARK_GRAFT_CONC_ITERS", "3").toInt
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    // serial pass: warm-up + timed, canonical result hash per query;
    // each timed run under a "s:<name>" job group for task attribution
    val serial = qs.map { case (n, fn) =>
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      spark.sparkContext.setJobGroup(s"s:$n", n, interruptOnCancel = false)
      var h = ""
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        h = hashOf(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.clearJobGroup()
      n -> ((median(ts), h))
    }.toMap

    // concurrent pass: each query on its own thread, own FAIR pool, own
    // job group. newSession() per thread isolates session state (configs,
    // temp views) while sharing the context — the multi-tenant shape.
    // per-pass results map (fresh each iteration: a thread that dies
    // before put() must read as MISSING for that pass, not silently
    // reuse the prior pass's entry); times and hashes accumulate per
    // query across passes so the median can be paired with an
    // any-pass-errored flag
    val concTimes = new java.util.concurrent.ConcurrentHashMap[
      String, List[Double]]()
    val concHashes = new java.util.concurrent.ConcurrentHashMap[
      String, List[String]]()
    var concurrentWall = 0.0
    (1 to iters).foreach { _ =>
      val results = new java.util.concurrent.ConcurrentHashMap[
        String, (Double, String)]()
      val pool = Executors.newFixedThreadPool(threads)
      val start = new CountDownLatch(1)
      val futures = qs.zipWithIndex.map { case ((n, fn), i) =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val sess = spark.newSession()
            sess.sparkContext.setLocalProperty("spark.scheduler.pool", s"q$i")
            sess.sparkContext.setJobGroup(s"c:$n", n, interruptOnCancel = true)
            start.await()
            val t0 = System.nanoTime()
            // per-query capture (like Bench.runSuite): one failing query
            // must not kill the whole pass — mark it unstable instead
            try {
              val h = hashOf(fn(sess, sfDir))
              results.put(n, ((System.nanoTime() - t0) / 1e9, h))
            } catch {
              case e: Throwable =>
                results.put(n,
                  ((System.nanoTime() - t0) / 1e9, s"ERROR:${e.getClass.getSimpleName}"))
            }
          }
        })
      }
      start.countDown()
      val t0 = System.nanoTime()
      futures.foreach(_.get(600, TimeUnit.SECONDS))
      concurrentWall = math.min(
        if (concurrentWall == 0) Double.MaxValue else concurrentWall,
        (System.nanoTime() - t0) / 1e9)
      pool.shutdown()
      names.foreach { n =>
        val r = results.get(n)
        if (r != null) {
          concTimes.merge(n, List(r._1), _ ++ _)
          concHashes.merge(n, List(r._2), _ ++ _)
        } else concHashes.merge(n, List("ERROR:NoResult"), _ ++ _)
      }
    }

    // settle async listener delivery before reading the attribution maps
    org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)

    val rows = names.map { n =>
      val (st, sh) = serial(n)
      val ts = concTimes.getOrDefault(n, Nil)
      val hs = concHashes.getOrDefault(n, Nil)
      val ct = if (ts.nonEmpty) median(ts) else Double.NaN
      // stable = every pass produced the serial hash; ANY errored or
      // missing pass marks the query unstable even if other passes
      // succeeded (the median alone would hide a flaky failure)
      val stableQ = hs.nonEmpty && hs.forall(h =>
        h == sh && !h.startsWith("ERROR:"))
      (n, st, ct,
        if (st > 0 && !ct.isNaN) ct / st else 0.0, stableQ)
    }
    val stable = rows.forall(_._5)
    val serialTotal = rows.map(_._2).sum
    def f(d: Double) = math.rint(d * 1000) / 1000
    val qj = graft.JsonOut.obj(rows.map { case (n, st, ct, infl, _) =>
      // task_inflation: executor task-time ratio concurrent/serial. ≈1
      // with wall inflation >1 = fair-share queueing (fixed cores split
      // N ways — amortizes on a real cluster); >>1 = per-task slowdown
      // (GC/memory contention), the defect class worth chasing.
      val sMs = listener.taskMs.getOrElse(s"s:$n", 0L)
      val cMs = listener.taskMs.getOrElse(s"c:$n", 0L)
      val tInfl = if (sMs > 0) f(cMs.toDouble / sMs) else 0.0
      n -> (s"""{"serial":${f(st)},"concurrent":${f(ct)},"inflation":${f(infl)},""" +
        s""""serial_task_ms":$sMs,"conc_task_ms":$cMs,"task_inflation":$tInfl,""" +
        s""""conc_gc_ms":${listener.gcMs.getOrElse(s"c:$n", 0L)}}""")
    }, quoteValues = false)
    val line = s"""{"metric":"concurrent","threads":$threads,"stable":$stable,""" +
      s""""serial_total":${f(serialTotal)},"concurrent_wall":${f(concurrentWall)},""" +
      s""""speedup":${f(serialTotal / concurrentWall)},"queries":$qj,"sf":"$sfDir"}"""
    println(line)
    val w = new java.io.PrintWriter(
      sys.env.getOrElse("SPARK_GRAFT_CONC_OUT", "/tmp/concurrent_bench.json"), "UTF-8")
    try w.println(line) finally w.close()
    sys.env.get("SPARK_GRAFT_CONC_STAGES").foreach { n =>
      println(s"[conc-stages] per-stage attribution for $n " +
        "(runMs summed over iters; compare s: vs c: per stage NAME)")
      listener.stageTasks.toSeq.sortBy(_._1).foreach {
        case ((g, sid), (tasks, runMs, gc)) =>
          val (nm, wall) = listener.stageInfo.getOrElse((g, sid), ("?", 0L))
          println(f"[conc-stages] $g%-18s stage=$sid%4d $nm%-28s " +
            f"tasks=$tasks%3d wall=${wall}ms run=${runMs}ms gc=${gc}ms")
      }
    }
    spark.stop()
    if (!stable) sys.exit(1)
  }
}
