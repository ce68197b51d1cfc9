package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
  * (default sf0.1) and prints one JSON line with per-query seconds.
  *
  * local[32] with shuffle.partitions=32 — one shuffle partition per core;
  * AQE coalesces further when partial results are small. On a real
  * cluster the same plans scale by raising shuffle.partitions; nothing
  * here is driver-side-materialized.
  *
  * Queries are materialized through the `noop` sink, not `count()`:
  * count() lets Catalyst prune every unreferenced column and collapse
  * pure-projection plans, under-measuring scan-heavy queries. The noop
  * write evaluates every output column of the exact plan a user would run.
  * Failures are recorded per-query in an `errors` field rather than being
  * silently timed as successes.
  *
  * Each query runs 1 untimed warm-up + SPARK_GRAFT_BENCH_ITERS (default 3)
  * timed iterations and reports the MEDIAN, so round-over-round
  * comparisons measure plans, not shared-box load spikes (the r3→r4
  * record drifted 1.33× on identical plans). `dispersion` records each
  * query's relative spread (max-min)/median across the timed iterations —
  * a large value flags a measurement to distrust, not a plan change.
  * Entries whose 3-iter dispersion exceeds 0.3 at a ≥ 0.1 s median are
  * automatically re-run 5 more times and report the median over all
  * samples; `iters_per_query` records the per-entry total so every
  * number cited in round docs lives in a committed artifact.
  * Query builders are idempotent (ingest-time artifacts are built once
  * per SparkContext, most of them by prepare(); see Tables.artifact), so
  * re-running measures the read-side plan.
  *
  * Scale slope (the 100×-claim check, judge ask r6 #4): when a smaller
  * scale factor of the same testdata exists (auto-derived sibling
  * `sf0.01` of an `sf0.1` dir, or SPARK_GRAFT_SLOPE_DIR), every query
  * also runs there and the output gains `slope` — the per-query scaling
  * exponent log(t_big/t_small)/log(sf_big/sf_small). ~1 = linear in
  * data, <1 = overhead-dominated or sub-linear, >1.5 with a
  * non-trivial runtime = super-linear and listed in `superlinear`:
  * the plan to distrust at 100 TB. Entries over the fixed-size
  * documents/embeddings tables (500/2000 rows at every sf) see the
  * same data at both dirs and slope ≈ 0 by construction — the slope
  * gate is really about the sf-scaling events/lineitem surfaces.
  */
object Bench {

  private final case class SuiteResult(
      results: Seq[(String, Double)],
      dispersion: Seq[(String, Double)],
      errors: Seq[(String, String)],
      shuffleMb: Seq[(String, Double)] = Nil,
      spillMb: Seq[(String, Double)] = Nil,
      execMemMb: Seq[(String, Double)] = Nil,
      itersPerQuery: Seq[(String, Int)] = Nil)

  /** Accumulates per-task metrics between reset() and snapshot().
    * Shuffle bytes are the quantity that actually prices a plan at
    * 100 TB (time at sf0.1 is mostly the job floor); spill > 0 means a
    * partition no longer fits execution memory — both are plan
    * properties the wall-clock medians can't show. exec-mem is the sum
    * of per-task peak execution memory (the aggregate footprint a
    * cluster must provision for the query's tasks). */
  private final class StageMetricsListener
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    private val read = new AtomicLong
    private val write = new AtomicLong
    private val spill = new AtomicLong
    private val mem = new AtomicLong
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        mem.addAndGet(m.peakExecutionMemory)
      }
    }
    def reset(): Unit = { read.set(0); write.set(0); spill.set(0); mem.set(0) }
    /** (shuffle read+write, spill, exec-mem) in bytes since reset(). */
    def snapshot(): (Long, Long, Long) =
      (read.get + write.get, spill.get, mem.get)
  }

  /** One warm-up + `iters` timed medians for every selected query at
    * `sfDir`. GC between runs is deliberate (see scaladoc). */
  private def runSuite(spark: SparkSession, sfDir: String,
      only: Option[Set[String]], iters: Int,
      captureMetrics: Boolean = false,
      rerunHighDispersion: Boolean = false): SuiteResult = {
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $n failed: ${e.getMessage}") }
    }
    try SparkEntry.prepare(spark, sfDir) // ingest-time artifacts, built once
    catch { case e: Throwable =>
      System.err.println(s"[bench] prepare failed: ${e.getMessage}") }
    val listener = if (captureMetrics) {
      val l = new StageMetricsListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val itersPerQuery = scala.collection.mutable.LinkedHashMap[String, Int]()
    val dispersion = scala.collection.mutable.LinkedHashMap[String, Double]()
    val shuffleMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spillMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val execMemMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        def once(): (Boolean, Double) = {
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch {
              case e: Throwable =>
                errors.getOrElseUpdate(name,
                  Option(e.getMessage).getOrElse(e.getClass.getName)
                    .replaceAll("[\"\\\\\n\r\t]", " ").take(200))
                false
            }
          val dt = (System.nanoTime() - t0) / 1e9
          // UNTIMED: with a 24g heap GC almost never fires, so Spark's
          // GC-triggered ContextCleaner never releases earlier queries'
          // broadcast/shuffle state — by query ~90 the accumulated pressure
          // inflated late entries up to 6× run-to-run. A nudge between
          // runs keeps each measurement independent of its position.
          System.gc()
          (ok, dt)
        }
        // warm-up (untimed, also absorbs one-time ingest/broadcast builds);
        // a failing query is reported once and not retried — its single
        // failed wall-time stands so `total` still reflects the spent time
        val warm = once()
        listener.foreach { l =>
          org.apache.spark.GraftListenerBridge
            .flushListeners(spark.sparkContext)
          l.reset()
        }
        // track EXECUTED timed iterations separately from the successful
        // ones kept in `times`: failed iterations still ran Spark jobs
        // whose metrics accumulated in the listener, so dividing by
        // times.size would inflate per-iteration metrics for partially-
        // failing queries (and report phantom metrics on the warm-only
        // fallback, where zero timed runs executed)
        def dispOf(ts: Seq[Double]): Double = {
          val s = ts.sorted
          val m = s(s.size / 2)
          if (m > 0) (s.last - s.head) / m else 0.0
        }
        val (times: Seq[Double], executedTimed: Int) =
          if (!warm._1) (Seq(warm._2), 0)
          else {
            val all = Seq.fill(iters)(once())
            var timed = all.filter(_._1).map(_._2)
            var executed = all.size
            // High-dispersion auto-rerun (judge ask r13 #2): a 3-iter
            // median with (max-min)/median > ~0.3 is not a citable
            // number — one box hiccup IS the spread. Re-run such entries
            // at 5 extra iterations and report the median/dispersion
            // over ALL timed samples, with the per-entry count recorded
            // in `iters_per_query` so round docs can cite a committed
            // artifact instead of a side measurement (the r13 e13 gap).
            // Floor at 0.1 s median: below that, spread is scheduling
            // jitter on a floor-priced entry, not signal worth 5 runs.
            val med0 = if (timed.nonEmpty) timed.sorted.apply(timed.size / 2) else 0.0
            if (rerunHighDispersion && timed.nonEmpty && med0 >= 0.1 &&
                dispOf(timed) > 0.3) {
              val extra = Seq.fill(5)(once())
              executed += extra.size
              timed ++= extra.filter(_._1).map(_._2)
            }
            (if (timed.isEmpty) Seq(warm._2) else timed, executed)
          }
        if (executedTimed > iters) itersPerQuery(name) = executedTimed
        listener.foreach { l =>
          org.apache.spark.GraftListenerBridge
            .flushListeners(spark.sparkContext)
          val (sh, sp, mem) = l.snapshot()
          // per-iteration average over the executed runs (metrics are plan
          // properties; averaging absorbs AQE run-to-run variance)
          val n = math.max(executedTimed, 1).toDouble * 1024 * 1024
          shuffleMb(name) = math.rint(sh / n * 10) / 10
          spillMb(name) = math.rint(sp / n * 10) / 10
          execMemMb(name) = math.rint(mem / n * 10) / 10
        }
        val sorted = times.sorted
        val median = sorted(sorted.size / 2)
        dispersion(name) =
          if (median > 0) math.rint((sorted.last - sorted.head) / median * 1000) / 1000
          else 0.0
        name -> median
      }
    listener.foreach(spark.sparkContext.removeSparkListener)
    SuiteResult(results, dispersion.toSeq, errors.toSeq,
      shuffleMb.toSeq, spillMb.toSeq, execMemMb.toSeq, itersPerQuery.toSeq)
  }

  /** Scale factor parsed from a testdata dir name (`…/sf0.1` → 0.1). */
  private def sfOf(dir: String): Option[Double] = {
    val base = new java.io.File(dir).getName
    if (base.startsWith("sf")) base.drop(2).toDoubleOption else None
  }

  /** Fixed-cost control probes (judge ask r12 #1): two DATA-INDEPENDENT
    * timings taken at the start of every bench run so round-over-round
    * drift can be divided out. The r12 total "regressed" +15.7% on a
    * uniform ~1.18× median per-query ratio across unrelated sub-second
    * entries — the signature of a shared-box / fixed-cost shift, but
    * nothing in the artifact could prove it. These probes time exactly
    * the two fixed costs every query pays: the job launch floor
    * (empty_job_s: a 32-task count over spark.range) and the constant
    * exchange (exchange_s: 1.3M rows through a 32→32 round-robin
    * repartition into the noop sink — the PLANS.md LocalTuning
    * measurement shape). Identical plans every round, zero dependence
    * on the dataset or any operator, 1 warm + 5 timed, median. A future
    * round whose per-query medians shift together with these controls is
    * box drift; one whose queries move while the controls hold still is
    * a real plan change. */
  private def controlProbes(spark: SparkSession): Seq[(String, Double)] = {
    val par = spark.sparkContext.defaultParallelism
    def timeMedian(run: () => Unit): Double = {
      run() // warm (JIT + codegen cache)
      val ts = Seq.fill(5) {
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      math.rint(ts(2) * 10000) / 10000
    }
    val empty = timeMedian(() => {
      spark.range(0, par.toLong, 1, par).count(): Unit
    })
    val exchange = timeMedian(() => {
      spark.range(0, 1310720L, 1, 32).repartition(32)
        .write.format("noop").mode("overwrite").save()
    })
    Seq("empty_job_s" -> empty, "exchange_s" -> exchange)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalTuning.session(32)
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    // Optional comma-separated subset for local iteration; the driver
    // leaves this unset and benches everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
      .max(1)
    val control = controlProbes(spark)
    System.err.println("[bench] control " +
      control.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val main = runSuite(spark, sfDir, only, iters, captureMetrics = true,
      rerunHighDispersion = true)

    // ---- slope pass: the same suite at a smaller SF of the same data.
    // Auto-derived (sf0.1 → sibling sf0.01) unless pinned/disabled via
    // SPARK_GRAFT_SLOPE_DIR ("" disables). 2 iterations: the small run
    // is overhead-dominated, and the slope only needs one stable digit.
    val slopeDir: Option[String] = sys.env.get("SPARK_GRAFT_SLOPE_DIR") match {
      case Some("") => None
      case Some(d) => Some(d).filter(x => new java.io.File(x).isDirectory)
      case None =>
        val base = new java.io.File(sfDir).getName
        for {
          p <- Option(new java.io.File(sfDir).getParentFile)
          if base.startsWith("sf")
          tenth <- scala.util.Try(BigDecimal(base.drop(2)) / 10).toOption
          cand = new java.io.File(p,
            "sf" + tenth.bigDecimal.stripTrailingZeros.toPlainString)
          d <- Some(cand).filter(_.isDirectory)
        } yield d.getPath
    }
    val slope: Option[(String, Double, Seq[(String, Double)])] =
      slopeDir.flatMap { d =>
        val ratio = (sfOf(sfDir), sfOf(d)) match {
          case (Some(a), Some(b)) if b > 0 && a != b => a / b
          case _ => 10.0
        }
        val small = runSuite(spark, d, only, iters = math.min(iters, 2))
        val smallMap = small.results.toMap
        val ss = main.results.flatMap { case (name, tBig) =>
          smallMap.get(name).map { tSmall =>
            // floor both at 50 ms: below that the measurement is pure
            // scheduling jitter and the ratio is noise, not a slope
            val s = math.log(math.max(tBig, 0.05) / math.max(tSmall, 0.05)) /
              math.log(ratio)
            name -> math.rint(s * 1000) / 1000
          }
        }
        if (ss.isEmpty) None else Some((d, ratio, ss))
      }
    // Entries whose CONTRACT is quadratic: exact all-pairs oracle
    // baselines kept invocable at test scale behind loud size gates
    // (knnGraphExact's maxExactRows). Their slope is ~2 by definition —
    // reported in the slope map (and below, so the exemption is visible)
    // but excluded from the regression flag, which exists to catch
    // operators whose contract is SUBquadratic going quadratic (d14).
    val quadraticByContract = Set("s8_knn_graph")
    // super-linear flags: exponent > 1.5 AND the big run is non-trivial
    // (a 0.2 s entry 3× a 0.05 s floor is overhead, not a scale risk)
    val superlinear = slope.map(_._3).getOrElse(Nil)
      .filter { case (n, s) =>
        s > 1.5 && main.results.toMap.getOrElse(n, 0.0) >= 0.75 &&
          !quadraticByContract.contains(n) }
      .map(_._1)

    // full escaping (JsonOut): a Spark error message containing an ANSI
    // escape or other control char must not break the driver's json.load
    val qs = JsonOut.obj(
      main.results.map { case (k, v) => k -> v.toString }, quoteValues = false)
    val disp = JsonOut.obj(
      main.dispersion.map { case (k, v) => k -> v.toString },
      quoteValues = false)
    val errs = JsonOut.obj(main.errors, quoteValues = true)
    val shuf = JsonOut.obj(
      main.shuffleMb.map { case (k, v) => k -> v.toString }, quoteValues = false)
    val spl = JsonOut.obj(
      main.spillMb.filter(_._2 > 0).map { case (k, v) => k -> v.toString },
      quoteValues = false)
    val mem = JsonOut.obj(
      main.execMemMb.map { case (k, v) => k -> v.toString }, quoteValues = false)
    val total = if (main.results.nonEmpty) main.results.map(_._2).sum else 0.0
    val slopeFields = slope match {
      case None => ""
      case Some((d, ratio, ss)) =>
        val sj = JsonOut.obj(ss.map { case (k, v) => k -> v.toString },
          quoteValues = false)
        val fl = superlinear.map(n => "\"" + n + "\"").mkString("[", ",", "]")
        val qbc = quadraticByContract.filter(ss.toMap.contains).toSeq.sorted
          .map(n => "\"" + n + "\"").mkString("[", ",", "]")
        s""","slope":$sj,"slope_sf":"$d","slope_ratio":$ratio,""" +
          s""""superlinear":$fl,"quadratic_by_contract":$qbc"""
    }
    val ctrl = JsonOut.obj(
      control.map { case (k, v) => k -> v.toString }, quoteValues = false)
    // only entries that earned extra iterations appear here; everything
    // else ran the global `iters`
    val ipq = JsonOut.obj(
      main.itersPerQuery.map { case (k, v) => k -> v.toString },
      quoteValues = false)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"iters":$iters,"iters_per_query":$ipq,"control_s":$ctrl,"dispersion":$disp,"errors":$errs,"shuffle_mb":$shuf,"spill_mb":$spl,"exec_mem_mb":$mem$slopeFields,"sf":"$sfDir"}"""
    // stdout gets wrapped in sbt [info] prefixes, which broke the driver's
    // machine parse in round 1 — also write the bare JSON line to a file.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_out.json")
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.println(line) finally w.close()
    // ALSO persist into the repo: the round-10 full per-query output
    // survived only in /tmp (the committed driver artifact kept a
    // 2000-char tail) — one reboot from being unrecoverable. The
    // round checklist renames this to BENCH_r<N>_full.json; even
    // uncommitted, the end-of-round auto-commit picks it up.
    if (new java.io.File("build.sbt").exists()) {
      val w2 = new java.io.PrintWriter("BENCH_latest_full.json", "UTF-8")
      try w2.println(line) finally w2.close()
    }
    println(line)
    if (main.errors.nonEmpty)
      System.err.println(s"BENCH ERRORS (${main.errors.size}): " +
        main.errors.map(_._1).mkString(", "))
    if (superlinear.nonEmpty)
      System.err.println("BENCH SUPERLINEAR (slope > 1.5 at >= 0.75 s): " +
        superlinear.mkString(", "))
    val spillers = main.spillMb.filter(_._2 > 0)
    if (spillers.nonEmpty)
      System.err.println("BENCH SPILL (partitions exceeded exec memory): " +
        spillers.map { case (n, v) => s"$n=${v}MB" }.mkString(", "))
    spark.stop()
  }
}
