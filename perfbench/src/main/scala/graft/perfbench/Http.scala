package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The two HTTP workloads, timed (closed loop, one client by default) or
  * traced (one client, serial requests, each replayed in process). */
object Http {

  /** Set-ups per run; `setup_s` is their median. Each starts a new
    * session, builds the manifest and serves it until `/ready`; every
    * set-up but the last is torn down again. */
  val SetUps = 3

  def run(newSession: () => SparkSession, a: Main.Args): String = {
    val dash = a("workload") == "dash_repoll"
    val files = listParquet(new java.io.File(a("data")))
    val dataEnd = a.long("data-end-ms")
    val cores = Runtime.getRuntime.availableProcessors()
    val keys = if (dash) (0 until cores).map(i => s"tenant-$i") else Nil
    val setups = ArrayBuffer[Double]()
    val manifests = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var stack: Stack = null
    try {
      (1 to SetUps).foreach { k =>
        if (stack != null) { stack.stop(); stack = null }
        if (spark != null) { spark.stop(); spark = null }
        val t0 = System.nanoTime()
        spark = newSession()
        val (st, manifestS) = Serving.setUp(spark, files, dash, keys, dataEnd)
        stack = st
        setups += (System.nanoTime() - t0) / 1e9
        manifests += manifestS
        Main.log(f"set-up $k: ${setups.last}%.2f s, manifest build $manifestS%.2f s")
      }
      val control = Main.controlProbes(spark)
      val wl = new Workloads(a.long("seed"), a.long("data-start-ms"), dataEnd,
        readPods(new java.io.File(a("data"), "pods.txt")))
      val panels = keys.map(k => wl.dashPanels(Some(k), dataEnd))
      val pass = if (dash) Workloads.DashPanels else Workloads.ExplorePass
      // client c starts at panel (kind) c; a dash client moves to the
      // next tenant's key after each pass
      def next(c: Int, i: Int): Req =
        if (dash) panels((c + i / pass) % panels.size)((c + i) % pass)
        else wl.explore(c, i)
      warmUp(stack, if (dash) wl.dashPanels(keys.headOption, dataEnd, warm = true)
        else wl.exploreWarmUp)
      val common = control ++ Map(
        "sources.manifest_build_s" -> Stats.median(manifests.toSeq),
        "sources.files_total" -> files.size.toDouble)
      if (a("trace") == "1")
        traced(spark, a, new Probe(spark).install(), stack, pass, next, common)
      else timed(a, stack, a("clients").toInt, pass, next,
        Stats.median(setups.toSeq), common)
    } finally {
      if (stack != null) stack.stop()
      if (spark != null) spark.stop()
    }
  }

  /** Untimed, unchecked: one request of every kind, over short windows,
    * so the timed requests do not pay the first compile of their shapes. */
  private def warmUp(stack: Stack, reqs: Seq[Req]): Unit = {
    val client = Serving.newClient()
    reqs.foreach { r =>
      val s = Serving.call(client, stack.port, r, 0)
      Main.log(f"warm-up ${r.kind} ${s.wallMs}%.1f ms ok=${s.read.ok}")
    }
  }

  def listParquet(dir: java.io.File): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
  }

  /** gen.py's sidecar: one line per day, that day's pod names. */
  def readPods(f: java.io.File): IndexedSeq[IndexedSeq[String]] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.split(' ').toIndexedSeq).toIndexedSeq
    finally src.close()
  }

  /** Answer-check every sample on `threads` threads; None = right. */
  private def verdicts(checks: Checks, samples: Seq[Sample],
      threads: Int): Seq[Option[String]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try samples.map { s =>
      pool.submit(() => s.read.failure.orElse(
        try checks.verify(s.req.check, s.read.data)
        catch { case e: Exception => Some("check: " + e.getMessage) })
        .map(f => s"${s.req.kind}: $f"))
    }.map(_.get())
    finally pool.shutdown()
  }

  /** Σ over request kinds of the kind's median completion: one pass over
    * the workload's request list as a client sees it. */
  private def roundS(samples: Seq[Sample]): Double =
    samples.groupBy(_.req.kind).values.map(ks => Stats.median(ks.map(_.doneMs))).sum / 1000.0

  private def timed(a: Main.Args, stack: Stack, clients: Int, pass: Int,
      next: (Int, Int) => Req, setupS: Double,
      common: Map[String, Double]): String = {
    val tail = a.double("tail")
    val seconds = a.double("seconds")
    val (samples, elapsed) = Serving.closedLoop(stack.port, clients, seconds,
      pass, capSeconds = seconds * 4 + 30, next)
    Main.log(s"${samples.size} requests in $elapsed s")
    val checkT0 = System.nanoTime()
    val v = verdicts(new Checks(stack.tel), samples, Runtime.getRuntime.availableProcessors())
    val checkS = (System.nanoTime() - checkT0) / 1e9
    Main.log(s"checked in $checkS s")
    // latencies are the answered requests'; a failed one counts in
    // `failed` (and makes the run incorrect) instead. When none was
    // answered the walls until failure stand in, so every figure is finite.
    val good = samples.zip(v).collect { case (s, None) => s }
    def lat(f: Sample => Double) = if (good.nonEmpty) good.map(f) else samples.map(_.wallMs)
    val ttfe = lat(_.ttfeMs)
    val done = lat(_.doneMs)
    val metrics = Map(
      "setup_s" -> setupS,
      "ttfe_p50_ms" -> Stats.median(ttfe),
      "done_p50_ms" -> Stats.median(done),
      "throughput_rps" -> good.size / elapsed,
      "heap_retained_mb" -> Main.heapRetainedMb())
    val info = Map(
      "batch_s" -> (if (good.nonEmpty) roundS(good) else elapsed),
      "ttfe_tail_ms" -> Stats.percentile(ttfe, tail),
      "done_tail_ms" -> Stats.percentile(done, tail),
      "elapsed_s" -> elapsed,
      "check_s" -> checkS,
      "samples" -> samples.size.toDouble,
      "tail_percentile" -> tail,
      "samples_beyond_tail" -> Stats.beyond(done.size, tail).toDouble,
      "error_rate" -> (samples.size - good.size).toDouble / samples.size.max(1))
    Main.result(a("workload"), samples.size, v.flatten, metrics, info ++ common)
  }

  private def traced(spark: SparkSession, a: Main.Args, probe: Probe,
      stack: Stack, pass: Int, next: (Int, Int) => Req,
      common: Map[String, Double]): String = {
    val tr = new Tracer
    val client = Serving.newClient()
    val figs = ArrayBuffer[Map[String, Double]]()
    val samples = ArrayBuffer[Sample]()
    val t0 = System.nanoTime()
    val limitNs = (a.double("seconds") * 1e9).toLong
    var i = 0
    // whole passes, as in the timed run
    while (i % pass != 0 || i == 0 || System.nanoTime() - t0 < limitNs) {
      val req = next(0, i)
      probe.flush()
      val before = probe.snapshot()
      val s = Serving.call(client, stack.port, req, 0)
      probe.flush()
      val d = Probe.delta(before, probe.snapshot())
      tr.record("http", -1, i, s.startNs, s.read.endNs)
      val rep = Traced.replay(spark, stack, req, tr, i)
      figs += rep ++ Map(
        "api.headers_ms" -> s.headersMs,
        "api.events" -> (s.read.data.size + (if (s.read.doneNs >= 0) 1 else 0)).toDouble,
        "api.bytes" -> s.read.bytes.toDouble,
        "api.heartbeats" -> s.read.heartbeats.toDouble,
        "api.self_ms" -> (s.wallMs - rep("replay_ms")),
        "http_ms" -> s.wallMs) ++
        Probe.Global.map(k => k -> d.getOrElse(k, 0.0)) ++
        Probe.Fields.map(f => f -> d.getOrElse(s"http:$f", 0.0))
      samples += s
      i += 1
    }
    val v = verdicts(new Checks(stack.tel), samples.toSeq, 1)
    val dir = new java.io.File(a("trace-dir"))
    val stem = s"${a("workload")}-seed${a("seed")}"
    tr.write(new java.io.File(dir, s"$stem-spans.jsonl"), t0)
    writeRequests(new java.io.File(dir, s"$stem-requests.jsonl"), samples.toSeq, figs.toSeq)
    val n = figs.size.toDouble
    val mean = figs.flatMap(_.keys).distinct
      .map(k => k -> figs.map(_.getOrElse(k, 0.0)).sum / n).toMap
    val ok = samples.zip(v).filter(_._2.isEmpty).map(_._1).toSeq
    val e2e = if (ok.isEmpty) Map.empty[String, Double] else Map(
      "trace.ttfe_p50_ms" -> Stats.median(ok.map(_.ttfeMs)),
      "trace.done_p50_ms" -> Stats.median(ok.map(_.doneMs)))
    val metrics = (mean -- Seq("http_ms", "replay_ms")) ++ e2e ++ common
      .filter { case (k, _) => k.startsWith("control.") || k.startsWith("sources.") }
    Main.result(a("workload"), samples.size, v.flatten, metrics,
      common ++ Map("requests" -> n, "mean_http_ms" -> mean("http_ms"),
        "mean_replay_ms" -> mean("replay_ms")),
      Seq("spans" -> Main.str(new java.io.File(dir, s"$stem-spans.jsonl").getPath)))
  }

  private def writeRequests(f: java.io.File, samples: Seq[Sample],
      figs: Seq[Map[String, Double]]): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try samples.zip(figs).zipWithIndex.foreach { case ((s, fig), i) =>
      w.println(Main.obj(Seq("req" -> i.toString, "kind" -> Main.str(s.req.kind),
        "path" -> Main.str(s.req.path)) ++
        fig.toSeq.sortBy(_._1).map { case (k, v) => k -> Main.num(v) }))
    } finally w.close()
  }
}
