package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The `pipeline_batch` workload: passes over the seeded entry order,
  * each entry's output written under `<work>/out/pass<k>/<entry>` for
  * the oracle check `run.py` runs afterwards. Timed runs repeat passes
  * until `--seconds` have passed (at least one); traced runs make one
  * pass and record a span and counter deltas per entry. */
object Batch {

  def run(spark: SparkSession, a: Main.Args, probe: Probe, sessionS: Double): String = {
    val sf = a("sf")
    val t0 = System.nanoTime()
    // the ingest artifacts the entries read (the stream source dirs)
    graft.queries.StreamingQueries.prepare(spark, sf)
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    val control = Main.controlProbes(spark)
    val order = Pipeline.order(a.long("seed"))
    val out = new java.io.File(a("work"), "out")
    def outDir(pass: Int, e: String) = new java.io.File(out, s"pass$pass/$e").getPath
    val traced = a("trace") == "1"
    val limitNs = (a.double("seconds") * 1e9).toLong
    val tr = new Tracer
    val perEntry = scala.collection.mutable.LinkedHashMap[String, Double]()
    var layers = Map.empty[String, Double]
    val execs = scala.collection.mutable.ArrayBuffer[Pipeline.Exec]()
    val passWalls = scala.collection.mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    var pass = 0
    while (pass == 0 || (!traced && System.nanoTime() - start < limitNs)) {
      var wall = 0.0
      order.zipWithIndex.foreach { case (e, i) =>
        probe.flush()
        val before = probe.snapshot()
        val x = Pipeline.run(spark, sf, e, pass, outDir(pass, e), probe)
        val d = Probe.delta(before, probe.snapshot())
        execs += x
        wall += (x.endNs - x.startNs) / 1e9
        if (traced) {
          val root = tr.record(s"entry:$e", -1, i, x.startNs, x.endNs)
          tr.record("build", root, i, x.startNs, x.builtNs)
          tr.record("write", root, i, x.builtNs, x.endNs)
          perEntry(s"queries.${e}_s") = (x.endNs - x.startNs) / 1e9
          perEntry(s"queries.${e}_jobs") = d.getOrElse("scheduler.jobs", 0.0)
          layers = (layers.keySet ++ d.keySet).map(k =>
            k -> (layers.getOrElse(k, 0.0) + d.getOrElse(k, 0.0))).toMap
        }
        // untimed, as in Bench: release the previous entry's broadcast
        // and shuffle state before the next one starts
        System.gc()
      }
      passWalls += wall
      pass += 1
    }
    val failures = execs.flatMap(x => x.error.map(m => s"${x.entry}: $m")).toSeq
    val ok = execs.map(_.error.isEmpty)
    // latencies of the entries that succeeded; a failed one counts in
    // `failed` (when none succeeded, the walls until failure stand in)
    val good = execs.zip(ok).collect { case (x, true) => x }.toSeq
    def lat(f: Pipeline.Exec => Double) =
      if (good.nonEmpty) good.map(f) else execs.toSeq.map(x => (x.endNs - x.startNs) / 1e6)
    val done = lat(_.doneMs)
    val ttfe = lat(_.firstJobMs)
    val tail = a.double("tail")
    val outputs = execs.map(x => Main.obj(Seq("entry" -> Main.str(x.entry),
      "dir" -> Main.str(outDir(x.pass, x.entry))))).mkString("[", ",", "]")
    val info = control ++ Map("session_s" -> sessionS,
      "passes" -> pass.toDouble, "samples" -> execs.size.toDouble,
      "tail_percentile" -> tail,
      "samples_beyond_tail" -> Stats.beyond(execs.size, tail).toDouble)
    val metrics =
      if (traced) {
        val dir = new java.io.File(a("trace-dir"))
        tr.write(new java.io.File(dir, s"pipeline_batch-seed${a("seed")}-spans.jsonl"), start)
        perEntry.toMap ++ control ++
          (Probe.Fields ++ Probe.Global).map(f => f -> layers.getOrElse(f, 0.0)) ++
          Map("catalyst.plan_ms" -> layers.getOrElse("catalyst.phases_ms", 0.0),
            "trace.done_p50_ms" -> Stats.median(done),
            "trace.ttfe_p50_ms" -> Stats.median(ttfe))
      } else Map(
        "setup_s" -> setupS,
        "ttfe_p50_ms" -> Stats.median(ttfe),
        "ttfe_tail_ms" -> Stats.percentile(ttfe, tail),
        "done_p50_ms" -> Stats.median(done),
        "done_tail_ms" -> Stats.percentile(done, tail),
        "throughput_rps" -> ok.count(identity) / passWalls.sum,
        "batch_s" -> Stats.median(passWalls.toSeq),
        "heap_retained_mb" -> Main.heapRetainedMb())
    val oracle = Main.obj(order.map(e => e -> Main.str(graft.SparkEntry.oracleSql(e))))
    Main.result("pipeline_batch", execs.size, failures, metrics, info,
      Seq("outputs" -> outputs, "oracle" -> oracle))
  }
}
