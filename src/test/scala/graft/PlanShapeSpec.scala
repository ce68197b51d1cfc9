package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{CoreQueries, EngineQueries, PipelineQueries}

/** Plan-shape regression tests: the 100 TB properties are properties of
  * the PLAN, not of any small-scale timing — filters reaching the parquet
  * scan, column pruning, top-k as TakeOrderedAndProject, per-key caps
  * compiling to WindowGroupLimit, sketch aggregates running as
  * ObjectHashAggregate with partial/final split. These lock the shapes
  * recorded in PLANS.md against silent regressions (an innocent-looking
  * refactor that breaks pushdown still passes value-equality tests; it
  * does not pass these).
  *
  * Plans are inspected WITHOUT executing (queryExecution.executedPlan on
  * the un-run query), on the sf0.001 fixture — plan shape is scale-free.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("f1_eq: equality filter is pushed into the parquet scan") {
    val p = plan(CoreQueries.queries("f1_eq")(spark, dir))
    assert(p.contains("PushedFilters:") &&
      p.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(event_type,click\\).*"),
      s"filter not pushed:\n$p")
  }

  test("f10: ts range filter is pushed through the storage-unit adapter") {
    // Tables.load may project `ts_raw * scale` to normalize a
    // micros/millis-encoded file to canonical nanos; the range predicate
    // must STILL reach the scan as a plain attribute comparison
    // (UnwrapScaledComparison) — at 100 TB this is the difference between
    // row-group pruning and a full scan of the fact table.
    val p = plan(CoreQueries.queries("f10_time_range")(spark, dir))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts,.*"),
      s"ts lower bound not pushed:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*LessThan\\(ts,.*"),
      s"ts upper bound not pushed:\n$p")
  }

  test("f1_eq: scan reads only the projected columns") {
    val p = plan(CoreQueries.queries("f1_eq")(spark, dir))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$p"))
    val cols = read.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("event_id", "event_type", "user_id", "value"),
      s"scan reads $cols")
  }

  test("o1_topk: top-k compiles to TakeOrderedAndProject, not global sort") {
    val p = plan(CoreQueries.queries("o1_topk")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$p")
  }

  test("s1_ann_bruteforce: brute-force top-k is scan + TakeOrderedAndProject") {
    val p = plan(PipelineQueries.queries("s1_ann_bruteforce")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$p")
  }

  test("a1_step_agg: single shuffle with partial/final hash aggregation") {
    val p = plan(CoreQueries.queries("a1_step_agg")(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(p.contains("HashAggregate"), s"no HashAggregate:\n$p")
    assert(exchanges == 1, s"expected 1 hash exchange, found $exchanges:\n$p")
  }

  test("d2_minhash_lsh: per-bucket cap compiles to WindowGroupLimit") {
    val p = plan(PipelineQueries.queries("d2_minhash_lsh")(spark, dir))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$p")
  }

  test("ast_metrics_avg: rollup re-agg prunes to the two columns it reads") {
    EngineQueries.prepare(spark, dir)
    val p = plan(EngineQueries.queries("ast_metrics_avg")(spark, dir))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$p"))
    val cols = read.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("ts", "event_type", "rollup_sum", "rollup_count"),
      s"avg should read exactly ts/type/sum/count, got $cols")
    assert(!read.contains("sketch_"),
      s"sketch payload columns must not be scanned for a plain avg:\n$read")
  }

  test("k2 sketch aggregation runs as ObjectHashAggregate (partial/final)") {
    val p = plan(CoreQueries.queries("k2_dd_proto_interop")(spark, dir))
    assert(p.contains("ObjectHashAggregate"), s"no ObjectHashAggregate:\n$p")
  }

  test("s11: quantized candidate generation is scan + distributed top-k, " +
      "never a vector shuffle") {
    val p = plan(PipelineQueries.queries("s11_quantized_ann")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"tiny candidate join must broadcast, not sort-merge:\n$p")
  }

  test("t7_pii_redact: redaction is map-only — one aggregation shuffle") {
    val p = plan(PipelineQueries.queries("t7_pii_redact")(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected the single partial/final agg exchange, found $exchanges:\n$p")
  }

  test("d7: bloom gate probes inside the scan filter; anti-join is on hashes") {
    val p = plan(PipelineQueries.queries("d7_incremental_dedup")(spark, dir))
    // the probe must be an in-plan expression fused into the batch filter
    // (map-side, no join) — both polarities appear (definite-new routes
    // on NOT might_contain, suspects on might_contain)
    assert(p.contains("graft_bloom_might_contain"),
      s"bloom probe must be a plan expression:\n$p")
    assert(p.contains("LeftAnti"), s"suspects need the exact anti-join:\n$p")
    // every hash-partitioned exchange keys on the 8-byte content hash,
    // never on text
    val keys = "Exchange hashpartitioning\\(([^,]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.forall(k => !k.contains("text")),
      s"anti-join must shuffle hashes, never text: $keys")
  }

  test("d8: span keep/drop decision is a min-aggregate over the span HASH") {
    val p = plan(PipelineQueries.queries("d8_span_dedup")(spark, dir))
    // decision shuffle keyed on the 64-bit span hash (narrow rows)…
    assert("Exchange hashpartitioning\\(h#\\d+L".r.findFirstIn(p).isDefined,
      s"no span-hash decision exchange in:\n$p")
    // …feeding min(packed id·idx) — first global occurrence as a codegen
    // HashAggregate with map-side partials, NOT a row_number window
    // (which sorted the whole span stream; round-12 rewrite)
    assert("min\\(ip#\\d+L\\)".r.findFirstIn(p).isDefined,
      s"first-occurrence decision must be min over the packed id·idx:\n$p")
    assert(!p.contains("row_number"),
      s"span stream must not sort through a row_number window:\n$p")
    // at most three hash exchanges: decision (h), keep-list aggregate
    // (id), reassembly join (id) — a fourth would mean span text is
    // shuffling somewhere it should not
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected <=3 hash exchanges, found $exchanges:\n$p")
    // span TEXT never enters an exchange: reassembly happens AFTER the
    // join back to the original text column
    assert(!"Exchange[^\\n]*span".r.findFirstIn(p).isDefined,
      s"span text must not shuffle:\n$p")
  }

  test("t15: classifier scoring is map-only over the scored corpus") {
    // The weight table is a plan-constant literal map (bounded vocab) and
    // scoring is functions.aggregate over the token array — the SCORED
    // side must see no explode, no join, and no exchange besides the
    // final presentation sort. At 100 TB that is one scan, full stop.
    // (The vocab build runs at plan time over the small reference half;
    // it is not part of this plan.)
    val p = plan(PipelineQueries.queries("t15_classifier_score")(spark, dir))
    assert(!p.contains("Generate"), s"scored side explodes tokens:\n$p")
    assert(!p.contains("Join"), s"scored side joins:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected only the orderBy exchange, got:\n$p")
  }

  test("p6_global_shuffle: one exchange on the shard key, no global sort") {
    val p = plan(PipelineQueries.queries("p6_global_shuffle")(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 shard exchange, found $exchanges:\n$p")
    assert(p.contains("Window"), s"per-shard rank must be a window:\n$p")
  }

  test("d12: substring-dedup decision stream shuffles hashes and offsets, " +
      "never text") {
    val p = plan(PipelineQueries.queries("d12_substring_dedup")(spark, dir))
    // every hash exchange carries (h…) or (id…) — the window text column
    // (_t) must not appear in any Exchange's partitioning expressions
    val exchangeKeys = "Exchange hashpartitioning\\(([^,)]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeKeys.nonEmpty)
    assert(exchangeKeys.forall(k => k.startsWith("h") || k.startsWith("id")
        || k.startsWith("doc_id")),
      s"unexpected shuffle keys $exchangeKeys:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
  }

  test("ast_top_series: ONE chart-subtree computation and a bounded " +
      "label rank — no re-planned scan per consumer, no unbounded sort") {
    // r15 shape: totals + the label's rows collect in one aggregation
    // (the chart grid bounds the list), labels rank via dense_rank over
    // one row per label — which Catalyst bounds with a partial/final
    // WindowGroupLimit pair, so the single-partition exchange carries at
    // most n surviving labels per map side, never the full series set.
    // The r14 TakeOrdered + broadcast-semi-join spelling re-planned the
    // whole chart subtree (scan included) under both consumers.
    val p = plan(EngineQueries.queries("ast_top_series")(spark, dir))
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"chart subtree must plan exactly one scan, " +
      s"found $scans:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"label rank must be bounded by WindowGroupLimit:\n$p")
  }

  test("ast_top_series_other: the label rank is bounded and narrow — " +
      "no full-chart single-partition funnel") {
    // r16 shape: the chart grid is cutShared'd once (so zero parquet
    // scans survive in the consumer plan); the ≤ n winning labels are a
    // TakeOrdered plan literal (in-gate collect at query build), so the
    // consumer plan has NO window and NO single-partition exchange at
    // all — the rollup is one distributed (label, step) partial-agg
    // shuffle. The r15 shape ranked rows that carried collect_list of
    // each label's whole series through one task at 100k-series
    // cardinality.
    val p = plan(EngineQueries.queries("ast_top_series_other")(spark, dir))
    assert(!p.contains("collect_list"),
      s"no collected series may cross any exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition funnel allowed in the rollup plan:\n$p")
    assert(!p.contains("Window"),
      s"the label rank must be an in-gate TakeOrdered, not a window:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 0,
      s"chart subtree must be materialized exactly once (cutShared), " +
      s"found $scans scans in the consumer plan:\n$p")
  }

  test("a36: the lead window's exchange is reused by the aggregation — " +
      "one shuffle total") {
    val p = plan(CoreQueries.queries("a36_time_weighted_avg")(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected the groupBy to reuse the window partitioning, " +
        s"found $exchanges hash exchanges:\n$p")
  }

  test("j13: keyless interval overlap joins on the time bucket — " +
      "never a nested-loop or cartesian plan") {
    val p = plan(CoreQueries.queries("j13_interval_overlap")(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"overlap join fell off the equi-join path:\n$p")
  }

  test("selective fact join admits a runtime bloom filter on the big " +
      "side when the dimension can't broadcast") {
    // at 100 TB the dimension side often exceeds the broadcast budget;
    // Spark's runtime bloom filter then probes the fact scan with the
    // filtered dimension's keys — row groups of non-matching orders are
    // skipped at the source. Locked here under forced-shuffle confs
    // (broadcast off, application threshold floored) so a conf or plan
    // regression that silently loses the injection fails the suite.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB")
    val saved = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val l = graft.Tables.load(spark, dir, "lineitem")
      val o = graft.Tables.load(spark, dir, "orders")
        .where(org.apache.spark.sql.functions
          .col("o_orderpriority") === "1-URGENT")
      val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.toLowerCase.contains("bloom"),
        s"no runtime bloom filter injected:\n${p.take(4000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("e15: XML extraction runs as the codegen single-pass expression, " +
      "no DOM, inside whole-stage codegen") {
    val p = plan(CoreQueries.queries("e15_xml_extract")(spark, dir))
    assert(p.contains("xml_extract_struct"),
      s"e15 must use XmlExtractStruct, not xpath_*:\n$p")
    assert(!p.contains("xpath"),
      s"no per-row DOM parse on e15's hot path:\n$p")
    assert("PushedFilters: \\[[^\\]]*IsNotNull\\(props".r.findFirstIn(p)
      .isDefined, s"props non-null gate must reach the scan:\n$p")
    // the extraction projection stays inside a WholeStageCodegen span
    // (ComputeUnaryCodegen keeps children fused — a fallback to the
    // interpreted path would strand the expression outside every codegen
    // id). AQE's pre-execution plan hides the spans, so inspect with AQE
    // off — span fusion is a codegen-planner property, not a runtime one.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val np = plan(CoreQueries.queries("e15_xml_extract")(spark, dir))
      // the Project/Filter rows carrying xml_extract_struct sit on
      // codegen'd lines (the FileScan's DataFilters echo doesn't count —
      // scans are columnar, not codegen stages)
      val evalLines = np.linesIterator.filter(l =>
        l.contains("xml_extract_struct") &&
          (l.contains("Project") || l.contains("Filter ("))).toSeq
      assert(evalLines.nonEmpty, s"no evaluation site found:\n$np")
      assert(evalLines.forall(_.contains("*(")),
        s"xml_extract_struct outside codegen:\n$np")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("s20: conjunctive retrieval pushes the term filter into the index " +
      "scan — O(df) read, not a corpus scan") {
    val p = plan(PipelineQueries.queries("s20_inverted_index")(spark, dir))
    assert("PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(p).isDefined,
      s"term IN filter must reach the index scan:\n$p")
  }

  test("p13: curriculum binning is a broadcast of 1-row thresholds, " +
      "corpus never shuffles") {
    val p = plan(PipelineQueries.queries("p13_curriculum_bins")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"thresholds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the threshold join:\n$p")
  }

  test("s21: random projection is map-only — no exchange except the " +
      "result sort") {
    val p = plan(PipelineQueries.queries("s21_random_projection")(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"projection must not shuffle:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"projection must not join:\n$p")
  }

  test("p12: temperature-mix corpus side is one broadcast join + filter") {
    val p = plan(PipelineQueries.queries("p12_temperature_mix")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"rates must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the rate join:\n$p")
  }

  test("j6_multiway_join: filters pushed, dimensions broadcast, top-k not a global sort") {
    val p = plan(CoreQueries.queries("j6_multiway_join")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$p")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(l_shipdate".r.findFirstIn(p).isDefined,
      s"lineitem date filter not pushed:\n$p")
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(c_mktsegment,BUILDING".r.findFirstIn(p).isDefined,
      s"customer segment filter not pushed:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"filtered dimensions must broadcast:\n$p")
  }

  test("p4_source_mix: corpus side is one broadcast join + filter") {
    val p = plan(PipelineQueries.queries("p4_source_mix")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"rates must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the rate join:\n$p")
  }

  test("s22: BM25 filters the explode to query terms below the aggregation " +
      "exchange; df/consts broadcast; top-k is TakeOrderedAndProject") {
    val p = plan(PipelineQueries.queries("s22_bm25")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not sort:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"df/consts must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-scale shuffle join in BM25:\n$p")
    // the term filter must sit under the (doc,term) aggregation: the
    // filtered explode appears as a Filter on the generated column
    // before any Exchange — equivalently, no plan path shuffles the
    // full token stream (Generate → Filter → partial agg → Exchange)
    val gen = p.indexOf("Generate explode")
    val filt = p.indexOf("_t#", gen)
    assert(gen >= 0 && filt >= 0, s"exploded term filter missing:\n$p")
  }

  test("p14: split assignment broadcasts the hashed group frame; the " +
      "corpus never shuffles for the join") {
    val p = plan(PipelineQueries.queries("p14_group_split")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"assignment must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle:\n$p")
  }

  test("k5: the MG summary aggregate runs as ObjectHashAggregate with a " +
      "partial/final split (bounded per-partition state)") {
    // build the aggregation half only — the entry's driver gate would
    // execute the query; the plan property is in the sketch aggregate
    import org.apache.spark.sql.functions._
    val tok = graft.Tables.load(spark, dir, "documents")
      .select(explode(graft.operators.Dedup.tokens(col("text"))).as("token"))
    val agg = tok.agg(graft.functions.HeavyHitters.mgSummary(col("token"), 64))
    val p = plan(agg)
    assert(p.contains("ObjectHashAggregate"), s"MG must be object-hash:\n$p")
    assert(p.contains("partial_mg_summary") || p.contains("partial mg_summary")
      || "(?s).*ObjectHashAggregate.*ObjectHashAggregate.*".r
        .findFirstIn(p).isDefined,
      s"MG must partial-aggregate map-side:\n$p")
  }

  test("g1: one pageRank round is edges-join-ranks then a partial/final " +
      "aggregate — the rank frame joins, the node list left-joins back") {
    import org.apache.spark.sql.functions._
    val nodes = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"))
    val edges = nodes.select(col("id").as("src"),
      ((col("id") * 2 + 1) % 500).as("dst"))
    val withDeg = edges.join(
      edges.groupBy(col("src")).agg(count(lit(1)).as("_deg")), Seq("src"))
    val ranks = nodes.select(col("id"), lit(2000000L).as("rank_units"))
    val p = plan(graft.operators.Graphs.round(nodes, withDeg, ranks,
      teleport = 300000L, dampingPermille = 850))
    // the per-round aggregate must partial-aggregate map-side: two
    // HashAggregates around the exchange
    assert("(?s).*HashAggregate.*Exchange.*HashAggregate.*".r
      .findFirstIn(p).isDefined, s"no partial/final agg split:\n$p")
  }

  test("st10: one batch plan unions the parquet scan with the state source") {
    import graft.queries.StreamingQueries
    StreamingQueries.rollupSegmentsBase(spark, dir)
    val p = plan(StreamingQueries.queries("st10_live_sealed_union")(spark, dir))
    assert(p.contains("Union"), s"no Union in:\n$p")
    assert(p.contains("BatchScan StateTable"),
      s"live half must read the state source:\n$p")
  }

  test("s16: blocked kNN graph is equi-joined on (table, block), never a " +
      "nested loop") {
    val p = plan(PipelineQueries.queries("s16_knn_graph_lsh")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"blocked path must not degrade to all-pairs:\n$p")
  }

  test("t13: LM scoring shuffles tokens and ids, never document text") {
    val p = plan(PipelineQueries.queries("t13_lm_score")(spark, dir))
    val keys = "Exchange hashpartitioning\\(([^,]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.forall(k => !k.contains("text")),
      s"no exchange may carry text: $keys")
  }

  test("st11: Catalyst partition pruning composes with manifest pruning") {
    import graft.queries.StreamingQueries
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (base, built) = StreamingQueries.rollupSegmentsBase(spark, dir)
    // manifest pruning: the candidate file list is a strict subset
    val manifest = built.getOrElse(fail("st4 sealed no segment"))
    val t0 = 19737L * 86400000L + 6L * 3600000L
    val listed = graft.sources.SegmentIndex
      .prune(manifest, None, Set.empty, t0, t0 + 6L * 3600000L)
    assert(listed.nonEmpty && listed.size < manifest.count(),
      s"manifest pruning ineffective: ${listed.size} of ${manifest.count()}")
    // partition pruning: the dateInt=/hour= predicate appears as
    // PartitionFilters on the scan and prunes whole directories before
    // any footer is opened
    val df = StreamingQueries.queries("st11_partition_pruned")(spark, dir)
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in st11 plan"))
    assert(scan.partitionFilters.nonEmpty,
      s"no partition filters on the scan:\n${scan.toString}")
    assert(scan.partitionFilters.mkString.contains("date_int"),
      s"date_int not in partition filters: ${scan.partitionFilters}")
    // same predicate over the FULL directory (no manifest) also prunes:
    // exactly the six hour-dirs of 2024-01-15 06..11 survive
    val full = spark.read.parquet(s"$base/segments")
      .where(org.apache.spark.sql.functions.col("date_int") === 20240115 &&
        org.apache.spark.sql.functions.col("hour").between(6, 11))
    val fullScan = full.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no scan"))
    val dirsRead = fullScan.selectedPartitions.partitionCount
    val totalDirs = spark.read.parquet(s"$base/segments")
      .queryExecution.sparkPlan.collectFirst {
        case f: FileSourceScanExec => f.selectedPartitions.partitionCount
      }.get
    // at most the six predicate hours survive (fewer when the sparse
    // fixture has empty hours), out of ~720 hour-dirs in the layout
    assert(dirsRead >= 1 && dirsRead <= 6 && dirsRead < totalDirs,
      s"partition pruning read $dirsRead of $totalDirs dirs")
  }

  test("j8: bloom probe gates the fact scan below the join exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    val df = CoreQueries.queries("j8_bloom_join")(spark, dir)
    val sp = df.queryExecution.sparkPlan
    val probeFilters = sp.collect {
      case f: FilterExec
        if f.condition.toString.contains("graft_bloom_might_contain") => f
    }
    assert(probeFilters.nonEmpty, s"no bloom probe filter in plan:\n$sp")
    // the probe's subtree must be pure scan — no exchange, no join below
    // it, so non-joining fact rows die inside the scan stage
    val below = probeFilters.head.collect { case n => n.nodeName }
    assert(!below.exists(n => n.contains("Exchange") || n.contains("Join")),
      s"bloom probe is not map-side: $below")
    val gatedScan = probeFilters.head.collect { case f: FileSourceScanExec => f }
    assert(gatedScan.exists(_.output.exists(_.name == "o_custkey")),
      s"probe must gate the orders (fact) scan:\n${probeFilters.head}")
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // Complement to the MANUAL salting in a16/j5: when the skew is in the
    // FACT side of a shuffle join, AQE's skew-join handles it at runtime
    // with no plan rewrite — it splits the oversized partition into
    // subpartitions and replicates the matching build rows. Manual
    // salting remains required where AQE cannot act: skewed AGGREGATION
    // keys (a16 — skew-join only covers joins) and streaming joins
    // (no AQE in micro-batch plans). Thresholds here are shrunk so the
    // ~3 MB hot key trips the same code path a 300 GB key trips in
    // production; the assertion is on the runtime plan marker, not times.
    import spark.implicits._
    import org.apache.spark.sql.functions.{when, lit, concat, sum}
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val fact = spark.range(0, 100000).select(
        when($"id" % 100 =!= 0, lit("hot")) // 99% of rows share one key
          .otherwise(concat(lit("k"), $"id" % 97)).as("key"),
        $"id".cast("double").as("v"),
        lit("x" * 64).as("pad")) // per-row bytes so the hot partition trips the threshold
      val dim = spark.range(0, 98).select(
        when($"id" === 0, lit("hot"))
          .otherwise(concat(lit("k"), $"id" - 1)).as("key"),
        ($"id" * 10).cast("double").as("weight"))
      // keyless rollup: a groupBy(key) downstream would REUSE the join's
      // hashpartitioning, and AQE refuses a skew split that introduces an
      // extra shuffle (forceOptimizeSkewedJoin default false) — itself a
      // documented reason manual salting can still be needed
      val joined = fact.join(dim, "key").agg(sum($"v" * $"weight").as("wv"))
      joined.collect() // AQE decides at runtime, on THIS queryExecution
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(p.contains("skew=true") || p.contains("skewed"),
        s"AQE did not mark the skewed join:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("ast_metrics_formula_ratio: metrics formula AST is one scan, no join") {
    // the shared-scan rewrite covers the pre-rolled metrics path too:
    // both rollup re-aggregations of the ratio ride one segment scan
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = EngineQueries.queries("ast_metrics_formula_ratio")(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1, s"expected 1 FileScan, got ${scans.size}:\n" +
      df.queryExecution.sparkPlan.toString)
    assert(!df.queryExecution.executedPlan.toString.contains("Join"),
      "metrics formula alignment should be presence algebra, not a join")
  }

  test("ast_multi_series: 3-expression AST compiles to ONE scan, one shuffle") {
    // shared-scan rewrite: two base series + a formula over both must not
    // rescan the source per expression reference (the per-node path did 4
    // scans: 2 formula operands + 2 returning series). At 100 TB the
    // rescans are the dominant IO cost of a multi-expression dashboard.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = EngineQueries.queries("ast_multi_series")(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1, s"expected 1 FileScan, got ${scans.size}:\n" +
      df.queryExecution.sparkPlan.toString)
    // one aggregation shuffle; the only other exchange is the entry's
    // display orderBy (range partitioning)
    val p = df.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, found $hashEx:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"formula alignment should be presence algebra, not a join:\n$p")
    // the OR of all slot filters reaches the scan as a pushed filter —
    // at 100 TB that disjunction is what keeps the single shared scan
    // from reading rows no expression wants
    // (the plan string truncates long filter lists, so match the Or(
    // inside PushedFilters rather than its full operand text)
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*Or\\(.*"),
      s"slot-filter disjunction not pushed to the scan:\n$p")
  }

  test("t19_gopher_rules: rule evaluation is map-only (no shuffle, no join)") {
    val p = plan(PipelineQueries.queries("t19_gopher_rules")(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"quality rules must not shuffle:\n$p")
    assert(!p.contains("Join"), s"quality rules must not join:\n$p")
  }

  test("p16_dsir_select: in-gate scoring is one map-only compiled scan; " +
    "selection is top-k") {
    // the r13 compiled path: the whole per-token table folds into the
    // plan, so the scoring is one scan with NO join and NO shuffle —
    // the over-gate broadcast-join fallback shape is pinned by the
    // dsirScore gate-seam test instead
    val p = plan(PipelineQueries.queries("p16_dsir_select")(spark, dir))
    assert(!p.contains("Join"), s"in-gate DSIR must not join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"in-gate DSIR must not shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"selection must be TakeOrderedAndProject, not global sort:\n$p")
  }

  test("s24_rrf_fusion: fusion is top-k over two top-k legs, no cartesian") {
    val p = plan(PipelineQueries.queries("s24_rrf_fusion")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"fusion must end in TakeOrderedAndProject:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in fusion:\n$p")
  }

  test("g2_triangle_count: wedge join is key-partitioned, never cartesian") {
    val p = plan(PipelineQueries.queries("g2_triangle_count")(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triangle counting must join on keys:\n$p")
  }

  test("j9_bucketed_join: co-located bucketed join has NO hash exchange") {
    val p = plan(PipelineQueries.queries("j9_bucketed_join")(spark, dir))
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle either side:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan is not bucket-aware:\n$p")
  }

  test("d13_canonical_dedup: shuffle key is the 32-byte md5, never text") {
    val df = PipelineQueries.queries("d13_canonical_dedup")(spark, dir)
    val p = plan(df)
    assert(!p.matches("(?s).*Exchange hashpartitioning\\([^)]*text.*"),
      s"document text must not be a shuffle key:\n$p")
  }

  test("k6_kll_interop: sketches aggregate as ObjectHashAggregate " +
    "with partial/final split") {
    val p = plan(CoreQueries.queries("k6_kll_interop")(spark, dir))
    assert(p.contains("ObjectHashAggregate"),
      s"KLL UDAF should run as ObjectHashAggregate:\n$p")
    assert(p.contains("partial_kll_sketch") || p.contains("kll_sketch"),
      s"kll_sketch aggregate missing:\n$p")
  }

  test("s21_random_projection: projection is map-only long arithmetic") {
    val p = plan(PipelineQueries.queries("s21_random_projection")(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"JL projection must not shuffle:\n$p")
    assert(!p.toLowerCase.contains("decimal("),
      s"nano-unit longs must carry the sums — no decimal ops:\n$p")
  }

  test("a25_unpivot: melt is an Expand over the aggregate — no join, " +
    "no extra shuffle") {
    val p = plan(CoreQueries.queries("a25_unpivot")(spark, dir))
    assert(p.contains("Expand"), s"unpivot should compile to Expand:\n$p")
    assert(!p.contains("Join"), s"melt must not join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"only the aggregate's exchange expected, found $exchanges:\n$p")
  }

  test("j10_scd2: both windows share ONE exchange + sort on (user, ts)") {
    val p = plan(CoreQueries.queries("j10_scd2")(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"lag and lead must reuse one shuffle, found $exchanges:\n$p")
  }

  test("t20_url_filter: blocklist is a broadcast LEFT ANTI join") {
    val p = plan(PipelineQueries.queries("t20_url_filter")(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"blocklist filter must broadcast, never shuffle the corpus:\n$p")
  }

  test("d14_fuzzy_join: candidates join on (lang, segment) equi-keys — " +
    "never a cartesian/BNL product") {
    val p = plan(PipelineQueries.queries("d14_fuzzy_join")(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join must stay blocked (equi-join):\n$p")
  }

  test("o2_pagination: LIMIT+OFFSET compiles to a bounded TakeOrdered, " +
    "never a global sort") {
    val p = plan(CoreQueries.queries("o2_pagination")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"pagination should be TakeOrderedAndProject:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"pagination must not global-sort:\n$p")
  }

  test("s27_embedding_outliers: stats broadcast; top-k is " +
    "TakeOrderedAndProject") {
    val p = plan(PipelineQueries.queries("s27_embedding_outliers")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"stats should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k shape missing:\n$p")
  }

  test("a34_cube: all four levels expand from ONE fact scan") {
    val p = plan(CoreQueries.queries("a34_cube")(spark, dir))
    assert(p.contains("Expand"), s"CUBE should lower to Expand:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"cube must scan the fact table once, found $scans:\n$p")
  }

  test("a31_counter_increase: cumsum + lag share one series exchange") {
    val p = plan(CoreQueries.queries("a31_counter_increase")(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // one exchange for the (user) windows + one for the step re-agg
    assert(exchanges <= 2,
      s"expected <= 2 exchanges (windows share one), found $exchanges:\n$p")
  }

  test("p18_weighted_sample: A-Res selection is TakeOrderedAndProject") {
    val p = plan(PipelineQueries.queries("p18_weighted_sample")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample must be a bounded top-k, not a global sort:\n$p")
  }

  test("p17_compaction_plan: manifest-sized window then re-agg — " +
    "no more than 2 exchanges") {
    val p = plan(PipelineQueries.queries("p17_compaction_plan")(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"window + group-by should bound exchanges at 2, found $exchanges:\n$p")
  }

  test("spreadBarrier: the derived-column filter must NOT push below " +
    "the spread exchange (the parse stays parallel)") {
    // e12's k IS NOT NULL filter references from_json(props) — without
    // the CollectMetrics barrier PushDownPredicates substitutes the
    // parse into the filter and pushes it below the repartition, so the
    // whole parse runs on the single-split scan task (and then AGAIN
    // post-exchange). The barrier keeps the scan side parse-free: no
    // JsonToStructs may appear beneath the round-robin exchange.
    val p = CoreQueries.queries("e12_json_fields")(spark, dir)
      .queryExecution.optimizedPlan.toString
    val idx = p.indexOf("Repartition ")
    assert(idx >= 0, s"spread exchange missing at sandbox scale:\n$p")
    val below = p.substring(idx)
    assert(!below.contains("from_json"),
      s"parse pushed below the spread exchange:\n$p")
    assert(p.contains("CollectMetrics"),
      s"pushdown barrier (observe) missing:\n$p")
  }

  test("spread gate: the absolute ceiling binds when the cores-scaled " +
    "threshold widens (large-cluster contract)") {
    // On thousands of cores the maxPartitionBytes × cores/2 gate grows
    // to hundreds of GB — simulate that regime by cranking the split
    // size so the cores-scaled term alone WOULD admit a ~19 GB frame,
    // and pin that the absolute SpreadCeilingBytes refuses the shuffle.
    // spark.range stats are exact (8 bytes/row; statsBytes scales ×8).
    val conf = spark.conf
    val key = "spark.sql.files.maxPartitionBytes"
    val old = conf.get(key)
    try {
      conf.set(key, (2L << 30).toString) // cores-scaled gate: 16×2 GiB
      val big = spark.range(300L * 1000 * 1000).toDF("id") // ~19.2 GB est
      assert(graft.operators.Dedup.spreadIfUnderParallel(big) eq big,
        "a frame past the absolute ceiling must NOT spread")
      val small = spark.range(1000L).toDF("id")
      assert(graft.operators.Dedup.spreadIfUnderParallel(small) ne small,
        "a tiny under-parallel frame must still spread")
    } finally conf.set(key, old)
  }
}
