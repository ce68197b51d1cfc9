package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.streaming.StreamingEngine

/** Structured Streaming entries (SURVEY.md §2.8), oracle-checked against
  * the same DuckDB SQL as their batch twins: a streaming plan over a
  * bounded source must converge to the batch answer (Trigger.AvailableNow
  * + multiple micro-batches), which is exactly the reference's
  * "incremental stream over static segments" contract.
  */
object StreamingQueries {

  private val STEP_MS = 3600000L // 1 h buckets

  /** The sf events table re-written once as a 4-file directory so the file
    * stream source produces multiple micro-batches (maxFilesPerTrigger=2).
    * Range-partitioned by event_id → deterministic file contents. */
  private[queries] def streamDir(s: SparkSession, sfDir: String): String =
    Tables.artifact(s, "stream", sfDir) { out =>
      Tables.load(s, sfDir, "events")
        .repartitionByRange(4, col("event_id"))
        .write.parquet(out)
      out
    }

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // TIMESTAMP(NANOS) read as epoch-nanos
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def dec(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(18, 2))

  /** Stateful streaming partitions the state store by shuffle.partitions,
    * paying per-partition checkpoint IO every micro-batch — size it to the
    * key cardinality (a handful here), not the batch-query default. The
    * partition count binds at query start, so restoring the conf after
    * start() doesn't affect the running stream. */
  private def withStatePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }

  /** T1/T2: event-time tumbling window aggregation on a file stream.
    * step_ts = 1 h buckets; per (bucket, event_type): count + exact-decimal
    * sum. Complete output mode materializes every window for the oracle
    * compare (append-mode watermark closing is asserted in StreamingSpec).
    */
  def st1_stream_window(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(streamDir(s, dir))
    val plan = src
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      .groupBy(
        window(col("ts_t"), s"$STEP_MS milliseconds"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("dtotal"))
    val q = withStatePartitions(s, 8) {
      plan.writeStream
        .format("memory").queryName("st1_stream_window")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.table("st1_stream_window")
      .select(
        expr("unix_millis(window.start)").as("step_ts"),
        col("event_type"), col("n"),
        col("dtotal").cast("double").as("total"))
      .orderBy("step_ts", "event_type")
  }

  /** A2/A9 ingest side: the per-minute rollup_* segment family computed
    * by the streaming engine — the reference's collector pre-rolls metric
    * segments exactly like this at ingest (PushDownAggregatorStage), and
    * the A2 chart path re-aggregates them at query time. In production
    * this runs append-mode with a watermark (each closed minute emits
    * once, ready to land as a segment file + manifest row); the
    * complete-mode memory sink here materializes every window so the
    * oracle can compare the full table, st1-style.
    */
  def st3_rollup_ingest(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(streamDir(s, dir))
    val plan = src
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("ts_t"), "60000 milliseconds"), col("event_type"))
      .agg(
        sum(dec(col("value"))).as("dsum"),
        count(lit(1)).as("n"),
        min(col("value")).as("rollup_min"),
        max(col("value")).as("rollup_max"))
    val q = withStatePartitions(s, 8) {
      plan.writeStream
        .format("memory").queryName("st3_rollup_ingest")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.table("st3_rollup_ingest")
      .select(
        expr("unix_millis(window.start)").as("ts"),
        col("event_type"),
        col("dsum").cast("double").as("rollup_sum"),
        col("n").cast("double").as("rollup_count"),
        col("rollup_min"), col("rollup_max"),
        (col("dsum").cast("double") / col("n")).as("rollup_avg"))
      .orderBy("ts", "event_type")
  }

  /** dateInt (yyyyMMdd) / hour partition values from an epoch-ms column —
    * pure integer arithmetic + DateType (both timezone-free), matching the
    * reference's time-partitioned object layout
    * (core/src/main/scala/com/cardinal/utils/Commons.scala:160-177). */
  private def dateIntOf(ms: org.apache.spark.sql.Column) = {
    val d = date_add(lit(java.sql.Date.valueOf("1970-01-01")),
      (ms / 86400000L).cast("int"))
    (year(d) * 10000 + month(d) * 100 + dayofmonth(d)).as("date_int")
  }

  /** Streaming segment build shared by st4/st6: built once per (context,
    * sf dir) — both entries read the same artifacts, so the bench charges
    * the stream once, the way a real ingest loop amortizes across every
    * query that reads its segments. Segments carry the rollup_* columns
    * AND mergeable sketch columns in the reference byte formats
    * (sketch_dd — DDSketch proto of the values; sketch_hll —
    * DataSketches HLL image of user_id): TypedImperativeAggregate
    * buffers serialize into streaming state like any other aggregate,
    * so sketch-building rides the same watermarked window aggregation.
    * Returns the base dir and the manifest over its segment files, None
    * when the watermark sealed no window (a data span under the
    * watermark delay). */
  private[graft] def rollupSegmentsBase(s: SparkSession,
      dir: String): (String, Option[DataFrame]) =
    Tables.artifact(s, "st4", dir) { base =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val segDir = s"$base/segments"
      val src = s.readStream
        .schema(eventsSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(streamDir(s, dir))
      val plan = src
        .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ts_t", "1 hour")
        .groupBy(window(col("ts_t"), "60000 milliseconds"), col("event_type"))
        .agg(
          sum(dec(col("value"))).as("dsum"),
          count(lit(1)).as("n"),
          min(col("value")).as("rollup_min"),
          max(col("value")).as("rollup_max"),
          graft.functions.SketchInteropFunctions
            .ddProtoSketch(col("value")).as("sketch_dd"),
          graft.functions.SketchInteropFunctions
            .dsHllSketch(col("user_id")).as("sketch_hll"))
        .select(
          expr("unix_millis(window.start)").as("ts"),
          col("event_type"),
          col("dsum").cast("double").as("rollup_sum"),
          col("n").cast("double").as("rollup_count"),
          col("rollup_min"), col("rollup_max"),
          (col("dsum").cast("double") / col("n")).as("rollup_avg"),
          col("sketch_dd"), col("sketch_hll"))
        .withColumn("date_int", dateIntOf(col("ts")))
        .withColumn("hour", ((col("ts") % 86400000L) / 3600000L).cast("int"))
        // one writer task per partition dir (not every state task writing
        // into every dir): per emitting micro-batch, file count = touched
        // dirs, not state-partitions × dirs
        .repartition(col("date_int"), col("hour"))
      val q = withStatePartitions(s, 8) {
        plan.writeStream
          .format("parquet")
          .option("path", segDir)
          .partitionBy("date_int", "hour")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
      // filesystem walk, not a data scan: listing the written part files
      // needs no footer reads, and it is well-defined even when the
      // watermark closed ZERO windows (a data-span < watermark fixture)
      // where s.read.parquet(segDir) would fail schema inference
      val segFiles = listParquet(new java.io.File(segDir)).sorted
      (base, Option.when(segFiles.nonEmpty)(graft.sources.SegmentIndex
        .build(s, segFiles, "ts", identity, Seq("event_type"),
          mergeSchema = false)))
    }

  /** st4's sealed segments, read through their manifest. */
  private def sealedRollup(s: SparkSession, dir: String): DataFrame =
    rollupSegmentsBase(s, dir)._2.fold(emptyRollup(s))(m =>
      graft.sources.ManifestFileIndex.relation(s, m, "ts", identity, Set.empty)
        .select(rollupCols.map(col): _*))

  /** A2-ingest, production shape: append-mode + watermark. Each minute
    * window emits EXACTLY ONCE when the watermark (max event time − 1 h)
    * passes its end, and lands as parquet segment files; a manifest
    * (file, row_count, min/max ts, fingerprints) is then built over the
    * written files — the same two artifacts the reference's collector
    * produces per closed rollup block (segment + `metric_seg` row). The
    * complete-mode memory-sink twin `st3` stays verification-only; this
    * is the real ingest loop shape.
    *
    * The output is read back THROUGH the manifest (a ManifestFileIndex
    * relation, as st23 reads), so the oracle hash also proves the
    * manifest covers every written segment.
    * Closed-window set = windows with end <= max event time − 1 h:
    * deterministic because the file stream source orders files
    * deterministically and AvailableNow runs a final no-data batch to
    * flush watermark-closed windows (the reason it exists vs Once).
    */
  def st4_rollup_segments(s: SparkSession, dir: String): DataFrame =
    sealedRollup(s, dir).orderBy("ts", "event_type")

  private val rollupCols = Seq("ts", "event_type", "rollup_sum",
    "rollup_count", "rollup_min", "rollup_max", "rollup_avg")

  /** st22: compaction EXECUTION over st4's streaming segment landscape —
    * the st4 drift investigation showed the read side is footer-IO-bound
    * on one file per touched (date_int, hour) dir (719 KB-scale files at
    * sf0.1); [[graft.operators.Compaction]] re-packs them toward a
    * target size (here 4 MB → a handful of files) and the compacted
    * read must return EXACTLY st4's rows — same oracle SQL, so a
    * compaction that drops/duplicates/reorders data hash-mismatches.
    * File-count shrinkage itself is pinned in CompactionSpec. */
  def st22_compacted_rollup(s: SparkSession, dir: String): DataFrame = {
    val segFiles = st4SegmentFiles(s, dir)
    if (segFiles.isEmpty) return emptyRollup(s).orderBy("ts", "event_type")
    val outDir = Tables.artifact(s, "st22", dir) { out =>
      graft.operators.Compaction.compact(s, segFiles, out,
        targetBytes = 4L << 20)
      out
    }
    s.read.parquet(outDir)
      .select(rollupCols.map(col): _*)
      .orderBy("ts", "event_type")
  }

  private def st4SegmentFiles(s: SparkSession, dir: String): Seq[String] =
    listParquet(new java.io.File(s"${rollupSegmentsBase(s, dir)._1}/segments"))
      .sorted

  private def listParquet(dir: java.io.File): Seq[String] = {
    val fs = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    fs.filter(_.isDirectory).flatMap(listParquet) ++
      fs.filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath)
  }

  /** st23: the full ingest → threshold → compact → pruned-query loop —
    * compaction wired in as POLICY, not a one-shot job. The streaming
    * ingest (st4's build) lands ~one file per (date_int, hour) dir;
    * [[graft.operators.Compaction.applyPolicy]] groups the landed files
    * by DAY and rewrites only days holding more than 23 files (at
    * sf0.01: every sealed 24-hour day compacts to one ~300 KB file, the
    * 23-file trailing day is left as-landed — both policy branches
    * exercised on real ingest output). A NEW manifest is then built over
    * the post-policy layout and a time-pruned aggregate runs through it;
    * the oracle recomputes the same rollup windows from raw events, so a
    * policy pass that drops/duplicates rows, mis-bins, or breaks
    * manifest pruning hash-mismatches. Read-latency before/after is
    * recorded in PLANS.md (st22 measured 11× on the same layout). */
  def st23_compaction_policy(s: SparkSession, dir: String): DataFrame = {
    val segFiles = st4SegmentFiles(s, dir)
    if (segFiles.isEmpty) return s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("event_type", StringType),
        StructField("n_windows", LongType),
        StructField("n_events", LongType),
        StructField("total", DoubleType))))
    val dayOf = (f: String) => {
      val m = "date_int=(\\d+)".r.findFirstMatchIn(f)
      m.map(_.group(1)).getOrElse("unpartitioned")
    }
    // post-policy layout AND its manifest: both are ingest-time artifacts
    // (the policy pass ends by publishing the manifest the next planner
    // reads), so neither belongs in the per-query path
    val manifest = Tables.artifact(s, "st23", dir) { out =>
      val layout = graft.operators.Compaction.applyPolicy(s, segFiles,
        out, maxFilesPerKey = 23, targetBytes = 4L << 20, keyOf = dayOf)
      // the post-policy manifest: the layout the NEXT query planner sees
      graft.sources.SegmentIndex.build(s, layout.files,
        "ts", identity, Seq("event_type"), mergeSchema = false)
    }
    graft.sources.ManifestFileIndex
      .relation(s, manifest, "ts", identity, Set.empty)
      .where(col("ts") >= st11Start && col("ts") < st11End)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("rollup_count")).cast("long").as("n_events"),
        sum(dec(col("rollup_sum"))).cast("double").as("total"))
      .orderBy("event_type")
  }

  /** Typed empty rollup frame — the legal answer when the watermark
    * sealed no windows; schema matches the segment read exactly. */
  private def emptyRollup(s: SparkSession): DataFrame =
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("ts", LongType),
        StructField("event_type", StringType),
        StructField("rollup_sum", DoubleType),
        StructField("rollup_count", DoubleType),
        StructField("rollup_min", DoubleType),
        StructField("rollup_max", DoubleType),
        StructField("rollup_avg", DoubleType))))

  /** The reference's sealed/unsealed split as one union view: a query
    * worker answers from SEALED segments on disk plus the collector's
    * in-flight ("unsealed") aggregation state
    * (query-worker WorkerApi.scala:121-182 streams sealed first, then the
    * live buffer). Spark-first version: the sealed half is st4's
    * watermark-emitted segment files; the live half is the SAME streaming
    * query's state store, read through Spark's state data source
    * (`format("statestore")` over the checkpoint) — the open windows the
    * watermark has not yet closed, with their current partial aggregates.
    * Because eviction-on-emit makes state the exact complement of the
    * emitted set, sealed ∪ live = every window = the batch answer over
    * all events, which is precisely what the oracle hash checks (a
    * stronger guarantee than closed-window containment: any overlap or
    * gap at the seal boundary diverges). */
  def st10_live_sealed_union(s: SparkSession, dir: String): DataFrame = {
    val sealedHalf = sealedRollup(s, dir)
    val liveHalf = s.read.format("statestore")
      .load(s"${rollupSegmentsBase(s, dir)._1}/ckpt")
      .select(
        expr("unix_millis(key.window.start)").as("ts"),
        col("key.event_type").as("event_type"),
        col("value.sum").cast("double").as("rollup_sum"),
        col("value.count").cast("double").as("rollup_count"),
        col("value.min").as("rollup_min"),
        col("value.max").as("rollup_max"),
        (col("value.sum").cast("double") / col("value.count"))
          .as("rollup_avg"))
    sealedHalf.unionByName(liveHalf).orderBy("ts", "event_type")
  }

  // st11: query window = 2024-01-15 06:00..12:00 UTC (epoch-day 19737)
  private val st11Start = 19737L * 86400000L + 6L * 3600000L
  private val st11End = 19737L * 86400000L + 12L * 3600000L

  /** Partition-dir pruning composing with manifest pruning over the same
    * time predicate (reference layout Commons.scala:160-177; SURVEY §4
    * row 3). The manifest prunes to candidate FILES by per-segment
    * min/max ts — collect on index metadata only — and the relation is
    * then built with `basePath`, so the dateInt=/hour= directory values
    * come back as partition columns and Catalyst prunes the listed files
    * AGAIN at planning time via PartitionFilters (no footer even opened
    * for a file whose directory falls outside the window). Either
    * mechanism alone gives the right answer; together the scan survives
    * both a manifest gap and a mis-listed file. Output re-aggregates the
    * six pruned hours per type — all windows there are watermark-sealed
    * (the range sits weeks before max event time − 1 h at every sf). */
  def st11_partition_pruned(s: SparkSession, dir: String): DataFrame = {
    val (base, manifest) = rollupSegmentsBase(s, dir)
    val listed = manifest.toSeq.flatMap(graft.sources.SegmentIndex
      .prune(_, None, Set.empty, st11Start, st11End))
    if (listed.isEmpty)
      // typed empty result, not a schema-less one: an empty candidate
      // set is a legal answer for a fixture with no data in the window
      return s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("event_type", StringType),
          StructField("n_windows", LongType),
          StructField("n_events", LongType),
          StructField("total", DoubleType))))
    s.read.option("basePath", s"$base/segments").parquet(listed: _*)
      .where(col("date_int") === 20240115 && col("hour").between(6, 11))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("rollup_count")).cast("long").as("n_events"),
        sum(dec(col("rollup_sum"))).cast("double").as("total"))
      .orderBy("event_type")
  }

  /** Sketch columns written by the STREAMING ingest, merged at query
    * time — the full reference loop (collector writes sketch-bearing
    * segments, query-api merges them: PushDownAggregatorStage +
    * TimeGroupedSketchAggregator) with zero raw-event re-reads on the
    * query side. Output is the exact closed-window event count per type
    * (derived from the merged DDSketch — exact by construction), gated
    * on the merged p90 landing within 1.5% of the exact order statistic
    * at floor(0.9·(n-1)) and the merged HLL estimate within 5% of the
    * exact distinct user count, both computed over the same closed-window
    * subset of raw events (window end <= max event time − 1 h). */
  def st6_sketch_segments(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{SketchInteropFunctions => SI}
    val (base, _) = rollupSegmentsBase(s, dir)
    // ONE DDSketch merge per group; count and p90 are scalar readers
    // over the merged payload — two independent merge aggregates would
    // deserialize and merge every segment sketch twice
    val merged = s.read.parquet(s"$base/segments")
      .groupBy(col("event_type"))
      .agg(
        SI.ddProtoMerge(col("sketch_dd")).as("dd"),
        SI.dsHllEstimateOf(SI.dsHllUnion(col("sketch_hll"))).as("users_est"))
      .select(col("event_type"),
        SI.ddProtoStatOf(col("dd"), "count").as("cnt_d"),
        SI.ddProtoQuantileOf(col("dd"), lit(0.9)).as("p90"),
        col("users_est"))
    val ev = Tables.load(s, dir, "events")
      .select(expr("ts div 1000000").as("ms"), col("event_type"),
        col("value"), col("user_id"))
    val mxDf = ev.agg(max(col("ms")).as("mx"))
    val closed = ev.crossJoin(broadcast(mxDf))
      .where((col("ms") - col("ms") % 60000L) + 60000L <= col("mx") - 3600000L)
    // exact x90 via distributed selection (Quantiles), NOT a
    // Window.partitionBy(event_type) sort — with a handful of types the
    // window plan sorts every closed event in as many tasks (the same
    // low-cardinality trap k2's verification side had)
    val exactUsers = closed.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    val x90 = graft.operators.Quantiles.exactByGroup(
      closed, "event_type", col("value"), Seq("x90" -> 0.9))
    val exact = exactUsers.join(x90, Seq("event_type"))
    merged.join(exact, Seq("event_type"))
      .where(abs(col("p90") - col("x90")) / col("x90") <= 0.015 &&
        abs(col("users_est") - col("exact_users")) / col("exact_users") <= 0.05)
      .select(col("event_type"), col("cnt_d").cast("long").as("cnt"))
      .orderBy("event_type")
  }

  /** T3: session windows (30-min inactivity gap) per user — absent in
    * the reference, subsumed by Spark's `session_window`, demonstrated
    * here in batch mode (the same expression works under readStream with
    * a watermark). A session ends gap after its LAST event; the oracle
    * replicates the semantics with gaps-and-islands SQL (new session
    * when the gap to the previous event is >= 30 min). */
  def st5_session_window(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    ev.groupBy(session_window(col("ts_t"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(
        expr("unix_millis(session_window.start)").as("session_start"),
        expr("unix_millis(session_window.end)").as("session_end"),
        col("user_id"), col("n"))
      .orderBy("user_id", "session_start")
  }

  /** T4: per-key running stats via flatMapGroupsWithState across
    * micro-batches; the final update per key must equal the batch
    * aggregate (count/max/last-ts are monotone, so max over the update
    * stream is the final state). */
  def st2_running_stats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(streamDir(s, dir))
    val keyed = src.select(
        col("event_type").as("key"),
        expr("ts div 1000000").as("ts"),
        col("value"))
      .as[StreamingEngine.KeyedEvent]
    val q = withStatePartitions(s, 8) {
      StreamingEngine.runningStats(keyed).toDF()
        .writeStream
        .format("memory").queryName("st2_running_stats")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.table("st2_running_stats")
      .groupBy(col("key"))
      .agg(max("count").as("n"), max("max").as("max_value"),
        max("ts").as("last_ts"))
      .orderBy("key")
  }

  /** Streaming exact dedup: `dropDuplicates` keyed state across
    * micro-batches — the ingest-side "first occurrence only" gate (at
    * ingest scale the state holds one empty entry per distinct key;
    * with an event-time watermark, `dropDuplicatesWithinWatermark`
    * bounds it). The chained stateful pipeline (dedup → aggregation)
    * must converge to the batch COUNT(DISTINCT user_id) per type. */
  def st7_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(streamDir(s, dir))
    val plan = src.select(col("event_type"), col("user_id"))
      .dropDuplicates("event_type", "user_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("distinct_users"))
    val q = withStatePartitions(s, 8) {
      plan.writeStream
        .format("memory").queryName("st7_stream_dedup")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.table("st7_stream_dedup").orderBy("event_type")
  }

  /** st7 on the RocksDB state store with changelog checkpointing — the
    * state BACKEND for 100 TB streams: HDFS-backed stores keep every
    * key on the executor heap (st7's grow-forever maps become OOM, GC
    * pauses, and full-snapshot checkpoint stalls), RocksDB spills state
    * to local SSD with bounded block-cache memory and checkpoints the
    * per-batch CHANGELOG instead of a full snapshot. Same plan, same
    * answer (the oracle is st7's) — the point is that the swap is pure
    * configuration, which is exactly the property that lets a cluster
    * operator turn it on under load. Provider conf is session-wide, so
    * it is set/restored around the one start() that must bind it. */
  def st16_rocksdb_state(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    withRocksDbStateStore(s, changelog = true) {
      val plan = s.readStream
        .schema(eventsSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(streamDir(s, dir))
        .select(col("event_type"), col("user_id"))
        .dropDuplicates("event_type", "user_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("distinct_users"))
      val q = withStatePartitions(s, 8) {
        plan.writeStream
          .format("memory").queryName("st16_rocksdb_state")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
    }
    s.table("st16_rocksdb_state").orderBy("event_type")
  }

  /** Run `body` with the RocksDB state-store provider (and optionally
    * per-batch changelog checkpointing) bound, restoring BOTH keys to
    * their prior values afterwards. The provider conf is session-wide
    * and binds at `start()` — leaving either key set would make every
    * later streaming entry's provider depend on execution order. */
  private def withRocksDbStateStore[A](s: SparkSession,
      changelog: Boolean = false)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val chg = "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled"
    val prev = s.conf.getOption(key)
    val prevChg = s.conf.getOption(chg)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    if (changelog) s.conf.set(chg, "true")
    def restore(k: String, v: Option[String]): Unit = v match {
      case Some(x) => s.conf.set(k, x)
      case None => s.conf.unset(k)
    }
    try body
    finally { restore(key, prev); restore(chg, prevChg) }
  }

  /** st7's production-correct sibling: exact dedup with BOUNDED state.
    * `dropDuplicatesWithinWatermark` evicts a key once the watermark
    * passes its event time + delay, so state size tracks the watermark
    * window instead of growing with every key ever seen — on an
    * unbounded stream st7's plain `dropDuplicates` is a slow memory
    * leak; this is the version a collector actually ships. First-seen
    * rows emit eagerly in append mode (eviction bounds future duplicate
    * DETECTION, not emission), so no watermark sentinel is needed; with
    * the 60-day delay covering the whole replay span nothing evicts
    * mid-replay and the result converges to the exact batch distinct —
    * the same oracle as st7. The distinct count itself runs as a batch
    * aggregation over the emitted first-seen rows (st9's two-stage
    * shape). */
  def st14_dedup_bounded_state(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val plan = s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(streamDir(s, dir))
      .select(col("event_type"), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("t"))
      .withWatermark("t", "60 days")
      .dropDuplicatesWithinWatermark("event_type", "user_id")
      .drop("t")
    val q = withStatePartitions(s, 8) {
      plan.writeStream
        .format("memory").queryName("st14_dedup_bounded_state")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.table("st14_dedup_bounded_state")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("distinct_users"))
      .orderBy("event_type")
  }

  /** st14 on RocksDB + changelog checkpointing — the DOCUMENTED DEFAULT
    * for unbounded-key streaming state (watermark dedup holds one state
    * row per key inside the delay window; a hot key space grows that
    * without bound). tools.StateSize r10: the HDFS-backed provider's
    * memory tracks rows linearly (st14 2.8→20.8 MB across a 10× soak —
    * it keeps every key on the executor heap and is the first thing to
    * OOM), while RocksDB holds a flat block-cache bound and spills to
    * local SSD, checkpointing per-batch changelogs instead of full
    * snapshots. Same plan, same oracle as st14 — the swap is pure
    * configuration. Provider-selection rule in PLANS.md: bounded final
    * state (watermarked joins/windows) → either provider; unbounded or
    * hot key space (dedup keys, map state, big sessions) → RocksDB +
    * changelog. */
  def st24_dedup_rocksdb_state(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    withRocksDbStateStore(s, changelog = true) {
      val plan = s.readStream
        .schema(eventsSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(streamDir(s, dir))
        .select(col("event_type"), col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("t"))
        .withWatermark("t", "60 days")
        .dropDuplicatesWithinWatermark("event_type", "user_id")
        .drop("t")
      val q = withStatePartitions(s, 8) {
        plan.writeStream
          .format("memory").queryName("st24_dedup_rocksdb_state")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
    }
    s.table("st24_dedup_rocksdb_state")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("distinct_users"))
      .orderBy("event_type")
  }

  /** Stream-static join: the micro-batch stream enriched against a
    * static dimension table on every batch — Spark broadcasts the
    * static side into each micro-batch with no state. The synthetic
    * user→customer mapping (user_id mod |customer| + 1) is replayed by
    * the oracle; output = per-market-segment event counts. */
  def st8_stream_static_join(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val nCust = cust.count() // dimension size: a plan-time scalar
    val src = s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(streamDir(s, dir))
    val plan = src
      .withColumn("c_custkey", pmod(col("user_id"), lit(nCust)) + 1)
      .join(broadcast(cust), "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"))
    val q = withStatePartitions(s, 8) {
      plan.writeStream
        .format("memory").queryName("st8_stream_static_join")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.table("st8_stream_static_join").orderBy("c_mktsegment")
  }

  /** Stream-STREAM interval join (T-semantics the stream-static st8
    * cannot express): clicks and purchases arrive as two independent
    * streams; a purchase joins every click by the same user in the
    * preceding day. Spark keeps both sides in keyed state and emits a
    * pair the moment its partner arrives — the append-mode output over
    * AvailableNow converges to the batch interval join, which is the
    * oracle. Watermarks here are wider than the fixture's span so no
    * state is evicted and the result is COMPLETE (provable equality);
    * production tightens them to the real out-of-orderness bound, which
    * caps state at (watermark window × arrival rate) — that trade, not
    * the join semantics, is the only thing that changes at 100 TB. */
  def st12_stream_stream_join(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Pin the replay's micro-batch count: wall time here is dominated by
    // per-trigger machinery (state-store commits, checkpoint I/O), which
    // is ceil(files / maxFilesPerTrigger) + 1 no-data batch per side. A
    // testdata regeneration that changed the file layout would silently
    // change what the bench measures — fail loudly instead.
    val nSrc = listParquet(new java.io.File(streamDir(s, dir))).size
    require(nSrc == 4, s"st12 expects the 4-file stream layout " +
      s"(2 triggers/side at maxFilesPerTrigger=2), got $nSrc files")
    def side(tpe: String, idAs: String, tAs: String) = s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(streamDir(s, dir))
      .where(col("event_type") === tpe)
      .select(col("event_id").as(idAs), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as(tAs))
      .withWatermark(tAs, "60 days")
    val clicks = side("click", "click_id", "c_t")
    val purchases = side("purchase", "purchase_id", "p_t")
      .withColumnRenamed("user_id", "p_user_id")
    val plan = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("p_t") >= col("c_t") &&
        col("p_t") <= col("c_t") + expr("INTERVAL 1 DAY"))
    val q = withStatePartitions(s, 8) {
      plan.writeStream
        .format("memory").queryName("st12_stream_stream_join")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.table("st12_stream_stream_join")
      .select(col("click_id"), col("purchase_id"))
      .orderBy("click_id", "purchase_id")
  }

  /** Sentinel-augmented stream directory for watermark-gated OUTER
    * semantics: the same 4-file events layout as [[streamDir]], plus one
    * far-future row (`event_type = "_wm"`, ts = max_ts + 70 days) in a
    * separate part file whose mtime is bumped so the file stream source
    * processes it LAST. The sentinel flows through the watermark node
    * (filters come after `withWatermark` in consumers) but never joins;
    * its only effect is to advance the final watermark past every join
    * window, so state that outer joins are holding for
    * "might-still-match" rows seals and emits in the trailing no-data
    * micro-batch. This is the bounded-replay analogue of the reference's
    * ingest heartbeat that seals idle segments
    * (collector PushDownAggregatorStage flush-on-idle). */
  private[queries] def sentinelStreamDir(s: SparkSession, sfDir: String): String =
    Tables.artifact(s, "stream_wm", sfDir) { out =>
      val ev = Tables.load(s, sfDir, "events")
      ev.repartitionByRange(4, col("event_id")).write.parquet(out)
      val mainFiles = listParquet(new java.io.File(out))
      val maxTs = ev.agg(max(col("ts"))).collect()(0).getLong(0)
      // THREE sentinel files: the watermark computed from batch N's data
      // only takes effect in batch N+1, so a single sentinel would
      // advance the watermark with no batch left to act on it (observed:
      // zero outer rows emitted). With maxFilesPerTrigger = 2 the first
      // two sentinels may share a batch (lifting the watermark); #3 is
      // then guaranteed a LATER batch that runs under the lifted
      // watermark and flushes the sealed outer-join state. Generally:
      // maxFilesPerTrigger + 1 sentinels.
      var prev = mainFiles
      (1 to 3).foreach { i =>
        val sentinelTs = maxTs + (70L + i) * 86400000L * 1000000L // nanos
        ev.limit(1).select(
            lit(-1L).as("event_id"), lit(sentinelTs).as("ts"),
            lit(-1L).as("user_id"), lit("_wm").as("event_type"),
            lit(0.0).as("value"), lit(null).cast("string").as("props"))
          .coalesce(1).write.mode("append").parquet(out)
        val all = listParquet(new java.io.File(out))
        // the source orders files by modification time: main < s1 < s2 < s3
        val now = System.currentTimeMillis()
        all.diff(prev).foreach(f =>
          new java.io.File(f).setLastModified(now + i * 60000L))
        prev = all
      }
      val now = System.currentTimeMillis()
      mainFiles.foreach(f => new java.io.File(f).setLastModified(now - 120000))
      out
    }

  /** T-outer: watermarked stream-stream LEFT OUTER interval join — the
    * st12 click→purchase attribution with the complement emitted: a click
    * with no purchase within 1 day appears exactly once with a null
    * (surfaced as -1) purchase once the watermark proves no match can
    * still arrive. Inner matches emit eagerly per micro-batch; unmatched
    * state seals against the watermark — the same sealed/unsealed
    * completeness contract as st10, applied to join state. Converges to
    * the batch LEFT JOIN the oracle runs. */
  def st13_stream_outer_join(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Pin the replay's micro-batch count (see st12): 4 main files + 3
    // watermark sentinels = 4 triggers/side at maxFilesPerTrigger=2.
    // The per-trigger fixed cost is recorded in PLANS.md; this require
    // keeps a testdata or sentinel-layout change from silently changing
    // what the bench times.
    val nSrc = listParquet(new java.io.File(sentinelStreamDir(s, dir))).size
    require(nSrc == 7, s"st13 expects the 4+3-sentinel stream layout " +
      s"(4 triggers/side at maxFilesPerTrigger=2), got $nSrc files")
    def side(tpe: String, idAs: String, tAs: String) = s.readStream
      .schema(eventsSchema)
      // 2 files per trigger with THREE sentinels (see sentinelStreamDir):
      // the last sentinel is guaranteed a batch after the watermark lift,
      // and the replay costs 4 micro-batches per side instead of 6
      .option("maxFilesPerTrigger", "2")
      .parquet(sentinelStreamDir(s, dir))
      .select(col("event_id").as(idAs), col("user_id"), col("event_type"),
        timestamp_micros(expr("ts div 1000")).as(tAs))
      .withWatermark(tAs, "60 days") // nothing in the real span is late
      // the sentinel must pass this filter: Catalyst pushes a
      // non-watermark-column predicate BELOW the EventTimeWatermark node,
      // and a filter that drops the sentinel there would drop its
      // watermark advance with it (observed: zero outer rows). Passing it
      // through is harmless — user_id -1 matches nothing, and its own
      // window (max_ts + 71 days) never seals inside the replay.
      .where(col("event_type").isin(tpe, "_wm"))
      .drop("event_type")
    val clicks = side("click", "click_id", "c_t")
    val purchases = side("purchase", "purchase_id", "p_t")
      .withColumnRenamed("user_id", "p_user_id")
    val plan = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("p_t") >= col("c_t") &&
        col("p_t") <= col("c_t") + expr("INTERVAL 1 DAY"),
      "leftOuter")
    val q = withStatePartitions(s, 8) {
      plan.writeStream
        .format("memory").queryName("st13_stream_outer_join")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.table("st13_stream_outer_join")
      .where(col("click_id") =!= -1L) // belt: no sentinel in the output
      // -1 instead of null: Spark and DuckDB disagree on null sort
      // placement, and the hash compare is order-sensitive
      .select(col("click_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
      .orderBy("click_id", "purchase_id")
  }

  /** The documents table re-written once as a 4-file directory so the
    * batch side of st9 arrives in multiple micro-batches. */
  private[queries] def docStreamDir(s: SparkSession, sfDir: String): String =
    Tables.artifact(s, "docstream", sfDir) { out =>
      Tables.load(s, sfDir, "documents")
        .repartitionByRange(4, col("doc_id"))
        .write.parquet(out)
      out
    }

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming near-dup against a historical corpus: each micro-batch of
    * arriving documents is LSH-banded in-flight (map-side custom
    * expressions), joined against the STATIC history band table + shingle
    * sets (per-corpus persisted artifacts — here derived from doc_id <
    * 250), exact-verified with Jaccard, and pair-deduplicated across
    * micro-batches with `dropDuplicates` keyed state (a pair found via
    * two bands, or in two batches, emits once). Must converge to the d9
    * batch answer. Production note: bound the pair state with
    * `dropDuplicatesWithinWatermark` on arrival time. */
  def st9_stream_neardup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SketchExpressions
    val numHashes = 128; val bands = 16; val rowsPerBand = numHashes / bands
    val history = Tables.load(s, dir, "documents").where(col("doc_id") < 250)
    val setsHist = history.select(col("doc_id").as("id_hist"),
      SketchExpressions.wordShingleHashes(
        graft.operators.Dedup.tokens(col("text")), 3).as("s_h"))
    val histBands = graft.operators.Dedup.lshBands(
        setsHist.select(col("id_hist").as("id"),
          SketchExpressions.minhashSignature(col("s_h"), numHashes).as("sig")),
        "id", "sig", bands, rowsPerBand)
      .withColumnRenamed("id", "id_hist")
    val src = s.readStream
      .schema(docsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(docStreamDir(s, dir))
      .where(col("doc_id") >= 250)
    val withSets = src.select(col("doc_id").as("id_new"),
      SketchExpressions.wordShingleHashes(
        graft.operators.Dedup.tokens(col("text")), 3).as("s_n"))
    val banded = withSets.select(col("id_new"), col("s_n"),
      posexplode(SketchExpressions.lshBandKeys(
        SketchExpressions.minhashSignature(col("s_n"), numHashes),
        bands, rowsPerBand)).as(Seq("band", "band_key")))
    val plan = banded
      .join(histBands, Seq("band", "band_key"))
      .join(setsHist, Seq("id_hist"))
      .withColumn("jaccard",
        SketchExpressions.jaccardSorted(col("s_n"), col("s_h")))
      .where(col("jaccard") >= 0.8)
      .select(col("id_new"), col("id_hist"),
        round(col("jaccard"), 6).as("jaccard"))
      .dropDuplicates("id_new", "id_hist")
    val q = withStatePartitions(s, 8) {
      plan.writeStream
        .format("memory").queryName("st9_stream_neardup")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.table("st9_stream_neardup").orderBy("id_new", "id_hist")
  }

  /** One-time ingest artifacts (multi-file stream dirs, the streaming
    * segment+manifest build) so bench timings measure queries, not
    * ingest — same contract as the other prepare hooks. */
  private[graft] def prepare(s: SparkSession, dir: String): Unit = {
    streamDir(s, dir)
    docStreamDir(s, dir)
    sentinelStreamDir(s, dir)
    rollupSegmentsBase(s, dir)
  }

  /** st15: streaming heavy hitters — the Misra–Gries summary UDAF (k5's
    * engine) running as a STREAMING aggregate: per event_type, the state
    * store holds one capacity-64 MG buffer + an exact count, merged
    * across micro-batches by the same pointwise-sum-and-trim that merges
    * shuffle partials. This is the bounded-state alternative to st7's
    * grow-forever distinct: state is O(groups × capacity) no matter how
    * many distinct users the stream ever sees. The planted zipf mapping
    * (even user_ids collapse onto 3 hot keys, odd ids explode into
    * per-event singletons keyed by event_id) forces real evictions while
    * keeping the hot keys above threshold. The streamed summary is a
    * candidate set (MG recall guarantee survives any merge tree); a
    * batch recount of the ≤64×5 candidates with per-group threshold
    * T_g = N_g div 65 + 1 yields the exact deterministic heavy-hitter
    * set, which the oracle computes directly. */
  def st15_stream_heavy_hitters(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val m = 64
    val bucket = when(pmod(col("user_id"), lit(2)) === 0,
        concat(lit("hot"), pmod(col("user_id"), lit(3)).cast("string")))
      .otherwise(concat(lit("cold"), col("event_id").cast("string")))
    val plan = s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(streamDir(s, dir))
      .select(col("event_type"), bucket.as("bucket"))
      .groupBy(col("event_type"))
      .agg(graft.functions.HeavyHitters.mgSummary(col("bucket"), m).as("mg"),
        count(lit(1)).as("n"))
    val q = withStatePartitions(s, 8) {
      plan.writeStream
        .format("memory").queryName("st15_stream_heavy_hitters")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    // candidate extraction: bounded driver read (≤ 5 groups × 64 keys)
    val summaries = s.table("st15_stream_heavy_hitters").collect()
    val cands = summaries.flatMap { r =>
      val et = r.getString(0)
      val items = r.getStruct(1).getSeq[org.apache.spark.sql.Row](1)
      require(items.size <= m,
        s"MG summary for $et overflowed: ${items.size} > $m")
      items.map(it => (et, it.getString(0)))
    }
    val thresholds = summaries.map { r =>
      (r.getString(0), r.getLong(2) / (m + 1) + 1)
    }
    import s.implicits._
    val candDf = cands.toSeq.toDF("event_type", "bucket")
    val thDf = thresholds.toSeq.toDF("event_type", "t")
    // exact recount over the batch table, filtered to the candidates
    Tables.load(s, dir, "events")
      .select(col("event_type"), bucket.as("bucket"))
      .join(broadcast(candDf), Seq("event_type", "bucket"), "left_semi")
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(thDf), Seq("event_type"))
      .where(col("cnt") >= col("t"))
      .select(col("event_type"), col("bucket"), col("cnt"))
      .orderBy(col("event_type"), desc("cnt"), col("bucket"))
  }

  /** st17: the arbitrary-state operator on Spark 4's transformWithState
    * API — the successor to flatMapGroupsWithState and the general
    * escape hatch for reference-style custom aggregation state
    * (per-key sketch buffers, open rollup blocks) that windowed aggs
    * can't express. A ValueState[(count, cents)] per user is read,
    * folded over the batch's rows, written back, and the updated total
    * is emitted each micro-batch; the cents are per-row exact decimal
    * ×100 integers, so the fold is 64-bit integer arithmetic and the
    * converged answer hash-matches the batch GROUP BY regardless of
    * batch boundaries. transformWithState requires the RocksDB state
    * store (set/restored around the one start() that binds it) — state
    * lives on executor SSD with bounded block-cache memory, which is
    * what makes per-key state viable when "users" is 10⁹ at 100 TB.
    * The memory sink accumulates one emission per (user, batch); the
    * final batch-side `max(struct(n, cents))` keeps each user's last
    * (count is strictly increasing), a driver-free reduction.
    */
  def st17_transform_with_state(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      import s.implicits._
      val plan = s.readStream
        .schema(eventsSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(streamDir(s, dir))
        .select(col("user_id"), (dec(col("value")) * 100).cast("long").as("cents"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new RunningCentsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF()
      val q = withStatePartitions(s, 8) {
        plan.writeStream
          .format("memory").queryName("st17_transform_with_state")
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
    s.table("st17_transform_with_state")
      .groupBy(col("user_id"))
      .agg(max(struct(col("n"), col("cents"))).as("m"))
      .select(col("user_id"), col("m.n").as("n"),
        col("m.cents").as("total_cents"))
      .orderBy("user_id")
  }

  /** st18: HOPPING (sliding) windows on the stream — 10-minute windows
    * every 5 minutes, the overlap shape dashboards use for smooth rate
    * curves (st1 covers the tumbling special case). Each event lands in
    * exactly length/slide = 2 windows; Spark expands the assignment
    * map-side before the stateful aggregation, so state size scales
    * with open windows × groups, not events. Complete-mode memory sink
    * for the oracle compare, which replays the 2-window expansion as a
    * UNION ALL of the two shifted 5-minute grids.
    */
  def st18_sliding_window(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(streamDir(s, dir))
    val plan = src
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      .groupBy(
        window(col("ts_t"), "600 seconds", "300 seconds"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("dtotal"))
    val q = withStatePartitions(s, 8) {
      plan.writeStream
        .format("memory").queryName("st18_sliding_window")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.table("st18_sliding_window")
      .select(
        expr("unix_millis(window.start)").as("step_ts"),
        col("event_type"), col("n"),
        col("dtotal").cast("double").as("total"))
      .orderBy("step_ts", "event_type")
  }

  /** st19: timer-driven streaming sessionization on transformWithState —
    * the full arbitrary-state lifecycle (value state + event-time TIMERS)
    * that st17's fold never exercises. Per user, a (start, end, n) open
    * session lives in state; a gap > 30 min inside or across batches
    * emits the closed session inline, and the FINAL open session is
    * flushed by an event-time timer at end + gap once the watermark
    * passes it — the sentinel stream's far-future rows lift the
    * watermark at replay end exactly as they seal st13's outer join.
    * Stale timers are deleted on every re-registration, and the expiry
    * handler double-checks expiry == end + gap, so a session is emitted
    * exactly once. Converges to the batch a21 sessionization (same gap,
    * same oracle shape) because file delivery is event-time-ordered
    * (event_id range partitioning over a ts-monotone table). State is
    * one tuple per ACTIVE user — the 100 TB win over a21's global
    * window sort when sessions are queried continuously.
    */
  def st19_timer_sessions(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      import s.implicits._
      val plan = s.readStream
        .schema(eventsSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(sentinelStreamDir(s, dir))
        .select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("ts_t"))
        .withWatermark("ts_t", "60 days")
        .select(col("user_id"), expr("unix_millis(ts_t)").as("ts_ms"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new SessionProcessor(1800000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF()
      val q = withStatePartitions(s, 8) {
        plan.writeStream
          .format("memory").queryName("st19_timer_sessions")
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
    s.table("st19_timer_sessions")
      .where(col("user_id") >= 0) // drop the watermark sentinel's key
      .select(col("user_id"), col("start_ms"), col("end_ms"),
        col("n_events"))
      .orderBy("user_id", "start_ms")
  }

  /** st20: per-group cardinality on transformWithState MAP state — the
    * third state primitive (st17 value, st19 list). MapState[user → n]
    * keyed by event_type gives per-key point lookups and incremental
    * updates WITHOUT rewriting the whole value each batch — the access
    * pattern that matters when one group's sub-state is large (RocksDB
    * stores each map entry as its own key). Emits the running
    * (distinct_users, n_events) per batch; both are monotone, so the
    * converged answer is the per-type max, hash-checked against the
    * batch GROUP BY. This is st7's distinct-count expressed as explicit
    * state — exact, with state O(distinct users) per group, the
    * operator you reach for when approximate (a6 HLL) isn't allowed.
    */
  def st20_map_state(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      import s.implicits._
      val plan = s.readStream
        .schema(eventsSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(streamDir(s, dir))
        .select(col("event_type"), col("user_id"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .transformWithState(new TypeCardProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF()
      val q = withStatePartitions(s, 8) {
        plan.writeStream
          .format("memory").queryName("st20_map_state")
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
    s.table("st20_map_state")
      .groupBy(col("event_type"))
      .agg(max(col("distinct_users")).as("distinct_users"),
        max(col("n_events")).as("n_events"))
      .orderBy("event_type")
  }

  /** st21: exactly-once recovery across a RESTART — the operational
    * property every 100 TB streaming deployment actually banks on.
    * Phase A streams half the segment files into an hourly windowed
    * aggregation with an explicit checkpointLocation, then STOPS
    * (AvailableNow drains and terminates). Phase B starts a NEW query
    * from the SAME checkpoint with the remaining files landed: the
    * source offset log skips everything phase A committed, the state
    * store restores the open windows, and only the new files are read —
    * yet the final complete-mode table equals the batch answer over ALL
    * files (st1's oracle). A double-count (offset log ignored) or a
    * zero-count (state lost) both hash-mismatch, so the checkpoint
    * contract is what this entry verifies. Every invocation stages in a
    * fresh dir, so every run exercises a fresh recovery.
    */
  def st21_checkpoint_restart(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = new java.io.File(Tables.scratchDir("st21"))
    val dataDir = new java.io.File(base, "data"); dataDir.mkdirs()
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    val srcFiles = listParquet(new java.io.File(streamDir(s, dir)))
      .map(new java.io.File(_)).sortBy(_.getName)
    require(srcFiles.size >= 2, s"need >=2 stream files, got ${srcFiles.size}")
    val (phaseA, phaseB) = srcFiles.splitAt(srcFiles.size / 2)
    def land(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(dataDir, f.getName).toPath)
    }
    def run(queryName: String): Unit = {
      val plan = s.readStream
        .schema(eventsSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(dataDir.getAbsolutePath)
        .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("ts_t"), s"$STEP_MS milliseconds"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("dtotal"))
      val q = withStatePartitions(s, 8) {
        plan.writeStream
          .format("memory").queryName(queryName)
          .option("checkpointLocation", ckpt)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
    }
    land(phaseA)
    run("st21_phase_a") // drains phase A, commits offsets + state, stops
    land(phaseB)
    run("st21_checkpoint_restart") // recovers, reads ONLY the new files
    // the answer lives in the memory sink; the staging dir is spent
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    s.table("st21_checkpoint_restart")
      .select(
        expr("unix_millis(window.start)").as("step_ts"),
        col("event_type"), col("n"),
        col("dtotal").cast("double").as("total"))
      .orderBy("step_ts", "event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st21_checkpoint_restart" -> st21_checkpoint_restart _,
    "st20_map_state" -> st20_map_state _,
    "st19_timer_sessions" -> st19_timer_sessions _,
    "st18_sliding_window" -> st18_sliding_window _,
    "st17_transform_with_state" -> st17_transform_with_state _,
    "st15_stream_heavy_hitters" -> st15_stream_heavy_hitters _,
    "st1_stream_window" -> st1_stream_window _,
    "st9_stream_neardup" -> st9_stream_neardup _,
    "st12_stream_stream_join" -> st12_stream_stream_join _,
    "st13_stream_outer_join" -> st13_stream_outer_join _,
    "st14_dedup_bounded_state" -> st14_dedup_bounded_state _,
    "st24_dedup_rocksdb_state" -> st24_dedup_rocksdb_state _,
    "st7_stream_dedup" -> st7_stream_dedup _,
    "st16_rocksdb_state" -> st16_rocksdb_state _,
    "st8_stream_static_join" -> st8_stream_static_join _,
    "st2_running_stats" -> st2_running_stats _,
    "st3_rollup_ingest" -> st3_rollup_ingest _,
    "st4_rollup_segments" -> st4_rollup_segments _,
    "st22_compacted_rollup" -> st22_compacted_rollup _,
    "st10_live_sealed_union" -> st10_live_sealed_union _,
    "st11_partition_pruned" -> st11_partition_pruned _,
    "st23_compaction_policy" -> st23_compaction_policy _,
    "st5_session_window" -> st5_session_window _,
    "st6_sketch_segments" -> st6_sketch_segments _
  )

  val oracleSql: Map[String, String] = Map(
    // st21: recovery across restart must equal the batch answer over
    // ALL files (double-count and state-loss both hash-mismatch)
    "st21_checkpoint_restart" ->
      """SELECT (epoch_ms(ts) - epoch_ms(ts) % 3600000) AS step_ts,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY step_ts, event_type""".stripMargin,
    // st20: map-state distinct converges to the exact batch GROUP BY
    "st20_map_state" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // st19: timer-flushed streaming sessions converge to the batch
    // 30-min-gap sessionization (a21's CTE without the session index)
    "st19_timer_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
        |m AS (
        |  SELECT user_id, ts_ms,
        |    CASE WHEN lag(ts_ms) OVER w IS NULL
        |           OR ts_ms - lag(ts_ms) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
        |s AS (
        |  SELECT user_id, ts_ms,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_ms""".stripMargin,
    // st18: every event belongs to the two 5-min-shifted 10-min windows
    "st18_sliding_window" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms, event_type, value FROM events),
        |w AS (
        |  SELECT (ms // 300000) * 300000 AS step_ts, event_type, value FROM e
        |  UNION ALL
        |  SELECT (ms // 300000 - 1) * 300000 AS step_ts, event_type, value
        |  FROM e)
        |SELECT step_ts, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM w GROUP BY 1, 2 ORDER BY step_ts, event_type""".stripMargin,
    // st17 converges to the batch per-user rollup (integer cents)
    "st17_transform_with_state" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
        |    AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // st15: the exact per-group heavy-hitter set the streamed MG
    // candidate gate must produce (threshold N_g div 65 + 1)
    "st15_stream_heavy_hitters" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'hot' || (user_id % 3)
        |         ELSE 'cold' || event_id END AS bucket
        |  FROM events),
        |tot AS (SELECT event_type, count(*) AS n FROM b GROUP BY event_type)
        |SELECT b.event_type, b.bucket, count(*) AS cnt
        |FROM b JOIN tot USING (event_type)
        |GROUP BY b.event_type, b.bucket, tot.n
        |HAVING count(*) >= tot.n // 65 + 1
        |ORDER BY event_type, cnt DESC, bucket""".stripMargin,
    // the stream-stream interval join must converge to the batch join
    "st12_stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND c.user_id = p.user_id
        |  AND epoch_ms(p.ts) >= epoch_ms(c.ts)
        |  AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 86400000
        |ORDER BY click_id, purchase_id""".stripMargin,
    // the watermark-sealed outer join must converge to the batch LEFT JOIN
    "st13_stream_outer_join" ->
      """SELECT c.event_id AS click_id,
        |  coalesce(p.event_id, -1) AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_ms(p.ts) >= epoch_ms(c.ts)
        |  AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 86400000
        |ORDER BY click_id, purchase_id""".stripMargin,
    // same oracle as the batch twin d9 — the stream must converge to it
    "st9_stream_neardup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id AS id,
        |    list_distinct([array_to_string(toks[i : i + 2], ' ')
        |      for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS sh
        |  FROM t)
        |SELECT n.id AS id_new, h.id AS id_hist,
        |  round(CAST(len(list_intersect(n.sh, h.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(n.sh, h.sh))), 6) AS jaccard
        |FROM g n JOIN g h ON n.id >= 250 AND h.id < 250
        |WHERE CAST(len(list_intersect(n.sh, h.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(n.sh, h.sh))) >= 0.8
        |ORDER BY id_new, id_hist""".stripMargin,
    "st7_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // st16 = st7 on the RocksDB backend: same answer by construction
    "st16_rocksdb_state" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // bounded-state dedup converges to the same exact distinct as st7
    "st14_dedup_bounded_state" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // st24 = st14 on RocksDB + changelog: same answer by construction
    "st24_dedup_rocksdb_state" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "st8_stream_static_join" ->
      """SELECT c.c_mktsegment, count(*) AS n_events
        |FROM events e
        |JOIN customer c
        |  ON (e.user_id % (SELECT count(*) FROM customer)) + 1 = c.c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "st1_stream_window" ->
      """SELECT (epoch_ms(ts) - epoch_ms(ts) % 3600000) AS step_ts,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY step_ts, event_type""".stripMargin,
    "st2_running_stats" ->
      """SELECT event_type AS key, count(*) AS n, max(value) AS max_value,
        |  max(epoch_ms(ts)) AS last_ts
        |FROM events GROUP BY 1 ORDER BY key""".stripMargin,
    "st3_rollup_ingest" ->
      """SELECT (epoch_ms(ts) // 60000) * 60000 AS ts, event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rollup_sum,
        |  CAST(count(*) AS DOUBLE) AS rollup_count,
        |  min(value) AS rollup_min, max(value) AS rollup_max,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    AS rollup_avg
        |FROM events GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // the full per-minute rollup — sealed segments plus in-flight state
    // must tile it exactly (same SQL as st3's complete-mode twin)
    "st10_live_sealed_union" ->
      """SELECT (epoch_ms(ts) // 60000) * 60000 AS ts, event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rollup_sum,
        |  CAST(count(*) AS DOUBLE) AS rollup_count,
        |  min(value) AS rollup_min, max(value) AS rollup_max,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    AS rollup_avg
        |FROM events GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "st11_partition_pruned" ->
      """WITH r AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS ts, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rollup_sum,
        |    count(*) AS rollup_count
        |  FROM events
        |  WHERE epoch_ms(ts) >= 1705298400000 AND epoch_ms(ts) < 1705320000000
        |  GROUP BY 1, 2)
        |SELECT event_type, count(*) AS n_windows,
        |  CAST(sum(rollup_count) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(rollup_sum AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // st23 runs the SAME pruned aggregate as st11 but over the
    // post-policy layout (threshold-compacted days + as-landed trailing
    // day), so it shares st11's oracle verbatim: any row lost, doubled,
    // or mis-binned by the policy pass hash-mismatches here
    "st23_compaction_policy" ->
      """WITH r AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS ts, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rollup_sum,
        |    count(*) AS rollup_count
        |  FROM events
        |  WHERE epoch_ms(ts) >= 1705298400000 AND epoch_ms(ts) < 1705320000000
        |  GROUP BY 1, 2)
        |SELECT event_type, count(*) AS n_windows,
        |  CAST(sum(rollup_count) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(rollup_sum AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // st22 reads the COMPACTED copy of st4's segments; identical rows
    // by contract, so it shares st4's oracle verbatim
    "st22_compacted_rollup" ->
      """WITH mx AS (SELECT max(epoch_ms(ts)) AS m FROM events),
        |r AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS ts, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rollup_sum,
        |    CAST(count(*) AS DOUBLE) AS rollup_count,
        |    min(value) AS rollup_min, max(value) AS rollup_max,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |      AS rollup_avg
        |  FROM events GROUP BY 1, 2)
        |SELECT r.* FROM r, mx WHERE r.ts + 60000 <= mx.m - 3600000
        |ORDER BY ts, event_type""".stripMargin,
    "st4_rollup_segments" ->
      """WITH mx AS (SELECT max(epoch_ms(ts)) AS m FROM events),
        |r AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS ts, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rollup_sum,
        |    CAST(count(*) AS DOUBLE) AS rollup_count,
        |    min(value) AS rollup_min, max(value) AS rollup_max,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |      AS rollup_avg
        |  FROM events GROUP BY 1, 2)
        |SELECT r.* FROM r, mx WHERE r.ts + 60000 <= mx.m - 3600000
        |ORDER BY ts, event_type""".stripMargin,
    "st6_sketch_segments" ->
      """WITH mx AS (SELECT max(epoch_ms(ts)) AS m FROM events)
        |SELECT event_type, count(*) AS cnt FROM events, mx
        |WHERE (epoch_ms(ts) // 60000) * 60000 + 60000 <= m - 3600000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "st5_session_window" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |m AS (
        |  SELECT user_id, ms,
        |    CASE WHEN lag(ms) OVER w IS NULL
        |         OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |s AS (
        |  SELECT user_id, ms, sum(ns) OVER (
        |    PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT min(ms) AS session_start, max(ms) + 1800000 AS session_end,
        |  user_id, CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
  )
}

/** st17's emitted row: the running (count, cents) after each batch. */
private[queries] case class StUserAgg(user_id: Long, n: Long, cents: Long)

/** st20's emitted row: running per-type cardinality after each batch. */
private[queries] case class StTypeCard(
    event_type: String, distinct_users: Long, n_events: Long)

/** st20's StatefulProcessor: MapState[user_id → count] per event_type;
  * per-entry point updates (no full-value rewrite), emitting the
  * running (distinct, total) each batch. Distinct = map size, tracked
  * incrementally in a ValueState so emission never scans the map. */
private[queries] class TypeCardProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long), StTypeCard] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
    TimerValues, MapState, ValueState}

  @transient private var perUser: MapState[Long, Long] = _
  @transient private var totals: ValueState[(Long, Long)] = _ // (distinct, n)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    perUser = getHandle.getMapState[Long, Long]("perUser",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    totals = getHandle.getValueState[(Long, Long)]("totals",
      org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[(String, Long)],
      timerValues: TimerValues): Iterator[StTypeCard] = {
    var (distinct, n) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { case (_, user) =>
      if (perUser.containsKey(user)) {
        perUser.updateValue(user, perUser.getValue(user) + 1L)
      } else {
        perUser.updateValue(user, 1L)
        distinct += 1L
      }
      n += 1L
    }
    totals.update((distinct, n))
    Iterator.single(StTypeCard(key, distinct, n))
  }
}

/** st19's emitted row: one closed session per user. */
private[queries] case class StSession(
    user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

/** st19's StatefulProcessor: watermark-correct 30-min-gap sessionization.
  * Event timestamps BUFFER in ListState and sessions are only finalized
  * in the timer handler once the watermark passes end + gap — the
  * semantics every correct out-of-order sessionizer needs: a session is
  * not closed until no in-watermark event can still extend it. (A first
  * cut folded sessions incrementally in handleInputRows assuming
  * batches arrive in event-time order; the file source's batch order is
  * NOT contractual — modification-time ties reorder the initial listing
  * — and the fold mis-merged across batches, flakily. Buffering makes
  * arrival order irrelevant by construction.) State per key is the
  * events inside the watermark horizon — the same bound the built-in
  * session_window operator pays; one timer per key tracks max-ts + gap,
  * and on expiry every session sealed by the current watermark is
  * emitted in order, exactly once. */
private[queries] class SessionProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), StSession] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
    OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}

  @transient private var buf: ListState[Long] = _
  @transient private var maxTs: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[Long]("buf",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    maxTs = getHandle.getValueState[Long]("maxTs",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[StSession] = {
    val ts = rows.map(_._2).toArray
    buf.appendList(ts)
    val newMax = math.max(ts.max, if (maxTs.exists()) maxTs.get() else Long.MinValue)
    if (maxTs.exists() && maxTs.get() != newMax)
      getHandle.deleteTimer(maxTs.get() + gapMs)
    if (!maxTs.exists() || maxTs.get() != newMax) {
      maxTs.update(newMax)
      getHandle.registerTimer(newMax + gapMs)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[StSession] = {
    if (!buf.exists()) return Iterator.empty
    val wm = timerValues.getCurrentWatermarkInMs()
    val ts = buf.get().toArray.sorted
    val out = scala.collection.mutable.ArrayBuffer.empty[StSession]
    val retained = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < ts.length) {
      var j = i // [i, j] = one maximal gap-free run
      while (j + 1 < ts.length && ts(j + 1) - ts(j) <= gapMs) j += 1
      if (ts(j) + gapMs <= wm && retained.isEmpty)
        out += StSession(key, ts(i), ts(j), j - i + 1L)
      else // unsealed (or after an unsealed one): keep buffered
        retained ++= ts.slice(i, j + 1)
      i = j + 1
    }
    buf.clear(); maxTs.clear()
    if (retained.nonEmpty) {
      buf.appendList(retained.toArray)
      maxTs.update(retained.last)
      getHandle.registerTimer(retained.last + gapMs)
    }
    out.iterator
  }
}

/** st17's StatefulProcessor: ValueState[(count, cents)] per user key,
  * folded with 64-bit integer arithmetic (exact under any batch split).
  * State access is get → fold → update once per (key, batch) — the
  * access pattern RocksDB changelog checkpointing amortizes best. */
private[queries] class RunningCentsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), StUserAgg] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
    TimerValues, ValueState}

  @transient private var state: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[(Long, Long)]("agg",
      org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[StUserAgg] = {
    var n = 0L
    var c = 0L
    if (state.exists()) {
      val (pn, pc) = state.get()
      n = pn; c = pc
    }
    rows.foreach { r => n += 1; c += r._2 }
    state.update((n, c))
    Iterator.single(StUserAgg(key, n, c))
  }
}
