package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loads the driver-generated test tables (TESTDATA.md) and registers them
  * as temp views so both the DataFrame DSL and spark.sql can reach them.
  *
  * At 100 TB these would be partitioned roots
  * (`customer/collector/dateInt=/hour=` in the reference's layout — see
  * reference core/src/main/scala/com/cardinal/utils/Commons.scala:160-177);
  * here each table is a single parquet file. All reads go through
  * mergeSchema=true so per-file schema evolution (the norm for telemetry
  * segments) unions by name, mirroring DuckDB's `union_by_name=True`
  * (reference Commons.scala:200-254).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Derived data (stream segment dirs, rollups, manifests, layouts,
    * trained codebooks) built once per (context, `name`, sf dir): the
    * first request runs `build` with a path of its own, every later one
    * of the context, from any session, gets the value. Keyed by
    * SparkContext like [[load]], so an artifact is never older than the
    * tables its entry and its oracle read. The path, not yet created,
    * lies under the context's driver temp dir
    * (`SparkFiles.getRootDirectory`), which Spark deletes when the
    * context stops and at JVM exit: no process reads another's files.
    * Builds may request other artifacts; each key holds a lazy value,
    * so a build runs outside the map's lock, and concurrent requests of
    * one key wait for the one build. A failed build is retried by the
    * next request. */
  private[graft] def artifact[V](s: SparkSession, name: String,
      sfDir: String)(build: String => V): V =
    artifacts.computeIfAbsent((s.sparkContext, name, sfDir),
      _ => new Once(() => build(scratchDir(name)))).value.asInstanceOf[V]

  /** A fresh path, not yet created, under the context's driver temp dir. */
  private[graft] def scratchDir(name: String): String =
    new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(),
      s"${name}_${scratchSeq.incrementAndGet()}").getAbsolutePath

  private final class Once[V](make: () => V) { lazy val value: V = make() }
  private val artifacts = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.SparkContext, String, String), Once[_]]()
  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong()

  // DataFrames are immutable logical plans — memoize per (CONTEXT, path)
  // so repeated loads reuse one relation (no re-listing / schema
  // re-inference per query). Keyed by SparkContext, not SparkSession:
  // sessions created with newSession() (one per concurrent request in
  // the FAIR multi-tenant posture) share the context, its CacheManager,
  // and therefore this plan — keying by session would make every
  // concurrent request re-list and re-infer inside its timed window.
  // A stopped context still invalidates (a new context is a new key).
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.SparkContext, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cache.computeIfAbsent((spark.sparkContext, s"$sfDir/$name.parquet"), {
      case (_, path) =>
      val s = spark
      // The engine's canonical event-time representation is epoch-nanos
      // LongType (the reference's telemetry timestamps are nanos —
      // reference core Commons.scala TIMESTAMP handling). The
      // driver-generated `events.ts` has shipped as both parquet
      // TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds, so the
      // loader adapts whatever encoding it finds to the canonical column:
      //  - TIMESTAMP(NANOS): Spark 4 has no nanos timestamp type;
      //    nanosAsLong reads the raw int64 directly (scale 1).
      //  - TIMESTAMP(MICROS) / NTZ: re-read with a user schema typing
      //    `ts` as LongType — the vectorized reader hands back the raw
      //    int64 micros AND still pushes long comparisons into the scan
      //    (the parquet filter API compares physical int64) — scale 1000.
      //  - plain INT64: unit inferred from the first file's footer
      //    statistics (one footer read, O(1) at any data scale — no scan).
      // Non-unit scales project `ts_raw * scale`; UnwrapScaledComparison
      // (installed alongside) rewrites `ts_raw * c cmp lit` back to a
      // plain attribute predicate so time-range filters keep reaching
      // PushedFilters.
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.option("mergeSchema", "true").parquet(path)
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.functions.{col, lit}
      def scaled(df: DataFrame, scale: Long): DataFrame =
        if (scale == 1L) df
        else {
          graft.plans.UnwrapScaledComparison.install(s)
          df.withColumn("ts", col("ts") * lit(scale))
        }
      raw.schema.find(_.name == "ts").map(_.dataType) match {
        case Some(TimestampType) | Some(TimestampNTZType) =>
          val patched = StructType(raw.schema.map(f =>
            if (f.name == "ts") f.copy(dataType = LongType) else f))
          scaled(s.read.schema(patched).parquet(path), 1000L)
        case Some(LongType) =>
          scaled(raw, TsEncoding.footerTsMin(s, path)
            .map(TsEncoding.nanosScale).getOrElse(1L))
        case _ => raw
      }
    })

  /** Register every table as a temp view named after itself; idempotent. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => load(spark, sfDir, n).createOrReplaceTempView(n) }

  /** Exact (min, max) of the canonical epoch-nanos `ts` over the whole
    * table, answered from parquet FOOTER STATISTICS alone — no data
    * scan, no Spark job. This is the manifest lookup the incremental
    * entries model (the reference reads segment spans from its PG
    * manifest, never from the data): at any scale the cost is one
    * footer read per file, and at 100 TB the segment manifest plays the
    * same role. int64 min/max statistics are exact in parquet (stat
    * truncation applies only to binary columns), so the values are
    * BIT-IDENTICAL to `load(...).agg(min(ts), max(ts))` — pinned by
    * TsBoundsSpec across every sf fixture. None when any file lacks a
    * usable statistic (caller falls back to the aggregate job) — never
    * a partial answer. */
  def tsBoundsNanos(spark: SparkSession, sfDir: String,
      name: String): Option[(Long, Long)] =
    TsEncoding.footerTsBoundsNanos(spark, s"$sfDir/$name.parquet")
}

/** Event-time storage-unit detection for int64-encoded `ts` columns.
  * Plan-time only: reads ONE parquet footer (no data scan), so the cost is
  * constant whether the table is 17 MB or 100 TB.
  */
private[graft] object TsEncoding {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.schema.LogicalTypeAnnotation
  import LogicalTypeAnnotation.TimeUnit

  /** Min `ts` statistic of the first parquet file under `path` (file
    * or directory, by name) — the unit sample [[Tables.load]] infers a
    * raw int64's scale from. None when the file has no rows or a row
    * group without a usable statistic (load then keeps the raw value). */
  def footerTsMin(s: SparkSession, path: String): Option[Long] = {
    val conf = s.sessionState.newHadoopConf()
    parquetFiles(conf, path).headOption.flatMap(footerTs(conf, _))
      .collect { case (_, lo, hi) if lo <= hi => lo }
  }

  /** Exact (min, max) epoch-nanos bounds of `ts` from EVERY file's
    * footer statistics under `path`. Scale handling mirrors
    * [[Tables.load]], resolved PER FILE: a TIMESTAMP(NANOS/MICROS)
    * annotation fixes the file's unit; a plain int64 infers it from the
    * file's min via [[nanosScale]] (the rule load applies). Strict: None
    * — so the caller runs the aggregate fallback, which is always
    * consistent with load — when any file or row group lacks a non-null
    * int64 statistic for `ts`, when files disagree on the annotation or
    * the unit, or when a file is TIMESTAMP(MILLIS) (load reads every
    * timestamp annotation as micros, so footer and data would differ by
    * 1000×). Never a partial bound. */
  def footerTsBoundsNanos(s: SparkSession,
      path: String): Option[(Long, Long)] = {
    val conf = s.sessionState.newHadoopConf()
    val perFile = parquetFiles(conf, path).map(footerTs(conf, _))
    if (perFile.isEmpty || perFile.contains(None)) return None
    val footers = perFile.flatten
    if (footers.map(_._1).distinct.size != 1) return None
    val annotated: Option[Long] = footers.head._1 match {
      case None => None // raw int64: infer from each file's min below
      case Some(TimeUnit.NANOS) => Some(1L)
      case Some(TimeUnit.MICROS) => Some(1000L)
      case Some(_) => return None // MILLIS: load would read it as micros
    }
    val withRows = footers.filter { case (_, lo, hi) => lo <= hi }
    val scales = withRows.map { case (_, lo, _) =>
      annotated.getOrElse(nanosScale(lo)) }.distinct
    if (scales.size != 1) None
    else Some((withRows.map(_._2).min * scales.head,
      withRows.map(_._3).max * scales.head))
  }

  /** `path` itself when it is a file, else its `.parquet` files by name. */
  private def parquetFiles(conf: Configuration, path: String): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (fs.getFileStatus(p).isFile) Seq(p)
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
  }

  /** One file's `ts` footer: (timestamp unit annotation, None for a
    * plain signed int64; raw min; raw max) over every row group's
    * statistics — min > max when the file has no row group. None when
    * the file has no `ts`, another annotation, or a row group without a
    * non-null int64 statistic for it. */
  private def footerTs(conf: Configuration,
      f: Path): Option[(Option[TimeUnit], Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      if (!schema.containsField("ts")) return None
      val unit = schema.getType(Seq("ts"): _*).getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          Some(t.getUnit)
        case null => None
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
          if i.isSigned && i.getBitWidth == 64 => None
        case _ => return None
      }
      var lo = Long.MaxValue
      var hi = Long.MinValue
      footer.getBlocks.asScala.foreach { block =>
        val chunks = block.getColumns.asScala
          .filter(_.getPath.toDotString == "ts")
        if (chunks.isEmpty) return None
        chunks.foreach { c =>
          val st = c.getStatistics
          if (st == null || st.isEmpty || !st.hasNonNullValue) return None
          (st.genericGetMin, st.genericGetMax) match {
            case (mn: java.lang.Long, mx: java.lang.Long) =>
              lo = Math.min(lo, mn.longValue())
              hi = Math.max(hi, mx.longValue())
            case _ => return None
          }
        }
      }
      Some((unit, lo, hi))
    } finally reader.close()
  }

  /** Multiplier to epoch-NANOS, inferred from a sample epoch value's
    * magnitude. Unambiguous for any plausible event time (1973–2100):
    * nanos ≥ 9.5e16, micros 9.5e13..4.2e15, millis 9.5e10..4.2e12,
    * seconds ≤ 4.2e9 — each band separated by >10× from the thresholds. */
  def nanosScale(sample: Long): Long =
    if (sample > 100000000000000000L) 1L // already nanos
    else if (sample > 100000000000000L) 1000L // micros
    else if (sample > 100000000000L) 1000000L // millis
    else 1000000000L // seconds
}
