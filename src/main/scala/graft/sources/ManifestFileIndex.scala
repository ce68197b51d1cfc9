package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, Contains, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Or, StartsWith,
  EndsWith}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-integrated segment skipping: a [[FileIndex]] whose
  * `listFiles` prunes the segment set with the manifest (time bounds +
  * trigram fingerprints) from the query's OWN pushed filters — the
  * "deluxe" form of the reference's metadata-index scan
  * (`metric_seg`/`log_seg` lookups, reference QueryEngineV2.scala:742-951).
  *
  * [[SegmentIndex.scan]] prunes eagerly at call time and needs the caller
  * to hand over the clause; this index defers pruning to plan time, so ANY
  * DataFrame operation over the relation — `spark.sql` included — skips
  * segments it provably does not need, with zero cooperation from the
  * query author. Catalyst hands `listFiles` the data filters it already
  * pushed; unrecognized predicates simply fall back to "scan everything
  * the other conjuncts allow" (pruning stays sound: conjuncts only ever
  * REMOVE files).
  *
  * Driver-side state is the manifest rows (file → row_count / min_ts /
  * max_ts / fingerprints): KBs per thousand segments, the same planning
  * metadata the reference keeps in Postgres — not data.
  *
  * Filter translation:
  *  - ts comparisons (`>`, `>=`, `<`, `<=`, `=` on `tsCol`, literal in
  *    the COLUMN's unit) → manifest [min_ts, max_ts] overlap, after
  *    `tsToMillis` converts literals to manifest millis;
  *  - equality / IN / contains / prefix / suffix on indexed string
  *    columns → trigram fingerprint subset tests (the same
  *    [[SegmentIndex.valueFingerprints]] the eager path uses);
  *  - `And` recurses into both sides; `Or` prunes only if BOTH branches
  *    prune (union of their candidate sets).
  */
final class ManifestFileIndex(
    spark: SparkSession,
    manifest: Seq[ManifestFileIndex.Segment],
    tsCol: String,
    tsToMillis: Long => Long,
    indexed: Set[String])
    extends FileIndex {

  // listFiles always returns InternalRow.empty partition values, so a
  // non-empty partition schema would make FileSourceScanExec read
  // partition columns out of a zero-field row — this index models a flat
  // (manifest-pruned) file set by construction
  override val partitionSchema: StructType = new StructType()

  import ManifestFileIndex._

  private val statuses: Map[String, FileStatus] =
    listPaths(spark, manifest.map(_.file))
      .map { case (f, sts) => f -> sts.head }.toMap

  override def rootPaths: Seq[Path] =
    manifest.map(s => new Path(s.file).getParent).distinct

  override def inputFiles: Array[String] = manifest.map(_.file).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.values.map(_.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = dataFilters.foldLeft(manifest) { (segs, f) =>
      segs.filter(seg => mayMatch(seg, f))
    }
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map(s => statuses(s.file)).toArray))
  }

  /** Sound may-match test: false ONLY when the manifest proves no row of
    * the segment can satisfy `f`. */
  private def mayMatch(seg: Segment, f: Expression): Boolean = f match {
    case And(l, r) => mayMatch(seg, l) && mayMatch(seg, r)
    case Or(l, r) => mayMatch(seg, l) || mayMatch(seg, r)
    // ---- time bounds (literals arrive in the ts column's own unit) ----
    case GreaterThanOrEqual(TsAttr(`tsCol`), LongLit(v)) =>
      seg.maxTs >= tsToMillis(v)
    case GreaterThan(TsAttr(`tsCol`), LongLit(v)) => seg.maxTs >= tsToMillis(v)
    case LessThan(TsAttr(`tsCol`), LongLit(v)) => seg.minTs <= tsToMillis(v)
    case LessThanOrEqual(TsAttr(`tsCol`), LongLit(v)) =>
      seg.minTs <= tsToMillis(v)
    case GreaterThanOrEqual(LongLit(v), TsAttr(`tsCol`)) =>
      seg.minTs <= tsToMillis(v)
    case GreaterThan(LongLit(v), TsAttr(`tsCol`)) =>
      seg.minTs <= tsToMillis(v)
    case LessThanOrEqual(LongLit(v), TsAttr(`tsCol`)) =>
      seg.maxTs >= tsToMillis(v)
    case LessThan(LongLit(v), TsAttr(`tsCol`)) =>
      seg.maxTs >= tsToMillis(v)
    case EqualTo(TsAttr(`tsCol`), LongLit(v)) =>
      val ms = tsToMillis(v); seg.minTs <= ms && seg.maxTs >= ms
    case EqualTo(LongLit(v), TsAttr(`tsCol`)) =>
      val ms = tsToMillis(v); seg.minTs <= ms && seg.maxTs >= ms
    // ---- trigram fingerprints on indexed string dims ----
    case EqualTo(TsAttr(c), StrLit(v)) if indexed.contains(c) =>
      hasTrigrams(seg, c, v)
    case EqualTo(StrLit(v), TsAttr(c)) if indexed.contains(c) =>
      hasTrigrams(seg, c, v)
    case In(TsAttr(c), vs) if indexed.contains(c) &&
        vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists {
        case StrLit(v) => hasTrigrams(seg, c, v)
        case _ => true
      }
    case Contains(TsAttr(c), StrLit(v)) if indexed.contains(c) =>
      hasTrigrams(seg, c, v)
    case StartsWith(TsAttr(c), StrLit(v)) if indexed.contains(c) =>
      hasTrigrams(seg, c, v)
    case EndsWith(TsAttr(c), StrLit(v)) if indexed.contains(c) =>
      hasTrigrams(seg, c, v)
    case _ => true // not provably excludable -> keep
  }

  private def hasTrigrams(seg: Segment, c: String, v: String): Boolean =
    // prune only when the manifest proves this column was fingerprinted
    // at build time — a query-time `indexed` set wider than the
    // build-time one must degrade to scan, not prune everything
    if (!seg.fingerprints.contains(SegmentIndex.columnMarker(c))) true
    else SegmentIndex.valueFingerprints(c, v) match {
      case Some(fps) => fps.forall(seg.fingerprints.contains)
      case None => true // value too short to index -> cannot exclude
    }
}

object ManifestFileIndex {

  /** One manifest row: the planning metadata for one segment file. */
  final case class Segment(file: String, rowCount: Long, minTs: Long,
      maxTs: Long, fingerprints: Set[Long])

  /** Attribute name extractor (strips qualifiers). */
  private object TsAttr {
    def unapply(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
  }

  private object LongLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, _) => Some(v)
      case Literal(v: Int, _) => Some(v.toLong)
      case _ => None
    }
  }

  private object StrLit {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(v: UTF8String, _) => Some(v.toString)
      case _ => None
    }
  }

  /** Load manifest rows from the DataFrame shape [[SegmentIndex.build]]
    * produces. Driver-side by design: the manifest is planning metadata
    * (KBs/segment-thousand), exactly what the reference fetches from its
    * `*_seg` tables before touching data. */
  def segmentsOf(manifest: DataFrame): Seq[Segment] =
    manifest.select("file", "row_count", "min_ts", "max_ts", "fingerprints")
      .collect()
      .map { r =>
        Segment(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.getSeq[Long](4)).map(_.toSet).getOrElse(Set.empty))
      }.toSeq

  /** DataFrame over the manifest's segments with plan-time pruning wired
    * into the scan. `dataSchema` defaults to the first segment's parquet
    * schema. */
  def relation(spark: SparkSession, manifest: DataFrame, tsCol: String,
      tsToMillis: Long => Long, indexed: Set[String],
      dataSchema: Option[StructType] = None): DataFrame = {
    val segs = segmentsOf(manifest)
    require(segs.nonEmpty, "empty manifest")
    val schema = dataSchema.getOrElse(
      spark.read.parquet(segs.head.file).schema)
    frameOver(spark,
      new ManifestFileIndex(spark, segs, tsCol, tsToMillis, indexed), schema)
  }

  /** DataFrame over the data files of `paths` (files or Spark output
    * directories), listed by [[listPaths]] — no Spark listing job, which
    * `spark.read.parquet` launches (one task per path) past 32 paths —
    * with the schema inferred from their footers, merged across files
    * when `mergeSchema` (else the first file's), as `spark.read.parquet`
    * does. */
  private[sources] def scanOf(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean): DataFrame = {
    val files = listPaths(spark, paths).flatMap(_._2).distinctBy(_.getPath)
    val schema = new ParquetFileFormat().inferSchema(spark,
      Map("mergeSchema" -> mergeSchema.toString), files)
    require(schema.isDefined,
      s"no parquet data files under ${paths.take(3).mkString(", ")}")
    frameOver(spark, new Listed(files), schema.get)
  }

  private def frameOver(spark: SparkSession, index: FileIndex,
      schema: StructType): DataFrame =
    GraftColumnBridge.ofRelation(spark, HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))

  /** A flat file set listed up front: no pruning, no re-listing. */
  private final class Listed(files: Seq[FileStatus]) extends FileIndex {
    override val partitionSchema: StructType = new StructType()
    override def rootPaths: Seq[Path] = files.map(_.getPath.getParent).distinct
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  }

  /** Each path with its data files, in input order. One listStatus RPC
    * per parent DIRECTORY (not one HEAD per segment — serial per-file
    * getFileStatus against an object store would stall the driver for
    * minutes at thousands of segments), directories fetched concurrently;
    * a path the listing misses falls back to a direct lookup. A path that
    * names a directory expands to its files, skipping `_`/`.`-prefixed
    * names (`_SUCCESS`, checksums) as Spark's listing does; a nested data
    * directory (a partitioned layout) is rejected, not read partially. */
  private[sources] def listPaths(spark: SparkSession,
      paths: Seq[String]): Seq[(String, Seq[FileStatus])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val byParent = paths.distinct.groupBy(f => new Path(f).getParent)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, byParent.size)))
    try {
      import scala.jdk.CollectionConverters._
      val tasks = byParent.toSeq.map { case (parent, ps) =>
        new java.util.concurrent.Callable[Seq[(String, Seq[FileStatus])]] {
          override def call(): Seq[(String, Seq[FileStatus])] = {
            val fs = parent.getFileSystem(conf)
            // input strings may be unqualified; the listing is — key the
            // lookup by the fully-qualified form of both
            val listed = fs.listStatus(parent)
              .map(st => st.getPath.toString -> st).toMap
            ps.map { p =>
              val st = listed.getOrElse(
                fs.makeQualified(new Path(p)).toString,
                fs.getFileStatus(new Path(p)))
              p -> (if (!st.isDirectory) Seq(st) else {
                val kids = fs.listStatus(st.getPath).toSeq
                  .filterNot(k => hidden(k.getPath.getName))
                require(kids.forall(_.isFile),
                  s"$p holds a nested directory; pass its files instead")
                kids.sortBy(_.getPath.toString)
              })
            }
          }
        }
      }
      val byPath = pool.invokeAll(tasks.asJava).asScala.flatMap { f =>
        try f.get() catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }.toMap
      paths.map(p => p -> byPath(p))
    } finally pool.shutdown()
  }

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".") || name.endsWith("._COPYING_")
}
