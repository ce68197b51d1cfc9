package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, Contains, EndsWith, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or,
  RLike, StartsWith}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-integrated segment skipping: a [[FileIndex]] whose
  * `listFiles` prunes the segment set with the manifest (time bounds +
  * trigram fingerprints) from the query's OWN pushed filters — the
  * "deluxe" form of the reference's metadata-index scan
  * (`metric_seg`/`log_seg` lookups, reference QueryEngineV2.scala:742-951).
  *
  * Pruning happens at plan time, so ANY DataFrame operation over the
  * relation — `spark.sql` included — skips segments it provably does not
  * need, with zero cooperation from the query author. Catalyst hands
  * `listFiles` the data filters it already pushed; unrecognized
  * predicates simply fall back to "scan everything the other conjuncts
  * allow" (pruning stays sound: conjuncts only ever REMOVE files).
  * [[SegmentIndex.prune]] lists files for an AST clause with the same
  * [[ManifestFileIndex.mayMatch]].
  *
  * Driver-side state is the manifest rows (file → row_count / min_ts /
  * max_ts / fingerprints): KBs per thousand segments, the same planning
  * metadata the reference keeps in Postgres — not data.
  *
  * Filter translation:
  *  - ts comparisons (`>`, `>=`, `<`, `<=`, `=` on `tsCol`, literal in
  *    the COLUMN's unit) → manifest [min_ts, max_ts] overlap, after
  *    `tsToMillis` converts literals to manifest millis;
  *  - equality / IN / `InSet` (a long IN after Catalyst's OptimizeIn) /
  *    contains / prefix / suffix on indexed string columns → trigram
  *    fingerprint subset tests ([[SegmentIndex.valueFingerprints]]);
  *  - `RLike` on an indexed column (the AST's regex and contains) → the
  *    regex's [[SegmentIndex.requiredTrigrams]] tree over the same tests;
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
    val may = dataFilters.map(mayMatch(_, indexed, Some(tsCol -> tsToMillis)))
    val kept = manifest.filter(seg => may.forall(_(seg)))
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map(s => statuses(s.file)).toArray))
  }
}

object ManifestFileIndex {
  import SegmentIndex.TriReq

  /** One manifest row: the planning metadata for one segment file. */
  final case class Segment(file: String, rowCount: Long, minTs: Long,
      maxTs: Long, fingerprints: Set[Long])

  /** Sound may-match test for one filter, compiled once and applied per
    * segment: the predicate is false ONLY when the manifest proves no row
    * of the segment can satisfy `f`. `time` names the ts column and
    * converts its literals (in the column's own unit) to manifest millis;
    * None = no time cases. Trigram cases apply to `indexed` columns and
    * need the segment's [[SegmentIndex.columnMarker]]: a query-time
    * `indexed` set wider than the build-time one must degrade to scan,
    * not prune everything. */
  private[sources] def mayMatch(f: Expression, indexed: Set[String],
      time: Option[(String, Long => Long)]): Segment => Boolean = {
    object Ts {
      def unapply(e: Expression): Boolean =
        time.exists { case (c, _) => Attr.unapply(e).contains(c) }
    }
    def ms(v: Long): Long = time.get._2(v)
    object Indexed {
      def unapply(e: Expression): Option[String] =
        Attr.unapply(e).filter(indexed.contains)
    }
    def value(c: String, v: String) = trigrams(c, TriReq.Lit(v))
    def anyValue(c: String, vs: Iterable[Any]) =
      trigrams(c, TriReq.anyOf(vs.toSeq.map {
        case v: UTF8String => TriReq.Lit(v.toString)
        case _ => TriReq.Free
      }))
    def compile(f: Expression): Segment => Boolean = f match {
      case And(l, r) =>
        val (a, b) = (compile(l), compile(r)); s => a(s) && b(s)
      case Or(l, r) =>
        val (a, b) = (compile(l), compile(r)); s => a(s) || b(s)
      // ---- time bounds ----
      case GreaterThanOrEqual(Ts(), LongLit(v)) => val m = ms(v); _.maxTs >= m
      case GreaterThan(Ts(), LongLit(v)) => val m = ms(v); _.maxTs >= m
      case LessThan(Ts(), LongLit(v)) => val m = ms(v); _.minTs <= m
      case LessThanOrEqual(Ts(), LongLit(v)) => val m = ms(v); _.minTs <= m
      case GreaterThanOrEqual(LongLit(v), Ts()) => val m = ms(v); _.minTs <= m
      case GreaterThan(LongLit(v), Ts()) => val m = ms(v); _.minTs <= m
      case LessThanOrEqual(LongLit(v), Ts()) => val m = ms(v); _.maxTs >= m
      case LessThan(LongLit(v), Ts()) => val m = ms(v); _.maxTs >= m
      case EqualTo(Ts(), LongLit(v)) =>
        val m = ms(v); s => s.minTs <= m && s.maxTs >= m
      case EqualTo(LongLit(v), Ts()) =>
        val m = ms(v); s => s.minTs <= m && s.maxTs >= m
      // ---- trigram fingerprints on indexed string dims ----
      case EqualTo(Indexed(c), StrLit(v)) => value(c, v)
      case EqualTo(StrLit(v), Indexed(c)) => value(c, v)
      case In(Indexed(c), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        anyValue(c, vs.map(_.eval()))
      // Catalyst's OptimizeIn pushes an IN longer than
      // spark.sql.optimizer.inSetConversionThreshold as InSet
      case InSet(Indexed(c), hset) => anyValue(c, hset)
      case Contains(Indexed(c), StrLit(v)) => value(c, v)
      case StartsWith(Indexed(c), StrLit(v)) => value(c, v)
      case EndsWith(Indexed(c), StrLit(v)) => value(c, v)
      // the AST's regex and contains: every match holds the literals of
      // the regex's requirement tree
      case RLike(Indexed(c), StrLit(re)) =>
        trigrams(c, SegmentIndex.requiredTrigrams(re))
      case _ => _ => true // not provably excludable -> keep
    }
    compile(f)
  }

  /** May a segment hold a value of column c meeting requirement `r`? A
    * literal needs all of its [[SegmentIndex.valueFingerprints]] (a value
    * too short or coercion-unsafe to index cannot exclude); All/AnyOf
    * mirror the tree; Free keeps the segment. */
  private def trigrams(c: String, r: TriReq): Segment => Boolean = {
    import TriReq._
    def compile(r: TriReq): Segment => Boolean = r match {
      case Lit(v) => SegmentIndex.valueFingerprints(c, v) match {
        case Some(fps) => s => fps.forall(s.fingerprints.contains)
        case None => _ => true
      }
      case All(xs) => val ps = xs.map(compile); s => ps.forall(_(s))
      case AnyOf(xs) => val ps = xs.map(compile); s => ps.exists(_(s))
      case Free => _ => true
    }
    val marker = SegmentIndex.columnMarker(c)
    val p = compile(r)
    s => !s.fingerprints.contains(marker) || p(s)
  }

  /** Attribute name extractor (strips qualifiers). */
  private object Attr {
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

  /** The manifest rows of a [[SegmentIndex.build]] result: planning
    * metadata (KBs per thousand segments), exactly what the reference
    * fetches from its `*_seg` tables before touching data. Over the local
    * frame `build` returns this runs no Spark job. */
  def segmentsOf(manifest: DataFrame): Seq[Segment] =
    manifest.select("file", "row_count", "min_ts", "max_ts", "fingerprints")
      .collect()
      .map { r =>
        Segment(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.getSeq[Long](4)).map(_.toSet).getOrElse(Set.empty))
      }.toSeq

  /** DataFrame over the manifest's segments with plan-time pruning wired
    * into the scan. Its schema is the data schema the build inferred (the
    * merged one under `mergeSchema`), read from the manifest's `file`
    * column metadata: no footer is read and no Spark job runs. A manifest
    * without segments (every file empty) gives an empty frame of that
    * schema. */
  def relation(spark: SparkSession, manifest: DataFrame, tsCol: String,
      tsToMillis: Long => Long, indexed: Set[String]): DataFrame = {
    val meta = manifest.schema("file").metadata
    require(meta.contains(SegmentIndex.SchemaKey),
      "the manifest carries no data schema; build it with SegmentIndex.build")
    frameOver(spark,
      new ManifestFileIndex(spark, segmentsOf(manifest), tsCol, tsToMillis,
        indexed),
      DataType.fromJson(meta.getString(SegmentIndex.SchemaKey))
        .asInstanceOf[StructType])
  }

  /** DataFrame over the data files of `paths` (files or Spark output
    * directories), listed by [[listPaths]] — no Spark listing job, which
    * `spark.read.parquet` launches (one task per path) past 32 paths —
    * with the schema inferred from their footers, merged across files
    * when `mergeSchema` (else the first file's) and made nullable, as
    * `spark.read.parquet` does. */
  private[sources] def scanOf(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean): DataFrame = {
    val files = listPaths(spark, paths).flatMap(_._2).distinctBy(_.getPath)
    val schema = new ParquetFileFormat().inferSchema(spark,
      Map("mergeSchema" -> mergeSchema.toString), files)
    require(schema.isDefined,
      s"no parquet data files under ${paths.take(3).mkString(", ")}")
    frameOver(spark, new Listed(files), GraftColumnBridge.nullable(schema.get))
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
