package graft

import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, Contains, EqualTo, Expression, GreaterThanOrEqual, InSet,
  LessThan, Literal, Or, StartsWith}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ManifestFileIndex, SegmentIndex}

/** Plan-time segment skipping through the custom FileIndex. The unit
  * tests hand `listFiles` predicates in the shape Catalyst actually
  * delivers them (resolved AttributeReference vs Literal — the Column DSL
  * produces unresolved function nodes and is NOT what scan planning
  * passes); the end-to-end tests prove the real pushed filters arrive in
  * that shape by reading the scan's numFiles metric after execution. */
class ManifestFileIndexSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  // three segments with disjoint time ranges and distinct service values
  private lazy val (segDir, manifest) = {
    import spark.implicits._
    val dir = tempDir("graft_mfi")
    Seq(
      ("svc-alpha", 0L, 1000L),
      ("svc-bravo", 1000L, 2000L),
      ("svc-charlie", 2000L, 3000L)
    ).zipWithIndex.foreach { case ((svc, lo, hi), i) =>
      (lo until hi).map(t => (t * 1000000L, svc, t.toDouble)) // ts in nanos
        .toDF("ts", "service", "value")
        .coalesce(1).write.parquet(s"$dir/seg$i")
    }
    val files = new java.io.File(dir).listFiles.flatMap(_.listFiles)
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val m = SegmentIndex.build(spark, files, "ts",
      ts => expr("ts div 1000000"), Seq("service"))
    (dir, m)
  }

  private def index() = new ManifestFileIndex(spark,
    ManifestFileIndex.segmentsOf(manifest), "ts", _ / 1000000L, Set("service"))

  private def relation() = ManifestFileIndex.relation(spark, manifest,
    "ts", _ / 1000000L, Set("service"))

  // resolved attributes, as scan planning hands them to listFiles
  private lazy val attrs: Map[String, Attribute] =
    relation().queryExecution.analyzed.output.map(a => a.name -> a).toMap

  private def prunedFiles(preds: Expression*): Seq[String] =
    index().listFiles(Nil, preds).head.files.map(_.getPath.toString)

  private def str(s: String): Literal = Literal(s)

  test("time-range predicates prune to the overlapping segment") {
    // [500ms, 900ms) lives entirely in segment 0 (ts literals in nanos)
    val files = prunedFiles(
      GreaterThanOrEqual(attrs("ts"), Literal(500L * 1000000L)),
      LessThan(attrs("ts"), Literal(900L * 1000000L)))
    assert(files.size == 1 && files.head.contains("seg0"), files)
  }

  test("equality on an indexed dim prunes by trigram fingerprints") {
    val files = prunedFiles(EqualTo(attrs("service"), str("svc-bravo")))
    assert(files.size == 1 && files.head.contains("seg1"), files)
  }

  test("OR keeps the union of both branches; AND intersects") {
    val or = prunedFiles(Or(EqualTo(attrs("service"), str("svc-alpha")),
      EqualTo(attrs("service"), str("svc-charlie"))))
    assert(or.size == 2, or)
    val and = prunedFiles(And(EqualTo(attrs("service"), str("svc-alpha")),
      GreaterThanOrEqual(attrs("ts"), Literal(1500L * 1000000L))))
    assert(and.isEmpty, and) // alpha is entirely before 1500ms
  }

  test("a column never fingerprinted at build time cannot prune") {
    // query-time indexed set wider than build-time: the manifest carries
    // no marker for "value", so equality on it must keep every segment —
    // pruning would find zero of the literal's trigrams and drop ALL
    val widened = new ManifestFileIndex(spark,
      ManifestFileIndex.segmentsOf(manifest), "ts", _ / 1000000L,
      Set("service", "value"))
    val attr = relation().queryExecution.analyzed.output
      .find(_.name == "value").get
    val kept = widened.listFiles(Nil,
      Seq(EqualTo(attr, Literal("somevalue")))).head.files
    assert(kept.length == 3, s"unfingerprinted column pruned: ${kept.length}")
  }

  test("unrecognized predicates never prune (soundness fallback)") {
    val files = prunedFiles(
      org.apache.spark.sql.catalyst.expressions.GreaterThan(
        attrs("value"), Literal(10.0)))
    assert(files.size == 3, files)
  }

  test("contains/prefix on an indexed dim prune; short values do not") {
    assert(prunedFiles(Contains(attrs("service"), str("bravo"))).size == 1)
    assert(prunedFiles(StartsWith(attrs("service"), str("svc-ch"))).size == 1)
    assert(prunedFiles(Contains(attrs("service"), str("sv"))).size == 3)
  }

  import ManifestFileIndexSpec.filesRead

  test("end to end: pushed filters reach the index and skip segments") {
    val pruned = filesRead(relation()
      .where(col("service") === "svc-bravo")
      .groupBy(col("service")).agg(count(lit(1)).as("n")))
    assert(pruned == 1L, s"expected 1 file read, got $pruned")
    val timePruned = filesRead(relation()
      .where(col("ts") >= lit(2100L * 1000000L))
      .select(col("ts")))
    assert(timePruned == 1L, s"expected 1 file read, got $timePruned")
  }

  test("end to end: a regex and an 11-value IN on an indexed dim skip " +
    "segments through the relation") {
    // the AST's regex spelling: FilterCompiler prefixes (?i)
    val rel = relation()
    val regex = graft.compile.FilterCompiler.compile(
      graft.ast.Filter("service", List("alpha|charlie"), graft.ast.Ops.REGEX),
      rel.columns.toSet)
    assert(filesRead(rel.where(regex).select(col("ts"))) == 2L)
    // past spark.sql.optimizer.inSetConversionThreshold (10) Catalyst
    // pushes the IN as InSet
    val in = relation().where(col("service").isin(
      "svc-bravo" +: ('a' to 'j').map(c => s"nope-$c"): _*))
    assert(in.queryExecution.optimizedPlan.flatMap(_.expressions)
      .exists(_.exists(_.isInstanceOf[InSet])))
    assert(filesRead(in.select(col("ts"))) == 1L)
  }

  test("relation results are identical to a plain scan + filter") {
    val rel = relation()
      .where(col("ts") >= lit(800L * 1000000L) &&
        col("ts") < lit(1200L * 1000000L))
      .groupBy(col("service")).agg(count(lit(1)).as("n"))
      .orderBy("service")
    val plain = spark.read.parquet(s"$segDir/seg0", s"$segDir/seg1", s"$segDir/seg2")
      .where(col("ts") >= lit(800L * 1000000L) &&
        col("ts") < lit(1200L * 1000000L))
      .groupBy(col("service")).agg(count(lit(1)).as("n"))
      .orderBy("service")
    assert(rel.collect().toSeq == plain.collect().toSeq)
  }

  test("the custom index is wired into the physical scan") {
    val p = relation().where(col("service") === "svc-alpha")
      .queryExecution.executedPlan.toString
    assert(p.contains("ManifestFileIndex"), s"scan not using the index:\n$p")
  }

  test("multi-region union: each region's scan prunes by its OWN " +
    "manifest, and the federated result equals the single-root scan") {
    import spark.implicits._
    // two "regions", each with a matching and a non-matching segment
    val dir = tempDir("graft_mreg")
    val mfs = (0 until 2).map { r =>
      Seq("svc-match", "svc-other").zipWithIndex.foreach { case (svc, i) =>
        (0 until 100).map(t =>
            ((r * 1000 + t).toLong * 1000000L, svc, t.toDouble))
          .toDF("ts", "service", "value")
          .coalesce(1).write.parquet(s"$dir/region$r/seg$i")
      }
      val files = new java.io.File(s"$dir/region$r").listFiles
        .flatMap(_.listFiles).filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSeq
      SegmentIndex.build(spark, files, "ts",
        ts => expr("ts div 1000000"), Seq("service"))
    }
    val federated = mfs.map(m => ManifestFileIndex.relation(
        spark, m, "ts", _ / 1000000L, Set("service")))
      .reduce(_ unionByName _)
      .where(col("service") === "svc-match")
      .groupBy(col("service")).agg(count(lit(1)).as("n"))
    // 4 segments total, 2 match: each region's index skipped its
    // non-matching segment independently
    assert(filesRead(federated) == 2L)
    assert(federated.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("svc-match", 200L)))
  }

  test("relation and prune over a build result run no Spark job, and " +
    "a warm s4 call runs at most 3") {
    val sc = spark.sparkContext
    manifest // built outside the logs
    val relJobs = JobLog.during(sc) { log =>
      relation(); log.all
    }
    assert(relJobs.isEmpty, relJobs.mkString("\n"))
    val pruneJobs = JobLog.during(sc) { log =>
      SegmentIndex.prune(manifest,
        Some(graft.ast.Filter("service", List("svc-bravo"), graft.ast.Ops.EQ)),
        Set("service"), 0L, 3000L)
      log.all
    }
    assert(pruneJobs.isEmpty, pruneJobs.mkString("\n"))
    val s4 = graft.queries.SourceQueries.queries("s4_pruned_scan")
    s4(spark, SparkTestSession.sfDir).collect() // builds the artifacts
    val s4Jobs = JobLog.during(sc) { log =>
      s4(spark, SparkTestSession.sfDir).collect(); log.all
    }
    assert(s4Jobs.size <= 3, s4Jobs.mkString("\n"))
  }

  test("the JSON-AST path over the FileIndex relation skips segments") {
    // the AST entry's own time range must reach the scan through the
    // whole QueryEngine pipeline and prune the 4-file events layout
    val df = graft.queries.SourceQueries
      .queries("ast_fileindex_chart")(spark, "/root/testdata/sf0.001")
    val n = filesRead(df)
    assert(n >= 1 && n < 4,
      s"AST time range should skip files in the 4-file layout, read $n")
  }
}

object ManifestFileIndexSpec {
  /** Files the executed plan's parquet scans read (their numFiles
    * metric), after running `df`. */
  def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    numFiles(df)
  }

  /** The numFiles metric of `df`'s parquet scans, once `df` has run. */
  def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
    // AQE wraps stages in QueryStageExec nodes with no children; descend
    // through .plan / .executedPlan explicitly
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val all = scans(df.queryExecution.executedPlan)
    require(all.nonEmpty, "no FileSourceScanExec found")
    all.map(_.metrics("numFiles").value).sum
  }
}
