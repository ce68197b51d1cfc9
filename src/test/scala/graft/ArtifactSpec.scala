package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{EngineQueries, PipelineQueries, SourceQueries,
  StreamingQueries}

/** Ingest artifacts live under the context's Spark temp dir and are
  * built once per context ([[Tables.artifact]]). */
class ArtifactSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  /** A temp sf dir holding copies of the sf0.001 `tables`. */
  private def sfCopy(prefix: String, tables: Seq[String]): String = {
    val dir = tempDir(prefix)
    tables.foreach { t =>
      java.nio.file.Files.copy(
        new java.io.File(SparkTestSession.sfDir, s"$t.parquet").toPath,
        new java.io.File(dir, s"$t.parquet").toPath)
    }
    dir
  }

  private def graftEntriesInTmp(): Set[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String]).filter(_.startsWith("graft_")).toSet

  test("the artifact-reading entries write nothing to java.io.tmpdir") {
    val dir = sfCopy("graft_artifact_sf", Tables.names)
    val before = graftEntriesInTmp()
    // every entry of these maps that builds or reads an ingest artifact
    val engine = Seq("ast_metrics_rollup", "ast_metrics_cascade",
      "ast_metrics_count", "ast_metrics_avg", "ast_metrics_minmax",
      "ast_metrics_rollup_avg", "ast_metrics_p90_rollup",
      "ast_metrics_p90_sketch", "ast_metrics_ces_sketch",
      "ast_exemplars_metrics", "ast_metrics_formula_ratio",
      "ast_cross_dataset_formula")
    val pipeline = Seq("j9_bucketed_join", "d16_signature_store",
      "p9_sharded_export", "s20_inverted_index", "s37_semantic_dedup_hier")
    val entries = SourceQueries.queries.toSeq ++
      StreamingQueries.queries.toSeq ++
      engine.map(n => n -> EngineQueries.queries(n)) ++
      pipeline.map(n => n -> PipelineQueries.queries(n))
    entries.foreach { case (name, fn) =>
      withClue(name) { fn(spark, dir).count() }
    }
    val added = graftEntriesInTmp() -- before
    assert(added.isEmpty, s"new graft_* entries in java.io.tmpdir: $added")
  }

  test("a second request of a nested artifact or a manifest runs no job") {
    val dir = sfCopy("graft_artifact_nested", Seq("events"))
    // hourMetricsDir builds metricsDir inside its own build
    val hour = EngineQueries.hourMetricsDir(spark, dir)
    val manifest = SourceQueries.manifest(spark, dir)
    val jobs = JobLog.during(spark.sparkContext) { log =>
      assert(EngineQueries.hourMetricsDir(spark, dir) == hour)
      assert(SourceQueries.manifest(spark, dir) eq manifest)
      log.all
    }
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(hour.startsWith(org.apache.spark.SparkFiles.getRootDirectory()),
      hour)
  }

  test("concurrent newSession() requests of one artifact build it once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val results = (0 until 2).map { _ =>
        val session = spark.newSession()
        pool.submit(() => {
          barrier.await()
          Tables.artifact(session, "concurrent", "sf") { out =>
            builds.incrementAndGet()
            Thread.sleep(300)
            out
          }
        })
      }.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(results.distinct.size == 1, results)
    } finally pool.shutdownNow()
  }
}
