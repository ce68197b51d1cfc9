package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ast._
import graft.sources.{ManifestFileIndex, SegmentIndex}

/** Manifest-pruned segment scans (SURVEY.md S3/S4/U2) over a multi-file
  * segment directory (the same 4-file events layout the streaming entries
  * use). Pruning is sound, so pruned-scan results are oracle-checked
  * against plain SQL over the full table; that files really get skipped is
  * asserted in SegmentIndexSpec on segments with disjoint contents. */
object SourceQueries {

  /** Pre-build the segment dirs + manifests (ingest-time artifacts). */
  private[graft] def prepare(s: SparkSession, dir: String): Unit = {
    manifest(s, dir)
    docManifest(s, dir)
    zorderLayout(s, dir)
    regionRoots(s, dir)
  }

  /** The events segment dir's manifest, built once per context like
    * every ingest artifact ([[graft.Tables.artifact]]): a build costs a
    * corpus scan, a reuse runs no Spark job. */
  private[graft] def manifest(s: SparkSession, dir: String): DataFrame =
    graft.Tables.artifact(s, "evmanifest", dir) { _ =>
      eventsManifest(s, parquetIn(StreamingQueries.streamDir(s, dir)))
    }

  private def eventsManifest(s: SparkSession, files: Seq[String]) =
    SegmentIndex.build(s, files, "ts", ts => expr("ts div 1000000"),
      Seq("event_type"))

  private def parquetIn(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq

  /** The events segment dir as a [[ManifestFileIndex]] relation: the
    * filters of a query over it prune segment files at plan time. A
    * fully pruned scan is an empty frame of the segments' schema. */
  private def events(s: SparkSession, dir: String): DataFrame =
    ManifestFileIndex.relation(
      s, manifest(s, dir), "ts", _ / 1000000L, Set("event_type"))

  /** S4+U2: trigram-pruned scan, then the full filter. */
  def s4_pruned_scan(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy("event_id")
  }

  /** S3/F10: time-bound pruned scan (segment min/max overlap). */
  def s3_time_pruned(s: SparkSession, dir: String): DataFrame = {
    val start = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val end = java.time.Instant.parse("2024-01-12T00:00:00Z").toEpochMilli
    // on raw ts (nanos), the shape the relation's scan prunes on
    events(s, dir)
      .where(col("ts") >= start * 1000000L && col("ts") < end * 1000000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** F4+U2: regex predicate compiled to required-literal trigrams for
    * segment pruning (pruning is sound → oracle vs the full table; that
    * files are actually skipped is proven in SegmentIndexSpec). */
  def s6_regex_pruned(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).where(col("event_type").rlike("(?i)pur.has[a-e]+"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** U2 Op-3: alternation regex — branch trigram sets are OR'd, so the
    * index skips segments containing neither branch (file-skipping proven
    * in SegmentIndexSpec; result equivalence proven here vs the full
    * table, since pruning is sound). */
  def s7_regex_alternation(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).where(col("event_type").rlike("(?i)(purchase|signup)"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** U2 on literal FAMILIES (Cox trigram-index algebra, the class/
    * quantifier half of the reference's lib-trigram coverage,
    * NLPUtils.scala:54-153): a character class INSIDE a required run
    * cross-products into a small literal family (s[iu]gn[ou]p →
    * {signop, signup, sugnop, sugnup} — OR'd trigram requirements, same
    * as an alternation), and a bounded repeat folds into the run
    * (er{2}or ≡ "error"). Segments whose fingerprints contain no
    * family member's trigrams are skipped; file-skipping proven in
    * SegmentIndexSpec, result equivalence here vs the full table
    * (pruning is sound). */
  def s28_regex_class_pruned(s: SparkSession, dir: String): DataFrame = {
    val re = "(s[iu]gn[ou]p|er{2}or)"
    events(s, dir).where(col("event_type").rlike(s"(?i)$re"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** U2 on NESTED GROUPS (the general concatenation/alternation product
    * over required runs — the remainder of the reference's lib-trigram
    * regex coverage, NLPUtils.scala:54-153): groups whose language is a
    * small exact string set join the literal-run cross product, so
    * `si(gn|ng)up` requires {signup, singup} even though every piece is
    * under 3 chars, and nesting composes ((si(gn|ng)up|er(ro|or)r) →
    * a 4-member OR'd trigram family). Inexact constructs degrade to
    * no-prune, never to a false requirement. File-skipping proven in
    * SegmentIndexSpec; result equivalence here vs the full table
    * (pruning is sound). */
  def s30_regex_nested_pruned(s: SparkSession, dir: String): DataFrame = {
    val re = "(si(gn|ng)up|er(ro|or)r)"
    events(s, dir).where(col("event_type").rlike(s"(?i)$re"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** U2 on POSITIVE LOOKAHEAD: `(?=X)` is zero-width but X is a
    * required match starting at that position, so X's required trigrams
    * prune soundly even when the CONSUMING part of the regex is
    * requirement-free (`(?=.*signup).*` skips every segment without
    * signup's trigrams). Negative lookahead/lookbehind stay conservative
    * (no-prune). File-skipping proven in SegmentIndexSpec; result
    * equivalence here vs the full table (pruning is sound; the oracle
    * spells the predicate without lookahead — DuckDB's RE2 has none —
    * as the equivalent contains test). */
  def s31_regex_lookahead_pruned(s: SparkSession, dir: String): DataFrame = {
    val re = "(?=.*signup).*"
    events(s, dir).where(col("event_type").rlike(s"(?i)$re"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** S3/S4 deluxe: plan-time segment skipping through the custom
    * Catalyst FileIndex — the query is a plain WHERE over the relation;
    * Catalyst pushes the predicates and [[graft.sources.ManifestFileIndex]]
    * prunes segment files inside scan planning (time bounds from the raw
    * ts comparisons, trigram fingerprints from the equality). File-skip
    * counts proven in ManifestFileIndexSpec; result equivalence proven
    * here against the full table, since pruning is sound. */
  def s10_fileindex_scan(s: SparkSession, dir: String): DataFrame = {
    val startNs = java.time.Instant.parse("2024-01-05T00:00:00Z")
      .toEpochMilli * 1000000L
    val endNs = java.time.Instant.parse("2024-01-20T00:00:00Z")
      .toEpochMilli * 1000000L
    events(s, dir).where(col("ts") >= startNs && col("ts") < endNs &&
        col("event_type") === "purchase")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("event_type")
  }

  /** The JSON-AST pipeline over the FileIndex relation — pruning
    * invisible to the engine: the telemetry table handed to QueryEngine
    * is a [[graft.sources.ManifestFileIndex]] relation, so the AST's
    * time range (compiled by Telemetry.nanos onto the raw ts column) and
    * attribute filters are pushed by Catalyst into scan planning, where
    * the manifest skips segment files — QueryEngine itself needs zero
    * pruning cooperation. File-skip asserted in ManifestFileIndexSpec;
    * results oracle-checked against the full table (pruning is sound). */
  def ast_fileindex_chart(s: SparkSession, dir: String): DataFrame = {
    val startMs = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val endMs = java.time.Instant.parse("2024-01-12T00:00:00Z").toEpochMilli
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "event_type", "v": ["click", "view"], "op": "in"},
        |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    graft.engine.QueryEngine.evaluate(
        _ => astFileIndexTelemetry(s, dir), ast, startMs, endMs, 3600000L)
      .select(col("step_ts"), col("group_key"),
        round(col("value"), 6).as("value"))
      .orderBy("step_ts", "group_key")
  }

  private[graft] def astFileIndexTelemetry(
      s: SparkSession, dir: String): graft.engine.Telemetry = {
    graft.engine.Telemetry.nanos(events(s, dir), "ts",
      valueCol = col("value"), message = Some(col("props")))
  }

  // ------------------------------------------------- multi-region fan-out

  /** Regional manifests: events sharded into three "regions" (user_id
    * mod 3 — the reference shards a customer's telemetry across regional
    * collectors), each region a separate segment dir with its OWN
    * trigram/time manifest. Ingest-time artifact, built once per context:
    * newSession() requests share it (rebuilding three regional manifests
    * inside a concurrent request's timed window was the r9
    * ast_multi_region 5x task-inflation). */
  private def regionRoots(s: SparkSession, dir: String): Seq[DataFrame] =
    graft.Tables.artifact(s, "regions", dir) { base =>
      val ev = graft.Tables.load(s, dir, "events")
      (0 until 3).map { r =>
        ev.where(pmod(col("user_id"), lit(3)) === r)
          .repartition(2).write.parquet(s"$base/region$r")
        eventsManifest(s, parquetIn(s"$base/region$r"))
      }
    }

  /** The reference's multi-region fan-out (QueryApi.scala:311-349:
    * makeRegionalCall POSTs the same query to every regional endpoint
    * and concatenates the streams) as an ENGINE behavior: one AST
    * evaluated over N regional telemetry roots. Spark-first shape: each
    * region is a [[graft.sources.ManifestFileIndex]] relation (so the
    * AST's time range and attribute filters prune each region's segment
    * files independently, exactly the per-region worker behavior), the
    * relations union by name into ONE logical plan — one shuffle, N
    * pruned scans, no per-region re-aggregation pass. The oracle is the
    * single-root equivalent over the undivided table: a region lost,
    * double-counted, or mis-sharded hash-mismatches. */
  def ast_multi_region(s: SparkSession, dir: String): DataFrame = {
    val ast = AstJson.parseAstInput(
      """{"baseExpressions": {"a": {
        |  "dataset": "logs",
        |  "filter": {"k": "event_type", "v": ["click", "view"], "op": "in"},
        |  "chart": {"aggregation": "sum", "groupBys": ["event_type"]}
        |}}}""".stripMargin)
    val regional = regionRoots(s, dir).map { mf =>
      ManifestFileIndex.relation(s, mf, "ts", _ / 1000000L, Set("event_type"))
    }
    val unioned = regional.reduce(_ unionByName _)
    val tel = graft.engine.Telemetry.nanos(unioned, "ts",
      valueCol = col("value"), message = Some(col("props")))
    graft.engine.QueryEngine.evaluate(_ => tel, ast,
        1704067200000L, 1706745600000L, 86400000L)
      .select(col("step_ts"), col("group_key"),
        round(col("value"), 6).as("value"))
      .orderBy("step_ts", "group_key")
  }

  // ------------------------------------------------- corpus text search

  /** Trigram manifest over the multi-file DOCUMENTS corpus — the same
    * data-skipping machinery applied to the training-data side: corpus
    * grep (contamination hunting, PII audits, targeted re-filters at
    * 100 TB) should open only segments whose fingerprint set can match.
    * doc_id stands in for the time axis (id-range bounds prune too). */
  private def docManifest(s: SparkSession, dir: String): DataFrame =
    graft.Tables.artifact(s, "docmanifest", dir) { _ =>
      SegmentIndex.build(s, parquetIn(StreamingQueries.docStreamDir(s, dir)),
        "doc_id", identity, Seq("text"))
    }

  /** S4 over the corpus: contains() search through the trigram index,
    * then the exact predicate. Pruning is sound → oracle vs the full
    * table (file-skipping itself is proven in SegmentIndexSpec). */
  def s15_docs_grep(s: SparkSession, dir: String): DataFrame = {
    val docs = ManifestFileIndex.relation(
      s, docManifest(s, dir), "doc_id", identity, Set("text"))
    // `(?i)vector`, NOT `(?i).*vector.*`: RLike is find() semantics, so
    // the wrappers add nothing — except that a failing row makes the
    // greedy leading `.*` retry the whole tail FROM EVERY START OFFSET,
    // turning the scan O(len²) per row. On the sf10 soak corpus the
    // wrapped spelling cost ~50 s per pass; the bare literal is a
    // Boyer–Moore-style substring probe (~2 s). Same rows either way.
    docs.where(col("text").rlike("(?i)vector"))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- z-order layout

  /** Z-ordered copy of events clustered on (user_id, value) + the two
    * dimension domains — built once per context and sf dir (an
    * ingest-time layout decision, like the stream segment dirs). 3 bits
    * per dim → up to 64 z-bucket partition directories. */
  private def zorderLayout(s: SparkSession, dir: String): (String, Array[Double]) =
    graft.Tables.artifact(s, "zorder", dir) { out =>
      val ev = graft.Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      val mm = ev.agg(min(col("user_id")), max(col("user_id")),
        min(col("value")), max(col("value"))).head()
      val dom = Array(mm.getLong(0).toDouble, mm.getLong(1).toDouble,
        mm.getDouble(2), mm.getDouble(3))
      graft.operators.Layout.zorderWrite(ev,
        col("user_id"), dom(0), dom(1), col("value"), dom(2), dom(3),
        bits = 3, out)
      (out, dom)
    }

  /** S17 (beyond the reference): 2-D range query over the z-ordered
    * layout. The box [30%,60%] of each dimension's domain becomes a
    * driver-computed set of contiguous z-ranges ([[Layout.zCover]]) that
    * Catalyst applies as PartitionFilters — whole directories skip before
    * any footer opens — and the exact box predicate re-applies after, so
    * the answer provably equals the plain-table query (the oracle, which
    * derives the same box bounds from min/max in SQL). LayoutSpec proves
    * the directory skipping; at 100 TB this is the difference between
    * listing a corpus and reading ~10% of it for a 2-D slice. */
  def s17_zorder_scan(s: SparkSession, dir: String): DataFrame = {
    val (path, dom) = zorderLayout(s, dir)
    def lo(a: Double, b: Double) = a + 0.3 * (b - a)
    def hi(a: Double, b: Double) = a + 0.6 * (b - a)
    val (uLo, uHi) = (lo(dom(0), dom(1)), hi(dom(0), dom(1)))
    val (vLo, vHi) = (lo(dom(2), dom(3)), hi(dom(2), dom(3)))
    val cover = graft.operators.Layout.zCover(
      uLo, uHi, dom(0), dom(1), vLo, vHi, dom(2), dom(3), bits = 3)
    s.read.parquet(path)
      .where(graft.operators.Layout.zCoverFilter(cover) &&
        col("user_id").cast("double").between(uLo, uHi) &&
        col("value").between(vLo, vHi))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s15_docs_grep" -> s15_docs_grep _,
    "s17_zorder_scan" -> s17_zorder_scan _,
    "s4_pruned_scan" -> s4_pruned_scan _,
    "s3_time_pruned" -> s3_time_pruned _,
    "s6_regex_pruned" -> s6_regex_pruned _,
    "s7_regex_alternation" -> s7_regex_alternation _,
    "s28_regex_class_pruned" -> s28_regex_class_pruned _,
    "s30_regex_nested_pruned" -> s30_regex_nested_pruned _,
    "s31_regex_lookahead_pruned" -> s31_regex_lookahead_pruned _,
    "ast_multi_region" -> ast_multi_region _,
    "s10_fileindex_scan" -> s10_fileindex_scan _,
    "ast_fileindex_chart" -> ast_fileindex_chart _
  )

  val oracleSql: Map[String, String] = Map(
    "s17_zorder_scan" ->
      """WITH d AS (
        |  SELECT CAST(min(user_id) AS DOUBLE) AS umin,
        |    CAST(max(user_id) AS DOUBLE) AS umax,
        |    min(value) AS vmin, max(value) AS vmax
        |  FROM events)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e, d
        |WHERE CAST(e.user_id AS DOUBLE)
        |    BETWEEN d.umin + 0.3 * (d.umax - d.umin)
        |        AND d.umin + 0.6 * (d.umax - d.umin)
        |  AND e.value
        |    BETWEEN d.vmin + 0.3 * (d.vmax - d.vmin)
        |        AND d.vmin + 0.6 * (d.vmax - d.vmin)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "s15_docs_grep" ->
      """SELECT doc_id, source FROM documents
        |WHERE regexp_matches(text, '(?i)vector')
        |ORDER BY doc_id""".stripMargin,
    "ast_fileindex_chart" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS step_ts,
        |  event_type AS group_key, round(sum(value), 6) AS value
        |FROM events WHERE event_type IN ('click', 'view')
        |  AND epoch_ms(ts) >= 1704844800000 AND epoch_ms(ts) < 1705017600000
        |GROUP BY step_ts, group_key ORDER BY step_ts, group_key""".stripMargin,
    "s10_fileindex_scan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |  AND event_type = 'purchase'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s4_pruned_scan" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,
    "s3_time_pruned" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "s6_regex_pruned" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE regexp_matches(event_type, 'pur.has[a-e]+', 'i')
        |ORDER BY event_id""".stripMargin,
    "s7_regex_alternation" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE regexp_matches(event_type, '(purchase|signup)', 'i')
        |ORDER BY event_id""".stripMargin,
    "s28_regex_class_pruned" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE regexp_matches(event_type, '(s[iu]gn[ou]p|er{2}or)', 'i')
        |ORDER BY event_id""".stripMargin,
    "s30_regex_nested_pruned" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE regexp_matches(event_type, '(si(gn|ng)up|er(ro|or)r)', 'i')
        |ORDER BY event_id""".stripMargin,
    // lookahead-free spelling of (?i)(?=.*signup).* (RE2 has no
    // lookaround): find-anywhere of 'signup', case-insensitive
    "s31_regex_lookahead_pruned" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE regexp_matches(event_type, 'signup', 'i')
        |ORDER BY event_id""".stripMargin,
    // the single-root equivalent of the 3-region federated evaluation
    "ast_multi_region" ->
      """SELECT (epoch_ms(ts) // 86400000) * 86400000 AS step_ts,
        |  event_type AS group_key, round(sum(value), 6) AS value
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY step_ts, group_key
        |ORDER BY step_ts, group_key""".stripMargin
  )
}
