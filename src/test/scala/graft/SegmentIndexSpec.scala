package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ast._
import graft.sources.{ManifestFileIndex, SegmentIndex}

class SegmentIndexSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  // three "segments": distinct services and time ranges
  private lazy val segDir = {
    import spark.implicits._
    val dir = tempDir("graft_segs")
    def write(name: String, rows: Seq[(Long, String, String, Double)]): String = {
      val p = s"$dir/$name"
      rows.toDF("ts", "service", "level", "value")
        .coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
    val s1 = write("seg1", Seq(
      (1000L, "checkout-api", "info", 1.0), (2000L, "checkout-api", "error", 2.0)))
    val s2 = write("seg2", Seq(
      (3000L, "payment-svc", "info", 3.0), (4000L, "payment-svc", "warn", 4.0)))
    val s3 = write("seg3", Seq(
      (9000L, "search-frontend", "error", 5.0), (9500L, "checkout-api", "info", 6.0)))
    (dir, Seq(s1, s2, s3))
  }

  private lazy val manifest = {
    val (_, segs) = segDir
    SegmentIndex.build(spark, segs, "ts", identity, Seq("service", "level"))
  }
  private val indexed = Set("service", "level")

  test("manifest has per-file bounds and fingerprints") {
    val rows = manifest.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[Seq[Long]]("fingerprints").nonEmpty))
    val seg1 = rows.find(_.getString(0).contains("seg1")).get
    assert(seg1.getAs[Long]("min_ts") == 1000L)
    assert(seg1.getAs[Long]("max_ts") == 2000L)
    assert(seg1.getAs[Long]("row_count") == 2L)
  }

  test("eq prunes to segments containing the value's trigrams") {
    val clause = Filter("service", List("payment-svc"), Ops.EQ)
    val files = SegmentIndex.prune(manifest, Some(clause), indexed, 0L, 10000L)
    assert(files.length == 1 && files.head.contains("seg2"))
  }

  test("contains prunes; value spanning two segments keeps both") {
    val clause = Filter("service", List("checkout"), Ops.CONTAINS)
    val files = SegmentIndex.prune(manifest, Some(clause), indexed, 0L, 10000L)
    assert(files.length == 2)
    assert(files.exists(_.contains("seg1")) && files.exists(_.contains("seg3")))
  }

  /** A one-file manifest over `values` of an indexed `event_type`. */
  private def singleSegment(values: String*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dir = tempDir("graft_seg1")
    values.map(v => (1000L, v)).toDF("ts", "event_type")
      .coalesce(1).write.parquet(s"$dir/seg")
    SegmentIndex.build(spark, Seq(s"$dir/seg"), "ts", identity,
      Seq("event_type"))
  }

  test("contains treats metacharacters as regex, not literal (pruning soundness)") {
    // "a.cde" as a CONTAINS value is a REGEX (reference regexp_matches):
    // a segment holding only "axcde" matches via the wildcard and must
    // NOT be pruned on the literal's trigrams ("a.c", ".cd")
    val seg = singleSegment("axcde")
    val files = SegmentIndex.prune(seg,
      Some(Filter("event_type", List("a.cde"), Ops.CONTAINS)),
      Set("event_type"), 0L, 10000L)
    assert(files.length == 1, files)
    // requiredTrigrams("a.cde") sees '.' as Free: the run "a" (< 3
    // chars) imposes no trigram and is dropped at flush; only "cde"
    // remains — so a segment holding only "axcde" survives pruning
    import graft.sources.SegmentIndex.TriReq
    val req = SegmentIndex.requiredTrigrams("a.cde")
    assert(req == TriReq.Lit("cde"))
    // not vacuous: a value whose required run is absent prunes the file
    assert(SegmentIndex.prune(seg,
      Some(Filter("event_type", List("a.cdz"), Ops.CONTAINS)),
      Set("event_type"), 0L, 10000L).isEmpty)
  }

  test("inline x/u/U flags never prune a matching segment") {
    // (?x) makes "f o o" match "foo"; (?u) with the AST's (?i) makes the
    // long s "ſ" match "s" — neither pattern's literal text is required
    val seg = singleSegment("foo", "stop")
    for ((re, v) <- Seq(("(?x)f o o", "foo"), ("(?u)ſtop", "stop"),
        ("(?iu:ſtop)", "stop"), ("(?U)ſtop", "stop"))) {
      assert(java.util.regex.Pattern.compile(s"(?i)$re").matcher(v).find(),
        s"$re !~ $v")
      val files = SegmentIndex.prune(seg,
        Some(Filter("event_type", List(re), Ops.REGEX)),
        Set("event_type"), 0L, 10000L)
      assert(files.length == 1, s"$re pruned its matching segment")
    }
  }

  test("a capital sigma never prunes a matching segment") {
    // lower("ΟΔΟΣΑ") = "οδοσα" but lower("ΟΔΟΣ") = "οδος": the final
    // sigma of a substring is not the stored text's
    val seg = singleSegment("ΟΔΟΣΑ")
    for (clause <- Seq(Filter("event_type", List("ΟΔΟΣ."), Ops.REGEX),
        Filter("event_type", List("ΟΔΟΣ"), Ops.CONTAINS)))
      assert(SegmentIndex.prune(seg, Some(clause), Set("event_type"),
        0L, 10000L).length == 1, clause)
  }

  test("extracted and computed leaves never prune") {
    // an extracted field may share an indexed column's name; its values
    // come from the message, not the column's fingerprints
    for (clause <- Seq(
        Filter("service", List("nowhere-svc"), Ops.EQ, extracted = true),
        Filter("service", List("nowhere-svc"), Ops.EQ, computed = true),
        BinaryClause(Filter("service", List("payment-svc"), Ops.EQ),
          NotClause(Filter("level", List("zzz"), Ops.EQ, extracted = true)),
          "or")))
      assert(SegmentIndex.prune(manifest, Some(clause), indexed, 0L, 10000L)
        .length == 3, clause)
  }

  test("numeric-looking EQ values do not prune (coercing equality)") {
    // a long column 1234 matches the value "1234.0" through ==='s
    // numeric coercion; the value's own trigrams ("34.", "4.0") need not
    // exist in any segment — pruning must abstain
    assert(SegmentIndex.valueFingerprints("v", "1234.0").isEmpty)
    assert(SegmentIndex.valueFingerprints("v", "click").nonEmpty)
  }

  test("AND intersects, OR unions candidate sets (U2 set algebra)") {
    val and = BinaryClause(
      Filter("service", List("checkout-api"), Ops.EQ),
      Filter("level", List("error"), Ops.EQ), "and")
    val andFiles = SegmentIndex.prune(manifest, Some(and), indexed, 0L, 10000L)
    assert(andFiles.length == 2) // seg1 (has both) + seg3 (has both, diff rows)

    val or = BinaryClause(
      Filter("service", List("payment-svc"), Ops.EQ),
      Filter("service", List("search-frontend"), Ops.EQ), "or")
    val orFiles = SegmentIndex.prune(manifest, Some(or), indexed, 0L, 10000L)
    assert(orFiles.length == 2)
    assert(orFiles.exists(_.contains("seg2")) && orFiles.exists(_.contains("seg3")))
  }

  test("time range prunes by segment bounds") {
    val files = SegmentIndex.prune(manifest, None, indexed, 0L, 2500L)
    assert(files.length == 1 && files.head.contains("seg1"))
    val none = SegmentIndex.prune(manifest, None, indexed, 20000L, 30000L)
    assert(none.isEmpty)
  }

  test("unindexable predicates degrade soundly to all segments") {
    // pure wildcard / shorthand regexes carry no literal → all segments
    val free = Filter("service", List(".*\\d+.*"), Ops.REGEX)
    assert(SegmentIndex.prune(manifest, Some(free), indexed, 0L, 10000L).length == 3)
    val short = Filter("service", List("ab"), Ops.EQ)
    assert(SegmentIndex.prune(manifest, Some(short), indexed, 0L, 10000L).length == 3)
    val not = NotClause(Filter("service", List("payment-svc"), Ops.EQ))
    assert(SegmentIndex.prune(manifest, Some(not), indexed, 0L, 10000L).length == 3)
  }

  test("alternation regexes OR branch trigram sets and skip files (Op-3)") {
    // (payment|search): seg2 has "payment", seg3 has "search" → seg1 skipped
    val alt = Filter("service", List("(payment|search).*"), Ops.REGEX)
    val files = SegmentIndex.prune(manifest, Some(alt), indexed, 0L, 10000L)
    assert(files.length == 2 &&
      files.exists(_.contains("seg2")) && files.exists(_.contains("seg3")), files)
    // top-level alternation, no group
    val top = Filter("service", List("payment-svc|search-frontend"), Ops.REGEX)
    val f2 = SegmentIndex.prune(manifest, Some(top), indexed, 0L, 10000L)
    assert(f2.length == 2 &&
      f2.exists(_.contains("seg2")) && f2.exists(_.contains("seg3")), f2)
    // alternation ANDed with a forced suffix run: the branch OR spans all
    // segments but "-svc" appears only in seg2 → intersection = seg2
    val mixed = Filter("service", List("(checkout|payment)-svc"), Ops.REGEX)
    val f3 = SegmentIndex.prune(manifest, Some(mixed), indexed, 0L, 10000L)
    assert(f3.length == 1 && f3.head.contains("seg2"), f3)
    // a short branch (no trigram) poisons the OR → all segments (sound)
    val shortBranch = Filter("service", List("(ab|payment)"), Ops.REGEX)
    assert(SegmentIndex.prune(manifest, Some(shortBranch), indexed, 0L, 10000L)
      .length == 3)
  }

  test("regex literal extraction prunes segments (F4 trigram pruning)") {
    // "pay.*" forces the literal "pay" → only seg2 can match
    val simple = Filter("service", List("pay.*"), Ops.REGEX)
    val f1 = SegmentIndex.prune(manifest, Some(simple), indexed, 0L, 10000L)
    assert(f1.length == 1 && f1.head.contains("seg2"), f1)
    // "check.ut-api" forces "check" and "ut-api" → seg1 + seg3
    val dotted = Filter("service", List("check.ut-api"), Ops.REGEX)
    val f2 = SegmentIndex.prune(manifest, Some(dotted), indexed, 0L, 10000L)
    assert(f2.length == 2 &&
      f2.exists(_.contains("seg1")) && f2.exists(_.contains("seg3")), f2)
    // case-insensitive match semantics → case-insensitive pruning
    val upper = Filter("service", List("PAYMENT-.*"), Ops.REGEX)
    val f3 = SegmentIndex.prune(manifest, Some(upper), indexed, 0L, 10000L)
    assert(f3.length == 1 && f3.head.contains("seg2"), f3)
  }

  test("requiredLiterals extracts forced literal runs, degrades on complexity") {
    assert(SegmentIndex.requiredLiterals("pur.has[a-e]+") == Seq("pur", "has"))
    assert(SegmentIndex.requiredLiterals("pay.*") == Seq("pay"))
    assert(SegmentIndex.requiredLiterals("error") == Seq("error"))
    // '*' makes the preceding char optional: "abcd*" requires only "abc"
    assert(SegmentIndex.requiredLiterals("abcd*") == Seq("abc"))
    // '+' keeps the preceding char: "abc+" requires "abc"
    assert(SegmentIndex.requiredLiterals("abc+d") == Seq("abc"))
    // escaped metachar is a literal
    assert(SegmentIndex.requiredLiterals("foo\\.bar") == Seq("foo.bar"))
    // class shorthands break the run
    assert(SegmentIndex.requiredLiterals("foo\\d+bar") == Seq("foo", "bar"))
    // {m,n} with m>=1 repeats the atom m times ("timeout{2,3}" must
    // contain "timeoutt"); n>m detaches the following run
    assert(SegmentIndex.requiredLiterals("timeout{2,3}s") == Seq("timeoutt"))
    // a short-branch alternation now merges into the adjacent run as an
    // exact family (AnyOf(acdef, bcdef)) — conditional, so the flat
    // (unconditional) view is empty even though pruning got STRONGER
    assert(SegmentIndex.requiredLiterals("(a|b)cdef").isEmpty)
    assert(SegmentIndex.requiredTrigrams("(a|b)cdef") ==
      SegmentIndex.TriReq.AnyOf(Seq(SegmentIndex.TriReq.Lit("acdef"),
        SegmentIndex.TriReq.Lit("bcdef"))))
    // an inexact group (unbounded tail) still leaves the run required
    assert(SegmentIndex.requiredLiterals("(a+|b.*c)cdef") == Seq("cdef"))
    assert(SegmentIndex.requiredLiterals("ab|cdef").isEmpty)
    // runs under 3 chars carry no trigram
    assert(SegmentIndex.requiredLiterals("ab.cd").isEmpty)
    // malformed regex → no pruning
    assert(SegmentIndex.requiredLiterals("foo(bar").isEmpty)
    assert(SegmentIndex.requiredLiterals("foo[bar").isEmpty)
  }

  test("requiredTrigrams builds the AND/OR tree") {
    import SegmentIndex.TriReq._
    assert(SegmentIndex.requiredTrigrams("foo|bar") ==
      AnyOf(Seq(Lit("foo"), Lit("bar"))))
    // a group with a small exact language joins the literal run (the
    // concatenation product): stronger than AND(foo|bar, baz) — the
    // branch and the suffix must be CONTIGUOUS
    assert(SegmentIndex.requiredTrigrams("(foo|bar)baz") ==
      AnyOf(Seq(Lit("foobaz"), Lit("barbaz"))))
    // nested alternation: exact sets multiply through nesting
    assert(SegmentIndex.requiredTrigrams("(aaa(bbb|ccc)|ddd)") ==
      AnyOf(Seq(Lit("aaabbb"), Lit("aaaccc"), Lit("ddd"))))
    // non-capturing group: the short tail still joins the product
    assert(SegmentIndex.requiredTrigrams("(?:foo|bar)x") ==
      AnyOf(Seq(Lit("foox"), Lit("barx"))))
    assert(SegmentIndex.requiredTrigrams("(foo|bar)?baz") == Lit("baz"))
    // empty branch → whole alternation unconstrained
    assert(SegmentIndex.requiredTrigrams("(foo|)bar") == Lit("bar"))
    // class INSIDE a run cross-products into a literal family (Cox
    // gr[ae]y algebra) instead of breaking the run
    assert(SegmentIndex.requiredTrigrams("s[iu]gn[ou]p") ==
      AnyOf(Seq(Lit("signop"), Lit("signup"), Lit("sugnop"), Lit("sugnup"))))
    // bounded repeat folds into the run: er{2}or ≡ "error"
    assert(SegmentIndex.requiredTrigrams("er{2}or") == Lit("error"))
  }

  test("class families and bounded repeats prune segments") {
    // pa[xy]ment → {paxment, payment}: only seg2 carries "payment"
    val fam = Filter("service", List("pa[xy]ment.*"), Ops.REGEX)
    val f1 = SegmentIndex.prune(manifest, Some(fam), indexed, 0L, 10000L)
    assert(f1.length == 1 && f1.head.contains("seg2"), f1)
    // payment{1,2} requires "payment" (1 forced copy; the open tail
    // breaks the following run, never the preceding requirement)
    val rep = Filter("service", List("payment{1,2}"), Ops.REGEX)
    val f2 = SegmentIndex.prune(manifest, Some(rep), indexed, 0L, 10000L)
    assert(f2.length == 1 && f2.head.contains("seg2"), f2)
    // oversized class ([a-z]) breaks the family but the runs on either
    // side still bind: pa[a-z]ment keeps requiring "ment" → seg2 only
    val wide = Filter("service", List("pa[a-z]ment"), Ops.REGEX)
    val f3 = SegmentIndex.prune(manifest, Some(wide), indexed, 0L, 10000L)
    assert(f3.length == 1 && f3.head.contains("seg2"), f3)
    // both flanking runs under 3 chars → no requirement survives, every
    // segment stays a candidate (sound degradation)
    val short = Filter("service", List("p[a-z]y"), Ops.REGEX)
    assert(SegmentIndex.prune(manifest, Some(short), indexed, 0L, 10000L)
      .length == 3)
  }

  test("nested-group regexes prune segments (exact-set product)") {
    // pay(me|em)nt → {payment, payemnt}: only seg2 carries "payment";
    // every PIECE is under 3 chars, so only the product can prune
    val nested = Filter("service", List("pay(me|em)nt"), Ops.REGEX)
    val f1 = SegmentIndex.prune(manifest, Some(nested), indexed, 0L, 10000L)
    assert(f1.length == 1 && f1.head.contains("seg2"), f1)
    // nesting inside alternation: (che(ck|kc)out|sea(rc|cr)h) keeps the
    // checkout (seg1, seg3) and search (seg3) segments, drops seg2
    val alt = Filter("service",
      List("(che(ck|kc)out|sea(rc|cr)h)"), Ops.REGEX)
    val f2 = SegmentIndex.prune(manifest, Some(alt), indexed, 0L, 10000L)
    assert(f2.length == 2 && !f2.exists(_.contains("seg2")), f2)
    // an inexact part inside the group degrades that branch to no-prune
    // for the whole alternation (sound)
    val inexact = Filter("service", List("(payment|x.*y)"), Ops.REGEX)
    assert(SegmentIndex.prune(manifest, Some(inexact), indexed, 0L, 10000L)
      .length == 3)
  }

  test("positive lookahead plans its inner trigrams; negative/lookbehind " +
    "degrade soundly to all segments") {
    // (?=.*payment): the inner pattern is a required match, so only
    // seg2 (the one carrying "payment" trigrams) survives even though
    // the consuming part of the regex is requirement-free
    val ahead = Filter("service", List("(?=.*payment).*"), Ops.REGEX)
    val f1 = SegmentIndex.prune(manifest, Some(ahead), indexed, 0L, 10000L)
    assert(f1.length == 1 && f1.head.contains("seg2"), f1)
    // lookahead ANDed with consumed text: intersection of requirements
    val both = Filter("service", List("(?=.*-svc)payment.*"), Ops.REGEX)
    val f2 = SegmentIndex.prune(manifest, Some(both), indexed, 0L, 10000L)
    assert(f2.length == 1 && f2.head.contains("seg2"), f2)
    // positive lookbehind plans its inner trigrams too (the match ended
    // at this position, so it IS in the document)
    val behind = Filter("service", List("(?<=payment).*"), Ops.REGEX)
    val f3 = SegmentIndex.prune(manifest, Some(behind), indexed, 0L, 10000L)
    assert(f3.length == 1 && f3.head.contains("seg2"), f3)
    // NEGATIVE lookaround carries no requirement (sound)
    val neg = Filter("service", List("(?!payment).*"), Ops.REGEX)
    assert(SegmentIndex.prune(manifest, Some(neg), indexed, 0L, 10000L)
      .length == 3)
    val negB = Filter("service", List("(?<!payment).*"), Ops.REGEX)
    assert(SegmentIndex.prune(manifest, Some(negB), indexed, 0L, 10000L)
      .length == 3)
  }

  test("prune-to-zero-files returns a TYPED empty frame from every entry") {
    // A corpus whose segments can never match the entries' predicates:
    // no trigram of "click"/"pur"/"has"/"purchase"/"signup" in any
    // event_type, every ts outside s3's 2024-01-10..12 window, and no
    // trigram of "vector" in any document text. Each SourceQueries entry
    // must come back EMPTY but with its declared schema — a schema-less
    // emptyDataFrame would break downstream select/where and the oracle
    // schema compare.
    import spark.implicits._
    val dir = tempDir("graft_zero_sf")
    val ts2023 = java.time.Instant.parse("2023-06-01T00:00:00Z")
      .toEpochMilli * 1000000L
    Seq((1L, ts2023, 10L, "view", 1.5, "{}"),
        (2L, ts2023 + 1000000000L, 11L, "browse", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq((1L, "plain words only", "en", "web", 16L),
        (2L, "more plain words", "en", "web", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.types._
    val expected = Map[String, StructType](
      "s4_pruned_scan" -> StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("value", DoubleType))),
      "s3_time_pruned" -> StructType(Seq(StructField("event_type", StringType),
        StructField("n", LongType))),
      "s6_regex_pruned" -> StructType(Seq(StructField("event_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))),
      "s7_regex_alternation" -> StructType(Seq(StructField("event_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))),
      "s15_docs_grep" -> StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType))))
    expected.foreach { case (name, schema) =>
      val df = graft.queries.SourceQueries.queries(name)(spark, dir)
      assert(df.count() == 0L, s"$name should prune to zero rows")
      assert(StructType(df.schema.map(_.copy(nullable = true))) ==
        StructType(schema.map(_.copy(nullable = true))),
        s"$name schema ${df.schema.treeString}")
    }
  }

  test("pruned scan result equals full scan result") {
    val (_, segs) = segDir
    val clause = Filter("service", List("payment-svc"), Ops.EQ)
    val pruned = graft.sources.ManifestFileIndex
      .relation(spark, manifest, "ts", identity, indexed)
      .where(graft.compile.FilterCompiler.compile(clause, Set("service")))
      .select("ts", "service", "level", "value").orderBy("ts").collect()
    val full = spark.read.parquet(segs: _*)
      .where(col("service") === "payment-svc")
      .select("ts", "service", "level", "value").orderBy("ts").collect()
    assert(pruned.sameElements(full))
  }

  private def parquetFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq.sorted

  /** The per-row build this index used to run, kept as the oracle: every
    * row's fingerprint array, exploded, de-duplicated and joined to
    * per-file bounds from a second scan. */
  private def perRowManifest(files: Seq[String], indexed: Seq[String]) = {
    val df = spark.read.option("mergeSchema", "true").parquet(files: _*)
    val idx = indexed.filter(df.columns.toSet)
    def fps(c: String) = concat(
      array(lit(SegmentIndex.columnMarker(c))),
      coalesce(
        transform(graft.operators.Dedup.charNgrams(lower(col(c)), 3),
          g => xxhash64(lit(c), g)),
        array().cast("array<bigint>")))
    val all =
      if (idx.isEmpty) array().cast("array<bigint>")
      else flatten(array(idx.map(fps): _*))
    val base = df.select(input_file_name().as("file"),
      col("ts").as("_ts_ms"), all.as("_fps"))
    val bounds = base.groupBy(col("file")).agg(
      count(lit(1)).as("row_count"),
      min(col("_ts_ms")).as("min_ts"),
      max(col("_ts_ms")).as("max_ts"))
    val prints = base
      .select(col("file"), explode(col("_fps")).as("fp")).distinct()
      .groupBy(col("file")).agg(collect_set(col("fp")).as("fingerprints"))
    bounds.join(prints, Seq("file"), "left")
      .withColumn("fingerprints",
        coalesce(col("fingerprints"), array().cast("array<bigint>")))
  }

  private def rowsOf(m: org.apache.spark.sql.DataFrame) =
    m.select("file", "row_count", "min_ts", "max_ts", "fingerprints")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getSeq[Long](4).sorted))
      .sortBy(_._1).toSeq

  test("build is row-identical to the per-row formula on awkward values, " +
    "merged schemas and mixed directory/file inputs") {
    import spark.implicits._
    val dir = tempDir("graft_seg_eq")
    // a Spark output directory holding both indexed columns
    Seq[(Long, String, String)](
      (100L, "Checkout-API", "host-A"), (200L, null, "h"),
      (300L, "", null), (400L, "a", "ab"), (500L, "ab", ""),
      (600L, "Zürich-ÜBER", "日本語テキスト"), (700L, "checkout-api", "HOST-a"),
      (800L, "ΣΊΣΥΦΟΣ", "naïve café"))
      .toDF("ts", "service", "host")
      .coalesce(1).write.parquet(s"$dir/both")
    // plain files without `host`: its marker still lands (null values)
    Seq[(Long, String)]((50L, "PAYMENT-svc"), (60L, "x"), (70L, null))
      .toDF("ts", "service").coalesce(1).write.parquet(s"$dir/svc")
    Seq[(Long, String)]((900L, "Ünïcödé-Svc"), (950L, "payment-SVC"))
      .toDF("ts", "service").coalesce(1).write.parquet(s"$dir/svc2")
    // zero rows: absent from the manifest, as before
    Seq.empty[(Long, String)].toDF("ts", "service")
      .coalesce(1).write.parquet(s"$dir/empty")
    val inputs = Seq(s"$dir/both") ++ parquetFiles(s"$dir/svc") ++
      parquetFiles(s"$dir/svc2") ++ parquetFiles(s"$dir/empty")
    assert(parquetFiles(s"$dir/empty").size == 1)
    for (indexed <- Seq(Seq("service", "host"), Seq("host"), Seq.empty)) {
      val got = rowsOf(SegmentIndex.build(spark, inputs, "ts", identity,
        indexed))
      val want = rowsOf(perRowManifest(inputs, indexed))
      assert(got == want, s"indexed=$indexed")
      assert(got.size == 3 && !got.exists(_._1.contains("/empty/")), got)
    }
  }

  test("build refuses an empty file list with a clear message") {
    val e = intercept[IllegalArgumentException](
      SegmentIndex.build(spark, Nil, "ts", identity, Seq("service")))
    assert(e.getMessage.contains("no segment files"), e.getMessage)
  }

  test("build lists on the driver and reads the files in ONE scan") {
    // 40 files: past Spark's 32-path threshold, where spark.read.parquet
    // runs a listing job with one task per path
    val dir = tempDir("graft_seg_jobs") + "/segs"
    spark.range(0, 400)
      .select(col("id").as("ts"),
        concat(lit("svc-"), (col("id") % 7).cast("string")).as("service"))
      .repartition(40).write.parquet(dir)
    val files = parquetFiles(dir)
    assert(files.size == 40)
    // build returns a local frame: the scan is in the plans it executes
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (m, jobs) = try JobLog.during(spark.sparkContext) { log =>
      val m = SegmentIndex.build(spark, files, "ts", identity, Seq("service"))
      (m, log.all)
    } finally spark.listenerManager.unregister(listener)
    assert(jobs.nonEmpty && jobs.forall(_.tasks < files.size),
      jobs.mkString("\n"))
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    import scala.jdk.CollectionConverters._
    assert(executed.asScala.toSeq.flatMap(scans).size == 1,
      executed.asScala.mkString("\n"))
    assert(rowsOf(m).map(_._2).sum == 400L)
  }

  test("relation refuses a manifest without the data schema metadata") {
    val (_, segs) = segDir
    val dir = tempDir("graft_seg_nometa") + "/m"
    perRowManifest(segs, Seq("service")).write.parquet(dir)
    val e = intercept[IllegalArgumentException](ManifestFileIndex.relation(
      spark, spark.read.parquet(dir), "ts", identity, Set("service")))
    assert(e.getMessage.contains("SegmentIndex.build"), e.getMessage)
  }

  test("a manifest over only zero-row files gives an empty relation " +
    "of their schema") {
    import spark.implicits._
    val dir = tempDir("graft_seg_allempty")
    Seq("a", "b").foreach(n => Seq.empty[(Long, String, Double)]
      .toDF("ts", "service", "value").coalesce(1).write.parquet(s"$dir/$n"))
    val files = parquetFiles(s"$dir/a") ++ parquetFiles(s"$dir/b")
    assert(files.size == 2)
    val m = SegmentIndex.build(spark, files, "ts", identity, Seq("service"))
    assert(m.collect().isEmpty)
    val rel = ManifestFileIndex.relation(spark, m, "ts", identity,
      Set("service"))
    assert(rel.schema == spark.read.parquet(files: _*).schema, rel.schema)
    assert(rel.where(col("service") === "svc").collect().isEmpty)
    assert(rel.count() == 0L)
  }

  test("schema drift: a merged-schema manifest's relation exposes a " +
    "column only the second segment has, in any manifest row order") {
    import spark.implicits._
    val dir = tempDir("graft_seg_drift")
    Seq((1000L, "svc-a")).toDF("ts", "service")
      .coalesce(1).write.parquet(s"$dir/old")
    Seq((2000L, "svc-b", "host-1")).toDF("ts", "service", "host")
      .coalesce(1).write.parquet(s"$dir/new")
    val files = parquetFiles(s"$dir/old") ++ parquetFiles(s"$dir/new")
    val m = SegmentIndex.build(spark, files, "ts", identity, Seq("service"))
    val rows = m.collect().toSeq
    assert(rows.size == 2)
    import scala.jdk.CollectionConverters._
    for (order <- Seq(rows, rows.reverse)) {
      val rel = ManifestFileIndex.relation(spark,
        spark.createDataFrame(order.asJava, m.schema), "ts", identity,
        Set("service"))
      assert(rel.schema ==
        spark.read.option("mergeSchema", "true").parquet(files: _*).schema)
      assert(rel.select("ts", "host").orderBy("ts").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
        Seq((1000L, None), (2000L, Some("host-1"))))
    }
  }
}
