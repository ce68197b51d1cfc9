package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.ast._
import graft.compile.FilterCompiler
import graft.sources.{ManifestFileIndex, SegmentIndex}

/** One may-match, two callers. On random segment files and random AST
  * clauses (EQ; IN of 1–15 values, so both `In` and `InSet`; REGEX and
  * CONTAINS from [[RegexGrammar]], with and without `(?i)`; NOT; AND/OR;
  * a non-indexed column), with and without a time window:
  *  - soundness: brute force over a plain scan of every file finds no
  *    matching row in a file that [[SegmentIndex.prune]] skipped, and the
  *    [[ManifestFileIndex]] relation returns every matching row;
  *  - parity: prune's file list and the relation scan's `numFiles` agree;
  *  - power: prune keeps no file that an independent reference (trigram
  *    containment of EQ/IN values, computed from the raw rows) excludes.
  * `region` is indexed at query time but was never fingerprinted, so
  * pruning on it must keep every segment (the column marker guard).
  */
class SegmentPruningPropertySpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private val built = Seq("service", "pod") // fingerprinted at build time
  private val indexed = Set("service", "pod", "region")
  private val columns = Seq("service", "pod", "region", "level")
  private val segments = 5

  private val word: Gen[String] = for {
    n <- Gen.chooseNum(3, 7)
    cs <- Gen.listOfN(n, Gen.oneOf(('a' to 'h') ++ Seq('-', 'A', 'B')))
  } yield cs.mkString

  private def leaf(vocab: Seq[String], regexes: Seq[String])
      : Gen[QueryClause] = for {
    k <- Gen.oneOf(columns)
    f <- Gen.frequency(
      3 -> Gen.oneOf(vocab).map(v => Filter(k, List(v), Ops.EQ)),
      // mostly values no segment holds, so a long IN can prune
      3 -> (for {
        n <- Gen.chooseNum(1, 15)
        held <- Gen.listOfN(2, Gen.oneOf(vocab))
        hits <- Gen.chooseNum(0, 2)
        vs <- Gen.listOfN(n, word)
      } yield Filter(k, (held.take(hits) ++ vs).take(n), Ops.IN)),
      3 -> (for {
        re <- Gen.oneOf(regexes)
        flag <- Gen.oneOf("", "(?i)")
        op <- Gen.oneOf(Ops.REGEX, Ops.CONTAINS)
      } yield Filter(k, List(flag + re), op)))
  } yield f

  private def clause(depth: Int, vocab: Seq[String], regexes: Seq[String])
      : Gen[QueryClause] =
    if (depth == 0) leaf(vocab, regexes)
    else Gen.frequency(
      3 -> leaf(vocab, regexes),
      1 -> clause(depth - 1, vocab, regexes).map(NotClause(_)),
      2 -> (for {
        a <- clause(depth - 1, vocab, regexes)
        b <- clause(depth - 1, vocab, regexes)
        op <- Gen.oneOf("and", "or")
      } yield BinaryClause(a, b, op)))

  // rows sit on whole seconds; window bounds on half seconds, so no bound
  // equals a segment's min_ts (prune's overlap is `min_ts < end`, the
  // scan's `ts < end` keeps `min_ts <= end`)
  private val window: Gen[Option[(Long, Long)]] = Gen.frequency(
    1 -> Gen.const(None),
    2 -> (for {
      a <- Gen.chooseNum(0, 50)
      len <- Gen.chooseNum(1, 30)
    } yield Some((a * 1000L + 500L, (a + len) * 1000L + 500L))))

  /** Per seed: segment rows (seg, ts ms, service, pod, region, level),
    * and (clause, window) cases. Values come from a small vocabulary
    * that includes strings the generated regexes match. */
  private def scenario(seed: Long) = {
    val gen = for {
      words <- Gen.listOfN(6, word)
      pats <- Gen.listOfN(4, RegexGrammar.sequence(2))
      samples <- Gen.sequence[List[String], String](pats.map(_.sample))
      vocab = (words ++ samples).distinct
      palettes <- Gen.listOfN(segments,
        Gen.listOfN(columns.size, Gen.pick(3, vocab)))
      rows <- Gen.sequence[List[Seq[String]], Seq[String]](
        for (p <- palettes; _ <- 0 until 6)
          yield Gen.sequence[List[String], String](p.map(Gen.oneOf(_))))
      cases <- Gen.listOfN(12,
        Gen.zip(clause(2, vocab, pats.map(_.re)), window))
    } yield (rows, cases)
    val (rows, cases) = gen(Gen.Parameters.default, Seed(seed)).get
    val data = rows.zipWithIndex.map { case (r, i) =>
      val seg = i / 6
      (seg, (seg * 10 + i % 6) * 1000L, r(0), r(1), r(2), r(3))
    }
    (data, cases)
  }

  test("prune and the relation's scan keep the same files, never one " +
    "with a matching row skipped, never one the trigram reference excludes") {
    import spark.implicits._
    val existing = columns.toSet + "ts"
    var checked, skipped = 0
    for (seed <- 0L until 6L) {
      val (data, cases) = scenario(seed)
      val dir = tempDir("graft_prune")
      (0 until segments).foreach { seg =>
        data.filter(_._1 == seg)
          .map { case (_, ms, s, p, r, l) => (ms * 1000000L, s, p, r, l) }
          .toDF("ts" +: columns: _*)
          .coalesce(1).write.parquet(s"$dir/seg$seg")
      }
      val manifest = SegmentIndex.build(spark,
          (0 until segments).map(seg => s"$dir/seg$seg"), "ts",
          ts => expr("ts div 1000000"), built)
      val files = manifest.select("file").as[String].collect().toSeq
      def segOf(file: String): Int =
        (0 until segments).find(seg => file.contains(s"/seg$seg/")).get
      // lowercase trigrams of each fingerprinted column, per file
      val trigrams = files.map { f =>
        f -> built.map { c =>
          val i = columns.indexOf(c)
          c -> data.filter(_._1 == segOf(f)).flatMap { r =>
            Seq(r._3, r._4, r._5, r._6)(i).toLowerCase.sliding(3)
          }.toSet
        }.toMap
      }.toMap
      def reference(file: String, c: QueryClause): Boolean = c match {
        case Filter(k, vs, Ops.EQ | Ops.IN, _, false, false)
            if built.contains(k) =>
          vs.exists(v => SegmentIndex.valueFingerprints(k, v).isEmpty ||
            v.toLowerCase.sliding(3).forall(trigrams(file)(k)))
        case BinaryClause(a, b, "and") => reference(file, a) && reference(file, b)
        case BinaryClause(a, b, _) => reference(file, a) || reference(file, b)
        case _ => true
      }
      val predicates = cases.map { case (c, w) =>
        FilterCompiler.compile(c, existing) && w.map { case (a, b) =>
          col("ts") >= a * 1000000L && col("ts") < b * 1000000L
        }.getOrElse(lit(true))
      }
      // brute force: every predicate on every row of a plain scan, one job
      val plain = spark.read.parquet(files: _*).select(
        input_file_name() +: predicates.zipWithIndex.map { case (p, i) =>
          coalesce(p, lit(false)).as(s"c$i")
        }: _*).collect()
      val rel = ManifestFileIndex.relation(spark, manifest, "ts",
        _ / 1000000L, indexed)
      cases.zip(predicates).zipWithIndex.foreach { case (((c, w), p), i) =>
        val ctx = s"seed $seed case $i: ${c.show} window $w"
        val matching = plain.filter(_.getBoolean(i + 1)).map(_.getString(0))
        val (lo, hi) = w.getOrElse((Long.MinValue, Long.MaxValue))
        val kept = SegmentIndex.prune(manifest, Some(c), indexed, lo, hi)
        assert(matching.toSet.subsetOf(kept.toSet),
          s"$ctx: prune skipped a file with a matching row")
        val scan = rel.where(p).select(col("ts"))
        assert(scan.collect().length == matching.length,
          s"$ctx: the relation lost matching rows")
        assert(ManifestFileIndexSpec.numFiles(scan) == kept.size,
          s"$ctx: prune kept ${kept.size} files, the scan read a different count")
        assert(kept.forall(reference(_, c)),
          s"$ctx: prune kept a file the trigram reference excludes")
        checked += 1
        skipped += files.size - kept.size
      }
    }
    assert(checked == 72)
    assert(skipped > 0, "no case pruned a file: the property is vacuous")
  }
}
