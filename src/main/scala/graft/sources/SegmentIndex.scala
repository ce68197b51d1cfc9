package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.ast._
import graft.compile.FilterCompiler

/** Segment manifest + trigram-fingerprint data skipping — the Spark-native
  * form of the reference's metadata index (SURVEY.md S3/S4/U2: PostgreSQL
  * `log_seg`/`metric_seg` tables with `ts_range && int8range` overlap and
  * `fingerprints && BIGINT[]` trigram matching, reference
  * QueryEngineV2.scala:700-951, set algebra NLPUtils.scala:155-187).
  *
  * Design (scale-first):
  *  - The manifest is driver-resident planning input: one row per
  *    segment file with (file, row_count, min/max of the time column,
  *    fingerprint set), held as a local frame (a `LocalRelation`) whose
  *    `file` column metadata carries the segments' data schema. It is
  *    built once at ingest by a distributed scan, collected once, and
  *    consulted at plan time with no Spark job — the 100 TB scan is
  *    replaced by a few MB of rows per million segments.
  *  - Fingerprints are 64-bit hashes of (column, trigram-of-value). A
  *    predicate value's trigrams must ALL be present in a segment for the
  *    segment to possibly match eq/contains on an indexed column —
  *    same contract as the reference's trigram index; absence proves
  *    absence, presence is only a candidate.
  *  - Clause pruning (U2): AND intersects candidate sets, OR unions; a
  *    regex or contains value must meet its [[requiredTrigrams]] tree.
  *    NOT, short values and regex constructs without a required literal
  *    keep every segment (sound).
  *  - Time pruning (F10): segment [min_ts, max_ts] must overlap the query
  *    range — the manifest twin of parquet row-group min/max skipping.
  *
  * One may-match decides both: [[ManifestFileIndex.mayMatch]], which the
  * plan-time [[ManifestFileIndex]] relation applies to the filters
  * Catalyst pushes into its scan and [[prune]] applies to an AST clause.
  * Skipped segments are never even listed; partition-dir layouts
  * (`dateInt=/hour=`) remain complementary (Catalyst partition pruning).
  */
object SegmentIndex {

  /** Metadata key, on the manifest's `file` column, of the segments' data
    * schema (JSON). */
  private[graft] val SchemaKey = "graft.manifest.dataSchema"

  /** Marker fingerprint recording "column c WAS fingerprinted when this
    * manifest was built". Pruning on column c is sound only when this
    * marker is present: a query-time `indexed` set wider than the
    * build-time one would otherwise find none of a value's trigrams in
    * the segment set and prune EVERYTHING — silently empty results over
    * data that matches. The 14-char marker input cannot collide with a
    * real 3-char trigram input. */
  private[graft] def columnMarker(c: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String
        .fromString("\u0000fingerprinted"),
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(c),
        org.apache.spark.sql.types.StringType, 42L))

  /** Fingerprints of one lowered value `v` of column c: the marker plus
    * the hash of each (column, trigram) pair. The column name is bound
    * into the hash so `a contains "foo"` can't match a segment that only
    * has "foo" under column b. A null value → the marker alone (the
    * column is still fingerprinted; it just carries no trigrams there). */
  private def fingerprints(c: String, v: Column): Column =
    concat(
      array(lit(columnMarker(c))),
      coalesce(
        transform(graft.operators.Dedup.charNgrams(v, 3),
          g => xxhash64(lit(c), g)),
        array().cast("array<bigint>")))

  /** Build the manifest for a set of segment files (or Spark output
    * directories, expanded to their data files). The files are listed on
    * the driver by [[ManifestFileIndex.listPaths]] — no Spark listing job
    * — and read by ONE column-pruned scan of (tsCol + indexed columns):
    *  - each row becomes one (file, column, lower(value)) row per indexed
    *    column; a spillable hash aggregation keeps the distinct ones with
    *    their row count and ts bounds (map-side first, so the shuffle
    *    carries distinct values, never rows);
    *  - each distinct value is trigram-hashed ONCE, exploded to
    *    (file, fingerprint) and `collect_set` per file — reducer memory
    *    is bounded by the distinct-trigram count of a file, not its row
    *    count; row_count / min_ts / max_ts ride the same aggregation
    *    (one (column 0, value) group per distinct value sums the rows).
    * Trade-off: on a free-text index (most values distinct) the shuffle
    * carries each value's fingerprints instead of per-file distinct ones
    * (12.3 MB instead of 1.9 MB for a `message` index over the serving
    * benchmark's 168 files and 168k rows) for a faster build. A per-file
    * `collect_set` of raw values would be faster still, but it holds a
    * file's whole free-text column in one aggregation buffer.
    *
    * The rows are collected once and returned as a local frame carrying
    * the data schema [[ManifestFileIndex.relation]] reads (see
    * [[SchemaKey]]); do not `.cache()` it, a cached local frame runs jobs
    * where the plain one runs none. A zero-row file yields no manifest
    * row: it holds nothing to scan, so it can be pruned always. `files`
    * must be non-empty.
    */
  def build(spark: SparkSession, files: Seq[String], tsCol: String,
      tsToMillis: Column => Column, indexed: Seq[String],
      mergeSchema: Boolean = true): DataFrame = {
    require(files.nonEmpty, "SegmentIndex.build: no segment files given")
    // mergeSchema=false skips the per-file footer merge pass — right for
    // homogeneous segment families (one writer, one schema) with many
    // small files, where the merge dominates the build
    val df = ManifestFileIndex.scanOf(spark, files, mergeSchema)
    val present = df.columns.toSet
    val idx = indexed.filter(present.contains)
    val file = input_file_name().as("file")
    val ts = tsToMillis(col(s"`$tsCol`")).as("_ts_ms")
    // bounds-only manifest without indexed columns: empty fingerprint sets
    val rows = if (idx.isEmpty)
      df.select(file, ts).groupBy(col("file")).agg(
          count(lit(1)).as("row_count"),
          min(col("_ts_ms")).as("min_ts"),
          max(col("_ts_ms")).as("max_ts"))
        .withColumn("fingerprints", array().cast("array<bigint>"))
    else {
      val values = df.select(file, ts,
          posexplode(array(idx.map(c => lower(col(s"`$c`"))): _*))
            .as(Seq("_col", "_v")))
        .groupBy(col("file"), col("_col"), col("_v")).agg(
          count(lit(1)).as("_n"),
          min(col("_ts_ms")).as("_lo"),
          max(col("_ts_ms")).as("_hi"))
      val fps = idx.indices.tail.foldLeft(
          when(col("_col") === 0, fingerprints(idx.head, col("_v")))) {
        (w, i) => w.when(col("_col") === i, fingerprints(idx(i), col("_v")))
      }
      values.select(col("*"), posexplode(fps).as(Seq("_pos", "fp")))
        .groupBy(col("file")).agg(
          sum(when(col("_col") === 0 && col("_pos") === 0, col("_n")))
            .as("row_count"),
          min(col("_lo")).as("min_ts"),
          max(col("_hi")).as("max_ts"),
          collect_set(col("fp")).as("fingerprints"))
    }
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(SchemaKey, df.schema.json).build()
    onDriver(rows.withMetadata("file", meta))
  }

  /** `m`'s rows, collected, as a local frame of `m`'s schema. Encoded
    * through the row encoder, the frame holds unsafe rows: a fingerprint
    * costs 8 bytes, not the boxed Long `createDataFrame(rows, schema)`
    * keeps per array element. The encoder drops column metadata; the
    * select puts it back. */
  private[graft] def onDriver(m: DataFrame): DataFrame =
    m.sparkSession.createDataset(m.collect().toSeq)(
        org.apache.spark.sql.Encoders.row(m.schema))
      .select(m.schema.map(f => col(f.name).as(f.name, f.metadata)): _*)

  // ---------------------------------------------------------- plan pruning

  /** Trigram fingerprints a segment must contain for this predicate value
    * to possibly appear under column c; None = cannot prune on this leaf. */
  private[graft] def valueFingerprints(c: String, v: String): Option[Seq[Long]] = {
    val s = v.toLowerCase
    // Coercion-unsafe values are unprunable. EQ compiles to a coercing
    // ===, so any value the column type might canonicalize before
    // comparing can match stored text whose trigrams differ from the
    // query literal's:
    //  - numeric-looking: a long column 1234 matches the value "1234.0";
    //  - date/timestamp-looking: a date column matches "2026-1-1"
    //    against rows fingerprinted as "2026-01-01".
    // The date guard is shape-based (digits + date separators only) —
    // conservative, and never fires for ordinary tag values.
    val dateLike = s.nonEmpty && s.exists(_.isDigit) &&
      s.forall(c => c.isDigit || " -/:.tz+".contains(c))
    // 'Σ' lowercases by context (σ inside a word, ς at its end): a
    // substring's own end need not be the stored value's
    if (s.length < 3 || s.toDoubleOption.isDefined || dateLike ||
        v.contains('Σ')) None
    else Some(
      (0 to s.length - 3).map { i =>
        val g = s.substring(i, i + 3)
        // mirror of fingerprints: xxhash64(column, trigram), seed 42
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(g),
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(c),
            org.apache.spark.sql.types.StringType, 42L))
      }.distinct)
  }

  /** Trigram requirement for a regex: an AND/OR tree over literal runs
    * every matching string must contain. `Free` = no constraint. */
  sealed private[graft] trait TriReq
  private[graft] object TriReq {
    case class Lit(s: String) extends TriReq
    case class All(xs: Seq[TriReq]) extends TriReq
    case class AnyOf(xs: Seq[TriReq]) extends TriReq
    case object Free extends TriReq
    def all(xs: Seq[TriReq]): TriReq = {
      val f = xs.filter(_ != Free).flatMap {
        case All(ys) => ys // flatten nested conjunctions
        case other => Seq(other)
      }
      if (f.isEmpty) Free else if (f.size == 1) f.head else All(f)
    }
    def anyOf(xs: Seq[TriReq]): TriReq =
      if (xs.contains(Free) || xs.isEmpty) Free
      else {
        val f = xs.flatMap {
          case AnyOf(ys) => ys // flatten nested disjunctions
          case other => Seq(other)
        }
        if (f.size == 1) f.head else AnyOf(f)
      }
  }

  /** Compile a regex into its [[TriReq]] — the required-literal set
    * algebra of the reference's trigram regex compiler
    * (NLPUtils.scala:54-153 literal extraction; 155-187 Op-3 AND/OR set
    * algebra — alternation branches OR their trigram sets, sequences AND
    * them). Unsupported constructs (classes, shorthands, lookaround,
    * dots) become `Free` atoms that break literal runs; `*`/`?`/`{0,…}`
    * drop the preceding atom; `+` keeps it with a run break after;
    * `{m,…}` with m >= 1 repeats a literal atom m (capped at 5) times.
    * Malformed regexes yield `Free` (no pruning — sound; the query
    * itself will surface the regex error). */
  private[graft] def requiredTrigrams(regex: String): TriReq = {
    import TriReq._
    val n = regex.length
    val MaxFamily = 16
    object Bail extends RuntimeException

    /** A parsed fragment: the sound requirement, plus — when the
      * fragment's match language is EXACTLY a small finite string set —
      * that set (Cox's "exact" component, regexp4.html §Transformation).
      * The exact set lets a GROUP participate in literal-run merging, so
      * `ab(cd|ef)gh` requires {abcdgh, abefgh} instead of nothing: the
      * concatenation/alternation product over required runs the
      * reference's trigram compiler builds (NLPUtils.scala:54-153).
      * A SUPERSET of the true language is sound here (requirements are
      * AnyOf over members, so extra members only weaken); a subset is
      * not, so anything inexact propagates None. */
    case class Frag(req: TriReq, exact: Option[Seq[String]])

    def parseGroup(open: Int): (Frag, Int) = {
      def body(start: Int): (Frag, Int) = {
        val (f, k) = parseAlt(start)
        if (k >= n || regex.charAt(k) != ')') throw Bail
        (f, k + 1)
      }
      def skipBalanced(): (Frag, Int) = {
        // lookaround / bare inline flags / comment groups: no info
        var depth = 1
        var k = open + 1
        while (k < n && depth > 0) {
          regex.charAt(k) match {
            case '\\' => k += 1
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          k += 1
        }
        if (depth > 0) throw Bail
        (Frag(Free, None), k)
      }
      if (open + 1 < n && regex.charAt(open + 1) == '?') {
        val c2 = if (open + 2 < n) regex.charAt(open + 2) else '\u0000'
        c2 match {
          case ':' => body(open + 3)
          // atomic group: its language ⊆ the body's, so the body's
          // requirement is sound and its exact set a sound superset
          case '>' => body(open + 3)
          // positive lookahead (?=X): zero-width, but X must MATCH
          // starting at this position, so any document matching the
          // overall regex contains a match of X — X's required trigrams
          // prune soundly. Zero-width means it consumes nothing: never
          // exact, never joins a literal run. Negative lookahead/NOT
          // stay conservative (skipBalanced → Free), the reference
          // planner's posture (NLPUtils.scala:54-153).
          case '=' =>
            val (f, k) = body(open + 3)
            (Frag(f.req, None), k)
          // positive lookbehind (?<=X): same argument ending at this
          // position — X matched somewhere in the document, so its
          // required trigrams prune; (?<! stays Free
          case '<' if open + 3 < n && regex.charAt(open + 3) == '=' =>
            val (f, k) = body(open + 4)
            (Frag(f.req, None), k)
          // named capture (?<name>…) — but NOT lookbehind (?<= / (?<!
          case '<' if open + 3 < n && regex.charAt(open + 3) != '=' &&
              regex.charAt(open + 3) != '!' =>
            val gt = regex.indexOf('>', open + 3)
            if (gt < 0) throw Bail
            body(gt + 1)
          case _ =>
            // inline flags, bare (?idmsuxU-…) or with a body (?…:X).
            // Turning on x (whitespace and # comments are not literal
            // text), u or U (Unicode case folding: (?iu)ſ matches "s",
            // which lowercased trigrams cannot mirror) makes literal
            // chars untrustworthy: a body is skipped, and a bare group
            // — its flags hold for the rest of the pattern — bails
            val end = regex.indexWhere(ch => ch == ':' || ch == ')', open + 2)
            val spec = if (end < 0) "" else regex.substring(open + 2, end)
            val unsafe = spec.takeWhile(_ != '-').exists("xuU".contains(_))
            if (spec.isEmpty || !spec.forall("idmsuxU-".contains(_)))
              skipBalanced()
            else (unsafe, regex.charAt(end)) match {
              case (false, ':') => body(end + 1)
              case (false, _) => (Frag(Free, None), end + 1)
              case (true, ':') => skipBalanced()
              case (true, _) => throw Bail
            }
        }
      } else body(open + 1)
    }

    def parseAlt(start: Int): (Frag, Int) = {
      val branches = Seq.newBuilder[Frag]
      var (f, i) = parseSeq(start)
      branches += f
      while (i < n && regex.charAt(i) == '|') {
        val (f2, j) = parseSeq(i + 1)
        branches += f2
        i = j
      }
      val bs = branches.result()
      val exact =
        if (bs.forall(_.exact.isDefined)) {
          val u = bs.flatMap(_.exact.get).distinct
          if (u.size <= MaxFamily) Some(u) else None
        } else None
      (Frag(anyOf(bs.map(_.req)), exact), i)
    }
    // Literal FAMILIES (Cox, "Regular Expression Matching with a Trigram
    // Index", swtch.com/~rsc/regexp/regexp4.html): an atom contributes a
    // small set of alternative literal strings; adjacent families merge
    // by cross product, so gr[ae]y requires (gray OR grey) and colou?r
    // requires (color OR colour) instead of breaking the run at the
    // class/optional. Caps keep the product bounded; overflowing a cap
    // flushes the current family (weaker requirement — always sound).
    def parseSeq(start: Int): (Frag, Int) = {
      val atoms = scala.collection.mutable.ArrayBuffer[Either[Seq[String], TriReq]]()
      var i = start

      /** [c1c2…] with only plain positive members or small ranges
        * (span ≤ 4, e.g. [a-d], [0-3]) → their expansion; anything else
        * (negation, open-ended ranges, nesting, &&, escapes) → None. */
      def simpleClass(open: Int): Option[(Seq[String], Int)] = {
        var j = open + 1
        val members = Seq.newBuilder[String]
        var count = 0
        def add(c: Char): Option[Unit] = {
          members += c.toString; count += 1
          if (count > 4) None else Some(())
        }
        while (j < n && regex.charAt(j) != ']') {
          val c = regex.charAt(j)
          if ("^&[\\".indexOf(c) >= 0) return None
          if (c == '-') return None // leading/trailing dash: keep it simple
          if (j + 2 < n && regex.charAt(j + 1) == '-' &&
              regex.charAt(j + 2) != ']') {
            val hi = regex.charAt(j + 2)
            if ("^&[\\-".indexOf(hi) >= 0 || hi < c || hi - c > 3) return None
            var r = c
            while (r <= hi) { if (add(r).isEmpty) return None; r = (r + 1).toChar }
            j += 3
          } else {
            if (add(c).isEmpty) return None
            j += 1
          }
        }
        if (j >= n || count == 0) None else Some((members.result().distinct, j + 1))
      }

      while (i < n && regex.charAt(i) != '|' && regex.charAt(i) != ')') {
        // one atom
        val atom: Either[Seq[String], TriReq] = regex.charAt(i) match {
          case '(' =>
            val (f, k) = parseGroup(i); i = k
            // a group whose language is a small exact set joins the
            // literal-run merge like a class family; anything inexact
            // contributes its requirement and breaks the run
            f.exact match {
              case Some(fam) if fam.nonEmpty => Left(fam)
              case _ => Right(f.req)
            }
          case '\\' if i + 1 < n && regex.charAt(i + 1) == 'Q' =>
            // \Q…\E quotes everything in between literally (Java: a
            // missing \E quotes to the end of the pattern). A quantifier
            // after \E applies to the LAST quoted char ONLY (\Qab\E?
            // matches "a"), so when one follows a multi-char quote the
            // prefix is emitted as its own required run and only the
            // final char enters the generic quantifier handling below —
            // treating the whole quote as the quantified atom would
            // demand literals ("ab") that a real match ("a") lacks.
            val close = regex.indexOf("\\E", i + 2)
            val content =
              if (close < 0) { val c = regex.substring(i + 2); i = n; c }
              else { val c = regex.substring(i + 2, close); i = close + 2; c }
            if (content.length >= 2 && i < n &&
                "?*+{".indexOf(regex.charAt(i)) >= 0) {
              atoms += Left(Seq(content.init))
              Left(Seq(content.last.toString))
            } else Left(Seq(content))
          case '\\' =>
            if (i + 1 >= n) throw Bail
            val c = regex.charAt(i + 1)
            // escapes with a multi-char OPERAND (\x41 \0101 \cJ
            // \p{L} \k<g> \N{..}): treating the operand chars as literal
            // text would demand trigrams a matching string need not
            // contain — bail (no pruning) rather than prune unsoundly
            if ("xucpPkNE0".indexOf(c) >= 0) throw Bail
            i += 2
            // \d \w \s \b … match unknown text; escaped metachar is literal
            if (Character.isLetterOrDigit(c)) Right(Free)
            else Left(Seq(c.toString))
          case '[' =>
            simpleClass(i) match {
              case Some((members, k)) => i = k; Left(members)
              case None =>
                // general classes nest in Java regex ([a[b]c], [a&&[^b]])
                // — track depth so the tail of a nested class is not
                // parsed as literal text (false trigram requirements)
                var j = i + 1
                var depth = 1
                if (j < n && regex.charAt(j) == '^') j += 1
                if (j < n && regex.charAt(j) == ']') j += 1
                while (j < n && depth > 0) {
                  regex.charAt(j) match {
                    case '\\' => j += 1
                    case '[' => depth += 1
                    case ']' => depth -= 1
                    case _ =>
                  }
                  j += 1
                }
                if (depth != 0) throw Bail
                i = j; Right(Free)
            }
          case '.' | '^' | '$' => i += 1; Right(Free)
          case '*' | '?' | '+' | '{' => throw Bail // dangling quantifier
          case c => i += 1; Left(Seq(c.toString))
        }
        // quantifier (with optional reluctant/possessive suffix)
        if (i < n) regex.charAt(i) match {
          case '?' =>
            i += 1
            if (i < n && (regex.charAt(i) == '?' || regex.charAt(i) == '+')) i += 1
            atom match {
              // optional literal: add the empty alternative and keep
              // merging (colou?r → {color, colour}); oversized → break
              case Left(alts) if alts.size < MaxFamily =>
                atoms += Left("" +: alts)
              case _ => atoms += Right(Free)
            }
          case '*' =>
            i += 1
            if (i < n && (regex.charAt(i) == '?' || regex.charAt(i) == '+')) i += 1
            atoms += Right(Free) // atom optional; break the run
          case '+' =>
            i += 1
            if (i < n && (regex.charAt(i) == '?' || regex.charAt(i) == '+')) i += 1
            atoms += atom
            atoms += Right(Free) // repeats detach the following run
          case '{' =>
            val j = regex.indexOf('}', i)
            if (j < 0) throw Bail
            val body = regex.substring(i + 1, j)
            val comma = body.indexOf(',')
            val (minS, maxS) =
              if (comma < 0) (body, body)
              else (body.substring(0, comma), body.substring(comma + 1))
            if (minS.isEmpty || !minS.forall(_.isDigit) ||
              !(maxS.isEmpty || maxS.forall(_.isDigit))) throw Bail
            i = j + 1
            if (i < n && (regex.charAt(i) == '?' || regex.charAt(i) == '+')) i += 1
            val m = minS.toInt
            if (m == 0) atoms += Right(Free)
            else {
              atom match {
                case Left(alts) =>
                  // m exact copies via capped cross product ([ab]{3} →
                  // 8 strings); overflow falls back to fewer copies
                  var acc = alts
                  var copies = 1
                  while (copies < math.min(m, 5) &&
                      acc.size * alts.size <= MaxFamily) {
                    acc = for (a <- acc; b <- alts) yield a + b
                    copies += 1
                  }
                  atoms += Left(acc.distinct)
                  // an INCOMPLETE enumeration (copies < m) matches the
                  // FIRST copies of the real text, so it may merge with
                  // the preceding run but must break before the next:
                  // x[ab]{7}y with both sides merged would demand a
                  // 4-copy block adjacent to x AND y that a 7-copy match
                  // need not contain
                  if (copies < m) atoms += Right(Free)
                case r => atoms += r // a group repeated imposes the same requirement
              }
              if (maxS != minS) atoms += Right(Free)
            }
          case _ => atoms += atom
        }
        else atoms += atom
      }
      // coalesce adjacent literal families by cross product; Free/group
      // atoms (and cap overflows) break the run
      val parts = Seq.newBuilder[TriReq]
      var runSet: Seq[String] = Seq("")
      def flushRun(): Unit = {
        // a member CONTAINING another member is dominated: its trigram
        // set is a superset, so the AnyOf is decided by the smaller one
        // alone ((foo|bar)?baz → {baz, foobaz, barbaz} ≡ {baz}) — drop
        // it for a smaller, equivalent manifest predicate
        val dist = runSet.distinct
        val fam = dist.filterNot(m => dist.exists(o => o != m && m.contains(o)))
        // a requirement only exists if EVERY alternative carries a
        // trigram — one short/empty member makes the family vacuous
        if (fam.forall(_.length >= 3)) parts += anyOf(fam.map(Lit(_)))
        runSet = Seq("")
      }
      atoms.foreach {
        case Left(alts) =>
          val cand = (for (r <- runSet; a <- alts) yield r + a).distinct
          if (cand.size > MaxFamily) { flushRun(); runSet = alts.distinct }
          else runSet = cand
        case Right(r) => flushRun(); parts += r
      }
      flushRun()
      // the sequence is exact iff every atom is a literal family and
      // the full cross product stays within the cap (a Right atom —
      // wildcard, unbounded repeat, inexact group — loses exactness)
      val exact = atoms.foldLeft(Option(Seq(""))) {
        case (Some(acc), Left(alts)) =>
          val p = (for (a <- acc; b <- alts) yield a + b).distinct
          if (p.size <= MaxFamily) Some(p) else None
        case _ => None
      }
      (Frag(all(parts.result()), exact), i)
    }
    try {
      val (f, end) = parseAlt(0)
      if (end != n) TriReq.Free else f.req // stray ')': sound no-info
    } catch { case Bail => TriReq.Free }
  }

  /** Flat view of [[requiredTrigrams]]: literal runs that are required
    * unconditionally (AND-reachable; alternation branches excluded).
    * Runs shorter than 3 chars carry no trigram. */
  private[graft] def requiredLiterals(regex: String): Seq[String] = {
    def flat(r: TriReq): Seq[String] = r match {
      case TriReq.Lit(s) => Seq(s)
      case TriReq.All(xs) => xs.flatMap(flat)
      case _ => Seq.empty
    }
    flat(requiredTrigrams(regex)).filter(_.length >= 3)
  }

  /** Prune the manifest to the files a query over [startMs, endMs) with
    * `clause` could need: segments overlapping the window whose manifest
    * row passes [[ManifestFileIndex.mayMatch]] for every filter that
    * scan planning would push for `clause` (see [[pushedFilters]]). So
    * this list and a [[ManifestFileIndex]] relation's scan keep the same
    * files for the same clause. Reads the manifest only, never segment
    * data. */
  def prune(manifest: DataFrame, clause: Option[QueryClause],
      indexed: Set[String], startMs: Long, endMs: Long): Seq[String] = {
    val may = clause.toSeq
      .flatMap(pushedFilters(manifest.sparkSession, _))
      .map(ManifestFileIndex.mayMatch(_, indexed, time = None))
    ManifestFileIndex.segmentsOf(manifest)
      .filter(s => s.maxTs >= startMs && s.minTs < endMs && may.forall(_(s)))
      .map(_.file).sorted
  }

  /** The filter Catalyst would push to [[ManifestFileIndex.listFiles]]
    * for `clause`: compiled by [[FilterCompiler]] over string columns,
    * then resolved and optimized as scan planning delivers it — a long IN
    * arrives as `InSet`, double negations cancel. (A Column DSL tree
    * before analysis holds unresolved nodes, not this shape.) Extracted
    * and computed fields are not columns of the segment files: each gets
    * a column of its own outside `indexed`, so it never prunes and the
    * optimizer cannot fold it away. The empty frame is RDD-backed, so
    * the optimizer cannot evaluate the filter away either. */
  private def pushedFilters(spark: SparkSession,
      clause: QueryClause): Seq[Expression] = {
    def source(c: QueryClause): QueryClause = c match {
      case f: Filter if f.extracted || f.computed =>
        f.copy(k = s"\u0000${f.k}", extracted = false, computed = false)
      case f: Filter => f
      case BinaryClause(a, b, op) => BinaryClause(source(a), source(b), op)
      case NotClause(q) => NotClause(source(q))
    }
    val src = source(clause)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(src.fields.toSeq.sorted.map(StructField(_, StringType))))
    empty.where(FilterCompiler.compile(src, src.fields))
      .queryExecution.optimizedPlan.collectFirst {
        case logical.Filter(cond, _) => cond
      }.toSeq
  }
}
