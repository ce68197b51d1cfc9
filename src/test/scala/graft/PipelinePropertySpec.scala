package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Sampling}

/** Property tests for the round-3 pipeline operators: each distributed
  * implementation is compared against an independent single-node
  * reference evaluation on randomized corpora (fixed ScalaCheck seeds —
  * reproducible failures).
  */
class PipelinePropertySpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // small-vocab random corpora make span/shingle collisions likely —
  // the interesting regime for dedup operators
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
  private val docGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 23)
    toks <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield toks.mkString(" ")

  private def corpus(seed: Long, nDocs: Int): Seq[(Long, String)] = {
    val g = Gen.listOfN(nDocs, docGen)
    g.apply(Gen.Parameters.default, Seed(seed)).get
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  // single-node reference: the same tiling + first-global-occurrence rule
  private def spanDedupRef(docs: Seq[(Long, String)], w: Int)
      : Map[Long, (Long, Long, String)] = {
    val spans = docs.flatMap { case (id, text) =>
      val toks = text.trim.split("\\s+").toSeq
      val n = (toks.size + w - 1) / w
      (0 until n).map(i => (id, i.toLong, toks.slice(i * w, i * w + w).mkString(" ")))
    }
    val firstSeen = scala.collection.mutable.Map[String, (Long, Long)]()
    spans.sortBy(s => (s._1, s._2)).foreach { case (id, idx, sp) =>
      if (!firstSeen.contains(sp)) firstSeen(sp) = (id, idx)
    }
    spans.groupBy(_._1).map { case (id, ss) =>
      val kept = ss.filter { case (i, idx, sp) => firstSeen(sp) == ((i, idx)) }
        .sortBy(_._2)
      id -> ((ss.size.toLong, kept.size.toLong, kept.map(_._3).mkString(" ")))
    }
  }

  test("spanDedup equals the single-node reference on random small-vocab corpora") {
    for (seed <- 1L to 4L) {
      val docs = corpus(seed, 40)
      val got = Dedup.spanDedup(docs.toDF("doc_id", "text"), "doc_id", "text",
          spanTokens = 3)
        .select("id", "n_spans", "n_kept", "text_kept")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === spanDedupRef(docs, 3), s"seed=$seed")
    }
  }

  test("crossNearDuplicates: exact precision, and recall == brute force on high-J pairs") {
    // jaccard over word-3-shingle string sets, single-node
    def shingles(text: String): Set[String] = {
      val toks = text.trim.split("\\s+").toSeq
      if (toks.size <= 3) Set(toks.mkString(" "))
      else (0 to toks.size - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    def jacc(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty && b.isEmpty) 1.0
      else a.intersect(b).size.toDouble / a.union(b).size
    for (seed <- 10L to 12L) {
      val base = corpus(seed, 20)
      // history = originals; batch = near-identical copies (one token
      // appended) with offset ids + fresh unrelated docs
      val hist = base
      val batch = base.take(8).map { case (id, t) => (id + 100, t + " alpha") } ++
        corpus(seed + 50, 8).map { case (id, t) => (id + 200, t) }
      val got = Dedup.crossNearDuplicates(
          batch.toDF("doc_id", "text"), hist.toDF("doc_id", "text"),
          "doc_id", "text", numHashes = 128, bands = 32, threshold = 0.7)
        .select("id_new", "id_hist", "jaccard")
        .as[(Long, Long, Double)].collect()
      val histSh = hist.map { case (id, t) => id -> shingles(t) }.toMap
      val batchSh = batch.map { case (id, t) => id -> shingles(t) }.toMap
      // precision: every emitted pair really has J >= 0.7, with the right J
      got.foreach { case (n, h, j) =>
        val want = jacc(batchSh(n), histSh(h))
        assert(want >= 0.7 && math.abs(want - j) < 1e-9, s"seed=$seed pair=($n,$h)")
      }
      // recall at high J: the planted copies (J typically >= 0.8 against
      // their originals) must all be found
      val planted = for {
        (bid, bsh) <- batchSh.toSeq; (hid, hsh) <- histSh
        if jacc(bsh, hsh) >= 0.85
      } yield (bid, hid)
      val gotPairs = got.map(p => (p._1, p._2)).toSet
      planted.foreach { p =>
        assert(gotPairs.contains(p), s"seed=$seed missed high-J pair $p")
      }
    }
  }

  test("connectedComponentsStar equals label propagation on random graphs") {
    // random sparse graphs + the pathological shapes: chains (max
    // diameter — the case the star algorithm exists for) and stars
    val rng = new scala.util.Random(42)
    val cases: Seq[Seq[(Long, Long)]] = Seq(
      // random: 60 nodes, 45 random edges
      Seq.fill(45)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
        .filter { case (a, b) => a != b },
      // two long chains (diameter ~50) + an isolated edge
      (0L until 49L).map(i => (i, i + 1)) ++
        (100L until 150L).map(i => (i, i + 1)) :+ (999L, 998L),
      // hub star with duplicate + reversed edges
      (1L to 30L).flatMap(i => Seq((0L, i), (i, 0L))),
      // single edge
      Seq((7L, 3L)),
      // self-loop-only node beside a real edge: 7 must come back as its
      // own singleton cluster, same as label propagation
      Seq((7L, 7L), (1L, 2L)))
    for ((edges, i) <- cases.zipWithIndex) {
      val pairs = edges.toDF("id_a", "id_b")
      val star = Dedup.connectedComponentsStar(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prop = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == prop, s"case $i: star $star vs propagation $prop")
    }
  }

  test("upsampleToWeights matches the per-row closed form") {
    for (seed <- 20L to 22L) {
      val docs = corpus(seed, 60).zipWithIndex.map { case ((id, t), i) =>
        (id, t, s"s${i % 3}")
      }
      val df = docs.toDF("doc_id", "text", "src")
      val weights = Map("s0" -> 0.5, "s1" -> 0.25, "s2" -> 0.25)
      val got = Sampling.upsampleToWeights(df, "src", weights,
          Sampling.mix32(col("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
      val wSum = weights.values.sum
      val nBy = docs.groupBy(_._3).view.mapValues(_.size.toDouble).toMap
      val tot = nBy.values.sum
      def mix(k: Long) = ((k % 2147483648L) * 2654435761L) % 4294967296L
      docs.foreach { case (id, _, srcK) =>
        val r = weights(srcK) / wSum * tot / nBy(srcK)
        val base = math.floor(r).toLong
        val fcut = math.floor((r - math.floor(r)) * 4294967296.0).toLong
        val want = base + (if (mix(id) < fcut) 1L else 0L)
        assert(got.getOrElse(id, 0L) === want, s"seed=$seed id=$id")
      }
    }
  }

  test("globalShuffle is a stable bijection on random corpora") {
    for (seed <- 30L to 31L) {
      val ids = corpus(seed, 80).map(_._1 * 7 + 3) // non-contiguous keys
      val df = ids.toDF("id")
      val out = Sampling.globalShuffle(df, "id", numShards = 5,
          score = Sampling.mix32(col("id")))
        .select("id", "shard", "pos").as[(Long, Long, Long)].collect()
      assert(out.map(_._1).sorted === ids.sorted.toArray)
      out.groupBy(_._2).foreach { case (_, g) =>
        assert(g.map(_._3).sorted === (0L until g.length.toLong).toArray)
      }
    }
  }

  test("d14's PassJoin segment blocking is COMPLETE: any 40-char pair " +
    "within 10 edits shares an aligned segment (randomized edits)") {
    // the pigeonhole d14 relies on: 11 segments, <= 10 edits, so some
    // segment of s survives untouched — and because both strings are
    // EXACTLY 40 chars, any <= K transcript has #ins == #del <= K/2,
    // so the surviving segment appears in t shifted by at most K/2
    // (the r13 probe-window tightening; this test pins the bound)
    val L = 40
    val K = 10
    val S = K / 2
    val nSeg = K + 1
    val segBounds = (0 until nSeg).map { i =>
      val st = i * L / nSeg
      (st, (i + 1) * L / nSeg - st)
    }
    def blocked(sStr: String, t: String): Boolean =
      segBounds.exists { case (st, ln) =>
        val seg = sStr.substring(st, st + ln)
        (math.max(0, st - S) to math.min(L - ln, st + S)).exists(p =>
          t.substring(p, p + ln) == seg)
      }
    val rnd = new scala.util.Random(11)
    var checked = 0
    for (_ <- 0 until 2000) {
      val s = Array.fill(L)(('a' + rnd.nextInt(6)).toChar)
      var t = s.toBuffer
      var ops = 0
      val nOps = rnd.nextInt(K + 1)
      for (_ <- 0 until nOps) {
        rnd.nextInt(3) match {
          case 0 => t(rnd.nextInt(t.length)) =
            ('a' + rnd.nextInt(6)).toChar
          case 1 => t.insert(rnd.nextInt(t.length + 1),
            ('a' + rnd.nextInt(6)).toChar)
          case 2 if t.nonEmpty => t.remove(rnd.nextInt(t.length))
          case _ =>
        }
        ops += 1
      }
      // restore length 40 with counted edits; keep only ed <= K cases
      while (t.length < L) { t.append(('a' + rnd.nextInt(6)).toChar); ops += 1 }
      while (t.length > L) { t.remove(t.length - 1); ops += 1 }
      if (ops <= K) {
        assert(blocked(new String(s), t.mkString),
          s"missed pair within $ops edits: ${new String(s)} vs ${t.mkString}")
        checked += 1
      }
    }
    assert(checked > 500)
    // and the blocking is not vacuous: two unrelated random strings
    // from a larger alphabet almost never share an aligned segment
    val misses = (0 until 200).count { _ =>
      val a = Array.fill(L)(('a' + rnd.nextInt(26)).toChar)
      val b = Array.fill(L)(('a' + rnd.nextInt(26)).toChar)
      !blocked(new String(a), new String(b))
    }
    assert(misses > 190, s"blocking matched $misses/200 random pairs")
  }

  test("d14's candidate funnel caps a boilerplate-degenerate key " +
    "LOUDLY: counter fires, candidate volume stays bounded") {
    // 30 docs sharing an IDENTICAL 40-char prefix: every (lang,
    // segment) blocking key is shared by all docs, so the uncapped
    // join would emit O(n²) candidates per key — the silent
    // quadratification class the cap exists for
    val dir = tempDir("graft_d14cap")
    val pfx = "the quick brown fox jumps over the lazy " // exactly 40
    assert(pfx.length === 40)
    val rows = (0 until 30).map { i =>
      val text = pfx + s"tail$i" * 3
      (i.toLong, text, "en", "s0", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
    Dedup.resetCapDropped(spark)
    val capped = graft.queries.PipelineQueries
      .d14Pairs(spark, dir, maxKeyMembers = 8).count()
    org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
    assert(Dedup.capDroppedLast(spark) > 0,
      "the per-key cap must report its drops")
    val uncapped = graft.queries.PipelineQueries
      .d14Pairs(spark, dir, maxKeyMembers = Int.MaxValue).count()
    assert(capped < uncapped,
      s"cap must bound the candidate stream ($capped vs $uncapped)")
    // and a benign corpus (distinct prefixes) must not fire the cap
    // or change the candidate stream at all — fresh dir: overwriting
    // the first one would race the session's cached file listing
    val dir2 = tempDir("graft_d14cap2")
    org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
    Dedup.resetCapDropped(spark)
    // doc pairs (2i, 2i+1) share a per-pair unique character: every
    // blocking bucket has exactly 2 members (under the cap), candidate
    // stream nonempty — and no cross-pair segment can ever collide
    val benign = (0 until 30).map { i =>
      val text = ('A' + i / 2).toChar.toString * 40 + s"tail$i"
      (i.toLong, text, "en", "s0", text.length.toLong)
    }
    benign.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val a = graft.queries.PipelineQueries
      .d14Pairs(spark, dir2, maxKeyMembers = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
    org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
    assert(Dedup.capDroppedLast(spark) === 0L,
      "a benign corpus must not trip the cap")
    val b = graft.queries.PipelineQueries
      .d14Pairs(spark, dir2, maxKeyMembers = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
    assert(a === b, "an un-fired cap must be the identity")
  }

  test("lshPlan: fewest bands meeting the recall floor; the classic " +
    "16x8 layout falls out of 128 hashes at t=0.8") {
    for (n <- Seq(64, 128, 256); t <- Seq(0.5, 0.7, 0.8, 0.9)) {
      val (b, r, _, recall) = Dedup.lshPlan(n, t)
      assert(b * r === n)
      assert(recall >= 0.9, s"n=$n t=$t recall $recall below floor")
      // minimality: every coarser divisor layout misses the floor
      (1 until b).filter(n % _ == 0).foreach { b2 =>
        val r2 = n / b2
        assert(1.0 - math.pow(1.0 - math.pow(t, r2), b2) < 0.9,
          s"n=$n t=$t: coarser b=$b2 also meets the floor")
      }
    }
    val (b, r, _, _) = Dedup.lshPlan(128, 0.8)
    assert(b === 16 && r === 8)
  }

  test("RollingHashWindows: rolling state equals a direct per-window " +
    "recompute, and hash-grouping equals text-grouping of windows") {
    import graft.functions.RollingHashWindows
    val B = 0x100000001b3L
    def mix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    // direct (non-rolling) reference: hash each substring from scratch
    def direct(s: String, w: Int): Seq[Long] =
      (0 to s.length - w).map { i =>
        mix(s.substring(i, i + w).foldLeft(0L)((h, c) => h * B + c))
      }
    val w = 7
    val texts = corpus(11L, 60).map(_._2) ++ Seq(
      "", "short", "ααββγγδδ εεζζ ηηθθ ιικκ λλμμ non-ascii χars",
      "aaaaaaaaaaaaaaaaaaaaaa") // degenerate repeats
    val got = texts.toDF("t")
      .select(RollingHashWindows(col("t"), w).as("hs"))
      .as[Seq[Long]].collect()
    texts.zip(got).foreach { case (t, hs) =>
      assert(hs === direct(t, w), s"text=$t")
    }
    // decision equivalence: on the whole corpus, equal window text ⟺
    // equal hash (the grouping d12's >=2-distinct-docs test runs on)
    val byHash = texts.flatMap(t =>
        (0 to t.length - w).map(i => (t.substring(i, i + w),
          direct(t, w)(i))))
      .groupBy(_._2).values
    byHash.foreach(g => assert(g.map(_._1).distinct.size === 1))
    val byText = texts.flatMap(t =>
      (0 to t.length - w).map(i => (t.substring(i, i + w), direct(t, w)(i))))
      .groupBy(_._1).values
    byText.foreach(g => assert(g.map(_._2).distinct.size === 1))
  }

  test("bfsHops is invariant under input repartitioning") {
    val edges = (0L until 40L).flatMap { i =>
      Seq((i, (i + 1) % 40), (i, (i + 7) % 40))
    }.toDF("src", "dst")
    val src = Seq(0L).toDF("id")
    def run(e: org.apache.spark.sql.DataFrame) =
      graft.operators.Graphs.bfsHops(e, src, maxHops = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(run(edges).sameElements(run(edges.repartition(13))))
  }
}
