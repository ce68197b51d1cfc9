package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Graphs, Retrieval, Splits}

class GraphsRetrievalSplitsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ----------------------------------------------------------- triangles

  test("triangleCounts: K5 has C(5,3)=10 triangles, 6 per node") {
    val nodes = (0L to 4L).toDF("id")
    val edges = (for (a <- 0L to 4L; b <- 0L to 4L if a < b)
      yield (a, b)).toDF("src", "dst")
    val r = Graphs.triangleCounts(nodes, edges)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == (0L to 4L).map(_ -> 6L).toMap)
  }

  test("triangleCounts: canonicalizes duplicates/reverses/self-loops; " +
    "isolated nodes report 0") {
    val nodes = (0L to 4L).toDF("id")
    // one triangle {0,1,2} given with duplicate, reversed and self edges
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (0L, 2L), (2L, 0L),
      (3L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graphs.triangleCounts(nodes, edges)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 0L))
  }

  test("triangleCounts is invariant under repartitioning") {
    val nodes = (0L until 60L).toDF("id")
    val edges = (0L until 60L).flatMap { i =>
      Seq((i, (i + 1) % 60), (i, (i + 7) % 60), (i, (i + 8) % 60))
    }.toDF("src", "dst")
    val a = Graphs.triangleCounts(nodes, edges)
      .collect().map(x => (x.getLong(0), x.getLong(1))).sorted
    val b = Graphs.triangleCounts(nodes.repartition(7), edges.repartition(13))
      .collect().map(x => (x.getLong(0), x.getLong(1))).sorted
    assert(a.sameElements(b))
    // (i, i+1, i+8) and (i, i+7, i+8) close for every i → 120 triangles
    assert(a.map(_._2).sum == 3 * 120L)
  }

  // ------------------------------------------------------------ pagerank

  test("pageRank on a 2-cycle keeps exactly uniform ranks") {
    val nodes = Seq(0L, 1L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val r = Graphs.pageRank(nodes, edges, iterations = 5)
      .orderBy("id").as[(Long, Long, Double)].collect()
    // symmetric graph, and the fixed-point arithmetic is exact here:
    // 500000000 units -> teleport 75e6 + 850*5e8 div 1000 = 5e8 again
    assert(r.toSeq == Seq((0L, 500000000L, 0.5), (1L, 500000000L, 0.5)))
  }

  test("pageRank matches a single-node fixed-point reference iteration") {
    // 0->1, 0->2, 1->2, 2->0, 3->2 (3 has no in-links)
    val nodes = (0L to 3L).toDF("id")
    val edgeList = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L))
    val edges = edgeList.toDF("src", "dst")
    val got = Graphs.pageRank(nodes, edges, iterations = 4)
      .orderBy("id").as[(Long, Long, Double)].collect()
      .map(t => t._1 -> t._2).toMap

    // replay the documented fixed-point convention exactly
    val n = 4L
    val init = Graphs.Scale / n
    val teleport = init * 150L / 1000L
    val outDeg = edgeList.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank = (0L to 3L).map(_ -> init).toMap
    for (_ <- 1 to 4) {
      val in = edgeList.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => rank(e._1) / outDeg(e._1)).sum
      }
      rank = rank.keys.map { id =>
        id -> (teleport + 850L * in.getOrElse(id, 0L) / 1000L)
      }.toMap
    }
    assert(got == rank)
    // sanity: the sink-heavy node 2 outranks the unlinked node 3
    assert(got(2L) > got(3L))
  }

  test("pageRank honors parallel edges and guards bad args") {
    val nodes = Seq(0L, 1L).toDF("id")
    // double edge 0->1 vs single: both of 0's contributions flow to 1
    val e = Seq((0L, 1L), (0L, 1L), (1L, 0L)).toDF("src", "dst")
    val r = Graphs.pageRank(nodes, e, iterations = 1)
      .orderBy("id").as[(Long, Long, Double)].collect()
      .map(t => t._1 -> t._2).toMap
    // node1 in-mass = 2 * (5e8 div 2) = 5e8 -> same as one full edge
    assert(r(1L) == 75000000L + 850L * 500000000L / 1000L)
    intercept[IllegalArgumentException] {
      Graphs.pageRank(nodes, e, iterations = 0)
    }
  }

  // ------------------------------------------------------------ bm25

  test("bm25 ranks the term-dense short document first") {
    val docs = Seq(
      (1L, "spark query engine query"),
      (2L, "spark " + ("filler " * 50).trim),
      (3L, "unrelated words only here"),
      (4L, "query")).toDF("doc_id", "text")
    val r = Retrieval.bm25(docs, "doc_id", "text", Seq("query", "spark"), k = 10)
      .as[(Long, Long, Long, Double)].collect()
    // doc3 has no query term -> absent
    assert(!r.map(_._1).contains(3L))
    // doc1 (both terms, short) beats doc2 (one term, long) and doc4
    assert(r.head._1 == 1L)
    assert(r.map(_._1).toSet == Set(1L, 2L, 4L))
    val d1 = r.find(_._1 == 1L).get
    assert(d1._2 == 4L && d1._3 == 2L) // n_tok, n_hit
  }

  test("bm25 is deterministic under repartitioning") {
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("w"), (col("id") % 17).cast("string"),
        lit(" common common w"), (col("id") % 5).cast("string")).as("text"))
    val a = Retrieval.bm25(docs, "doc_id", "text", Seq("common", "w3"), k = 15)
      .collect().toSeq
    val b = Retrieval.bm25(docs.repartition(13), "doc_id", "text",
      Seq("common", "w3"), k = 15).collect().toSeq
    assert(a == b)
  }

  // ------------------------------------------------------------ splits

  test("groupSplit assigns whole groups and is engine-replayable") {
    val df = spark.range(300).select(col("id"),
      concat(lit("dom"), (col("id") % 23).cast("string")).as("site"))
    val out = Splits.groupSplit(df, "site", trainPermille = 700,
      valPermille = 150)
    // every site maps to exactly one split (leakage-free)
    val perSite = out.groupBy("site")
      .agg(countDistinct(col("split")).as("k"))
      .select("k").as[Long].collect()
    assert(perSite.forall(_ == 1L))
    assert(out.count() == 300)
    // replay one hash by hand: fold(h*31+ascii) mod 2^31, knuth-mixed
    val h = "dom7".foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 2147483648L)
    val bucket = (h * 2654435761L) % 4294967296L % 1000L
    val expected = if (bucket < 700) "train"
      else if (bucket < 850) "val" else "test"
    val got = out.where(col("site") === "dom7")
      .select("split").distinct().as[String].head()
    assert(got == expected)
    intercept[IllegalArgumentException] {
      Splits.groupSplit(df, "site", trainPermille = 990, valPermille = 20)
    }
  }

  // ------------------------------------------------------------ BFS

  test("iterative loops under spark.graft.checkpointDir use reliable " +
    "checkpoint() and produce identical results (fleet-safe lineage cut)") {
    // default posture: localCheckpoint (executor-pinned, not fault-
    // tolerant). With the dir set, Lineage.cut switches every loop round
    // to reliable checkpoint() — same results, RDD files materialized in
    // the dir (the evidence the durable path actually ran).
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val nodes = (0L to 9L).toDF("id")
    val src = Seq(0L).toDF("id")
    val bfsLocal = Graphs.bfsHops(edges, src, maxHops = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val prLocal = Graphs.pageRank(nodes, edges, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val dir = tempDir("graft_ckpt")
    spark.conf.set(graft.operators.Lineage.CheckpointDirKey, dir)
    try {
      val bfsDurable = Graphs.bfsHops(edges, src, maxHops = 9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val prDurable = Graphs.pageRank(nodes, edges, iterations = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(bfsDurable.sameElements(bfsLocal))
      assert(prDurable.sameElements(prLocal))
      def rddDirs(): Seq[String] = {
        def walk(f: java.io.File): Seq[java.io.File] = {
          val cs = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
          cs ++ cs.filter(_.isDirectory).flatMap(walk)
        }
        walk(new java.io.File(dir)).filter(_.isDirectory)
          .map(_.getName).filter(_.startsWith("rdd-"))
      }
      assert(rddDirs().nonEmpty, s"no reliable checkpoint files under $dir")
      // CLEANUP (ADVICE r9): superseded rounds are deleted as the loop
      // progresses; only the RESULT-backing checkpoints survive the
      // scope (deleted at application end). bfs(9 hops) cuts 19 frames
      // and pageRank(3 iters) 4 — without cleanup 23 rdd-* dirs would
      // remain; with it exactly one per loop.
      assert(rddDirs().size == 2,
        s"expected 2 surviving checkpoints (one per loop result), " +
        s"got ${rddDirs().size}: ${rddDirs().sorted}")
      assert(graft.operators.Lineage.pendingAppEnd(spark) >= 2,
        "result checkpoints not registered for application-end deletion")
      // connected components under the durable dir: same contract
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
      val cc = graft.operators.Dedup.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(cc.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)))
      assert(rddDirs().size == 3, // one more surviving result checkpoint
        s"CC left intermediate checkpoints: ${rddDirs().sorted}")
      val ccStar = graft.operators.Dedup.connectedComponentsStar(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(ccStar.toSeq == cc.toSeq)
      assert(rddDirs().size == 4,
        s"star CC left intermediate checkpoints: ${rddDirs().sorted}")
      // shared-frame cuts (ADVICE r15): a NON-loop Lineage.cutShared
      // (g2's oriented edge list) must register its per-query reliable
      // checkpoint the same way — app-end deletion + releaseAll
      // reachability — instead of leaking one rdd-N dir per query
      val tri = Graphs.triangleCounts(nodes, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(tri.forall(_._2 == 0L)) // a path graph has no triangles
      assert(rddDirs().size == 5,
        s"cutShared checkpoint missing or duplicated: ${rddDirs().sorted}")
      assert(graft.operators.Lineage.pendingAppEnd(spark) >= 5,
        "cutShared checkpoint not registered for application-end deletion")
      // long-lived-process hook (ADVICE r10): a server that never ends
      // its application reclaims consumed results at request boundaries
      graft.operators.Lineage.releaseAll(spark)
      assert(rddDirs().isEmpty,
        s"releaseAll left checkpoints: ${rddDirs().sorted}")
      assert(graft.operators.Lineage.pendingAppEnd(spark) == 0)
    } finally {
      spark.conf.unset(graft.operators.Lineage.CheckpointDirKey)
    }
  }

  test("bfsHops: path graph distances from one source") {
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val src = Seq(0L).toDF("id")
    val r = Graphs.bfsHops(edges, src, maxHops = 9)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == (0L to 9L).map(i => i -> i).toMap)
  }

  test("bfsHops: multi-source takes the min; maxHops truncates the rim") {
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val src = Seq(0L, 6L).toDF("id")
    val r = Graphs.bfsHops(edges, src, maxHops = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // nodes 7..9 are closer to source 6; node 4+ beyond maxHops from 0
    assert(r == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L,
      6L -> 0L, 7L -> 1L, 8L -> 2L, 9L -> 3L))
  }

  test("bfsHops: shortcut edges beat the long way (min over paths)") {
    // 0→1→2→…→20 plus express 0→10; dist(12) = 3 via express
    val edges = ((0L until 20L).map(i => (i, i + 1)) :+ (0L, 10L))
      .toDF("src", "dst")
    val r = Graphs.bfsHops(edges, Seq(0L).toDF("id"), maxHops = 20)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(10L) == 1L && r(12L) == 3L && r(9L) == 9L && r(20L) == 11L)
  }
}
