package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Layout

class LayoutSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private def refZ(bx: Int, by: Int): Long = {
    var z = 0L
    for (i <- 0 until 16) {
      z |= ((bx >> i) & 1).toLong << (2 * i)
      z |= ((by >> i) & 1).toLong << (2 * i + 1)
    }
    z
  }

  test("zInterleave matches the bit-by-bit Morton definition (Column and driver)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(200)((rnd.nextInt(1 << 16), rnd.nextInt(1 << 16)))
    for ((bx, by) <- pairs.take(50)) {
      assert(Layout.zOf(bx, by) === refZ(bx, by), s"zOf($bx, $by)")
    }
    val got = pairs.toDF("bx", "by")
      .select(Layout.zInterleave($"bx", $"by").as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === pairs.map { case (bx, by) => refZ(bx, by) })
  }

  test("zCover is sound: every in-box point's bucket is covered; ranges merge") {
    val rnd = new scala.util.Random(7)
    val bits = 4
    for (_ <- 1 to 50) {
      val (mn, mx) = (0.0, 1000.0)
      val a = rnd.nextDouble() * 800
      val b = a + rnd.nextDouble() * (1000 - a)
      val c = rnd.nextDouble() * 800
      val d = c + rnd.nextDouble() * (1000 - c)
      val cover = Layout.zCover(a, b, mn, mx, c, d, mn, mx, bits)
      // soundness over a point grid inside the box
      for (i <- 0 to 20; j <- 0 to 20) {
        val x = a + (b - a) * i / 20.0
        val y = c + (d - c) * j / 20.0
        val z = Layout.zOf(Layout.bucketOf(x, mn, mx, bits),
          Layout.bucketOf(y, mn, mx, bits))
        assert(cover.exists { case (lo, hi) => z >= lo && z <= hi },
          s"box [$a,$b]x[$c,$d]: point ($x,$y) z=$z not covered")
      }
      // merged: strictly fewer ranges than covered buckets unless all
      // ranges are singletons of a tiny cover
      val nBuckets =
        (Layout.bucketOf(b, mn, mx, bits) - Layout.bucketOf(a, mn, mx, bits) + 1) *
        (Layout.bucketOf(d, mn, mx, bits) - Layout.bucketOf(c, mn, mx, bits) + 1)
      assert(cover.size <= nBuckets)
      assert(cover.map { case (lo, hi) => hi - lo + 1 }.sum === nBuckets.toLong)
    }
  }

  test("z-layout prunes partition directories for a 2-D box query") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val bits = 3
    val df = (0 until 4000).map { i =>
      (i.toLong, (i % 64).toDouble * 10, ((i * 37) % 101).toDouble)
    }.toDF("id", "x", "y")
    val path = tempDir("layout_spec")
    Layout.zorderWrite(df, $"x", 0.0, 630.0, $"y", 0.0, 100.0, bits, path)
    // quarter box in each dimension
    val cover = Layout.zCover(100.0, 250.0, 0.0, 630.0,
      20.0, 45.0, 0.0, 100.0, bits)
    val q = spark.read.parquet(path)
      .where(Layout.zCoverFilter(cover) &&
        $"x".between(100.0, 250.0) && $"y".between(20.0, 45.0))
    val scan = q.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec"))
    assert(scan.partitionFilters.mkString.contains("z_bucket"),
      s"no z_bucket partition filter: ${scan.partitionFilters}")
    val total = spark.read.parquet(path).queryExecution.sparkPlan
      .collectFirst { case f: FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.get
    val read = scan.selectedPartitions.partitionCount
    assert(read < total / 2,
      s"cover read $read of $total z-bucket dirs — not pruning")
    // and the answer equals the plain-table query
    val plain = df.where($"x".between(100.0, 250.0) && $"y".between(20.0, 45.0))
      .orderBy("id").collect()
    assert(q.orderBy("id").select("id", "x", "y").collect().toSeq ===
      plain.toSeq)
    Verify.deleteRecursively(new java.io.File(path))
  }
}
