package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Compaction

/** Compaction execution: the bin plan mirrors p17's cumulative-offset
  * rule, the rewrite emits exactly one file per bin, and the compacted
  * data is row-identical to the source (the property st22's shared
  * oracle also enforces end-to-end). */
class CompactionSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkFiles(dir: String, n: Int): Seq[String] = {
    (0 until n).foreach { i =>
      Seq.tabulate(40)(j => (i.toLong * 100 + j, s"v$i-$j"))
        .toDF("id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg$i")
    }
    (0 until n).flatMap { i =>
      new java.io.File(s"$dir/seg$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    }
  }

  test("plan assigns each file the bin of its cumulative start offset") {
    val dir = tempDir("graft_cpl")
    val files = mkFiles(dir, 6)
    val sizes = files.sorted.map(f => new java.io.File(f).length())
    val target = sizes.head * 2 + 1 // ~2 files per bin
    val plan = Compaction.plan(spark, files, target)
      .orderBy("file").collect()
    var cum = 0L
    files.sorted.zip(plan).foreach { case (f, row) =>
      assert(row.getString(0) == f)
      assert(row.getLong(2) == cum / target, s"bin mismatch for $f")
      cum += row.getLong(1)
    }
  }

  test("compact writes one file per bin and preserves every row") {
    val dir = tempDir("graft_cex")
    val files = mkFiles(dir, 7)
    val sizes = files.sorted.map(f => new java.io.File(f).length())
    val target = sizes.sum / 3 + 1 // ~3 bins
    val out = s"$dir/out"
    val nBins = Compaction.compact(spark, files, out, target)
    assert(nBins >= 2 && nBins < files.size, s"nBins=$nBins")
    val written = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val cs = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        cs.filter(_.isDirectory).flatMap(walk) ++
          cs.filter(c => c.isFile && c.getName.endsWith(".parquet"))
      }
      walk(new java.io.File(out))
    }
    assert(written.size == nBins,
      s"expected $nBins files, found ${written.size}")
    val before = spark.read.parquet(files: _*)
      .select("id", "payload").as[(Long, String)].collect().sorted
    val after = spark.read.parquet(out)
      .select("id", "payload").as[(Long, String)].collect().sorted
    assert(after.sameElements(before))
  }

  test("bins are byte-bounded: each bin's total stays under target + " +
    "one file (the greedy start-offset guarantee)") {
    val dir = tempDir("graft_cbb")
    val files = mkFiles(dir, 9)
    val sizes = files.sorted.map(f => f -> new java.io.File(f).length()).toMap
    val target = sizes.values.min * 3 / 2
    val plan = Compaction.plan(spark, files, target).collect()
    val maxFile = sizes.values.max
    plan.groupBy(_.getLong(2)).foreach { case (bin, rows) =>
      val total = rows.map(_.getLong(1)).sum
      assert(total <= target + maxFile,
        s"bin $bin overflows: $total > $target + $maxFile")
    }
  }

  test("a file larger than target skips bin indices; compact still " +
    "writes one file per ASSIGNED bin and reports that count") {
    val dir = tempDir("graft_cbig")
    // one fat segment (400 rows) then small ones: the fat file's size
    // exceeds target, so cumulative offsets skip bin indices
    Seq.tabulate(400)(j => (j.toLong, s"fat-$j")).toDF("id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg0")
    (1 to 3).foreach { i =>
      Seq.tabulate(10)(j => (i.toLong * 1000 + j, s"v$i-$j"))
        .toDF("id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg$i")
    }
    val files = (0 to 3).flatMap { i =>
      new java.io.File(s"$dir/seg$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    }
    val sizes = files.sorted.map(f => new java.io.File(f).length())
    val target = sizes.max / 3 // fat file spans >=3 bins' worth of bytes
    val plan = Compaction.plan(spark, files, target).collect()
    val assigned = plan.map(_.getLong(2)).distinct.sorted
    assert(assigned.max + 1 > assigned.length,
      s"test setup should skip bin indices, got ${assigned.toSeq}")
    val out = s"$dir/out"
    val nBins = Compaction.compact(spark, files, out, target)
    assert(nBins == assigned.length, s"nBins=$nBins != ${assigned.length}")
    def walk(f: java.io.File): Seq[java.io.File] = {
      val cs = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      cs.filter(_.isDirectory).flatMap(walk) ++
        cs.filter(c => c.isFile && c.getName.endsWith(".parquet"))
    }
    val written = walk(new java.io.File(out))
    assert(written.size == nBins,
      s"expected $nBins files, found ${written.size}")
    val before = spark.read.parquet(files: _*)
      .select("id", "payload").as[(Long, String)].collect().sorted
    val after = spark.read.parquet(out)
      .select("id", "payload").as[(Long, String)].collect().sorted
    assert(after.sameElements(before))
  }

  test("compact joins by URI-encoded path (spaces survive)") {
    val base = tempDir("graft_csp")
    val dir = s"$base/with space"
    Seq.tabulate(20)(j => (j.toLong, s"s-$j")).toDF("id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg0")
    val files = new java.io.File(s"$dir/seg0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val out = s"$base/out"
    val nBins = Compaction.compact(spark, files, out, Long.MaxValue)
    assert(nBins == 1)
    assert(spark.read.parquet(out).count() == 20)
  }

  test("applyPolicy compacts only keys over the threshold, keeps the " +
    "rest, preserves rows, and is idempotent at the layout level") {
    val dir = tempDir("graft_cpol")
    // "day A": 5 landed files (dense); "day B": 2 files (sparse)
    (0 until 5).foreach { i =>
      Seq.tabulate(30)(j => (i.toLong * 100 + j, s"a$i-$j"))
        .toDF("id", "payload")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/land/date_int=20240101/h$i")
    }
    (0 until 2).foreach { i =>
      Seq.tabulate(30)(j => (9000L + i * 100 + j, s"b$i-$j"))
        .toDF("id", "payload")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/land/date_int=20240102/h$i")
    }
    def walk(f: java.io.File): Seq[String] = {
      val cs = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      cs.filter(_.isDirectory).flatMap(walk) ++
        cs.filter(c => c.isFile && c.getName.endsWith(".parquet"))
          .map(_.getAbsolutePath)
    }
    val landed = walk(new java.io.File(s"$dir/land")).sorted
    val dayOf = (f: String) =>
      "date_int=(\\d+)".r.findFirstMatchIn(f).get.group(1)
    val res = Compaction.applyPolicy(spark, landed, s"$dir/out",
      maxFilesPerKey = 3, targetBytes = Long.MaxValue, keyOf = dayOf)
    assert(res.compactedKeys == Seq("20240101"))
    assert(res.keptKeys == Seq("20240102"))
    // dense day: 5 files -> 1; sparse day untouched (same 2 paths)
    val sparseOriginals = landed.filter(_.contains("20240102"))
    assert(sparseOriginals.forall(res.files.contains))
    assert(res.files.size == 1 + 2, res.files)
    // row parity across the whole post-policy layout
    val before = spark.read.parquet(landed: _*)
      .select("id", "payload").as[(Long, String)].collect().sorted
    val after = spark.read.parquet(res.files: _*)
      .select("id", "payload").as[(Long, String)].collect().sorted
    assert(after.sameElements(before))
    // idempotence: the post-policy layout is under threshold everywhere
    val res2 = Compaction.applyPolicy(spark, res.files, s"$dir/out2",
      maxFilesPerKey = 3, targetBytes = Long.MaxValue,
      keyOf = f => "date_int=(\\d+)".r.findFirstMatchIn(f)
        .map(_.group(1)).getOrElse("packed"))
    assert(res2.compactedKeys.isEmpty)
    assert(res2.files.sorted == res.files.sorted)
  }

  test("applyPolicy keeps distinct raw keys in distinct output dirs even " +
    "when sanitization collides ('2024/01' vs '2024_01')") {
    val dir = tempDir("graft_ccol")
    // two DENSE keys whose sanitized names collapse to the same string;
    // without disambiguation the second compact() overwrites the first
    // key's dir — silent row loss in the post-policy layout
    val keys = Seq("2024/01", "2024_01")
    keys.zipWithIndex.foreach { case (_, k) =>
      (0 until 3).foreach { i =>
        Seq.tabulate(20)(j => (k * 1000L + i * 100 + j, s"k$k-$i-$j"))
          .toDF("id", "payload")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/land/k$k/h$i")
      }
    }
    def walk(f: java.io.File): Seq[String] = {
      val cs = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      cs.filter(_.isDirectory).flatMap(walk) ++
        cs.filter(c => c.isFile && c.getName.endsWith(".parquet"))
          .map(_.getAbsolutePath)
    }
    val landed = walk(new java.io.File(s"$dir/land")).sorted
    val keyOf = (f: String) =>
      keys("/k(\\d)/".r.findFirstMatchIn(f).get.group(1).toInt)
    val res = Compaction.applyPolicy(spark, landed, s"$dir/out",
      maxFilesPerKey = 2, targetBytes = Long.MaxValue, keyOf = keyOf)
    assert(res.compactedKeys.sorted == keys.sorted)
    // every listed file exists and row parity holds across the layout
    assert(res.files.forall(f => new java.io.File(f).isFile), res.files)
    val before = spark.read.parquet(landed: _*)
      .select("id", "payload").as[(Long, String)].collect().sorted
    val after = spark.read.parquet(res.files: _*)
      .select("id", "payload").as[(Long, String)].collect().sorted
    assert(after.sameElements(before))
  }

  test("compact handles a single bin and empty input") {
    val dir = tempDir("graft_c1")
    val files = mkFiles(dir, 2)
    assert(Compaction.compact(spark, files, s"$dir/one", Long.MaxValue) == 1)
    assert(Compaction.compact(spark, Nil, s"$dir/none", 1024) == 0)
  }
}
