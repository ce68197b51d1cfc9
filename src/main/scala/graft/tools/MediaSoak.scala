package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: decade-up soak for the m13 video near-dup pipeline. The
  * ORACLED m13 entry is bounded to a fixed 120-video corpus (its
  * brute-force pixel oracle is the point), so its soak slope is ~0 by
  * construction and proves nothing about scale. This probe measures two
  * things over videos synthesized from the FULL corpus of each dir:
  *
  *  1. `m13_fixture_auto`: the entry's own auto-laddered pipeline
  *     ([[graft.operators.Multimodal.autoFrameHashParams]] picks the
  *     wide rung at this size) over the FIXTURE pixel rule. The
  *     fixture's 4x4-block-constant pixels carry only 64 cells of
  *     entropy, so any derived hash duplicates those 64 bits and the
  *     band chunks still key on ~9 effective bits — the skew cap MUST
  *     truncate (content-limited, not banding-limited). The point of
  *     this row is that the cap observability reports the loss LOUDLY
  *     (cap_drops > 0).
  *  2. `m13_wide`: the same auto-selected parameters — asserted to be
  *     the 256-bit / 36-bit-chunk rung, i.e. the DEFAULT is the scale
  *     shape — over a full-entropy probe corpus (per-cell
  *     pseudo-random pixels). Planted recall is asserted (every
  *     id-triple pairs through trim and block-edit damage) and
  *     cap_drops must be 0.
  *
  * Usage: runMain graft.tools.MediaSoak <dir> [dir...]
  * e.g. /tmp/graft_sf1 /tmp/graft_sf10 for the sf1→sf10 slope.
  */
object MediaSoak {
  import graft.operators.{Dedup, Multimodal}

  /** Full-entropy probe pixel: independent bit per 2x2 cell (256 cells
    * at 32x32), same damage classes as the m13 fixture — id%3==1 is the
    * trimmed variant (3 frames), id%3==2 has ONE cell inverted per
    * frame (hamming exactly 1 at blocks=16). */
  private def probePixel(id: Long, f: Int, x: Int, y: Int): Int = {
    val grp = id / 3
    val cell = (y / 2) * 16 + (x / 2)
    // splitmix64 finalizer: a bare multiplicative hash left the bit-43
    // sequence LINEAR in (grp, f) — measured 238x spurious video pairs
    // at 5k videos from frames whose mix constants nearly cancelled
    var z = (grp * 4 + f) * 256L + cell
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    val base = if (((z >>> 43) & 1) == 1) 180 else 20
    if (id % 3 == 2 && cell == ((grp + f) % 256).toInt) 200 - base
    else base
  }

  private def probeVideos(df: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(Multimodal.mediaSchema)
    // synthesis needs only the id column — spread THAT (the soak dirs
    // are 1-2 parquet splits; unspread, 500k AVI encodes ran serial)
    graft.operators.Dedup.spreadIfUnderParallel(
      df.select(col("doc_id").cast("long").as("media_id")))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val n = if (id % 3 == 1) 3 else 4
          val payload = Multimodal.Avi.encodeDib(32, 32, 100000L,
            IndexedSeq.tabulate(n)(f =>
              (x: Int, y: Int) => probePixel(id, f, x, y)))
          Row(id, payload, Row("avi", 32, 32, n * 100L))
        }
      }(enc)
  }

  /** frame-level vote → video pairs (the m13 tail) over any banded
    * pair stream of packed (media_id·64 + frame_idx) ids. */
  private def vote(pairs: DataFrame): DataFrame = pairs
    .where(expr("id_a div 64") =!= expr("id_b div 64"))
    .groupBy(expr("id_a div 64").as("id_a"),
      expr("id_b div 64").as("id_b"))
    .agg(count(lit(1)).as("n_matches"))
    .where(col("n_matches") >= 2)

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalTuning.session(32).getOrCreate()
    val iters = sys.env.getOrElse("SPARK_GRAFT_TIMEQ_ITERS", "2").toInt

    def timeRuns(run: () => (Long, Long)): (Double, Long, Long) = {
      run() // warm
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val (pairs, drops) = run()
        ((System.nanoTime() - t0) / 1e9, pairs, drops)
      }
      (ts.map(_._1).sorted.apply(ts.size / 2), ts.head._2, ts.map(_._3).max)
    }

    args.foreach { dir =>
      // --- the entry's own auto-laddered shape over the FIXTURE
      // corpus: the ladder picks the wide rung here, but the fixture's
      // pixels carry only 64 cells of entropy (constant within 4x4
      // blocks), so every derived hash duplicates those 64 bits and
      // the band chunks still key on ~9 effective bits — saturation is
      // a property of the CONTENT, must stay loud (cap_drops > 0)
      val (t64, p64, d64) = timeRuns { () =>
        // drain any in-flight cap events (e.g. from the previous
        // iteration) BEFORE resetting, and again after the run before
        // reading — the cap metric arrives via an async
        // QueryExecutionListener, so an unflushed read can miss this
        // run's drops or absorb the previous run's (ADVICE r14)
        org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
        Dedup.resetCapDropped(spark)
        val n = graft.queries.PipelineQueries
          .m13VideoNearDup(spark, dir, maxDocId = Long.MaxValue).count()
        org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
        (n, Dedup.capDroppedLast(spark))
      }
      println(f"[mediasoak] $dir m13_fixture_auto median=$t64%.2f " +
        s"pairs=$p64 cap_drops=$d64 (saturation EXPECTED; loud=ok)")

      // --- the scale configuration over a FULL-ENTROPY probe corpus,
      // parameters from the ladder itself: the default must BE the
      // scale-safe shape, not a config the caller knows to reach for
      val docsDf = Tables.loadDocs(spark, dir)
      // planted pairs from the ACTUAL id set (soak dirs carry id
      // offsets that split triple groups): every pair within a group
      // id div 3 matches on >= 2 frames through every damage class
      val expected = docsDf
        .groupBy(expr("doc_id div 3").as("g"))
        .agg(count(lit(1)).as("m"))
        .agg(sum(expr("m * (m - 1) div 2"))).collect()(0).getLong(0)
      val (tw, pw, dw) = timeRuns { () =>
        // flush BEFORE reset: the preceding 64-bit run drops heavily by
        // design and a late event landing after reset would charge it
        // to the wide run (ADVICE r14); flush after to read our own
        org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
        Dedup.resetCapDropped(spark)
        val media = probeVideos(docsDf)
        val nFrames = 4L * docsDf.count()
        val (blocks, width) =
          Multimodal.autoFrameHashParams(nFrames, maxHamming = 6)
        require((blocks, width) == (16, 256),
          s"soak corpus must land on the wide rung, got ($blocks, $width)")
        val packed = Multimodal.videoFrameAHashPacked(media, blocks)
          .select((col("media_id") * 64 + col("frame_idx")).as("fid"),
            col("sig"))
          // materialize the narrow (fid, 4-long sig) stream behind one
          // exchange so the banded self-join's two branches REUSE it
          // instead of each re-running AVI encode+decode+hash
          .repartition(spark.sparkContext.defaultParallelism)
        val n = vote(Dedup.hammingNearDuplicatesWide(
          packed, "fid", "sig", width, maxHamming = 6)).count()
        org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
        (n, Dedup.capDroppedLast(spark))
      }
      println(f"[mediasoak] $dir m13_wide median=$tw%.2f " +
        s"pairs=$pw expected=$expected cap_drops=$dw")
      require(dw == 0, s"wide path dropped $dw capped rows at $dir")
      require(pw >= expected,
        s"wide path recall: $pw pairs < planted $expected at $dir")
    }
    spark.stop()
  }

  private object Tables {
    def loadDocs(spark: SparkSession, dir: String): DataFrame =
      graft.Tables.load(spark, dir, "documents")
  }
}
