package graft

import org.apache.spark.sql.SparkSession

/** The local harness session: [[session]] is the one recipe every main
  * in `graft` builds its SparkSession from, and [[apply]] is its
  * shuffle-writer tuning (perfbench's session applies it too).
  *
  * With <= 200 reduce partitions and no map-side combine, Spark's
  * default shuffle path is the bypass-merge writer: every map task
  * opens one file PER reduce partition, then concatenates (32 maps ×
  * 32 reducers = 1024 file create/write/delete cycles per exchange).
  * On this box's ext4 that file churn IS the local job floor — a bare
  * 1.3M-row 32→32 repartition measures 0.36 s with the bypass writer
  * and 0.15 s with the sort writer (one sorted file per map task,
  * larger write buffer).
  *
  * Forcing the sort writer locally is also truer to the 100 TB design
  * point: a 1000-executor cluster runs thousands of reduce partitions,
  * far past the 200-partition bypass threshold, so production shuffles
  * ALWAYS take the sort-writer path — the local harness should measure
  * the same machinery it claims to predict.
  */
object LocalTuning {
  /** `apply`'s tuning on `local[$SPARK_GRAFT_CPUS]` (else
    * `defaultCores`: 4 for the correctness runners, 32 for Bench and the
    * timing tools) with one shuffle partition per core, UTC, no UI, and
    * WARN logging once the session exists. Callers add their own lines
    * (Bench its AQE switch, ConcurrentBench FAIR) and `getOrCreate()`. */
  def session(defaultCores: Int): SparkSession.Builder = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores.toString)
    // the log level is a SparkContext setting, not a conf key
    val b = new SparkSession.Builder {
      override def getOrCreate(): SparkSession = {
        val s = super.getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }
    }
    apply(b)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }

  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    .config("spark.shuffle.file.buffer", "1m")
    // AQE coalesces post-shuffle partitions by SIZE (minPartitionSize
    // floor, 1 MB default) — blind to CPU density below the read, so a
    // sub-MB exchange feeding per-row-expensive work (d11's per-pair
    // sorted-intersect verify, t4's profile recomputes, t14's decimal
    // aggregation tails) coalesces to ONE task and serializes work 31
    // cores could share: 2 × 1.85 s of d11's 5.1 s wall at sf0.1 was a
    // serial verify stage plus its orderBy-sampler re-execution
    // (StageProfile r14). 64 KB keeps small CPU-dense stages parallel
    // locally; at production scale partitions sit orders of magnitude
    // past either floor, so the setting only binds in the regime where
    // it helps. Cost on tiny floor-priced entries measured ±30 ms
    // (more tasks per stage), net strongly positive.
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    // Spark 4.1's ChecksumCheckpointFileManager writes a sibling
    // checksum file for EVERY streaming-checkpoint file (state deltas,
    // offset/commit logs) and every close() AWAITS that async write —
    // jstack r16: state-store commits of KB-sized deltas park in
    // ChecksumCancellableFSDataOutputStream.close → awaitResult, and
    // disabling the manager cut symmetricHashJoin commit time 3–4×
    // (PLANS.md "streaming per-trigger floor"). The checksums guard
    // long-lived durable checkpoints against silent storage corruption;
    // the harness's checkpoints are ephemeral per-run /tmp dirs whose
    // lifetime is one AvailableNow drain, so the integrity layer
    // protects nothing here. At the 100 TB posture this line does not
    // apply (production sessions don't use LocalTuning) and the default
    // stays on — there a delta file is MBs, the await overlaps real IO,
    // and checkpoint dirs outlive processes. Session-overridable like
    // any SQLConf (set it back to true to measure the cost).
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
}
