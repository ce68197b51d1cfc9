package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** State-store size measurement for the stateful streaming entries —
  * the quantity that actually scales at 100 TB (micro-batch scheduling
  * and checkpoint machinery are per-BATCH fixed costs; state rows ×
  * bytes is what an operator must provision executors for). Hooks a
  * StreamingQueryListener so the entries run UNCHANGED; per query it
  * reports the final progress's stateOperators totals (rows, state
  * memory, and the RocksDB SST footprint when that provider is bound).
  *
  * Usage: runMain graft.tools.StateSize <sfDir> [entry...]
  */
object StateSize {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("st13_stream_outer_join", "st14_dedup_bounded_state",
        "st24_dedup_rocksdb_state", "st16_rocksdb_state",
        "st19_timer_sessions", "st20_map_state")
    val spark = graft.LocalTuning.session(32).getOrCreate()

    val last = new scala.collection.concurrent.TrieMap[
      String, (Long, Long, Long, Long)]() // rows, memB, rocksSstB, batches
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators
        if (ops.nonEmpty && p.name != null) {
          val rows = ops.map(_.numRowsTotal).sum
          val mem = ops.map(_.memoryUsedBytes).sum
          val sst = ops.map(o =>
            Option(o.customMetrics.get("rocksdbSstFileSize"))
              .map(_.longValue).getOrElse(0L)).sum
          val prev = last.getOrElse(p.name, (0L, 0L, 0L, 0L))
          last(p.name) = (rows, mem, sst, prev._4 + 1)
        }
      }
    })

    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      // entries name their memory sinks after themselves; fall back to
      // any single captured stream for the few that differ
      val key = last.keys.find(_ == n)
        .orElse(last.keys.headOption).getOrElse("?")
      val (rows, mem, sst, batches) = last.getOrElse(key, (0L, 0L, 0L, 0L))
      println(f"[state] $n sec=$secs%.2f batches=$batches " +
        f"state_rows=$rows mem_mb=${mem / 1e6}%.2f sst_mb=${sst / 1e6}%.2f")
      last.clear()
    }
    spark.stop()
  }
}
