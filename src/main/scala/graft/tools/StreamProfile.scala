package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev probe for the streaming family's per-trigger floor (VERDICT r15
  * #4): run selected st* entries and print every micro-batch's
  * `durationMs` breakdown (triggerExecution, queryPlanning, walCommit,
  * commitOffsets, addBatch, getBatch, latestOffset) plus state-operator
  * commit/update times, straight from the StreamingQueryListener
  * progress events — the numbers that say whether the ~0.9 s/trigger
  * pinned in r12 goes to planning, offset/commit-log IO, state-store
  * commits, or the sink, and therefore which component is worth
  * attacking WITHOUT changing trigger counts or batch structure.
  *
  * Usage: runMain graft.tools.StreamProfile <sfDir> [entry...]
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names: Set[String] =
      if (args.length > 1) args.drop(1).toSet
      else Set("st1_stream_window", "st2_running_stats",
        "st13_stream_outer_join", "st19_timer_sessions")
    val spark = graft.LocalTuning.session(32).getOrCreate()
    // A/B toggle for the r16 checksum-manager hypothesis: Spark 4.1's
    // ChecksumCheckpointFileManager awaits an async checksum-file write
    // on EVERY checkpoint-file close (state deltas, offsets, commits) —
    // jstack shows commit time parked in ChecksumCancellableFSDataOutput
    // Stream.close → awaitResult. Streaming confs are read at query
    // start, so a session-conf set here applies to each entry.
    sys.env.get("SPARK_GRAFT_CKSUM").foreach { v =>
      spark.conf.set(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled", v)
    }
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add(e.progress)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    import scala.jdk.CollectionConverters._
    val iters = sys.env.getOrElse("SPARK_GRAFT_TIMEQ_ITERS", "2").toInt
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.contains(n) }
      .foreach { case (name, fn) =>
        // warm once (stream dir builds, codegen), then measure
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          println(s"=== $name WARM FAILED: ${e.getMessage}") }
        (1 to iters).foreach { it =>
          events.clear()
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // listener events are async
          println(f"%n=== $name iter$it wall=$wall%.2f s, " +
            s"${events.size} progress events")
          events.asScala.toSeq.sortBy(_.batchId).foreach { p =>
            val d = p.durationMs.asScala.toSeq
              .sortBy(-_._2.longValue)
              .map { case (k, v) => s"$k=$v" }.mkString(" ")
            println(f"  batch${p.batchId}%3d rows=${p.numInputRows}%-7d $d")
            p.stateOperators.foreach { so =>
              println(s"    state[${so.operatorName}]: " +
                s"commitMs=${so.commitTimeMs} " +
                s"updatesMs=${so.allUpdatesTimeMs} " +
                s"removalsMs=${so.allRemovalsTimeMs} " +
                s"rows=${so.numRowsTotal} mem=${so.memoryUsedBytes}")
            }
          }
        }
      }
    spark.stop()
  }
}
