package graft.engine

/** Replay sequencing for incremental (SSE-style) result delivery — the
  * reference's coordinator behavior (SequencingStrategy.scala:35-156,
  * QueryEngineV2.scala:553-592): segment time spans are aligned to the
  * step grid, split into discrete step intervals, grouped by interval,
  * ordered by interval end (oldest first; newest first for reverse
  * queries), and contiguous interval groups merge until a group carries
  * at least `minGroupSize` segment slices (the reference sizes this to
  * worker-fleet capacity so each replay round saturates the fleet).
  *
  * Spark-first consequence: a replay group is just a TIME RANGE. Unlike
  * the reference — which ships each group's segment list to workers —
  * groups evaluate as normal pruned queries over a time range: pushed
  * timestamp filters + the manifest FileIndex already restrict the scan
  * to exactly those groups' segments. Consecutive groups run together as
  * one query per [[waves wave]] (1, 2, 4, … groups), each row tagged
  * with its group's seq, and time-to-first-datapoint stays proportional
  * to the FIRST group's data, not the query's.
  *
  * Groups tile the query window disjointly on step boundaries (each
  * piece is a whole step interval, merging only joins contiguous
  * intervals), so no chart bucket straddles two groups and the
  * concatenation of per-group results is EXACTLY the batch result —
  * pinned by IncrementalDeliverySpec and the `ast_incremental_chart`
  * oracle entry.
  */
object ReplaySequencer {

  /** A sealed segment's time span, from the segment manifest (the same
    * (file, min_ts, max_ts) rows [[graft.sources.SegmentIndex]] builds —
    * the reference reads them from its metadata store). Millis. */
  final case class SegmentSpan(segmentId: String, startMs: Long, endMs: Long)

  /** One replay group: evaluate [startMs, endMs), emit, move on.
    * `segmentIds` records which segments the range covers (diagnostic /
    * cache-warm parity with the reference; evaluation only needs the
    * range). Bounds are step-aligned and clamped to the query window. */
  final case class ReplayGroup(startMs: Long, endMs: Long,
      segmentIds: Seq[String])

  /** Compute the replay sequence. Mirrors computeReplaySequence:
    * discretize → split per step interval → group by interval → sort by
    * interval end (reverse ⇒ newest first) → merge contiguous groups
    * until ≥ `minGroupSize` slices accumulate. Empty when no segment
    * overlaps the window. */
  def sequence(segments: Seq[SegmentSpan], startMs: Long, endMs: Long,
      stepMs: Long, minGroupSize: Int, reverse: Boolean = false)
      : List[ReplayGroup] = {
    require(stepMs > 0, s"stepMs $stepMs must be positive")
    require(minGroupSize > 0, s"minGroupSize $minGroupSize must be positive")
    require(endMs > startMs, s"empty query window [$startMs, $endMs)")
    // driver-side planning over segment METADATA (the reference's
    // coordinator does the same against its PG manifest) — bound the
    // interval count so a pathological step/window combination fails
    // loudly instead of materializing millions of planning rows
    val nIntervals = (endMs - startMs + stepMs - 1) / stepMs
    require(nIntervals <= 1000000,
      s"$nIntervals step intervals in the replay window; widen stepMs " +
      "or narrow the window (dashboards replay hundreds of steps)")

    def floorStep(t: Long): Long = Math.floorDiv(t, stepMs) * stepMs
    def ceilStep(t: Long): Long = floorStep(t + stepMs - 1)

    // split every overlapping span into its discrete step intervals
    // (SequencingStrategy.scala:71-76's documented semantics: S1 9:16-9:19
    // becomes 9:16-9:17, 9:17-9:18, 9:18-9:19)
    val pieces: Seq[(Long, String)] = for {
      s <- segments
      if s.endMs > startMs && s.startMs < endMs
      lo = Math.max(floorStep(s.startMs), floorStep(startMs))
      hi = Math.min(ceilStep(s.endMs), ceilStep(endMs))
      t <- lo until hi by stepMs
    } yield (t, s.segmentId)

    if (pieces.isEmpty) return Nil
    val byInterval: List[(Long, Seq[String])] = pieces.groupBy(_._1).toList
      .map { case (t, ps) => (t, ps.map(_._2)) }
      .sortBy { case (t, _) => if (reverse) -t else t }

    // merge contiguous intervals until >= minGroupSize slices
    // (mergeContiguousGroups, incl. the final partial flush)
    val out = List.newBuilder[ReplayGroup]
    var accStart = Long.MaxValue
    var accEnd = Long.MinValue
    val accIds = Seq.newBuilder[String]
    var accN = 0
    def flush(): Unit = if (accN > 0) {
      out += ReplayGroup(
        Math.max(accStart, startMs), Math.min(accEnd, endMs),
        accIds.result().distinct)
      accIds.clear(); accN = 0
      accStart = Long.MaxValue; accEnd = Long.MinValue
    }
    byInterval.foreach { case (t, ids) =>
      accStart = Math.min(accStart, t)
      accEnd = Math.max(accEnd, t + stepMs)
      accIds ++= ids
      accN += ids.size
      if (accN >= minGroupSize) flush()
    }
    flush()
    out.result()
  }

  /** Cut a replay sequence into contiguous WAVES of 1, 2, 4, 8, …
    * elements: wave k holds elements 2^k−1 to 2^(k+1)−2, and the last
    * wave takes whatever is left. Order is kept, and every element lands
    * in exactly one wave.
    *
    * Why: each replay group evaluated alone pays a whole Spark query's
    * fixed cost (analysis, planning, codegen, a handful of jobs) for a
    * few thousand rows. A wave runs as ONE query that tags each row with
    * its group's seq, so a G-group replay costs ⌈log2(G+1)⌉ queries
    * instead of G. Group 0 still runs alone, so the first event is no
    * later than before; group i is never later than the end of the wave
    * holding it, and the last group arrives sooner whenever the
    * per-query cost is above zero. */
  def waves[A](groups: Seq[A]): List[Seq[A]] = {
    val out = List.newBuilder[Seq[A]]
    var rest = groups
    var size = 1
    while (rest.nonEmpty) {
      val (wave, tail) = rest.splitAt(size)
      out += wave
      rest = tail
      size *= 2
    }
    out.result()
  }
}
