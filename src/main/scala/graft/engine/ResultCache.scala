package graft.engine

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.util.SizeEstimator

import graft.engine.ReplaySequencer.{ReplayGroup, SegmentSpan}

/** Sealed-interval result cache: the emitted output of whole step
  * intervals of a replay, the design of the Cortex/Thanos query-frontend
  * results cache. A sealed segment never changes (lakeside's
  * `SegmentInfo.sealedStatus`), so the output of a step interval that
  * registered segments cover is final; a dashboard re-poll of it needs
  * no Spark job.
  *
  *  - Key: the tenant scope (by instance), the query (the parsed
  *    `ASTInput` for charts, the `BaseExpr` plus groupBys for
  *    cardinality; case classes, so whitespace in the request body does
  *    not matter), the step, the interval's start and the spans of every
  *    registered segment overlapping the interval. Re-registering a
  *    segment with a new id or span over an interval misses it.
  *  - Only a WHOLE interval inside the query window that at least one
  *    registered segment overlaps is stored. A replay group is served
  *    only when every interval of its range is stored, so a group holding
  *    a gap interval or a window-clipped edge always runs.
  *  - LRU, bounded by `maxBytes` as `SizeEstimator` measures the stored
  *    values. Hits, misses and evictions are counters; every eviction
  *    logs at WARN. A zero-capacity cache ([[ResultCache.Off]], the batch
  *    callers' default) stores nothing and always misses.
  *
  * Values are whatever the engine emits per interval: chart rows in
  * replay order, or an HLL sketch. Tags are not cached: a group's top K
  * cannot be rebuilt from its intervals' top K. */
final class ResultCache(val maxBytes: Long) {
  import ResultCache._

  private val entries =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) // LRU order
  private var used = 0L

  /** Intervals found, covered intervals looked up and absent, entries
    * evicted. */
  val hits, misses, evictions = new AtomicLong

  def bytes: Long = synchronized(used)
  def size: Int = synchronized(entries.size)

  /** The view of this cache one tenant sees: keys carry `owner` by
    * identity, so tenants never share an entry. */
  def scope(owner: AnyRef): Scope = new Scope(this, new Owner(owner))

  private def get(k: Key): Option[AnyRef] =
    synchronized(Option(entries.get(k)).map(_.value))

  private def put(k: Key, value: AnyRef): Unit = if (maxBytes > 0) {
    val b = SizeEstimator.estimate(value) + SizeEstimator.estimate(k.spans)
    synchronized {
      Option(entries.put(k, Entry(value, b))).foreach(old => used -= old.bytes)
      used += b
      val it = entries.entrySet().iterator()
      while (used > maxBytes && it.hasNext) {
        val e = it.next()
        used -= e.getValue.bytes
        it.remove()
        evictions.incrementAndGet()
        log.warn(s"result cache over $maxBytes bytes: evicted the " +
          s"${e.getValue.bytes}-byte interval at ${e.getKey.startMs} " +
          s"(step ${e.getKey.stepMs} ms)")
      }
    }
  }
}

object ResultCache {
  private val log = org.apache.logging.log4j.LogManager.getLogger(
    classOf[ResultCache])

  /** The serving cache's bound: dashboard chart rows and sketches of a
    * few hundred intervals are kilobytes each. */
  val DefaultBytes: Long = 64L << 20

  /** Stores nothing, always misses: the batch and benchmark callers'
    * cache, so they take the same code path as the server. */
  val Off: Scope = new ResultCache(0).scope(None)

  /** A tenant scope, compared by identity. */
  private final class Owner(val ref: AnyRef) {
    override def equals(o: Any): Boolean = o match {
      case x: Owner => x.ref eq ref
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(ref)
  }

  private final case class Key(owner: Owner, query: Any, stepMs: Long,
      startMs: Long, spans: Seq[SegmentSpan])

  private final case class Entry(value: AnyRef, bytes: Long)

  final class Scope private[ResultCache] (cache: ResultCache, owner: Owner) {
    /** The cacheable intervals of one replay of `query`. */
    def intervals(query: Any, segments: Seq[SegmentSpan], startMs: Long,
        endMs: Long, stepMs: Long): Intervals =
      new Intervals(cache, owner, query, segments, startMs, endMs, stepMs)
  }

  /** The whole step intervals of [startMs, endMs) that a registered
    * segment overlaps, each keyed for `query`. */
  final class Intervals private[ResultCache] (cache: ResultCache,
      owner: Owner, query: Any, segments: Seq[SegmentSpan], startMs: Long,
      endMs: Long, stepMs: Long) {

    /** The key of the interval starting at `t`, or None when it is not
      * whole inside the window or no registered segment overlaps it. */
    private def key(t: Long): Option[Key] =
      if (cache.maxBytes <= 0 || Math.floorMod(t, stepMs) != 0 ||
          t < startMs || t + stepMs > endMs) None
      else {
        val spans = segments
          .filter(s => s.endMs > t && s.startMs < t + stepMs)
          .sortBy(s => (s.segmentId, s.startMs, s.endMs))
        if (spans.isEmpty) None
        else Some(Key(owner, query, stepMs, t, spans))
      }

    /** The interval starts of `g`, oldest first. */
    def starts(g: ReplayGroup): Seq[Long] =
      Math.floorDiv(g.startMs, stepMs) * stepMs until g.endMs by stepMs

    /** Every interval's stored value in time order when `g` is served
      * whole from the cache: its bounds are step-aligned, and each of its
      * intervals is covered and stored. Counts the intervals found as
      * hits, or the covered intervals absent as misses (an explain
      * request's lookups count too). */
    def lookup(g: ReplayGroup): Option[Seq[AnyRef]] =
      if (cache.maxBytes <= 0 || Math.floorMod(g.startMs, stepMs) != 0 ||
          Math.floorMod(g.endMs, stepMs) != 0) None
      else {
        val keys = starts(g).map(key)
        val found = keys.map(_.flatMap(cache.get))
        if (found.forall(_.isDefined)) {
          cache.hits.addAndGet(found.size)
          Some(found.flatten)
        } else {
          cache.misses.addAndGet(
            keys.zip(found).count { case (k, v) => k.isDefined && v.isEmpty })
          None
        }
      }

    /** Store `value` as the output of the interval starting at `t`, when
      * that interval is cacheable. */
    def store(t: Long, value: AnyRef): Unit =
      key(t).foreach(cache.put(_, value))
  }
}
