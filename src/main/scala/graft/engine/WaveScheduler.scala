package graft.engine

import java.util.concurrent.{CompletableFuture, CompletionException,
  ExecutorService, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}

/** Runs the replay waves of one incremental request
  * ([[ReplaySequencer.waves]]) and hands their results back strictly in
  * replay order — the reference's coordinator sends replay batches to its
  * workers concurrently and merges their results in order
  * (QueryEngineV2.scala:231, `flatMapMerge`).
  *
  * Wave 0 (group 0 alone) runs on the calling thread, exactly as a serial
  * replay would, so the first event waits for group 0 alone. Once the
  * consumer has taken everything wave 0 yielded, every later wave starts
  * at once on one shared daemon pool. A request's wall is then group 0 +
  * the slowest later wave, not group 0 + the sum of the later waves: the
  * same jobs run, overlapped instead of back to back. A [[Ready]] step
  * (groups the [[ResultCache]] serves) runs nothing: before wave 0 it is
  * emitted at once, after it in its place in the order.
  *
  * Each pool task runs under `SQLExecution.withThreadLocalCaptured`, so
  * its jobs carry the caller's job group, FAIR pool and active session —
  * cancelling the caller's job group cancels them too. Results are
  * joined in seq order on the consumer thread, where `emit` also runs,
  * so consumer-side state (first-seen dedup, a running sketch union)
  * needs no locking.
  *
  * A failure anywhere — a wave's jobs, the consumer-side `emit`, or the
  * iteration of what it returned — cancels every later wave's jobs,
  * waits until the pool tasks have stopped, and rethrows the original
  * exception on the consumer. A consumer that stops pulling early calls
  * `close()`, which does the same without an exception; one that
  * neither drains nor closes leaves the launched waves running to
  * completion. */
object WaveScheduler {

  /** One step of a replay, in replay order. */
  sealed trait Step[+A]

  /** One wave's Spark work: `run` executes `df`'s jobs (wave 0 on the
    * caller, later waves on the pool, under `df`'s session) and returns
    * what the consumer needs from it. Build `df` on the consumer, so
    * plan-time scopes such as [[QueryEngine.withExactPercentiles]] apply. */
  final case class Wave[A](df: DataFrame, run: DataFrame => A)
      extends Step[A]

  /** A result already in hand: no job runs for it. */
  final case class Ready[A](result: A) extends Step[A]

  /** Prefix of the job tag every pool task adds; the rest is unique per
    * request, so one request's failure cancels only its own waves. */
  val JobTagPrefix = "graft-wave-"

  // Threads are created without inheritable thread locals: a task gets
  // the submitting request's properties from withThreadLocalCaptured,
  // never those of whichever request happened to create the thread.
  private val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(null, r, "graft-replay-wave", 0, false)
    t.setDaemon(true)
    t
  }

  /** An incremental request's results in replay order. `close()` stops
    * the waves a consumer no longer needs: it cancels their jobs until
    * every pool task has ended, and ends the iteration. Cancelling the
    * caller's job group alone does not: a wave can still submit jobs
    * after the cancel (HttpApiSpec's tags-limit case caught two). */
  trait Replay[+B] extends Iterator[B] with AutoCloseable

  /** The concatenation of `emit(step result)` over `waves`, in order. */
  def inReplayOrder[A, B](waves: Iterator[Step[A]])(emit: A => Iterator[B])
      : Replay[B] = new Replay[B] {
    private val tag = JobTagPrefix +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    private var cur: Iterator[B] = Iterator.empty
    // true until wave 0 (the first Wave step) has run on the caller
    private var first = true
    // later waves, launched once wave 0 is consumed; null until then
    private var launched: List[CompletableFuture[A]] = null
    private var sc: org.apache.spark.SparkContext = _

    def hasNext: Boolean = guard {
      while (!cur.hasNext && moreWaves) cur = emit(nextWave())
      cur.hasNext
    }

    def next(): B =
      if (hasNext) guard(cur.next()) else Iterator.empty.next()

    private def moreWaves: Boolean =
      if (first) waves.hasNext
      else { launch(); launched.nonEmpty }

    private def nextWave(): A =
      if (first) waves.next() match {
        case Ready(a) => a
        case Wave(df, run) => first = false; run(df)
      } else {
        val f = launched.head
        launched = launched.tail
        try f.join()
        catch { case e: CompletionException if e.getCause != null =>
          throw e.getCause }
      }

    /** Submit every later wave, each as soon as its plan is built. */
    private def launch(): Unit = if (launched == null) {
      val buf = List.newBuilder[CompletableFuture[A]]
      try waves.foreach {
        case Ready(a) => buf += CompletableFuture.completedFuture(a)
        case Wave(df, run) =>
          sc = df.sparkSession.sparkContext
          buf += GraftColumnBridge.withThreadLocalCaptured(
              df.sparkSession, pool) {
            sc.addJobTag(tag)
            run(df)
          }
      } finally launched = buf.result()
    }

    private def guard[T](body: => T): T =
      try body catch { case e: Throwable => close(); throw e }

    /** Cancel the launched waves' jobs until every pool task has ended:
      * a task between two jobs submits its next one after a cancel, so
      * one cancel is not enough. */
    def close(): Unit = {
      val rest = Option(launched).getOrElse(Nil).filterNot(_.isDone)
      first = false
      launched = Nil
      cur = Iterator.empty
      while (rest.exists(!_.isDone)) {
        sc.cancelJobsWithTag(tag, "replay closed before its last wave")
        try CompletableFuture.allOf(rest: _*).get(20, TimeUnit.MILLISECONDS)
        catch { case _: Exception => () }
      }
    }
  }
}
