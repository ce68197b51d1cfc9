package graft.api

import java.io.OutputStream
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Telemetry

/** The write-stall deadline in the SSE shell, tested deterministically
  * with a fake exchange whose socket "stops reading": a client that
  * leaves the connection open but never drains it parks some thread in
  * OutputStream.write on a full socket buffer. The shell's scheduler
  * must detect the in-flight write exceeding `writeStallMillis`,
  * force-close the exchange (breaking the blocked write), and stop the
  * stream — WITHOUT wedging the shared heartbeat scheduler, which is
  * exactly the failure a real stalled dashboard tab would otherwise
  * cause for every other stream on the server. */
class SseStallSpec extends AnyFunSuite {

  /** OutputStream that accepts `allow` writes, then blocks until the
    * exchange is closed (close -> the pending write throws, like a
    * kernel socket teardown). */
  private class StallingExchange(allow: Int) extends FakeExchange {
    val closed = new CountDownLatch(1)
    val writeBlocked = new CountDownLatch(1)
    private var writes = 0

    private val out: OutputStream = new OutputStream {
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        synchronized {
          writes += 1
          if (writes > allow) {
            writeBlocked.countDown()
            // "full socket buffer": park until close() breaks us
            if (!closed.await(60, TimeUnit.SECONDS))
              throw new IllegalStateException("never closed")
            throw new java.io.IOException("connection force-closed")
          }
        }
    }

    override def close(): Unit = closed.countDown()
    override def getResponseBody: OutputStream = out
  }

  test("a stalled client's blocked write trips the deadline: the " +
    "exchange is force-closed and the handler unwinds") {
    val api = new QueryHttpApi(
      _ => null.asInstanceOf[Telemetry],
      heartbeatMillis = 25, writeStallMillis = 200)
    val ex = new StallingExchange(allow = 2)
    val handlerDone = new CountDownLatch(1)
    val handler = api.sse { (_, _, _, emit) =>
      // emit until the fake socket stalls; the force-close must turn
      // the parked write into an IOException that unwinds this handler
      (0 until 1000).foreach(i => emit(s"""{"n":$i}"""))
    }
    val t = new Thread(() => {
      try handler.handle(ex) finally handlerDone.countDown()
    })
    t.start()
    // the third write parks (2 allowed)
    assert(ex.writeBlocked.await(10, TimeUnit.SECONDS), "write never blocked")
    // the scheduler's deadline (200 ms) must close the exchange well
    // within a few seconds — not after the 60 s socket timeout
    assert(ex.closed.await(5, TimeUnit.SECONDS),
      "stall deadline never force-closed the exchange")
    assert(handlerDone.await(5, TimeUnit.SECONDS), "handler never unwound")
    t.join(5000)
    api.stop()
  }

  test("teardown with a heartbeat parked on the stalled socket does not " +
    "deadlock: the handler's own failure closes the exchange lock-free") {
    // ADVICE r9 (QueryHttpApi:277): a heartbeat write parked on a full
    // socket buffer HOLDS the write lock. If the handler then unwinds
    // via an unrelated mid-stream exception BEFORE the write-stall
    // deadline elapses, a teardown that (a) cancels the watchdog that
    // would have force-closed and then (b) waits on the lock to close
    // deadlocks forever behind the parked writer. The fix closes the
    // exchange FIRST, lock-free — close() is what breaks the parked
    // write. writeStallMillis is set far beyond the assertion window so
    // only the teardown path (not the watchdog) can pass this test.
    val api = new QueryHttpApi(
      _ => null.asInstanceOf[Telemetry],
      heartbeatMillis = 25, writeStallMillis = 600000)
    val ex = new StallingExchange(allow = 1) // emit ok; heartbeat parks
    val handlerDone = new CountDownLatch(1)
    val handler = api.sse { (_, _, _, emit) =>
      emit("""{"n":1}""") // commit headers; stream is live
      // wait for a heartbeat to fire and park on the stalled socket
      assert(ex.writeBlocked.await(10, TimeUnit.SECONDS),
        "heartbeat write never parked")
      throw new RuntimeException("mid-stream engine failure")
    }
    val t = new Thread(() => {
      try handler.handle(ex) finally handlerDone.countDown()
    })
    t.start()
    assert(handlerDone.await(5, TimeUnit.SECONDS),
      "handler wedged in teardown behind the parked heartbeat write")
    assert(ex.closed.await(1, TimeUnit.SECONDS),
      "exchange never closed")
    t.join(5000)
    api.stop()
  }

  test("teardown does not interleave close with an ACTIVELY-writing " +
    "heartbeat: close serializes behind the in-flight write") {
    // ADVICE r10: the deadlock fix closed lock-free on EVERY path. A
    // heartbeat mid-raw() that is actively writing (holding the lock,
    // not parked) can then race close()'s terminal chunk on the
    // non-thread-safe chunked stream. The teardown must take the lock
    // when it comes quickly (healthy writer) and go lock-free only on
    // timeout (parked writer). Writes here are SLOW (150 ms) but finish;
    // the exchange records whether close() landed inside one.
    @volatile var writing = false
    @volatile var closedDuringWrite = false
    val hbWriteStarted = new CountDownLatch(2) // frame 1 + one heartbeat
    val ex = new StallingExchange(allow = Int.MaxValue) {
      private val slow: OutputStream = new OutputStream {
        override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          writing = true
          hbWriteStarted.countDown()
          Thread.sleep(150)
          writing = false
        }
      }
      override def getResponseBody: OutputStream = slow
      override def close(): Unit = {
        if (writing) closedDuringWrite = true
        super.close()
      }
    }
    val api = new QueryHttpApi(
      _ => null.asInstanceOf[Telemetry],
      heartbeatMillis = 25, writeStallMillis = 600000)
    val handlerDone = new CountDownLatch(1)
    val handler = api.sse { (_, _, _, emit) =>
      emit("""{"n":1}""") // slow but completes; commits headers
      // a heartbeat is now mid-write; unwind while it holds the lock
      assert(hbWriteStarted.await(10, TimeUnit.SECONDS),
        "heartbeat write never started")
      throw new RuntimeException("mid-stream engine failure")
    }
    val t = new Thread(() => {
      try handler.handle(ex) finally handlerDone.countDown()
    })
    t.start()
    assert(handlerDone.await(10, TimeUnit.SECONDS), "handler never unwound")
    assert(ex.closed.await(1, TimeUnit.SECONDS), "exchange never closed")
    assert(!closedDuringWrite,
      "close() interleaved with an active (non-parked) heartbeat write")
    t.join(5000)
    api.stop()
  }

  test("a healthy stream under the same shell completes with done and " +
    "is untouched by the deadline") {
    val api = new QueryHttpApi(
      _ => null.asInstanceOf[Telemetry],
      heartbeatMillis = 25, writeStallMillis = 200)
    val got = new StringBuilder
    val ex = new StallingExchange(allow = Int.MaxValue) {
      private val sink: OutputStream = new OutputStream {
        override def write(b: Int): Unit = got.append(b.toChar)
      }
      override def getResponseBody: OutputStream = sink
    }
    val handler = api.sse { (_, _, _, emit) =>
      emit("""{"n":1}"""); Thread.sleep(300); emit("""{"n":2}""")
    }
    handler.handle(ex)
    val text = got.toString
    assert(text.contains("""{"n":1}""") && text.contains("""{"n":2}"""))
    assert(text.contains("""{"type":"done"}"""))
    api.stop()
  }
}
