package graft.api

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Telemetry

/** What the SSE shell answers when its handler fails. Before the first
  * event every non-fatal failure, an `Error` or an interrupt included,
  * is a 400 whose body names it; after it the stream ends without the
  * done sentinel. An escaped failure would drop the connection with no
  * status and kill the server's pool thread. An answered interrupt
  * leaves the thread's interrupt flag set. */
class SseErrorSpec extends AnyFunSuite {

  /** The exchange `f` was answered on, and whether the handler thread
    * came back interrupted (the flag is read and cleared before `stop`). */
  private def answer(f: (String => Unit) => Unit): (FakeExchange, Boolean) = {
    val api = new QueryHttpApi(_ => null.asInstanceOf[Telemetry])
    val ex = new FakeExchange
    var interrupted = false
    try api.sse((_, _, _, emit) => f(emit)).handle(ex)
    finally { interrupted = Thread.interrupted(); api.stop() }
    (ex, interrupted)
  }

  for ((name, failure, body) <- Seq(
      ("an AssertionError", new AssertionError("assertion failed: plan"),
        "assertion failed: plan"),
      ("a message-less RuntimeException", new RuntimeException(),
        "java.lang.RuntimeException"),
      ("a StackOverflowError", new StackOverflowError(),
        "java.lang.StackOverflowError"),
      ("an InterruptedException", new InterruptedException("interrupted"),
        "interrupted")))
    test(s"$name before the first event answers 400 with a message") {
      val (ex, interrupted) = answer(_ => throw failure)
      assert(ex.status == 400)
      assert(ex.body == body)
      assert(interrupted == failure.isInstanceOf[InterruptedException])
    }

  test("an Error after the first event ends the stream without done") {
    val (ex, interrupted) = answer { emit =>
      emit("""{"n":1}""")
      throw new NotImplementedError()
    }
    assert(ex.status == 200)
    assert(ex.body == "data: {\"n\":1}\r\n\r\n")
    assert(!interrupted)
  }
}
