package graft.perfbench

import java.io.{BufferedReader, FilterInputStream, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

/** What a client saw of one SSE response. Times are `System.nanoTime`
  * readings; -1 means "never happened". `data` holds the payload of every
  * `data:` event that is neither a heartbeat nor the done sentinel. */
final case class StreamRead(
    status: Int,
    headersNs: Long,
    firstEventNs: Long,
    doneNs: Long,
    endNs: Long,
    data: Vector[String],
    heartbeats: Int,
    bytes: Long,
    error: Option[String]) {

  /** A 200 stream that reached `{"type":"done"}` without a client error. */
  def ok: Boolean = status == 200 && doneNs >= 0 && error.isEmpty

  def failure: Option[String] =
    if (status != 200) Some(s"status $status${error.fold("")(": " + _)}")
    else error.orElse(if (doneNs < 0) Some("stream ended without done") else None)
}

object Sse {
  val Heartbeat = """{"type":"heartbeat"}"""
  val Done = """{"type":"done"}"""

  private final class Counting(in: InputStream) extends FilterInputStream(in) {
    var n = 0L
    override def read(): Int = { val b = super.read(); if (b >= 0) n += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val k = super.read(b, off, len); if (k > 0) n += k; k
    }
  }

  /** Read an SSE body to its end. The first event is the first `data:`
    * event that is not a heartbeat (the done sentinel counts: an empty
    * answer's first event is its done). */
  def read(status: Int, headersNs: Long, body: InputStream,
      clock: () => Long = () => System.nanoTime()): StreamRead = {
    val in = new Counting(body)
    if (status != 200) {
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        catch { case e: java.io.IOException => String.valueOf(e.getMessage) }
      return StreamRead(status, headersNs, -1, -1, clock(), Vector.empty, 0,
        in.n, Some(text.take(200)).filter(_.nonEmpty))
    }
    val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    val data = Vector.newBuilder[String]
    var first = -1L
    var done = -1L
    var hb = 0
    var err: Option[String] = None
    try {
      var line = r.readLine()
      while (line != null) {
        if (line.startsWith("data: ")) {
          val payload = line.substring(6)
          if (payload == Heartbeat) hb += 1
          else {
            val t = clock()
            if (first < 0) first = t
            if (payload == Done) { if (done < 0) done = t }
            else if (done >= 0) err = Some("event after done")
            else data += payload
          }
        }
        line = r.readLine()
      }
    } catch {
      case e: java.io.IOException =>
        err = Some("read: " + String.valueOf(e.getMessage))
    }
    StreamRead(status, headersNs, first, done, clock(), data.result(), hb,
      in.n, err)
  }
}
