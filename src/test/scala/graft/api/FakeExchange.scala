package graft.api

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, URI}
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{Headers, HttpContext, HttpExchange, HttpPrincipal}

/** An in-memory exchange for driving a [[QueryHttpApi]] handler without
  * a socket: an empty POST to `/api/v1/test` whose status and response
  * bytes are recorded. Override `getResponseBody` or `close` to model a
  * client (a stalled one, a slow one). */
private[api] class FakeExchange extends HttpExchange {
  @volatile var status: Int = -1
  private val sink = new ByteArrayOutputStream()
  private val reqHeaders = new Headers()
  private val respHeaders = new Headers()
  private val attrs = new java.util.HashMap[String, AnyRef]()

  /** The bytes written to the default response body, as UTF-8. */
  def body: String = sink.synchronized(sink.toString(StandardCharsets.UTF_8))

  override def getRequestHeaders: Headers = reqHeaders
  override def getResponseHeaders: Headers = respHeaders
  override def getRequestURI: URI = new URI("/api/v1/test")
  override def getRequestMethod: String = "POST"
  override def getHttpContext: HttpContext = null
  override def close(): Unit = ()
  override def getRequestBody: InputStream =
    new ByteArrayInputStream(Array.emptyByteArray)
  override def getResponseBody: OutputStream = sink
  override def sendResponseHeaders(code: Int, len: Long): Unit = status = code
  override def getRemoteAddress: InetSocketAddress =
    new InetSocketAddress("127.0.0.1", 1)
  override def getResponseCode: Int = status
  override def getLocalAddress: InetSocketAddress =
    new InetSocketAddress("127.0.0.1", 2)
  override def getProtocol: String = "HTTP/1.1"
  override def getAttribute(name: String): AnyRef = attrs.get(name)
  override def setAttribute(name: String, value: AnyRef): Unit =
    attrs.put(name, value)
  override def setStreams(i: InputStream, o: OutputStream): Unit = ()
  override def getPrincipal: HttpPrincipal = null
}
