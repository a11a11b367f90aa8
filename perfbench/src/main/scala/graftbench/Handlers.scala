package graftbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executor}

import com.sun.net.httpserver._
import com.sun.net.httpserver.spi.HttpServerProvider

/** The handlers `ServeCli.start` registers, reached in-process. A traced
  * `serve` run installs `RecordingProvider` as the JDK's HTTP server
  * provider before the first server starts; every server is then the JDK's
  * default server, wrapped only to record each `createContext(path,
  * handler)`. The traced run calls the recorded `/parse` and `/triples`
  * handlers on a `LocalExchange`, so `serve.handler_ms` times ServeCli's own
  * handler code: body decode, JSON parse, decode/link/relate, render. */
object Handlers {
  private val byPath = new ConcurrentHashMap[String, HttpHandler]()

  /** Must run before the JVM's first `HttpServer.create`. */
  def install(): Unit = {
    System.setProperty("com.sun.net.httpserver.HttpServerProvider", classOf[RecordingProvider].getName)
    require(HttpServerProvider.provider().isInstanceOf[RecordingProvider],
      "an HTTP server was created before the recording provider was installed")
  }

  private[graftbench] def record(path: String, h: HttpHandler): Unit = byPath.put(path, h)

  /** The handler the most recently started server registered for `path`. */
  def apply(path: String): HttpHandler =
    Option(byPath.get(path)).getOrElse(sys.error(s"no handler recorded for $path"))

  /** Runs `h` on one request body; returns (status, reply body). */
  def call(h: HttpHandler, path: String, body: Array[Byte]): (Int, String) = {
    val ex = new LocalExchange("POST", URI.create(path), body)
    h.handle(ex)
    (ex.getResponseCode, new String(ex.out.toByteArray, StandardCharsets.UTF_8))
  }
}

class RecordingProvider extends HttpServerProvider {
  // the JDK's own provider (run.py exports its package to the harness)
  private val default = Class.forName("sun.net.httpserver.DefaultHttpServerProvider")
    .getDeclaredConstructor().newInstance().asInstanceOf[HttpServerProvider]

  def createHttpServer(addr: InetSocketAddress, backlog: Int): HttpServer =
    new RecordingServer(default.createHttpServer(addr, backlog))

  def createHttpsServer(addr: InetSocketAddress, backlog: Int): HttpsServer =
    default.createHttpsServer(addr, backlog)
}

/** The JDK's server, unchanged but for recording the registered handlers. */
final class RecordingServer(real: HttpServer) extends HttpServer {
  def bind(addr: InetSocketAddress, backlog: Int): Unit = real.bind(addr, backlog)
  def start(): Unit = real.start()
  def setExecutor(e: Executor): Unit = real.setExecutor(e)
  def getExecutor: Executor = real.getExecutor
  def stop(delay: Int): Unit = real.stop(delay)
  def createContext(path: String, h: HttpHandler): HttpContext = {
    Handlers.record(path, h)
    real.createContext(path, h)
  }
  def createContext(path: String): HttpContext = real.createContext(path)
  def removeContext(path: String): Unit = real.removeContext(path)
  def removeContext(c: HttpContext): Unit = real.removeContext(c)
  def getAddress: InetSocketAddress = real.getAddress
}

/** One request held in memory; the reply is collected in `out`. */
final class LocalExchange(method: String, uri: URI, body: Array[Byte]) extends HttpExchange {
  private val requestHeaders, responseHeaders = new Headers()
  private var in: InputStream = new ByteArrayInputStream(body)
  val out = new ByteArrayOutputStream()
  private var os: OutputStream = out
  private var code = -1

  def getRequestHeaders: Headers = requestHeaders
  def getResponseHeaders: Headers = responseHeaders
  def getRequestURI: URI = uri
  def getRequestMethod: String = method
  def getHttpContext: HttpContext = null
  def close(): Unit = ()
  def getRequestBody: InputStream = in
  def getResponseBody: OutputStream = os
  def sendResponseHeaders(rCode: Int, responseLength: Long): Unit = code = rCode
  def getRemoteAddress: InetSocketAddress = null
  def getResponseCode: Int = code
  def getLocalAddress: InetSocketAddress = null
  def getProtocol: String = "HTTP/1.1"
  def getAttribute(name: String): AnyRef = null
  def setAttribute(name: String, value: AnyRef): Unit = ()
  def setStreams(i: InputStream, o: OutputStream): Unit = {
    if (i != null) in = i
    if (o != null) os = o
  }
  def getPrincipal: HttpPrincipal = null
}
