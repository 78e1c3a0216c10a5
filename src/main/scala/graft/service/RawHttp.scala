package graft.service

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket, URI}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{Headers, HttpContext, HttpExchange, HttpHandler, HttpPrincipal}

/** The HTTP door's OWN socket loop (VERDICT r16 "what's missing" #2):
  * a minimal HTTP/1.1 server that presents the standard
  * [[HttpExchange]] API to the existing [[QueryServer]] handlers —
  * every route, auth spelling, format, compression and session behavior
  * runs unchanged — but owns its response bytes, which the JDK
  * `HttpServer` never allows: it writes its header block once, at
  * commit.
  *
  * What owning the bytes buys (the one behavior the JDK transport
  * cannot express): PROGRESSIVE `X-ClickHouse-Progress` HEADER LINES.
  * When the request asked `send_progress_in_http_headers=1`, each
  * `getResponseHeaders.add("X-ClickHouse-Progress", …)` the handler
  * makes while the response is uncommitted goes STRAIGHT TO THE WIRE —
  * status line first, then one header line per tick, the remaining
  * headers + body when the result commits. That is exactly
  * clickhouse-server's trickle (status → progress headers → final
  * headers → body), so `clickhouse-client`-style header-progress
  * consumers see LIVE progress on long queries instead of commit-time
  * values. A failure after the 200 status line is on the wire follows
  * CH too: `X-ClickHouse-Exception-Code` header + in-band error text.
  *
  * Abort discipline (SpoolSink's stalled-client contract, advisor
  * r14): an exchange whose chunked body was NOT cleanly closed — the
  * handler bailed, or `ex.close()` arrived from the abort reaper —
  * must NEVER receive a clean terminal chunk from connection
  * housekeeping, and its connection must be SEVERED, not reused: a
  * truncated stream that frames cleanly reads as a complete success.
  * [[RawExchange.close]]/[[RawExchange.finish]] implement exactly
  * that: incomplete response → no terminal bytes, socket closed.
  *
  * Supported request surface (all the door's clients use): HTTP/1.0
  * and 1.1 request lines, bodies by `Content-Length` or
  * `Transfer-Encoding: chunked` (premature connection EOF inside a
  * declared body is an ERROR, as the JDK streams throw — a truncated
  * POST must never execute as a prefix query), `Expect: 100-continue`,
  * keep-alive with per-connection sequential requests,
  * `Connection: close`. Responses frame as `Content-Length` (fixed),
  * chunked (1.1), or close-delimited (1.0 streams — chunked framing
  * predates 1.0 clients). A malformed request line answers 400.
  *
  * Scale posture: one thread per live connection off a daemon pool,
  * CAPPED at [[RawHttpServer.MaxConnections]] (excess connections get
  * an immediate 503) — the bounded-door posture the JDK transport's
  * 4-thread executor expressed; Spark owns the cores. It is the HTTP
  * door's only transport.
  */
final class RawHttpServer(host: String, port: Int,
    /** HTTPS (r18): TLS at the listener, the HTTP loop unchanged. */
    tls: Option[javax.net.ssl.SSLContext] = None) {

  import RawHttpServer.MaxConnections

  private val routes = scala.collection.mutable.ArrayBuffer.empty[(String, HttpHandler)]
  @volatile private var closed = false
  private var listener: ServerSocket = _
  private val active = new AtomicLong(0L)
  private val connections = new AtomicLong(0L)
  private val sockets =
    java.util.Collections.synchronizedSet(new java.util.HashSet[Socket]())
  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-raw-http"); t.setDaemon(true); t
  })

  /** JDK-compatible longest-prefix routing. */
  def createContext(path: String, h: HttpHandler): Unit =
    routes += (path -> h)

  private def route(path: String): Option[HttpHandler] = {
    // JDK ServerImpl semantics — plain string prefix, longest context
    // wins — on every path, including non-'/'-boundary prefixes like
    // /queryX, so handlers written against the JDK contract route as
    // they would there
    val hits = routes.filter { case (p, _) => path.startsWith(p) }
    if (hits.isEmpty) None else Some(hits.maxBy(_._1.length)._2)
  }

  def start(): Int = {
    listener = tls match {
      case Some(ctx) => ctx.getServerSocketFactory.createServerSocket()
      case None => new ServerSocket()
    }
    listener.bind(new InetSocketAddress(host, port), 128)
    pool.submit(new Runnable {
      override def run(): Unit = {
        while (!closed) {
          try {
            val s = listener.accept()
            if (connections.incrementAndGet() > MaxConnections) {
              // bounded door: refuse loudly rather than grow a thread
              // and a stack per connection without limit
              connections.decrementAndGet()
              try {
                s.getOutputStream.write(
                  ("HTTP/1.1 503 Service Unavailable\r\nContent-Length: 0\r\n" +
                    "Connection: close\r\n\r\n").getBytes(ISO_8859_1))
                s.getOutputStream.flush()
              } catch { case _: Exception => () }
              try s.close() catch { case _: Exception => () }
            } else {
              sockets.add(s)
              pool.submit(new Runnable { override def run(): Unit = serve(s) })
            }
          } catch {
            case _: Exception if closed => ()
            case _: Exception => () // transient accept failure; keep listening
          }
        }
      }
    })
    listener.getLocalPort
  }

  /** Close the listener FIRST (no new work into a dying server), then
    * wait for in-flight exchanges up to the drain budget, then cut the
    * remaining connections — the `HttpServer.stop(delay)` contract. */
  def stop(drainSec: Int): Unit = {
    closed = true
    if (listener != null) try listener.close() catch { case _: Exception => () }
    val deadline = System.nanoTime() + drainSec.toLong * 1000000000L
    while (active.get() > 0 && System.nanoTime() < deadline)
      Thread.sleep(20)
    sockets.synchronized {
      sockets.forEach(s => try s.close() catch { case _: Exception => () })
      sockets.clear()
    }
    pool.shutdownNow()
  }

  // ---- one connection: sequential keep-alive exchanges ----

  private def serve(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      // idle keep-alive connections must expire, or MaxConnections idle
      // clients lock the door with 503s forever (the JDK transport's
      // idleInterval posture; review r17). SO_TIMEOUT only gates READS:
      // the timer runs between requests and while a body trickles in,
      // never during query execution or response writes.
      sock.setSoTimeout(120000)
      val in = new BufferedInputStream(sock.getInputStream, 16 * 1024)
      val out = new BufferedOutputStream(sock.getOutputStream, 16 * 1024)
      var keep = true
      while (keep && !closed) {
        val ex =
          try RawHttp.readExchange(sock, in, out) match {
            case Some(e) => e
            case None => keep = false; null
          } catch {
            case _: EOFException => keep = false; null
            case _: java.net.SocketTimeoutException =>
              keep = false; null // idle keep-alive expiry: close silently
            case _: Exception =>
              // malformed request line / headers / URI: answer 400
              // (the JDK transport's behavior), then cut the connection
              try {
                out.write(("HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n" +
                  "Connection: close\r\n\r\n").getBytes(ISO_8859_1))
                out.flush()
              } catch { case _: Exception => () }
              keep = false
              null
          }
        if (ex != null) {
          active.incrementAndGet()
          try {
            route(ex.getRequestURI.getPath) match {
              case Some(h) =>
                try h.handle(ex)
                catch {
                  case e: Exception =>
                    if (!ex.headersSent) {
                      // a request-framing violation (malformed chunk
                      // size) is the CLIENT's error and the connection's
                      // framing is lost: 400, then sever (never reuse)
                      val isProtocol = {
                        var t: Throwable = e; var hit = false; var d = 0
                        while (t != null && d < 16 && !hit) {
                          hit = t.isInstanceOf[java.net.ProtocolException]
                          t = t.getCause; d += 1
                        }
                        hit
                      }
                      try {
                        val code = if (isProtocol) 400 else 500
                        val msg = ("{\"error\":\"" +
                          (if (isProtocol) "bad request: " else "internal: ") +
                          String.valueOf(e.getMessage).replace('"', '\'') +
                          "\"}").getBytes(UTF_8)
                        ex.getResponseHeaders.set("Content-Type", "application/json")
                        ex.sendResponseHeaders(code, msg.length.toLong)
                        ex.getResponseBody.write(msg)
                        ex.getResponseBody.flush()
                      } catch { case _: Exception => () }
                      if (isProtocol) ex.markBrokenAfterFlush()
                    } else {
                      // handler bailed MID-RESPONSE: the body is
                      // truncated — sever, never clean-terminate
                      // (the abort discipline; review r17)
                      ex.markBroken()
                    }
                }
              case None =>
                val msg = "no handler".getBytes(UTF_8)
                ex.sendResponseHeaders(404, msg.length.toLong)
                ex.getResponseBody.write(msg)
            }
          } finally {
            keep = ex.finish() && keep
            active.decrementAndGet()
          }
        }
      }
    } catch {
      case _: Exception => () // connection-level failure: drop it
    } finally {
      try sock.close() catch { case _: Exception => () }
      if (sockets.remove(sock)) connections.decrementAndGet()
    }
  }
}

object RawHttpServer {
  /** Concurrent-connection cap — the bounded-door posture. */
  val MaxConnections = 256
}

private[service] object RawHttp {

  private val MaxLineLen = 64 * 1024
  private val MaxHeaders = 128

  /** One CRLF-terminated line (LF tolerated), ISO-8859-1, bounded. */
  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder(80)
    var c = in.read()
    if (c < 0) throw new EOFException("connection closed")
    while (c >= 0 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      if (sb.length > MaxLineLen) throw new java.io.IOException("header line too long")
      c = in.read()
    }
    sb.toString
  }

  /** Parse one request off the connection; None on clean EOF before a
    * request line (keep-alive close). */
  def readExchange(sock: Socket, in: BufferedInputStream,
      out: BufferedOutputStream): Option[RawExchange] = {
    val reqLine =
      try {
        var l = readLine(in)
        while (l.isEmpty) l = readLine(in) // tolerate stray CRLF between requests
        l
      } catch { case _: EOFException => return None }
    val parts = reqLine.split(" ", 3)
    if (parts.length < 3) throw new java.io.IOException(s"bad request line: $reqLine")
    val method = parts(0)
    val target = parts(1)
    val proto = parts(2)
    val headers = new Headers()
    var n = 0
    var line = readLine(in)
    while (line.nonEmpty) {
      n += 1
      if (n > MaxHeaders) throw new java.io.IOException("too many headers")
      val i = line.indexOf(':')
      if (i > 0) headers.add(line.substring(0, i).trim, line.substring(i + 1).trim)
      line = readLine(in)
    }
    // Expect: 100-continue — ack LAZILY on the handler's first body
    // read, and only for HTTP/1.1 (advisor r17: an unconditional
    // parse-time ack tells a client its refused request should send the
    // full body anyway, and 1.0 clients may not understand an interim
    // 100). A request refused before any body read never gets the ack;
    // RawExchange.finish() then skips the body drain (the client is
    // still holding its body back) and closes the connection.
    val expectContinue = !proto.endsWith("1.0") &&
      Option(headers.getFirst("Expect")).exists(_.equalsIgnoreCase("100-continue"))
    val rawBody: InputStream = {
      val te = Option(headers.getFirst("Transfer-Encoding"))
      if (te.exists(_.toLowerCase.contains("chunked"))) new ChunkedIn(in)
      else {
        val len = Option(headers.getFirst("Content-Length"))
          .flatMap(v => scala.util.Try(v.trim.toLong).toOption).getOrElse(0L)
        new FixedIn(in, len)
      }
    }
    val body: InputStream =
      if (expectContinue) new Expect100In(rawBody, out) else rawBody
    val keepAlive = {
      val conn = Option(headers.getFirst("Connection")).map(_.toLowerCase)
      if (proto.endsWith("1.0")) conn.contains("keep-alive")
      else !conn.contains("close")
    }
    Some(new RawExchange(method, new URI(target), proto, headers, body, out,
      sock, keepAlive))
  }

  /** The handlers' own query-string semantics ([[QueryServer]]'s
    * queryParams): split on `&`, then the first `=`, URL-decode both
    * sides — so the transport's progressive-mode decision matches the
    * handler's `send_progress_in_http_headers` parse exactly (a
    * substring sniff misfires on the token inside another parameter's
    * value; review r17). */
  def queryParam(rawQuery: String, name: String): Option[String] =
    Option(rawQuery).toSeq.flatMap(_.split("&"))
      .filter(_.nonEmpty)
      .flatMap { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        try Some((java.net.URLDecoder.decode(k, "UTF-8"),
          java.net.URLDecoder.decode(v, "UTF-8")))
        catch { case _: Exception => None }
      }
      .collect { case (k, v) if k == name => v }
      .lastOption // duplicate keys: LAST wins, as QueryServer.queryParams' toMap does

  /** Live pre-commit progress header lines streamed to any wire since
    * process start — the deterministic liveness signal for tests (a
    * commit-time header block never increments it; advisor r17: the
    * previous wall-clock-spread assertion flaked on fast machines). */
  val liveProgressLines = new AtomicLong(0L)

  // ---- request body framings ----

  /** Deferred `100 Continue`: the interim response goes out on the
    * handler's FIRST body read, so a request refused before any body
    * read never invites the body at all. */
  private[service] final class Expect100In(in: InputStream, out: OutputStream)
      extends InputStream {
    @volatile private[service] var ackSent = false
    private def ack(): Unit = if (!ackSent) {
      ackSent = true
      out.write("HTTP/1.1 100 Continue\r\n\r\n".getBytes(ISO_8859_1))
      out.flush()
    }
    override def read(): Int = { ack(); in.read() }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      ack(); in.read(b, off, len)
    }
    override def available(): Int = in.available()
  }

  /** Premature EOF inside a declared body is an ERROR — a truncated
    * POST must never execute as a valid prefix (review r17; the JDK
    * streams throw the same way). */
  private final class FixedIn(in: InputStream, total: Long) extends InputStream {
    private var left = total
    override def read(): Int =
      if (left <= 0) -1
      else {
        val c = in.read()
        if (c < 0) throw new EOFException(
          s"connection closed with $left of $total body bytes unread")
        left -= 1
        c
      }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (left <= 0) return -1
      val m = in.read(b, off, math.min(len.toLong, left).toInt)
      if (m < 0) throw new EOFException(
        s"connection closed with $left of $total body bytes unread")
      left -= m
      m
    }
    override def available(): Int = math.min(left, Int.MaxValue.toLong).toInt
  }

  private final class ChunkedIn(in: InputStream) extends InputStream {
    private var chunkLeft = 0L
    private var done = false
    private def nextChunk(): Unit = {
      if (done) return
      var l = readLine(in)
      if (l.isEmpty) l = readLine(in) // CRLF after previous chunk data
      // a non-hex size line is a PROTOCOL error, not an internal one:
      // the connection's framing is lost — answer 400 and sever
      // (VERDICT r17 "wrong" #1; the JDK transport classifies the same)
      val size =
        try java.lang.Long.parseLong(l.split(";")(0).trim, 16)
        catch {
          case _: NumberFormatException =>
            throw new java.net.ProtocolException(s"malformed chunk size: '$l'")
        }
      if (size < 0L)
        throw new java.net.ProtocolException(s"negative chunk size: '$l'")
      if (size == 0L) {
        // trailers until blank line
        var t = readLine(in)
        while (t.nonEmpty) t = readLine(in)
        done = true
      } else chunkLeft = size
    }
    override def read(): Int = {
      if (chunkLeft == 0L && !done) nextChunk()
      if (done) return -1
      val c = in.read()
      if (c < 0) throw new EOFException("connection closed mid-chunk")
      chunkLeft -= 1
      c
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (chunkLeft == 0L && !done) nextChunk()
      if (done) return -1
      val m = in.read(b, off, math.min(len.toLong, chunkLeft).toInt)
      if (m < 0) throw new EOFException("connection closed mid-chunk")
      chunkLeft -= m
      m
    }
  }

  private[service] def reason(code: Int): String = code match {
    case 200 => "OK"
    case 204 => "No Content"
    case 400 => "Bad Request"
    case 401 => "Unauthorized"
    case 403 => "Forbidden"
    case 404 => "Not Found"
    case 405 => "Method Not Allowed"
    case 413 => "Payload Too Large"
    case 415 => "Unsupported Media Type"
    case 500 => "Internal Server Error"
    case 503 => "Service Unavailable"
    case _ => "Status"
  }

  // ---- response body framings ----

  private[service] final class ChunkedOut(out: OutputStream) extends OutputStream {
    @volatile private[service] var closedCleanly = false
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (len <= 0) return
      out.write(java.lang.Integer.toHexString(len).getBytes(ISO_8859_1))
      out.write('\r'); out.write('\n')
      out.write(b, off, len)
      out.write('\r'); out.write('\n')
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = if (!closedCleanly) {
      closedCleanly = true
      out.write("0\r\n\r\n".getBytes(ISO_8859_1))
      out.flush()
    }
  }

  private[service] final class FixedOut(out: OutputStream, total: Long)
      extends OutputStream {
    private var left = total
    def remaining: Long = left
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (len > left) throw new java.io.IOException(
        s"response body exceeds declared Content-Length by ${len - left}")
      out.write(b, off, len)
      left -= len
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.flush() // the socket stays open (keep-alive)
  }

  /** HEAD responses declare their framing headers but carry NO body —
    * the JDK HttpServer suppresses the body the same way; an unsolicited
    * body after a HEAD's headers desynchronizes keep-alive framing
    * (advisor r17, the round's one medium finding). */
  private[service] final class HeadOut extends OutputStream {
    override def write(b: Int): Unit = ()
    override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
    override def flush(): Unit = ()
    override def close(): Unit = ()
  }

  /** Close-delimited body for HTTP/1.0 streaming responses (chunked
    * framing would interleave hex size lines into a 1.0 client's
    * body; review r17). The connection never keeps alive after. */
  private[service] final class CloseDelimitedOut(out: OutputStream)
      extends OutputStream {
    override def write(b: Int): Unit = out.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      out.write(b, off, len)
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.flush()
  }
}

/** One request/response pair over the raw transport — the JDK
  * [[HttpExchange]] contract, plus the progressive-header behavior
  * described on [[RawHttpServer]]. */
private[service] final class RawExchange(
    method: String,
    uri: URI,
    proto: String,
    reqHeaders: Headers,
    reqBody: InputStream,
    rawOut: OutputStream,
    sock: Socket,
    requestKeepAlive: Boolean) extends HttpExchange {

  private val http10 = proto.endsWith("1.0")

  /** Progressive mode: the request itself asked for header progress —
    * parsed with the handlers' own parameter semantics. */
  private val progressive: Boolean =
    RawHttp.queryParam(uri.getRawQuery, "send_progress_in_http_headers")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  @volatile private[service] var headersSent = false
  @volatile private var statusWritten = false
  /** Incomplete/aborted response: the connection must be severed and
    * no terminal framing written (SpoolSink's abort contract). */
  @volatile private var broken = false
  private var respCode = -1
  private var respBody: OutputStream = _
  private var fixedOut: RawHttp.FixedOut = _
  private var closeDelimited = false
  private var inBody: InputStream = reqBody

  private def writeAscii(s: String): Unit = rawOut.write(s.getBytes(ISO_8859_1))

  private def writeStatus(code: Int): Unit = if (!statusWritten) {
    statusWritten = true
    respCode = code
    writeAscii(s"HTTP/1.1 $code ${RawHttp.reason(code)}\r\n")
  }

  /** Headers whose `add("X-ClickHouse-Progress", …)` flushes a live
    * header LINE to the wire while the response is uncommitted — the
    * progressive trickle the JDK transport cannot express. Streamed
    * lines are not retained (they must not repeat at commit). */
  private val respHeaders: Headers = new Headers() {
    override def add(key: String, value: String): Unit = {
      if (progressive && !headersSent && key.equalsIgnoreCase("X-ClickHouse-Progress")) {
        RawExchange.this.synchronized {
          if (!headersSent) {
            writeStatus(200)
            writeAscii(s"$key: $value\r\n")
            rawOut.flush()
            RawHttp.liveProgressLines.incrementAndGet()
            return
          }
        }
      }
      super.add(key, value)
    }
  }

  override def getRequestHeaders: Headers = reqHeaders
  override def getResponseHeaders: Headers = respHeaders
  override def getRequestURI: URI = uri
  override def getRequestMethod: String = method
  override def getHttpContext: HttpContext = null // unused by the door's handlers
  override def getRequestBody: InputStream = inBody
  override def getResponseBody: OutputStream = {
    if (respBody == null) throw new IllegalStateException(
      "sendResponseHeaders has not been called")
    respBody
  }

  override def sendResponseHeaders(code: Int, responseLength: Long): Unit =
    synchronized {
      if (headersSent) throw new java.io.IOException("headers already sent")
      // a 200 status line may already be on the wire (progressive
      // headers); a later failure keeps CH's contract — exception code
      // as a header, error text in-band
      if (statusWritten && code != respCode && code >= 400)
        respHeaders.set("X-ClickHouse-Exception-Code", code.toString)
      writeStatus(code)
      val noBody = responseLength == -1 || code == 204 || code == 304
      if (noBody) {
        if (code != 204 && code != 304) respHeaders.set("Content-Length", "0")
        respHeaders.remove("Transfer-Encoding")
      } else if (responseLength > 0) {
        respHeaders.set("Content-Length", responseLength.toString)
      } else if (http10) {
        // a 1.0 client cannot parse chunked framing: close-delimited
        closeDelimited = true
      } else {
        respHeaders.set("Transfer-Encoding", "chunked")
      }
      if (!requestKeepAlive || closeDelimited) respHeaders.set("Connection", "close")
      val it = respHeaders.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        e.getValue.forEach(v => writeAscii(s"${e.getKey}: $v\r\n"))
      }
      writeAscii("\r\n")
      rawOut.flush()
      headersSent = true
      respBody =
        if (method == "HEAD") new RawHttp.HeadOut // headers declared, body swallowed
        else if (noBody) { fixedOut = new RawHttp.FixedOut(rawOut, 0L); fixedOut }
        else if (responseLength > 0) {
          fixedOut = new RawHttp.FixedOut(rawOut, responseLength); fixedOut
        } else if (closeDelimited) new RawHttp.CloseDelimitedOut(rawOut)
        else new RawHttp.ChunkedOut(rawOut)
    }

  override def getResponseCode: Int = respCode
  override def getRemoteAddress: InetSocketAddress =
    sock.getRemoteSocketAddress.asInstanceOf[InetSocketAddress]
  override def getLocalAddress: InetSocketAddress =
    sock.getLocalSocketAddress.asInstanceOf[InetSocketAddress]
  override def getProtocol: String = proto
  override def getAttribute(name: String): AnyRef = null
  override def setAttribute(name: String, value: AnyRef): Unit = ()
  override def setStreams(i: InputStream, o: OutputStream): Unit = {
    if (i != null) inBody = i
    if (o != null) respBody = o
  }
  override def getPrincipal: HttpPrincipal = null

  /** The SINK's abort signal (SpoolSink's stalled-client path): the
    * response is truncated mid-stream and MUST NOT receive clean
    * terminal framing — sever the socket now. This also unsticks a
    * render thread blocked in a write to the stalled client, and the
    * reset the client sees IS the error signal (advisor r14: a clean
    * terminal chunk over a truncated body reads as success). */
  private[service] def markBroken(): Unit = {
    broken = true
    try sock.close() catch { case _: Exception => () }
  }

  /** Protocol-error path: the 400 is already flushed to the OS buffer;
    * mark the connection unreusable (framing is lost) WITHOUT yanking
    * the socket out from under those bytes — the serve loop's finally
    * closes it after finish() returns false. */
  private[service] def markBrokenAfterFlush(): Unit = { broken = true }

  /** JDK semantics: the exchange is over; an open response stream
    * closes CLEANLY (an empty chunked body — `sendResponseHeaders(200,
    * 0)` with no writes — gets its terminal chunk here, exactly as the
    * JDK transport finishes it on close()). A severed exchange
    * ([[markBroken]]) never writes another byte. */
  override def close(): Unit = {
    if (broken) return
    respBody match {
      case c: RawHttp.ChunkedOut =>
        try c.close() catch { case _: Exception => broken = true }
      case f: RawHttp.FixedOut =>
        if (f.remaining > 0) broken = true
        else try f.flush() catch { case _: Exception => broken = true }
      case _ => ()
    }
  }

  /** Complete the exchange; returns whether the connection can serve
    * another request. */
  private[service] def finish(): Boolean = {
    try {
      if (broken) return false
      if (!headersSent) {
        // handler produced no response at all
        sendResponseHeaders(500, -1)
      }
      respBody match {
        case c: RawHttp.ChunkedOut => c.close() // terminal chunk if still open
        case f: RawHttp.FixedOut =>
          f.flush()
          if (f.remaining > 0) { broken = true; return false }
        case cd: RawHttp.CloseDelimitedOut =>
          cd.flush() // buffered tail must reach the socket before close
          return false // body ends at close
        case _ => ()
      }
      // an unsent Expect body must NOT be drained: the client is still
      // holding it back waiting for the 100 we never sent — close the
      // connection instead of blocking on bytes that will never come
      reqBody match {
        case e: RawHttp.Expect100In if !e.ackSent => return false
        case _ => ()
      }
      // drain any unread request body so the next request parses
      var drained = 0L
      val buf = new Array[Byte](8192)
      var m = reqBody.read(buf)
      while (m >= 0 && drained < 4L * 1024 * 1024) {
        drained += m
        m = reqBody.read(buf)
      }
      if (m >= 0) return false // oversized leftover: cut the connection
      rawOut.flush()
      requestKeepAlive
    } catch {
      case _: Exception => false
    }
  }
}
