package graft.serve

import java.io.{IOException, InputStream}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket, URI}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

/** A blocking HTTP/1.1 server edge: one acceptor thread, one daemon
  * thread per connection. Each connection thread reads a request line,
  * the headers and a `Content-Length` body, hands the request to the
  * handler on the same thread, writes the status line, `Content-Type`,
  * `Content-Length` and body, and loops for the next request on the same
  * connection.
  *
  * Why not the JDK `HttpServer` with a worker pool: that design moves
  * every keep-alive request across threads twice (dispatcher → pool to
  * run the handler, pool → dispatcher to re-register the connection).
  * The handlers here cost microseconds, so those wake-ups were most of a
  * request's latency; serving on the reading thread has none.
  *
  * A connection ends on `Connection: close`, on an HTTP/1.0 request, on
  * EOF, after [[IdleTimeoutMs]] without a request, and after any request
  * the edge itself rejects. Rejections answer `{"detail": ...}` and close:
  *  - 400: malformed request line, header line or `Content-Length`;
  *  - 411: a `Transfer-Encoding` (bodies must carry a `Content-Length`);
  *  - 413: `Content-Length` above [[MaxBodyBytes]];
  *  - 431: request line plus headers above [[MaxHeadBytes]];
  *  - 503: a new connection while [[MaxConnections]] are open (answered
  *    by the acceptor, so the thread count stays bounded);
  *  - 505: an HTTP version other than 1.0 and 1.1.
  * `Upgrade` requests (the JDK `HttpClient` asks for h2c by default) are
  * answered as plain HTTP/1.1, which the client accepts.
  *
  * `stop()` closes the listening socket and every open connection and
  * waits for the edge's threads to end; a thread still inside a handler
  * ends when the handler returns. */
private[serve] object HttpEdge {

  /** The JDK `HttpServer`'s own idle default (`sun.net.httpserver.idleInterval`). */
  val IdleTimeoutMs = 30000
  /** Open connections (and so connection threads) per server. */
  val MaxConnections = 64
  /** Far above the largest body any route takes: q102's 200-transaction
    * batch is about 40 KB. */
  val MaxBodyBytes: Int = 1 << 20
  val MaxHeadBytes: Int = 16 << 10
  /** How long an edge rejection waits for the rest of an unread request
    * before closing, so the client reads the reply instead of a reset. */
  private val LingerMs = 1000

  /** One request as the handler sees it; the handler answers with
    * [[respond]]. The first answer counts, as on a real wire. */
  final class Exchange(val method: String, val path: String, val body: Array[Byte]) {
    private[HttpEdge] var status = 0
    private[HttpEdge] var reply: Array[Byte] = null
    def respond(code: Int, json: Array[Byte]): Unit =
      if (reply == null) { status = code; reply = json }
  }

  private final class Reject(val code: Int, val detail: String) extends Exception(detail)

  private def reason(code: Int): String = code match {
    case 200 => "OK"
    case 400 => "Bad Request"
    case 404 => "Not Found"
    case 405 => "Method Not Allowed"
    case 411 => "Length Required"
    case 413 => "Content Too Large"
    case 422 => "Unprocessable Content"
    case 431 => "Request Header Fields Too Large"
    case 500 => "Internal Server Error"
    case 502 => "Bad Gateway"
    case 503 => "Service Unavailable"
    case 504 => "Gateway Timeout"
    case 505 => "HTTP Version Not Supported"
    case _   => "Status"
  }

  /** Status line, headers and body in one array, so a reply is one write. */
  private def wire(code: Int, json: Array[Byte], close: Boolean, withBody: Boolean): Array[Byte] = {
    val head = new java.lang.StringBuilder(128)
      .append("HTTP/1.1 ").append(code).append(' ').append(reason(code))
      .append("\r\nContent-Type: application/json\r\nContent-Length: ").append(json.length)
      .append(if (close) "\r\nConnection: close\r\n\r\n" else "\r\n\r\n")
      .toString.getBytes(ISO_8859_1)
    if (!withBody) head
    else {
      val out = java.util.Arrays.copyOf(head, head.length + json.length)
      System.arraycopy(json, 0, out, head.length, json.length)
      out
    }
  }

  private def detail(msg: String): Array[Byte] =
    ("{\"detail\":\"" + msg + "\"}").getBytes(ISO_8859_1)

  /** Bind `127.0.0.1:port` (0 = ephemeral); threads start with [[Edge.start]]. */
  def bind(port: Int): Edge = new Edge(port)

  final class Edge private[HttpEdge] (port0: Int) {
    private val listener = new ServerSocket()
    listener.setReuseAddress(true)
    listener.bind(new InetSocketAddress(InetAddress.getByName("127.0.0.1"), port0))
    val port: Int = listener.getLocalPort

    private val live = new AtomicInteger
    private val conns = ConcurrentHashMap.newKeySet[Socket]()
    private val threads = ConcurrentHashMap.newKeySet[Thread]()
    private val serial = new AtomicLong
    @volatile private var stopped = false

    /** Name prefix of every thread this edge starts. */
    val threadPrefix = s"graft-http-$port-"

    def start(handler: Exchange => Unit): Unit =
      spawn("accept") { acceptLoop(handler) }

    private def spawn(name: String)(body: => Unit): Unit = {
      threads.removeIf(!_.isAlive)
      val t = new Thread(() => body, threadPrefix + name)
      t.setDaemon(true)
      threads.add(t)
      t.start()
    }

    private def acceptLoop(handler: Exchange => Unit): Unit =
      while (!stopped) {
        val s = try listener.accept() catch {
          case _: IOException if stopped => null
          case NonFatal(_) => Thread.sleep(10); null // e.g. out of file descriptors
        }
        if (s != null)
          try admit(s, handler) catch { case NonFatal(_) => s.close() }
      }

    private def admit(s: Socket, handler: Exchange => Unit): Unit = {
      s.setTcpNoDelay(true)
      if (live.get >= MaxConnections) {
        s.getOutputStream.write(wire(503,
          detail(s"connection limit ($MaxConnections) reached"), close = true, withBody = true))
        s.shutdownOutput()
        val in = s.getInputStream
        in.skip(in.available().toLong) // fewer resets under the reply
        s.close()
      } else {
        live.incrementAndGet()
        conns.add(s)
        def release(): Unit = { conns.remove(s); live.decrementAndGet(); s.close() }
        try spawn(s"conn-${serial.incrementAndGet()}") {
          try serve(s, handler) finally release()
        } catch { case NonFatal(e) => release(); throw e }
        if (stopped) s.close() // raced with stop(): it may have missed this socket
      }
    }

    def stop(): Unit = {
      stopped = true
      listener.close()
      conns.forEach(s => try s.close() catch { case NonFatal(_) => () })
      // a thread still inside a handler ends when the handler returns;
      // wait for it, within bounds
      val deadline = System.nanoTime() + 5000000000L
      val me = Thread.currentThread()
      def waiting = threads.stream().anyMatch(t => (t ne me) && t.isAlive)
      while (waiting && System.nanoTime() < deadline)
        threads.forEach { t =>
          if (t ne me) t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
        }
    }

    /** The request loop of one connection. */
    private def serve(s: Socket, handler: Exchange => Unit): Unit = {
      s.setSoTimeout(IdleTimeoutMs)
      val in = new Reader(s.getInputStream)
      val out = s.getOutputStream
      var open = true
      try while (open && !stopped) {
        val ex = try readRequest(in) catch {
          case r: Reject =>
            out.write(wire(r.code, detail(r.detail), close = true, withBody = true))
            linger(s)
            null
        }
        if (ex == null) open = false
        else {
          try handler(ex) catch {
            case NonFatal(e) => ex.respond(500, detail(e.getClass.getName))
          }
          if (ex.reply == null) ex.respond(500, detail("handler sent no response"))
          open = !in.closeAfter
          out.write(wire(ex.status, ex.reply, close = !open, withBody = ex.method != "HEAD"))
        }
      } catch {
        // EOF mid-request, idle timeout, or a socket closed by stop()
        case _: IOException => ()
      }
    }

    /** Half-close and drain what the client is still sending (bounded),
      * so closing does not reset the connection under the reply. */
    private def linger(s: Socket): Unit = {
      s.shutdownOutput()
      s.setSoTimeout(LingerMs)
      val in = s.getInputStream
      val sink = new Array[Byte](8192)
      var left = MaxBodyBytes.toLong
      var n = 0
      while (left > 0 && { n = in.read(sink); n > 0 }) left -= n
    }

    /** Read one request; null on EOF before its first byte. */
    private def readRequest(in: Reader): Exchange = {
      in.headLeft = MaxHeadBytes
      var line = in.line()
      while (line != null && line.isEmpty) line = in.line() // RFC 9112 §2.2
      if (line == null) return null
      val sp1 = line.indexOf(' ')
      val sp2 = line.lastIndexOf(' ')
      if (sp1 <= 0 || sp2 <= sp1 + 1) throw new Reject(400, "malformed request line")
      val method = line.substring(0, sp1)
      val target = line.substring(sp1 + 1, sp2)
      val version = line.substring(sp2 + 1)
      if (!version.startsWith("HTTP/") || target.indexOf(' ') >= 0)
        throw new Reject(400, "malformed request line")
      if (version != "HTTP/1.1" && version != "HTTP/1.0")
        throw new Reject(505, "unsupported HTTP version")
      val path =
        try {
          val p = new URI(target).getPath
          if (p == null) throw new Reject(400, "malformed request target") else p
        } catch { case _: java.net.URISyntaxException => throw new Reject(400, "malformed request target") }
      var length = -1L
      var close = version == "HTTP/1.0"
      var h = in.line()
      while (h != null && h.nonEmpty) {
        val c = h.indexOf(':')
        if (c <= 0) throw new Reject(400, "malformed header line")
        val name = h.substring(0, c)
        val value = h.substring(c + 1).trim
        if (name.equalsIgnoreCase("content-length")) {
          val n =
            if (value.isEmpty || !value.forall(ch => ch >= '0' && ch <= '9')) -1L
            else if (value.length > 18) Long.MaxValue // 413 below
            else value.toLong
          if (n < 0 || (length >= 0 && n != length)) throw new Reject(400, "malformed Content-Length")
          length = n
        } else if (name.equalsIgnoreCase("transfer-encoding"))
          throw new Reject(411, "Transfer-Encoding is not supported; send Content-Length")
        else if (name.equalsIgnoreCase("connection"))
          close ||= value.split(',').exists(_.trim.equalsIgnoreCase("close"))
        h = in.line()
      }
      if (h == null) throw new IOException("EOF inside the request head")
      if (length > MaxBodyBytes)
        throw new Reject(413, s"body of $length bytes exceeds $MaxBodyBytes")
      in.closeAfter = close
      new Exchange(method, path, in.bytes(math.max(length, 0L).toInt))
    }
  }

  /** Buffered reads off one socket: header lines against a byte budget,
    * then an exact-length body; bytes past a request stay for the next. */
  private final class Reader(in: InputStream) {
    private val buf = new Array[Byte](8192)
    private var pos = 0
    private var lim = 0
    /** A line that spans two socket reads is assembled here. */
    private var lineBuf = new Array[Byte](256)
    var headLeft = 0
    /** The request just read asked to end the connection after its reply. */
    var closeAfter = false

    private def fill(): Boolean = {
      val n = in.read(buf, 0, buf.length)
      pos = 0
      lim = math.max(n, 0)
      n > 0
    }

    /** One header line without its CRLF (or bare LF); null on EOF at its
      * start. Counts every byte against `headLeft`. */
    def line(): String = {
      var held = 0
      while (true) {
        if (pos == lim && !fill()) {
          if (held == 0) return null
          throw new IOException("EOF inside a header line")
        }
        var i = pos
        while (i < lim && buf(i) != '\n') i += 1
        val n = i - pos
        headLeft -= n + (if (i < lim) 1 else 0)
        if (headLeft < 0) throw new Reject(431, s"request head exceeds $MaxHeadBytes bytes")
        if (i < lim && held == 0) { // the whole line is in the buffer
          val s = new String(buf, pos, if (n > 0 && buf(i - 1) == '\r') n - 1 else n, ISO_8859_1)
          pos = i + 1
          return s
        }
        if (held + n > lineBuf.length)
          lineBuf = java.util.Arrays.copyOf(lineBuf, math.max(held + n, 2 * lineBuf.length))
        System.arraycopy(buf, pos, lineBuf, held, n)
        held += n
        pos = i
        if (i < lim) {
          pos += 1
          return new String(lineBuf, 0, if (lineBuf(held - 1) == '\r') held - 1 else held, ISO_8859_1)
        }
      }
      null
    }

    def bytes(n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var off = math.min(n, lim - pos)
      System.arraycopy(buf, pos, out, 0, off)
      pos += off
      while (off < n) {
        val r = in.read(out, off, n - off)
        if (r < 0) throw new IOException("EOF inside the request body")
        off += r
      }
      out
    }
  }
}
