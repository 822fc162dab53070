package graft.serve

import java.io.{BufferedInputStream, ByteArrayOutputStream, IOException}
import java.net.{InetAddress, ServerSocket, Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.US_ASCII

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.scalatest.funsuite.AnyFunSuite

import HttpEdgeSpec.Reply

/** The HTTP/1.1 edge under [[HttpApi]], spoken to over raw sockets:
  * keep-alive, connection close rules, h2c upgrade requests, handler
  * failures, `stop()`, the connection cap, and the request limits the
  * edge answers itself (400/411/413/431). */
class HttpEdgeSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** A raw client socket with the reply parsing the tests need. */
  private final class Raw(port: Int) {
    val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(10000)
    private val in = new BufferedInputStream(sock.getInputStream)
    def send(s: String): Unit = { sock.getOutputStream.write(s.getBytes(US_ASCII)); sock.getOutputStream.flush() }
    private def line(): String = {
      val b = new ByteArrayOutputStream()
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new IOException("closed")
        if (c != '\r') b.write(c)
        c = in.read()
      }
      b.toString(US_ASCII)
    }
    def reply(): Reply = {
      val status = line().split(' ')(1).toInt
      val hs = Iterator.continually(line()).takeWhile(_.nonEmpty).map { h =>
        val c = h.indexOf(':')
        h.substring(0, c).trim.toLowerCase -> h.substring(c + 1).trim
      }.toMap
      Reply(status, hs, new String(in.readNBytes(hs("content-length").toInt), US_ASCII))
    }
    def call(s: String): Reply = { send(s); reply() }
    /** True once the server has closed its side (EOF or a reset). */
    def closedByServer(): Boolean =
      try in.read() == -1 catch { case _: IOException => true }
    def close(): Unit = sock.close()
  }

  private def get(path: String, extra: String = "") =
    s"GET $path HTTP/1.1\r\nHost: x\r\n$extra\r\n"
  private def post(path: String, body: String, extra: String = "") =
    s"POST $path HTTP/1.1\r\nHost: x\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${body.getBytes(US_ASCII).length}\r\n$extra\r\n$body"

  private def txn(id: String) =
    s"""{"transaction_id":"$id","user_id":"U1","transaction_amount":1500,"merchant_id":"M1",""" +
      """"transaction_timestamp":"2026-02-12T03:00:00"}"""

  private def withServer[T](s: HttpApi.Server)(f: HttpApi.Server => T): T =
    try f(s) finally s.stop()

  private def edgeThreads(port: Int): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(s"graft-http-$port-"))

  test("keep-alive: 150 requests and a pipelined pair on one connection") {
    withServer(HttpApi.start()) { s =>
      val c = new Raw(s.port)
      try {
        (0 until 150).foreach { i =>
          val r = if (i % 2 == 0) c.call(get("/health")) else c.call(post("/score", txn(s"T$i")))
          assert(r.status == 200, r)
          assert(!r.headers.contains("connection"))
          if (i % 2 == 1) assert(mapper.readTree(r.body).path("transaction_id").asText == s"T$i")
        }
        // two requests in one write: the bytes past the first stay buffered
        c.send(post("/score", txn("P1")) + post("/score", txn("P2")))
        assert(mapper.readTree(c.reply().body).path("transaction_id").asText == "P1")
        assert(mapper.readTree(c.reply().body).path("transaction_id").asText == "P2")
      } finally c.close()
    }
  }

  test("Connection: close and HTTP/1.0 close the connection after the reply") {
    withServer(HttpApi.start()) { s =>
      val a = new Raw(s.port)
      val r = a.call(get("/health", "Connection: close\r\n"))
      assert(r.status == 200 && r.headers.get("connection").contains("close"))
      assert(a.closedByServer())
      a.close()
      val b = new Raw(s.port)
      val r10 = b.call(s"POST /score HTTP/1.0\r\nContent-Length: ${txn("T").length}\r\n\r\n${txn("T")}")
      assert(r10.status == 200 && r10.headers.get("connection").contains("close"))
      assert(b.closedByServer())
      b.close()
    }
  }

  test("h2c Upgrade requests, the JDK HttpClient's default, are answered as HTTP/1.1") {
    withServer(HttpApi.start()) { s =>
      val c = new Raw(s.port)
      try {
        val r = c.call(post("/score", txn("U"),
          "Connection: Upgrade, HTTP2-Settings\r\nUpgrade: h2c\r\n" +
            "HTTP2-Settings: AAEAAEAAAAIAAAABAAMAAABkAAQBAAAAAAUAAEAA\r\n"))
        assert(r.status == 200)
        assert(c.call(get("/health")).status == 200) // still the same HTTP/1.1 connection
      } finally c.close()
      val client = HttpClient.newHttpClient()
      assert(client.version == HttpClient.Version.HTTP_2)
      (1 to 3).foreach { _ =>
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${s.port}/score"))
            .POST(HttpRequest.BodyPublishers.ofString(txn("C"))).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode == 200)
        assert(resp.version == HttpClient.Version.HTTP_1_1)
      }
    }
  }

  test("a handler exception answers 500 and the connection serves the next request") {
    val hook: Transaction => Double =
      t => if (t.transaction_id == "boom") throw new IllegalStateException("boom") else 0.5
    withServer(HttpApi.start(model = Some(("M", hook)))) { s =>
      val c = new Raw(s.port)
      try {
        val bad = c.call(post("/score", txn("boom")))
        assert(bad.status == 500 && mapper.readTree(bad.body).path("detail").asText == "boom")
        assert(c.call(post("/score", txn("fine"))).status == 200)
        assert(c.call(post("/score", txn("boom"))).status == 500)
        assert(c.call(get("/health")).status == 200)
      } finally c.close()
    }
  }

  test("stop() closes live keep-alive connections, frees the port, ends every edge thread") {
    val s = HttpApi.start()
    val port = s.port
    val cs = (1 to 3).map(_ => new Raw(port))
    cs.foreach(c => assert(c.call(get("/health")).status == 200))
    assert(edgeThreads(port).size == 4) // acceptor + one per connection
    s.stop()
    cs.foreach { c => assert(c.closedByServer()); c.close() }
    assert(edgeThreads(port).isEmpty, edgeThreads(port).map(_.getName))
    val again = new ServerSocket(port, 0, InetAddress.getByName("127.0.0.1"))
    again.close()
  }

  test(s"the connection after ${HttpEdge.MaxConnections} open ones gets 503 and is closed") {
    withServer(HttpApi.start()) { s =>
      val open = (1 to HttpEdge.MaxConnections).map(_ => new Raw(s.port))
      try {
        open.foreach(c => assert(c.call(get("/health")).status == 200))
        val over = new Raw(s.port)
        val r = over.call(get("/health"))
        assert(r.status == 503 && r.headers.get("connection").contains("close"))
        assert(mapper.readTree(r.body).path("detail").asText.contains("connection limit"))
        assert(over.closedByServer())
        over.close()
        // a freed slot is served again
        open.head.close()
        val deadline = System.nanoTime() + 5000000000L
        var status = 0
        while (status != 200 && System.nanoTime() < deadline) {
          val c = new Raw(s.port)
          status = c.call(get("/health")).status
          c.close()
          if (status != 200) Thread.sleep(20)
        }
        assert(status == 200)
        assert(open(1).call(get("/health")).status == 200) // the others stayed open
      } finally open.foreach(_.close())
    }
  }

  test("request limits: 413, 411, 400, 431 close that connection; others keep serving") {
    withServer(HttpApi.start()) { s =>
      def rejected(req: String, tail: Array[Byte] = Array.emptyByteArray): Reply = {
        val keep = new Raw(s.port) // an open connection next to the rejected one
        assert(keep.call(get("/health")).status == 200)
        val c = new Raw(s.port)
        c.send(req)
        if (tail.nonEmpty) c.sock.getOutputStream.write(tail)
        val r = c.reply()
        assert(r.headers.get("connection").contains("close"))
        assert(mapper.readTree(r.body).path("detail").isTextual)
        assert(c.closedByServer())
        c.close()
        assert(keep.call(get("/health")).status == 200)
        keep.close()
        r
      }
      val tooBig = HttpEdge.MaxBodyBytes + 1
      assert(rejected(s"POST /score HTTP/1.1\r\nContent-Length: $tooBig\r\n\r\n",
        new Array[Byte](64 << 10)).status == 413)
      assert(rejected(s"POST /score HTTP/1.1\r\nContent-Length: 99999999999999999999999\r\n\r\n")
        .status == 413)
      assert(rejected("POST /score HTTP/1.1\r\nTransfer-Encoding: chunked\r\n\r\n" +
        "5\r\nhello\r\n0\r\n\r\n").status == 411)
      assert(rejected("HELLO\r\n\r\n").status == 400)
      assert(rejected("GET /health\r\n\r\n").status == 400)
      assert(rejected("POST /score HTTP/1.1\r\nContent-Length: abc\r\n\r\n").status == 400)
      assert(rejected("POST /score HTTP/1.1\r\nContent-Length: -1\r\n\r\n").status == 400)
      assert(rejected("POST /score HTTP/1.1\r\nContent-Length: 2\r\nContent-Length: 3\r\n\r\n")
        .status == 400)
      assert(rejected("GET /health HTTP/1.1\r\nno colon here\r\n\r\n").status == 400)
      assert(rejected(s"GET /health HTTP/1.1\r\nX-Big: ${"a" * HttpEdge.MaxHeadBytes}\r\n\r\n")
        .status == 431)
      // the body cap is exact: a body of exactly the cap is read and routed
      val c = new Raw(s.port)
      try {
        val r = c.call(post("/score", " " * (HttpEdge.MaxBodyBytes - 2) + "{}"))
        assert(r.status == 422) // parsed, and rejected by the handler, not the edge
        assert(c.call(get("/health")).status == 200)
      } finally c.close()
    }
  }
}

private object HttpEdgeSpec {
  final case class Reply(status: Int, headers: Map[String, String], body: String)
}
