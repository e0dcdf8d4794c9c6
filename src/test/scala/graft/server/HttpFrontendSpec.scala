package graft.server

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.lang.management.ManagementFactory
import java.net.{Socket, URI}
import java.net.http.{HttpClient => JClient, HttpRequest => JRequest, HttpResponse => JResponse}

import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletableFuture, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.http.Http11
import graft.sources.{HttpClient, HttpRequest, HttpResponse}

/** End-to-end HTTP frontend tests (reference E2 lifecycle,
  * `proto.go:149-212`): discover listing, command routing, control-stream
  * body parsing, dialect selection via SETTINGS, zstd negotiation, errors,
  * the keep-alive/TCP_NODELAY socket contract, and the HTTP/1.1 wire cases
  * the server's own loop handles (raw sockets).
  */
class HttpFrontendSpec extends AnyFunSuite {

  import HttpFrontendSpec._

  private lazy val fe = new HttpFrontend(Map("demo" -> src), upstream,
    clock = () => 1700000000000L).start()
  private lazy val http = JClient.newHttpClient()
  private def url(p: String) = s"http://127.0.0.1:${fe.boundPort}$p"

  private def post(path: String, body: String, headers: (String, String)*): JResponse[Array[Byte]] = {
    val b = JRequest.newBuilder(URI.create(url(path)))
      .POST(JRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    http.send(b.build(), JResponse.BodyHandlers.ofByteArray())
  }

  test("burst of concurrent connections at maxConcurrent = 1 stays live (no drops)") {
    // 8 concurrent requests, each on a connection of its own, against a
    // frontend that runs one command at a time. Every request must still
    // complete 200 — bounded resources degrade to serialized service,
    // never to rejected/dropped requests.
    val burstFe = new HttpFrontend(Map("demo" -> src), upstream,
      clock = () => 1700000000000L, maxConcurrent = 1).start()
    try {
      val futures = (1 to 8).map { _ =>
        http.sendAsync(
          JRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${burstFe.boundPort}/discover")).GET().build(),
          JResponse.BodyHandlers.ofString())
      }
      val codes = futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS).statusCode())
      assert(codes.forall(_ == 200), s"burst statuses: $codes")
    } finally burstFe.stop()
  }

  test("GET /discover lists connectors (proto.go:149-160)") {
    val r = http.send(JRequest.newBuilder(URI.create(url("/discover"))).GET().build(),
      JResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    assert(r.body() == """["demo"]""")
  }

  test("POST /{connector}/read runs sync, body as control stream (E2)") {
    val r = post("/demo/read", "")
    val lines = new String(r.body(), "UTF-8").linesIterator.toList
    assert(lines.head ==
      """{"type":"RECORD","record":{"stream":"orders","emitted_at":1700000000000,"data":{"id":7}}}""")
    assert(lines.last.startsWith("""{"type":"STATE""""))
  }

  test("dialect selected by SETTINGS line in body (proto.go:103-107)") {
    val r = post("/demo/read", """{"type":"SETTINGS","settings":{"format":"singer"}}""")
    val lines = new String(r.body(), "UTF-8").linesIterator.toList
    assert(lines.head.startsWith("""{"type":"SCHEMA","stream":"orders""""))
  }

  test("Accept-Zstd → zstd body + X-Compression header (proto.go:196-204)") {
    val r = post("/demo/spec", "", "Accept-Zstd" -> "true")
    assert(r.headers().firstValue("X-Compression").orElse("") == "zstd")
    val decompressed = new String(
      new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(r.body())).readAllBytes(), "UTF-8")
    assert(decompressed.startsWith("""{"type":"SPEC""""))
  }

  test("unknown SETTINGS format → 400 with an error body, never an empty 200") {
    val r = post("/demo/read", """{"type":"SETTINGS","settings":{"format":"csv"}}""")
    assert(r.statusCode() == 400, s"got ${r.statusCode()}")
    val body = new String(r.body(), java.nio.charset.StandardCharsets.UTF_8)
    assert(body.contains("unknown format") && body.contains("csv"), body)
  }

  test("unknown connector → 404, unknown command → 400") {
    assert(post("/nope/read", "").statusCode() == 404)
    assert(post("/demo/frobnicate", "").statusCode() == 400)
  }

  test("signed-token auth (C7, main.go:34-98): scope, expiry, allow-list, signature") {
    val kp = TokenAuth.generateKeyPair()
    val pub = TokenAuth.rawPublicKey(kp.getPublic)
    val nowSec = 1700000000L
    val authFe = new HttpFrontend(Map("demo" -> src), upstream,
      clock = () => nowSec * 1000, authKeys = Seq(pub)).start()
    try {
      def call(path: String, auth: Option[String]): Int = {
        val b = JRequest.newBuilder(URI.create(s"http://127.0.0.1:${authFe.boundPort}$path"))
          .POST(JRequest.BodyPublishers.ofString(""))
        auth.foreach(a => b.header("Authorization", a))
        http.send(b.build(), JResponse.BodyHandlers.ofByteArray()).statusCode()
      }
      val good = TokenAuth.signToken(
        TokenAuth.Token(nowSec + 3600, "/demo/", pub), kp.getPrivate)
      assert(call("/demo/spec", Some(good)) == 200)
      assert(call("/demo/spec", None) == 401)                       // missing token
      assert(call("/nope/read", Some(good)) == 401)                 // path outside token scope
      val expired = TokenAuth.signToken(
        TokenAuth.Token(nowSec - 1, "/demo/", pub), kp.getPrivate)
      assert(call("/demo/spec", Some(expired)) == 401)              // expired
      val otherKp = TokenAuth.generateKeyPair()
      val wrongKey = TokenAuth.signToken(                           // key not allow-listed
        TokenAuth.Token(nowSec + 3600, "/demo/", TokenAuth.rawPublicKey(otherKp.getPublic)),
        otherKp.getPrivate)
      assert(call("/demo/spec", Some(wrongKey)) == 401)
      val forged = TokenAuth.signToken(                             // embedded allow-listed key,
        TokenAuth.Token(nowSec + 3600, "/demo/", pub), otherKp.getPrivate) // signed by another
      assert(call("/demo/spec", Some(forged)) == 401)
      assert(call("/demo/spec", Some("garbage")) == 401)            // malformed
      // raw key round-trip: wire form ↔ JDK key
      val rt = TokenAuth.rawPublicKey(TokenAuth.publicKeyFromRaw(pub))
      assert(rt.toSeq == pub.toSeq)
      // dot-segment traversal: /demo/../nope/read normalizes to /nope/read,
      // which is OUTSIDE the /demo/ scope — the scope check and the router
      // must agree on the normalized path (401, not a scoped-path pass)
      assert(call("/demo/../nope/read", Some(good)) == 401)
      // percent-encoded dot-segments must decode BEFORE normalization:
      // %2e%2e is '..' once decoded, so this also escapes the /demo/ scope
      assert(call("/demo/%2e%2e/nope/read", Some(good)) == 401)
      assert(call("/demo/./spec", Some(good)) == 200) // ./ normalizes harmlessly within scope
      assert(call("/..foo/read", Some(good)) == 401)  // '..'-PREFIXED segment is a normal name
                                                      // (out of scope → 401, not a 400 reject)
    } finally authFe.stop()
  }

  test("connectors registered after server start are served (live registry)") {
    val registry = new scala.collection.concurrent.TrieMap[String, SourceDef]()
    registry.put("demo", src)
    val dynFe = new HttpFrontend(registry.toMap, upstream, clock = () => 1700000000000L).start()
    try {
      def discover(): String = http.send(
        JRequest.newBuilder(URI.create(s"http://127.0.0.1:${dynFe.boundPort}/discover")).GET().build(),
        JResponse.BodyHandlers.ofString()).body()
      assert(discover() == """["demo"]""")
      registry.put("late", src.copy(name = "late"))
      assert(discover() == """["demo","late"]""") // no restart needed
    } finally dynFe.stop()
  }

  test("sequential requests on one keep-alive socket: bodies complete, none stalls on delayed ACK") {
    // spec and a small read, mixed, each request sent in one write on one
    // socket. Nagle plus the client's delayed ACK puts every response at
    // >= ~40 ms.
    val wallsMs = wire(fe) { (os, in) =>
      (0 until 40).map { i =>
        val cmd = if (i % 3 == 0) "read" else "spec"
        val t0 = System.nanoTime()
        send(os, s"POST /demo/$cmd HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Length: 0\r\n\r\n")
        val (complete, body) = readChunkedResponse(in)
        val wall = System.nanoTime() - t0
        assert(complete, s"$cmd: chunked body not terminated")
        val last = body.linesIterator.filter(_.nonEmpty).toSeq.lastOption.getOrElse("")
        val want = if (cmd == "spec") """{"type":"SPEC"""" else """{"type":"STATE""""
        assert(last.startsWith(want), s"$cmd body ends with: $last")
        wall / 1e6
      }.sorted
    }
    val medianMs = wallsMs(wallsMs.size / 2)
    assert(medianMs < 10.0, s"median request wall $medianMs ms; walls ${wallsMs.mkString(", ")}")
  }

  test("a sync that dies after its response started is cut off, never terminated as complete") {
    // 2,000-record pages: the head and the first 64 KiB are on the wire
    // long before the fetch of page 4 dies with a fatal error.
    val page = (0 until 2000).map(i => s"""{"id":$i}""").mkString("[", ",", "]")
    val fetches = new AtomicInteger()
    val failing: HttpClient = (_: HttpRequest) => {
      val n = fetches.incrementAndGet()
      if (n == 4) throw new StackOverflowError("page 4")
      HttpResponse(200, s"""{"items":$page,"next":"http://up/orders?page=${n + 1}"}""", Map.empty)
    }
    val failFe = new HttpFrontend(Map("demo" -> src), failing, clock = () => 1700000000000L).start()
    try wire(failFe) { (os, in) =>
      send(os, "POST /demo/read HTTP/1.1\r\nHost: x\r\nContent-Length: 0\r\n\r\n")
      val (complete, body) = readChunkedResponse(in)
      assert(fetches.get() == 4)
      assert(body.linesIterator.count(_.contains("\"RECORD\"")) >= 2000, "the head and pages went out")
      assert(!complete, "a failed sync's body ended with the chunked terminator")
      assert(!body.contains("\"STATE\""), "a failed sync emitted STATE")
      assert(in.read() == -1, "the connection stays open after a failed sync")
    } finally failFe.stop()
  }

  test("maxConcurrent bounds concurrent syncs, not connections") {
    val running = new AtomicInteger()
    val most = new AtomicInteger()
    val slow: HttpClient = (_: HttpRequest) => {
      most.accumulateAndGet(running.incrementAndGet(), math.max)
      try Thread.sleep(300) finally running.decrementAndGet()
      HttpResponse(200, """{"items":[{"id":7}],"next":null}""", Map.empty)
    }
    val oneFe = new HttpFrontend(Map("demo" -> src), slow,
      clock = () => 1700000000000L, maxConcurrent = 1).start()
    try {
      val replies = (1 to 2).map { _ =>
        CompletableFuture.supplyAsync(() => wire(oneFe) { (os, in) =>
          send(os, "POST /demo/read HTTP/1.1\r\nHost: x\r\nContent-Length: 0\r\n\r\n")
          readReply(in)
        })
      }.map(_.get(30, TimeUnit.SECONDS))
      replies.foreach { r =>
        assert(r.status == 200 && r.complete, r)
        assert(r.body.linesIterator.toSeq.last.startsWith("""{"type":"STATE""""), r.body)
      }
      assert(most.get() == 1, s"${most.get()} syncs ran at once")
    } finally oneFe.stop()
  }

  test("Expect: 100-continue gets the interim response before the body is read") {
    wire(fe) { (os, in) =>
      val body = """{"type":"SETTINGS","settings":{"format":"singer"}}""" + "\n"
      send(os, s"POST /demo/read HTTP/1.1\r\nHost: x\r\nContent-Length: ${body.length}\r\n" +
        "Expect: 100-continue\r\n\r\n")
      assert(readLine(in) == "HTTP/1.1 100 Continue")
      assert(readLine(in) == "")
      send(os, body)
      val r = readReply(in)
      assert(r.status == 200 && r.complete, r)
      assert(r.body.startsWith("""{"type":"SCHEMA","stream":"orders""""), r.body)
    }
  }

  test("chunked request body is the control stream") {
    wire(fe) { (os, in) =>
      val body = """{"type":"SETTINGS","settings":{"format":"singer"}}""" + "\n"
      val (a, b) = body.splitAt(20)
      send(os, "POST /demo/read HTTP/1.1\r\nHost: x\r\nTransfer-Encoding: chunked\r\n\r\n" +
        s"${a.length.toHexString}\r\n$a\r\n${b.length.toHexString};ext=1\r\n$b\r\n0\r\n\r\n")
      val r = readReply(in)
      assert(r.status == 200 && r.complete, r)
      assert(r.body.startsWith("""{"type":"SCHEMA","stream":"orders""""), r.body)
    }
  }

  test("HTTP/1.0 request: close-delimited body and Connection: close") {
    wire(fe) { (os, in) =>
      send(os, "POST /demo/spec HTTP/1.0\r\nContent-Length: 0\r\n\r\n")
      val r = readReply(in)
      assert(r.status == 200, r)
      assert(r.headers.get("connection").contains("close"), r.headers)
      assert(!r.headers.contains("transfer-encoding") && !r.headers.contains("content-length"), r.headers)
      assert(r.body.startsWith("""{"type":"SPEC""""), r.body)
    }
  }

  test("requests pipelined in one write get their responses, in order (HEAD: no body)") {
    wire(fe) { (os, in) =>
      send(os, "POST /demo/spec HTTP/1.1\r\nHost: x\r\nContent-Length: 0\r\n\r\n" +
        "HEAD /discover HTTP/1.1\r\nHost: x\r\n\r\n" +
        "GET /discover HTTP/1.1\r\nHost: x\r\n\r\n")
      val first = readReply(in)
      val head = readReply(in, headOnly = true)
      val third = readReply(in)
      assert(first.status == 200 && first.complete && first.body.startsWith("""{"type":"SPEC""""), first)
      assert(head.status == 200 && head.headers.get("transfer-encoding").contains("chunked"), head)
      assert(third.status == 200 && third.complete && third.body == """["demo"]""", third)
    }
  }

  test("Content-Length together with Transfer-Encoding → 400, then close") {
    wire(fe) { (os, in) =>
      send(os, "POST /demo/spec HTTP/1.1\r\nHost: x\r\nContent-Length: 5\r\n" +
        "Transfer-Encoding: chunked\r\n\r\n0\r\n\r\n")
      val r = readReply(in)
      assert(r.status == 400 && r.complete, r)
      assert(r.headers.get("connection").contains("close"), r.headers)
      assert(in.read() == -1, "connection left open")
    }
  }

  test("oversize header block → 431, oversize request line → 414") {
    wire(fe) { (os, in) =>
      send(os, "GET /discover HTTP/1.1\r\nHost: x\r\nX-Big: " + "a" * (70 << 10) + "\r\n\r\n")
      assert(readReply(in).status == 431)
      assert(in.read() == -1, "connection left open")
    }
    wire(fe) { (os, in) =>
      send(os, "GET /discover?" + "a" * (9 << 10) + " HTTP/1.1\r\nHost: x\r\n\r\n")
      assert(readReply(in).status == 414)
    }
  }

  test("a declared body size allocates nothing before its bytes arrive; other connections are served") {
    val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    def readingBodies(): Seq[Thread] = Thread.getAllStackTraces.asScala.collect {
      case (t, frames) if t.getName == "graft-http" && frames.exists(f =>
        f.getClassName == "graft.http.Http11$Reader" && f.getMethodName == "readFully") => t
    }.toSeq
    val socks = Seq(
      "Content-Length: 2000000000\r\n\r\nabc",
      "Transfer-Encoding: chunked\r\n\r\n7ffffff0\r\nabc").map { h =>
      val s = new Socket("127.0.0.1", fe.boundPort)
      send(s.getOutputStream, s"POST /demo/read HTTP/1.1\r\nHost: x\r\n$h")
      s
    }
    try {
      val deadline = System.nanoTime + 10000000000L
      var reading = readingBodies()
      while (reading.size < 2 && System.nanoTime < deadline) { Thread.sleep(10); reading = readingBodies() }
      assert(reading.size == 2, "the server is not waiting for both bodies")
      reading.foreach { t =>
        val allocated = threads.getThreadAllocatedBytes(t.getId)
        assert(allocated < (64L << 20), s"${t.getName}: $allocated bytes allocated")
      }
      wire(fe) { (os, in) =>
        send(os, "GET /discover HTTP/1.1\r\nHost: x\r\n\r\n")
        val r = readReply(in)
        assert(r.status == 200 && r.body == """["demo"]""", r)
      }
    } finally socks.foreach(_.close())
  }

  test("malformed request target → 400") {
    Seq("/demo/%zz", "demo/spec", "/a|b").foreach { target =>
      wire(fe) { (os, in) =>
        send(os, s"GET $target HTTP/1.1\r\nHost: x\r\n\r\n")
        val r = readReply(in)
        assert(r.status == 400, s"$target: $r")
        assert(r.body.contains("malformed request target"), r.body)
      }
    }
  }

  test("response writes: head in the first, terminator in the last, none but the last under 64 KiB") {
    val writes = Seq.newBuilder[Array[Byte]]
    val sock = new OutputStream {
      override def write(b: Int): Unit = writes += Array(b.toByte)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = writes += b.slice(off, off + len)
    }
    val out = new Http11.ResponseOut(sock)
    val body = (0 until 40000).map(i => s"line $i\n").mkString.getBytes(StandardCharsets.UTF_8)
    val stream = out.begin(None, 200, close = false, Nil)
    body.grouped(1000).foreach(stream.write)
    assert(out.headSent)
    out.finish()
    val ws = writes.result()
    assert(ws.size > 2, ws.map(_.length))
    assert(ws.init.forall(_.length == Http11.WriteSize), ws.map(_.length))
    assert(new String(ws.head, StandardCharsets.US_ASCII).startsWith("HTTP/1.1 200 OK\r\n"))
    assert(new String(ws.last, StandardCharsets.US_ASCII).endsWith("\r\n0\r\n\r\n"))
    val wire = new java.io.ByteArrayInputStream(ws.flatten.toArray)
    val r = readReply(wire)
    assert(r.status == 200 && r.complete && wire.read() == -1)
    assert(r.body == new String(body, StandardCharsets.UTF_8))
  }
}

object HttpFrontendSpec {
  private val ordersDef = StreamDef("orders",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))

  private class StubRunner extends HttpRunner {
    override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
        state: Option[com.fasterxml.jackson.databind.JsonNode]) =
      graft.sources.PaginatedStream(HttpRequest("http://up/orders"),
        graft.sources.Pagination.NextUrl("next"), Seq("items"))
  }

  val upstream: HttpClient = (_: HttpRequest) =>
    HttpResponse(200, """{"items":[{"id":7}],"next":null}""", Map.empty)

  val src = SourceDef(name = "demo", httpStreams = Seq(ordersDef -> new StubRunner))

  /** One raw connection to `fe`, closed after `f`. */
  def wire[T](fe: HttpFrontend)(f: (OutputStream, InputStream) => T): T = {
    val sock = new Socket("127.0.0.1", fe.boundPort)
    try {
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(30000)
      f(sock.getOutputStream, new BufferedInputStream(sock.getInputStream))
    } finally sock.close()
  }

  def send(os: OutputStream, s: String): Unit = {
    os.write(s.getBytes(StandardCharsets.ISO_8859_1))
    os.flush()
  }

  def readLine(in: InputStream): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != -1 && c != '\n') { b.write(c); c = in.read() }
    b.toString(StandardCharsets.US_ASCII).stripSuffix("\r")
  }

  /** Status line and headers, then the chunked body up to its zero-size
    * terminator. Returns whether the terminator arrived, and the body.
    */
  def readChunkedResponse(in: InputStream): (Boolean, String) = {
    val status = readLine(in)
    require(status.startsWith("HTTP/1.1 200"), s"status: $status")
    Iterator.continually(readLine(in)).takeWhile(_.nonEmpty).foreach(_ => ())
    readChunks(in)
  }

  private def readChunks(in: InputStream): (Boolean, String) = {
    val body = new ByteArrayOutputStream()
    var size = -1
    while (size != 0) {
      val sizeLine = readLine(in)
      if (sizeLine.isEmpty) return (false, body.toString(StandardCharsets.UTF_8))
      size = Integer.parseInt(sizeLine.takeWhile(_ != ';').trim, 16)
      body.write(in.readNBytes(size))
      readLine(in) // CRLF after the chunk data, or the empty trailer after the last chunk
    }
    (true, body.toString(StandardCharsets.UTF_8))
  }

  /** One response; `complete` says its body ended as its framing says. */
  final case class Reply(status: Int, headers: Map[String, String], body: String, complete: Boolean)

  def readReply(in: InputStream, headOnly: Boolean = false): Reply = {
    val status = readLine(in).split(' ')(1).toInt
    val headers = Iterator.continually(readLine(in)).takeWhile(_.nonEmpty).map { h =>
      val i = h.indexOf(':'); h.substring(0, i).toLowerCase -> h.substring(i + 1).trim
    }.toMap
    if (headOnly) Reply(status, headers, "", complete = true)
    else if (headers.get("transfer-encoding").contains("chunked")) {
      val (complete, body) = readChunks(in)
      Reply(status, headers, body, complete)
    } else headers.get("content-length") match {
      case Some(n) =>
        val body = in.readNBytes(n.toInt)
        Reply(status, headers, new String(body, StandardCharsets.UTF_8), body.length == n.toInt)
      case None => // close-delimited
        Reply(status, headers, new String(in.readAllBytes(), StandardCharsets.UTF_8), complete = true)
    }
  }
}

