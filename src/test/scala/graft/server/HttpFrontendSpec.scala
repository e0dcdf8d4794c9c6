package graft.server

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{Socket, URI}
import java.net.http.{HttpClient => JClient, HttpRequest => JRequest, HttpResponse => JResponse}

import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.sources.{HttpClient, HttpRequest, HttpResponse}

/** End-to-end HTTP frontend tests (reference E2 lifecycle,
  * `proto.go:149-212`): discover listing, command routing, control-stream
  * body parsing, dialect selection via SETTINGS, zstd negotiation, errors,
  * and the TCP_NODELAY socket contract.
  */
class HttpFrontendSpec extends AnyFunSuite {

  import HttpFrontendSpec.{src, upstream}

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

  test("burst beyond the bounded pool+queue stays live (caller-runs backpressure, no drops)") {
    // maxConcurrent=1 → 1 pool thread + 2 queue slots; 8 concurrent
    // requests overflow into caller-runs on the dispatcher. Every request
    // must still complete 200 — bounded resources degrade to serialized
    // service, never to rejected/dropped exchanges.
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
    // The JDK reads sun.net.httpserver.nodelay once per JVM, at the first
    // HttpServer it creates, and other suites in this shared test JVM create
    // their own. So the requests run in a fresh child JVM on the test
    // classpath, where HttpFrontend creates the first server whatever the
    // suite order.
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val proc = new ProcessBuilder(java, "-Xmx256m", "-cp", System.getProperty("java.class.path"),
      HttpFrontendNoDelayProbe.getClass.getName.stripSuffix("$"))
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    assert(proc.waitFor(60, TimeUnit.SECONDS), s"probe JVM did not exit:\n$out")
    assert(proc.exitValue() == 0, s"probe JVM failed:\n$out")

    val results = out.linesIterator.filter(_.startsWith("probe\t")).map(_.split("\t", -1)).toSeq
    assert(results.size == HttpFrontendNoDelayProbe.Requests, out)
    results.foreach { case Array(_, cmd, _, complete, last) =>
      assert(complete == "true", s"$cmd: chunked body not terminated")
      val want = if (cmd == "spec") """{"type":"SPEC"""" else """{"type":"STATE""""
      assert(last.startsWith(want), s"$cmd body ends with: $last")
    }
    // Nagle plus the client's delayed ACK puts every response at >= ~40 ms.
    val wallsMs = results.map(_(2).toLong / 1e6).sorted
    val medianMs = wallsMs(wallsMs.size / 2)
    assert(medianMs < 10.0, s"median request wall $medianMs ms; walls ${wallsMs.mkString(", ")}")
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
}

/** Child-JVM side of the TCP_NODELAY test in [[HttpFrontendSpec]]: starts an
  * HttpFrontend, sends `Requests` sequential requests (spec and a small read,
  * mixed) over one keep-alive socket, one write per request, and prints one
  * `probe<TAB>cmd<TAB>wallNanos<TAB>complete<TAB>lastBodyLine` line each.
  */
object HttpFrontendNoDelayProbe {
  val Requests = 40

  def main(args: Array[String]): Unit = {
    val fe = new HttpFrontend(Map("demo" -> HttpFrontendSpec.src), HttpFrontendSpec.upstream).start()
    val sock = new Socket("127.0.0.1", fe.boundPort)
    try {
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(30000)
      val os = sock.getOutputStream
      val in = new BufferedInputStream(sock.getInputStream)
      (0 until Requests).foreach { i =>
        val cmd = if (i % 3 == 0) "read" else "spec"
        val req = s"POST /demo/$cmd HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Length: 0\r\n\r\n"
        val t0 = System.nanoTime()
        os.write(req.getBytes(StandardCharsets.US_ASCII))
        os.flush()
        val (complete, body) = readChunkedResponse(in)
        val wall = System.nanoTime() - t0
        val last = body.linesIterator.filter(_.nonEmpty).toSeq.lastOption.getOrElse("")
        println(s"probe\t$cmd\t$wall\t$complete\t$last")
      }
    } finally { sock.close(); fe.stop() }
    sys.exit(0)
  }

  private def readLine(in: InputStream): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != -1 && c != '\n') { b.write(c); c = in.read() }
    b.toString(StandardCharsets.US_ASCII).stripSuffix("\r")
  }

  /** Status line and headers, then the chunked body up to its zero-size
    * terminator. Returns whether the terminator arrived, and the body.
    */
  private def readChunkedResponse(in: InputStream): (Boolean, String) = {
    val status = readLine(in)
    require(status.startsWith("HTTP/1.1 200"), s"status: $status")
    Iterator.continually(readLine(in)).takeWhile(_.nonEmpty).foreach(_ => ())
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
}
