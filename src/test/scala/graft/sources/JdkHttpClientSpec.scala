package graft.sources

import java.io.{EOFException, IOException, StringWriter}
import java.lang.management.ManagementFactory
import java.net.{InetAddress, InetSocketAddress, Proxy, ProxySelector, ServerSocket, Socket, SocketAddress,
  SocketTimeoutException, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.KeyStore
import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, CyclicBarrier, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicBoolean
import javax.net.ssl.{HttpsURLConnection, KeyManagerFactory, SSLContext, SSLException, TrustManagerFactory}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.sun.net.httpserver.{HttpsConfigurator, HttpsServer}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Cmd, Connector, HttpRunner, Json, RunConfig, SourceDef, StreamDef}

/** `JdkHttpClient` on the wire, against in-process raw-socket origins:
  * connection reuse, response framing, what is sent, timeouts, cut-short
  * bodies, TLS and proxies.
  */
class JdkHttpClientSpec extends AnyFunSuite {
  import RawOrigin._

  private def path(head: String): String = head.split(' ')(1)

  /** A test whose body runs under [[within]], so that a client that hangs
    * fails the test instead of hanging the suite.
    */
  private def wire(name: String)(body: => Unit): Unit = test(name)(within(60000)(body).get)

  /** `body` on a daemon thread, waited for at most `ms`. */
  private def within[T](ms: Long)(body: => T): Try[T] = {
    val f = new CompletableFuture[Try[T]]()
    val t = new Thread(() => { f.complete(Try(body)); () }, "within")
    t.setDaemon(true)
    t.start()
    try f.get(ms, TimeUnit.MILLISECONDS)
    catch { case _: TimeoutException => fail(s"the call had not returned after $ms ms") }
  }

  wire("sequential GETs share one connection; concurrent GETs each open their own") {
    val c = new JdkHttpClient()
    val seq = new RawOrigin((n, _) => ok(s"""{"n":$n}"""))
    try {
      (0 until 5).foreach(i => assert(c.get(HttpRequest(seq.url(s"/s$i"))).body == s"""{"n":$i}"""))
      assert(seq.accepted.get == 1)
    } finally seq.close()
    val barrier = new CyclicBarrier(3)
    val par = new RawOrigin((_, _) => { barrier.await(10, TimeUnit.SECONDS); ok("{}") })
    try {
      val gets = (0 until 3).map(i => CompletableFuture.supplyAsync(() => c.get(HttpRequest(par.url(s"/p$i")))))
      assert(gets.map(_.get(20, TimeUnit.SECONDS).status) == Seq(200, 200, 200))
      assert(par.accepted.get == 3)
    } finally par.close()
  }

  wire("a server that closes after each response, without Connection: close: every GET succeeds, none sent more than twice") {
    val o = new RawOrigin((_, _) => ok("{}").copy(close = true))
    try {
      val c = new JdkHttpClient()
      (0 until 10).foreach(i => assert(c.get(HttpRequest(o.url(s"/g$i"))).status == 200))
      val sent = o.requests.groupBy(path).map { case (p, hs) => p -> hs.size }
      assert(sent.keySet == (0 until 10).map(i => s"/g$i").toSet, sent)
      assert(sent.values.forall(_ <= 2), sent)
    } finally o.close()
  }

  wire("chunked, 1xx, 204, Connection: close, close-delimited and HTTP/1.0 responses") {
    val o = new RawOrigin((_, head) => path(head) match {
      case "/chunked" => raw("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
        "5\r\nhello\r\n6;ext=1\r\n world\r\n0\r\nX-Trailer: t\r\n\r\n")
      case "/interim" => Reply(raw("HTTP/1.1 100 Continue\r\n\r\nHTTP/1.1 103 Early Hints\r\nLink: </a>\r\n\r\n")
        .bytes ++ ok("ok").bytes)
      case "/no-content" => raw("HTTP/1.1 204 No Content\r\n\r\n")
      case "/conn-close" => ok("bye", "Connection: close") // the server keeps it open
      case "/to-close" => raw("HTTP/1.1 200 OK\r\n\r\nto the end", close = true)
      case "/http10" => raw("HTTP/1.0 200 OK\r\nContent-Length: 2\r\n\r\nok")
    })
    try {
      val c = new JdkHttpClient()
      def get(p: String) = c.get(HttpRequest(o.url(p)))
      val steps = Seq(
        ("/chunked", 200, "hello world", 1),
        ("/interim", 200, "ok", 1),        // on the pooled connection
        ("/no-content", 204, "", 1),
        ("/conn-close", 200, "bye", 1),    // then not reused
        ("/chunked", 200, "hello world", 2),
        ("/to-close", 200, "to the end", 2),
        ("/http10", 200, "ok", 3),         // no keep-alive: not reused
        ("/chunked", 200, "hello world", 4))
      steps.foreach { case (p, status, body, connections) =>
        val r = get(p)
        assert((r.status, r.body, o.accepted.get) == ((status, body, connections)), p)
        if (p == "/interim") assert(r.header("Link").isEmpty, "an interim response's header leaked")
      }
    } finally o.close()
  }

  wire("an oversize header block or a malformed status line is an IOException") {
    val o = new RawOrigin((_, head) => path(head) match {
      case "/big" => ok("{}", "X-Big: " + "a" * (70 << 10))
      case "/bad" => raw("HTTP/1.1 2xx OK\r\nContent-Length: 0\r\n\r\n")
    })
    try {
      val c = new JdkHttpClient()
      assert(intercept[IOException](c.get(HttpRequest(o.url("/big")))).getMessage.contains("header block too large"))
      assert(intercept[IOException](c.get(HttpRequest(o.url("/bad")))).getMessage.contains("malformed status line"))
    } finally o.close()
  }

  wire("the request: one head, default headers first, a caller header replaces its default") {
    val o = new RawOrigin((_, _) => ok("{}"))
    try {
      val c = new JdkHttpClient()
      c.get(HttpRequest(o.url("/p"), params = Seq("a" -> "1", "b" -> "x y"),
        headers = Seq("X-Token" -> "t0", "accept" -> "application/json", "X-Token" -> "t1")))
      c.get(HttpRequest(s"http://user@127.0.0.1:${o.port}?q=1#frag"))
      assert(o.requests == List(
        s"GET /p?a=1&b=x+y HTTP/1.1\r\nHost: 127.0.0.1:${o.port}\r\nUser-Agent: graft\r\n" +
          "accept: application/json\r\nX-Token: t1\r\n\r\n",
        s"GET /?q=1 HTTP/1.1\r\nHost: 127.0.0.1:${o.port}\r\nUser-Agent: graft\r\nAccept: */*\r\n\r\n"))
      intercept[IllegalArgumentException](c.get(HttpRequest(o.url("/p"), headers = Seq("X" -> "a\r\nY: b"))))
    } finally o.close()
  }

  wire("an upstream that accepts and never answers: the GET times out, RetryingClient retries, then fails") {
    val o = new RawOrigin((_, _) => Stall)
    try {
      val r = within(15000) {
        new RetryingClient(new JdkHttpClient(300), maxRetries = 1, sleep = _ => ()).get(HttpRequest(o.url("/slow")))
      }
      assert(r.failed.toOption.exists(_.isInstanceOf[SocketTimeoutException]), r)
      assert(o.accepted.get == 2)
    } finally o.close()
  }

  wire("a page cut short of its Content-Length is fetched again: the sync emits every record and STATE") {
    val cut = new AtomicBoolean()
    lazy val o: RawOrigin = new RawOrigin((_, head) => path(head) match {
      case "/p1" =>
        val body = s"""{"items":[{"id":1},{"id":2}],"next":"${o.url("/p2")}"}"""
        if (cut.getAndSet(true)) ok(body)
        else raw(s"HTTP/1.1 200 OK\r\nContent-Length: ${body.length}\r\n\r\n" + body.take(29), close = true)
      case "/p2" => ok("""{"items":[{"id":3}],"next":null}""")
    })
    try {
      val runner = new HttpRunner {
        override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
            state: Option[com.fasterxml.jackson.databind.JsonNode]) =
          PaginatedStream(HttpRequest(o.url("/p1")), Pagination.NextUrl("next"), Seq("items"))
        override def newState(config: Option[com.fasterxml.jackson.databind.JsonNode],
            old: Option[com.fasterxml.jackson.databind.JsonNode]) = Some("""{"To":"2024-06-01T00:00:00Z"}""")
      }
      val src = SourceDef(name = "cut", httpStreams = Seq(
        StreamDef("orders", StructType(Seq(StructField("id", LongType)))) -> runner))
      val out = new StringWriter
      Connector.handle(src, Cmd.Read, RunConfig.Empty, out, Connector.transport(src, new JdkHttpClient()),
        clock = () => 1700000000000L)
      val lines = out.toString.linesIterator.toList
      assert(lines.filter(_.contains("\"RECORD\"")).map(l => Json.parse(l).at("/record/data/id").asLong) ==
        List(1L, 2L, 3L), lines)
      assert(lines.last == """{"type":"STATE","state":{"data":{"orders":{"To":"2024-06-01T00:00:00Z"}}}}""", lines)
      assert(o.requests.map(path) == List("/p1", "/p1", "/p2"))
    } finally o.close()
  }

  wire("a chunk size the origin declares and never sends allocates nothing: the GET fails at the close") {
    val o = new RawOrigin((_, _) =>
      raw("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n7ffffff0\r\nabc", close = true))
    try {
      val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      val self = Thread.currentThread.getId
      val before = threads.getThreadAllocatedBytes(self)
      intercept[EOFException](new JdkHttpClient().get(HttpRequest(o.url("/huge"))))
      val allocated = threads.getThreadAllocatedBytes(self) - before
      assert(allocated < (64L << 20), s"$allocated bytes allocated")
    } finally o.close()
  }

  wire("redirects: '|' in the URL's query and a space in Location are followed; a space in a URL is encoded") {
    val o = new RawOrigin((_, head) => path(head) match {
      case "/start?a=b|c" => raw("HTTP/1.1 302 Found\r\nLocation: /next?x={y|z}\r\nContent-Length: 0\r\n\r\n")
      case "/next?x={y|z}" => raw("HTTP/1.1 301 Moved\r\nLocation: /last page\r\nContent-Length: 0\r\n\r\n")
      case "/last%20page" => ok("done")
      case "/a%20b?q=%C3%A9" => ok("encoded")
    })
    try {
      val c = new JdkHttpClient()
      val r = c.get(HttpRequest(o.url("/start?a=b|c")))
      assert((r.status, r.body) == ((200, "done")))
      assert(c.get(HttpRequest(o.url("/a b?q=\u00e9"))).body == "encoded")
      assert(o.requests.map(path) == List("/start?a=b|c", "/next?x={y|z}", "/last%20page", "/a%20b?q=%C3%A9"))
    } finally o.close()
  }

  /** An in-process `HttpsServer` whose certificate (for 127.0.0.1 only)
    * the default SSL socket factory trusts while `body` runs on its port.
    */
  private def withTlsOrigin(body: Int => Unit): Unit = {
    val password = "changeit".toCharArray
    val ks = KeyStore.getInstance("PKCS12")
    val res = getClass.getResourceAsStream("/graft/sources/tls-origin.p12")
    try ks.load(res, password) finally res.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, password)
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks)
    val serverTls = SSLContext.getInstance("TLS")
    serverTls.init(kmf.getKeyManagers, null, null)
    val clientTls = SSLContext.getInstance("TLS")
    clientTls.init(null, tmf.getTrustManagers, null)
    val server = HttpsServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setHttpsConfigurator(new HttpsConfigurator(serverTls))
    server.createContext("/", ex => {
      val b = s"""{"path":"${ex.getRequestURI.getPath}"}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    val saved = HttpsURLConnection.getDefaultSSLSocketFactory
    HttpsURLConnection.setDefaultSSLSocketFactory(clientTls.getSocketFactory)
    try body(server.getAddress.getPort)
    finally {
      HttpsURLConnection.setDefaultSSLSocketFactory(saved)
      server.stop(0)
    }
  }

  /** `proxy` as the default `ProxySelector` for URIs it matches (others
    * get the saved default's answer) while `body` runs.
    */
  private def withProxy(matches: URI => Boolean, proxy: Proxy)(body: => Unit): Unit = {
    val saved = ProxySelector.getDefault
    ProxySelector.setDefault(new ProxySelector {
      override def select(uri: URI): java.util.List[Proxy] =
        if (matches(uri)) List(proxy).asJava
        else if (saved == null) List(Proxy.NO_PROXY).asJava
        else saved.select(uri)
      override def connectFailed(uri: URI, sa: SocketAddress, e: IOException): Unit = ()
    })
    try body finally ProxySelector.setDefault(saved)
  }

  wire("https: TLS over the default SSL socket factory, with hostname verification") {
    withTlsOrigin { port =>
      val c = new JdkHttpClient()
      Seq("/a", "/b").foreach { p =>
        assert(c.get(HttpRequest(s"https://127.0.0.1:$port$p")).json.get("path").asText == p)
      }
      // the certificate names 127.0.0.1 only
      intercept[SSLException](c.get(HttpRequest(s"https://localhost:$port/a")))
    }
  }

  wire("https through an HTTP proxy: a CONNECT tunnel") {
    withTlsOrigin { port =>
      val listener = new ServerSocket(0, 5, InetAddress.getLoopbackAddress)
      val connects = new ConcurrentLinkedQueue[String]()
      val tunnel = new Thread(() => {
        val in = listener.accept()
        connects.add(readHead(in.getInputStream))
        in.getOutputStream.write("HTTP/1.1 200 Connection established\r\n\r\n".getBytes(UTF_8))
        val out = new Socket(InetAddress.getLoopbackAddress, port)
        val back = new Thread(() => { out.getInputStream.transferTo(in.getOutputStream); () })
        back.setDaemon(true)
        back.start()
        in.getInputStream.transferTo(out.getOutputStream)
        ()
      })
      tunnel.setDaemon(true)
      tunnel.start()
      try withProxy(_.getPort == port, new Proxy(Proxy.Type.HTTP, new InetSocketAddress("127.0.0.1", listener.getLocalPort))) {
        val r = new JdkHttpClient().get(HttpRequest(s"https://127.0.0.1:$port/t"))
        assert(r.json.get("path").asText == "/t")
        assert(connects.asScala.toList == List(s"CONNECT 127.0.0.1:$port HTTP/1.1\r\n" +
          s"Host: 127.0.0.1:$port\r\nUser-Agent: graft\r\n\r\n"))
      } finally listener.close()
    }
  }

  wire("http through the HTTP proxy ProxySelector.getDefault picks: absolute-form target") {
    val proxy = new RawOrigin((_, _) => ok("""{"via":"proxy"}"""))
    try withProxy(_.getHost == "origin.invalid", new Proxy(Proxy.Type.HTTP, new InetSocketAddress("127.0.0.1", proxy.port))) {
      val r = new JdkHttpClient().get(HttpRequest("http://origin.invalid:8080/x?y=1"))
      assert(r.json.get("via").asText == "proxy")
      assert(proxy.requests == List("GET http://origin.invalid:8080/x?y=1 HTTP/1.1\r\n" +
        "Host: origin.invalid:8080\r\nUser-Agent: graft\r\nAccept: */*\r\n\r\n"))
    } finally proxy.close()
  }
}
