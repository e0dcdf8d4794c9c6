package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Pagination strategy termination + request-shape tests (SURVEY §5 item 4:
  * termination on short page / empty marker / missing link / null next).
  */
class PaginationSpec extends AnyFunSuite {

  /** Scripted client: returns canned responses in order, records requests. */
  final class Script(responses: HttpResponse*) extends HttpClient {
    val requests = mutable.ArrayBuffer[HttpRequest]()
    private var i = 0
    override def get(req: HttpRequest): HttpResponse = {
      requests += req
      val r = responses(math.min(i, responses.length - 1)); i += 1; r
    }
  }
  private def ok(body: String, headers: (String, String)*) =
    HttpResponse(200, body, headers.toMap)

  test("next-url follows body link until null (pokeapi poke.go:32-40)") {
    val c = new Script(
      ok("""{"results":[{"name":"a"},{"name":"b"}],"next":"http://x/page2"}"""),
      ok("""{"results":[{"name":"c"}],"next":null}"""))
    val recs = PaginatedStream(HttpRequest("http://x/page1"),
      Pagination.NextUrl("next"), Seq("results")).fetch(c).toList
    assert(recs.map(r => graft.core.Json.parse(r).get("name").asText) == List("a", "b", "c"))
    assert(c.requests.map(_.fullUrl).toList == List("http://x/page1", "http://x/page2"))
  }

  test("link-header parses rel=next among others (shopify.go:75-84)") {
    val lh = Pagination.LinkHeader()
    assert(lh.parseNext("""<http://x/prev>; rel="previous", <http://x/n2>; rel="next"""")
      .contains("http://x/n2"))
    assert(lh.parseNext("""<http://x/prev>; rel="previous"""").isEmpty)
    assert(lh.parseNext("").isEmpty)
  }

  test("link-header pagination stops when header absent") {
    val c = new Script(
      ok("""{"orders":[{"id":1}]}""", "Link" -> """<http://x/p2>; rel="next""""),
      ok("""{"orders":[{"id":2}]}"""))
    val recs = PaginatedStream(HttpRequest("http://x/p1"),
      Pagination.LinkHeader(), Seq("orders")).fetch(c).toList
    assert(recs.size == 2)
    assert(c.requests.size == 2)
  }

  test("marker pagination re-issues param until marker 0/absent (klaviyo.go:36-44)") {
    val c = new Script(
      ok("""{"data":[{"id":"x"}],"next":"m1"}"""),
      ok("""{"data":[{"id":"y"}],"next":"0"}"""))
    val recs = PaginatedStream(HttpRequest("http://k/t"),
      Pagination.Marker("next", "since"), Seq("data")).fetch(c).toList
    assert(recs.size == 2)
    assert(c.requests(1).params.contains("since" -> "m1"))
  }

  test("offset pagination advances start and stops on short page (sitoo.go:56-62)") {
    val full = (1 to 3).map(i => s"""{"id":$i}""").mkString("[", ",", "]")
    val c = new Script(
      ok(s"""{"items":$full}"""),
      ok("""{"items":[{"id":4}]}"""))
    val recs = PaginatedStream(HttpRequest("http://s/p"),
      Pagination.Offset("start", "num", num = 3, Seq("items")), Seq("items")).fetch(c).toList
    assert(recs.size == 4)
    assert(c.requests(0).params.toSet == Set("start" -> "0", "num" -> "3"))
    assert(c.requests(1).params.toSet == Set("start" -> "3", "num" -> "3"))
  }

  test("odata nextLink (storm.go:57-65)") {
    val c = new Script(
      ok("""{"value":[{"Id":1}],"@odata.nextLink":"http://o/p2"}"""),
      ok("""{"value":[]}"""))
    val recs = PaginatedStream(HttpRequest("http://o/p1"),
      Pagination.NextUrl("@odata.nextLink"), Seq("value")).fetch(c).toList
    assert(recs.size == 1)
    assert(c.requests.map(_.fullUrl).toList == List("http://o/p1", "http://o/p2"))
  }

  test("retrying client honors Retry-After then succeeds (utils.go:35-38)") {
    val sleeps = mutable.ArrayBuffer[Long]()
    val c = new Script(
      HttpResponse(429, "slow down", Map("Retry-After" -> "2")),
      ok("""{"ok":true}"""))
    val rc = new RetryingClient(c, maxRetries = 3, baseDelayMs = 100, sleep = sleeps += _)
    assert(rc.get(HttpRequest("http://x")).status == 200)
    assert(sleeps.toList == List(2000L))
  }

  test("retrying client gives up on persistent 4xx") {
    val c = new Script(HttpResponse(404, "nope", Map.empty))
    val rc = new RetryingClient(c, maxRetries = 2, baseDelayMs = 1, sleep = _ => ())
    val e = intercept[RuntimeException](rc.get(HttpRequest("http://x/missing")))
    assert(e.getMessage.contains("404"))
  }

  test("retrying client surfaces a surviving 3xx as an HTTP error, not a parse failure") {
    // transports follow redirects themselves; a 3xx that reaches the retry
    // layer (redirect loop, protocol downgrade) must be an explicit error —
    // previously it passed as success and the caller JSON-parsed the
    // redirect's HTML body
    val c = new Script(HttpResponse(301, "<html>moved</html>",
      Map("Location" -> "https://elsewhere")))
    val rc = new RetryingClient(c, maxRetries = 2, baseDelayMs = 1, sleep = _ => ())
    val e = intercept[RuntimeException](rc.get(HttpRequest("http://x/old")))
    assert(e.getMessage.contains("301"), e.getMessage)
  }

  test("rate limiter paces to the configured rate with burst headroom") {
    var now = 0L
    val rl = new RateLimiter(permitsPerSec = 10, burst = 2, nanoClock = () => now)
    // burst of 2 passes immediately, third waits one interval (100ms)
    assert(rl.acquireWaitNanos() == 0L)
    assert(rl.acquireWaitNanos() == 0L)
    assert(rl.acquireWaitNanos() == 100000000L)
    // after real time advances past the backlog, capacity refills
    now = 1000000000L
    assert(rl.acquireWaitNanos() == 0L)
  }

  test("rate-limited client sleeps the limiter's wait then issues the request") {
    var now = 0L
    val sleeps = mutable.ArrayBuffer[Long]()
    val inner = new Script(ok("{}"), ok("{}"))
    val rl = new RateLimiter(permitsPerSec = 5, burst = 1, nanoClock = () => now)
    val c = new RateLimitedClient(inner, rl, sleep = sleeps += _)
    c.get(HttpRequest("http://x/1"))
    c.get(HttpRequest("http://x/2"))
    assert(sleeps.toList == List(200000000L)) // first free, second paced 200ms
    assert(inner.requests.size == 2)
  }

  test("JdkHttpClient: follows redirects, returns error bodies, decodes the declared charset") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: com.sun.net.httpserver.HttpExchange, status: Int, body: Array[Byte],
        headers: (String, String)*): Unit = {
      headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    }
    server.createContext("/", ex => ex.getRequestURI.getPath match {
      case "/old" => reply(ex, 302, Array.emptyByteArray, "Location" -> "/new")
      case "/new" =>
        val token = Option(ex.getRequestHeaders.getFirst("X-Token")).getOrElse("")
        reply(ex, 200, s"""{"name":"caf\u00e9","token":"$token"}""".getBytes("ISO-8859-1"),
          "Content-Type" -> "application/json; charset=ISO-8859-1")
      case "/loop" => reply(ex, 307, Array.emptyByteArray, "Location" -> "/loop")
      case _ => reply(ex, 404, """{"error":"nope"}""".getBytes("UTF-8"))
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val c = new JdkHttpClient()
      val r = c.get(HttpRequest(s"$base/old", headers = Seq("X-Token" -> "t1")))
      assert(r.status == 200)
      assert(r.json.get("name").asText == "caf\u00e9")
      assert(r.json.get("token").asText == "t1") // headers ride along the redirect
      assert(r.header("content-type").exists(_.contains("ISO-8859-1")))
      val missing = c.get(HttpRequest(s"$base/missing"))
      assert(missing.status == 404 && missing.body == """{"error":"nope"}""")
      // a redirect loop stops after 5 hops and surfaces the 3xx
      assert(c.get(HttpRequest(s"$base/loop")).status == 307)
    } finally server.stop(0)
  }
}
