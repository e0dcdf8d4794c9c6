package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import scala.collection.mutable
import scala.util.Try

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

  test("link-header: a next URL holding a comma syncs every page; rel may be a bare token") {
    val lh = Pagination.LinkHeader()
    val next = "https://x.example.com/p?fields=id,title&page_info=n1"
    assert(lh.parseNext(s"""<$next>; rel="next"""").contains(next))
    assert(lh.parseNext("<http://x/n2>; rel=next").contains("http://x/n2"))
    assert(lh.parseNext("""<http://x/a,b>; rel="previous", <http://x/c,d>; rel="first next"""")
      .contains("http://x/c,d"))
    assert(lh.parseNext("""<http://x/a,b>; rel="previous"""").isEmpty)
    val c = new Script(
      ok("""{"orders":[{"id":1}]}""", "Link" -> s"""<$next>; rel="next""""),
      ok("""{"orders":[{"id":2}]}"""))
    val recs = PaginatedStream(HttpRequest("http://x/p1"),
      Pagination.LinkHeader(), Seq("orders")).fetch(c).toList
    assert(recs == List("""{"id":1}""", """{"id":2}"""))
    assert(c.requests.map(_.fullUrl).toList == List("http://x/p1", next))
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

  // -- record text: each element of the records array as its own JSON text --

  private def onePage(body: String, path: String*): List[String] =
    PaginatedStream(HttpRequest("http://x/p"), Pagination.NextUrl("next"), path)
      .fetch(new Script(ok(body))).toList

  test("record text: a pretty-printed page yields one line per record, whitespace outside strings removed") {
    val body =
      """{
        |  "results": [
        |    {
        |      "name": "a b",
        |      "tags": [ 1, 2 ]
        |    },
        |    { "name" : "c\td" }
        |  ],
        |  "next": null
        |}""".stripMargin
    val recs = onePage(body, "results")
    assert(recs == List("""{"name":"a b","tags":[1,2]}""", """{"name":"c\td"}"""))
    assert(recs.forall(r => !r.contains('\n') && !r.contains('\r')))
  }

  test("record text: whitespace inside strings is kept, next to escaped quotes and backslashes") {
    val body = "{\"results\":[{\"a\": \"x \\\" y\", \"b\\\\\" :\"\\\\\", \"c\":[ \"p q\" , 1 ]}," +
      "{\"s\":\"only inside\",\"t\":\"\\\\\\\" \"}]}"
    assert(onePage(body, "results") == List(
      "{\"a\":\"x \\\" y\",\"b\\\\\":\"\\\\\",\"c\":[\"p q\",1]}",
      "{\"s\":\"only inside\",\"t\":\"\\\\\\\" \"}"))
  }

  test("record text: a page longer than the parser's read buffer") {
    val recs = (0 until 2000).map { i =>
      s"""{"id":$i,"s":"${"x" * (i % 40)}${if (i % 2 == 0) "" else " y"}","n":[$i,${i}.50]}"""
    }
    val body = recs.zipWithIndex.map { case (r, i) => if (i % 3 == 0) r.replace(":", " : ") else r }
      .mkString("{\"results\":[", ",\n ", "],\"next\":null}")
    assert(body.length > 0x8000) // Jackson reads a String this long through a Reader, in chunks
    assert(onePage(body, "results") == recs)
  }

  test("record text: the pagination field may sit before or after the records array") {
    for (body <- Seq(
        """{"next":"http://x/p2","results":[{"id":1}]}""",
        """{"results":[{"id":1}],"next":"http://x/p2"}""")) {
      val c = new Script(ok(body), ok("""{"results":[{"id":2}],"next":null}"""))
      val recs = PaginatedStream(HttpRequest("http://x/p1"),
        Pagination.NextUrl("next"), Seq("results")).fetch(c).toList
      assert(recs == List("""{"id":1}""", """{"id":2}"""), body)
      assert(c.requests.map(_.fullUrl).toList == List("http://x/p1", "http://x/p2"), body)
    }
  }

  test("record text: a two-level records path, with a cursor beside the array") {
    val c = new Script(
      ok("""{"meta":{"n":1},"data":{"cursor":"m1","items":[{"id":1},{"id":2}],"more":true}}"""),
      ok("""{"data":{"items":[{"id":3}],"cursor":"0"}}"""))
    val stream = PaginatedStream(HttpRequest("http://k/t"), new Pagination {
      override def next(base: HttpRequest, last: Page) = {
        // the fields tree keeps everything but the records array
        assert(last.fields.at("/data/items").isMissingNode)
        Pagination.Marker("cursor", "since").next(base, last.copy(fields = last.fields.get("data")))
      }
    }, Seq("data", "items"))
    assert(stream.fetch(c).toList == List("""{"id":1}""", """{"id":2}""", """{"id":3}"""))
    assert(c.requests(1).params.contains("since" -> "m1"))
  }

  test("record text: a missing or non-array records field yields no records; pagination still reads the page") {
    for (body <- Seq(
        """{"next":"http://x/p2"}""",
        """{"results":{"id":1},"next":"http://x/p2"}""",
        """{"results":null,"next":"http://x/p2"}""",
        """{"results":"[1,2]","next":"http://x/p2"}""")) {
      val c = new Script(ok(body), ok("""{"results":[{"id":2}]}"""))
      val recs = PaginatedStream(HttpRequest("http://x/p1"),
        Pagination.NextUrl("next"), Seq("results")).fetch(c).toList
      assert(recs == List("""{"id":2}"""), body)
      assert(c.requests.size == 2, body)
    }
    // an empty path names the body itself; an object body then holds no records
    assert(onePage("""[{"id":1}, 2]""") == List("""{"id":1}""", "2"))
    assert(onePage("""{"id":1}""").isEmpty)
    assert(onePage("").isEmpty)
  }

  test("record text: scalar elements") {
    assert(onePage("""{"results":[ 1, -2.50, "x y", true, false, null, [ ], { } ]}""", "results") ==
      List("1", "-2.50", "\"x y\"", "true", "false", "null", "[]", "{}"))
  }

  test("record text: number spellings, escapes and non-ASCII pass through verbatim") {
    // é spelled as a JSON escape, next to a raw é
    val rec = "{\"a\":1.50,\"b\":1e3,\"c\":123456789012345678901234567890," +
      "\"d\":\"caf\\u00e9 café\",\"e\":\"a\\/b\",\"f\":-0.0}"
    assert(onePage(s"""{"results":[ $rec ]}""", "results") == List(rec))
  }

  test("record text: a malformed page fails as a whole, before any of its records") {
    val c = new Script(ok("""{"results":[{"id":1},{"id":2},{"id":"""))
    val it = PaginatedStream(HttpRequest("http://x/p1"), Pagination.NextUrl("next"), Seq("results")).fetch(c)
    intercept[com.fasterxml.jackson.core.JsonProcessingException](it.hasNext)
  }

  // -- the byte path: what the scan reads, against the Jackson decoder it replaced --

  private def records(page: Page): List[String] = (0 until page.size).map(page.record).toList

  /** The scan's records of `bytes` and the old decoder's, over the body's
    * UTF-8 decoding.
    */
  private def both(bytes: Array[Byte], path: Seq[String]): (Try[List[String]], Try[List[String]]) = (
    Try(records(Page(HttpResponse(200, bytes, UTF_8, Map.empty), path))),
    Try(JacksonPageOracle(new String(bytes, UTF_8), path)._2.toList))

  test("byte path: a page declared ISO-8859-1 is read in its UTF-8 form") {
    val body = "{\"results\":[{\"name\":\"caf\u00e9 \u00bd\"}]}"
    val page = Page(HttpResponse(200, body.getBytes(ISO_8859_1), ISO_8859_1, Map.empty), Seq("results"))
    assert(records(page) == List("{\"name\":\"caf\u00e9 \u00bd\"}"))
    assert(page.data.slice(page.offset(0), page.offset(0) + page.length(0)).toSeq ==
      "{\"name\":\"caf\u00e9 \u00bd\"}".getBytes(UTF_8).toSeq)
  }

  test("byte path: bytes that are not UTF-8 read as U+FFFD, as in the body's decoding") {
    val body = "{\"results\":[{\"s\":\"a".getBytes(UTF_8) ++ Array(0xc3, 0x28, 0xff, 0xed, 0xa0, 0x80).map(_.toByte) ++
      "b\"},\"\u00e9\"]}".getBytes(UTF_8)
    val (got, want) = both(body, Seq("results"))
    assert(got.get == List("{\"s\":\"a\ufffd(\ufffd\ufffdb\"}", "\"\u00e9\""))
    assert(got == want)
  }

  test("byte path: a leading UTF-8 BOM fails the page as a whole, as the decoded body does") {
    val body = Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ """{"results":[{"id":1}]}""".getBytes(UTF_8)
    val (got, want) = both(body, Seq("results"))
    assert(want.isFailure)
    intercept[com.fasterxml.jackson.core.JsonProcessingException](got.get)
  }

  test("byte path: Jackson's read limits hold as the old decoder hits them, at each limit and one past it") {
    def page(rec: String) = s"""{"results":[$rec]}"""
    val s20m = "s" * 20000000
    val cases = Seq[(String, Seq[String], Boolean)](
      // nesting, from the page root: the root object and the records array are two levels
      (page("[" * 998 + "]" * 998), Seq("results"), true),
      (page("[" * 999 + "]" * 999), Seq("results"), false),
      (page("1" * 1000), Seq("results"), true),
      (page("1" * 1001), Seq("results"), false),
      (page("-" + "1" * 1000), Seq("results"), true),
      (page("1." + "2" * 999), Seq("results"), true),
      (page("1." + "2" * 1000), Seq("results"), false),
      (page("1e" + "2" * 999), Seq("results"), true),
      (page("1.5e-" + "2" * 999), Seq("results"), false),
      (page(s"""{"${"k" * 50000}":1}"""), Seq("results"), true),
      (page(s"""{"${"k" * 50001}":1}"""), Seq("results"), false),
      // names count characters, not bytes
      (page(s"""{"${"\\u0041" * 50000}":1}"""), Seq("results"), true),
      (page(s"""{"${"\u00e9" * 50001}":1}"""), Seq("results"), false),
      // Jackson checks a string's length where its text buffer fills a
      // segment of up to 64 Ki characters, so only a string at least that
      // far past the limit fails for certain
      (page("\"" + s20m + "\""), Seq("results"), true),
      (page("\"" + s20m + "s" * (1 << 17) + "\""), Seq("results"), false),
      // a string inside a record is skipped, not read whole
      (page(s"""{"s":"${s20m}${"s" * (1 << 17)}"}"""), Seq("results"), true),
      // a float that ends the body: Jackson's slow path counts its missing
      // exponent or fraction as -1 digits
      ("1." + "2" * 1000, Seq("results"), true),
      ("1e" + "2" * 1000, Seq("results"), true),
      ("1." + "2" * 1000 + " ", Seq("results"), false))
    for (((body, path, ok), i) <- cases.zipWithIndex) {
      val (got, want) = both(body.getBytes(UTF_8), path)
      assert(got.isSuccess == ok, s"case $i: $got")
      assert(want.isSuccess == ok, s"case $i: $want")
      if (ok) assert(got == want, s"case $i")
      else intercept[com.fasterxml.jackson.core.JsonProcessingException](got.get)
    }
  }

  test("offset stops on a short page, counting the records of the page pass") {
    val c = new Script(
      ok("""{"total":5,"page":{"items":[{"id":1},{"id":2},{"id":3}]}}"""),
      ok("""{"page":{"items":[{"id":4},{"id":5}]},"total":5}"""),
      ok("""{"page":{"items":[{"id":6}]}}"""))
    val recs = PaginatedStream(HttpRequest("http://s/p"),
      Pagination.Offset("start", "num", num = 3, Seq("page", "items")), Seq("page", "items")).fetch(c).toList
    assert(recs.size == 5)
    assert(c.requests.size == 2)
    assert(c.requests(1).params.contains("start" -> "3"))
    // the short-page test counts the stream's records array, so the two paths must agree
    intercept[IllegalArgumentException](PaginatedStream(HttpRequest("http://s/p"),
      Pagination.Offset("start", "num", num = 3, Seq("items")), Seq("page", "items")))
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

  test("link-header: repeated Link lines are one field, so a next link on the first line syncs every page") {
    lazy val o: RawOrigin = new RawOrigin((_, head) => head.split(' ')(1) match {
      case "/p1" => RawOrigin.ok("""{"orders":[{"id":1}]}""",
        s"""Link: <${o.url("/p2")}>; rel="next"""", s"""link: <${o.url("/p0")}>; rel="prev"""")
      case "/p2" => RawOrigin.ok("""{"orders":[{"id":2}]}""", s"""Link: <${o.url("/p1")}>; rel="prev"""")
    })
    try {
      val c = new JdkHttpClient()
      assert(c.get(HttpRequest(o.url("/p1"))).header("LINK").contains(
        s"""<${o.url("/p2")}>; rel="next", <${o.url("/p0")}>; rel="prev""""))
      val recs = PaginatedStream(HttpRequest(o.url("/p1")), Pagination.LinkHeader(), Seq("orders")).fetch(c).toList
      assert(recs == List("""{"id":1}""", """{"id":2}"""))
    } finally o.close()
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
