package graft.core

import java.io.StringWriter
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HttpClient, HttpRequest, HttpResponse}

/** Top-level so plain java reflection sees the constructor fields in order. */
case class ShopifyTestConfig(shop: String, token: Masked, page_size: Int)

/** Control-stream parsing + protocol golden tests (SURVEY §5 items 3/5):
  * run a mock-HTTP source through the Airbyte/Singer dialects and check
  * canonical NDJSON with a fixed clock; round-trip the global-state explode
  * of `proto.go:90-101`.
  */
class ProtocolSpec extends AnyFunSuite {

  test("control stream: settings + config + per-stream state") {
    val rc = RunConfig.parse(Iterator(
      """{"type":"SETTINGS","settings":{"format":"singer"}}""",
      """{"type":"CONFIG","config":{"api_key":"k"}}""",
      """{"type":"STATE","state":{"data":{"orders":{"To":"2024-01-01T00:00:00Z"}}}}"""))
    assert(rc.format == "singer")
    assert(rc.config.get.get("api_key").asText == "k")
    assert(rc.states("orders").get("To").asText == "2024-01-01T00:00:00Z")
  }

  test("global state under \"\" fans out to all streams (proto.go:90-101, stubs/airbyte-state.json)") {
    val rc = RunConfig.parse(Iterator(
      """{"type":"STATE","state":{"data":{"":{"orders":{"To":"t1"},"users":{"To":"t2"}}}}}"""))
    assert(rc.states.keySet == Set("orders", "users"))
    assert(rc.states("users").get("To").asText == "t2")
  }

  test("catalog selection honored when present") {
    val rc = RunConfig.parse(Iterator(
      """{"type":"CATALOG","catalog":{"streams":[{"stream":{"name":"orders"}}]}}"""))
    assert(rc.selectedStreams.contains(Set("orders")))
  }

  test("requestsPerSec wires one shared limiter; no budget = identity client") {
    val unpaced = SourceDef("x")
    val c = new HttpClient { override def get(req: graft.sources.HttpRequest) = HttpResponse(200, "{}", Map.empty) }
    assert(unpaced.pacedShare(c, 0, 1) eq c)
    val paced = SourceDef("y", requestsPerSec = Some(100.0))
    // the shared-budget property: every whole-budget wrapper draws from the
    // SAME limiter instance of this connector
    val (w1, w2) = (paced.pacedShare(c, 0, 1), paced.pacedShare(c, 0, 1))
    assert(w1.asInstanceOf[graft.sources.RateLimitedClient].limiter
      eq w2.asInstanceOf[graft.sources.RateLimitedClient].limiter)
    assert(w1.get(graft.sources.HttpRequest("http://t")).status == 200) // passes through
    // transport stacking: pacing wraps the innermost transport, retry outside
    assert(Connector.transport(paced, c).isInstanceOf[graft.sources.RetryingClient])
  }

  test("protocol syncs and a one-partition Spark read pace against one limiter") {
    val c = new HttpClient { override def get(req: graft.sources.HttpRequest) = HttpResponse(200, "{}", Map.empty) }
    // 1 request/s with burst 4: four requests on the protocol transport
    // spend the whole burst without sleeping
    val src = SourceDef("one-budget", requestsPerSec = Some(1.0))
    val sync = Connector.transport(src, c)
    (1 to 4).foreach(_ => assert(sync.get(HttpRequest("http://t")).status == 200))
    // the limiter a one-partition read (HttpPartition's default share 0 of
    // 1) resolves has no burst left: it is the same budget, not a second one
    val read = graft.sources.RateLimiter.forShare("one-budget", 1.0, burst = 4, 0, 1)
    assert(read.acquireWaitNanos() > 0L,
      "a one-partition read got a fresh budget beside the protocol path's")
  }

  test("catalog entries with top-level name (no nested stream object) still select") {
    // at("/stream/name").asText("") returns "" for a missing path — the
    // top-level `name` fallback must fire, not yield an empty selection that
    // silently syncs ALL streams.
    val rc = RunConfig.parse(Iterator(
      """{"type":"CATALOG","catalog":{"streams":[{"name":"users"}]}}"""))
    assert(rc.selectedStreams.contains(Set("users")))
  }

  // -- a tiny source over a scripted client -------------------------------------
  private val ordersDef = StreamDef("orders",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("amount", org.apache.spark.sql.types.DoubleType))),
    incremental = true, primaryKey = Seq(FieldDef(Seq("id"))))

  private class StubRunner extends HttpRunner {
    override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
        state: Option[com.fasterxml.jackson.databind.JsonNode]) =
      graft.sources.PaginatedStream(HttpRequest("http://t/orders"),
        graft.sources.Pagination.NextUrl("next"), Seq("items"))
    override def newState(config: Option[com.fasterxml.jackson.databind.JsonNode],
        old: Option[com.fasterxml.jackson.databind.JsonNode]) =
      Some("""{"To":"2024-06-01T00:00:00Z"}""")
  }

  private val src = SourceDef(name = "test", docsUrl = "http://docs",
    httpStreams = Seq(ordersDef -> new StubRunner))

  private val client: HttpClient = (_: HttpRequest) =>
    HttpResponse(200, """{"items":[{"id":1,"amount":9.5},{"id":2,"amount":3.25}],"next":null}""", Map.empty)

  private def run(cmd: Cmd, format: String = ""): List[String] = {
    val out = new StringWriter
    Connector.handle(src, cmd, RunConfig.Empty.copy(format = format), out, client, clock = () => 1700000000000L)
    out.toString.linesIterator.toList
  }

  test("airbyte read: records then single end-of-sync STATE (pkg/airbyte/proto.go:43-51)") {
    val lines = run(Cmd.Read)
    assert(lines == List(
      """{"type":"RECORD","record":{"stream":"orders","emitted_at":1700000000000,"data":{"id":1,"amount":9.5}}}""",
      """{"type":"RECORD","record":{"stream":"orders","emitted_at":1700000000000,"data":{"id":2,"amount":3.25}}}""",
      """{"type":"STATE","state":{"data":{"orders":{"To":"2024-06-01T00:00:00Z"}}}}"""))
  }

  test("singer read: SCHEMA first, inline STATE (pkg/singer/singer.go:35-63)") {
    val lines = run(Cmd.Read, format = "singer")
    assert(lines.head.startsWith("""{"type":"SCHEMA","stream":"orders","""))
    assert(lines.head.contains(""""key_properties":["id"]"""))
    assert(lines(1).contains("\"time_extracted\":1700000000"))
    assert(lines.last == """{"type":"STATE","value":{"orders":{"To":"2024-06-01T00:00:00Z"}}}""")
  }

  test("discover emits catalog of declared json schemas (E3)") {
    val lines = run(Cmd.Discover)
    assert(lines.size == 1)
    val cat = Json.parse(lines.head)
    assert(cat.get("type").asText == "CATALOG")
    val st = cat.at("/catalog/streams/0")
    assert(st.get("name").asText == "orders")
    assert(st.at("/json_schema/properties/id/type").asText == "integer")
    assert(st.at("/json_schema/required/0").asText == "id")
  }

  test("spec carries docs url + supportsIncremental (C1, proto.go:299-303)") {
    val lines = run(Cmd.Spec)
    val sp = Json.parse(lines.head)
    assert(sp.at("/spec/documentationUrl").asText == "http://docs")
    assert(sp.at("/spec/supportsIncremental").asBoolean)
  }

  test("check: one probe request, SUCCEEDED (C2, proto.go:220-232)") {
    val lines = run(Cmd.Check)
    assert(Json.parse(lines.head).at("/connectionStatus/status").asText == "SUCCEEDED")
  }

  test("check: failure maps to FAILED with reason") {
    val bad: HttpClient = (_: HttpRequest) => throw new RuntimeException("boom")
    val out = new StringWriter
    Connector.handle(src, Cmd.Check, RunConfig.Empty, out, bad)
    val st = Json.parse(out.toString.linesIterator.next())
    assert(st.at("/connectionStatus/status").asText == "FAILED")
    assert(st.at("/connectionStatus/message").asText.contains("boom"))
  }

  test("check probes manual runners: failing runner reports FAILED, emitting one succeeds") {
    val manualDef = StreamDef("pushed", ordersDef.schema)
    // a manual-only connector with a failing runner must NOT report SUCCEEDED
    val failing = SourceDef(name = "manual-bad",
      manualStreams = Seq(manualDef),
      manualRunners = Seq(new ManualRunner {
        override def run(ctx: ManualContext): Unit = throw new RuntimeException("backend down")
      }))
    val out1 = new StringWriter
    Connector.handle(failing, Cmd.Check, RunConfig.Empty, out1, client)
    val st1 = Json.parse(out1.toString.linesIterator.next())
    assert(st1.at("/connectionStatus/status").asText == "FAILED")
    assert(st1.at("/connectionStatus/message").asText.contains("backend down"))
    // a healthy runner is short-circuited after its FIRST emit (sentinel):
    // the probe must not drain the whole sync
    var emitted = 0
    val healthy = SourceDef(name = "manual-ok",
      manualStreams = Seq(manualDef),
      manualRunners = Seq(new ManualRunner {
        override def run(ctx: ManualContext): Unit = {
          val s = ctx.stream("pushed")
          (1 to 100).foreach { i => emitted += 1; s.emit(s"""{"id":$i}""") }
        }
      }))
    val out2 = new StringWriter
    Connector.handle(healthy, Cmd.Check, RunConfig.Empty, out2, client)
    val st2 = Json.parse(out2.toString.linesIterator.next())
    assert(st2.at("/connectionStatus/status").asText == "SUCCEEDED")
    assert(emitted == 1, s"probe must stop after the first emit, saw $emitted")
  }

  test("singer read: manual streams emit SCHEMA before RECORD; deselected manual streams swallowed") {
    val pushedDef = StreamDef("pushed", ordersDef.schema)
    val otherDef = StreamDef("other", ordersDef.schema)
    val manualSrc = SourceDef(name = "manual-singer",
      manualStreams = Seq(pushedDef, otherDef),
      manualRunners = Seq(new ManualRunner {
        override def run(ctx: ManualContext): Unit = {
          ctx.stream("pushed").emit("""{"id":1}""")
          ctx.stream("other").emit("""{"id":2}""")
        }
      }))
    val rc = RunConfig("singer", None, Map.empty, selectedStreams = Some(Set("pushed")))
    val out = new StringWriter
    Connector.handle(manualSrc, Cmd.Read, rc, out, client)
    val lines = out.toString.linesIterator.toList
    val schemaIdx = lines.indexWhere(l => l.contains("\"SCHEMA\"") && l.contains("\"pushed\""))
    val recordIdx = lines.indexWhere(l => l.contains("\"RECORD\"") && l.contains("\"pushed\""))
    assert(schemaIdx >= 0 && recordIdx > schemaIdx,
      s"SCHEMA must precede RECORD for manual streams:\n${lines.mkString("\n")}")
    // deselected manual stream: neither SCHEMA nor RECORD leak
    assert(!lines.exists(_.contains("\"other\"")), lines.mkString("\n"))
  }

  test("runner error becomes in-band LOG, sync continues (K8, proto.go:314-332)") {
    val bad: HttpClient = (_: HttpRequest) => throw new RuntimeException("api down")
    val out = new StringWriter
    Connector.handle(src, Cmd.Read, RunConfig.Empty, out, bad)
    val lines = out.toString.linesIterator.toList
    assert(lines.exists(l => l.contains("\"LOG\"") && l.contains("api down")))
    assert(lines.last.startsWith("""{"type":"STATE""""))
  }

  test("airbyte read: the single STATE keeps the input cursor of a stream that fails") {
    val failing = new StubRunner {
      override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
          state: Option[com.fasterxml.jackson.databind.JsonNode]) =
        graft.sources.PaginatedStream(HttpRequest("http://t/refunds"),
          graft.sources.Pagination.NextUrl("next"), Seq("items"))
    }
    // one worker: orders finishes before refunds fails
    val two = SourceDef(name = "two", concurrency = 1, httpStreams = Seq(
      ordersDef -> new StubRunner, ordersDef.copy(name = "refunds") -> failing))
    val refundsDown: HttpClient = (req: HttpRequest) =>
      if (req.url.endsWith("/refunds")) throw new RuntimeException("refunds down")
      else client.get(req)
    val rc = RunConfig.parse(Iterator("""{"type":"STATE","state":{"data":{""" +
      """"orders":{"To":"2024-01-01T00:00:00Z"},"refunds":{"To":"2024-02-01T00:00:00Z"}}}}"""))
    val out = new StringWriter
    Connector.handle(two, Cmd.Read, rc, out, refundsDown, clock = () => 1700000000000L)
    val lines = out.toString.linesIterator.toList
    assert(lines.exists(l => l.contains("\"LOG\"") && l.contains("refunds down")), lines)
    assert(lines.last == """{"type":"STATE","state":{"data":{""" +
      """"orders":{"To":"2024-06-01T00:00:00Z"},"refunds":{"To":"2024-02-01T00:00:00Z"}}}}""")
  }

  test("read syncs every stream, at most `concurrency` at once, on shared daemon workers") {
    val names = (0 until 5).map(i => s"s$i")
    val inFlight = new java.util.concurrent.atomic.AtomicInteger()
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger()
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val slow: HttpClient = (_: HttpRequest) => {
      val n = inFlight.incrementAndGet()
      maxInFlight.accumulateAndGet(n, math.max)
      threads.add(Thread.currentThread())
      Thread.sleep(20)
      inFlight.decrementAndGet()
      HttpResponse(200, """{"items":[{"id":1,"amount":1.0}],"next":null}""", Map.empty)
    }
    val many = SourceDef(name = "many", concurrency = 2,
      httpStreams = names.map(n => StreamDef(n, ordersDef.schema) -> new StubRunner))
    val out = new StringWriter
    Connector.handle(many, Cmd.Read, RunConfig.Empty, out, slow)
    val lines = out.toString.linesIterator.toList
    names.foreach(n => assert(lines.exists(l => l.contains("\"RECORD\"") && l.contains(s""""stream":"$n"""")), n))
    assert(Json.parse(lines.last).at("/state/data").size == 5, lines.last)
    assert(maxInFlight.get == 2)
    // the calling thread is one of the `concurrency` workers; the others
    // are the shared pool's daemons
    val caller = Thread.currentThread()
    assert(threads.contains(caller))
    threads.forEach(t => assert((t eq caller) || t.isDaemon && t.getName == "graft-fetch", t.getName))
  }

  test("RECORD envelopes carry the upstream's record text verbatim; stream names are JSON-escaped everywhere") {
    val page = "{\"items\": [ {\"id\": 1, \"amount\": 1.50, \"note\": \"caf\\u00e9 a\\/b\"} ], \"next\": null}"
    val verbatim: HttpClient = (_: HttpRequest) => HttpResponse(200, page, Map.empty)
    val rec = "{\"id\":1,\"amount\":1.50,\"note\":\"caf\\u00e9 a\\/b\"}"
    def run(cmd: Cmd, format: String, name: String): List[String] = {
      val out = new StringWriter
      val one = SourceDef(name = "one", httpStreams = Seq(ordersDef.copy(name = name) -> new StubRunner))
      Connector.handle(one, cmd, RunConfig.Empty.copy(format = format), out, verbatim,
        clock = () => 1700000000000L)
      out.toString.linesIterator.toList
    }
    def read(format: String, name: String) = run(Cmd.Read, format, name)
    assert(read("", "orders").head ==
      s"""{"type":"RECORD","record":{"stream":"orders","emitted_at":1700000000000,"data":$rec}}""")
    assert(read("singer", "orders")(1) ==
      s"""{"type":"RECORD","stream":"orders","time_extracted":1700000000,"record":$rec}""")
    val odd = "a\"b\\c"
    for ((format, ptr) <- Seq("" -> "/record/stream", "singer" -> "/stream")) {
      val line = read(format, odd).find(_.contains("RECORD")).get
      assert(Json.parse(line).at(ptr).asText == odd, line)
    }
    // every other line that names the stream parses and names it
    def named(line: String, ptr: String): Unit =
      assert(Json.parse(line).at(ptr).fieldNames.next() == odd, line)
    val singer = read("singer", odd)
    assert(Json.parse(singer.head).get("type").asText == "SCHEMA", singer.head)
    assert(Json.parse(singer.head).get("stream").asText == odd, singer.head)
    named(singer.last, "/value")
    named(read("", odd).last, "/state/data")
    val catalog = Json.parse(run(Cmd.Discover, "", odd).head)
    assert(catalog.at("/catalog/streams/0/name").asText == odd, catalog)
  }

  test("read output bytes: records verbatim from the page's bytes, the same in both dialects and through a Writer") {
    // raw and escaped non-ASCII, escaped quotes and slashes, whitespace
    // inside and outside strings, and one byte that is not UTF-8
    val page = ("{\"items\": [ {\"id\": 1, \"amount\": 1.50, \"note\": \"café \\u00e9 a\\/b \\\"q\\\"\", \"t\": [ 1 , 2 ]},\n" +
      " {\"id\":2,\"s\":\"😀 ").getBytes(UTF_8) ++ Array(0xff.toByte) ++ "x\"} ], \"next\": null}".getBytes(UTF_8)
    val bytes: HttpClient = (_: HttpRequest) => HttpResponse(200, page, UTF_8, Map.empty)
    def read(format: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      Connector.handle(src, Cmd.Read, RunConfig.Empty.copy(format = format), out, bytes, () => 1700000000000L)
      out.toByteArray
    }
    val recs = Seq("{\"id\":1,\"amount\":1.50,\"note\":\"café \\u00e9 a\\/b \\\"q\\\"\",\"t\":[1,2]}",
      "{\"id\":2,\"s\":\"😀 �x\"}")
    val airbyte = recs.map(r => s"""{"type":"RECORD","record":{"stream":"orders","emitted_at":1700000000000,"data":$r}}""") :+
      """{"type":"STATE","state":{"data":{"orders":{"To":"2024-06-01T00:00:00Z"}}}}"""
    val singer = ("""{"type":"SCHEMA","stream":"orders","schema":{"type":"object","properties":{"id":{"type":"integer"},""" +
      """"amount":{"type":"number"}},"required":["id"]},"key_properties":["id"]}""") +:
      recs.map(r => s"""{"type":"RECORD","stream":"orders","time_extracted":1700000000,"record":$r}""") :+
      """{"type":"STATE","value":{"orders":{"To":"2024-06-01T00:00:00Z"}}}"""
    assert(new String(read(""), UTF_8) == airbyte.map(_ + "\n").mkString)
    assert(read("").toSeq == airbyte.map(_ + "\n").mkString.getBytes(UTF_8).toSeq)
    assert(read("singer").toSeq == singer.map(_ + "\n").mkString.getBytes(UTF_8).toSeq)
    val w = new StringWriter
    Connector.handle(src, Cmd.Read, RunConfig.Empty, w, bytes, clock = () => 1700000000000L)
    assert(w.toString == airbyte.map(_ + "\n").mkString)
  }

  test("StreamDef.jsonSchema is rendered once per stream definition, as before") {
    import org.apache.spark.sql.types._
    val sd = StreamDef("s\"q", StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("a\"b\\c\u0001", ArrayType(StructType(Seq(StructField("x", DecimalType(10, 2), nullable = false))))),
      StructField("m", MapType(StringType, TimestampType)), StructField("d", DateType), StructField("bin", BinaryType),
      StructField("c", CalendarIntervalType), StructField("f", BooleanType))))
    assert(sd.jsonSchema eq sd.jsonSchema)
    assert(sd.jsonSchema == """{"type":"object","properties":{"id":{"type":"integer"},"a\"b\\c""" + "\\u0001" + """":{"type":"array",""" +
      """"items":{"type":"object","properties":{"x":{"type":"number"}},"required":["x"]}},"m":{"type":"object",""" +
      """"additionalProperties":{"type":"string","format":"date-time"}},"d":{"type":"string","format":"date-time"},""" +
      """"bin":{"type":"string","contentEncoding":"base64"},"c":{"type":"string","description":"interval"},""" +
      """"f":{"type":"boolean"}},"required":["id"]}""")
  }

  test("a fatal error in one read worker cancels the streams not yet started") {
    val fatal = new OutOfMemoryError("synthetic")
    val besideStarted = new java.util.concurrent.CountDownLatch(1)
    val thrower = new java.util.concurrent.atomic.AtomicReference[Thread]()
    val fatalRunner = new StubRunner {
      override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
          state: Option[com.fasterxml.jackson.databind.JsonNode]) = {
        besideStarted.await(10, java.util.concurrent.TimeUnit.SECONDS)
        thrower.set(Thread.currentThread); throw fatal
      }
    }
    // starts beside the fatal stream, and reads once that worker has ended
    val besideRunner = new StubRunner {
      override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
          state: Option[com.fasterxml.jackson.databind.JsonNode]) = {
        besideStarted.countDown()
        val deadline = System.nanoTime + 10000000000L
        def running = thrower.get == null ||
          (thrower.get ne Thread.currentThread) && thrower.get.getState == Thread.State.RUNNABLE
        while (running && System.nanoTime < deadline) Thread.sleep(5)
        super.stream(config, state)
      }
    }
    val three = SourceDef(name = "three", concurrency = 2, httpStreams = Seq(
      ordersDef.copy(name = "fatal") -> fatalRunner,
      ordersDef.copy(name = "beside") -> besideRunner,
      ordersDef.copy(name = "after") -> new StubRunner))
    val out = new StringWriter
    val e = intercept[OutOfMemoryError](
      Connector.handle(three, Cmd.Read, RunConfig.Empty, out, client))
    assert(e eq fatal)
    val streams = out.toString.linesIterator.map(Json.parse(_).at("/record/stream").asText).toList
    assert(streams == List("beside", "beside"), out)
  }

  test("a fatal runner error is thrown out of handle, not turned into a LOG line or FAILED") {
    val fatal = new OutOfMemoryError("synthetic")
    val httpFatal = SourceDef(name = "http-fatal", httpStreams = Seq(ordersDef -> new HttpRunner {
      override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
          state: Option[com.fasterxml.jackson.databind.JsonNode]) = throw fatal
    }))
    val manualFatal = SourceDef(name = "manual-fatal",
      manualStreams = Seq(StreamDef("pushed", ordersDef.schema)),
      manualRunners = Seq(new ManualRunner {
        override def run(ctx: ManualContext): Unit = throw fatal
      }))
    for (src <- Seq(httpFatal, manualFatal); cmd <- Seq(Cmd.Check, Cmd.Read)) {
      val e = intercept[OutOfMemoryError](
        Connector.handle(src, cmd, RunConfig.Empty, new StringWriter, client))
      assert(e eq fatal, s"${src.name} $cmd")
    }
  }

  test("masked secret renders masked (utils.go:12-24)") {
    assert(Masked("hunter2").toString == "xxxx")
  }

  test("config schema reflected from case class, Masked -> airbyte_secret (C1, sourcedef.go:120-126)") {
    val schema = ConfigSchema.of[ShopifyTestConfig](
      defaults = Map("shop" -> "example"), hints = Map("token" -> "admin API token"))
    val n = Json.parse(schema)
    assert(n.at("/properties/shop/type").asText == "string")
    assert(n.at("/properties/shop/default").asText == "example")
    assert(n.at("/properties/token/airbyte_secret").asBoolean)
    assert(n.at("/properties/token/description").asText == "admin API token")
    assert(n.at("/properties/page_size/type").asText == "integer")
    assert((0 until n.at("/required").size).map(i => n.at(s"/required/$i").asText).toSet ==
      Set("shop", "token", "page_size"))
  }

  test("config schema: quotes in hints are escaped; numeric defaults emit unquoted") {
    val schema = ConfigSchema.of[ShopifyTestConfig](
      defaults = Map("page_size" -> "50", "shop" -> "a \"quoted\" shop\\name"),
      hints = Map("shop" -> """the "admin" store, path C:\x"""))
    val n = Json.parse(schema) // malformed JSON would throw right here
    assert(n.at("/properties/shop/default").asText == "a \"quoted\" shop\\name")
    assert(n.at("/properties/shop/description").asText == """the "admin" store, path C:\x""")
    assert(n.at("/properties/page_size/default").isInt &&
      n.at("/properties/page_size/default").asInt == 50)
    // docsUrl with a quote must not break the spec document either
    val src = SourceDef(name = "esc", docsUrl = """https://x/"docs"""")
    assert(Json.parse(src.spec).get("documentationUrl").asText == """https://x/"docs"""")
  }

  test("config schema: non-JSON numeric defaults fall back to quoted strings, spec stays valid") {
    // all of these satisfy Java's parseDouble but are NOT JSON number
    // literals — emitted raw they would corrupt the whole spec document
    for (bad <- Seq("NaN", "Infinity", "-Infinity", "5d", "1f", "0x1p3", " 5", "05")) {
      val schema = ConfigSchema.of[ShopifyTestConfig](defaults = Map("page_size" -> bad))
      val n = Json.parse(schema) // malformed JSON would throw right here
      assert(n.at("/properties/page_size/default").isTextual,
        s"'$bad' must be emitted quoted, got: ${n.at("/properties/page_size/default")}")
    }
    // real JSON number literals still emit unquoted
    for (good <- Seq("50", "-3", "2.5", "1e3", "0", "0.5")) {
      val n = Json.parse(ConfigSchema.of[ShopifyTestConfig](defaults = Map("page_size" -> good)))
      assert(n.at("/properties/page_size/default").isNumber,
        s"'$good' must be emitted unquoted")
    }
  }

  test("state store round-trips and orders write-then-state (SURVEY §7a)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-state").toString
    val st = new FileStateStore(dir)
    assert(st.load("orders").isEmpty)
    st.save("orders", """{"To":"t1"}""")
    assert(st.load("orders").get.get("To").asText == "t1")
    st.save("orders", """{"To":"t2"}""")
    assert(st.loadAll()("orders").get("To").asText == "t2")
    intercept[IllegalArgumentException](st.save("../evil", "{}"))
  }
}
