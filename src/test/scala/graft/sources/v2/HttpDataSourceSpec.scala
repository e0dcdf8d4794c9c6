package graft.sources.v2

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end DataSource V2 tests against an in-process HTTP server serving
  * sitoo-style offset pages: schema from the declared StreamDef, column
  * pruning reaching the reader, parallel range partitions for offset
  * pagination, and plan-visible pruned output.
  */
class HttpDataSourceSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkFixture.spark

  // 23 products, page size 10 (sitoo's default num)
  private val TOTAL = 23
  private val hits = new AtomicInteger(0)

  private lazy val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", ex => {
      hits.incrementAndGet()
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = q.split('&').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split('=').padTo(2, ""); k -> v
      }.toMap
      val start = params.getOrElse("start", "0").toInt
      val num = params.getOrElse("num", "10").toInt
      val items = (start until math.min(start + num, TOTAL)).map { i =>
        s"""{"productid":$i,"title":"P$i","moneyprice":"${i * 1.5}"}"""
      }.mkString("[", ",", "]")
      val body = s"""{"items":$items}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    s.createContext("/bad/", ex => {
      val body = graft.connectors.ConnectorDefsSpec.BadRecordsPage.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    s.start()
    s
  }
  private def baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** The table `format("graft-http")` resolves for these options. */
  private def table(options: (String, String)*): HttpTable =
    new HttpTableProvider().getTable(null, Array.empty, options.toMap.asJava).asInstanceOf[HttpTable]

  private def read() = spark.read.format("graft-http")
    .option("connector", "sitoo")
    .option("stream", "products")
    .option("config", s"""{"api_url":"$baseUrl"}""")

  test("declared schema, full read through the short-page loop") {
    val df = read().load()
    assert(df.schema == graft.connectors.ConnectorDefs.sitooProductSchema)
    assert(df.count() == TOTAL)
    val row = df.orderBy("productid").collect()(3)
    assert(row.getLong(0) == 3L && row.getString(1) == "P3")
  }

  test("column pruning reaches the scan (SupportsPushDownRequiredColumns)") {
    val df = read().load().select("title")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-http"))
    // pruned read schema: only `title` survives below the scan
    val scanSchema = df.queryExecution.executedPlan.collectLeaves().head.schema
    assert(scanSchema.fieldNames.toSeq == Seq("title"))
    assert(df.collect().map(_.getString(0)).toSet.contains("P7"))
  }

  test("offset pagination splits into parallel range partitions when total is known") {
    val df = read().option("total", TOTAL.toString).option("pagesPerPartition", "1").load()
    assert(df.rdd.getNumPartitions == 3) // ceil(23/10) pages, 1 page per part
    assert(df.count() == TOTAL)
    assert(df.select("productid").distinct().count() == TOTAL) // ranges don't overlap
  }

  test("pagesPerPartition too large for an Int page span still reads every record") {
    // num * pagesPerPartition = 3e9 wrapped negative as an Int product and
    // planned zero partitions: an empty read with no error
    val df = read().option("total", TOTAL.toString).option("pagesPerPartition", "300000000").load()
    assert(df.count() == TOTAL)
  }

  test("bad records read as null fields, as in readDataFrames (PERMISSIVE)") {
    val df = spark.read.format("graft-http").option("connector", "sitoo").option("stream", "products")
      .option("config", s"""{"api_url":"$baseUrl/bad"}""").load()
    assert(graft.connectors.ConnectorDefsSpec.rowsOf(df) == graft.connectors.ConnectorDefsSpec.BadRecordRows)
  }

  test("option keys are case-insensitive end to end (.option(\"Total\") still splits)") {
    // previously Total/PagesPerPartition were looked up case-sensitively in
    // planInputPartitions and silently fell back to one sequential partition
    val df = read().option("Total", TOTAL.toString).option("PagesPerPartition", "1").load()
    assert(df.rdd.getNumPartitions == 3, s"got ${df.rdd.getNumPartitions}")
    assert(df.count() == TOTAL)
  }

  test("cursor filter pushdown: predicate becomes incremental request state (P3)") {
    import org.apache.spark.sql.sources.GreaterThan
    // builder-level: shopify orders' iterateBy column is updated_at
    val builder = new HttpScanBuilder(table("connector" -> "shopify", "stream" -> "orders"))
    val fs: Array[org.apache.spark.sql.sources.Filter] =
      Array(GreaterThan("updated_at", "2024-03-01T00:00:00Z"), GreaterThan("id", 5L))
    val residual = builder.pushFilters(fs)
    assert(residual.toSeq == fs.toSeq) // everything re-applied post-scan
    assert(builder.pushedFilters().toSeq == Seq(GreaterThan("updated_at", "2024-03-01T00:00:00Z")))
    // the pushed bound reaches the issued request as updated_at_min
    val scan = builder.build().asInstanceOf[HttpScan]
    val params = scan.table.stream.base.params.toMap
    assert(params("updated_at_min") == "2024-03-01T00:00:00Z")
  }

  test("plan shows pushed cursor filter for incremental streams") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft-http")
      .option("connector", "shopify").option("stream", "orders").load()
      .filter(col("updated_at") > "2024-03-01T00:00:00Z")
    // optimization applies pushdown; no fetch happens at plan time
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.scan.asInstanceOf[HttpScan]
    assert(pushed.table.stream.base.params.toMap
      .get("updated_at_min").contains("2024-03-01T00:00:00Z"))
  }

  test("pushdown safety: non-RFC3339 bounds stay engine-side; user state never widens") {
    import org.apache.spark.sql.sources.GreaterThan
    // "2024-03-01" (no time) can't reach Instant.parse — must not be pushed
    val b1 = new HttpScanBuilder(table("connector" -> "shopify", "stream" -> "orders"))
    b1.pushFilters(Array(GreaterThan("updated_at", "2024-03-01")))
    assert(b1.pushedFilters().isEmpty)
    // an explicit later state option wins over an earlier pushed bound:
    // a filter may only narrow the fetch, never widen it
    val b2 = new HttpScanBuilder(table("connector" -> "shopify", "stream" -> "orders",
      "state" -> """{"To":"2026-01-01T00:00:00Z"}"""))
    b2.pushFilters(Array(GreaterThan("updated_at", "2020-01-01T00:00:00Z")))
    val params = b2.build().asInstanceOf[HttpScan].table.stream.base.params.toMap
    assert(params("updated_at_min") == "2026-01-01T00:00:00Z")
  }

  test("pushdown bounds compare chronologically, not lexicographically") {
    import org.apache.spark.sql.sources.GreaterThan
    // State with fractional seconds is chronologically LATER than the pushed
    // bound but lexicographically EARLIER ('.': 0x2E < 'Z': 0x5A). The state
    // must win untouched — a lexicographic max would replace it with the
    // chronologically-earlier bound and widen the fetch window.
    val b = new HttpScanBuilder(table("connector" -> "shopify", "stream" -> "orders",
      "state" -> """{"To":"2024-03-01T00:00:00.5Z"}"""))
    b.pushFilters(Array(GreaterThan("updated_at", "2024-03-01T00:00:00Z")))
    assert(b.build().asInstanceOf[HttpScan].table.state.contains("""{"To":"2024-03-01T00:00:00.5Z"}"""))
    // A non-Z offset bound parses on JDK 12+; the max is taken over Instants
    // and the emitted To is normalized to the Z form the runners emit.
    val b2 = new HttpScanBuilder(table("connector" -> "shopify", "stream" -> "orders"))
    b2.pushFilters(Array(
      GreaterThan("updated_at", "2024-03-01T09:00:00+10:00"),  // 2024-02-29T23:00:00Z
      GreaterThan("updated_at", "2024-03-01T01:00:00Z")))      // later, though lex-smaller
    assert(b2.build().asInstanceOf[HttpScan].table.state.contains("""{"To":"2024-03-01T01:00:00Z"}"""))
  }

  test("partition readers pace within their SHARE of the cluster-wide connector budget") {
    import graft.core.SourceDef
    import graft.sources.{HttpRequest, PaginatedStream, Pagination}
    import graft.core.StreamDef
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val hitNanos = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", ex => {
      hitNanos.add(System.nanoTime())
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val start = q.split('&').collectFirst { case kv if kv.startsWith("start=") => kv.drop(6).toInt }.getOrElse(0)
      val items = (start until start + 10).map(i => s"""{"id":$i}""").mkString("[", ",", "]")
      val body = s"""{"items":$items}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    s.start()
    try {
      val url = s"http://127.0.0.1:${s.getAddress.getPort}"
      val schema = StructType(Seq(StructField("id", LongType)))
      graft.connectors.ConnectorDefs.register(SourceDef(
        name = "paced-test",
        httpStreams = Seq(StreamDef("nums", schema) -> new graft.core.HttpRunner {
          override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
              state: Option[com.fasterxml.jackson.databind.JsonNode]): PaginatedStream =
            PaginatedStream(
              HttpRequest(config.map(_.get("url").asText).getOrElse(url)),
              Pagination.Offset("start", "num", 10, Seq("items")), Seq("items"))
        }),
        requestsPerSec = Some(40.0))) // configured cluster-wide budget, burst 4
      // 8 pages → 2 partitions × 4 sequential requests. The driver stamps
      // each partition with its share (40/2 = 20/s, 50ms interval, burst
      // 4/2 = 2), so within a partition: 2 burst tokens fire instantly,
      // then 50ms pacing → per-partition span ≥ 2×50ms. The old per-JVM
      // singleton would let the partitions jointly burn the full 40/s
      // PER EXECUTOR — the shares bound the cluster aggregate instead.
      val df = spark.read.format("graft-http")
        .option("connector", "paced-test").option("stream", "nums")
        .option("config", s"""{"url":"$url"}""")
        .option("total", "80").option("pagesPerPartition", "4").load()
      assert(df.rdd.getNumPartitions == 2)
      assert(df.count() == 80)
      val ts = hitNanos.iterator().asScala.map(_.longValue).toSeq.sorted
      assert(ts.size == 8)
      val spanMs = (ts.last - ts.head) / 1e6
      assert(spanMs >= 95.0,
        s"8 requests spanned only ${spanMs}ms — partition readers not pacing within their share")
    } finally s.stop(0)
  }

  test("micro-batch streaming: cursor windows as checkpointed offsets, resume continues") {
    import graft.core.{FieldDef, SourceDef, StreamDef}
    import graft.sources.{HttpRequest, PaginatedStream, Pagination}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val records = new java.util.concurrent.CopyOnWriteArrayList[String]()
    records.add("""{"id":1,"updated_at":"2024-01-01T01:00:00Z"}""")
    records.add("""{"id":2,"updated_at":"2024-01-01T02:00:00Z"}""")
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", ex => {
      val body = s"""{"items":[${String.join(",", records)}],"next":null}"""
        .getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    s.start()
    try {
      val url = s"http://127.0.0.1:${s.getAddress.getPort}"
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("updated_at", StringType)))
      graft.connectors.ConnectorDefs.register(SourceDef(
        name = "msync-test",
        httpStreams = Seq(StreamDef("events", schema, incremental = true,
          iterateBy = Some(FieldDef(Seq("updated_at")))) -> new graft.core.HttpRunner {
          override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
              state: Option[com.fasterxml.jackson.databind.JsonNode]): PaginatedStream = {
            val from = state.flatMap(st => Option(st.get("To"))).map(_.asText)
              .getOrElse("1970-01-01T00:00:00Z")
            PaginatedStream(
              HttpRequest(config.map(_.get("url").asText).getOrElse(url),
                params = Seq("updated_at_min" -> from)),
              Pagination.NextUrl("next"), Seq("items"))
          }
        })))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-msync-ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft-msync-out").toString
      def readWith(now: String) = spark.readStream.format("graft-http")
        .option("connector", "msync-test").option("stream", "events")
        .option("config", s"""{"url":"$url"}""")
        .option("nowOverride", now)
        .load()
      def sync(now: String): Unit = {
        // parquet sink: fault-tolerant, so the restart resumes from the
        // checkpoint's committed offset (the memory sink can't recover)
        val q = readWith(now).writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      // batch 1: window [epoch, 03:00) → both seed records
      sync("2024-01-01T03:00:00Z")
      val b1 = spark.read.parquet(outDir).select("id").collect().map(_.getLong(0)).sorted
      assert(b1.toList == List(1L, 2L))
      // new upstream record lands inside the NEXT window
      records.add("""{"id":3,"updated_at":"2024-01-01T03:30:00Z"}""")
      // restart from the same checkpoint with a later clock: the query must
      // resume at the COMMITTED offset (03:00) — appending only the new
      // record, no reprocessing, even though the server returns everything
      sync("2024-01-01T05:00:00Z")
      val b2 = spark.read.parquet(outDir).select("id").collect().map(_.getLong(0)).sorted
      assert(b2.toList == List(1L, 2L, 3L), s"resume must append only the new record, got ${b2.toList}")
    } finally s.stop(0)
  }

  test("end-to-end continuous sync: readStream connector source → Airbyte NDJSON sink") {
    // The full reference loop, continuous: incremental HTTP sync in,
    // protocol envelopes out, one epoch directory per micro-batch.
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", ex => {
      val body = ("""{"items":[{"id":21,"updated_at":"2024-02-01T01:00:00Z"},""" +
        """{"id":22,"updated_at":"2024-02-01T02:00:00Z"}],"next":null}""").getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    s.start()
    try {
      val url = s"http://127.0.0.1:${s.getAddress.getPort}"
      import graft.core.{FieldDef, SourceDef, StreamDef}
      import graft.sources.{HttpRequest, PaginatedStream, Pagination}
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("updated_at", StringType)))
      graft.connectors.ConnectorDefs.register(SourceDef(
        name = "e2e-test",
        httpStreams = Seq(StreamDef("events", schema, incremental = true,
          iterateBy = Some(FieldDef(Seq("updated_at")))) -> new graft.core.HttpRunner {
          override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
              state: Option[com.fasterxml.jackson.databind.JsonNode]): PaginatedStream =
            PaginatedStream(
              HttpRequest(config.map(_.get("url").asText).getOrElse(url)),
              Pagination.NextUrl("next"), Seq("items"))
        })))
      val src = spark.readStream.format("graft-http")
        .option("connector", "e2e-test").option("stream", "events")
        .option("config", s"""{"url":"$url"}""")
        .option("nowOverride", "2024-02-01T03:00:00Z")
        .load()
      val out = java.nio.file.Files.createTempDirectory("graft-e2e-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-e2e-ckpt").toString
      val q = graft.streaming.EventStreams.startToAirbyteNdjson(src, "events", out, ckpt)
      try q.processAllAvailable() finally q.stop()
      val lines = spark.read.text(s"$out/epoch=*").collect().map(_.getString(0))
      assert(lines.length == 2)
      lines.foreach { l =>
        val n = graft.core.Json.parse(l)
        assert(n.get("type").asText == "RECORD")
        assert(n.at("/record/stream").asText == "events")
        assert(Set(21L, 22L).contains(n.at("/record/data/id").asLong))
      }
    } finally s.stop(0)
  }

  test("admission control: maxWindowSeconds drains a backlog in bounded windows") {
    import graft.core.{FieldDef, SourceDef, StreamDef}
    import graft.sources.{HttpRequest, PaginatedStream, Pagination}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", ex => {
      // three records, one per hour of backlog
      val body = ("""{"items":[{"id":1,"updated_at":"2024-03-01T00:20:00Z"},""" +
        """{"id":2,"updated_at":"2024-03-01T01:20:00Z"},""" +
        """{"id":3,"updated_at":"2024-03-01T02:20:00Z"}],"next":null}""").getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    s.start()
    try {
      val url = s"http://127.0.0.1:${s.getAddress.getPort}"
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("updated_at", StringType)))
      graft.connectors.ConnectorDefs.register(SourceDef(
        name = "backlog-test",
        httpStreams = Seq(StreamDef("events", schema, incremental = true,
          iterateBy = Some(FieldDef(Seq("updated_at")))) -> new graft.core.HttpRunner {
          override def stream(config: Option[com.fasterxml.jackson.databind.JsonNode],
              state: Option[com.fasterxml.jackson.databind.JsonNode]): PaginatedStream =
            PaginatedStream(
              HttpRequest(config.map(_.get("url").asText).getOrElse(url)),
              Pagination.NextUrl("next"), Seq("items"))
        })))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-backlog-ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft-backlog-out").toString
      // 3h of backlog from the state cursor, 1h window cap → 3 micro-batches
      val q = spark.readStream.format("graft-http")
        .option("connector", "backlog-test").option("stream", "events")
        .option("config", s"""{"url":"$url"}""")
        .option("state", """{"To":"2024-03-01T00:00:00Z"}""")
        .option("nowOverride", "2024-03-01T03:00:00Z")
        .option("maxWindowSeconds", "3600")
        .load()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      val ids = spark.read.parquet(outDir).select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toList == List(1L, 2L, 3L))
      // the offset log shows the capped cadence: one committed offset per
      // 1h window, not a single catch-all batch
      val offsets = new java.io.File(s"$ckpt/offsets").list().filterNot(_.startsWith(".")).sorted
      assert(offsets.length >= 3, s"expected >=3 bounded windows, got ${offsets.toList}")
    } finally s.stop(0)
  }

  test("micro-batch streaming without an iterateBy cursor fails fast at planning") {
    // sitoo products declares no cursor: every window would re-emit the
    // whole stream on every trigger — must be rejected, not silently looped
    val scan = new HttpScanBuilder(table("connector" -> "sitoo", "stream" -> "products")).build()
    val e = intercept[IllegalArgumentException](scan.toMicroBatchStream("/tmp/ckpt"))
    assert(e.getMessage.contains("iterateBy"))
  }

  test("micro-batch streaming with maxWindowSeconds <= 0 fails fast at planning") {
    // a window cap of 0 or less never advances the offset: every batch
    // would be empty and the query would stall
    for (cap <- Seq("0", "-60")) {
      val scan = new HttpScanBuilder(table("connector" -> "shopify", "stream" -> "orders",
        "maxWindowSeconds" -> cap)).build()
      val e = intercept[IllegalArgumentException](scan.toMicroBatchStream("/tmp/ckpt"))
      assert(e.getMessage.contains("maxWindowSeconds"), e.getMessage)
    }
  }

  test("unknown connector/stream fail fast with the known set") {
    graft.connectors.ConnectorDefs.register(graft.core.SourceDef(name = "no-http-test",
      manualStreams = Seq(graft.core.StreamDef("pushed", graft.connectors.ConnectorDefs.sitooProductSchema))))
    for ((options, message) <- Seq(
        Map("connector" -> "nope") -> "unknown connector",
        Map("connector" -> "sitoo", "stream" -> "nope") -> "has no stream 'nope'",
        Map("connector" -> "no-http-test") -> "has no stream")) {
      val e = intercept[IllegalArgumentException](spark.read.format("graft-http").options(options).load())
      assert(e.getMessage.contains(message), e.getMessage)
    }
  }

  test("CursorOffset JSON is byte-identical to the tree-written form and round-trips") {
    import graft.core.Json
    // Spark checkpoint offset logs already hold offsets written through the
    // Jackson tree; the quoted form must produce the same bytes
    for (to <- Seq("2024-01-02T03:04:05Z", "a\"b\\c", "caf\u00e9 \u2603\n")) {
      val json = CursorOffset(to).json()
      assert(json == s"""{"to":${Json.write(Json.mapper.valueToTree(to))}}""")
      assert(Json.parse(json).get("to").asText == to)
    }
    assert(CursorOffset("2024-01-02T03:04:05Z").json() == """{"to":"2024-01-02T03:04:05Z"}""")
  }
}
