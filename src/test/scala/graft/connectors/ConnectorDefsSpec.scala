package graft.connectors

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.sources._

import scala.collection.mutable

/** Top-level (no $outer): instances ride into Spark task closures. */
final class Capture(body: String, headers: (String, String)*) extends HttpClient {
  val requests = mutable.ArrayBuffer[HttpRequest]()
  override def get(req: HttpRequest): HttpResponse = {
    requests += req
    HttpResponse(200, body, headers.toMap)
  }
}

/** JVM-global page counter observable across task-closure copies of a
  * client (local-mode tasks share the JVM; the object is a static).
  */
object PageCounter {
  val pages = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** JVM-global log of the requests a [[LoggingClient]] copy issued. */
object RequestLog {
  val requests = new java.util.concurrent.ConcurrentLinkedQueue[HttpRequest]()
}

/** Answers every request with `body`, logging it in [[RequestLog]]. */
final class LoggingClient(body: String) extends HttpClient {
  override def get(req: HttpRequest): HttpResponse = {
    RequestLog.requests.add(req)
    HttpResponse(200, body, Map.empty)
  }
}

/** Serves `totalPages` offset pages of `perPage` records, generated lazily
  * per request — nothing is ever held beyond the current page.
  */
final class PagedStubClient(totalPages: Int, perPage: Int) extends HttpClient {
  override def get(req: HttpRequest): HttpResponse = {
    PageCounter.pages.incrementAndGet()
    val start = req.params.collectFirst { case ("start", v) => v.toInt }.getOrElse(0)
    val n = if (start / perPage >= totalPages - 1) perPage - 1 else perPage // short last page
    val items = (start until start + n).map(i => s"""{"productid":$i,"title":"P$i","moneyprice":"1.0"}""")
    HttpResponse(200, s"""{"items":[${items.mkString(",")}]}""", Map.empty)
  }
}

/** The bad-record policy both Spark read surfaces share: one record whose
  * declared `LongType` field holds a string, one that lacks a declared field.
  */
object ConnectorDefsSpec {
  val BadRecordsPage: String =
    """{"items":[{"productid":"x","title":"A","moneyprice":"1.0"},{"productid":2,"moneyprice":"2.0"}]}"""

  /** (productid, title, moneyprice) per row, ordered by moneyprice. */
  def rowsOf(df: org.apache.spark.sql.DataFrame): List[(Option[Long], Option[String], Option[String])] =
    df.collect().toList.map { r =>
      (Option(r.getAs[java.lang.Long]("productid")).map(_.longValue),
        Option(r.getAs[String]("title")), Option(r.getAs[String]("moneyprice")))
    }.sortBy(_._3)

  val BadRecordRows: List[(Option[Long], Option[String], Option[String])] =
    List((None, Some("A"), Some("1.0")), (Some(2L), None, Some("2.0")))
}

/** Connector-declaration tests: request shapes (projection/predicate
  * pushdown into params, SURVEY §2 P1-P3), incremental window + state
  * round-trip (S8), and the Spark read surface with declared schemas.
  */
class ConnectorDefsSpec extends AnyFunSuite {

  test("shopify: fields projection + cursor window params (shopify.go:48-53) and state advance (shopify.go:67-72)") {
    val now = Instant.parse("2024-06-15T12:00:00Z")
    val runner = new ConnectorDefs.ShopifyOrdersRunner(() => now)
    val st = Json.parse("""{"To":"2024-01-01T00:00:00Z"}""")
    val ps = runner.stream(None, Some(st))
    val params = ps.base.params.toMap
    assert(params("fields") == "created_at,currency,id,total_price,updated_at") // sorted, schema-derived
    assert(params("status") == "any")
    assert(params("updated_at_min") == "2024-01-01T00:00:00Z")
    assert(params("updated_at_max") == "2024-06-15T12:00:00Z")
    // new cursor = window end, persisted only after sync
    assert(runner.newState(None, Some(st)).get == """{"To":"2024-06-15T12:00:00Z"}""")
  }

  test("shopify: no prior state → 10y lookback window (shopify.go:67-72)") {
    val now = Instant.parse("2024-06-15T12:00:00Z")
    val runner = new ConnectorDefs.ShopifyOrdersRunner(() => now)
    val params = runner.stream(None, None).base.params.toMap
    assert(params("updated_at_min") == "2014-06-18T12:00:00Z") // now - 10*365d (3 leap days in range)
  }

  test("shopify: newState persists the exact fetched `to`, not a clock re-read (shopify.go:60-62)") {
    // Moving clock: the sync takes 90s between issuing the window and
    // persisting state. The persisted To must be the updated_at_max actually
    // requested — a re-read of the clock would leave a permanently skipped
    // gap of records updated during the sync.
    var t = Instant.parse("2024-06-15T12:00:00Z")
    val runner = new ConnectorDefs.ShopifyOrdersRunner(() => t)
    val st = Json.parse("""{"To":"2024-01-01T00:00:00Z"}""")
    val issued = runner.stream(None, Some(st)).base.params.toMap.apply("updated_at_max")
    t = t.plusSeconds(90) // clock advances while records stream
    assert(runner.newState(None, Some(st)).get == s"""{"To":"$issued"}""")
  }

  test("storm: $select scalars + $expand nested struct projection (storm.go:47-55)") {
    val runner = new ConnectorDefs.StormRunner
    val params = runner.selectParams(ConnectorDefs.stormItemSchema).toMap
    assert(params("$select") == "Id,Quantity")
    assert(params("$expand") == "Product($select=Id,Name)")
  }

  test("readDataFrames: declared schema, never inferred (schema.go:27-35 contract)") {
    val spark = graft.SparkFixture.spark
    val client = new Capture(
      """{"items":[{"productid":1,"title":"A","moneyprice":"9.90","noise":true},{"productid":2,"title":"B","moneyprice":"1.50"}]}""")
    val dfs = Connector.readDataFrames(spark, ConnectorDefs.sitoo, RunConfig.Empty, client)
    val df = dfs("products")
    assert(df.schema == ConnectorDefs.sitooProductSchema) // undeclared "noise" pruned
    val rows = df.orderBy("productid").collect()
    assert(rows.map(_.getLong(0)).toList == List(1L, 2L))
    assert(rows(0).getString(1) == "A")
  }

  test("readDataFrames bad records: a mistyped or missing declared field reads as null") {
    val spark = graft.SparkFixture.spark
    val client = new Capture(ConnectorDefsSpec.BadRecordsPage)
    val df = Connector.readDataFrames(spark, ConnectorDefs.sitoo, RunConfig.Empty, client)("products")
    assert(ConnectorDefsSpec.rowsOf(df) == ConnectorDefsSpec.BadRecordRows)
  }

  test("readDataFrames streams the page chain through the task — no driver materialization") {
    val spark = graft.SparkFixture.spark
    val totalPages = 2000 // a long chain: would be 2000 buffered pages if driver-materialized
    val perPage = 10
    PageCounter.pages.set(0)
    val src = SourceDef(name = "paged-stub",
      httpStreams = Seq(StreamDef("products", ConnectorDefs.sitooProductSchema) ->
        new ConnectorDefs.SitooRunner("products.json", ConnectorDefs.sitooProductSchema)),
      // non-serializable runner ($outer = this spec): the task closure must
      // capture a STRIPPED SourceDef, never unrelated runners
      manualRunners = Seq(new ManualRunner {
        override def run(ctx: ManualContext): Unit = ()
      }))
    val dfs = Connector.readDataFrames(spark, src, RunConfig.Empty,
      new PagedStubClient(totalPages, perPage))
    // planning is lazy: building the DataFrame must not fetch a single page
    val df = dfs("products")
    assert(PageCounter.pages.get() == 0, "DataFrame construction fetched pages eagerly")
    assert(df.count() == totalPages.toLong * perPage - 1) // short last page ends the chain
    assert(PageCounter.pages.get() == totalPages) // one pass, inside the task
  }

  test("readDataFrames is the graft-http relation: pruned scan, one partition, lazy") {
    val spark = graft.SparkFixture.spark
    PageCounter.pages.set(0)
    val df = Connector.readDataFrames(spark, ConnectorDefs.sitoo, RunConfig.Empty,
      new PagedStubClient(3, 10))("products").select("title")
    assert(PageCounter.pages.get() == 0, "DataFrame construction fetched pages")
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.size == 1 && leaves.head.toString.contains("graft-http"), leaves)
    assert(leaves.head.schema.fieldNames.toSeq == Seq("title"))
    assert(df.rdd.getNumPartitions == 1)
    assert(df.collect().map(_.getString(0)).toSet == (0 until 29).map(i => s"P$i").toSet)
  }

  test("readDataFrames: the stream's rc state reaches the request (shopify orders → updated_at_min)") {
    val spark = graft.SparkFixture.spark
    RequestLog.requests.clear()
    val rc = RunConfig("", None, Map("orders" -> Json.parse("""{"To":"2024-03-01T00:00:00Z"}""")), None)
    val df = Connector.readDataFrames(spark, ConnectorDefs.all("shopify"), rc,
      new LoggingClient("""{"orders":[{"id":7,"updated_at":"2024-03-02T00:00:00Z"}]}"""))("orders")
    assert(df.collect().map(_.getLong(0)).toList == List(7L))
    val mins = RequestLog.requests.toArray(Array.empty[HttpRequest]).toList
      .map(_.params.toMap.get("updated_at_min"))
    assert(mins == List(Some("2024-03-01T00:00:00Z")))
  }

  test("db stream (S11): JDBC read with declared projection and partitioned parallel scan") {
    import org.apache.spark.sql.types._
    val spark = graft.SparkFixture.spark
    val url = "jdbc:derby:memory:graftS11;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE users (id BIGINT NOT NULL, name VARCHAR(32), secret VARCHAR(32))")
      (1 to 20).foreach(i => st.executeUpdate(s"INSERT INTO users VALUES ($i, 'u$i', 's$i')"))
      st.close()
    } finally conn.close()
    val usersDef = StreamDef("users", StructType(Seq(
      StructField("ID", LongType), StructField("NAME", StringType)))) // declared cols only — no `secret`
    val src = SourceDef(name = "warehouse",
      dbStreams = Seq(
        usersDef -> DbStream(url, "users",
          partitioning = Some(DbPartitioning("id", 1L, 21L, 4)))))
    assert(src.streamDefs.map(_.name) == Seq("users")) // discover covers db streams
    val dfs = Connector.readDataFrames(spark, src, RunConfig.Empty,
      (_: HttpRequest) => fail("db stream must not touch HTTP"))
    val df = dfs("users")
    assert(df.schema.fieldNames.toSeq == Seq("ID", "NAME")) // projection to declared cols
    assert(df.rdd.getNumPartitions == 4) // parallel range scan, not one connection
    val rows = df.orderBy("ID").collect()
    assert(rows.length == 20 && rows(0).getLong(0) == 1L && rows(0).getString(1) == "u1")
  }

  test("registry exposes the five reference connectors") {
    // subset, not equality: other suites may register() extra connectors
    assert(Set("pokeapi", "shopify", "klaviyo", "sitoo", "storm").subsetOf(ConnectorDefs.all.keySet))
    assert(ConnectorDefs.all("shopify").supportsIncremental)
    assert(!ConnectorDefs.all("pokeapi").supportsIncremental)
  }

  test("spec json embeds config schema with secret marker (sourcedef.go:120-126)") {
    val sp = Json.parse(ConnectorDefs.all("klaviyo").spec)
    assert(sp.at("/connectionSpecification/properties/api_key/airbyte_secret").asBoolean)
  }
}
