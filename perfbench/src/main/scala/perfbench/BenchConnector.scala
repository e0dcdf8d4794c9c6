package perfbench

import java.time.Instant

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.types._

import graft.core.{FieldDef, HttpRunner, SourceDef, StreamDef}
import graft.sources.{HttpRequest, PaginatedStream, Pagination}

/** The benchmark's own connector: five incremental streams, one per
  * reference pagination style, each syncing the window `[state.To, now]`
  * the way `ShopifyOrdersRunner` does, with the logical `now` taken from
  * CONFIG so that every sync is reproducible.
  *
  * CONFIG: `{"base": "http://host:port/<tenant>", "now": "<rfc3339>",
  * "limits": {"<stream>": <page size>, ...}}`.
  */
object BenchConnector {
  val name = "perfbench"

  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("updated_at", StringType),
    StructField("name", StringType),
    StructField("status", StringType),
    StructField("amount", StringType),
    StructField("qty", LongType),
    StructField("customer", StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("country", StringType)))),
    StructField("tags", ArrayType(StringType))))

  /** Start of history for a stream that has no cursor yet. */
  val historySeconds: Long = 10L * 365 * 24 * 3600

  def now(config: Option[JsonNode]): Instant = Instant.parse(config.get.get("now").asText)

  def from(config: Option[JsonNode], state: Option[JsonNode]): Instant =
    state.flatMap(s => Option(s.get("To"))).map(n => Instant.parse(n.asText))
      .getOrElse(now(config).minusSeconds(historySeconds))

  final class WindowRunner(stream: String) extends HttpRunner {
    override def stream(config: Option[JsonNode], state: Option[JsonNode]): PaginatedStream = {
      val c = config.get
      val url = c.get("base").asText + "/" + stream
      val limit = c.get("limits").get(stream).asInt
      val window = Seq(
        "from" -> from(config, state).getEpochSecond.toString,
        "to" -> now(config).getEpochSecond.toString)
      stream match {
        case "next_url" => PaginatedStream(HttpRequest(url, window :+ ("limit" -> s"$limit")),
          Pagination.NextUrl("next"), Seq("results"))
        case "link_header" => PaginatedStream(HttpRequest(url, window :+ ("limit" -> s"$limit")),
          Pagination.LinkHeader(), Seq("orders"))
        case "marker" => PaginatedStream(HttpRequest(url, window :+ ("limit" -> s"$limit")),
          Pagination.Marker(bodyField = "next", param = "marker"), Seq("data"))
        case "offset" => PaginatedStream(HttpRequest(url, window),
          Pagination.Offset("start", "num", limit, Seq("items")), Seq("items"))
        case "odata" => PaginatedStream(HttpRequest(url, window :+ ("limit" -> s"$limit")),
          Pagination.NextUrl("@odata.nextLink"), Seq("value"))
      }
    }

    /** The cursor is the window end that was fetched: the issued `now`. */
    override def newState(config: Option[JsonNode], old: Option[JsonNode]): Option[String] =
      Some(s"""{"To":"${now(config)}"}""")
  }

  // No requestsPerSec: a rate limit would time the limiter's sleep, not
  // the program.
  val source: SourceDef = SourceDef(
    name = name,
    docsUrl = "https://example.com/perfbench",
    configSchema = """{"type":"object","properties":{"base":{"type":"string"},"now":{"type":"string"}},"required":["base","now"]}""",
    httpStreams = Streams.names.map { s =>
      StreamDef(s, schema, incremental = true,
        primaryKey = Seq(FieldDef(Seq("id"))),
        iterateBy = Some(FieldDef(Seq("updated_at")))) -> new WindowRunner(s)
    },
    concurrency = 2)
}
