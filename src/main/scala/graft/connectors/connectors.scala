package graft.connectors

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.types._

import graft.core._
import graft.sources._

/** The reference's five connector definitions, re-expressed as pure
  * declarations over the engine's pagination strategies. Each demonstrates a
  * distinct pagination + pushdown combination from SURVEY §2 — the behavior
  * is what the reference's Go connectors do, the mechanics are the engine's.
  *
  * Column-projection pushdown (P1): the declared schema's top-level field
  * names, sorted, are serialized into the request (`fields=`/`$select=`) the
  * same way the reference derives them from its JSON Schema
  * (`schema.go:72-74`, `utils.go:26-33`).
  */
object ConnectorDefs {

  private def fieldsOf(schema: StructType): String =
    schema.fieldNames.sorted.mkString(",")

  private val rfc3339 = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")
    .withZone(ZoneOffset.UTC)

  // ---- pokeapi: cursor/next-URL pagination (poke.go:24-41) ------------------
  val pokemonSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("url", StringType)))

  final class PokeRunner extends HttpRunner {
    override def stream(config: Option[JsonNode], state: Option[JsonNode]): PaginatedStream =
      PaginatedStream(
        HttpRequest("https://pokeapi.co/api/v2/pokemon", Seq("limit" -> "100")),
        Pagination.NextUrl("next"),
        recordsPath = Seq("results"))
  }

  val pokeapi: SourceDef = SourceDef(
    name = "pokeapi",
    docsUrl = "https://pokeapi.co/docs",
    httpStreams = Seq(
      StreamDef("pokemon", pokemonSchema) -> new PokeRunner))

  // ---- shopify: link-header pagination + incremental time window ------------
  // (shopify.go:22-72: fields= projection, updated_at_min/max from cursor,
  //  state {"To": rfc3339} persisted after sync)
  val shopifyOrderSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("created_at", StringType),
    StructField("updated_at", StringType),
    StructField("total_price", StringType),
    StructField("currency", StringType)))

  final class ShopifyOrdersRunner(clock: () => Instant = () => Instant.now()) extends HttpRunner {
    private def shopUrl(config: Option[JsonNode]): String = {
      val shop = config.flatMap(c => Option(c.get("shop"))).map(_.asText).getOrElse("example")
      s"https://$shop.myshopify.com/admin/api/2023-10/orders.json"
    }
    /** Window [state.To | now-10y, now] (shopify.go:67-72). */
    private def window(state: Option[JsonNode]): (Instant, Instant) = {
      val now = clock()
      val from = state.flatMap(s => Option(s.get("To"))).map(n => Instant.parse(n.asText))
        .getOrElse(now.minusSeconds(10L * 365 * 24 * 3600))
      (from, now)
    }
    /** The exact `updated_at_max` issued by the last stream() — newState must
      * persist THIS value, never a re-read of the clock, or records updated
      * between the fetched window's end and the state write fall into a
      * permanently skipped gap (reference persists the requested `to`:
      * shopify.go:60-62, `state.To = to`). ThreadLocal because the registry
      * shares one runner instance across concurrent syncs, and each sync's
      * stream()→newState() pair runs on its own worker thread
      * (Connector.read) — a plain field would let one sync persist another
      * sync's window end. @transient: ThreadLocal is not serializable (a
      * runner captured into a Spark task closure is); a deserialized copy
      * lazily re-creates an empty one, and newState's fallback then
      * RE-PERSISTS the old cursor unchanged — never a fresh clock read,
      * which would stamp a To later than the actually-fetched window end
      * and permanently skip records updated in between.
      */
    @transient private lazy val issuedTo = new ThreadLocal[Instant]
    override def stream(config: Option[JsonNode], state: Option[JsonNode]): PaginatedStream = {
      val (from, to) = window(state)
      issuedTo.set(to)
      val token = config.flatMap(c => Option(c.get("token"))).map(_.asText).getOrElse("")
      PaginatedStream(
        HttpRequest(shopUrl(config),
          params = Seq(
            "fields" -> fieldsOf(shopifyOrderSchema),
            "status" -> "any",
            "updated_at_min" -> rfc3339.format(from),
            "updated_at_max" -> rfc3339.format(to),
            "limit" -> "250"),
          headers = Seq("X-Shopify-Access-Token" -> token)),
        Pagination.LinkHeader(),
        recordsPath = Seq("orders"))
    }
    override def newState(config: Option[JsonNode], old: Option[JsonNode]): Option[String] =
      Option(issuedTo.get()).map(to => s"""{"To":"${rfc3339.format(to)}"}""")
        // no issued window on this thread (newState without a same-thread
        // stream()): keep the old cursor — re-sync overlap is safe, a
        // clock-now To is a permanent gap
        .orElse(old.flatMap(o => Option(o.get("To"))).map(n => s"""{"To":"${n.asText}"}"""))
  }

  def shopify(clock: () => Instant = () => Instant.now()): SourceDef = SourceDef(
    name = "shopify",
    docsUrl = "https://shopify.dev/docs/api",
    configSchema =
      """{"type":"object","properties":{"shop":{"type":"string"},"token":{"type":"string","airbyte_secret":true}},"required":["shop","token"]}""",
    httpStreams = Seq(
      StreamDef("orders", shopifyOrderSchema, incremental = true,
        primaryKey = Seq(FieldDef(Seq("id"))),
        iterateBy = Some(FieldDef(Seq("updated_at")))) -> new ShopifyOrdersRunner(clock)))

  // ---- klaviyo: marker/token pagination (klaviyo.go:27-45) ------------------
  val klaviyoEventSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("event_name", StringType),
    StructField("timestamp", LongType)))

  final class KlaviyoRunner extends HttpRunner {
    override def stream(config: Option[JsonNode], state: Option[JsonNode]): PaginatedStream = {
      val apiKey = config.flatMap(c => Option(c.get("api_key"))).map(_.asText).getOrElse("")
      PaginatedStream(
        HttpRequest("https://a.klaviyo.com/api/v1/metrics/timeline",
          params = Seq("api_key" -> apiKey, "fields" -> fieldsOf(klaviyoEventSchema), "count" -> "100")),
        Pagination.Marker(bodyField = "next", param = "since"),
        recordsPath = Seq("data"))
    }
  }

  val klaviyo: SourceDef = SourceDef(
    name = "klaviyo",
    docsUrl = "https://developers.klaviyo.com",
    configSchema =
      """{"type":"object","properties":{"api_key":{"type":"string","airbyte_secret":true}},"required":["api_key"]}""",
    httpStreams = Seq(
      StreamDef("events", klaviyoEventSchema) -> new KlaviyoRunner))

  // ---- sitoo: offset/limit pagination, shared-runner style (sitoo.go) -------
  val sitooProductSchema: StructType = StructType(Seq(
    StructField("productid", LongType),
    StructField("title", StringType),
    StructField("moneyprice", StringType)))

  final class SitooRunner(path: String, schema: StructType) extends HttpRunner {
    override def stream(config: Option[JsonNode], state: Option[JsonNode]): PaginatedStream = {
      val base = config.flatMap(c => Option(c.get("api_url"))).map(_.asText)
        .getOrElse("https://api.sitoo.com/v2")
      PaginatedStream(
        HttpRequest(s"$base/$path", params = Seq("fields" -> fieldsOf(schema))),
        Pagination.Offset(startParam = "start", numParam = "num", num = 10,
          recordsPath = Seq("items")),
        recordsPath = Seq("items"))
    }
  }

  val sitoo: SourceDef = SourceDef(
    name = "sitoo",
    docsUrl = "https://developer.sitoo.com",
    httpStreams = Seq(
      StreamDef("products", sitooProductSchema) -> new SitooRunner("products.json", sitooProductSchema)))

  // ---- storm: OData nextLink + nested $expand projection (storm.go) ---------
  val stormItemSchema: StructType = StructType(Seq(
    StructField("Id", LongType),
    StructField("Quantity", IntegerType),
    StructField("Product", StructType(Seq(
      StructField("Id", LongType),
      StructField("Name", StringType))))))

  final class StormRunner extends HttpRunner {
    /** OData $select for scalars + $expand=Child($select=…) for every
      * struct field (nested projection pushdown P2, storm.go:49-55).
      */
    private[connectors] def selectParams(schema: StructType): Seq[(String, String)] = {
      val (structs, scalars) = schema.fields.partition(_.dataType.isInstanceOf[StructType])
      val sel = scalars.map(_.name).sorted.mkString(",")
      val exp = structs.sortBy(_.name).map { f =>
        val inner = f.dataType.asInstanceOf[StructType].fieldNames.sorted.mkString(",")
        s"${f.name}($$select=$inner)"
      }.mkString(",")
      Seq("$select" -> sel) ++ (if (exp.nonEmpty) Seq("$expand" -> exp) else Nil)
    }
    override def stream(config: Option[JsonNode], state: Option[JsonNode]): PaginatedStream = {
      val base = config.flatMap(c => Option(c.get("url"))).map(_.asText)
        .getOrElse("https://storm.example.com/odata")
      PaginatedStream(
        HttpRequest(s"$base/OrderItems", params = selectParams(stormItemSchema)),
        Pagination.NextUrl("@odata.nextLink"),
        recordsPath = Seq("value"))
    }
  }

  val storm: SourceDef = SourceDef(
    name = "storm",
    docsUrl = "https://stormcommerce.com",
    httpStreams = Seq(
      StreamDef("order_items", stormItemSchema) -> new StormRunner))

  /** Connector registry — the engine dual of the reference server's
    * multiplexing map (`proto.go:149-172`). Built-ins are the reference's
    * five connectors; [[register]] adds application-defined ones (the
    * reference's `integrations.New()` composition, `cmd/server/main.go`).
    * Registrations are per-JVM and read on the driver only: a Spark read
    * carries the resolved connector into its tasks
    * ([[graft.sources.v2.HttpTable]]).
    */
  private val builtin: Map[String, SourceDef] = Map(
    "pokeapi" -> pokeapi,
    "shopify" -> shopify(),
    "klaviyo" -> klaviyo,
    "sitoo" -> sitoo,
    "storm" -> storm)

  private val extra = new scala.collection.concurrent.TrieMap[String, SourceDef]()

  def register(src: SourceDef): Unit = extra.put(src.name, src)

  def all: Map[String, SourceDef] = builtin ++ extra
}
