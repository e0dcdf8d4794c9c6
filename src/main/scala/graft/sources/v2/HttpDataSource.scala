package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptions}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.connectors.ConnectorDefs
import graft.core.Json
import graft.sources.{JdkHttpClient, PaginatedStream, Pagination}

/** DataSource V2 integration for the paginated-HTTP source family: exposes
  * any registered connector stream as a Spark table —
  *
  * {{{
  *   spark.read.format("graft-http")
  *     .option("connector", "sitoo").option("stream", "products")
  *     .option("config", """{"api_url":"http://..."}""")
  *     .load()
  * }}}
  *
  * Spark-native pushdown surfaces (SURVEY §4):
  *  - `SupportsPushDownRequiredColumns`: the pruned schema reaches the
  *    partition reader, which parses ONLY those fields from each record
  *    (and `.explain` shows the pruned ReadSchema). Request-level `fields=`
  *    projection additionally happens in the connector declaration, derived
  *    from the declared schema (P1).
  *  - Parallel scan: offset-paginated streams (S6) split into one
  *    InputPartition per page-range when `total` is configured — the
  *    reference's `start += num` loop becomes N concurrent range readers.
  *    Cursor-chained styles (S3-S5/S7) are inherently sequential → one
  *    partition, exactly like the reference's one-goroutine-per-stream.
  */
final class HttpTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-http"

  private def streamDefOf(options: CaseInsensitiveStringMap) = {
    val connector = Option(options.get("connector"))
      .getOrElse(throw new IllegalArgumentException("option 'connector' is required"))
    val src = ConnectorDefs.all.getOrElse(connector,
      throw new IllegalArgumentException(
        s"unknown connector '$connector'; known: ${ConnectorDefs.all.keys.toSeq.sorted.mkString(",")}"))
    val stream = Option(options.get("stream")).getOrElse(src.httpStreams.head._1.name)
    src.httpStreams.find(_._1.name == stream).getOrElse(
      throw new IllegalArgumentException(s"connector '$connector' has no stream '$stream'"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    streamDefOf(options)._1.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val (sd, _) = streamDefOf(options)
    // Normalize option keys to lowercase ONCE at the provider boundary:
    // downstream code does plain props.get(...) in several places, and
    // option casing must not silently change behavior (e.g. .option("Total",
    // ...) previously fell back to a single sequential partition). All
    // literal lookups below this point use lowercase keys.
    val normalized = properties.asScala.map {
      case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
    }.toMap
    new HttpTable(sd.name, sd.schema, normalized)
  }
}

final class HttpTable(name0: String, schema0: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"graft-http:$name0"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val cursor = Option(options.get("connector"))
      .flatMap(ConnectorDefs.all.get)
      .flatMap(_.httpStreams.find(_._1.name == name0))
      .flatMap(_._1.iterateBy.map(_.dotted))
    new HttpScanBuilder(schema0, props, cursor)
  }
}

/** Column pruning + cursor-predicate pushdown. A `cursor > X` /
  * `cursor >= X` filter becomes the stream's incremental state (`{"To":X}`
  * → the connector's `updated_at_min`-style request param, P3/SURVEY §4) —
  * the predicate travels all the way into the HTTP request instead of
  * filtering post-fetch. Every filter is ALSO returned as unhandled so
  * Spark re-applies it after the scan: the pushdown narrows the fetch, the
  * engine still guarantees the semantics (exactly how parquet pushdown
  * composes with residual filters).
  */
final class HttpScanBuilder(full: StructType, props: Map[String, String],
    cursorCol: Option[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve declared field order; empty projection (count(*)) allowed
    required = StructType(full.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  // Only bounds the runner can actually consume are pushable: the window
  // calc does Instant.parse, so a non-RFC3339 comparison value (legal as a
  // plain string filter) must stay engine-side or it would crash planning.
  private def parseable(v: String): Boolean =
    scala.util.Try(java.time.Instant.parse(v)).isSuccess

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual}
    pushed = cursorCol.fold(Array.empty[org.apache.spark.sql.sources.Filter]) { c =>
      filters.collect {
        case f @ GreaterThan(`c`, v: String) if parseable(v) => f
        case f @ GreaterThanOrEqual(`c`, v: String) if parseable(v) => f
      }
    }
    filters // all re-applied post-scan; the pushdown only narrows the fetch
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  def cursor: Option[String] = cursorCol

  override def build(): Scan = {
    import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual}
    // Chronological max of the pushed bounds becomes the cursor state
    // consumed by the runner's window calc. Bounds are compared as PARSED
    // Instants, never as strings: Instant.parse (the pushFilters guard)
    // accepts fractional seconds and non-Z offsets, which mis-order
    // lexicographically ('…T00:00:00.5Z' sorts before '…T00:00:00Z';
    // '+10:00' offsets sort by local time). A user-supplied state option
    // only ever TIGHTENS: pushdown must never widen the fetch window (a
    // filter that adds rows would be a correctness bug, not an
    // optimization), so the chronologically-latest bound wins. The emitted
    // To is normalized via ISO_INSTANT (lossless round-trip through
    // Instant.parse, which the runner's window calc uses).
    val bound = pushed.collect {
      case GreaterThan(_, v: String) => java.time.Instant.parse(v)
      case GreaterThanOrEqual(_, v: String) => java.time.Instant.parse(v)
    }.maxOption
    val existingStr = props.get("state")
      .map(Json.parse).flatMap(n => Option(n.get("To")).map(_.asText))
    val existing = existingStr.flatMap(s => scala.util.Try(java.time.Instant.parse(s)).toOption)
    val effProps =
      if (existingStr.isDefined && existing.isEmpty) props // unparseable user state: leave it alone
      else (bound.toSeq ++ existing.toSeq).maxOption match {
        case Some(i) if !existing.contains(i) =>
          props + ("state" -> s"""{"To":"${java.time.format.DateTimeFormatter.ISO_INSTANT.format(i)}"}""")
        case _ => props
      }
    new HttpScan(required, effProps, cursorCol)
  }
}

final class HttpScan(readSchema: StructType, val props: Map[String, String],
    cursorCol: Option[String] = None) extends Scan with Batch {
  override def readSchema(): StructType = readSchema
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // Streaming REQUIRES a cursor: without iterateBy every window would
    // re-emit the entire stream on every trigger (unbounded duplication) —
    // fail at planning, like the batch path's unknown-connector error.
    val cursor = cursorCol.getOrElse(throw new IllegalArgumentException(
      s"stream '${props.getOrElse("stream", "?")}' of connector " +
        s"'${props.getOrElse("connector", "?")}' declares no iterateBy cursor; " +
        "micro-batch streaming needs one to window the sync"))
    new HttpMicroBatchStream(readSchema, props, cursor)
  }
  override def description(): String =
    s"graft-http connector=${props.getOrElse("connector", "?")} stream=${props.getOrElse("stream", "?")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val total = props.get("total").map(_.toInt)
    val stream = HttpScan.buildStream(props)
    (stream.pagination, total) match {
      case (off: Pagination.Offset, Some(n)) if n > off.num =>
        // one partition per page range: the DSv2 split of the reference's
        // offset loop (SURVEY §2 S6)
        val pagesPerPart = // key lowercase: props normalized at getTable
          math.max(1, props.get("pagesperpartition").map(_.toInt).getOrElse(4))
        val chunk = off.num * pagesPerPart
        val ranges = (0 until n by chunk).toArray
        // each partition is stamped with its share of the connector budget:
        // the reader paces at requestsPerSec / nShares, so the cluster-wide
        // aggregate honors the configured rate wherever these get scheduled
        ranges.zipWithIndex.map { case (lo, i) =>
          HttpPartition(lo, math.min(n - lo, chunk), i, ranges.length): InputPartition
        }
      case _ => Array(HttpPartition(0, -1)) // sequential chain: single reader
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HttpReaderFactory(readSchema, props)
}

object HttpScan {
  /** Build the stream's page loop from the serialized options (runs on both
    * driver for planning and executors for reading).
    */
  def buildStream(props: Map[String, String]): PaginatedStream = {
    val options = new CaseInsensitiveStringMap(props.asJava)
    val src = ConnectorDefs.all(options.get("connector"))
    val name = Option(options.get("stream")).getOrElse(src.httpStreams.head._1.name)
    val runner = src.httpStreams.find(_._1.name == name).get._2
    val config = Option(options.get("config")).map(Json.parse)
    val state = Option(options.get("state")).map(Json.parse)
    runner.stream(config, state)
  }
}

final case class HttpPartition(startOffset: Int, count: Int,
    shareIndex: Int = 0, nShares: Int = 1) extends InputPartition

final class HttpReaderFactory(readSchema: StructType, props: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HttpPartition]
    new HttpPartitionReader(readSchema, props, p)
  }
}

final class HttpPartitionReader(readSchema: StructType, props: Map[String, String], part: HttpPartition)
    extends PartitionReader[InternalRow] {

  // The standard transport stack (retry OUTSIDE pacing, so every physical
  // attempt draws a token). Pacing draws from THIS PARTITION'S SHARE of
  // the connector budget (requestsPerSec / nShares): the driver stamped
  // every planned partition with its share at planInputPartitions, so the
  // cluster-wide aggregate honors the configured rate no matter how Spark
  // spreads the partitions over executors — the per-JVM-singleton model's
  // `rate × executors` aggregate is gone (SURVEY §7 hard part b).
  // Reference: 429-aware shared throttling, utils.go:35-38,
  // readme.MD:99-104.
  private val client = {
    val options = new CaseInsensitiveStringMap(props.asJava)
    val src = ConnectorDefs.all(options.get("connector"))
    graft.core.Connector.transportShare(src, new JdkHttpClient(),
      part.shareIndex, part.nShares)
  }

  private val records: Iterator[String] = {
    val base = HttpScan.buildStream(props)
    val stream = base.pagination match {
      case off: Pagination.Offset if part.count >= 0 =>
        // re-anchor the offset loop at this partition's range
        val anchored = new Pagination {
          override def first(b: graft.sources.HttpRequest) =
            b.withParam(off.startParam, part.startOffset.toString)
              .withParam(off.numParam, off.num.toString)
          override def next(b: graft.sources.HttpRequest, last: graft.sources.Page) =
            off.next(b, last)
        }
        base.copy(pagination = anchored,
          maxPages = (part.count + off.num - 1) / off.num)
      case _ => base
    }
    stream.fetch(client)
  }

  // Spark's own JSON row parser, with the PRUNED schema: unprojected fields
  // are never materialized.
  private val parser = new JacksonParser(readSchema,
    new JSONOptions(Map.empty[String, String], "UTC"), allowArrayAsStructs = false)
  private val createParser = CreateJacksonParser.utf8String _

  private var current: InternalRow = _

  override def next(): Boolean =
    if (!records.hasNext) false
    else {
      val rows = parser.parse(UTF8String.fromString(records.next()), createParser,
        (s: UTF8String) => s)
      if (rows.isEmpty) next()
      else { current = rows.head.copy(); true }
    }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
