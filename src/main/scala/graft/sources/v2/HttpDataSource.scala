package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.connectors.ConnectorDefs
import graft.core.{Connector, HttpRunner, Json, SourceDef, StreamDef}
import graft.sources.{HttpClient, JdkHttpClient, Page, PaginatedStream, Pagination}

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
  *
  * This provider is the only place the connector registry is read: the
  * [[HttpTable]] it builds carries everything the scan and its readers need.
  */
final class HttpTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-http"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    getTable(null, Array.empty, options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // Option keys are normalized to lowercase once, here: the scan looks
    // them up by lowercase literal, and option casing must not silently
    // change behavior (e.g. .option("Total", ...) falling back to a single
    // sequential partition).
    val options = properties.asScala.map {
      case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
    }.toMap
    val connector = options.getOrElse("connector",
      throw new IllegalArgumentException("option 'connector' is required"))
    val src = ConnectorDefs.all.getOrElse(connector,
      throw new IllegalArgumentException(
        s"unknown connector '$connector'; known: ${ConnectorDefs.all.keys.toSeq.sorted.mkString(",")}"))
    val stream = options.get("stream")
    val (sd, runner) = stream.fold(src.httpStreams.headOption)(s => src.httpStreams.find(_._1.name == s))
      .getOrElse(throw new IllegalArgumentException(
        s"connector '$connector' has no stream${stream.fold("")(s => s" '$s'")}"))
    HttpTable(src.transportOnly, sd, runner, options.get("config"), options.get("state"),
      new JdkHttpClient(), options)
  }
}

/** One HTTP stream as a Spark table, resolved on the driver: the connector
  * (stripped to what its transport needs, [[SourceDef.transportOnly]]), the
  * stream and its runner, the config and cursor state documents, the BASE
  * client (the retry/pacing stack is built per reader) and the lowercase
  * `graft-http` options. Serializable: the reader factories carry it to the
  * executors, which therefore never need the connector registered.
  */
final case class HttpTable(src: SourceDef, sd: StreamDef, runner: HttpRunner,
    config: Option[String], state: Option[String], client: HttpClient,
    options: Map[String, String] = Map.empty) extends Table with SupportsRead {
  override def name(): String = s"graft-http:${sd.name}"
  override def toString: String = name() // the config may hold credentials
  override def schema(): StructType = sd.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  // the relation's options are ignored: this table already holds them
  override def newScanBuilder(unused: CaseInsensitiveStringMap): ScanBuilder = new HttpScanBuilder(this)

  /** The stream's page loop for this table's config and state. */
  def stream: PaginatedStream = runner.stream(config.map(Json.parse), state.map(Json.parse))
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
final class HttpScanBuilder(table: HttpTable)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private val full = table.schema()
  private val cursorCol = table.sd.iterateBy.map(_.dotted)
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
    val existingStr = table.state
      .map(Json.parse).flatMap(n => Option(n.get("To")).map(_.asText))
    val existing = existingStr.flatMap(s => scala.util.Try(java.time.Instant.parse(s)).toOption)
    val narrowed =
      if (existingStr.isDefined && existing.isEmpty) table // unparseable user state: leave it alone
      else (bound.toSeq ++ existing.toSeq).maxOption match {
        case Some(i) if !existing.contains(i) => table.copy(state =
          Some(s"""{"To":"${java.time.format.DateTimeFormatter.ISO_INSTANT.format(i)}"}"""))
        case _ => table
      }
    new HttpScan(required, narrowed)
  }
}

/** @param table the scanned table, its state narrowed by any pushed cursor bound */
final class HttpScan(readSchema: StructType, val table: HttpTable) extends Scan with Batch {
  override def readSchema(): StructType = readSchema
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new HttpMicroBatchStream(readSchema, table)
  override def description(): String =
    s"graft-http connector=${table.src.name} stream=${table.sd.name}"

  override def planInputPartitions(): Array[InputPartition] = {
    val total = table.options.get("total").map(_.toInt)
    (table.stream.pagination, total) match {
      case (off: Pagination.Offset, Some(n)) if n > off.num =>
        // one partition per page range: the DSv2 split of the reference's
        // offset loop (SURVEY §2 S6)
        val pagesPerPart = math.max(1, table.options.get("pagesperpartition").map(_.toInt).getOrElse(4))
        val chunk = math.min(off.num.toLong * pagesPerPart, n.toLong).toInt
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

  override def createReaderFactory(): PartitionReaderFactory = new HttpReaderFactory(readSchema, table)
}

/** A page range of an offset-paginated stream (`count` < 0: the whole
  * chain), stamped with its share of the connector's request budget.
  */
final case class HttpPartition(startOffset: Int, count: Int,
    shareIndex: Int = 0, nShares: Int = 1) extends InputPartition {

  /** This range's pages. The standard transport stack (retry OUTSIDE
    * pacing, so every physical attempt draws a token) paces within THIS
    * PARTITION'S SHARE of the connector budget (requestsPerSec / nShares),
    * so the cluster-wide aggregate honors the configured rate no matter how
    * Spark spreads the partitions over executors (SURVEY §7 hard part b;
    * reference: 429-aware shared throttling, utils.go:35-38).
    */
  def pages(table: HttpTable): Iterator[Page] = {
    val base = table.stream
    val stream = base.pagination match {
      case off: Pagination.Offset if count >= 0 =>
        // re-anchor the offset loop at this partition's range
        val anchored = new Pagination {
          override def first(b: graft.sources.HttpRequest) =
            b.withParam(off.startParam, startOffset.toString).withParam(off.numParam, off.num.toString)
          override def next(b: graft.sources.HttpRequest, last: Page) = off.next(b, last)
        }
        base.copy(pagination = anchored, maxPages = (count + off.num - 1) / off.num)
      case _ => base
    }
    stream.pages(Connector.transportShare(table.src, table.client, shareIndex, nShares))
  }
}

final class HttpReaderFactory(readSchema: StructType, table: HttpTable) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case p: HttpPartition => new HttpPartitionReader(readSchema, p.pages(table))
    case p: HttpStreamPartition => new HttpStreamPartitionReader(readSchema, table, p)
  }
}

/** The page→row loop of every `graft-http` read. Each record reaches Spark's
  * own JSON row parser once, as its slice of the page's UTF-8 bytes, with the
  * PRUNED schema: unprojected fields are never materialized. Bad records
  * follow the JSON source's PERMISSIVE mode: a declared field that is
  * missing or does not convert reads as null, and the rest of the record is
  * kept. [[keep]] lets a reader skip parsed records.
  */
class HttpPartitionReader(readSchema: StructType, pages: Iterator[Page])
    extends PartitionReader[InternalRow] {

  private val parser = {
    val options = new JSONOptions(Map.empty[String, String], "UTC")
    val raw = new JacksonParser(readSchema, options, allowArrayAsStructs = false)
    val create = CreateJacksonParser.utf8String _
    new FailureSafeParser[UTF8String](raw.parse(_, create, identity[UTF8String]),
      PermissiveMode, readSchema, options.columnNameOfCorruptRecord)
  }

  private var page: Page = _
  private var i = 0
  private var current: InternalRow = _

  /** Whether to return `row`, parsed from record `i` of `page`. */
  protected def keep(row: InternalRow, page: Page, i: Int): Boolean = true

  // loop, not self-recursion: a long run of skipped records must not grow
  // the stack. The parser builds a new row per record, so none is copied.
  override def next(): Boolean = {
    while (true) {
      while (page == null || i == page.size) {
        if (!pages.hasNext) return false
        page = pages.next()
        i = 0
      }
      val rows = parser.parse(UTF8String.fromBytes(page.data, page.offset(i), page.length(i)))
      i += 1
      if (rows.hasNext) {
        val row = rows.next()
        if (keep(row, page, i - 1)) { current = row; return true }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
