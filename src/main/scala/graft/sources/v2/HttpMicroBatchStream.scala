package graft.sources.v2

import java.time.Instant

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.core.{Connector, Json}
import graft.sources.Page

/** Continuous incremental sync as Structured Streaming: each micro-batch is
  * one cursor window `[start.To, end.To)` of the connector's incremental
  * stream — the reference's "run the sync again with the persisted state"
  * loop (`shopify.go:67-72` window + state re-issue) becomes `readStream`
  * with the cursor as a CHECKPOINTED stream offset. Exactly-once batch
  * boundaries come from Spark's offset log: on restart the query resumes
  * from the last committed window end, precisely the semantics the
  * reference gets from persisting `state.To` after a successful sync.
  *
  * Mechanics:
  *  - offset = `{"to": <rfc3339>}`; the initial offset is the `state`
  *    option's `To` (or epoch for a first sync);
  *  - `latestOffset` = the current wall clock (overridable via the
  *    `nowOverride` option for deterministic tests), CLAMPED to never run
  *    backwards past an already-issued offset — a clock regression (NTP
  *    step, driver failover to a slow clock) must not re-cover committed
  *    windows;
  *  - each batch plans ONE partition (cursor chains are sequential); the
  *    reader issues the runner's request with state `{"To": start}` — the
  *    incremental window pushdown — and additionally filters records to
  *    `start <= cursor < end` so batch boundaries are exact even when the
  *    upstream API returns the full tail. Records with a missing or
  *    unparseable cursor are DROPPED on this path: an incremental sync is
  *    defined by its cursor, and keeping such records would re-emit them on
  *    every trigger forever (use the batch read surface for cursorless
  *    data).
  */
final class HttpMicroBatchStream(readSchema: StructType, table: HttpTable)
    extends MicroBatchStream with SupportsAdmissionControl {

  // Streaming REQUIRES a cursor: without iterateBy every window would
  // re-emit the entire stream on every trigger (unbounded duplication) —
  // fail at planning, like the batch path's unknown-connector error.
  require(table.sd.iterateBy.isDefined,
    s"stream '${table.sd.name}' of connector '${table.src.name}' declares no iterateBy cursor; " +
      "micro-batch streaming needs one to window the sync")

  private def parse(s: String): Instant = Instant.parse(s)

  /** Catch-up admission control: `maxWindowSeconds` caps a single batch's
    * cursor window, so a query restarted after a long idle period (or a
    * first sync against years of history) drains the backlog in bounded
    * windows instead of one giant fetch — Spark keeps scheduling batches
    * until the offset catches up to the clock. Unset = unbounded windows;
    * a cap of 0 or less would never advance the stream, so it is rejected.
    */
  private val maxWindowSec: Option[Long] = table.options.get("maxwindowseconds").map(_.toLong)
  require(maxWindowSec.forall(_ > 0),
    s"option 'maxWindowSeconds' must be positive, got ${maxWindowSec.getOrElse("")}")

  private val initialTo: String = table.state.map(Json.parse)
    .flatMap(n => Option(n.get("To")).map(_.asText))
    .getOrElse("1970-01-01T00:00:00Z")

  // monotonic floor for latestOffset (see scaladoc); offsets this stream has
  // already seen or issued never run backwards
  @volatile private var hi: Instant = parse(initialTo)

  private def advance(i: Instant): Instant = synchronized {
    if (i.isAfter(hi)) hi = i
    hi
  }

  private def now(): Instant = table.options.get("nowoverride").map(parse).getOrElse(Instant.now())

  override def initialOffset(): Offset = CursorOffset(initialTo)

  override def latestOffset(): Offset = CursorOffset(advance(now()).toString)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission-control variant: the window end is min(now, start + cap) —
    * and, like the no-arg path, the RETURNED offset is the shared monotonic
    * clamp `advance(eff)`: if an earlier call already issued a larger
    * offset, re-issue that floor rather than handing Spark an offset below
    * a previously-promised one (a clock regression after a larger no-arg
    * `latestOffset` must not walk the stream backwards). The window cap
    * bounds growth from `start`; an already-issued larger offset takes
    * precedence because it was already promised.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = parse(start.asInstanceOf[CursorOffset].to)
    val n = now()
    val end = maxWindowSec match {
      case Some(cap) if n.isAfter(s.plusSeconds(cap)) => s.plusSeconds(cap)
      case _ => n
    }
    val eff = if (end.isBefore(s)) s else end
    CursorOffset(advance(eff).toString)
  }

  override def deserializeOffset(json: String): Offset = {
    val to = Json.parse(json).get("to").asText
    advance(parse(to))
    CursorOffset(to)
  }

  override def commit(end: Offset): Unit = () // Spark's offset log is the state store

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[CursorOffset].to, end.asInstanceOf[CursorOffset].to)
    if (!parse(e).isAfter(parse(s))) Array.empty // empty or inverted window: nothing to fetch
    else Array(HttpStreamPartition(s, e))
  }

  override def createReaderFactory(): PartitionReaderFactory = new HttpReaderFactory(readSchema, table)

  override def stop(): Unit = ()
}

/** JSON offset: the window's exclusive upper bound after the batch. */
final case class CursorOffset(to: String) extends Offset {
  override def json(): String = s"""{"to":${Json.quote(to)}}"""
}

final case class HttpStreamPartition(startTo: String, endTo: String) extends InputPartition

/** One micro-batch window: the shared page→row loop over the runner's
  * request issued with state `{"To": start}` (standard transport stack:
  * per-JVM budget, retry outside pacing), plus an exact record-level window
  * filter on the cursor field. The cursor is read from the parsed row when
  * the cursor column survives projection (the common case), falling back to
  * a raw-JSON extraction only when it was pruned or is nested.
  */
final class HttpStreamPartitionReader(readSchema: StructType, table: HttpTable,
    part: HttpStreamPartition)
    extends HttpPartitionReader(readSchema,
      table.copy(state = Some(s"""{"To":"${part.startTo}"}""")).stream
        .pages(Connector.transport(table.src, table.client)))
    with org.apache.spark.internal.Logging {

  private val cursorField = table.sd.iterateBy.get.dotted

  // Records dropped for a MISSING/UNPARSEABLE cursor are by-design data loss
  // on this path (class doc) — count and log them so a transient upstream
  // schema hiccup (null updated_at on a few rows) is observable instead of
  // silent. Out-of-window records are normal (the API returned the tail)
  // and are not counted.
  private var droppedNoCursor: Long = 0L

  private def parseInstant(s: String): Option[Instant] =
    scala.util.Try(Instant.parse(s)).toOption

  private val startI = parseInstant(part.startTo)
  private val endI = parseInstant(part.endTo)

  // fast path: top-level string cursor present in the (possibly pruned) schema
  private val cursorIdx: Option[Int] =
    if (cursorField.contains('.')) None
    else readSchema.fieldNames.indexOf(cursorField) match {
      case -1 => None
      case i if readSchema.fields(i).dataType == StringType => Some(i)
      case _ => None
    }

  private def inWindow(t: Instant): Boolean =
    startI.forall(s => !t.isBefore(s)) && endI.forall(e => t.isBefore(e))

  private def cursorFromRaw(recordJson: String): Option[Instant] = {
    val c = cursorField.split('.')
      .foldLeft(Json.parse(recordJson): com.fasterxml.jackson.databind.JsonNode) {
        (n, k) => if (n == null) null else n.get(k)
      }
    Option(c).filterNot(_.isNull).map(_.asText).flatMap(parseInstant)
  }

  override protected def keep(row: InternalRow, page: Page, i: Int): Boolean = {
    val cursor = cursorIdx match {
      case Some(c) if !row.isNullAt(c) => parseInstant(row.getUTF8String(c).toString)
      case Some(_) => None
      case None => cursorFromRaw(page.record(i))
    }
    cursor match {
      case Some(t) => inWindow(t) // outside the window: the API returned the tail; expected
      case None => droppedNoCursor += 1; false // no usable cursor: dropped (see class doc)
    }
  }

  override def close(): Unit =
    if (droppedNoCursor > 0) {
      logWarning(s"micro-batch window [${part.startTo}, ${part.endTo}): dropped " +
        s"$droppedNoCursor record(s) with missing/unparseable cursor '$cursorField' " +
        "— permanent on the streaming path; check upstream cursor quality")
    }
}
