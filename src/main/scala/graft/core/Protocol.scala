package graft.core

import java.io.{OutputStream, Writer}
import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.CodingErrorAction
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.collection.mutable

/** Wire protocol: NDJSON control stream in, dialect-shaped NDJSON out.
  *
  * Control stream semantics mirror the reference (`proto.go:44-108`): one
  * JSON object per line with a `type` of SETTINGS | CONFIG | STATE | CATALOG;
  * SETTINGS selects the output dialect (`settings.format`,
  * `proto.go:143-147`); a STATE doc keyed by stream name carries per-stream
  * cursors, and a global state under the key "" fans out to every stream
  * (`proto.go:90-101`).
  */
object Json {
  val mapper = new ObjectMapper()
  def parse(s: String): JsonNode = mapper.readTree(s)
  def obj(): ObjectNode = mapper.createObjectNode()
  def write(n: JsonNode): String = mapper.writeValueAsString(n)
  /** `s` as a JSON string literal. */
  def quote(s: String): String = mapper.writeValueAsString(s)
}

final case class RunConfig(
    format: String,                       // "airbyte" (default "") | "singer"
    config: Option[JsonNode],             // connector config document
    states: Map[String, JsonNode],        // per-stream cursor state
    selectedStreams: Option[Set[String]]) // CATALOG selection; None = all

object RunConfig {

  val Empty: RunConfig = RunConfig("", None, Map.empty, None)

  /** Parse the NDJSON control stream (reference `integ.Open`,
    * `proto.go:44-108`, incl. the global-state explode of `proto.go:90-101`:
    * a state doc under key "" is a map streamName→state fanned out by its
    * OWN keys — the reference does not consult the stream registry here
    * either, so this signature takes none).
    */
  def parse(lines: Iterator[String]): RunConfig = {
    var format = ""
    var config: Option[JsonNode] = None
    val states = mutable.Map[String, JsonNode]()
    var selected: Option[Set[String]] = None
    lines.map(_.trim).filter(_.nonEmpty).foreach { line =>
      val n = Json.parse(line)
      Option(n.get("type")).map(_.asText("")).getOrElse("") match {
        case "SETTINGS" =>
          format = Option(n.at("/settings/format").asText("")).getOrElse("")
        case "CONFIG" =>
          config = Option(n.get("config"))
        case "STATE" =>
          Option(n.at("/state/data")).filter(_.isObject).foreach { data =>
            val it = data.fields()
            while (it.hasNext) {
              val e = it.next()
              if (e.getKey == "") {
                // global state: {"": {"stream1": {...}, "stream2": {...}}}
                val git = e.getValue.fields()
                while (git.hasNext) {
                  val ge = git.next()
                  states(ge.getKey) = ge.getValue
                }
              } else states(e.getKey) = e.getValue
            }
          }
        case "CATALOG" =>
          // reference parses-but-ignores selection (proto.go:79-80); we honor
          // it when present — a strict superset of reference behavior.
          Option(n.at("/catalog/streams")).filter(_.isArray).foreach { arr =>
            val names = (0 until arr.size()).flatMap { i =>
              // at() returns "" (never null) for a missing path — test for the
              // missing node explicitly or the top-level `name` fallback
              // (Airbyte ConfiguredStream vs bare stream list) is dead code.
              val nested = arr.get(i).at("/stream/name")
              val primary = if (nested.isMissingNode) "" else nested.asText("")
              Option(primary).filter(_.nonEmpty)
                .orElse(Option(arr.get(i).get("name")).map(_.asText("")))
            }.filter(_.nonEmpty)
            if (names.nonEmpty) selected = Some(names.toSet)
          }
        case _ => // unknown control lines are skipped, like the reference
      }
    }
    RunConfig(format, config, states.toMap, selected)
  }
}

/** Commands of the connector lifecycle (reference `proto.go:119-126`). */
sealed trait Cmd
object Cmd {
  case object Spec extends Cmd
  case object Check extends Cmd
  case object Discover extends Cmd
  case object Read extends Cmd
  def parse(s: String): Option[Cmd] = s match {
    case "spec" => Some(Spec)
    case "check" => Some(Check)
    case "discover" => Some(Discover)
    case "read" => Some(Read)
    case _ => None
  }
}

/** Driver-side protocol writer: one dialect instance per run, serializing
  * control + record messages as UTF-8 NDJSON to `out`. Distributed record
  * writes use the Column-level envelope builders in [[graft.sinks.Envelopes]]
  * instead; this writer is the protocol-exact CLI/golden-test path.
  *
  * Emission ordering mirrors the dialects: Airbyte registers per-stream
  * state and emits ONE STATE at close (`pkg/airbyte/proto.go:43-51`);
  * Singer emits STATE inline (`pkg/singer/singer_stream.go:41-60`).
  *
  * Record text: a RECORD envelope holds the record's text as is. From an
  * HTTP stream that is the upstream's own UTF-8 bytes for the record,
  * whitespace outside strings removed ([[graft.sources.Page]]), so raw
  * number spellings such as `1.50` reach the output unchanged, as with
  * fastjson in the reference. RECORD lines are built in a [[RecordLines]]
  * buffer, around a per-stream prefix encoded once, and reach `out` in one
  * write per buffer. Not thread-safe: callers serialize their calls; a
  * [[RecordLines]] is filled by one thread without any lock.
  */
sealed abstract class ProtoWriter(out: OutputStream, clock: () => Long) {
  def openStream(stream: StreamDef): Unit
  def writeState(stream: String, stateJson: String): Unit
  /** The run's input cursors, for a dialect whose closing state must
    * carry forward those of streams this run does not advance.
    */
  def carryStates(states: Map[String, JsonNode]): Unit = ()
  def writeLog(level: String, message: String): Unit
  def writeSpec(spec: String): Unit
  def writeStatus(ok: Boolean, reason: String): Unit
  def close(cmd: Cmd): Unit

  /** A RECORD line is `head(stream)`, the time from `stamp`, `mid`, the
    * record's text, then `tail`.
    */
  protected def recordHead(quotedStream: String): String
  protected def stamp(millis: Long): Long
  protected val recordMid: String
  protected val recordTail: String

  private val heads = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  private[core] final def head(stream: String): Array[Byte] =
    heads.computeIfAbsent(stream, s => recordHead(Json.quote(s)).getBytes(UTF_8))
  private[core] final lazy val mid = recordMid.getBytes(UTF_8)
  private[core] final lazy val tail = recordTail.getBytes(UTF_8)
  private[core] final def now(): Long = stamp(clock())

  /** An empty buffer of RECORD lines, to be filled by one thread. */
  final def records(): RecordLines = new RecordLines(this)

  /** Writes `lines`' RECORD lines to the output and empties it. */
  final def write(lines: RecordLines): Unit = lines.drainTo(out)

  private lazy val single = records()

  final def writeRecord(stream: String, dataJson: String): Unit = {
    single.of(stream).add(dataJson)
    write(single)
  }

  protected final def emit(s: String): Unit = out.write((s + "\n").getBytes(UTF_8))

  protected final def flush(): Unit = out.flush()
}

/** RECORD lines of one stream at a time, encoded into a buffer that is
  * reused from page to page. `emitted_at`/`time_extracted` is read from the
  * writer's clock for each record.
  */
final class RecordLines private[core] (w: ProtoWriter) {
  private var buf = new Array[Byte](1 << 15)
  private var size = 0
  private var head: Array[Byte] = _

  /** Lines from here on are `stream`'s. */
  def of(stream: String): RecordLines = { head = w.head(stream); this }

  def isEmpty: Boolean = size == 0

  /** One RECORD line around the record text `data[off, off + len)`. */
  def add(data: Array[Byte], off: Int, len: Int): Unit = {
    val mid = w.mid
    val tail = w.tail
    val need = size + head.length + 20 + mid.length + len + tail.length
    if (need > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
    put(head, 0, head.length)
    putLong(w.now())
    put(mid, 0, mid.length)
    put(data, off, len)
    put(tail, 0, tail.length)
  }

  def add(dataJson: String): Unit = {
    val b = dataJson.getBytes(UTF_8)
    add(b, 0, b.length)
  }

  /** A line for each record of `page`. */
  def add(page: graft.sources.Page): Unit = {
    var i = 0
    while (i < page.size) { add(page.data, page.offset(i), page.length(i)); i += 1 }
  }

  private def put(b: Array[Byte], off: Int, len: Int): Unit = {
    System.arraycopy(b, off, buf, size, len)
    size += len
  }

  /** `v` in decimal, as `java.lang.Long.toString` spells it. */
  private def putLong(v: Long): Unit =
    if (v < 0) { val b = java.lang.Long.toString(v).getBytes(US_ASCII); put(b, 0, b.length) }
    else {
      var digits = 1
      var t = v
      while (t >= 10) { t /= 10; digits += 1 }
      var i = size + digits - 1
      t = v
      while (i >= size) { buf(i) = ('0' + t % 10).toByte; t /= 10; i -= 1 }
      size += digits
    }

  private[core] def drainTo(out: OutputStream): Unit = {
    out.write(buf, 0, size)
    size = 0
  }
}

object ProtoWriter {
  /** Dialect registry (reference `Protos map[string]ProtoFn`,
    * `proto.go:143-147`; server registers ""→airbyte, "singer"→singer,
    * `cmd/server/main.go:29-32`).
    */
  def apply(format: String, out: OutputStream, clock: () => Long = () => System.currentTimeMillis()): ProtoWriter =
    format match {
      case "" | "airbyte" => new AirbyteWriter(out, clock)
      case "singer" => new SingerWriter(out, clock)
      case other => throw new IllegalArgumentException(s"unknown format: $other")
    }

  /** Registry membership — lets frontends reject an unknown format BEFORE
    * committing a response status, mirroring the reference's `protos[format]`
    * lookup failing before any output (`proto.go:103-107`).
    */
  def supported(format: String): Boolean =
    format == "" || format == "airbyte" || format == "singer"

  /** An output stream that decodes the UTF-8 written to it into `out` as it
    * arrives: the character side of the byte writer, for callers that hold
    * a `Writer`. A character split across writes is completed by the next.
    */
  def decoding(out: Writer): OutputStream = new OutputStream {
    private val decoder = UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE).onUnmappableCharacter(CodingErrorAction.REPLACE)
    private val chars = CharBuffer.allocate(8192)
    private var carry = Array.emptyByteArray // the start of a split character

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      val in =
        if (carry.isEmpty) ByteBuffer.wrap(b, off, len)
        else ByteBuffer.wrap(carry ++ java.util.Arrays.copyOfRange(b, off, off + len))
      while (decoder.decode(in, chars, false).isOverflow) drain()
      drain()
      carry = new Array[Byte](in.remaining)
      in.get(carry)
    }

    private def drain(): Unit = {
      out.write(chars.array, 0, chars.position)
      chars.clear()
    }

    override def flush(): Unit = out.flush()
  }
}

/** Airbyte NDJSON dialect (reference `pkg/airbyte/proto.go`,
  * `pkg/airbyte/stream_proto.go`).
  */
final class AirbyteWriter(out: OutputStream, clock: () => Long) extends ProtoWriter(out, clock) {
  private val opened = mutable.LinkedHashMap[String, StreamDef]()
  private val states = mutable.LinkedHashMap[String, String]()
  private var carried = Map.empty[String, JsonNode]

  override def openStream(stream: StreamDef): Unit = opened(stream.name) = stream

  override protected def recordHead(quotedStream: String): String =
    s"""{"type":"RECORD","record":{"stream":$quotedStream,"emitted_at":"""
  override protected def stamp(millis: Long): Long = millis
  override protected val recordMid: String = ""","data":"""
  override protected val recordTail: String = "}}\n"

  /** State is registered, not streamed (reference `stream_proto.go:42-45`). */
  override def writeState(stream: String, stateJson: String): Unit =
    states(stream) = stateJson

  /** The single STATE replaces the platform's whole saved state, so a
    * stream that fails or is not selected keeps its input cursor in it.
    */
  override def carryStates(states: Map[String, JsonNode]): Unit = carried = states

  override def writeLog(level: String, message: String): Unit =
    emit(s"""{"type":"LOG","log":{"level":"$level","message":${Json.quote(message)}}}""")

  override def writeSpec(spec: String): Unit =
    emit(s"""{"type":"SPEC","spec":$spec}""")

  override def writeStatus(ok: Boolean, reason: String): Unit = {
    val status = if (ok) "SUCCEEDED" else "FAILED"
    emit(s"""{"type":"CONNECTION_STATUS","connectionStatus":{"status":"$status","message":${Json.quote(reason)}}}""")
  }

  /** discover → CATALOG of opened schemas; read → single STATE doc
    * (reference `pkg/airbyte/proto.go:34-51`): this run's new cursors,
    * then every input cursor it did not replace.
    */
  override def close(cmd: Cmd): Unit = {
    cmd match {
      case Cmd.Discover =>
        val streams = opened.values.map { s =>
          s"""{"name":${Json.quote(s.name)},"json_schema":${s.jsonSchema},"supported_sync_modes":[${
            if (s.incremental) "\"full_refresh\",\"incremental\"" else "\"full_refresh\""
          }]${s.namespace.fold("")(ns => s""","namespace":${Json.quote(ns)}""")}}"""
        }.mkString(",")
        emit(s"""{"type":"CATALOG","catalog":{"streams":[$streams]}}""")
      case Cmd.Read =>
        val kept = carried.toSeq.sortBy(_._1).collect {
          case (k, v) if !states.contains(k) => k -> Json.write(v)
        }
        val data = (states ++ kept).map { case (k, v) => s"""${Json.quote(k)}:$v""" }.mkString(",")
        emit(s"""{"type":"STATE","state":{"data":{$data}}}""")
      case _ => ()
    }
    flush()
  }
}

/** Singer NDJSON dialect (reference `pkg/singer/singer.go`,
  * `pkg/singer/singer_stream.go`): SCHEMA at open with key/order properties,
  * RECORD with `time_extracted`, inline STATE/LOG.
  */
final class SingerWriter(out: OutputStream, clock: () => Long) extends ProtoWriter(out, clock) {
  override def openStream(stream: StreamDef): Unit = {
    val keys = stream.primaryKey.map(f => Json.quote(f.dotted)).mkString(",")
    val order = stream.orderBy.map(f => Json.quote(f.dotted)).mkString(",")
    emit(s"""{"type":"SCHEMA","stream":${Json.quote(stream.name)},"schema":${stream.jsonSchema},"key_properties":[$keys]${
      if (order.nonEmpty) s""","order_by_properties":[$order]""" else ""
    }}""")
  }

  // time_extracted as INTEGER epoch seconds is deliberate reference wire
  // parity (`pkg/singer/singer.go:29`, NewNumberInt(time.Now().Unix())) —
  // the Singer spec itself says RFC3339, but compatibility with the
  // reference's own consumers governs here.
  override protected def recordHead(quotedStream: String): String =
    s"""{"type":"RECORD","stream":$quotedStream,"time_extracted":"""
  override protected def stamp(millis: Long): Long = millis / 1000
  override protected val recordMid: String = ""","record":"""
  override protected val recordTail: String = "}\n"

  /** Inline, stream-scoped (reference `singer_stream.go:41-60`). */
  override def writeState(stream: String, stateJson: String): Unit =
    emit(s"""{"type":"STATE","value":{${Json.quote(stream)}:$stateJson}}""")

  override def writeLog(level: String, message: String): Unit =
    emit(s"""{"type":"LOG","log":{"level":"$level","message":${Json.quote(message)}}}""")

  override def writeSpec(spec: String): Unit =
    emit(s"""{"type":"SPEC","spec":$spec}""")

  override def writeStatus(ok: Boolean, reason: String): Unit = {
    val status = if (ok) "SUCCEEDED" else "FAILED"
    emit(s"""{"type":"STATUS","status":{"status":"$status","message":${Json.quote(reason)}}}""")
  }

  override def close(cmd: Cmd): Unit = flush()
}
