package graft.core

import java.io.{BufferedWriter, OutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets

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
  * control + record messages as NDJSON to `out`. Distributed record writes
  * use the Column-level envelope builders in [[graft.sinks.Envelopes]]
  * instead; this writer is the protocol-exact CLI/golden-test path.
  *
  * Emission ordering mirrors the dialects: Airbyte registers per-stream
  * state and emits ONE STATE at close (`pkg/airbyte/proto.go:43-51`);
  * Singer emits STATE inline (`pkg/singer/singer_stream.go:41-60`).
  *
  * Record text: `writeRecord` puts `dataJson` into the RECORD envelope as
  * is. From an HTTP stream that is the upstream's own text for the record,
  * whitespace outside strings removed ([[graft.sources.Page]]), so raw
  * number spellings such as `1.50` reach the output unchanged, as with
  * fastjson in the reference. The envelope is written piece by piece around
  * it, with a per-stream prefix built once. Not thread-safe: callers
  * serialize their calls.
  */
trait ProtoWriter {
  def openStream(stream: StreamDef): Unit
  def writeRecord(stream: String, dataJson: String): Unit
  def writeState(stream: String, stateJson: String): Unit
  def writeLog(level: String, message: String): Unit
  def writeSpec(spec: String): Unit
  def writeStatus(ok: Boolean, reason: String): Unit
  def close(cmd: Cmd): Unit
}

object ProtoWriter {
  /** Dialect registry (reference `Protos map[string]ProtoFn`,
    * `proto.go:143-147`; server registers ""→airbyte, "singer"→singer,
    * `cmd/server/main.go:29-32`).
    */
  def apply(format: String, out: Writer, clock: () => Long = () => System.currentTimeMillis()): ProtoWriter =
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

  /** The sink every frontend writes protocol NDJSON through: UTF-8 whatever
    * the platform charset, and buffered, so a line costs no allocation in
    * the encoder. The caller flushes.
    */
  def utf8(out: OutputStream): Writer =
    new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8))
}

/** Airbyte NDJSON dialect (reference `pkg/airbyte/proto.go`,
  * `pkg/airbyte/stream_proto.go`).
  */
final class AirbyteWriter(out: Writer, clock: () => Long) extends ProtoWriter {
  private val opened = mutable.LinkedHashMap[String, StreamDef]()
  private val states = mutable.LinkedHashMap[String, String]()
  private val recordPrefix = mutable.HashMap[String, String]()

  private def emit(s: String): Unit = { out.write(s); out.write('\n') }

  override def openStream(stream: StreamDef): Unit = opened(stream.name) = stream

  override def writeRecord(stream: String, dataJson: String): Unit = {
    out.write(recordPrefix.getOrElseUpdate(stream,
      s"""{"type":"RECORD","record":{"stream":${Json.quote(stream)},"emitted_at":"""))
    out.write(java.lang.Long.toString(clock()))
    out.write(""","data":""")
    out.write(dataJson)
    out.write("}}\n")
  }

  /** State is registered, not streamed (reference `stream_proto.go:42-45`). */
  override def writeState(stream: String, stateJson: String): Unit =
    states(stream) = stateJson

  override def writeLog(level: String, message: String): Unit =
    emit(s"""{"type":"LOG","log":{"level":"$level","message":${Json.quote(message)}}}""")

  override def writeSpec(spec: String): Unit =
    emit(s"""{"type":"SPEC","spec":$spec}""")

  override def writeStatus(ok: Boolean, reason: String): Unit = {
    val status = if (ok) "SUCCEEDED" else "FAILED"
    emit(s"""{"type":"CONNECTION_STATUS","connectionStatus":{"status":"$status","message":${Json.quote(reason)}}}""")
  }

  /** discover → CATALOG of opened schemas; read → single STATE doc
    * (reference `pkg/airbyte/proto.go:34-51`).
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
        val data = states.map { case (k, v) => s"""${Json.quote(k)}:$v""" }.mkString(",")
        emit(s"""{"type":"STATE","state":{"data":{$data}}}""")
      case _ => ()
    }
    out.flush()
  }
}

/** Singer NDJSON dialect (reference `pkg/singer/singer.go`,
  * `pkg/singer/singer_stream.go`): SCHEMA at open with key/order properties,
  * RECORD with `time_extracted`, inline STATE/LOG.
  */
final class SingerWriter(out: Writer, clock: () => Long) extends ProtoWriter {
  private val recordPrefix = mutable.HashMap[String, String]()

  private def emit(s: String): Unit = { out.write(s); out.write('\n') }

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
  override def writeRecord(stream: String, dataJson: String): Unit = {
    out.write(recordPrefix.getOrElseUpdate(stream,
      s"""{"type":"RECORD","stream":${Json.quote(stream)},"time_extracted":"""))
    out.write(java.lang.Long.toString(clock() / 1000))
    out.write(""","record":""")
    out.write(dataJson)
    out.write("}\n")
  }

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

  override def close(cmd: Cmd): Unit = out.flush()
}
