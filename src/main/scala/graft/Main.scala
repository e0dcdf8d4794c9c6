package graft

import java.io.Writer
import java.nio.file.{Files, Paths}

import graft.connectors.ConnectorDefs
import graft.core.{Cmd, Connector, ProtoWriter, RunConfig}
import graft.sources.JdkHttpClient

/** Airbyte-style CLI frontend (reference `pkg/airbyte/cmd.go:18-76`):
  * `<cmd> --connector <name> [--config file-or-inline] [--state f-o-i]
  * [--catalog f-o-i] [--format airbyte|singer]` — flags are synthesized into
  * the same control NDJSON the server path consumes, then dispatched through
  * `Connector.handle`. Output is protocol NDJSON on stdout, in UTF-8
  * whatever the platform charset.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val out = ProtoWriter.utf8(System.out)
    try run(args, out) finally out.flush()
  }

  /** File-or-inline JSON (reference `cmd.go:44-58`: a value starting with
    * `{` is inline, otherwise a path).
    */
  private def fileOrInline(v: String): String =
    if (v.trim.startsWith("{")) v else Files.readString(Paths.get(v))

  def run(args: Array[String], out: Writer): Unit = {
    val cmd = args.headOption.flatMap(Cmd.parse).getOrElse {
      System.err.println("usage: graft.Main <spec|check|discover|read> --connector <name> [--config f|json] [--state f|json] [--catalog f|json] [--format airbyte|singer]")
      sys.exit(2)
    }
    val flags = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val connector = flags.getOrElse("connector", {
      System.err.println(s"--connector required; known: ${ConnectorDefs.all.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val src = ConnectorDefs.all.getOrElse(connector, {
      System.err.println(s"unknown connector '$connector'; known: ${ConnectorDefs.all.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    // synthesize the control stream, exactly like the reference CLI
    val control = Seq(
      Some(s"""{"type":"SETTINGS","settings":{"format":"${flags.getOrElse("format", "")}"}}"""),
      flags.get("config").map(c => s"""{"type":"CONFIG","config":${fileOrInline(c)}}"""),
      flags.get("state").map(s => s"""{"type":"STATE","state":{"data":${fileOrInline(s)}}}"""),
      flags.get("catalog").map(c => s"""{"type":"CATALOG","catalog":${fileOrInline(c)}}""")).flatten
    val rc = RunConfig.parse(control.iterator)
    val client = Connector.transport(src, new JdkHttpClient())
    Connector.handle(src, cmd, rc, out, client)
  }
}
