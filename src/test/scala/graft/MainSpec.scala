package graft

import java.io.StringWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Json

/** CLI frontend end-to-end (no egress: spec/discover never issue HTTP):
  * argv → synthesized control NDJSON → Connector.handle → protocol NDJSON,
  * the reference's `pkg/airbyte/cmd.go` flow.
  */
class MainSpec extends AnyFunSuite {

  test("spec: emits ConnectorSpecification with config schema and secret marker") {
    val out = new StringWriter()
    Main.run(Array("spec", "--connector", "shopify"), out)
    val n = Json.parse(out.toString.trim)
    assert(n.get("type").asText == "SPEC")
    assert(n.at("/spec/supportsIncremental").asBoolean)
    assert(n.at("/spec/connectionSpecification/properties/token/airbyte_secret").asBoolean)
  }

  test("discover: emits catalog of declared streams with sync modes") {
    val out = new StringWriter()
    Main.run(Array("discover", "--connector", "shopify"), out)
    val n = Json.parse(out.toString.trim)
    assert(n.get("type").asText == "CATALOG")
    val st = n.at("/catalog/streams/0")
    assert(st.get("name").asText == "orders")
    assert(st.get("supported_sync_modes").toString.contains("incremental"))
  }

  test("singer format flag routes to the singer dialect") {
    val out = new StringWriter()
    Main.run(Array("spec", "--connector", "pokeapi", "--format", "singer"), out)
    // singer spec envelope is the same shape; key point: no exception and a
    // SPEC line, via the singer writer
    assert(Json.parse(out.toString.trim).get("type").asText == "SPEC")
  }

  test("inline JSON config flag parses as file-or-inline") {
    val out = new StringWriter()
    Main.run(Array("spec", "--connector", "sitoo", "--config", """{"api_url":"http://x"}"""), out)
    assert(Json.parse(out.toString.trim).get("type").asText == "SPEC")
  }

  test("read: full CLI sync against an in-process server (E1 end-to-end)") {
    // 13 products: two full pages of 10 + a short page ends the offset loop
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = q.split('&').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split('=').padTo(2, ""); k -> v
      }.toMap
      val start = params.getOrElse("start", "0").toInt
      val items = (start until math.min(start + 10, 13)).map { i =>
        s"""{"productid":$i,"title":"P$i","moneyprice":"${i * 2.0}"}"""
      }.mkString("[", ",", "]")
      val body = s"""{"items":$items}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val out = new StringWriter()
      Main.run(Array("read", "--connector", "sitoo",
        "--config", s"""{"api_url":"http://127.0.0.1:${server.getAddress.getPort}"}"""), out)
      val lines = out.toString.trim.split('\n').map(Json.parse)
      val records = lines.filter(_.get("type").asText == "RECORD")
      assert(records.length == 13)
      assert(records.map(_.at("/record/data/productid").asLong).toSet == (0L until 13L).toSet)
      // airbyte dialect: one trailing STATE doc closes the sync
      assert(lines.last.get("type").asText == "STATE")
    } finally server.stop(0)
  }

  test("main writes UTF-8 NDJSON to stdout whatever the platform charset") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      val body = """{"items":[{"productid":1,"title":"café","moneyprice":"2.0"}]}"""
        .getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      // a child JVM whose platform charset cannot encode é
      val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      // output to files, so a hung child is bounded by waitFor, not by a read
      val (outFile, errFile) = (Files.createTempFile("main-out", ".ndjson"), Files.createTempFile("main-err", ".txt"))
      try {
        val proc = new ProcessBuilder(java, "-Xmx256m", "-Dfile.encoding=US-ASCII",
          "-cp", System.getProperty("java.class.path"), "graft.Main", "read", "--connector", "sitoo",
          "--config", s"""{"api_url":"http://127.0.0.1:${server.getAddress.getPort}"}""")
          .redirectOutput(outFile.toFile).redirectError(errFile.toFile).start()
        val exited = proc.waitFor(60, TimeUnit.SECONDS)
        if (!exited) proc.destroyForcibly().waitFor()
        val stdout = Files.readAllBytes(outFile)
        def report = s"stdout:\n${new String(stdout, StandardCharsets.UTF_8)}\nstderr:\n" +
          new String(Files.readAllBytes(errFile), StandardCharsets.UTF_8)
        assert(exited, s"no exit within 60 s\n$report")
        assert(proc.exitValue() == 0, report)
        val want = "\"title\":\"café\"".getBytes(StandardCharsets.UTF_8)
        assert(stdout.indexOfSlice(want) >= 0, stdout.map(b => f"$b%02x").mkString(" "))
      } finally { Files.delete(outFile); Files.delete(errFile) }
    } finally server.stop(0)
  }
}
