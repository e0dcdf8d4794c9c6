package graft.server

import java.io.Writer
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.core.{Cmd, Connector, Json, ProtoWriter, RunConfig, SourceDef}
import graft.sources.HttpClient

/** HTTP multiplex frontend (reference `proto.go:149-212`,
  * `cmd/server/main.go`): one server fronting many connectors.
  *
  *  - `GET  /discover`            → JSON array of connector names
  *  - `POST /{connector}/{cmd}`   → body is the control NDJSON stream,
  *                                  response is protocol NDJSON
  *  - `Accept-Zstd: true` request header → zstd-compressed response with
  *    `X-Compression: zstd` (reference `proto.go:196-204`), via the
  *    zstd-jni that ships with Spark.
  *
  * Signed-token auth (reference demo server, `main.go:34-98`) is opt-in:
  * pass `authKeys` (allow-listed raw Ed25519 public keys) and every request
  * must present a [[TokenAuth]]-signed Authorization token scoped to the
  * request path (SURVEY §2.5 C7).
  *
  * Socket contract: every accepted connection runs with TCP_NODELAY, as Go's
  * `net` does by default for the reference server. The JDK server writes a
  * response's headers as a packet of their own before the chunked body, so
  * with Nagle on the body waits until the client ACKs the headers, and a
  * client's delayed ACK holds that for ~40 ms on every response. The JDK
  * takes this from `sun.net.httpserver.nodelay`, read ONCE per JVM when the
  * first JDK `HttpServer` is created; the companion object sets it (unless
  * set already, so a launch `-D` wins) just before creating the server. An
  * embedder that creates some other JDK `HttpServer` first must launch the
  * JVM with `-Dsun.net.httpserver.nodelay=true`.
  */
final class HttpFrontend(
    // by-name: re-read per request so connectors registered after server
    // start (ConnectorDefs.register) are served without a restart
    connectors: => Map[String, SourceDef],
    baseClient: HttpClient, // raw transport: the per-request stack is built by Connector.transport
    port: Int = 0,
    clock: () => Long = () => System.currentTimeMillis(),
    // C7: non-empty → every request must carry an Authorization header
    // holding a signed token ([[TokenAuth]]) whose embedded key is in this
    // allow-list and whose prefix scope covers the request path
    authKeys: Seq[Array[Byte]] = Nil,
    // handler-pool width = max concurrent syncs (each /read is a full
    // connector sync; see the pool comment below)
    maxConcurrent: Int = 8) {

  private val server = HttpFrontend.createServer(new InetSocketAddress("127.0.0.1", port))

  // A real pool, NOT setExecutor(null): the null executor runs every handler
  // on the single dispatcher thread, so one long /read sync would serialize
  // the entire multiplex frontend ("one server fronting many connectors").
  // BOUNDED END TO END (not newCachedThreadPool, and not a fixed pool with
  // the default unbounded queue — that would still accept and buffer a
  // burst's exchanges without limit): `maxConcurrent` threads, a small
  // bounded queue, and caller-runs overflow. Overflow work executing on
  // the dispatcher thread stalls accept(), so further connections wait in
  // the OS listen backlog — real backpressure instead of unbounded
  // threads (cached pool) or unbounded queued fds (fixed pool).
  private val pool = new java.util.concurrent.ThreadPoolExecutor(
    maxConcurrent, maxConcurrent, 60L, java.util.concurrent.TimeUnit.SECONDS,
    new java.util.concurrent.ArrayBlockingQueue[Runnable](2 * maxConcurrent),
    (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t },
    new java.util.concurrent.ThreadPoolExecutor.CallerRunsPolicy)

  def boundPort: Int = server.getAddress.getPort

  def start(): HttpFrontend = {
    server.createContext("/", handle _)
    server.setExecutor(pool)
    server.start()
    this
  }

  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private def handle(ex: HttpExchange): Unit =
    try {
      // Normalize before BOTH the auth scope check and routing, so the two
      // agree on what a path means: /demo/../other must not pass a
      // /demo/-scoped token's prefix check. Order matters: getPath DECODES
      // percent-escapes first (%2e%2e is a dot-segment once decoded —
      // normalizing the still-encoded URI would miss it), then the decoded
      // path is normalized; any '..' segment that survives (a leading one
      // escaping the root) is rejected outright.
      val normPath = new java.net.URI(null, null, ex.getRequestURI.getPath, null)
        .normalize().getPath
      if (normPath.split('/').contains("..")) {
        respond(ex, 400, _.write("""{"error":"invalid path"}"""))
        return
      }
      if (authKeys.nonEmpty) {
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        TokenAuth.verify(auth, normPath, authKeys,
          now = () => clock() / 1000) match {
          case Left(reason) =>
            respond(ex, 401, _.write(s"""{"error":${Json.quote(reason)}}"""))
            return
          case Right(_) => ()
        }
      }
      val path = normPath.stripPrefix("/").stripSuffix("/")
      path.split('/') match {
        case Array("discover") =>
          val names = connectors.keys.toSeq.sorted.map(Json.quote).mkString("[", ",", "]")
          respond(ex, 200, out => out.write(names))
        case Array(connector, cmdStr) =>
          (connectors.get(connector), Cmd.parse(cmdStr)) match {
            case (Some(src), Some(cmd)) =>
              val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
              val rc = RunConfig.parse(body.linesIterator)
              // Validate the dialect BEFORE committing a response status:
              // once respond() sends 200/chunked, a ProtoWriter failure
              // inside the streaming lambda can only be swallowed and the
              // client would see an empty success. The reference fails its
              // protos[format] lookup before any output too
              // (proto.go:103-107).
              if (!ProtoWriter.supported(rc.format)) {
                respond(ex, 400, _.write(s"""{"error":${Json.quote(s"unknown format '${rc.format}'")}}"""))
                return
              }
              // Full transport stack per request (retry OUTSIDE pacing, so
              // every physical attempt draws a token — matching Main and
              // Connector.transport's invariant; wrapping pacing around an
              // already-retrying caller client would let retries ride one
              // token draw).
              respond(ex, 200, out => Connector.handle(src, cmd, rc, out, Connector.transport(src, baseClient), clock))
            case (None, _) => respond(ex, 404, _.write(s"""{"error":"unknown connector '$connector'"}"""))
            case (_, None) => respond(ex, 400, _.write(s"""{"error":"unknown command '$cmdStr'"}"""))
          }
        case _ => respond(ex, 404, _.write("""{"error":"not found"}"""))
      }
    } catch {
      case NonFatal(e) =>
        try respond(ex, 500, _.write(s"""{"error":${Json.quote(e.getMessage)}}"""))
        catch { case NonFatal(_) => () }
    } finally ex.close()

  /** zstd content negotiation, then stream the writer's output through
    * one buffered UTF-8 writer ([[ProtoWriter.utf8]]).
    */
  private def respond(ex: HttpExchange, status: Int, write: Writer => Unit): Unit = {
    val wantZstd = Option(ex.getRequestHeaders.getFirst("Accept-Zstd")).exists(_.nonEmpty)
    ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
    if (wantZstd) ex.getResponseHeaders.set("X-Compression", "zstd")
    ex.sendResponseHeaders(status, 0) // chunked
    val raw = ex.getResponseBody
    val sink = if (wantZstd) new com.github.luben.zstd.ZstdOutputStream(raw) else raw
    val w = ProtoWriter.utf8(sink)
    try { write(w); w.flush() } finally sink.close()
  }
}

object HttpFrontend {
  private val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** Creates the JDK server with TCP_NODELAY on every accepted socket (see
    * the class doc). The property only takes effect if no JDK `HttpServer`
    * has been created in this JVM yet.
    */
  private def createServer(addr: InetSocketAddress): HttpServer = {
    if (System.getProperty(NoDelayProperty) == null) System.setProperty(NoDelayProperty, "true")
    HttpServer.create(addr, 0)
  }
}
