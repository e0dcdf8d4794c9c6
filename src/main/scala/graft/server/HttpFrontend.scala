package graft.server

import java.io.OutputStream
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Semaphore}

import scala.util.control.NonFatal

import graft.core.{Cmd, Connector, Json, ProtoWriter, RunConfig, SourceDef}
import graft.http.Http11
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
  * The server is its own blocking HTTP/1.1 loop ([[graft.http.Http11]]), shaped like
  * the reference's Go `net/http`:
  *  - Threads. One acceptor thread; each accepted connection gets one daemon
  *    thread that reads its requests in order and runs each itself. At most
  *    [[HttpFrontend.MaxConnections]] connections are open at once; the rest
  *    wait in the listen backlog. A connection idle for
  *    [[HttpFrontend.IdleTimeoutMs]] is closed. `maxConcurrent` bounds the
  *    commands (`POST /{connector}/{cmd}`) that run at once, with a fair
  *    semaphore; it does not bound connections.
  *  - Sockets. TCP_NODELAY on every accepted connection, as Go's `net` does.
  *  - Responses. Chunked, through one 64 KiB buffer per connection: the head
  *    goes out in the first write and the terminator in the last, and no
  *    write but the last is smaller than 64 KiB. An HTTP/1.0 request gets a
  *    close-delimited body and `Connection: close`.
  *  - Requests. A request line over 8 KiB gets 414, a header block over
  *    64 KiB gets 431. The body is framed by `Content-Length` or by chunked
  *    transfer coding, never both (400), and read whole before routing;
  *    `Expect: 100-continue` gets its interim response first. A malformed
  *    request gets 400 and the connection is closed.
  *  - Errors. A failure before the head is on the wire answers 500. After
  *    it, the connection is closed without the chunked terminator, as Go's
  *    `net/http` does when a handler panics, so a client never takes a cut
  *    response for a complete one.
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
    // most commands running at once (each /read is a full connector sync)
    maxConcurrent: Int = 8) {
  require(maxConcurrent > 0, s"maxConcurrent must be positive, got $maxConcurrent")

  private val listener = new ServerSocket(port, 0, InetAddress.getByName("127.0.0.1"))
  private val commands = new Semaphore(maxConcurrent, true)
  private val connectionSlots = new Semaphore(HttpFrontend.MaxConnections)
  private val open = ConcurrentHashMap.newKeySet[Socket]()

  def boundPort: Int = listener.getLocalPort

  def start(): HttpFrontend = {
    daemon("graft-http-accept")(() => accept())
    this
  }

  def stop(): Unit = { listener.close(); open.forEach(s => s.close()) }

  private def daemon(name: String)(body: Runnable): Unit = {
    val t = new Thread(body, name); t.setDaemon(true); t.start()
  }

  private def accept(): Unit =
    while (!listener.isClosed) {
      connectionSlots.acquire()
      try {
        val s = listener.accept()
        open.add(s)
        if (listener.isClosed) s.close() // stop() ran while this one was accepted
        daemon("graft-http")(() => serve(s))
      } catch { case NonFatal(_) => connectionSlots.release() } // stop(), or one failed accept
    }

  /** One connection's requests, in order, until either side closes it. An
    * error the connection cannot answer closes it.
    */
  private def serve(s: Socket): Unit =
    try {
      s.setTcpNoDelay(true)
      s.setSoTimeout(HttpFrontend.IdleTimeoutMs)
      val in = new Http11.Reader(s.getInputStream)
      val out = new Http11.ResponseOut(s.getOutputStream)
      var more = true
      while (more) Http11.readRequest(in, s.getOutputStream) match {
        case Http11.Closed => more = false
        case Http11.Rejected(status, reason) =>
          respond(out, None, status, text(s"""{"error":${Json.quote(reason)}}"""))
          Http11.lingerClose(s)
          more = false
        case req: Http11.Request =>
          try handle(out, req)
          catch {
            case NonFatal(e) if !out.headSent =>
              respond(out, Some(req), 500, text(s"""{"error":${Json.quote(e.getMessage)}}"""))
          }
          if (req.close) { Http11.lingerClose(s); more = false }
      }
    } catch {
      case NonFatal(_) => () // peer gone, idle timeout, stop(), or a failure after the head
    } finally {
      open.remove(s)
      s.close()
      connectionSlots.release()
    }

  private def handle(out: Http11.ResponseOut, req: Http11.Request): Unit = {
    def respond(status: Int, write: OutputStream => Unit): Unit =
      HttpFrontend.this.respond(out, Some(req), status, write)
    // Normalize before BOTH the auth scope check and routing, so the two
    // agree on what a path means: /demo/../other must not pass a
    // /demo/-scoped token's prefix check. Order matters: getPath DECODES
    // percent-escapes first (%2e%2e is a dot-segment once decoded —
    // normalizing the still-encoded URI would miss it), then the decoded
    // path is normalized; any '..' segment that survives (a leading one
    // escaping the root) is rejected outright.
    val normPath = new java.net.URI(null, null, req.target.getPath, null)
      .normalize().getPath
    if (normPath.split('/').contains("..")) {
      respond(400, text("""{"error":"invalid path"}"""))
      return
    }
    if (authKeys.nonEmpty) {
      val auth = req.header("authorization").getOrElse("")
      TokenAuth.verify(auth, normPath, authKeys,
        now = () => clock() / 1000) match {
        case Left(reason) =>
          respond(401, text(s"""{"error":${Json.quote(reason)}}"""))
          return
        case Right(_) => ()
      }
    }
    val path = normPath.stripPrefix("/").stripSuffix("/")
    path.split('/') match {
      case Array("discover") =>
        val names = connectors.keys.toSeq.sorted.map(Json.quote).mkString("[", ",", "]")
        respond(200, text(names))
      case Array(connector, cmdStr) =>
        (connectors.get(connector), Cmd.parse(cmdStr)) match {
          case (Some(src), Some(cmd)) =>
            val rc = RunConfig.parse(new String(req.body, StandardCharsets.UTF_8).linesIterator)
            // Validate the dialect BEFORE committing a response status, as
            // the reference fails its protos[format] lookup before any
            // output (proto.go:103-107).
            if (!ProtoWriter.supported(rc.format)) {
              respond(400, text(s"""{"error":${Json.quote(s"unknown format '${rc.format}'")}}"""))
              return
            }
            // Full transport stack per request (retry OUTSIDE pacing, so
            // every physical attempt draws a token — matching Main and
            // Connector.transport's invariant; wrapping pacing around an
            // already-retrying caller client would let retries ride one
            // token draw).
            commands.acquire()
            try respond(200, o => Connector.handle(src, cmd, rc, o, Connector.transport(src, baseClient), clock))
            finally commands.release()
          case (None, _) => respond(404, text(s"""{"error":"unknown connector '$connector'"}"""))
          case (_, None) => respond(400, text(s"""{"error":"unknown command '$cmdStr'"}"""))
        }
      case _ => respond(404, text("""{"error":"not found"}"""))
    }
  }

  private def text(body: String): OutputStream => Unit = _.write(body.getBytes(StandardCharsets.UTF_8))

  /** zstd content negotiation, then `write` the body's bytes straight into
    * `out`'s buffer, or into a zstd stream over it.
    */
  private def respond(out: Http11.ResponseOut, req: Option[Http11.Request], status: Int,
      write: OutputStream => Unit): Unit = {
    val zstd = req.flatMap(_.header("accept-zstd")).exists(_.nonEmpty)
    val body = out.begin(req, status, close = req.forall(_.close),
      if (zstd) Seq("X-Compression: zstd") else Nil)
    val sink = if (zstd) new com.github.luben.zstd.ZstdOutputStream(body) else body
    try {
      write(sink)
      sink.close()
    } catch {
      case e: Throwable =>
        out.abandon()
        if (zstd) try sink.close() catch { case NonFatal(_) => () } // frees the native stream
        throw e
    }
    out.finish()
  }
}

object HttpFrontend {
  /** Most connections open at once; more wait in the listen backlog. */
  val MaxConnections = 256
  /** A connection with no request for this long is closed. */
  val IdleTimeoutMs = 30000
}
