package graft.server

import java.io.{ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{Socket, URI, URISyntaxException}
import java.nio.charset.StandardCharsets.US_ASCII
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.Locale

/** The HTTP/1.1 wire format of [[HttpFrontend]]: reading one request off a
  * connection, and writing one response through the connection's buffer.
  */
private[server] object Http11 {

  /** Longest request line, in bytes; a longer one gets 414. */
  val MaxRequestLine: Int = 8 << 10
  /** Largest header block (or chunked-body trailer), in bytes; a larger one gets 431. */
  val MaxHeaderBytes: Int = 64 << 10
  /** Largest request body; a larger declared or chunked body gets 413. */
  val MaxBody: Int = Int.MaxValue - 8
  /** Size of every response write but the last. */
  val WriteSize: Int = 64 << 10

  /** What reading the next request off a connection gave. */
  sealed trait Incoming
  /** The peer closed the connection, between requests or inside one. */
  case object Closed extends Incoming
  /** A request this server will not serve; it answers `status` and closes. */
  final case class Rejected(status: Int, reason: String) extends Incoming
  /** A request, its body read whole. Header names are lower-cased. */
  final class Request(val method: String, val target: URI, val http10: Boolean,
      headers: Seq[(String, String)], val body: Array[Byte]) extends Incoming {
    def header(name: String): Option[String] = headers.collectFirst { case (`name`, v) => v }
    /** The connection ends after this request's response. */
    def close: Boolean = http10 ||
      header("connection").exists(_.split(',').exists(_.trim.equalsIgnoreCase("close")))
  }

  /** Reads the next request. A request that expects `100-continue` gets the
    * interim response on `out` before its body is read.
    */
  def readRequest(in: InputStream, out: OutputStream): Incoming = {
    var line = readLine(in, MaxRequestLine)
    if (line != null && line.isEmpty) line = readLine(in, MaxRequestLine) // one stray CRLF is allowed
    if (line == null) return Closed
    if (line.length > MaxRequestLine) return Rejected(414, "request line too long")
    val parts = line.split(' ')
    if (parts.length != 3) return Rejected(400, "malformed request line")
    val Array(method, rawTarget, version) = parts
    val http10 = version == "HTTP/1.0"
    if (!http10 && version != "HTTP/1.1") return Rejected(505, s"unsupported version '$version'")
    val target = try new URI(rawTarget) catch { case _: URISyntaxException => null }
    if (target == null || target.getRawPath == null || !target.getRawPath.startsWith("/"))
      return Rejected(400, "malformed request target")

    val headers = Seq.newBuilder[(String, String)]
    var budget = MaxHeaderBytes
    var h = readLine(in, math.max(budget, 0))
    while (h != null && h.nonEmpty) {
      if (h.length > budget) return Rejected(431, "header block too large")
      budget -= h.length + 2
      val colon = h.indexOf(':')
      if (colon <= 0 || h.charAt(0) == ' ' || h.charAt(0) == '\t' ||
          h.charAt(colon - 1) == ' ' || h.charAt(colon - 1) == '\t')
        return Rejected(400, "malformed header line")
      headers += h.substring(0, colon).toLowerCase(Locale.ROOT) -> h.substring(colon + 1).trim
      h = readLine(in, math.max(budget, 0))
    }
    if (h == null) return Closed
    val hs = headers.result()
    def values(name: String) = hs.collect { case (`name`, v) => v }

    val te = values("transfer-encoding")
    val cl = values("content-length").flatMap(_.split(',')).map(_.trim)
    if (te.nonEmpty && cl.nonEmpty) return Rejected(400, "both Content-Length and Transfer-Encoding")
    if (te.nonEmpty && !te.mkString(",").trim.equalsIgnoreCase("chunked"))
      return Rejected(501, "unsupported transfer coding")
    if (cl.distinct.size > 1 || cl.exists(v => v.isEmpty || v.length > 10 || !v.forall(c => c >= '0' && c <= '9')))
      return Rejected(400, "malformed Content-Length")
    val length = cl.headOption.fold(0L)(_.toLong)
    if (length > MaxBody) return Rejected(413, "request body too large")
    hs.collectFirst { case ("expect", v) => v } match {
      case Some(e) if !e.equalsIgnoreCase("100-continue") => return Rejected(417, s"unsupported expectation '$e'")
      case Some(_) if !http10 && (te.nonEmpty || length > 0) =>
        out.write("HTTP/1.1 100 Continue\r\n\r\n".getBytes(US_ASCII))
        out.flush()
      case _ => ()
    }
    val body =
      if (te.nonEmpty) readChunked(in) match {
        case Right(b) => b
        case Left(refusal) => return refusal
      } else {
        val b = in.readNBytes(length.toInt)
        if (b.length < length) return Closed
        b
      }
    new Request(method, target, http10, hs, body)
  }

  /** A chunked request body, its trailer read and dropped. */
  private def readChunked(in: InputStream): Either[Incoming, Array[Byte]] = {
    val body = new ByteArrayOutputStream()
    var size = -1L
    while (size != 0) {
      val line = readLine(in, MaxRequestLine)
      if (line == null) return Left(Closed)
      val hex = line.takeWhile(_ != ';').trim
      if (hex.isEmpty || hex.length > 15 || !hex.forall(Character.digit(_, 16) >= 0))
        return Left(Rejected(400, "malformed chunk size"))
      size = java.lang.Long.parseLong(hex, 16)
      if (size > MaxBody - body.size) return Left(Rejected(413, "request body too large"))
      if (size > 0) {
        val data = in.readNBytes(size.toInt)
        if (data.length < size) return Left(Closed)
        body.write(data)
        val end = readLine(in, 0)
        if (end == null) return Left(Closed)
        if (end.nonEmpty) return Left(Rejected(400, "malformed chunk"))
      }
    }
    var budget = MaxHeaderBytes
    var t = readLine(in, math.max(budget, 0))
    while (t != null && t.nonEmpty) {
      if (t.length > budget) return Left(Rejected(431, "trailer too large"))
      budget -= t.length + 2
      t = readLine(in, math.max(budget, 0))
    }
    if (t == null) Left(Closed) else Right(body.toByteArray)
  }

  /** One line without its CRLF (a bare LF ends it too), or null at end of
    * stream. Reads at most `limit + 1` bytes of it: a result longer than
    * `limit` means the line was too long, and its rest is left unread.
    */
  private def readLine(in: InputStream, limit: Int): String = {
    val sb = new java.lang.StringBuilder(64)
    var c = in.read()
    while (c != '\n') {
      if (c < 0) return null
      if (sb.length > limit) return sb.toString
      sb.append(c.toChar) // ISO-8859-1: one char per byte
      c = in.read()
    }
    val n = sb.length
    if (n > 0 && sb.charAt(n - 1) == '\r') sb.setLength(n - 1)
    sb.toString
  }

  /** Orderly close after a response: send FIN, then read and drop what the
    * peer still sends (for at most 1 s or 1 MiB), so the peer reads the
    * response before the close resets the connection.
    */
  def lingerClose(s: Socket): Unit = {
    s.shutdownOutput()
    s.setSoTimeout(1000)
    val in = s.getInputStream
    val sink = new Array[Byte](8192)
    var total = 0
    var n = in.read(sink)
    while (n >= 0 && total < (1 << 20)) { total += n; n = in.read(sink) }
  }

  private val HttpDate =
    DateTimeFormatter.ofPattern("EEE, dd MMM yyyy HH:mm:ss 'GMT'", Locale.US).withZone(java.time.ZoneOffset.UTC)

  private def reason(status: Int): String = status match {
    case 200 => "OK"
    case 400 => "Bad Request"
    case 401 => "Unauthorized"
    case 404 => "Not Found"
    case 413 => "Content Too Large"
    case 414 => "URI Too Long"
    case 417 => "Expectation Failed"
    case 431 => "Request Header Fields Too Large"
    case 500 => "Internal Server Error"
    case 501 => "Not Implemented"
    case 505 => "HTTP Version Not Supported"
    case _ => "Status"
  }

  private val SizeRoom = 6                      // "ffff\r\n": the size line of any chunk that fits a write
  private val Terminator = "0\r\n\r\n".getBytes(US_ASCII)

  /** The response side of one connection: one buffer of [[WriteSize]]
    * bytes (and room for the terminator), reused by every response.
    *
    * [[begin]] puts the head in the buffer; the body is written through
    * this stream; [[finish]] sends what is left. The head goes out in the
    * first socket write and the terminator in the last, and every write but
    * the last is exactly [[WriteSize]] bytes. `flush` sends nothing. An
    * HTTP/1.1 body is chunked, one chunk per write; an HTTP/1.0 body is
    * delimited by closing the connection; a HEAD response has no body.
    */
  final class ResponseOut(sock: OutputStream) extends OutputStream {
    private val buf = new Array[Byte](WriteSize + Terminator.length)
    private var headLen = 0     // head bytes at the start of buf, not yet sent
    private var dataStart = 0
    private var pos = 0
    private var chunked = false
    private var dropping = false    // writes are dropped: a HEAD response, or an abandoned one
    private var sent = false

    /** The head is on the wire: the status can no longer change. */
    def headSent: Boolean = sent

    /** Starts a response: `status`, the `extra` header lines, and the
      * framing `req` calls for (a rejected request gets HTTP/1.1 framing).
      */
    def begin(req: Option[Request], status: Int, close: Boolean, extra: Seq[String]): OutputStream = {
      val http10 = req.exists(_.http10)
      val headOnly = req.exists(_.method == "HEAD")
      val head = new java.lang.StringBuilder(192)
        .append(if (http10) "HTTP/1.0 " else "HTTP/1.1 ").append(status).append(' ').append(reason(status))
        .append("\r\nDate: ").append(HttpDate.format(Instant.now()))
        .append("\r\nContent-Type: application/x-ndjson\r\n")
      if (!http10) head.append("Transfer-Encoding: chunked\r\n")
      extra.foreach(h => head.append(h).append("\r\n"))
      if (close) head.append("Connection: close\r\n")
      head.append("\r\n")
      val bytes = head.toString.getBytes(US_ASCII)
      System.arraycopy(bytes, 0, buf, 0, bytes.length)
      headLen = bytes.length
      chunked = !http10 && !headOnly
      dataStart = if (chunked) SizeRoom else 0
      pos = headLen + dataStart
      dropping = headOnly
      sent = false
      this
    }

    /** Drops what the current response writes from here on. */
    def abandon(): Unit = dropping = true

    private def limit = if (chunked) WriteSize - 2 else WriteSize

    override def write(b: Int): Unit = {
      if (dropping) return
      if (pos == limit) emit(last = false)
      buf(pos) = b.toByte
      pos += 1
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (dropping) return
      var o = off
      val end = off + len
      while (o < end) {
        if (pos == limit) emit(last = false)
        val n = math.min(end - o, limit - pos)
        System.arraycopy(b, o, buf, pos, n)
        pos += n
        o += n
      }
    }

    override def flush(): Unit = ()
    override def close(): Unit = ()

    /** Sends the rest of the response: the head if still held, the last
      * chunk and the terminator.
      */
    def finish(): Unit = emit(last = true)

    private def emit(last: Boolean): Unit = {
      val data = headLen + dataStart         // where this write's body bytes start
      var from = data
      var end = pos
      if (chunked) {
        val n = pos - data
        if (n > 0) {
          val size = Integer.toHexString(n)
          from -= size.length + 2
          var i = 0
          while (i < size.length) { buf(from + i) = size.charAt(i).toByte; i += 1 }
          buf(from + size.length) = '\r'
          buf(from + size.length + 1) = '\n'
          buf(end) = '\r'
          buf(end + 1) = '\n'
          end += 2
        }
        if (last) {
          System.arraycopy(Terminator, 0, buf, end, Terminator.length)
          end += Terminator.length
        }
      }
      if (headLen > 0) {                     // the head goes first, moved up against the body
        System.arraycopy(buf, 0, buf, from - headLen, headLen)
        from -= headLen
      }
      sock.write(buf, from, end - from)
      if (last) sock.flush()
      sent = true
      headLen = 0
      pos = dataStart
    }
  }
}
