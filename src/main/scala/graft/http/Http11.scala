package graft.http

import java.io.{EOFException, IOException, InputStream, OutputStream}
import java.net.{Socket, URI, URISyntaxException}
import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable

/** The HTTP/1.1 wire format, both directions. [[graft.server.HttpFrontend]]
  * reads requests and writes responses with it; [[graft.sources.JdkHttpClient]]
  * reads responses with it. Both read through one buffered [[Reader]] per
  * connection, so line, header-limit and chunked-body framing exist once.
  */
private[graft] object Http11 {

  /** Longest request line (or status line, or chunk-size line), in bytes; a longer request line gets 414. */
  val MaxRequestLine: Int = 8 << 10
  /** Largest header block (or chunked-body trailer), in bytes; a larger one gets 431. */
  val MaxHeaderBytes: Int = 64 << 10
  /** Largest body, declared or chunked; a larger request body gets 413. */
  val MaxBody: Int = Int.MaxValue - 8
  /** Size of every response write but the last. */
  val WriteSize: Int = 64 << 10
  /** Size of a connection's read buffer. */
  val ReadSize: Int = 8 << 10

  /** A message framed wrongly. `status` is what a server answers it with;
    * a client gets it as the `IOException` it is.
    */
  final class WireException(val status: Int, reason: String) extends IOException(reason)

  /** The read side of one connection: one buffer, scanned in place. A
    * message cut short by the peer's close is an `EOFException`.
    */
  final class Reader(in: InputStream) {
    private val buf = new Array[Byte](ReadSize)
    private var pos = 0
    private var end = 0
    private var total = 0L

    /** Bytes read off the connection so far. */
    def received: Long = total
    /** Bytes read off the connection and not yet consumed. */
    def buffered: Int = end - pos

    private def fill(): Boolean = {
      val n = in.read(buf, 0, buf.length)
      if (n < 0) false else { pos = 0; end = n; total += n; true }
    }

    /** One line without its CRLF (a bare LF ends it too), or null at end of
      * stream. Takes at most `limit + 2` bytes of it: a result longer than
      * `limit` means the line was too long, and its rest is left unread.
      */
    def readLine(limit: Int): String = {
      var spill: java.lang.StringBuilder = null // the line so far, when it crosses a refill
      while (true) {
        if (pos == end && !fill()) return null
        val taken = if (spill == null) 0 else spill.length
        val stop = pos + math.min(end - pos, limit + 2 - taken)
        var i = pos
        while (i < stop && buf(i) != '\n') i += 1
        if (spill == null && i < stop) {
          val e = if (i > pos && buf(i - 1) == '\r') i - 1 else i
          val line = new String(buf, pos, e - pos, ISO_8859_1)
          pos = i + 1
          return line
        }
        if (spill == null) spill = new java.lang.StringBuilder(128)
        while (pos < i) { spill.append((buf(pos) & 0xff).toChar); pos += 1 } // ISO-8859-1: one char per byte
        if (i < stop) {
          pos = i + 1
          val n = spill.length
          if (n > 0 && spill.charAt(n - 1) == '\r') spill.setLength(n - 1)
          return spill.toString
        }
        if (spill.length >= limit + 2) return spill.toString
      }
      throw new IllegalStateException("unreachable")
    }

    /** A header block up to its empty line, as name, value, name, value, …:
      * names as sent, values trimmed. A block over [[MaxHeaderBytes]] is a
      * 431, a line that is not `name: value` a 400.
      */
    def readHeaders(): mutable.ArrayBuffer[String] = {
      val fields = mutable.ArrayBuffer.empty[String]
      var budget = MaxHeaderBytes
      var h = readLine(budget)
      while (h != null && h.nonEmpty) {
        if (h.length > budget) throw new WireException(431, "header block too large")
        budget -= h.length + 2
        val colon = h.indexOf(':')
        if (colon <= 0 || h.charAt(0) == ' ' || h.charAt(0) == '\t' ||
            h.charAt(colon - 1) == ' ' || h.charAt(colon - 1) == '\t')
          throw new WireException(400, "malformed header line")
        fields += h.substring(0, colon)
        fields += h.substring(colon + 1).trim
        h = readLine(math.max(budget, 0))
      }
      if (h == null) throw new EOFException("connection closed inside a header block")
      fields
    }

    /** Exactly `len` bytes into `dst` at `off`: the buffered ones first, the
      * rest straight off the connection.
      */
    def readFully(dst: Array[Byte], off: Int, len: Int): Unit = {
      val n = math.min(len, end - pos)
      System.arraycopy(buf, pos, dst, off, n)
      pos += n
      var o = off + n
      val stop = off + len
      while (o < stop) {
        val r = in.read(dst, o, stop - o)
        if (r < 0) throw new EOFException(s"connection closed ${stop - o} bytes short of a $len-byte body")
        o += r
        total += r
      }
    }

    /** `n` more bytes after the first `len` of `body`, in `body` or a
      * longer copy of it. The array grows only once it is full of bytes that
      * arrived, to twice its size but at most `cap`: a size the peer
      * declares and never sends costs no memory.
      */
    private def append(body: Array[Byte], len: Int, n: Int, cap: Int): Array[Byte] = {
      var b = body
      var have = len
      val stop = len + n
      while (have < stop) {
        if (have == b.length)
          b = java.util.Arrays.copyOf(b, math.min(math.max(2L * b.length, ReadSize), cap.toLong).toInt)
        val k = math.min(stop, b.length) - have
        readFully(b, have, k)
        have += k
      }
      b
    }

    /** A body of `n` bytes, in an array of exactly `n` that grows as they arrive. */
    def readBody(n: Int): Array[Byte] = append(Array.emptyByteArray, 0, n, n)

    /** Everything up to the peer's close. */
    def readToEnd(): Array[Byte] = {
      val rest = in.readAllBytes()
      total += rest.length
      val out = new Array[Byte](end - pos + rest.length)
      System.arraycopy(buf, pos, out, 0, end - pos)
      System.arraycopy(rest, 0, out, end - pos, rest.length)
      pos = end
      out
    }

    /** A chunked body, de-chunked, its trailer read and dropped. */
    def readChunked(): Array[Byte] = {
      var body = Array.emptyByteArray
      var len = 0
      var size = -1L
      while (size != 0) {
        val line = readLine(MaxRequestLine)
        if (line == null) throw new EOFException("connection closed inside a chunked body")
        val hex = line.takeWhile(_ != ';').trim
        if (hex.isEmpty || hex.length > 15 || !hex.forall(Character.digit(_, 16) >= 0))
          throw new WireException(400, "malformed chunk size")
        size = java.lang.Long.parseLong(hex, 16)
        if (size > MaxBody - len) throw new WireException(413, "body too large")
        if (size > 0) {
          body = append(body, len, size.toInt, MaxBody)
          len += size.toInt
          val end = readLine(0)
          if (end == null) throw new EOFException("connection closed inside a chunked body")
          if (end.nonEmpty) throw new WireException(400, "malformed chunk")
        }
      }
      readHeaders()
      if (body.length == len) body else java.util.Arrays.copyOf(body, len)
    }
  }

  /** What reading the next request off a connection gave. */
  sealed trait Incoming
  /** The peer closed the connection, between requests or inside one. */
  case object Closed extends Incoming
  /** A request this server will not serve; it answers `status` and closes. */
  final case class Rejected(status: Int, reason: String) extends Incoming
  /** A request, its body read whole. `fields` are its header fields as
    * [[Head]] keeps them.
    */
  final class Request(val method: String, val target: URI, val http10: Boolean,
      fields: Array[String], val body: Array[Byte]) extends Incoming {
    def header(name: String): Option[String] = Option(field(fields, name))
    /** The connection ends after this request's response. */
    def close: Boolean = http10 || hasToken(field(fields, "Connection"), "close")
  }

  /** Reads the next request. A request that expects `100-continue` gets the
    * interim response on `out` before its body is read.
    */
  def readRequest(in: Reader, out: OutputStream): Incoming =
    try request(in, out)
    catch {
      case e: WireException => Rejected(e.status, e.getMessage)
      case _: EOFException => Closed
    }

  private def request(in: Reader, out: OutputStream): Incoming = {
    var line = in.readLine(MaxRequestLine)
    if (line != null && line.isEmpty) line = in.readLine(MaxRequestLine) // one stray CRLF is allowed
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

    val fields = joined(in.readHeaders())
    val te = field(fields, "Transfer-Encoding")
    val cl = field(fields, "Content-Length")
    if (te != null && cl != null) return Rejected(400, "both Content-Length and Transfer-Encoding")
    if (te != null && !te.trim.equalsIgnoreCase("chunked")) return Rejected(501, "unsupported transfer coding")
    val length = if (cl == null) 0L else contentLength(cl, 400)
    if (length > MaxBody) return Rejected(413, "request body too large")
    val expect = field(fields, "Expect")
    if (expect != null && !expect.equalsIgnoreCase("100-continue"))
      return Rejected(417, s"unsupported expectation '$expect'")
    if (expect != null && !http10 && (te != null || length > 0)) {
      out.write("HTTP/1.1 100 Continue\r\n\r\n".getBytes(US_ASCII))
      out.flush()
    }
    val body = if (te != null) in.readChunked() else in.readBody(length.toInt)
    new Request(method, target, http10, fields, body)
  }

  /** A response head as a client reads it: the status line and the header
    * fields. Header lines of one name, matched case-insensitively, are one
    * field whose values are joined with ", " (RFC 9110 §5.3); `fields` is
    * name, value, name, value, …, each name as its first line spelled it.
    */
  final class Head(val status: Int, val http10: Boolean, val fields: Array[String]) {
    def header(name: String): String = field(fields, name)
  }

  /** The value of field `name` in `fields` (name, value, name, value, …),
    * matched case-insensitively, or null.
    */
  def field(fields: Array[String], name: String): String = {
    var i = 0
    while (i < fields.length) {
      if (fields(i).equalsIgnoreCase(name)) return fields(i + 1)
      i += 2
    }
    null
  }

  /** A response with its body read whole. */
  final class Response(val head: Head, val body: Array[Byte], val reusable: Boolean)

  /** The next response head, 1xx interim responses skipped. */
  def readHead(in: Reader): Head = {
    while (true) {
      val line = in.readLine(MaxRequestLine)
      if (line == null) throw new EOFException("connection closed before a response")
      if (line.length > MaxRequestLine || line.length < 12 || !line.startsWith("HTTP/1.") ||
          line.charAt(9) < '1' || line.charAt(9) > '9' || !Character.isDigit(line.charAt(10)) ||
          !Character.isDigit(line.charAt(11)) || line.length > 12 && line.charAt(12) != ' ')
        throw new WireException(502, s"malformed status line '${line.take(80)}'")
      val status = (line.charAt(9) - '0') * 100 + (line.charAt(10) - '0') * 10 + (line.charAt(11) - '0')
      val lines = in.readHeaders()
      if (status >= 200) return new Head(status, line.charAt(7) == '0', joined(lines))
    }
    throw new IllegalStateException("unreachable")
  }

  private def joined(lines: mutable.ArrayBuffer[String]): Array[String] = {
    val out = new Array[String](lines.length)
    var n = 0
    var i = 0
    while (i < lines.length) {
      var j = 0
      while (j < n && !out(j).equalsIgnoreCase(lines(i))) j += 2
      if (j < n) out(j + 1) = out(j + 1) + ", " + lines(i + 1)
      else { out(n) = lines(i); out(n + 1) = lines(i + 1); n += 2 }
      i += 2
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** The next response to a GET, its body read whole: de-chunked, into an
    * array of exactly its `Content-Length`, or up to the peer's close. A
    * body cut short is an `EOFException`. The connection can carry another
    * request unless the body ran to the close, the peer said it closes, or
    * bytes beyond the response arrived.
    */
  def readResponse(in: Reader): Response = {
    val head = readHead(in)
    val te = head.header("Transfer-Encoding")
    val cl = head.header("Content-Length")
    val connection = head.header("Connection")
    var reusable = if (head.http10) hasToken(connection, "keep-alive") else !hasToken(connection, "close")
    val body =
      if (head.status == 204 || head.status == 304) Array.emptyByteArray
      else if (te != null) {
        reusable &&= cl == null
        if (te.substring(te.lastIndexOf(',') + 1).trim.equalsIgnoreCase("chunked")) in.readChunked()
        else { reusable = false; in.readToEnd() }
      } else if (cl != null) {
        val n = contentLength(cl, 502)
        if (n > MaxBody) throw new WireException(502, s"body too large: $n bytes")
        val b = new Array[Byte](n.toInt)
        in.readFully(b, 0, b.length)
        b
      } else { reusable = false; in.readToEnd() }
    new Response(head, body, reusable && in.buffered == 0)
  }

  /** A `Content-Length` value: one length, or a list of equal ones. Any
    * other value is a `status` [[WireException]].
    */
  private def contentLength(v: String, status: Int): Long = {
    val ls = v.split(',').map(_.trim).distinct
    if (ls.length != 1 || ls(0).isEmpty || ls(0).length > 10 || !ls(0).forall(c => c >= '0' && c <= '9'))
      throw new WireException(status, "malformed Content-Length")
    ls(0).toLong
  }

  /** `value`, a comma-separated list, holds `token`, case-insensitively. */
  private def hasToken(value: String, token: String): Boolean =
    value != null && value.split(',').exists(_.trim.equalsIgnoreCase(token))

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
