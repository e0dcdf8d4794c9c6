package perfbench

import java.io.{BufferedInputStream, InputStream}
import java.net.{InetAddress, InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

/** What one request returned, with the client-side timestamps. */
final case class Reply(status: Int, headers: Map[String, String], body: Array[Byte],
    bodyLen: Int, wireBytes: Long, sentNs: Long, firstRecordNs: Long, lastByteNs: Long) {
  def latencyNs: Long = lastByteNs - sentNs

  /** Body lines as (offset, length) pairs, without the trailing newline. */
  def lines: Iterator[(Int, Int)] = new Iterator[(Int, Int)] {
    private var pos = 0
    def hasNext: Boolean = pos < bodyLen
    def next(): (Int, Int) = {
      var e = pos
      while (e < bodyLen && body(e) != '\n') e += 1
      val r = (pos, e - pos)
      pos = e + 1
      r
    }
  }
}

/** A tenant's HTTP/1.1 client: one keep-alive connection to the frontend,
  * TCP_NODELAY on, each request sent in one write. It reads chunked or
  * fixed-length bodies and stamps when the first RECORD line arrived and
  * when the last byte did.
  */
final class FrontendClient(port: Int) extends AutoCloseable {
  private var sock: Socket = _
  private var in: InputStream = _
  private var out: java.io.OutputStream = _
  private var buf = new Array[Byte](1 << 16)

  private def connect(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(150000)
    sock.connect(new InetSocketAddress(InetAddress.getLoopbackAddress, port))
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    out = sock.getOutputStream
  }

  def close(): Unit = if (sock != null) sock.close()

  def post(path: String, body: String): Reply = {
    if (sock == null || sock.isClosed) connect()
    val b = body.getBytes(UTF_8)
    val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
      "Content-Type: application/x-ndjson\r\n" +
      s"Content-Length: ${b.length}\r\n\r\n"
    val h = head.getBytes(US_ASCII)
    val req = new Array[Byte](h.length + b.length)
    System.arraycopy(h, 0, req, 0, h.length)
    System.arraycopy(b, 0, req, h.length, b.length)
    val sent = System.nanoTime()
    out.write(req)
    out.flush()

    val statusLine = readLine()
    val status = statusLine.split(' ')(1).toInt
    val headers = Iterator.continually(readLine()).takeWhile(_.nonEmpty).map { l =>
      val i = l.indexOf(':'); l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim
    }.toMap
    val raw: CountingStream =
      if (headers.get("transfer-encoding").exists(_.equalsIgnoreCase("chunked"))) new Chunked(in)
      else new Bounded(in, headers.get("content-length").map(_.toLong).getOrElse(0L))

    var len = 0
    var firstRecord = 0L
    var lineStart = 0
    var n = raw.read(buf, len, buf.length - len)
    while (n >= 0) {
      val end = len + n
      if (firstRecord == 0L) {
        var i = len
        while (i < end && firstRecord == 0L) {
          if (buf(i) == '\n') {
            if (isRecord(buf, lineStart, i - lineStart)) firstRecord = System.nanoTime()
            lineStart = i + 1
          }
          i += 1
        }
      }
      len = end
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      n = raw.read(buf, len, buf.length - len)
    }
    val last = System.nanoTime()
    if (headers.get("connection").exists(_.equalsIgnoreCase("close"))) sock.close()
    Reply(status, headers, java.util.Arrays.copyOf(buf, len), len, raw.count, sent, firstRecord, last)
  }

  private def isRecord(b: Array[Byte], off: Int, len: Int): Boolean = {
    // RECORD lines of both dialects carry "type":"RECORD"
    val needle = FrontendClient.RecordTag
    var i = off
    val lim = off + len - needle.length
    while (i <= lim) {
      var j = 0
      while (j < needle.length && b(i + j) == needle(j)) j += 1
      if (j == needle.length) return true
      i += 1
    }
    false
  }

  private def readLine(): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    if (c < 0) throw new java.io.EOFException("connection closed")
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    sb.toString
  }

  /** Body stream that counts the bytes it took off the wire. */
  private abstract class CountingStream extends InputStream {
    var count = 0L
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
    }
  }

  private final class Bounded(in: InputStream, length: Long) extends CountingStream {
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (count >= length) -1
      else {
        val n = in.read(b, off, math.min(len.toLong, length - count).toInt)
        if (n > 0) count += n
        n
      }
  }

  private final class Chunked(in: InputStream) extends CountingStream {
    private var left = 0L
    private var done = false
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (done) return -1
      if (left == 0) {
        val size = readLine().split(';')(0).trim
        left = java.lang.Long.parseLong(size, 16)
        if (left == 0) {
          while (readLine().nonEmpty) () // trailers
          done = true
          return -1
        }
      }
      val n = in.read(b, off, math.min(len.toLong, left).toInt)
      if (n < 0) throw new java.io.EOFException("truncated chunk")
      left -= n
      count += n
      if (left == 0) readLine() // chunk CRLF
      n
    }
  }
}

object FrontendClient {
  private val RecordTag = "\"type\":\"RECORD\"".getBytes(US_ASCII)
}
