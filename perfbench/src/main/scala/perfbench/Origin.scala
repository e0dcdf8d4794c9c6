package perfbench

import java.io.{BufferedInputStream, InputStream}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.US_ASCII
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** The five reference pagination styles, one stream each. */
object Streams {
  val names: Seq[String] = Seq("next_url", "link_header", "marker", "offset", "odata")
}

/** Seeded, replayable record windows. A window is what one stream returns
  * for `(from, to]` on behalf of one tenant: a seeded 0-300 new records.
  * The same request always yields the same records, so a sync can be
  * replayed and its output checked.
  */
final case class WindowSpec(seed: Long) {
  def count(tenant: String, stream: String, to: Long): Int =
    java.lang.Math.floorMod(Util.hash(seed, Util.hashStr(tenant), Util.hashStr(stream), to), 301L).toInt

  /** Page size per stream. */
  def limit(stream: String): Int = 100

  def records(tenant: String, stream: String, from: Long, to: Long): Array[String] = {
    val n = count(tenant, stream, to)
    val base = Util.hash(seed, Util.hashStr(tenant), Util.hashStr(stream), to)
    val span = math.max(1L, to - from)
    val sb = new java.lang.StringBuilder(200)
    Array.tabulate(n) { i =>
      val r = Util.mix(base + i)
      sb.setLength(0)
      WindowSpec.render(sb, r, id = to * 100000L + i,
        updatedAt = from + 1 + java.lang.Math.floorMod(r, span))
      sb.toString
    }
  }
}

object WindowSpec {
  private val names = Array("kestrel", "heron", "lynx", "otter", "marten", "ibis", "vole", "wren")
  private val statuses = Array("open", "paid", "shipped", "refunded")
  private val countries = Array("SE", "NO", "DK", "FI", "DE", "NL", "GB", "US")

  /** One ~180-byte record with a nested struct and an array. */
  def render(sb: java.lang.StringBuilder, r: Long, id: Long, updatedAt: Long): Unit = {
    val cents = (r >>> 20) % 1000000
    sb.append("{\"id\":").append(id)
      .append(",\"updated_at\":\"").append(Instant.ofEpochSecond(updatedAt).toString)
      .append("\",\"name\":\"").append(names((r & 7).toInt)).append('-').append((r >>> 8) % 10000)
      .append("\",\"status\":\"").append(statuses(((r >>> 3) & 3).toInt))
      .append("\",\"amount\":\"").append(cents / 100).append('.')
      .append(if (cents % 100 < 10) "0" else "").append(cents % 100)
      .append("\",\"qty\":").append((r >>> 40) % 50)
      .append(",\"customer\":{\"id\":").append((r >>> 12) % 1000000)
      .append(",\"name\":\"c-").append(java.lang.Long.toHexString((r >>> 24) & 0xffffff))
      .append("\",\"country\":\"").append(countries(((r >>> 50) & 7).toInt))
      .append("\"},\"tags\":[\"t").append(r % 7 & 0x7).append("\",\"u").append((r >>> 5) % 11 & 0xf)
      .append("\"]}")
  }
}

/** Page origin: a raw-socket HTTP/1.1 keep-alive server that plays the
  * paginated APIs the connector syncs from. TCP_NODELAY is set on every
  * connection and each response goes out in a single write, so the origin
  * adds no Nagle/delayed-ACK stall of its own.
  *
  * Request target: `/{tenant}/{stream}?from=F&to=T&limit=L` plus the
  * stream's cursor (`page`, `marker` or `start`/`num`).
  */
final class Origin(spec: WindowSpec, trace: Trace) {
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 128)
  val port: Int = server.getLocalPort
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "origin"); t.setDaemon(true); t
  }
  private val sockets = ConcurrentHashMap.newKeySet[Socket]()

  // Rendered responses keyed by request target (a traced op's direct
  // replays fetch the same pages again) and record windows keyed by
  // (tenant, stream, from, to). Both are dropped wholesale when they grow past their caps.
  private val pages = new ConcurrentHashMap[String, Array[Byte]]()
  private val pageBytes = new AtomicLong()
  private val windows = new ConcurrentHashMap[(String, String, Long, Long), Array[String]]()

  def start(): Origin = {
    pool.execute { () =>
      try while (true) {
        val s = server.accept()
        s.setTcpNoDelay(true)
        sockets.add(s)
        pool.execute(() => serve(s))
      } catch { case _: SocketException => () } // closed by stop()
    }
    this
  }

  def stop(): Unit = {
    server.close()
    sockets.forEach(s => s.close())
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def serve(s: Socket): Unit =
    try {
      val in = new BufferedInputStream(s.getInputStream, 8192)
      val out = s.getOutputStream
      var open = true
      while (open) {
        val requestLine = readLine(in)
        if (requestLine == null) open = false
        else {
          var contentLength = 0
          var close = false
          var h = readLine(in)
          while (h != null && h.nonEmpty) {
            val lower = h.toLowerCase
            if (lower.startsWith("content-length:")) contentLength = h.substring(15).trim.toInt
            if (lower.startsWith("connection:") && lower.contains("close")) close = true
            h = readLine(in)
          }
          in.skipNBytes(contentLength)
          val t0 = System.nanoTime()
          val target = requestLine.split(' ')(1)
          val resp = pages.computeIfAbsent(target, t => render(t))
          out.write(resp)
          out.flush()
          val t1 = System.nanoTime()
          if (trace.enabled) {
            val parts = target.split('?')(0).split('/')
            val c = trace.lookup(parts(1) + "/" + parts(2), parts(1))
            trace.add(Span(trace.newId(), "origin.page", t0, t1, c.parent, c.op, c.phase))
          }
          if (pageBytes.get() > (256L << 20)) { pages.clear(); pageBytes.set(0) }
          if (windows.size > 20000) windows.clear()
          open = !close
        }
      }
    } catch { case _: java.io.IOException => () }
    finally { sockets.remove(s); s.close() }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    sb.toString
  }

  private def render(target: String): Array[Byte] = {
    val Array(path, query) = target.split('?') match {
      case Array(p) => Array(p, "")
      case a => a
    }
    val Array(_, tenant, stream) = path.split('/')
    val q = query.split('&').iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap
    val from = q("from").toLong
    val to = q("to").toLong
    val recs = windows.computeIfAbsent((tenant, stream, from, to),
      _ => spec.records(tenant, stream, from, to))
    val limit = q.getOrElse("limit", q.getOrElse("num", "100")).toInt
    val page = stream match {
      case "marker" => q.get("marker").map(_.stripPrefix("m").toInt).getOrElse(0)
      case "offset" => q.getOrElse("start", "0").toInt / limit
      case _ => q.getOrElse("page", "0").toInt
    }
    val lo = math.min(recs.length, page * limit)
    val hi = math.min(recs.length, lo + limit)
    val more = hi < recs.length
    val nextUrl =
      s"http://127.0.0.1:$port/$tenant/$stream?from=$from&to=$to&limit=$limit&page=${page + 1}"
    val body = new java.lang.StringBuilder((hi - lo) * 200 + 256)
    def array(key: String): Unit = {
      body.append("{\"").append(key).append("\":[")
      var i = lo
      while (i < hi) { if (i > lo) body.append(','); body.append(recs(i)); i += 1 }
      body.append(']')
    }
    var link = ""
    stream match {
      case "next_url" =>
        array("results")
        body.append(",\"next\":").append(if (more) "\"" + nextUrl + "\"" else "null")
      case "link_header" =>
        array("orders")
        if (more) link = s"Link: <$nextUrl>; rel=\"next\"\r\n"
      case "marker" =>
        array("data")
        body.append(",\"next\":\"").append(if (more) s"m${page + 1}" else "0").append('"')
      case "offset" =>
        array("items")
      case "odata" =>
        array("value")
        if (more) body.append(",\"@odata.nextLink\":\"").append(nextUrl).append('"')
    }
    body.append('}')
    val b = body.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val head = (s"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${b.length}\r\n$link\r\n").getBytes(US_ASCII)
    val resp = new Array[Byte](head.length + b.length)
    System.arraycopy(head, 0, resp, 0, head.length)
    System.arraycopy(b, 0, resp, head.length, b.length)
    pageBytes.addAndGet(resp.length)
    resp
  }
}
