package graft.sources

import java.io.{IOException, OutputStream}
import java.net.{InetSocketAddress, Proxy, ProxySelector, Socket, SocketTimeoutException, URI}
import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import javax.net.ssl.{HttpsURLConnection, SSLSocket}

import scala.util.control.NonFatal

import graft.http.Http11

/** Blocking HTTP/1.1 GET client, shaped like Go's `net/http` client that
  * the reference wraps in its retryer (`utils.go:35-38`). Each GET runs on
  * the calling thread over a pooled keep-alive connection, and its response
  * is framed by [[graft.http.Http11]], the wire code `HttpFrontend` reads
  * requests with. The client holds no state (the pool is per JVM, in the
  * companion object), so it serializes into Spark tasks as is, and every task
  * on an executor shares that executor's pool.
  *
  *  - Connections. Idle connections are pooled per (scheme, host, port),
  *    most recently returned first: at most 5 per destination, each closed
  *    after 5 s idle (the JDK's own keep-alive cache defaults). TCP_NODELAY
  *    is set on each.
  *  - Requests. The request line, `Host`, `User-Agent: graft`, an `Accept`
  *    of any type and the caller's headers go out in one write; a caller header
  *    replaces the default of the same name, and of two caller headers of
  *    one name the last wins. A control character, space or non-ASCII
  *    character in the URL's path or query is sent percent-encoded.
  *  - Responses. 1xx responses are skipped; 204 and 304 have no body. A
  *    chunked body is de-chunked into an array that grows as its bytes
  *    arrive, a `Content-Length` body is read into an array of exactly that
  *    size, any other body is read to the close. A
  *    body cut short, a header block over 64 KiB or a malformed head is an
  *    `IOException`. Header lines of one name are joined with ", ".
  *  - Reuse. A connection goes back to the pool unless its body ran to the
  *    close, the response said `Connection: close`, or it was an HTTP/1.0
  *    response without keep-alive. A reused connection that fails before
  *    the first response byte arrives is retried once on a fresh
  *    connection (a GET is idempotent); once a response byte has arrived,
  *    nothing is retried here.
  *  - Timeouts. `timeoutMs` bounds the connect and every read (0: none). A
  *    timeout is an `IOException`, which [[RetryingClient]] retries.
  *  - Redirects. At most 5 hops over
  *    301/302/303/307/308, never from https to http; the caller's headers
  *    ride along. A redirect not followed is returned as the 3xx.
  *  - TLS. `HttpsURLConnection.getDefaultSSLSocketFactory`, with SNI and
  *    hostname verification (endpoint identification `HTTPS`).
  *  - Proxies. `ProxySelector.getDefault()` picks them per new connection.
  *    Through an HTTP proxy an http URL is sent with its absolute form as the
  *    target and an https URL goes through a `CONNECT` tunnel; a SOCKS proxy
  *    is reached through `new Socket(proxy)`. Proxy authentication is not
  *    supported.
  */
final class JdkHttpClient(timeoutMs: Long = 30000) extends HttpClient {
  import JdkHttpClient._

  override def get(req: HttpRequest): HttpResponse = {
    val timeout = math.min(timeoutMs, Int.MaxValue).toInt
    var url = req.fullUrl
    var redirects = 0
    while (true) {
      val t = Target(url)
      val r = exchange(t, req.headers, timeout)
      val head = r.head
      val location = if (Redirects(head.status) && redirects < MaxRedirects) head.header("Location") else null
      val next = if (location == null) null else resolve(url, location)
      // never an https→http downgrade. A redirect that is not followed
      // reaches RetryingClient as a 3xx, which it raises as an error
      // instead of JSON-parsing the body.
      if (next == null || t.https && !next.regionMatches(true, 0, "https:", 0, 6))
        return new HttpResponse(head.status, r.body, charset(head.header("Content-Type")), null, head.fields)
      url = next
      redirects += 1
    }
    throw new IllegalStateException("unreachable")
  }
}

object JdkHttpClient {
  private val Redirects = Set(301, 302, 303, 307, 308)
  private val MaxRedirects = 5
  /** Most idle connections pooled per destination. */
  private val MaxIdle = 5
  /** An idle connection is closed after this long in the pool. */
  private val IdleMs = 5000

  /** A URL taken apart: no `java.net.URL` per request. */
  private final class Target(val https: Boolean, val host: String, val port: Int,
      val authority: String, val path: String) {
    /** The pool key: one per (scheme, host, port). */
    val key: String = (if (https) "https://" else "http://") + host.toLowerCase(java.util.Locale.ROOT) + ":" + port
    def absolute: String = (if (https) "https://" else "http://") + authority + path
    /** The host without an IPv6 literal's brackets. */
    def hostName: String = if (host.startsWith("[")) host.substring(1, host.length - 1) else host
  }

  private object Target {
    def apply(url: String): Target = {
      val https =
        if (url.regionMatches(true, 0, "http://", 0, 7)) false
        else if (url.regionMatches(true, 0, "https://", 0, 8)) true
        else throw new IllegalArgumentException(s"not an http or https URL: $url")
      val from = if (https) 8 else 7
      var end = from
      while (end < url.length && "/?#".indexOf(url.charAt(end)) < 0) end += 1
      val authority = url.substring(url.lastIndexOf('@', end - 1).max(from - 1) + 1, end)
      if (authority.exists(c => c <= ' ' || c >= 0x7f))
        throw new IllegalArgumentException(s"illegal character in URL host: $url")
      val colon = authority.lastIndexOf(':')
      val (host, port) =
        if (colon < 0 || colon < authority.lastIndexOf(']')) (authority, if (https) 443 else 80)
        else (authority.substring(0, colon), authority.substring(colon + 1).toIntOption
          .filter(p => p > 0 && p < 65536)
          .getOrElse(throw new IllegalArgumentException(s"bad port in URL: $url")))
      if (host.isEmpty) throw new IllegalArgumentException(s"no host in URL: $url")
      val hash = url.indexOf('#', end)
      val rest = quoted(if (hash < 0) url.substring(end) else url.substring(end, hash))
      new Target(https, host, port, authority, if (rest.startsWith("/")) rest else "/" + rest)
    }
  }

  private val Hex = "0123456789ABCDEF"

  /** `s` with each character a request line cannot carry (a control
    * character, space, DEL or non-ASCII) percent-encoded as UTF-8; any
    * other character is sent as it stands.
    */
  private def quoted(s: String): String = {
    var i = 0
    while (i < s.length && s.charAt(i) > ' ' && s.charAt(i) < 0x7f) i += 1
    if (i == s.length) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 16).append(s, 0, i)
      s.substring(i).getBytes(UTF_8).foreach { b =>
        if (b > ' ' && b != 0x7f) sb.append(b.toChar) // bytes of non-ASCII characters are negative
        else sb.append('%').append(Hex.charAt(b >> 4 & 0xf)).append(Hex.charAt(b & 0xf))
      }
      sb.toString
    }
  }

  /** `location` resolved against `base`, or null when it is not an http(s)
    * URL. `java.net.URL` takes characters such as `|` or a space that
    * `java.net.URI` refuses, and a next URL taken from a page body can hold
    * them.
    */
  private def resolve(base: String, location: String): String =
    try {
      val u = new java.net.URL(new java.net.URL(base), location.trim)
      if (u.getProtocol == "http" || u.getProtocol == "https") u.toString else null
    } catch { case _: java.net.MalformedURLException => null }

  /** The `charset` parameter of a Content-Type, UTF-8 when absent or unknown. */
  private def charset(contentType: String): Charset =
    if (contentType == null || contentType.indexOf('=') < 0) UTF_8
    else contentType.split(';').iterator.map(_.trim)
      .collectFirst { case p if p.toLowerCase.startsWith("charset=") =>
        p.substring(8).trim.stripPrefix("\"").stripSuffix("\"")
      }
      .flatMap(n => scala.util.Try(Charset.forName(n)).toOption)
      .getOrElse(UTF_8)

  /** One open connection. `absolute`: requests go to an HTTP proxy. */
  private final class Conn(val key: String, val sock: Socket, val absolute: Boolean) {
    val in = new Http11.Reader(sock.getInputStream)
    val out: OutputStream = sock.getOutputStream
    var idleSince = 0L
    def expired(now: Long): Boolean = now - idleSince > IdleMs * 1000000L
    def close(): Unit = try sock.close() catch { case NonFatal(_) => () }
  }

  private val idle = new ConcurrentHashMap[String, java.util.ArrayDeque[Conn]]()

  private def take(key: String): Conn = {
    val q = idle.get(key)
    if (q == null) return null
    var c = q.synchronized(q.pollFirst())
    while (c != null && c.expired(System.nanoTime())) { c.close(); c = q.synchronized(q.pollFirst()) }
    c
  }

  private def release(c: Conn): Unit = {
    val q = idle.computeIfAbsent(c.key, _ => new java.util.ArrayDeque[Conn]())
    c.idleSince = System.nanoTime()
    val kept = q.synchronized(q.size < MaxIdle && { q.addFirst(c); true })
    if (kept) Sweeper.start() else c.close()
  }

  /** Closes connections idle past [[IdleMs]], oldest first, every [[IdleMs]]. */
  private object Sweeper {
    private val t = new Thread(() => while (true) {
      Thread.sleep(IdleMs)
      idle.values.forEach { q =>
        val now = System.nanoTime()
        var c = q.synchronized(if (!q.isEmpty && q.peekLast().expired(now)) q.pollLast() else null)
        while (c != null) {
          c.close()
          c = q.synchronized(if (!q.isEmpty && q.peekLast().expired(now)) q.pollLast() else null)
        }
      }
    }, "graft-http-keepalive")
    t.setDaemon(true)
    t.start()
    /** Starts the sweeper thread, once: the first call initializes this object. */
    def start(): Unit = ()
  }

  /** One GET: on a pooled connection, or on a fresh one when there is none
    * or the pooled one fails before any response byte.
    */
  private def exchange(t: Target, headers: Seq[(String, String)], timeout: Int): Http11.Response = {
    val pooled = take(t.key)
    if (pooled != null) {
      val before = pooled.in.received
      try return send(pooled, t, headers, timeout)
      catch {
        case e: IOException if pooled.in.received == before && !e.isInstanceOf[SocketTimeoutException] => ()
      }
    }
    send(open(t, timeout), t, headers, timeout)
  }

  private def send(c: Conn, t: Target, headers: Seq[(String, String)], timeout: Int): Http11.Response = {
    val r =
      try {
        c.sock.setSoTimeout(timeout)
        c.out.write(request(t, if (c.absolute) t.absolute else t.path, headers))
        c.out.flush()
        Http11.readResponse(c.in)
      } catch { case e: Throwable => c.close(); throw e }
    if (r.reusable) release(c) else c.close()
    r
  }

  /** The request head, as the one write that sends it. */
  private def request(t: Target, target: String, headers: Seq[(String, String)]): Array[Byte] = {
    def caller(name: String) = headers.exists(_._1.equalsIgnoreCase(name))
    val sb = new java.lang.StringBuilder(160 + 48 * headers.size)
    sb.append("GET ").append(target).append(" HTTP/1.1\r\n")
    if (!caller("Host")) {
      sb.append("Host: ").append(t.host)
      if (t.port != (if (t.https) 443 else 80)) sb.append(':').append(t.port)
      sb.append("\r\n")
    }
    if (!caller("User-Agent")) sb.append("User-Agent: graft\r\n")
    if (!caller("Accept")) sb.append("Accept: */*\r\n")
    var rest = headers
    while (rest.nonEmpty) {
      val (k, v) = rest.head
      rest = rest.tail
      if (!legal(k, name = true) || !legal(v, name = false))
        throw new IllegalArgumentException(s"illegal request header '$k'")
      if (!rest.exists(_._1.equalsIgnoreCase(k))) sb.append(k).append(": ").append(v).append("\r\n")
    }
    sb.append("\r\n").toString.getBytes(UTF_8)
  }

  /** A header name has no space, colon or control character and is not
    * empty; a value has no CR or LF.
    */
  private def legal(s: String, name: Boolean): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\r' || c == '\n' || name && (c <= ' ' || c == ':' || c >= 0x7f)) return false
      i += 1
    }
    !name || s.nonEmpty
  }

  /** A fresh connection to `t`, through the proxies `ProxySelector` picks,
    * tried in order.
    */
  private def open(t: Target, timeout: Int): Conn = {
    val selector = ProxySelector.getDefault
    val uri =
      try new URI(if (t.https) "https" else "http", null, t.hostName, t.port, "/", null, null)
      catch { case _: java.net.URISyntaxException => null } // a host URI will not take: no proxy applies
    val proxies =
      if (selector == null || uri == null) java.util.List.of(Proxy.NO_PROXY) else selector.select(uri)
    var failure: IOException = null
    val it = proxies.iterator()
    while (it.hasNext) {
      val p = it.next()
      try return connect(t, p, timeout)
      catch {
        case e: IOException =>
          if (p.`type` != Proxy.Type.DIRECT) selector.connectFailed(uri, p.address, e)
          failure = e
      }
    }
    throw if (failure != null) failure else new IOException(s"no proxy to reach ${t.key}")
  }

  private def connect(t: Target, proxy: Proxy, timeout: Int): Conn = {
    val sock = if (proxy.`type` == Proxy.Type.SOCKS) new Socket(proxy) else new Socket()
    try {
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(timeout)
      proxy.`type` match {
        case Proxy.Type.DIRECT => sock.connect(new InetSocketAddress(t.hostName, t.port), timeout)
        case Proxy.Type.SOCKS => sock.connect(InetSocketAddress.createUnresolved(t.hostName, t.port), timeout)
        case Proxy.Type.HTTP =>
          val a = proxy.address.asInstanceOf[InetSocketAddress]
          sock.connect(if (a.isUnresolved) new InetSocketAddress(a.getHostString, a.getPort) else a, timeout)
          if (t.https) tunnel(sock, t)
      }
      if (!t.https) new Conn(t.key, sock, absolute = proxy.`type` == Proxy.Type.HTTP)
      else {
        val tls = HttpsURLConnection.getDefaultSSLSocketFactory
          .createSocket(sock, t.hostName, t.port, true).asInstanceOf[SSLSocket]
        val params = tls.getSSLParameters
        params.setEndpointIdentificationAlgorithm("HTTPS")
        tls.setSSLParameters(params)
        tls.startHandshake()
        new Conn(t.key, tls, absolute = false)
      }
    } catch { case e: Throwable => sock.close(); throw e }
  }

  /** Opens a `CONNECT` tunnel to `t` through the HTTP proxy on `sock`. */
  private def tunnel(sock: Socket, t: Target): Unit = {
    val authority = t.host + ":" + t.port
    sock.getOutputStream.write(
      s"CONNECT $authority HTTP/1.1\r\nHost: $authority\r\nUser-Agent: graft\r\n\r\n".getBytes(UTF_8))
    sock.getOutputStream.flush()
    val in = new Http11.Reader(sock.getInputStream)
    val head = Http11.readHead(in)
    if (head.status / 100 != 2 || in.buffered != 0)
      throw new IOException(s"proxy answered CONNECT $authority with ${head.status}")
  }
}
