package graft.sources

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.JsonNode

import graft.core.Json
import graft.http.Http11

/** HTTP source family: a generic paginated fetch loop with pluggable
  * pagination strategies, a retry/backoff client wrapper, and a one-scan
  * page decoder that hands out each record as its own JSON text — the
  * reference's "scan loop" re-expressed as pure strategy objects (testable
  * against an in-process mock server, no egress).
  *
  * Reference evidence per strategy:
  *  - NextUrl:    follow `next` link in body      (`integrations/pokeapi/poke.go:32-40`)
  *  - LinkHeader: RFC-5988 `Link: <…>; rel="next"` (`integrations/shopify/shopify.go:55-84`)
  *  - Marker:     re-issue with `marker` param     (`integrations/klaviyo/klaviyo.go:36-44`)
  *  - Offset:     `start += num` until short page  (`integrations/sitoo/sitoo.go:56-62`)
  *  - OData:      follow `@odata.nextLink`         (`integrations/storm/storm.go:57-65`)
  *
  * Scale notes: next-url/marker/link-header chains are inherently sequential
  * (each page's address comes from the previous response) — one partition per
  * stream, exactly like the reference's single goroutine per stream. Offset
  * pagination splits into N parallel range partitions when `totalHint` is
  * known (the natural DataSource-V2 InputPartition split, SURVEY §2 S6).
  */
final case class HttpRequest(
    url: String,
    params: Seq[(String, String)] = Nil,
    headers: Seq[(String, String)] = Nil) {
  def fullUrl: String =
    if (params.isEmpty) url
    else {
      val qs = params.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("&")
      url + (if (url.contains('?')) "&" else "?") + qs
    }
  def withParam(k: String, v: String): HttpRequest =
    copy(params = params.filterNot(_._1 == k) :+ (k -> v))
}

/** A response as received: the body's bytes and the charset its
  * `Content-Type` declares. `body` and `json` decode on first use. Header
  * lines of one name, matched case-insensitively, are one field whose values
  * are joined with ", " (RFC 9110 §5.3).
  */
final class HttpResponse private[sources] (val status: Int, content: Array[Byte], charset: Charset,
    text: String, fields: Array[String]) {
  lazy val body: String = if (text != null) text else new String(content, charset)
  lazy val json: JsonNode = Json.parse(body)
  /** The header fields, by name as the first line of each spelled it. */
  lazy val headers: Map[String, String] =
    Iterator.range(0, fields.length, 2).map(i => fields(i) -> fields(i + 1)).toMap
  def header(name: String): Option[String] = Option(Http11.field(fields, name))

  /** The body's bytes when they are declared UTF-8, as received. */
  def utf8Content: Option[Array[Byte]] =
    if (text != null) Some(text.getBytes(UTF_8)) else Option.when(charset == UTF_8)(content)
}

object HttpResponse {
  def apply(status: Int, body: String, headers: Map[String, String]): HttpResponse =
    new HttpResponse(status, null, UTF_8, body, flat(headers))

  def apply(status: Int, content: Array[Byte], charset: Charset, headers: Map[String, String]): HttpResponse =
    new HttpResponse(status, content, charset, null, flat(headers))

  private def flat(headers: Map[String, String]): Array[String] =
    headers.iterator.flatMap { case (k, v) => Iterator(k, v) }.toArray
}

/** Pluggable transport ([[JdkHttpClient]] in production, a stub in tests).
  * Serializable so a base client can ride into a Spark read task — the page
  * loop then streams executor-side instead of materializing on the driver.
  */
trait HttpClient extends Serializable {
  def get(req: HttpRequest): HttpResponse
}

/** Retry/backoff wrapper honoring Retry-After on 429/5xx (reference
  * `DefaultRetryer`, `utils.go:35-38`, `readme.MD:97-117`). Shared per
  * connector so one rate limit throttles all of its streams.
  */
final class RetryingClient(
    inner: HttpClient,
    maxRetries: Int = 5,
    baseDelayMs: Long = 200,
    sleep: Long => Unit = Thread.sleep) extends HttpClient {
  override def get(req: HttpRequest): HttpResponse = {
    var attempt = 0
    while (true) {
      val resp =
        try inner.get(req)
        catch {
          case e: java.io.IOException if attempt < maxRetries =>
            sleep(baseDelayMs << attempt); attempt += 1; null
        }
      if (resp != null) {
        if ((resp.status == 429 || resp.status >= 500) && attempt < maxRetries) {
          val delay = resp.header("Retry-After").flatMap(_.toLongOption).map(_ * 1000)
            .getOrElse(baseDelayMs << attempt)
          sleep(delay); attempt += 1
        } else if (resp.status >= 300) {
          // >= 300, not 400: transports follow redirects themselves (see
          // JdkHttpClient), so a surviving 3xx is a redirect loop / protocol
          // downgrade / misconfiguration — surface it as an HTTP error
          // instead of letting the caller JSON-parse an HTML redirect body.
          // 304 Not Modified is deliberately included: this client never
          // sends conditional validators (no If-None-Match/If-Modified-
          // Since anywhere in the stack), so a 304 can only mean a
          // misconfigured upstream; if conditional GETs are ever added,
          // special-case 304 here first.
          throw new RuntimeException(s"HTTP ${resp.status} for ${req.fullUrl}: ${resp.body.take(200)}")
        } else return resp
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Token-bucket rate limiter: `permitsPerSec` sustained rate with up to
  * `burst` tokens of headroom — the per-connector budget the reference
  * sidesteps via `concurrency=1` (SURVEY §7 hard part b). Thread-safe, so
  * one instance shared across a connector's streams throttles them jointly;
  * on executors, hold one per JVM per connector (lazy singleton keyed by
  * connector name) so the cluster-wide rate is `permitsPerSec × executors`
  * — size the budget accordingly, or keep rate-limited fetch driver-side as
  * the page loops here do.
  */
object RateLimiter {
  private val perJvm = new scala.collection.concurrent.TrieMap[(String, Double, Int), RateLimiter]()

  /** One SHARE of a cluster-wide budget (SURVEY §7 hard part b): the driver
    * plans `nShares` read partitions and stamps each with its index; every
    * share paces at `permitsPerSec / nShares`, so the AGGREGATE across all
    * shares — wherever Spark schedules them, one executor or a thousand —
    * never exceeds the configured connector budget. This replaces the
    * per-JVM-singleton model's `rate × executors` cluster aggregate with a
    * true cluster-wide bound, at the cost of under-using the budget when
    * some partitions finish early (the standard static-split tradeoff; a
    * grant-lease coordinator could reclaim idle shares but needs an RPC
    * channel Spark doesn't give user code portably). Keyed per share, so a
    * share's retries contend on its own slice while sibling partitions
    * co-resident in the same JVM keep their own — the split is what
    * enforces the bound, not JVM-level sharing. Burst headroom splits too,
    * floored at 1 token so every share can make progress — aggregate
    * instantaneous burst is therefore max(burst, nShares) while the
    * SUSTAINED aggregate stays exactly `permitsPerSec`.
    *
    * The whole budget (`nShares == 1`) is keyed by the bare `key`: the
    * per-JVM singleton for that (connector, rate, burst), so ANY copy of a
    * connector definition (driver original, deserialized task closure,
    * one-partition DSv2 reader) and every protocol sync in the JVM draw
    * from ONE shared budget.
    */
  def forShare(key: String, permitsPerSec: Double, burst: Int,
      shareIndex: Int, nShares: Int): RateLimiter = {
    require(nShares >= 1 && shareIndex >= 0 && shareIndex < nShares)
    val shareKey = if (nShares == 1) key else s"$key#$shareIndex/$nShares"
    perJvm.getOrElseUpdate((shareKey, permitsPerSec, burst),
      new RateLimiter(permitsPerSec / nShares, math.max(1, burst / nShares)))
  }
}

final class RateLimiter(
    permitsPerSec: Double,
    burst: Int = 1,
    nanoClock: () => Long = System.nanoTime) {
  require(permitsPerSec > 0 && burst >= 1)
  private val intervalNanos = (1e9 / permitsPerSec).toLong
  private var nextFree = nanoClock() - (burst - 1) * intervalNanos

  /** Nanoseconds the caller must wait before proceeding (0 inside burst
    * headroom). Separated from sleeping for testability.
    */
  def acquireWaitNanos(): Long = synchronized {
    val now = nanoClock()
    val wait = math.max(0L, nextFree - now)
    nextFree = math.max(nextFree, now - (burst - 1) * intervalNanos) + intervalNanos
    wait
  }
}

/** Client wrapper pacing requests through a (shared) [[RateLimiter]]. */
final class RateLimitedClient(
    inner: HttpClient,
    val limiter: RateLimiter,
    sleep: Long => Unit = ns => Thread.sleep(ns / 1000000L, (ns % 1000000L).toInt)) extends HttpClient {
  override def get(req: HttpRequest): HttpResponse = {
    val wait = limiter.acquireWaitNanos()
    if (wait > 0) sleep(wait)
    inner.get(req)
  }
}

/** A pagination strategy decides the next request from the last page. */
trait Pagination {
  def first(base: HttpRequest): HttpRequest = base
  def next(base: HttpRequest, last: Page): Option[HttpRequest]
}

object Pagination {

  /** Follow a body field containing the absolute next URL (pokeapi `next`,
    * OData `@odata.nextLink`).
    */
  final case class NextUrl(field: String*) extends Pagination {
    override def next(base: HttpRequest, last: Page): Option[HttpRequest] = {
      val n = field.foldLeft(last.fields)((j, f) => if (j == null) null else j.get(f))
      Option(n).filterNot(_.isNull).map(_.asText).filter(_.nonEmpty)
        .map(u => HttpRequest(u, Nil, base.headers))
    }
  }

  /** RFC-5988 Link header, rel="next" (reference `ParseNext`,
    * `integrations/shopify/shopify.go:75-84`).
    */
  final case class LinkHeader() extends Pagination {
    override def next(base: HttpRequest, last: Page): Option[HttpRequest] =
      last.response.header("Link").flatMap(parseNext)
        .map(u => HttpRequest(u, Nil, base.headers))

    /** Parse `<url1>; rel="prev", <url2>; rel="next"` → url2. Link values
      * are split only at commas outside `<…>` and quotes, since a URL may
      * hold commas; `rel` may be quoted or a bare token, and may list
      * `next` among space-separated relation types (RFC 8288 §3).
      */
    def parseNext(link: String): Option[String] = {
      var i = link.indexOf('<')
      while (i >= 0) {
        val close = link.indexOf('>', i)
        if (close < 0) return None
        var j = close + 1
        var quoted = false
        while (j < link.length && (quoted || link.charAt(j) != ',')) {
          if (link.charAt(j) == '"') quoted = !quoted
          j += 1
        }
        val next = link.substring(close + 1, j).split(';').iterator.map(_.trim).exists { p =>
          val eq = p.indexOf('=')
          eq > 0 && p.substring(0, eq).trim.equalsIgnoreCase("rel") &&
            p.substring(eq + 1).trim.stripPrefix("\"").stripSuffix("\"").split("\\s+")
              .exists(_.equalsIgnoreCase("next"))
        }
        if (next) return Some(link.substring(i + 1, close))
        i = link.indexOf('<', j)
      }
      None
    }
  }

  /** Continuation token in a body field, re-sent as a query param until the
    * sentinel (klaviyo: `marker` until 0/absent).
    */
  final case class Marker(bodyField: String, param: String) extends Pagination {
    override def next(base: HttpRequest, last: Page): Option[HttpRequest] = {
      val m = last.fields.get(bodyField)
      Option(m).filterNot(_.isNull).map(_.asText).filter(v => v.nonEmpty && v != "0")
        .map(v => base.withParam(param, v))
    }
  }

  /** Offset/limit: advance `start` by `num` until a short page (sitoo,
    * `sitoo.go:56-62`). The short-page test counts the page's records, so
    * `recordsPath` must be the stream's own (checked by [[PaginatedStream]]).
    */
  final case class Offset(startParam: String, numParam: String, num: Int, recordsPath: Seq[String])
      extends Pagination {
    override def first(base: HttpRequest): HttpRequest =
      base.withParam(startParam, "0").withParam(numParam, num.toString)
    override def next(base: HttpRequest, last: Page): Option[HttpRequest] =
      if (last.size < num) None
      else {
        val lastStart = base.params.collectFirst { case (`startParam`, v) => v.toInt }.getOrElse(0)
        Some(base.withParam(startParam, (lastStart + num).toString))
      }
  }
}

/** One paginated HTTP stream: base request builder + pagination + records
  * path. `pages` runs the page loop and yields each decoded [[Page]], whose
  * records are slices of UTF-8 bytes (see [[Page]] for that contract);
  * `fetch` yields each record as its own `String`.
  */
final case class PaginatedStream(
    base: HttpRequest,
    pagination: Pagination,
    recordsPath: Seq[String],
    maxPages: Int = Int.MaxValue) {

  pagination match {
    case o: Pagination.Offset => require(o.recordsPath == recordsPath,
      s"Offset counts records at ${o.recordsPath.mkString(".")} but the stream reads ${recordsPath.mkString(".")}")
    case _ => ()
  }

  /** The page loop: each page is fetched and decoded when asked for. */
  def pages(client: HttpClient): Iterator[Page] = new Iterator[Page] {
    private var req: Option[HttpRequest] = Some(pagination.first(base))
    private var n = 0

    override def hasNext: Boolean = req.isDefined && n < maxPages
    override def next(): Page = {
      val r = req.get
      val page = Page(client.get(r), recordsPath)
      n += 1
      req = pagination.next(r, page)
      page
    }
  }

  def fetch(client: HttpClient): Iterator[String] =
    pages(client).flatMap(p => Iterator.tabulate(p.size)(p.record))
}
