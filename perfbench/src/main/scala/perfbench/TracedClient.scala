package perfbench

import graft.sources.{HttpClient, HttpRequest, HttpResponse}

/** Base transport handed to `HttpFrontend` and to the direct replays: it
  * delegates to the program's `JdkHttpClient` and records one
  * `sources.http_get` span per physical request, a `sources.parse` span for
  * the page's JSON parse (`HttpResponse.json`, which the page loop would
  * otherwise run lazily right after), and a zero-length `sources.retry`
  * mark for every answer the retrying client will retry.
  *
  * Spans hang under whatever the benchmark bound to the request's
  * `tenant/stream` (or `tenant`) key: the URL path is `/{tenant}/{stream}`.
  */
final class TracedClient(inner: HttpClient, trace: Trace) extends HttpClient {
  override def get(req: HttpRequest): HttpResponse = {
    val path = new java.net.URI(req.url).getPath.split('/')
    val c = trace.lookup(path(1) + "/" + path(2), path(1))
    val t0 = System.nanoTime()
    val resp =
      try inner.get(req)
      catch {
        case e: java.io.IOException =>
          val t = System.nanoTime()
          trace.add(Span(trace.newId(), "sources.http_get", t0, t, c.parent, c.op, c.phase))
          trace.add(Span(trace.newId(), "sources.retry", t, t, c.parent, c.op, c.phase))
          throw e
      }
    val t1 = System.nanoTime()
    trace.add(Span(trace.newId(), "sources.http_get", t0, t1, c.parent, c.op, c.phase))
    if (resp.status == 429 || resp.status >= 500)
      trace.add(Span(trace.newId(), "sources.retry", t1, t1, c.parent, c.op, c.phase))
    else if (resp.status == 200) {
      resp.json
      trace.add(Span(trace.newId(), "sources.parse", t1, System.nanoTime(), c.parent, c.op, c.phase))
    }
    resp
  }
}
