package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.JsonNode

import graft.connectors.ConnectorDefs
import graft.core.{Cmd, Connector, FileStateStore, Json, RunConfig}
import graft.server.HttpFrontend
import graft.sources.{HttpClient, JdkHttpClient}

/** One timed request and what its verification found. */
final case class OpResult(tenant: String, kind: String, ok: Boolean, error: String,
    startNs: Long, latencyNs: Long, firstRecordNs: Long, records: Long, wireBytes: Long,
    opId: Long)

/** The connector path end to end: closed-loop clients POST
  * `/perfbench/{cmd}` to `HttpFrontend`, which runs `Connector.handle`
  * against the seeded [[Origin]] and streams Airbyte/Singer NDJSON back.
  *
  * 2 tenants, each one client on one keep-alive connection. Every 5th
  * request is spec/check/discover in rotation, the rest are `read` with the
  * tenant's saved state; each read's window holds a seeded 0-300 new
  * records per stream. The dialect alternates Airbyte/Singer.
  */
final class SyncWorkload(seed: Long, seconds: Int, traced: Boolean,
    runDir: Path, processStartNs: Long) {
  import SyncWorkload.RecordPrefix

  private val spec = WindowSpec(seed)
  private val tenants = Seq("t0", "t1")
  private val epoch = Instant.parse("2026-01-01T00:00:00Z")
  private val controls = Seq("spec", "check", "discover")
  // Per-request code runs a few times per op, so the JIT needs many ops
  // before it settles: with 75 warm-up ops per tenant, time to first
  // record still fell ~30% over the timed phase. The timed tenants first
  // warm up next to extra warm-up-only tenants (the ops mostly wait on the
  // frontend, so 8 clients at once take little longer than 2), then alone
  // for ~3 s: right after the 8-client phase, reads are still ~25% slower
  // to first record for that long.
  private val warmupTenants = tenants ++ (0 until 6).map(i => s"w$i")
  private val warmupOps = (70, 60)

  ConnectorDefs.register(BenchConnector.source)
  private val src = ConnectorDefs.all(BenchConnector.name)
  private val runners = src.httpStreams.map { case (sd, r) => sd.name -> r }.toMap

  /** Origin + frontend + per-tenant clients and state, started together. */
  private final class Env(trace: Trace) {
    val origin = new Origin(spec, trace).start()
    val base: HttpClient =
      if (trace.enabled) new TracedClient(new JdkHttpClient(), trace) else new JdkHttpClient()
    val frontend = new HttpFrontend(ConnectorDefs.all, base).start()
    val clients = warmupTenants.map(t => t -> new FrontendClient(frontend.boundPort)).toMap
    def stop(): Unit = {
      clients.values.foreach(_.close())
      frontend.stop()
      origin.stop()
    }
  }

  /** Per-tenant cursor: a fresh state store and how many reads it has done. */
  private final class Tenant(val name: String) {
    val dir: Path = runDir.resolve(s"state-$name")
    if (Files.exists(dir)) Files.list(dir).iterator().asScala.foreach(Files.delete)
    val store = new FileStateStore(dir.toString)
    var ops = 0
    var reads = 0
  }
  private val tenantState = warmupTenants.map(t => t -> new Tenant(t)).toMap
  /** RECORD lines and characters each traced op's direct replay wrote. */
  private val replayOut = new ConcurrentHashMap[Long, (Long, Long)]()

  /** (count, order-independent checksum) of the origin's window. */
  private def expected(tenant: String, stream: String, from: Long, to: Long): (Long, Long) = {
    val recs = spec.records(tenant, stream, from, to)
    (recs.length.toLong, recs.foldLeft(0L)((h, r) => h + Util.jsonHash(r)))
  }

  // ---- one operation --------------------------------------------------------

  private def plan(t: Tenant): Plan = {
    val k = t.ops
    val dialect = if (k % 2 == 0) "airbyte" else "singer"
    val now = epoch.plusSeconds(3600L * (t.reads + 1))
    if (k % 5 == 4) Plan(controls((k / 5) % 3), dialect, now)
    else Plan("read", dialect, now)
  }

  private def controlBody(p: Plan, tenant: String, port: Int, states: Map[String, JsonNode]): String = {
    val limits = Streams.names.map(s => s""""$s":${spec.limit(s)}""").mkString(",")
    val lines = Seq(
      s"""{"type":"SETTINGS","settings":{"format":"${p.dialect}"}}""",
      s"""{"type":"CONFIG","config":{"base":"http://127.0.0.1:$port/$tenant","now":"${p.now}","limits":{$limits}}}""") ++
      (if (states.isEmpty) Nil
       else Seq(states.map { case (k, v) => s""""$k":${Json.write(v)}""" }
         .mkString("""{"type":"STATE","state":{"data":{""", ",", "}}}")))
    lines.mkString("", "\n", "\n")
  }

  /** Run one request and verify it; traced runs also replay it directly. */
  private def runOp(env: Env, t: Tenant, trace: Trace): OpResult = {
    val p = plan(t)
    t.ops += 1
    val opId = trace.newId()
    val stateful = p.cmd == "read"
    val states =
      if (stateful) trace.span("core.state_load", 0, opId)(_ => t.store.loadAll()) else Map.empty[String, JsonNode]
    val body = controlBody(p, t.name, env.origin.port, states)
    val rc = if (trace.enabled) trace.span("core.control_parse", 0, opId)(_ => RunConfig.parse(body.linesIterator))
             else null
    val client = env.clients(t.name)
    val reply =
      try trace.span("server.request", 0, opId, p.cmd) { id =>
        trace.bind(t.name, SpanCtx(opId, id, "request"))
        try client.post(s"/${BenchConnector.name}/${p.cmd}", body)
        finally trace.unbind(t.name)
      } catch {
        case e: Exception =>
          client.close()
          return OpResult(t.name, p.cmd, ok = false, s"${p.cmd}: ${e}", System.nanoTime(), 0, 0, 0, 0, opId)
      }
    val verdict =
      try verify(p, t, states, reply)
      catch { case e: Exception => Left(s"unreadable output: $e") }
    verdict match {
      case Right((records, newStates)) =>
        if (stateful) trace.span("core.state_save", 0, opId) { _ =>
          newStates.foreach { case (s, v) => t.store.save(s, v) }
        }
        if (p.cmd == "read") t.reads += 1
        if (trace.enabled) replay(env, t, p, rc, opId, trace)
        OpResult(t.name, p.cmd, ok = true, "", reply.sentNs, reply.latencyNs,
          if (reply.firstRecordNs > 0) reply.firstRecordNs - reply.sentNs else 0L,
          records, reply.wireBytes, opId)
      case Left(err) =>
        OpResult(t.name, p.cmd, ok = false, s"${p.cmd}/${p.dialect}: $err", reply.sentNs,
          reply.latencyNs, 0, 0, reply.wireBytes, opId)
    }
  }

  /** Direct calls into the layers for the same op: `Connector.handle`
    * without the frontend, then (for reads) a drain of each stream's
    * `fetch`, with the connector's own concurrency.
    */
  private def replay(env: Env, t: Tenant, p: Plan, rc: RunConfig, opId: Long, trace: Trace): Unit = {
    val transport = Connector.transport(src, env.base)
    val w = new CountingWriter
    trace.span("core.handle", 0, opId, p.cmd) { id =>
      trace.bind(t.name, SpanCtx(opId, id, "replay"))
      try Connector.handle(src, Cmd.parse(p.cmd).get, rc, w, transport)
      finally trace.unbind(t.name)
    }
    replayOut.put(opId, (w.records, w.chars))
    if (p.cmd == "read") {
      val pool = Executors.newFixedThreadPool(src.concurrency)
      try trace.span("sources.fetch", 0, opId) { fetchId =>
        Streams.names.map { s =>
          pool.submit(new Runnable { def run(): Unit = {
            trace.span("sources.drain", fetchId, opId, "fetch") { id =>
              trace.bind(s"${t.name}/$s", SpanCtx(opId, id, "fetch"))
              try runners(s).stream(rc.config, rc.states.get(s)).fetch(transport).foreach(_ => ())
              finally trace.unbind(s"${t.name}/$s")
            }
          }})
        }.foreach(_.get())
      } finally pool.shutdown()
    }
  }

  // ---- the run --------------------------------------------------------------

  /** Closed loop: one thread per tenant issues its next op when the last
    * one finished. Stops after `ops` ops per tenant, or once `seconds`
    * have passed.
    */
  private def loop(env: Env, trace: Trace, names: Seq[String], ops: Int = 0,
      seconds: Double = 0): Seq[OpResult] = {
    val out = new ConcurrentLinkedQueue[OpResult]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val pool = Executors.newFixedThreadPool(names.size)
    try names.map { name =>
      pool.submit(new Runnable { def run(): Unit = {
        val t = tenantState(name)
        val first = t.ops
        def more = if (ops > 0) t.ops - first < ops else System.nanoTime() < deadline
        while (more) out.add(runOp(env, t, trace))
      }})
    }.foreach(_.get())
    finally { pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS) }
    out.asScala.toSeq
  }

  def run(): Outcome = {
    var attempted = 0L
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    def account(rs: Seq[OpResult]): Unit = {
      attempted += rs.size
      failures ++= rs.filterNot(_.ok).map(_.error)
    }
    val off = new Trace(false)
    // Set-up, from process start: JVM start, origin, frontend, connector
    // registration, fresh state, then the untimed warm-up ops.
    var env = new Env(off)
    account(loop(env, off, warmupTenants, ops = warmupOps._1))
    account(loop(env, off, tenants, ops = warmupOps._2))
    val setupS = (System.nanoTime() - processStartNs) / 1e9
    val timed = loop(env, off, tenants, seconds = seconds)
    account(timed)
    Files.write(runDir.resolve("ops.jsonl"), timed.map(opJson).asJava)
    val e2e = endToEnd(timed) + ("setup_s" -> Metric(setupS, "s"))
    var layers = Map.empty[String, Metric]
    var tracedE2e = Map.empty[String, Metric]
    if (traced) {
      env.stop()
      val trace = new Trace(true)
      env = new Env(trace)
      val ops = loop(env, trace, tenants, seconds = seconds)
      account(ops)
      tracedE2e = endToEnd(ops)
      layers = perLayer(ops.filter(_.ok), trace)
      trace.write(runDir.resolve("trace.jsonl"), ops.map(opJson))
    }
    env.stop()
    Outcome(e2e, layers, tracedE2e, attempted, failures.size, failures.distinct.take(10).toSeq)
  }

  private def opJson(o: OpResult): String =
    s"""{"op":${o.opId},"tenant":"${o.tenant}","cmd":"${o.kind}","ok":${o.ok},"start_ns":${o.startNs},""" +
    s""""latency_ns":${o.latencyNs},"first_record_ns":${o.firstRecordNs},"records":${o.records},""" +
    s""""wire_bytes":${o.wireBytes}}"""

  private def endToEnd(ops: Seq[OpResult]): Map[String, Metric] = {
    val good = ops.filter(_.ok)
    val reads = good.filter(_.kind == "read")
    val ctrl = good.filter(_.kind != "read")
    val readMs = reads.map(r => Util.ms(r.latencyNs))
    // Time with a request in flight: the client's own verification
    // between requests is not the program's time.
    val busyNs = Util.unionLength(good.map(o => (o.startNs, o.startNs + o.latencyNs)))
    Map(
      "ops_per_s" -> Metric(good.size / (busyNs / 1e9), "1/s"),
      "read_p50_ms" -> Metric(Util.median(readMs), "ms"),
      "read_p90_ms" -> Metric(Util.quantile(readMs, 0.9), "ms"),
      "control_p50_ms" -> Metric(Util.median(ctrl.map(r => Util.ms(r.latencyNs))), "ms"),
      "records_per_s" -> Metric(Util.median(reads.map(r => r.records / (r.latencyNs / 1e9))), "1/s"),
      "first_record_ms" -> Metric(Util.median(reads.filter(_.firstRecordNs > 0).map(r => Util.ms(r.firstRecordNs))), "ms"),
      // printed only: the sample counts behind the percentiles
      "read_samples" -> Metric(reads.size, "count"),
      "control_samples" -> Metric(ctrl.size, "count"))
  }

  /** Per-layer figures from the traced ops' spans: times as means per
    * call or per op, page and request counts per read.
    */
  private def perLayer(ops: Seq[OpResult], trace: Trace): Map[String, Metric] = {
    val spans = trace.all
    val byOp = spans.groupBy(_.op)
    val byParent = spans.groupBy(_.parent)
    def named(op: Long, name: String) = byOp.getOrElse(op, Nil).filter(_.name == name)
    def nanos(op: Long, name: String) = named(op, name).map(_.nanos).sum
    def perOp(xs: Seq[Double]) = Util.mean(xs)
    val reads = ops.filter(_.kind == "read")
    val ctrl = ops.filter(_.kind != "read")
    val serverSelf = (os: Seq[OpResult]) =>
      perOp(os.map(o => Util.ms(nanos(o.opId, "server.request") - nanos(o.opId, "core.handle"))))
    val inRequest = spans.filter(_.phase == "request")
    val gets = inRequest.filter(_.name == "sources.http_get")
    val originPages = inRequest.filter(_.name == "origin.page")
    val requests = spans.filter(_.name == "server.request")
    val covered = requests.map { r =>
      Util.unionLength(byParent.getOrElse(r.id, Nil).map(c => (c.start, c.end)))
    }.sum
    val drainSelf = (o: OpResult) => named(o.opId, "sources.drain").map { d =>
      trace.selfNanos(d, byParent.getOrElse(d.id, Nil).filter(_.name != "origin.page"))
    }.sum
    val handleMs = reads.map(o => Util.ms(nanos(o.opId, "core.handle")))
    val fetchMs = reads.map(o => Util.ms(nanos(o.opId, "sources.fetch")))
    val n = reads.size.toDouble
    Map(
      "server.read_self_ms" -> Metric(serverSelf(reads), "ms"),
      "server.control_self_ms" -> Metric(serverSelf(ctrl), "ms"),
      "server.bytes_out" -> Metric(perOp(reads.map(_.wireBytes.toDouble)), "bytes"),
      "core.handle_ms" -> Metric(perOp(handleMs), "ms"),
      "core.encode_ms" -> Metric(perOp(handleMs.zip(fetchMs).map { case (h, f) => h - f }), "ms"),
      "core.records_out" -> Metric(perOp(reads.map(o => replayOut.get(o.opId)._1.toDouble)), "count"),
      "core.bytes_out" -> Metric(perOp(reads.map(o => replayOut.get(o.opId)._2.toDouble)), "bytes"),
      "core.control_parse_ms" -> Metric(perOp(ops.map(o => Util.ms(nanos(o.opId, "core.control_parse")))), "ms"),
      "core.state_load_ms" -> Metric(perOp(reads.map(o => Util.ms(nanos(o.opId, "core.state_load")))), "ms"),
      "core.state_save_ms" -> Metric(perOp(reads.map(o => Util.ms(nanos(o.opId, "core.state_save")))), "ms"),
      "sources.http_get_ms" -> Metric(perOp(gets.map(s => Util.ms(s.nanos))), "ms"),
      "sources.http_gets" -> Metric(gets.size / n, "count"),
      "sources.pages" -> Metric(inRequest.count(_.name == "sources.parse") / n, "count"),
      "sources.retries" -> Metric(inRequest.count(_.name == "sources.retry") / n, "count"),
      "sources.fetch_ms" -> Metric(perOp(fetchMs), "ms"),
      "sources.parse_ms" -> Metric(perOp(reads.map(o => Util.ms(byOp(o.opId)
        .filter(s => s.name == "sources.parse" && s.phase == "fetch").map(_.nanos).sum))), "ms"),
      "sources.rewrite_ms" -> Metric(perOp(reads.map(o => Util.ms(drainSelf(o)))), "ms"),
      "origin.page_ms" -> Metric(perOp(originPages.map(s => Util.ms(s.nanos))), "ms"),
      "origin.pages" -> Metric(originPages.size / n, "count"),
      "trace.coverage" -> Metric(covered.toDouble / requests.map(_.nanos).sum, "ratio"))
  }

  // ---- verification ---------------------------------------------------------

  private def verify(p: Plan, t: Tenant, states: Map[String, JsonNode],
      reply: Reply): Either[String, (Long, Map[String, String])] = {
    if (reply.status != 200) return Left(s"HTTP ${reply.status}")
    if (p.cmd == "read") return verifyRead(p, t, states, reply)
    val (lines, types) = reply.lines.filter(_._2 > 0).map { case (off, len) => tree(reply, off, len) }
      .toVector.unzip
    val errors = lines.indices.filter(i => types(i) == "LOG" &&
      Set("ERROR", "FATAL").contains(lines(i).at("/log/level").asText(""))).map(lines)
    if (errors.nonEmpty) return Left(s"LOG ${errors.head.at("/log/message").asText}")
    val airbyte = p.dialect == "airbyte"
    p.cmd match {
      case "spec" =>
        if (lines.exists(l => l.at("/spec/connectionSpecification").isObject)) Right((0L, Map.empty))
        else Left("no SPEC with a connectionSpecification")
      case "check" =>
        val status = if (airbyte) "/connectionStatus/status" else "/status/status"
        if (lines.exists(_.at(status).asText("") == "SUCCEEDED")) Right((0L, Map.empty))
        else Left("check did not succeed")
      case "discover" =>
        val names =
          if (airbyte) lines.filter(_.has("catalog")).flatMap(_.at("/catalog/streams").elements().asScala)
            .map(_.get("name").asText)
          else lines.indices.filter(types(_) == "SCHEMA").map(lines(_).get("stream").asText)
        if (names.sorted == Streams.names.sorted) Right((0L, Map.empty))
        else Left(s"discovered ${names.mkString(",")}")
    }
  }

  private def tree(reply: Reply, off: Int, len: Int): (JsonNode, String) = {
    val n = Json.mapper.readTree(reply.body, off, len)
    (n, Option(n.get("type")).map(_.asText).getOrElse(""))
  }

  /** Stream and data hash of a RECORD line, read without building a tree. */
  private def record(reply: Reply, off: Int, len: Int, airbyte: Boolean): (String, Long) =
    Util.at(Json.mapper.getFactory.createParser(reply.body, off, len)) { j =>
      var stream = ""
      var hash = 0L
      while (j.nextToken() == JsonToken.FIELD_NAME) {
        val k = j.currentName
        j.nextToken()
        if (airbyte && k == "record")
          while (j.nextToken() == JsonToken.FIELD_NAME) {
            val k2 = j.currentName
            j.nextToken()
            if (k2 == "stream") stream = j.getText
            else if (k2 == "data") hash = Util.jsonHash(j)
            else j.skipChildren()
          }
        else if (!airbyte && k == "stream") stream = j.getText
        else if (!airbyte && k == "record") hash = Util.jsonHash(j)
        else j.skipChildren()
      }
      (stream, hash)
    }

  /** Streams through the output once, keeping per-stream counters only.
    * Lines that start as a RECORD are read without building a tree, the
    * rest as trees.
    */
  private def verifyRead(p: Plan, t: Tenant, states: Map[String, JsonNode],
      reply: Reply): Either[String, (Long, Map[String, String])] = {
    val airbyte = p.dialect == "airbyte"
    val count = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val sum = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val lastRecord = scala.collection.mutable.Map[String, Int]()
    val firstRecord = scala.collection.mutable.Map[String, Int]()
    val schemaAt = scala.collection.mutable.Map[String, Int]()
    val stateAt = scala.collection.mutable.Map[String, Seq[Int]]().withDefaultValue(Nil)
    val newStates = scala.collection.mutable.Map[String, String]()
    var stateLines = 0
    var lastState = -1
    var lastNonLog = -1
    var error = ""
    def addRecord(s: String, h: Long, i: Int): Unit = {
      count(s) += 1
      sum(s) += h
      firstRecord.getOrElseUpdate(s, i)
      lastRecord(s) = i
    }
    for (((off, len), i) <- reply.lines.filter(_._2 > 0).zipWithIndex) {
      val fast = len > RecordPrefix.length &&
        java.util.Arrays.equals(reply.body, off, off + RecordPrefix.length, RecordPrefix, 0, RecordPrefix.length)
      val (l, tpe) = if (fast) (null, "RECORD") else tree(reply, off, len)
      if (tpe != "LOG") lastNonLog = i
      tpe match {
        case "RECORD" if fast =>
          val (s, h) = record(reply, off, len, airbyte)
          addRecord(s, h, i)
        case "RECORD" =>
          if (airbyte) addRecord(l.at("/record/stream").asText, Util.jsonHash(l.at("/record/data")), i)
          else addRecord(l.path("stream").asText, Util.jsonHash(l.path("record")), i)
        case "SCHEMA" => schemaAt.getOrElseUpdate(l.get("stream").asText, i)
        case "STATE" =>
          stateLines += 1
          lastState = i
          val data = if (airbyte) l.at("/state/data") else l.get("value")
          data.properties().asScala.foreach { e =>
            stateAt(e.getKey) = stateAt(e.getKey) :+ i
            newStates(e.getKey) = Json.write(e.getValue)
          }
        case "LOG" if Set("ERROR", "FATAL").contains(l.at("/log/level").asText("")) =>
          if (error.isEmpty) error = s"LOG ${l.at("/log/message").asText}"
        case _ => ()
      }
    }
    if (error.nonEmpty) return Left(error)
    val problems = Streams.names.flatMap { s =>
      val fromSec = states.get(s).flatMap(st => Option(st.get("To")))
        .map(n => Instant.parse(n.asText).getEpochSecond)
        .getOrElse(p.now.minusSeconds(BenchConnector.historySeconds).getEpochSecond)
      val (n, h) = expected(t.name, s, fromSec, p.now.getEpochSecond)
      Seq(
        if (count(s) != n) Some(s"$s: ${count(s)} records, origin window has $n") else None,
        if (count(s) == n && sum(s) != h) Some(s"$s: record checksum differs from the origin window") else None,
        newStates.get(s) match {
          case Some(js) if Json.parse(js).path("To").asText("") == p.now.toString => None
          case Some(js) => Some(s"$s: STATE $js, issued now ${p.now}")
          case None => Some(s"$s: no STATE")
        },
        if (stateAt(s).exists(i => lastRecord.get(s).exists(_ > i))) Some(s"$s: STATE before its records") else None,
        if (!airbyte && firstRecord.get(s).exists(r => schemaAt.get(s).forall(_ > r)))
          Some(s"$s: RECORD before SCHEMA") else None,
        if (!airbyte && stateAt(s).size != 1) Some(s"$s: ${stateAt(s).size} STATE lines") else None
      ).flatten
    }
    val extra = count.keySet.diff(Streams.names.toSet).map(s => s"unknown stream $s")
    val airbyteEnd =
      if (!airbyte) Nil
      else if (stateLines != 1) Seq(s"$stateLines STATE lines, want exactly one")
      else if (lastNonLog != lastState) Seq("output does not end with STATE")
      else Nil
    val all = problems ++ extra ++ airbyteEnd
    if (all.isEmpty) Right((count.values.sum, newStates.toMap)) else Left(all.mkString("; "))
  }
}

object SyncWorkload {
  private val RecordPrefix = "{\"type\":\"RECORD\"".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
}

/** One request to make: command, dialect and logical now. */
final case class Plan(cmd: String, dialect: String, now: Instant)

/** Writer that keeps only counts: characters and RECORD lines. */
final class CountingWriter extends java.io.Writer {
  var chars = 0L
  var records = 0L
  private val tag = "{\"type\":\"RECORD\""
  private var col = 0 // position within the current line, up to tag.length
  private var matching = true
  override def write(cbuf: Array[Char], off: Int, len: Int): Unit = {
    chars += len
    var i = off
    while (i < off + len) {
      val c = cbuf(i)
      if (c == '\n') { col = 0; matching = true }
      else if (col < tag.length) {
        if (matching && c != tag.charAt(col)) matching = false
        col += 1
        if (col == tag.length && matching) records += 1
      }
      i += 1
    }
  }
  override def flush(): Unit = ()
  override def close(): Unit = ()
}
