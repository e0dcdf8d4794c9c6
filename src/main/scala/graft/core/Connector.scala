package graft.core

import java.io.Writer
import java.util.concurrent.atomic.AtomicReference

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.sources.{HttpClient, PaginatedStream}

/** Source definition + four-command lifecycle (reference `sourcedef.go`,
  * `proto.go:119-126`): `spec`, `check`, `discover`, `read`.
  *
  * Two read surfaces share the same runners:
  *  - protocol path: records stream straight to a [[ProtoWriter]] as NDJSON
  *    (CLI/golden-test parity with the reference);
  *  - Spark path: [[Connector.readDataFrames]] turns each stream into a
  *    `DataFrame` with its *declared* schema (never inferred), the engine's
  *    center of gravity for analytics.
  */
trait HttpRunner extends Serializable {
  /** Build the page loop for one sync, given config + prior cursor state
    * (reference: connector `Run` building requests from `state.To`,
    * `integrations/shopify/shopify.go:39-64`).
    */
  def stream(config: Option[JsonNode], state: Option[JsonNode]): PaginatedStream

  /** Cursor to persist after a *successful* sync; None = full-refresh stream.
    * Ordering guarantee (SURVEY §7 hard part a): the engine calls this only
    * after the stream's records are fully written.
    */
  def newState(config: Option[JsonNode], old: Option[JsonNode]): Option[String] = None
}

/** Push-style manual runner (reference `ManualContext`, `backend.go:9-48`):
  * opens arbitrary streams imperatively — e.g. one fetch feeding several
  * streams.
  */
trait ManualRunner extends Serializable {
  def run(ctx: ManualContext): Unit
}
trait ManualContext {
  def client: HttpClient
  def config: Option[JsonNode]
  /** Open (or get) a push handle for a stream declared on the source. */
  def stream(name: String): ManualStream
}
trait ManualStream {
  def emit(recordJson: String): Unit
  def emitState(stateJson: String): Unit
}

/** Database-backed stream (reference Db stub, `sourcedef.go:91-101`): on
  * Spark this is native `spark.read.jdbc`. `partitioning` opts into the
  * parallel read — N executor-side range queries over `(column, lower,
  * upper)` instead of one connection — the shape that scales a large table
  * scan across the cluster; leave None for small dimension tables.
  */
final case class DbStream(
    url: String,
    table: String,
    properties: Map[String, String] = Map.empty,
    partitioning: Option[DbPartitioning] = None)

final case class DbPartitioning(column: String, lower: Long, upper: Long, numPartitions: Int)

final case class SourceDef(
    name: String,
    docsUrl: String = "",
    configSchema: String = """{"type":"object","properties":{}}""",
    httpStreams: Seq[(StreamDef, HttpRunner)] = Nil,
    fileStreams: Seq[(StreamDef, String => String)] = Nil, // name → path builder from sfDir/baseDir
    dbStreams: Seq[(StreamDef, DbStream)] = Nil,
    manualStreams: Seq[StreamDef] = Nil,
    manualRunners: Seq[ManualRunner] = Nil,
    concurrency: Int = 1,
    requestsPerSec: Option[Double] = None) {

  /** One shared limiter per connector PER JVM: every stream, every
    * concurrent sync, and every Spark task copy of this connector draws
    * from the same budget (SURVEY §7 hard part b — the reference sidesteps
    * this with concurrency=1). Resolved from the keyed per-JVM registry so
    * a SourceDef deserialized into a task closure still shares the budget
    * with its siblings ([[graft.sources.RateLimiter.forKey]]).
    */
  @transient lazy val rateLimiter: Option[graft.sources.RateLimiter] =
    requestsPerSec.map(r => graft.sources.RateLimiter.forKey(name, r, burst = 4))

  /** Wrap a transport with this connector's pacing (identity when no
    * budget is configured).
    */
  def paced(client: HttpClient): HttpClient =
    rateLimiter.fold(client)(l => new graft.sources.RateLimitedClient(client, l))

  /** Pacing against ONE SHARE of the cluster-wide budget — used by
    * partitioned (DSv2) readers, where the driver knows how many readers it
    * planned and each must draw `requestsPerSec / nShares` so the cluster
    * aggregate honors the configured rate no matter where the partitions
    * land ([[graft.sources.RateLimiter.forShare]]).
    */
  def pacedShare(client: HttpClient, shareIndex: Int, nShares: Int): HttpClient =
    requestsPerSec.fold(client) { r =>
      new graft.sources.RateLimitedClient(client,
        graft.sources.RateLimiter.forShare(name, r, burst = 4, shareIndex, nShares))
    }

  def streamDefs: Seq[StreamDef] =
    httpStreams.map(_._1) ++ fileStreams.map(_._1) ++ dbStreams.map(_._1) ++ manualStreams

  def supportsIncremental: Boolean = streamDefs.exists(_.incremental)

  /** ConnectorSpecification JSON (reference `EmitSpec`,
    * `sourcedef.go:120-126`, `proto.go:299-303`).
    */
  def spec: String =
    s"""{"documentationUrl":${Json.write(Json.mapper.valueToTree(docsUrl))},"supportsIncremental":$supportsIncremental,"connectionSpecification":$configSchema}"""
}

object Connector {

  /** Dispatch one lifecycle command (reference `handleCmd`,
    * `sourcedef.go:47-60`).
    */
  /** Standard transport stack for a connector: rate limiting wraps the
    * INNERMOST transport so every physical attempt — including retries,
    * which fire exactly when the API is already throttling — draws a token;
    * retry/backoff sits outside the budget.
    */
  def transport(src: SourceDef, base: HttpClient): HttpClient =
    new graft.sources.RetryingClient(src.paced(base))

  /** Transport for one planned read partition of `nShares`: retry OUTSIDE
    * share-split pacing, so every physical attempt draws a token from this
    * partition's slice of the cluster-wide budget.
    */
  def transportShare(src: SourceDef, base: HttpClient,
      shareIndex: Int, nShares: Int): HttpClient =
    new graft.sources.RetryingClient(src.pacedShare(base, shareIndex, nShares))

  def handle(src: SourceDef, cmd: Cmd, rc: RunConfig, out: Writer, client: HttpClient,
      clock: () => Long = () => System.currentTimeMillis()): Unit = {
    val w = ProtoWriter(rc.format, out, clock)
    cmd match {
      case Cmd.Spec => w.writeSpec(src.spec)
      case Cmd.Check => check(src, rc, w, client)
      case Cmd.Discover =>
        src.streamDefs.foreach(w.openStream)
        w.close(Cmd.Discover)
      case Cmd.Read =>
        read(src, rc, w, client)
        w.close(Cmd.Read)
    }
  }

  /** Sentinel that aborts a manual runner after its first emit during
    * `check` — the engine dual of the reference validator's panic sentinel
    * (`proto.go:220-232`): the probe only needs to see ONE record arrive.
    */
  private object ProbeDone extends scala.util.control.ControlThrowable

  /** Probe: one real request per stream, then short-circuit (reference
    * validator sentinel, `proto.go:220-232`, `sourcedef.go:128-142`).
    * EVERY registered runner is validated — http and manual alike
    * (reference `check` walks all runners) — so a manual-only connector
    * cannot report SUCCEEDED without a single successful fetch.
    */
  private def check(src: SourceDef, rc: RunConfig, w: ProtoWriter, client: HttpClient): Unit = {
    val httpFailed = src.httpStreams.iterator.flatMap { case (sd, runner) =>
      try {
        runner.stream(rc.config, rc.states.get(sd.name))
          .copy(maxPages = 1).fetch(client).take(1).toList
        None
      } catch { case e: Throwable => Some(s"${sd.name}: ${e.getMessage}") }
    }.toList
    val transport = client
    val manualFailed = src.manualRunners.zipWithIndex.flatMap { case (runner, i) =>
      val probeCtx = new ManualContext {
        override val client: HttpClient = transport
        override val config: Option[JsonNode] = rc.config
        override def stream(name: String): ManualStream = new ManualStream {
          override def emit(recordJson: String): Unit = throw ProbeDone
          override def emitState(stateJson: String): Unit = ()
        }
      }
      try { runner.run(probeCtx); None }
      catch {
        case ProbeDone => None // first emit arrived — probe succeeded
        case e: Throwable => Some(s"manual[$i]: ${e.getMessage}")
      }
    }
    val failed = httpFailed ++ manualFailed
    w.writeStatus(failed.isEmpty, failed.mkString("; "))
  }

  /** CATALOG selection predicate — applies to EVERY stream kind (http,
    * file, db, manual); None = all selected.
    */
  private def isSelected(rc: RunConfig)(name: String): Boolean =
    rc.selectedStreams.forall(_.contains(name))

  private def selected(src: SourceDef, rc: RunConfig): Seq[(StreamDef, HttpRunner)] =
    src.httpStreams.filter { case (sd, _) => isSelected(rc)(sd.name) }

  /** Worker threads for [[read]], shared by every sync in the JVM, so a
    * sync neither starts threads nor leaves exiting ones behind to compete
    * with the next request. Idle workers end after 60 s; daemon, so they
    * never hold the JVM open.
    */
  private val fetchPool = java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-fetch"); t.setDaemon(true); t
  }

  /** Full sync: streams run concurrently bounded by `src.concurrency`
    * (reference errgroup + semaphore throttler, `sourcedef.go:153-186`):
    * that many workers on the shared pool take the streams in order.
    * A runner error becomes an in-band LOG and the sync proceeds (reference
    * error trapping, `proto.go:314-332`). State is emitted only after the
    * stream's records are fully written.
    */
  private def read(src: SourceDef, rc: RunConfig, w: ProtoWriter, httpClient: HttpClient): Unit = {
    val streams = selected(src, rc)
    streams.foreach { case (sd, _) => w.openStream(sd) }
    // manual streams are opened UP FRONT too: the Singer dialect emits each
    // stream's SCHEMA from openStream, and a RECORD with no preceding
    // SCHEMA is rejected by real Singer targets; Airbyte's openStream is a
    // registration no-op, so this is dialect-safe
    val manualOk = isSelected(rc) _
    src.manualStreams.filter(sd => manualOk(sd.name)).foreach(w.openStream)
    val lock = new Object
    val firstError = new AtomicReference[Throwable]()
    def sync(sd: StreamDef, runner: HttpRunner): Unit =
      try {
        if (firstError.get() != null) return // first error cancels the rest
        val st = rc.states.get(sd.name)
        val it = runner.stream(rc.config, st).fetch(httpClient)
        it.foreach(rec => lock.synchronized(w.writeRecord(sd.name, rec)))
        runner.newState(rc.config, st)
          .foreach(s => lock.synchronized(w.writeState(sd.name, s)))
      } catch {
        case e: Throwable =>
          firstError.compareAndSet(null, e)
          lock.synchronized(w.writeLog("ERROR", s"${sd.name}: ${e.getMessage}"))
      }
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[(StreamDef, HttpRunner)]()
    streams.foreach(pending.add)
    val workers = Seq.fill(math.min(math.max(1, src.concurrency), streams.size)) {
      fetchPool.submit(new Runnable {
        override def run(): Unit = {
          var next = pending.poll()
          while (next != null) { sync(next._1, next._2); next = pending.poll() }
        }
      })
    }
    workers.foreach(_.get())
    // manual (push) runners, driver-side (reference backend.go:9-48)
    if (src.manualRunners.nonEmpty) {
      val ctx = new ManualContext {
        override val client: HttpClient = httpClient
        override val config: Option[JsonNode] = rc.config
        override def stream(name: String): ManualStream =
          // a CATALOG-deselected manual stream swallows its emissions —
          // the runner may push to several streams and must not break
          // when one is deselected, but deselected records must not leak
          if (!manualOk(name)) new ManualStream {
            override def emit(recordJson: String): Unit = ()
            override def emitState(stateJson: String): Unit = ()
          } else new ManualStream {
            override def emit(recordJson: String): Unit =
              lock.synchronized(w.writeRecord(name, recordJson))
            override def emitState(stateJson: String): Unit =
              lock.synchronized(w.writeState(name, stateJson))
          }
      }
      src.manualRunners.foreach { r =>
        try r.run(ctx)
        catch { case e: Throwable => lock.synchronized(w.writeLog("ERROR", e.getMessage)) }
      }
    }
  }

  /** Spark read surface: every (selected) stream as a DataFrame with its
    * DECLARED schema. The HTTP page loop runs INSIDE the stream's read task
    * (`mapPartitions` over a one-row range): pages stream through the task's
    * iterator into the JSON parser, so no page chain is ever materialized
    * driver-side — a million-page chain flows through bounded memory. The
    * full transport stack (retry OUTSIDE pacing; per-JVM budget keyed by
    * connector name, [[graft.sources.RateLimiter.forKey]]) is rebuilt in the
    * task from the BASE `client`. Chains are sequential by nature (SURVEY §2
    * S3-S5/S7) → one partition per stream; the DSv2 source (`graft-http`)
    * additionally range-splits offset pagination across partitions. File
    * streams are native `spark.read` (S11 — free on Spark).
    *
    * @param client BASE transport (no retry/pacing wrappers — the stack is
    *               built per task); must be serializable, as `HttpClient` is.
    */
  def readDataFrames(spark: SparkSession, src: SourceDef, rc: RunConfig,
      client: HttpClient, baseDir: String = ""): Map[String, DataFrame] = {
    // The task closures capture a STRIPPED copy of the def: transport()
    // only needs (name, requestsPerSec), and shipping every other stream's
    // runners per task would both bloat the closure and force unrelated
    // runners to be serializable.
    val srcCap = src.copy(httpStreams = Nil, fileStreams = Nil, dbStreams = Nil,
      manualStreams = Nil, manualRunners = Nil)
    val base = client
    val http = selected(src, rc).map { case (sd, runner) =>
      val configStr = rc.config.map(Json.write)
      val stateStr = rc.states.get(sd.name).map(Json.write)
      val records: Dataset[String] = spark.range(0, 1, 1, numPartitions = 1)
        .mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else runner.stream(configStr.map(Json.parse), stateStr.map(Json.parse))
            .fetch(Connector.transport(srcCap, base))
        }(org.apache.spark.sql.Encoders.STRING)
      sd.name -> spark.read.schema(sd.schema).json(records)
    }
    // file/db streams honor the CATALOG selection exactly like http streams
    // ("every (selected) stream" is the documented contract — a deselected
    // db stream must not issue JDBC work once acted on)
    val files = src.fileStreams.filter { case (sd, _) => isSelected(rc)(sd.name) }
      .map { case (sd, pathOf) =>
        sd.name -> spark.read.schema(sd.schema).parquet(pathOf(baseDir))
      }
    // Db streams: native JDBC relation. Projection to the DECLARED columns is
    // pushed into the database's SELECT by Spark's JDBC source (as are simple
    // filters); with `partitioning` set the scan issues numPartitions range
    // queries in parallel from the executors (S11 scale path).
    val dbs = src.dbStreams.filter { case (sd, _) => isSelected(rc)(sd.name) }
      .map { case (sd, db) =>
      val props = new java.util.Properties()
      db.properties.foreach { case (k, v) => props.setProperty(k, v) }
      val df = db.partitioning match {
        case Some(p) =>
          spark.read.jdbc(db.url, db.table, p.column, p.lower, p.upper, p.numPartitions, props)
        case None => spark.read.jdbc(db.url, db.table, props)
      }
      // Project AND cast to the declared schema — the JDBC relation infers
      // types from DB metadata (INTEGER vs declared LongType etc.), and the
      // contract of this surface is the DECLARED schema, never the inferred
      // one (same guarantee spark.read.schema gives the other stream kinds).
      sd.name -> df.select(sd.schema.fields.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)
    }
    (http ++ files ++ dbs).toMap
  }
}
