package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, LocalSession, SparkEntry}

/** Listener state for the gate that is running now. */
final class GateStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var scanBytes = 0L
  var planningMs = 0L
  val jobStart = mutable.Map[Int, Long]()
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]() // epoch ms
  val phases = mutable.ArrayBuffer[(String, Long, Long)]() // epoch ms
}

/** Attributes Spark jobs, tasks and executed query plans to the current
  * gate. Gates run one at a time and the listener bus is drained after
  * each, so "current" is exact.
  */
final class GateListener(full: Boolean) extends SparkListener with QueryExecutionListener {
  @volatile var current: GateStats = _

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = current
    if (g != null) g.synchronized { g.jobs += 1; g.jobStart(e.jobId) = e.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = current
    if (g != null) g.synchronized {
      g.jobStart.remove(e.jobId).foreach(s => g.jobIntervals += ((s, e.time)))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = current
    if (full && g != null && e.taskMetrics != null) g.synchronized {
      g.tasks += 1
      g.cpuNs += e.taskMetrics.executorCpuTime
      g.gcMs += e.taskMetrics.jvmGCTime
      g.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val g = current
    if (full && g != null) g.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        g.planningMs += p.durationMs
        g.phases += ((name, p.startTimeMs, p.endTimeMs))
      }
      g.scanBytes += scans(qe.executedPlan).map(_.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
    }
  }

  /** File scans of a plan, looking through adaptive plans and stages. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}

/** One gate's timed run. */
final case class GateRun(gate: String, write: Boolean, buildNs: Long, execNs: Long,
    startMs: Double, endMs: Double, stats: GateStats, fs: (Long, Long, Long)) {
  def wallNs: Long = buildNs + execNs
}

/** A fixed mix of analytics gates from `SparkEntry.queries` in one local
  * session: one VectorIndex mutation (a persisted upsert) next to read
  * gates over columnar scans and the index. Each gate is built and
  * materialized the way `graft.Bench` times it. An untimed first pass checks
  * every gate's (row count, order-independent hash) against the goldens
  * and warms the JIT; timed passes repeat until `seconds` have passed, at
  * least two, so that each gate's figure is a median of two runs or more.
  *
  * The inputs are the fixed sf0.001 tables the goldens were checked on
  * (against DuckDB), and the gates run in a fixed order, so the seed
  * changes nothing here.
  */
final class GateWorkload(dataDir: String, goldensPath: Path, seconds: Int,
    traced: Boolean, runDir: Path, processStartNs: Long) {

  private val writes = Seq("ann_ivfpq_upsert")
  private val reads = Seq("ann_ivfpq_adc", "q_profile_columns", "q1_pricing_summary",
    "q5_local_supplier", "q18_large_orders", "q21_waiting_suppliers", "q_window_ranks",
    "q_session_stats", "sink_airbyte_envelope", "sink_singer_envelope")
  private val order = writes ++ reads

  /** Row count and an order-independent hash of every row, columns taken
    * in name order.
    */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("0"))
  }

  /** (write ops, read ops, bytes written) on the local file system so far;
    * the op counts come from [[CountingFileSystem]] when it is installed.
    */
  private def fsStats(): (Long, Long, Long) = {
    val bytes = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
      .filter(_.getScheme == "file")
      .map(s => Option(s.getLong("bytesWritten")).map(_.longValue).getOrElse(0L)).sum
    (CountingFileSystem.writeOps.get, CountingFileSystem.readOps.get, bytes)
  }

  private def epochMs(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1e3 + t.getNano / 1e6
  }

  private def runGate(spark: SparkSession, listener: GateListener, gate: String): GateRun = {
    val stats = new GateStats
    PerfbenchBus.drain(spark.sparkContext)
    listener.current = stats
    val fs0 = fsStats()
    val startMs = epochMs()
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(gate)(spark, dataDir)
    val t1 = System.nanoTime()
    Bench.materialize(df)
    val t2 = System.nanoTime()
    val endMs = epochMs()
    val fs1 = fsStats()
    Bench.releaseCheckpoints(df)
    PerfbenchBus.drain(spark.sparkContext)
    listener.current = null
    GateRun(gate, writes.contains(gate), t1 - t0, t2 - t1, startMs, endMs, stats,
      (fs1._1 - fs0._1, fs1._2 - fs0._2, fs1._3 - fs0._3))
  }

  def run(): Outcome = {
    val spark = LocalSession.build()
    try measure(spark) finally spark.stop()
  }

  private def measure(spark: SparkSession): Outcome = {
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0L
    // Untimed check pass: goldens, and the JIT/codegen warm-up. Each gate
    // is materialized before it is fingerprinted, so the timed runs find
    // the code for exactly their plans already generated and compiled.
    val goldens = graft.core.Json.mapper.readTree(Files.readString(goldensPath)).properties().asScala
      .map(e => e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)).toMap
    val prints = mutable.Map[String, (Long, String)]()
    order.foreach { gate =>
      attempted += 1
      val c0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(gate)(spark, dataDir)
        Bench.materialize(df)
        prints(gate) = fingerprint(df)
        Bench.releaseCheckpoints(df)
        (prints(gate), goldens.get(gate)) match {
          case (got, Some(want)) if got == want => ()
          case (got, want) => failures += s"$gate: got (rows, hash) $got, golden $want"
        }
      } catch { case e: Exception => failures += s"$gate: $e" }
      System.err.println(f"perfbench: check $gate ${Util.ms(System.nanoTime() - c0)}%.1f ms")
    }
    val rows = prints.map { case (g, (n, _)) => g -> n }
    val setupS = (System.nanoTime() - processStartNs) / 1e9

    // Timed passes. A traced run runs every gate twice in a row, once with
    // the job-start listener only and once with the full layer listener,
    // alternating which goes first, so the two sides warm up alike.
    val light = new GateListener(full = false)
    spark.sparkContext.addSparkListener(light)
    val heavy = if (!traced) None else {
      val h = new GateListener(full = true)
      spark.sparkContext.addSparkListener(h)
      spark.listenerManager.register(h)
      Some(h)
    }
    val runs = passes(spark, light +: heavy.toSeq, failures, attempted += _)
    val e2e = endToEnd(runs.collect { case (0, r) => r }, rows) + ("setup_s" -> Metric(setupS, "s"))
    val tracedRuns = runs.collect { case (1, r) => r }
    if (traced) writeTrace(tracedRuns)
    val (layers, tracedE2e) =
      if (traced) (perLayer(tracedRuns), endToEnd(tracedRuns, rows)) else (Map.empty[String, Metric], Map.empty[String, Metric])
    Outcome(e2e, layers, tracedE2e, attempted, failures.size, failures.toSeq)
  }

  /** Whole passes over the mix until `seconds` have passed and at least
    * two ran; each gate runs once per listener, tagged with the listener's
    * index.
    */
  private def passes(spark: SparkSession, listeners: Seq[GateListener],
      failures: mutable.ArrayBuffer[String], attempt: Long => Unit): Seq[(Int, GateRun)] = {
    val out = mutable.ArrayBuffer[(Int, GateRun)]()
    val deadline = System.nanoTime() + seconds * 1000000000L
    var n = 0
    do {
      n += 1
      order.zipWithIndex.foreach { case (gate, i) =>
        val modes = listeners.indices
        (if (i % 2 == 0) modes else modes.reverse).foreach { m =>
          attempt(1)
          try {
            val r = runGate(spark, listeners(m), gate)
            out += ((m, r))
            System.err.println(f"perfbench: listener $m $gate ${Util.ms(r.wallNs)}%.1f ms")
          } catch { case e: Exception => failures += s"$gate: $e" }
        }
      }
    } while (n < 2 || System.nanoTime() < deadline)
    out.toSeq
  }

  /** Per gate, the median over passes; then the workload's figures under
    * the names every workload reports: `read_p50_ms`/`read_p90_ms` over the
    * read gates' walls, `control_p50_ms` the write gate's wall,
    * `records_per_s` the read gates' result rows per second of their wall,
    * `first_record_ms` from a read gate's start to its first Spark job, and
    * `ops_per_s` gates per second of gate wall.
    */
  private def endToEnd(runs: Seq[GateRun], rows: collection.Map[String, Long]): Map[String, Metric] = {
    val perGate = runs.groupBy(_.gate).map { case (g, rs) =>
      g -> (Util.median(rs.map(r => Util.ms(r.wallNs))),
        Util.median(rs.map(r => r.stats.jobIntervals.map(_._1.toDouble).minOption.getOrElse(r.endMs) - r.startMs)))
    }
    val readMs = reads.flatMap(perGate.get).map(_._1)
    val writeMs = writes.flatMap(perGate.get).map(_._1)
    Map(
      "ops_per_s" -> Metric(runs.size / (runs.map(_.wallNs).sum / 1e9), "1/s"),
      "read_p50_ms" -> Metric(Util.median(readMs), "ms"),
      "read_p90_ms" -> Metric(Util.quantile(readMs, 0.9), "ms"),
      "control_p50_ms" -> Metric(Util.median(writeMs), "ms"),
      "records_per_s" -> Metric(reads.map(g => rows.getOrElse(g, 0L)).sum / (readMs.sum / 1e3), "1/s"),
      "first_record_ms" -> Metric(Util.median(reads.flatMap(perGate.get).map(_._2)), "ms"),
      // printed only: the same walls as sums, per gate class, and the
      // timed runs behind each per-gate median
      "read_gates_s" -> Metric(readMs.sum / 1e3, "s"),
      "write_gates_s" -> Metric(writeMs.sum / 1e3, "s"),
      "gate_samples" -> Metric(runs.size, "count"))
  }

  private def perLayer(runs: Seq[GateRun]): Map[String, Metric] = {
    val passes = runs.size.toDouble / order.size
    def per(kind: String, f: GateRun => Double): Double =
      runs.filter(r => r.write == (kind == "write")).map(f).sum / passes
    def jobUnionMs(r: GateRun) = Util.unionLength(r.stats.jobIntervals.toSeq).toDouble
    Seq("read", "write").flatMap { k => Seq(
      s"queries.build_s.$k" -> Metric(per(k, _.buildNs / 1e9), "s"),
      s"queries.exec_s.$k" -> Metric(per(k, _.execNs / 1e9), "s"),
      s"queries.jobs.$k" -> Metric(per(k, _.stats.jobs.toDouble), "count"),
      s"queries.tasks.$k" -> Metric(per(k, _.stats.tasks.toDouble), "count"),
      s"queries.planning_s.$k" -> Metric(per(k, _.stats.planningMs / 1e3), "s"),
      s"queries.driver_gap_s.$k" -> Metric(per(k, r => r.wallNs / 1e9 - jobUnionMs(r) / 1e3), "s"),
      s"queries.executor_cpu_s.$k" -> Metric(per(k, _.stats.cpuNs / 1e9), "s"),
      s"queries.gc_s.$k" -> Metric(per(k, _.stats.gcMs / 1e3), "s"),
      s"queries.shuffle_bytes.$k" -> Metric(per(k, _.stats.shuffleBytes.toDouble), "bytes"),
      s"queries.scan_bytes.$k" -> Metric(per(k, _.stats.scanBytes.toDouble), "bytes"))
    }.toMap ++ Map(
      "operators.fs_write_ops.write" -> Metric(per("write", _.fs._1.toDouble), "count"),
      "operators.fs_read_ops.write" -> Metric(per("write", _.fs._2.toDouble), "count"),
      "operators.fs_bytes_written.write" -> Metric(per("write", _.fs._3.toDouble), "bytes"),
      "trace.coverage" -> Metric(runs.map { r =>
        Util.unionLength(r.stats.jobIntervals.toSeq ++ r.stats.phases.map(p => (p._2, p._3))).toDouble
      }.sum / runs.map(r => (r.endMs - r.startMs).toLong).sum, "ratio"))
  }

  /** Per-gate values, then job and planning spans, one JSON line each. */
  private def writeTrace(runs: Seq[GateRun]): Unit = {
    val lines = runs.flatMap { r =>
      val s = r.stats
      Seq(s"""{"gate":"${r.gate}","write":${r.write},"build_ns":${r.buildNs},"exec_ns":${r.execNs},""" +
        s""""start_ms":${r.startMs},"end_ms":${r.endMs},"jobs":${s.jobs},"tasks":${s.tasks},""" +
        s""""executor_cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},"shuffle_bytes":${s.shuffleBytes},""" +
        s""""scan_bytes":${s.scanBytes},"planning_ms":${s.planningMs},"fs_write_ops":${r.fs._1},""" +
        s""""fs_read_ops":${r.fs._2},"fs_bytes_written":${r.fs._3}}""") ++
        s.jobIntervals.map { case (a, b) => s"""{"gate":"${r.gate}","span":"queries.job","start_ms":$a,"end_ms":$b}""" } ++
        s.phases.map { case (n, a, b) => s"""{"gate":"${r.gate}","span":"queries.planning.$n","start_ms":$a,"end_ms":$b}""" }
    }
    Files.createDirectories(runDir)
    Files.write(runDir.resolve("trace.jsonl"), lines.asJava)
  }
}
