package perfbench

import java.nio.file.{Files, Path, Paths}

final case class Metric(value: Double, unit: String)

/** What a workload measured: end-to-end metrics (untraced), per-layer
  * metrics and the end-to-end metrics again with tracing on (traced runs
  * only), and how many ops were attempted and failed.
  */
final case class Outcome(e2e: Map[String, Metric], layers: Map[String, Metric], traced: Map[String, Metric],
    attempted: Long, failed: Long, failures: Seq[String])

/** Benchmark entry point, normally started by `perfbench/run.py`.
  *
  * {{{
  *   perfbench.Main --workload sync_incremental|gate_mix
  *                  --seed N --seconds S --trace 0|1 --run-dir DIR
  *                  [--start-epoch-ns NS] [--data DIR] [--goldens FILE]
  * }}}
  *
  * Prints the host record and every metric as `metric <name> <value>
  * <unit>` lines, then one JSON result line last. Exits 1 when any op
  * failed or did not verify, and 3 without a result when a workload threw.
  */
object Main {

  /** Layers a workload does not exercise report 0 for that layer. */
  val perLayerUnits: Seq[(String, String)] = Seq(
    "server.read_self_ms" -> "ms", "server.control_self_ms" -> "ms",
    "server.bytes_out" -> "bytes",
    "core.handle_ms" -> "ms", "core.encode_ms" -> "ms", "core.records_out" -> "count",
    "core.bytes_out" -> "bytes", "core.control_parse_ms" -> "ms", "core.state_save_ms" -> "ms",
    "core.state_load_ms" -> "ms",
    "sources.http_get_ms" -> "ms", "sources.http_gets" -> "count", "sources.pages" -> "count",
    "sources.retries" -> "count", "sources.fetch_ms" -> "ms", "sources.parse_ms" -> "ms",
    "sources.rewrite_ms" -> "ms",
    "origin.page_ms" -> "ms", "origin.pages" -> "count") ++
    Seq("read", "write").flatMap(k => Seq(
      s"queries.build_s.$k" -> "s", s"queries.exec_s.$k" -> "s", s"queries.jobs.$k" -> "count",
      s"queries.tasks.$k" -> "count", s"queries.planning_s.$k" -> "s",
      s"queries.driver_gap_s.$k" -> "s", s"queries.executor_cpu_s.$k" -> "s",
      s"queries.gc_s.$k" -> "s", s"queries.shuffle_bytes.$k" -> "bytes",
      s"queries.scan_bytes.$k" -> "bytes")) ++
    Seq("operators.fs_write_ops.write" -> "count", "operators.fs_read_ops.write" -> "count",
      "operators.fs_bytes_written.write" -> "bytes",
      "trace.coverage" -> "ratio") ++
    timedMetrics.map { case (n, u) => s"trace.overhead.$n" -> u }

  /** End-to-end metrics measured in the timed phase. The result also
    * carries setup_s. Printed only: rss_peak_mb, since the JVM's heap
    * growth makes peak RSS vary ~20% between identical runs; failed_ratio,
    * which is 0 on every healthy run; and first_record_ms, a 3-5 ms
    * figure on sync_incremental whose median moved 15-30% between
    * identical runs with the host's load.
    */
  def timedMetrics: Seq[(String, String)] = Seq(
    "ops_per_s" -> "1/s", "read_p50_ms" -> "ms", "read_p90_ms" -> "ms",
    "control_p50_ms" -> "ms", "records_per_s" -> "1/s")

  def main(argv: Array[String]): Unit = {
    // Exit even when a workload throws: the frontend's and Spark's
    // non-daemon threads would otherwise keep the JVM alive.
    val code = try run(argv) catch { case e: Throwable => e.printStackTrace(); 3 }
    sys.exit(code)
  }

  private def run(argv: Array[String]): Int = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val runDir = Paths.get(args("run-dir")).toAbsolutePath
    Files.createDirectories(runDir)
    // Process start on the nanoTime clock: the launcher's wall-clock start
    // when given, so set-up time includes JVM start.
    val startNs = args.get("start-epoch-ns").map { s =>
      val now = java.time.Instant.now()
      System.nanoTime() - (now.getEpochSecond * 1000000000L + now.getNano - s.toLong)
    }.getOrElse(System.nanoTime())

    val outcome = workload match {
      case "sync_incremental" =>
        new SyncWorkload(seed, seconds, traced, runDir, startNs).run()
      case "gate_mix" =>
        new GateWorkload(Paths.get(args("data")).toAbsolutePath.toString,
          Paths.get(args("goldens")), seconds, traced, runDir, startNs).run()
      case other => sys.error(s"unknown workload '$other'")
    }
    val e2e = outcome.e2e + ("rss_peak_mb" -> Metric(Util.rssPeakMb(), "MB"))
    // Tracing overhead: traced minus untraced, per end-to-end metric.
    val layers = outcome.layers ++ timedMetrics.collect {
      case (n, u) if outcome.traced.contains(n) =>
        s"trace.overhead.$n" -> Metric(outcome.traced(n).value - e2e(n).value, u)
    }

    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    println(s"host nproc=${Runtime.getRuntime.availableProcessors} " +
      s"SPARK_GRAFT_CPUS=${sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset")} " +
      s"max_heap_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"jvm_args=${rt.getInputArguments.toArray.filter(a => a.toString.startsWith("-X")).mkString(",")} " +
      s"jdk=${System.getProperty("java.vm.name")}/${System.getProperty("java.runtime.version")} " +
      s"workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0}")
    outcome.failures.foreach(f => println(s"failure $f"))
    println(f"metric failed_ratio ${outcome.failed.toDouble / math.max(1L, outcome.attempted)}%.6f ratio")
    (e2e ++ layers).toSeq.sortBy(_._1).foreach { case (k, m) => println(s"metric $k ${m.value} ${m.unit}") }

    val reported =
      if (traced) perLayerUnits.map { case (n, u) => n -> layers.getOrElse(n, Metric(0.0, u)) }
      else ("setup_s" +: timedMetrics.map(_._1)).map(n => n -> e2e(n))
    // A metric with no verified sample is NaN; that is a failed run, and
    // its result says so with correct: false.
    val metrics = reported.map { case (n, m) =>
      val finite = !m.value.isNaN && !m.value.isInfinite
      require(finite || outcome.failed > 0, s"$n is ${m.value}")
      s""""$n":{"value":${if (finite) m.value else 0.0},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${outcome.failed == 0},"attempted":${outcome.attempted},""" +
      s""""failed":${outcome.failed},"metrics":$metrics}""")
    System.out.flush()
    if (outcome.failed == 0) 0 else 1
  }
}
