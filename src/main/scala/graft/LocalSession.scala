package graft

import org.apache.spark.sql.SparkSession

/** One session factory for the harness mains (Bench, BenchScale,
  * BenchOne, Explain, ...) and the perfbench gate workload, so their
  * timings and plans come from identical configuration — a config added
  * for benchmarking that didn't reach a drill-down main would make its
  * numbers non-comparable.
  */
object LocalSession {
  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE initial partitions = cores (a no-op vs shuffle.partitions):
      // the canonical "start high, let AQE coalesce" advice was A/B-measured on the
      // 1000×-tier MinHash (the repo's biggest single exchange, 5.24 GB)
      // and LOST on deterministic metrics — 8×cores initial partitions
      // INCREASED shuffle bytes 4.5% and total spill 72% (the dominant
      // spills are ObjectHashAggregate sort-fallbacks whose volume more
      // partitions don't shrink, while extra partition boundaries add
      // write-path overhead). Map-side task sizing is Dedup.spread's job;
      // re-evaluate this default only with a fresh A/B artifact.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Partition-discovery listing stays DRIVER-SIDE up to this many paths
      // (default 32 launches a distributed listing JOB). The vector index's
      // codes directory always holds ~k cell subdirectories — k is an INDEX
      // PARAMETER (64 at the gates' operating point), not a data-scale
      // quantity, so every codes read at any data size was paying one
      // pure-overhead listing job (measured r19: 2 jobs, ~0.1 s each, per
      // loadCodes/loadCodesFull call — the mutation gates read codes 4-6×
      // per rep). 128 keeps tiny-dir listings on the driver while a
      // production table with thousands of partition dirs still gets the
      // distributed listing.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .config("spark.ui.enabled", "false")
      // The status-store listeners run even with the UI disabled and retain
      // per-execution plan graphs/metrics; the defaults (1000 executions,
      // 1000 jobs/stages) let a multi-attempt bench pass — thousands of
      // small executions per attempt — grow the store until the heap is
      // mostly listener state. That both OOMs the run (r15: the 100x tier
      // died at attempt 3 with Xmx8g) and thrashes GC enough to dirty the
      // in-JVM calibration probes, which then FORCES the extra attempts:
      // a self-inflicted contention loop. Tight bounds keep the store a
      // rounding error at any attempt count.
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      // ContextCleaner reclaims unreferenced broadcasts/checkpoint RDDs only
      // at a driver GC; the default periodic-GC interval (30 min) is longer
      // than a whole bench pass, so off-heap/store blocks from dropped
      // frames pile up across attempts. 2 min bounds the pile without
      // measurable cost for the seconds-long timed reps — but a 1000×-tier
      // query RUNS ~2 min, so the periodic stop-the-world GC lands inside
      // it.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
