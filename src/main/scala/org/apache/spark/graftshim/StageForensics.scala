package org.apache.spark.graftshim

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** The harness's one task/job listener: what a query read and what its
  * wall time was SPENT ON. Task counters: executor run vs CPU time (their
  * gap is IO wait / scheduling / lock, the thing a fixed-work CPU probe
  * cannot see), shuffle write time (the direct disk-write-wait meter),
  * fetch wait, spill bytes, GC, input bytes. Job counters: a `jobs` count,
  * plus one [[StageForensics.JobSpan]] per finished job so a multi-job
  * operator's wall can be split into its jobs and the driver-side gaps
  * between them (planning, fs metadata work, manifest fsyncs).
  *
  * `input_bytes` is `TaskMetrics.inputMetrics.bytesRead` summed over ALL
  * tasks, eager sub-jobs included. It is a LOWER BOUND: vectorized parquet
  * reads undercount it (a full scan of a 0.8 MB parquet corpus registered
  * 2 KB in local mode, OPTIMIZATION_r19.md), so it shows a plan's read
  * structure, not its scanned volume. Job counts are exact.
  *
  * Built for the "CPU probes clean, shuffle-heavy gate slow" adjudications:
  * a gate whose wall time moves while cpu_ms holds and shuffle_write_ms
  * balloons is disk weather, measured instead of inferred from cross-gate
  * ratio comparisons.
  *
  * Lives under `org.apache.spark` because exact deltas need the
  * `private[spark]` listener-bus drain, and [[StageForensics.install]]'s
  * idempotence needs the bus's `private[spark]` listener lookup.
  */
class StageForensics extends SparkListener {
  import StageForensics.JobSpan

  private val sums = new ConcurrentHashMap[String, LongAdder]()
  private val started = new ConcurrentHashMap[Int, (Long, Int, String, Option[Long])]()
  private val spans = new ConcurrentLinkedQueue[JobSpan]()
  private def add(k: String, v: Long): Unit =
    sums.computeIfAbsent(k, _ => new LongAdder).add(v)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ms", m.executorCpuTime / 1000000L)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_ms", m.shuffleWriteMetrics.writeTime / 1000000L)
      add("shuffle_bytes_written", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_bytes_read",
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("mem_spill_bytes", m.memoryBytesSpilled)
      add("disk_spill_bytes", m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
    }
  }

  // Event times, not delivery times: the bus is asynchronous, so the
  // moment a callback runs can lag the job by the queue's backlog.
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.put(e.jobId, (e.time, e.stageInfos.size,
      e.stageInfos.lastOption.map(_.name.take(60)).getOrElse("?"),
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    add("jobs", 1L)
    Option(started.remove(e.jobId)).foreach { case (t0, stages, site, execId) =>
      spans.add(JobSpan(e.jobId, t0, e.time, stages, site, execId))
    }
  }

  /** Counter totals, exact as of call time (drains the async bus). */
  def snapshot(sc: SparkContext): Map[String, Long] = {
    sc.listenerBus.waitUntilEmpty()
    val it = sums.entrySet().iterator()
    var out = Map.empty[String, Long]
    while (it.hasNext) { val e = it.next(); out += e.getKey -> e.getValue.sum() }
    out
  }

  /** Counter deltas since an earlier [[snapshot]]. */
  def since(sc: SparkContext, before: Map[String, Long]): Map[String, Long] =
    snapshot(sc).map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  /** The jobs that finished since the last call, in end order (drains the
    * bus first, and hands each span out once).
    */
  def takeJobs(sc: SparkContext): Seq[JobSpan] = {
    sc.listenerBus.waitUntilEmpty()
    Iterator.continually(spans.poll()).takeWhile(_ != null).toVector
  }
}

object StageForensics {
  /** The metric keys [[StageForensics.snapshot]] may carry, in report order. */
  val Keys: Seq[String] = Seq("run_ms", "cpu_ms", "gc_ms", "shuffle_write_ms",
    "shuffle_bytes_written", "shuffle_bytes_read", "fetch_wait_ms",
    "mem_spill_bytes", "disk_spill_bytes", "input_bytes", "jobs")

  /** One finished Spark job: event times in epoch ms, its stage count, its
    * call site (the final stage's name) and the SQL execution it ran for
    * (`spark.sql.execution.id`; None for a bare RDD job). Every job of one
    * DataFrame action shares the id, AQE query-stage jobs included, whose
    * site names only the future that submitted them.
    */
  final case class JobSpan(id: Int, startMs: Long, endMs: Long, stages: Int, site: String,
      sqlExecutionId: Option[Long])

  /** The context's one forensics listener, registered on first use:
    * every caller on a context shares the same counters.
    */
  def install(sc: SparkContext): StageForensics = synchronized {
    sc.listenerBus.findListenersByClass[StageForensics]().headOption.getOrElse {
      val l = new StageForensics
      sc.addSparkListener(l)
      l
    }
  }
}
