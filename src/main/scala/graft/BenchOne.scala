package graft

/** Time chosen registered gates against a data directory — the targeted
  * drill-down companion to [[Bench]]/[[BenchScale]]: when the growth gate
  * flags a query at a tier, this measures a candidate fix against the same
  * tier data without paying for the whole registry.
  *
  * Every rep is timed, rep 1 included, so rep 1 shows the cold
  * (codegen/classload) cost and later reps the steady state. Each rep
  * prints its STAGE FORENSICS (see
  * [[org.apache.spark.graftshim.StageForensics]]) — executor run vs CPU
  * time, shuffle write time, fetch wait, spill, GC, input bytes, job count
  * — and its Spark jobs: id, seconds, `gap` (driver-side dead time since
  * the previous job of the rep ended: planning, fs metadata work, manifest
  * fsyncs; 0 for the first job), stage count, call site and `sql_exec`,
  * the SQL execution id the job ran for (null for a bare RDD job): an AQE
  * query-stage job's site names only the future that submitted it, so
  * the id is what ties it to its query. CPU and
  * [[Bench.ioProbe]] fsync probes bracket the run, so a gate whose wall
  * time moves while cpu_ms holds and shuffle_write_ms balloons reads as
  * disk weather, measured rather than inferred. The index-mutation gates
  * are the suite's most fsync-bound: `BenchOne <dir> 3 ann_ivfpq_upsert
  * ann_ivfpq_append`.
  *
  * Usage: `sbt "runMain graft.BenchOne <dir> <reps> [gate ...]"` (all gates
  * when none are named). Prints JSON lines: the opening probes, one line
  * per rep, a min/median summary per gate, and the closing probes. Not a
  * round artifact.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchOne <dir> <reps> [gate ...]")
    val (dir, reps) = (args(0), args(1).toInt)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val gates = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query '$n' — keys: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")))
    val spark = LocalSession.build()
    // fmt (Locale.ROOT), not the f-interpolator: a comma-decimal JVM
    // locale would print invalid JSON (ADVICE r17)
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    Bench.calibrationProbe() // discard: probe-loop JIT warmup
    println(s"""{"io_probe_before":${fmt(Bench.settledIoProbe())},"cpu_probe":${fmt(Bench.settledProbe())}}""")
    gates.foreach { gate =>
      val g = Bench.timeGates(spark, dir, Seq(gate), reps).head
      g.reps.zipWithIndex.foreach { case (r, i) =>
        val stage = org.apache.spark.graftshim.StageForensics.Keys
          .map(k => s""""$k":${r.stage.getOrElse(k, 0L)}""").mkString("{", ",", "}")
        val jobs = r.jobs.zip(-1L +: r.jobs.map(_.endMs)).map { case (j, prevEnd) =>
          val gap = if (prevEnd < 0) 0L else math.max(0L, j.startMs - prevEnd)
          s"""{"id":${j.id},"sec":${fmt((j.endMs - j.startMs) / 1e3)},"gap":${fmt(gap / 1e3)},""" +
            s""""stages":${j.stages},"site":${graft.core.Json.quote(j.site)},""" +
            s""""sql_exec":${j.sqlExecutionId.fold("null")(_.toString)}}"""
        }.mkString("[", ",", "]")
        println(s"""{"query":"${g.name}","rep":${i + 1},"sec":${fmt(r.sec)},"stage_metrics":$stage,"jobs":$jobs}""")
      }
      println(s"""{"query":"${g.name}","dir":"$dir","min_sec":${fmt(g.min)},"median_sec":${fmt(g.median)},"reps":$reps}""")
    }
    println(s"""{"io_probe_after":${fmt(Bench.settledIoProbe())},"cpu_probe_after":${fmt(Bench.settledProbe())}}""")
    spark.stop()
  }
}
