package graft

import org.apache.spark.graftshim.StageForensics

/** Named artifact for the sf0.1 index-MUTATION gates (VERDICT r17 #5): the
  * fast-IO evidence for the upsert and append gates (r15: upsert 3.42 s /
  * append 1.80 s) existed only as an anonymous bench_history line; a claim
  * needs a named, committed artifact.
  *
  * These two gates are the suite's most fsync-bound (each rewrites index
  * bucket files and swaps a manifest), so their wall time tracks disk
  * weather more than any other gate — the artifact therefore stamps the
  * [[Bench.ioProbe]] bracket plus an `io_fast` verdict (both probes under
  * the fast-window line, default 0.1 s ≈ the ledger floor's neighborhood),
  * and the ladder re-draws until a fast window is caught. CPU probes and
  * per-rep stage forensics ride along so the draw is self-adjudicating.
  *
  * Usage (solo): `sbt -batch "runMain graft.MutationBench BENCH_rNN_mutation_gates.json"`
  */
object MutationBench {

  val Gates = Seq("ann_ivfpq_upsert", "ann_ivfpq_append")

  def main(args: Array[String]): Unit = {
    val artifact = args.headOption.getOrElse("BENCH_mutation_gates.json")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(3)
    val ioFastMax = sys.env.get("SPARK_GRAFT_IO_FAST_MAX")
      .flatMap(_.toDoubleOption).getOrElse(0.1)
    val spark = LocalSession.build()
    val sc = spark.sparkContext
    val metrics = StageForensics.install(sc)
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val fns = Gates.map(g => g -> SparkEntry.queries.getOrElse(g,
      sys.error(s"unknown gate '$g'")))

    Bench.calibrationProbe() // discard: probe-loop JIT warmup
    val cpuBefore = Bench.settledProbe()
    val ioBefore = Bench.settledIoProbe()
    // untimed warmup: codegen + the shared AnnFixtures index build — the
    // timed reps must measure the mutation, not fixture construction
    fns.foreach { case (_, fn) =>
      try { Bench.materialize(fn(spark, dir)); () }
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    val results = fns.map { case (name, fn) =>
      val repRows = (1 to reps).map { _ =>
        val s0 = metrics.snapshot(sc)
        val t0 = System.nanoTime()
        Bench.materialize(fn(spark, dir))
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        val s1 = metrics.snapshot(sc)
        (t, Bench.ForensicsKeys.map(k => s1.getOrElse(k, 0L) - s0.getOrElse(k, 0L)))
      }
      (name, repRows.map(_._1), repRows.map(_._2))
    }
    val cpuAfter = Bench.settledProbe()
    val ioAfter = Bench.settledIoProbe()
    val ioFast = math.max(ioBefore, ioAfter) < ioFastMax
    val qjson = results.map { case (n, ts, _) => s"\"$n\":${fmt(ts.min)}" }
      .mkString("{", ",", "}")
    val stage = results.map { case (n, _, fs) => n -> fs }.toMap
    val repsJson = results.map { case (n, ts, _) =>
      s"\"$n\":${ts.map(fmt).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val fkeys = Bench.ForensicsKeys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"mutation_gates","value":${fmt(results.map(_._2.min).sum)},""" +
      s""""unit":"sec","reps":$reps,"agg":"min","sf":"$dir",""" +
      s""""io_fast":$ioFast,"io_fast_max":${fmt(ioFastMax)},""" +
      s""""calibration":{"before":${fmt(cpuBefore)},"after":${fmt(cpuAfter)}},""" +
      s""""io_probe":${Bench.ioJson(ioBefore, ioAfter, Bench.ioQuietLedger())},""" +
      s""""queries":$qjson,"queries_reps":$repsJson,""" +
      s""""forensics_keys":$fkeys,"forensics":${Bench.forensicsJson(stage)}}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), json + "\n")
    catch { case _: Throwable => () }
    println(json)
    spark.stop()
  }
}
