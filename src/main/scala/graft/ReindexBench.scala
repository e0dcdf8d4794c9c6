package graft

import org.apache.spark.sql.functions._

import graft.operators.{PqParams, VectorIndex}

/** Dedicated A/B instrument for the STAGED-CORPUS reindex (VERDICT r18 #3):
  * [[VectorIndex.reindex]]'s train+encode chain used to re-run the full
  * vector-source scan + membership semi-join once per action (~5 corpus
  * passes); since r19 it projects (id, emb, meta) through the membership
  * join ONCE into the staged `corpus_gen_N` directory (dropped by the
  * reindex's manifest commit) and feeds every train/encode action from
  * that narrow parquet.
  *
  * The instrument runs a full reindex against a persisted index at TWO
  * corpus scales — the sf0.1 source and the synthesized 1000× tier — and
  * reports wall seconds plus TASK INPUT BYTES (host-independent: the byte
  * count is a property of the plan, not the weather). The 100 TB argument
  * is the growth law: pre-r19 input bytes grow as ~5× the corpus per
  * reindex; staged input bytes grow as ~1 full corpus + ~5 narrow staged
  * re-reads (2 of ~10 columns), so the saving widens with corpus size.
  * Run the same main from the previous round's HEAD for the other arm —
  * it only touches the public VectorIndex API.
  *
  * Usage (solo, like every bench):
  *   SPARK_GRAFT_SCALE_DIR=/tmp/graft_sf100 \
  *     sbt -batch "runMain graft.ReindexBench BENCH_rNN_reindex_tier.json"
  */
object ReindexBench {

  private val pq = PqParams(m = 4, subDim = 16, k = 16)

  def main(args: Array[String]): Unit = {
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf100")
    val nReps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "1000").toInt
    val artifact = args.headOption.getOrElse("BENCH_reindex_tier.json")
    val spark = LocalSession.build()
    spark.sparkContext.setLogLevel("WARN")
    BenchScale.synthesize(spark, smallDir, bigDir, nReps, Seq("embeddings"))
    // task input bytes plus the structural instrument beside them, the
    // Spark JOB COUNT per reindex (host-independent; local-mode
    // inputMetrics undercounts vectorized parquet data reads, so bytes are
    // a lower-bound proxy — the job structure is exact)
    val forensics = org.apache.spark.graftshim.StageForensics.install(spark.sparkContext)
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    Bench.calibrationProbe() // discard: probe-loop JIT warmup
    val probeBefore = Bench.settledProbe()
    final case class Arm(scale: String, sec: Double, bytes: Long, corpusBytes: Long,
        jobs: Long)
    val arms = Seq("sf01" -> smallDir, "tier1000x" -> bigDir).map { case (scale, dir) =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val corpusBytes = new java.io.File(s"$dir/embeddings.parquet") match {
        case f if f.isDirectory => f.listFiles().map(_.length).sum
        case f => f.length
      }
      val path = java.nio.file.Files.createTempDirectory("graft_reindex_ab").toString
      // base index build (untimed setup — both arms pay it identically)
      val quant = VectorIndex.train(emb, col("vec_id"), col("embedding"),
        kCells = 64, iters = 2, pq = pq)
      VectorIndex.write(quant,
        VectorIndex.encode(emb, col("vec_id"), col("embedding"), quant), path)
      spark.sparkContext.setJobDescription(s"reindex A/B: $scale")
      val s0 = forensics.snapshot(spark.sparkContext) // drains the listener bus
      val t0 = System.nanoTime()
      VectorIndex.reindex(spark, path, emb, col("vec_id"), col("embedding"),
        kCells = 64, iters = 2, pq = pq)
      val sec = (System.nanoTime() - t0) / 1e9
      val d = forensics.since(spark.sparkContext, s0) // drains the bus
      spark.sparkContext.setJobDescription(null)
      // sanity: the promoted generation answers a pruned search
      val n = VectorIndex.loadCodes(spark, path).count()
      require(n > 0, s"reindex A/B $scale: promoted index is empty")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      Arm(scale, sec, d.getOrElse("input_bytes", 0L), corpusBytes, d.getOrElse("jobs", 0L))
    }
    val probeAfter = Bench.settledProbe()
    val json =
      s"""{"metric":"reindex_tier","unit":"sec","calibration":{"before":${fmt(probeBefore)},"after":${fmt(probeAfter)}},""" +
        s""""arms":{${arms.map(a =>
          s""""${a.scale}":{"sec":${fmt(a.sec)},"input_bytes":${a.bytes},"corpus_bytes":${a.corpusBytes},"jobs":${a.jobs},"passes":${fmt(a.bytes.toDouble / math.max(1L, a.corpusBytes))}}""").mkString(",")}}}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Path.of(artifact), json + "\n")
    spark.stop()
  }
}
