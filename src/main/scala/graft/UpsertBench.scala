package graft

import org.apache.spark.sql.functions._

import graft.operators.{PqParams, VectorIndex}

/** Dedicated A/B measurement for the id→cell discovery sidecar (VERDICT
  * r15 #4 / r16 #2): a PRODUCTION-SHAPED change batch — a handful of ids
  * against a large corpus, the micro-batch steady state — applied to the
  * same persisted index twice, once discovering through the sidecar and
  * once through the full-codes scan (sidecar deleted).
  *
  * Two instruments, each emitted per corpus scale:
  *
  *   - DISCOVERY-ONLY: wall time + task input bytes of just the
  *     touched-cell discovery ([[VectorIndex.discoverOldCells]]). This is
  *     the phase the sidecar exists to prune; inside a full upsert its
  *     delta drowns in the route-independent encode/rewrite/commit
  *     fixed costs (measured r17: whole-upsert bytes differed <1% between
  *     arms while the discovery phase differed by the full codes scan).
  *   - WHOLE-UPSERT: the end-to-end mutation, pinning that both routes
  *     converge to identical post-upsert answers and what the route choice
  *     costs at mutation granularity.
  *
  * Run at TWO corpus sizes (the sf0.1 source and the synthesized tier) so
  * the artifact carries the GROWTH LAW, which is the 100 TB argument:
  * full-scan discovery bytes grow with the corpus; sidecar discovery reads
  * min(n,64)/64 of a two-column map (and, with bucket files sorted by
  * vec_id, only the row groups covering the probe ids once buckets
  * outgrow one row group).
  *
  * Why not a registry gate: the existing `ann_ivfpq_upsert` gate's change
  * batch is modulo-derived, so at the 1000× tier it touches ~every cell by
  * construction — the right CORRECTNESS shape (maximal rewrite coverage)
  * but the wrong shape to show discovery pruning. Correctness of both arms
  * is asserted inline: post-upsert answers must be identical across arms.
  *
  * Usage (solo, like every bench):
  *   SPARK_GRAFT_SCALE_DIR=/tmp/graft_sf100 \
  *     sbt -batch "runMain graft.UpsertBench BENCH_rNN_upsert_sidecar.json"
  */
object UpsertBench {

  // the production operating point the ann_* gates share (SimilarityQueries
  // prodPq / ivfProdK): m·subDim covers the 64-dim embeddings
  private val pq = PqParams(m = 4, subDim = 16, k = 16)

  def main(args: Array[String]): Unit = {
    // This A/B compares the two discovery ROUTES; the small-index size
    // bypass (VectorIndex.sidecarReadMinBytes) would otherwise silently
    // turn the sidecar arm into a second fallback arm on a corpus whose
    // codes directory compresses under the threshold.
    sys.props("graft.sidecar.read.min.bytes") = "0"
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf100")
    val artifact = args.headOption.getOrElse("BENCH_upsert_sidecar.json")
    val spark = LocalSession.build()
    // self-contained on a fresh host (the ladder runs this A/B FIRST, before
    // any BenchScale step has synthesized the tier). Reuse is gated on the
    // _DONE stamp inside synthesize (superset-aware since r18 — ADVICE r17:
    // a bare embeddings.parquet existence check silently reused tiers built
    // at different SCALE_REPS or from regenerated fixtures); a valid tier
    // returns immediately, anything else re-synthesizes loudly. Same table
    // set as the ladder's sf100 step so that step then skips cleanly.
    BenchScale.synthesize(spark, smallDir, bigDir,
      sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "1000").toInt,
      Seq("documents", "embeddings"))
    Bench.calibrationProbe() // discard: probe-loop JIT warmup
    val probeBefore = Bench.settledProbe()
    val ioBefore = Bench.settledIoProbe()
    val meter = org.apache.spark.graftshim.TaskInputBytes.install(spark.sparkContext)
    // the hardlink-vs-copy policy lives in ONE place (ADVICE r16): reuse
    // AnnFixtures' copy — same .parquet-only linking rule the mutation
    // gates depend on — instead of a drift-prone private re-implementation
    import graft.queries.AnnFixtures.{copyDir, rm}
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    final case class Phase(sec: Double, bytes: Long, discovery: String)
    final case class Arm(disc: Phase, upsert: Phase,
        answers: Seq[org.apache.spark.sql.Row])

    def measureScale(dir: String): (Long, Arm, Arm) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val nVecs = emb.count()
      // fixed ids (replica 0 of every tier): 4 updates + 2 deletes, all
      // above the training-seed range so the frozen quantizer is undisturbed
      val updIds = Seq(101L, 113L, 127L, 139L)
      val delIds = Seq(149L, 163L)
      // pre-materialize the change batch as LOCAL frames: a lazy
      // emb.filter(isin) would re-scan embeddings row groups inside every
      // measured phase — a route-INDEPENDENT read (~8 MB at the 1000× tier)
      // that drowns the route-DEPENDENT discovery bytes the A/B exists to
      // contrast. A production micro-batch arrives as a materialized batch
      // (foreachBatch hands the sink a pinned frame), so local frames are
      // also the truthful shape.
      def localize(df: org.apache.spark.sql.DataFrame) = spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
      val updates = localize(emb.filter(col("vec_id").isin(updIds: _*))
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
      val deletes = localize(emb.filter(col("vec_id").isin(delIds: _*))
        .select(col("vec_id")))
      val changedIds = updates.select(col("vec_id"))
        .union(deletes.select(col("vec_id"))).distinct()

      // one shared build (train/encode/write — the expensive fixed cost),
      // then a hardlink copy per arm so both mutate a pristine twin.
      // Threshold 0 so the base carries a sidecar whatever its size.
      sys.props("graft.sidecar.read.min.bytes") = "0"
      val base = java.nio.file.Files.createTempDirectory("graft_upsert_ab").toString
      val quant = VectorIndex.train(emb, col("vec_id"), col("embedding"),
        kCells = 64, iters = 2, pq = pq)
      VectorIndex.write(quant,
        VectorIndex.encode(emb, col("vec_id"), col("embedding"), quant), base)

      def phase(work: => Unit): Phase = {
        spark.catalog.clearCache()
        VectorIndex.lastUpsertDiscovery = None
        val b0 = meter.snapshot(spark.sparkContext)
        val t0 = System.nanoTime()
        work
        val sec = (System.nanoTime() - t0) / 1e9
        val bytes = meter.snapshot(spark.sparkContext) - b0
        val disc = VectorIndex.lastUpsertDiscovery
          .map(d => s"sidecar=${d.usedSidecar} buckets=${d.bucketsRead}/${d.totalBuckets}")
          .getOrElse("none")
        Phase(sec, bytes, disc)
      }

      def runArm(dropSidecar: Boolean): Arm = {
        // route forcing: threshold 0 keeps the sidecar route live; a huge
        // threshold forces the full-scan bypass (simply deleting the
        // sidecar no longer works — a restore-grade index would rebuild it
        // mid-mutation, by design)
        sys.props("graft.sidecar.read.min.bytes") =
          if (dropSidecar) Long.MaxValue.toString else "0"
        val path = java.nio.file.Files.createTempDirectory("graft_upsert_arm").toString
        copyDir(new java.io.File(base), new java.io.File(path))
        if (dropSidecar) rm(new java.io.File(s"$path/idmap"))
        // discovery in isolation first (read-only on the pristine copy)
        val disc = phase {
          val cells = VectorIndex.discoverOldCells(spark, path, changedIds)
          require(cells.nonEmpty, "discovery must find the changed ids' cells")
        }
        val up = phase {
          VectorIndex.upsertBatch(spark, path, updates, deletes,
            col("vec_id"), col("embedding"), pq)
        }
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        val snap = VectorIndex.snapshot(spark, path)
        val answers = VectorIndex.searchAdcPruned(
          VectorIndex.loadCodes(spark, snap),
          VectorIndex.loadQuantizer(spark, snap, pq), queries,
          nprobe = 8, topK = 5).orderBy("query_id", "rn").collect().toSeq
        rm(new java.io.File(path))
        Arm(disc, up, answers)
      }

      val sidecar = runArm(dropSidecar = false)
      val fallback = runArm(dropSidecar = true)
      require(sidecar.answers == fallback.answers && sidecar.answers.nonEmpty,
        "both arms must converge to identical post-upsert answers")
      require(sidecar.disc.discovery.startsWith("sidecar=true"),
        s"sidecar arm must discover through the sidecar: ${sidecar.disc.discovery}")
      require(fallback.disc.discovery.startsWith("sidecar=false"),
        s"fallback arm must full-scan: ${fallback.disc.discovery}")
      rm(new java.io.File(base))
      (nVecs, sidecar, fallback)
    }

    def scaleJson(dir: String, n: Long, sc: Arm, fb: Arm): String = {
      def p(ph: Phase) =
        s"""{"sec":${fmt(ph.sec)},"bytes":${ph.bytes},"discovery":"${ph.discovery}"}"""
      s"""{"dir":"$dir","corpus_vecs":$n,""" +
        s""""discovery":{"sidecar":${p(sc.disc)},"fallback":${p(fb.disc)}},""" +
        s""""upsert":{"sidecar":${p(sc.upsert)},"fallback":${p(fb.upsert)}}}"""
    }

    val (nSmall, scS, fbS) = measureScale(smallDir)
    val (nBig, scB, fbB) = measureScale(bigDir)
    val probeAfter = Bench.settledProbe()
    // the growth law: how each route's DISCOVERY bytes scale with corpus
    def ratio(hi: Long, lo: Long): Double = if (lo > 0) hi.toDouble / lo else -1
    val json =
      s"""{"metric":"upsert_sidecar_ab","unit":"sec","batch_ids":6,""" +
      s""""scales":[${scaleJson(smallDir, nSmall, scS, fbS)},""" +
      s"""${scaleJson(bigDir, nBig, scB, fbB)}],""" +
      s""""growth":{"corpus_ratio":${fmt(ratio(nBig, nSmall))},""" +
      s""""discovery_bytes_ratio":{"sidecar":${fmt(ratio(scB.disc.bytes, scS.disc.bytes))},""" +
      s""""fallback":${fmt(ratio(fbB.disc.bytes, fbS.disc.bytes))}}},""" +
      s""""calibration":{"before":${fmt(probeBefore)},"after":${fmt(probeAfter)}},""" +
      s""""io_probe":{"before":${fmt(ioBefore)},"after":${fmt(Bench.settledIoProbe())}}}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), json + "\n")
    catch { case _: Throwable => () }
    println(json)
    spark.stop()
  }
}
