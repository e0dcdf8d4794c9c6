package graft

import org.apache.spark.sql.functions._

import graft.operators.{PqParams, VectorIndex}

/** 1000×-tier measurement for the STREAMING ANN ingest path
  * ([[VectorIndex.appendSink]]) — the one index-lifecycle member with no
  * tier point (VERDICT r16 #8). Everything else about the sink is already
  * spec-pinned at small scale (exactly-once through stop/restart, replay
  * skip, cap accounting, lease serialization — `StreamingAnnIngestSpec`);
  * what is missing is the per-micro-batch latency against a TIER-scale
  * index, which is the number a capacity plan needs: at 100 TB the sink's
  * cost must be dominated by the batch's own encode+append, not by
  * per-batch fixed costs that scale with the corpus.
  *
  * Shape: a 2M-vector base index (the synthesized 1000× embeddings tier
  * minus a 20k-vector tail; smaller corpora stream 10%), then the tail
  * replayed through the EXACT foreachBatch sink closure in 8
  * production-sized micro-batches (2.5k vectors each at the tier,
  * contiguous id ranges — deterministic). Auto-compaction is
  * armed (threshold 6 files/cell) so the artifact includes at least one
  * compaction firing mid-stream — the amortized maintenance cost a
  * steady-state ingest actually pays, not the fragmenting-forever
  * best case.
  *
  * Measured per batch: wall seconds + task input bytes (the read
  * amplification of the sink's fixed costs — replay check, occupancy
  * update — against a corpus the batch should NOT be
  * rescanning). Then three one-shot numbers: a REPLAYED batch id (must be
  * a cheap no-op — crash-recovery cost), a pruned search over the final
  * index (the ingested data is immediately queryable), and exactly-once
  * verification (every streamed vector has exactly m code rows).
  *
  * Usage (solo, like every bench):
  *   SPARK_GRAFT_SCALE_DIR=/tmp/graft_sf100 \
  *     sbt -batch "runMain graft.AnnIngestBench BENCH_rNN_ann_ingest.json"
  */
object AnnIngestBench {

  private val pq = PqParams(m = 4, subDim = 16, k = 16)
  private val NBatches = 8

  def main(args: Array[String]): Unit = {
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf100")
    val nReps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "1000").toInt
    val artifact = args.headOption.getOrElse("BENCH_ann_ingest.json")
    val spark = LocalSession.build()
    // self-contained on a fresh host: synthesize the tier's embeddings if
    // needed. Reuse is gated on the _DONE stamp inside synthesize
    // (superset-aware since r18 — ADVICE r17: bare existence silently
    // reused stale/partial tiers); a ladder-built dir with a valid stamp
    // covering embeddings returns immediately.
    BenchScale.synthesize(spark, smallDir, bigDir, nReps, Seq("embeddings"))
    Bench.calibrationProbe() // discard: probe-loop JIT warmup
    val probeBefore = Bench.settledProbe()
    val ioBefore = Bench.settledIoProbe()
    val forensics = org.apache.spark.graftshim.StageForensics.install(spark.sparkContext)
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    val emb = spark.read.parquet(s"$bigDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val total = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    // stream tail: 10% of the corpus, capped at 20k (8 × 2.5k micro-batches
    // at the 1000× tier's 2M vectors), floored so a tiny smoke corpus still
    // yields 8 non-empty batches
    val batchVecs = math.max(8L, math.min(20000L, total / 10) / NBatches)
    val streamVecs = batchVecs * NBatches
    val cut = total - streamVecs
    // the batch floor means a corpus under ~2x the stream tail leaves no
    // base to train on — fail with the actual numbers instead of an opaque
    // VectorIndex.train error on an empty frame (ADVICE r17)
    require(cut > streamVecs,
      s"corpus too small for the ingest shape: $total vectors, stream tail " +
        s"$streamVecs ($NBatches x $batchVecs) — need > ${2 * streamVecs}")
    val base = emb.filter(col("vec_id") < cut)
    val path = java.nio.file.Files.createTempDirectory("graft_ann_ingest").toString

    final case class Timed(sec: Double, bytes: Long)
    def timed(work: => Unit): Timed = {
      val s0 = forensics.snapshot(spark.sparkContext)
      val t0 = System.nanoTime()
      work
      Timed((System.nanoTime() - t0) / 1e9,
        forensics.since(spark.sparkContext, s0).getOrElse("input_bytes", 0L))
    }

    // base index: quantizer frozen on the base corpus (the production
    // steady state — the stream appends into an already-trained index)
    val build = timed {
      val quant = VectorIndex.train(base, col("vec_id"), col("embedding"),
        kCells = 64, iters = 2, pq = pq)
      VectorIndex.write(quant,
        VectorIndex.encode(base, col("vec_id"), col("embedding"), quant), path)
    }

    // compaction cadence knob (VERDICT r17 #8): 6 files/cell is the
    // steady-state default (one auto-compaction absorbed mid-stream); 2
    // forces compaction nearly every batch — the worst-case per-batch
    // latency bound a production ingest capacity plan needs
    val compactFiles = sys.env.get("SPARK_GRAFT_INGEST_COMPACT_FILES")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(6)
    val sink = VectorIndex.appendSink(path, pq, col("vec_id"), col("embedding"),
      streamId = Some("ingest1000x"), autoCompactFilesPerCell = Some(compactFiles))
    val nBatches = NBatches
    val batches = (0 until nBatches).map { i =>
      val lo = cut + i * batchVecs
      val batch = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + batchVecs)
      timed(sink(batch, i.toLong))
    }

    // crash contract: a replayed batch id must be detected and skipped —
    // this is the cost of every restart's first (re-delivered) batch
    val codesBefore = VectorIndex.loadCodes(spark, path).count()
    val replay = timed(sink(
      emb.filter(col("vec_id") >= cut && col("vec_id") < cut + batchVecs), 0L))

    // exactly-once at tier scale: every streamed vector indexed, each with
    // exactly one code row per subspace, and the replay appended nothing
    val streamed = VectorIndex.loadCodes(spark, path).filter(col("vec_id") >= cut)
    val counts = streamed.groupBy("vec_id").count()
      .agg(count(lit(1)).as("vecs"), min("count").as("lo"), max("count").as("hi"))
      .head()
    val exactlyOnce = counts.getLong(0) == streamVecs &&
      counts.getLong(1) == pq.m.toLong && counts.getLong(2) == pq.m.toLong &&
      VectorIndex.loadCodes(spark, path).count() == codesBefore
    require(exactlyOnce, s"exactly-once violated: $counts (codes ${codesBefore})")

    // the ingested data is immediately queryable at the production point
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    var hits = 0L
    val search = timed {
      hits = VectorIndex.searchAdcPruned(VectorIndex.loadCodes(spark, path),
        VectorIndex.loadQuantizer(spark, path, pq), queries,
        nprobe = 8, topK = 5).count()
    }
    require(hits > 0, "post-ingest search must return rows")

    val probeAfter = Bench.settledProbe()
    def t(x: Timed) = s"""{"sec":${fmt(x.sec)},"bytes":${x.bytes}}"""
    val json =
      s"""{"metric":"ann_stream_ingest_1000x","unit":"sec",""" +
      s""""corpus_vecs":$cut,"stream_vecs":$streamVecs,"batch_vecs":$batchVecs,""" +
      s""""build":${t(build)},"batches":[${batches.map(t).mkString(",")}],""" +
      s""""batch_sec_total":${fmt(batches.map(_.sec).sum)},""" + {
        val s = batches.map(_.sec).sorted
        s""""batch_sec_p50":${fmt(s(s.size / 2))},"batch_sec_max":${fmt(s.last)},""" +
        s""""compact_files_per_cell":$compactFiles,"""
      } +
      s""""replay_noop":${t(replay)},"search":${t(search)},""" +
      s""""exactly_once":$exactlyOnce,""" +
      s""""calibration":{"before":${fmt(probeBefore)},"after":${fmt(probeAfter)}},""" +
      s""""io_probe":{"before":${fmt(ioBefore)},"after":${fmt(Bench.settledIoProbe())}}}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), json + "\n")
    catch { case _: Throwable => () }
    println(json)
    graft.queries.AnnFixtures.rm(new java.io.File(path))
    spark.stop()
  }
}
