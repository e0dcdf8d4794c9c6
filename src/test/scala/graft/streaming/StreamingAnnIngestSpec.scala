package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ManifestSurgery, PqParams, VectorIndex}

/** Streaming ANN ingest — [[VectorIndex.appendSink]] composed with a real
  * checkpointed query (r10 VERDICT #7, composing round 10's two pieces:
  * the persisted index and micro-batch streaming):
  *  - vectors ingested across micro-batches and a query STOP/RESTART land
  *    in the index exactly once, and the index answers exactly like a
  *    batch encode of corpus ∪ everything ingested;
  *  - a replayed batch id (foreachBatch's crash contract) is skipped by its
  *    applied mark, and detected from the __batch stamps when the commit
  *    carrying the mark was lost — including after compaction, which must
  *    preserve the stamps;
  *  - the per-batch cap surfaces its drops through an accumulator
  *    (no-silent-caps) and admits deterministically;
  *  - occupancy stays a recount-invariant through streamed appends.
  */
class StreamingAnnIngestSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"
  private val pq = PqParams(m = 4, subDim = 16, k = 16)

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
  private def corpus = emb.filter(col("vec_id") < 300)
  private def queries = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  test("checkpointed stream -> appendSink: exactly-once through stop/restart, answers == batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ann_ckpt").toString
    val quant = VectorIndex.train(corpus, col("vec_id"), col("embedding"),
      kCells = 16, iters = 1, pq = pq)
    VectorIndex.write(quant,
      VectorIndex.encode(corpus, col("vec_id"), col("embedding"), quant), path)

    val fresh = emb.filter(col("vec_id") >= 300 && col("vec_id") < 420)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val batches = fresh.grouped(40).toSeq
    assert(batches.size == 3)

    val in = MemoryStream[(Long, Array[Float])]
    def start() = in.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(VectorIndex.appendSink(path, pq, col("vec_id"), col("embedding")))
      .option("checkpointLocation", ckpt)
      .start()

    // phase 1: two batches, then STOP (the crash point)
    val q1 = start()
    try {
      in.addData(batches(0)); q1.processAllAvailable()
      in.addData(batches(1)); q1.processAllAvailable()
    } finally q1.stop()

    // phase 2: restart from the SAME checkpoint, third batch
    val q2 = start()
    try { in.addData(batches(2)); q2.processAllAvailable() } finally q2.stop()

    // exactly-once: every ingested vector has exactly m code rows
    val codes = VectorIndex.loadCodes(spark, path)
    val perVec = codes.filter(col("vec_id") >= 300)
      .groupBy("vec_id").count().as[(Long, Long)].collect().toMap
    assert(perVec.keySet == fresh.map(_._1).toSet, "every streamed vector must be indexed")
    assert(perVec.values.forall(_ == pq.m.toLong),
      s"exactly one code row per (vector, subspace): ${perVec.filter(_._2 != pq.m)}")

    // the streamed index answers exactly like a batch encode of everything
    val combined = corpus.union(emb.filter(col("vec_id") >= 300 && col("vec_id") < 420))
    val rebuilt = VectorIndex.encode(combined, col("vec_id"), col("embedding"), quant)
    val fromStream = VectorIndex.searchAdc(codes,
      VectorIndex.loadQuantizer(spark, path, pq), queries, nprobe = 4, topK = 5)
      .orderBy("query_id", "rn").collect().toSeq
    val fromBatch = VectorIndex.searchAdc(rebuilt, quant, queries, nprobe = 4, topK = 5)
      .orderBy("query_id", "rn").collect().toSeq
    assert(fromStream == fromBatch,
      "stream-ingested index must answer exactly like the batch encode")
    assert(fromStream.nonEmpty)

    // pruned search works over the streamed layout
    val pruned = VectorIndex.searchAdcPruned(codes,
      VectorIndex.loadQuantizer(spark, path, pq),
      queries.filter(col("query_id") < 2), nprobe = 2, topK = 5).collect()
    assert(pruned.nonEmpty)

    // occupancy stayed a recount-invariant through the streamed appends
    val occ = VectorIndex.occupancy(spark, path).orderBy("cell").collect().toSeq
    val recount = VectorIndex.cellOccupancy(codes).orderBy("cell").collect().toSeq
    assert(occ == recount, "stream-maintained occupancy must equal a recount")
  }

  test("replayed batch ids are skipped — also after compaction preserves the stamps") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ann_replay").toString
    val quant = VectorIndex.train(corpus, col("vec_id"), col("embedding"),
      kCells = 16, iters = 1, pq = pq)
    VectorIndex.write(quant,
      VectorIndex.encode(corpus, col("vec_id"), col("embedding"), quant), path)
    val sink = VectorIndex.appendSink(path, pq, col("vec_id"), col("embedding"))
    val b0 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 340)
    val b1 = emb.filter(col("vec_id") >= 340 && col("vec_id") < 380)

    sink(b0, 0L)
    sink(b1, 1L)
    val n = VectorIndex.loadCodes(spark, path).count()
    // the foreachBatch crash contract: the SAME batch id arrives again
    sink(b1, 1L)
    sink(b0, 0L) // and an even older one
    assert(VectorIndex.loadCodes(spark, path).count() == n,
      "replayed batch ids must be skipped (codes unchanged)")

    VectorIndex.compactCells(spark, path)
    assert(VectorIndex.loadCodes(spark, path).count() == n, "compaction drops nothing")
    sink(b1, 1L) // replay AFTER compaction — stamps must have survived
    assert(VectorIndex.loadCodes(spark, path).count() == n,
      "replay detection must survive compaction (stamps preserved)")
    // a genuinely new batch still lands
    sink(emb.filter(col("vec_id") >= 380 && col("vec_id") < 400), 2L)
    assert(VectorIndex.loadCodes(spark, path).count() > n)
    // recovery path for the documented occupancy crash window
    VectorIndex.refreshOccupancy(spark, path)
    val occ = VectorIndex.occupancy(spark, path).orderBy("cell").collect().toSeq
    val recount = VectorIndex.cellOccupancy(VectorIndex.loadCodes(spark, path))
      .orderBy("cell").collect().toSeq
    assert(occ == recount)
  }

  test("per-batch cap: drops surface through the accumulator, admission is deterministic") {
    val path = java.nio.file.Files.createTempDirectory("graft_ann_cap").toString
    val quant = VectorIndex.train(corpus, col("vec_id"), col("embedding"),
      kCells = 16, iters = 1, pq = pq)
    VectorIndex.write(quant,
      VectorIndex.encode(corpus, col("vec_id"), col("embedding"), quant), path)
    val drops = spark.sparkContext.longAccumulator("ann_ingest_cap_drops")
    val sink = VectorIndex.appendSink(path, pq, col("vec_id"), col("embedding"),
      batchCap = Some(25), capDrops = Some(drops))
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 340) // 40 rows
    sink(batch, 0L)
    assert(drops.value == 15L, s"40 offered - 25 admitted = 15 dropped, got ${drops.value}")
    val admitted = VectorIndex.loadCodes(spark, path)
      .filter(col("vec_id") >= 300).select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    // deterministic admission: the 25 smallest ids
    val expected = batch.select("vec_id").collect().map(_.getLong(0)).sorted.take(25).toSet
    assert(admitted == expected, "cap must admit the smallest ids (replay-stable)")
  }

  test("auto-compaction: a long append stream keeps files/cell bounded, answers and replay stamps intact") {
    val path = java.nio.file.Files.createTempDirectory("graft_ann_autocompact").toString
    val quant = VectorIndex.train(corpus, col("vec_id"), col("embedding"),
      kCells = 16, iters = 1, pq = pq)
    VectorIndex.write(quant,
      VectorIndex.encode(corpus, col("vec_id"), col("embedding"), quant), path)
    val threshold = 3
    val sink = VectorIndex.appendSink(path, pq, col("vec_id"), col("embedding"),
      autoCompactFilesPerCell = Some(threshold))

    // 8 micro-batches — far past the threshold, so without compaction some
    // cell would reach 9 files (the seed file + one per touched batch)
    val batches = (0 until 8).map(k =>
      emb.filter(col("vec_id") >= 300 + 20 * k && col("vec_id") < 320 + 20 * k))
    var compactions = 0
    batches.zipWithIndex.foreach { case (b, k) =>
      sink(b, k.toLong)
      val files = VectorIndex.maxFilesPerCell(spark, path)
      assert(files <= threshold,
        s"after batch $k a cell holds $files files — the sink must have compacted")
      if (files == 1 && k > 0) compactions += 1
    }
    assert(compactions > 0, "the threshold must actually have fired at least once")

    // every streamed vector landed exactly once (auto-compaction dropped
    // and duplicated nothing)
    val codes = VectorIndex.loadCodes(spark, path)
    val perVec = codes.filter(col("vec_id") >= 300).groupBy("vec_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perVec.keySet == (300L until 460L).toSet)
    assert(perVec.values.forall(_ == pq.m.toLong))

    // answers == a batch encode of corpus ∪ streamed, as if no compaction
    val combined = corpus.union(emb.filter(col("vec_id") >= 300 && col("vec_id") < 460))
    val rebuilt = VectorIndex.encode(combined, col("vec_id"), col("embedding"), quant)
    val got = VectorIndex.searchAdc(codes, VectorIndex.loadQuantizer(spark, path, pq),
      queries, nprobe = 4, topK = 5).orderBy("query_id", "rn").collect().toSeq
    val want = VectorIndex.searchAdc(rebuilt, quant, queries, nprobe = 4, topK = 5)
      .orderBy("query_id", "rn").collect().toSeq
    assert(got == want, "auto-compaction must not change any answer")
    assert(got.nonEmpty)

    // replay stamps survived every auto-compaction: old batch ids are
    // still skipped, data-derived detection included (mark removed)
    val n = codes.count()
    sink(batches(2), 2L)
    assert(VectorIndex.loadCodes(spark, path).count() == n,
      "replay after auto-compactions must be skipped (applied mark)")
    ManifestSurgery.dropAppliedMarks(spark, path)
    sink(batches(7), 7L)
    assert(VectorIndex.loadCodes(spark, path).count() == n,
      "__batch stamps must survive compaction for the lost-commit window")
  }

  test("stream identity scopes replay detection: a new checkpoint lineage's batch 0 is not masked") {
    val path = java.nio.file.Files.createTempDirectory("graft_ann_lineage").toString
    val quant = VectorIndex.train(corpus, col("vec_id"), col("embedding"),
      kCells = 16, iters = 1, pq = pq)
    VectorIndex.write(quant,
      VectorIndex.encode(corpus, col("vec_id"), col("embedding"), quant), path)

    // lineage A advances to batch 1
    val sinkA = VectorIndex.appendSink(path, pq, col("vec_id"), col("embedding"),
      streamId = Some("lineage-a"))
    sinkA(emb.filter(col("vec_id") >= 300 && col("vec_id") < 340), 0L)
    sinkA(emb.filter(col("vec_id") >= 340 && col("vec_id") < 380), 1L)
    val afterA = VectorIndex.loadCodes(spark, path).count()

    // the stream is re-created with a FRESH checkpoint dir (new lineage):
    // foreachBatch ids restart at 0 — the scoped marker must NOT mask it
    val sinkB = VectorIndex.appendSink(path, pq, col("vec_id"), col("embedding"),
      streamId = Some("lineage-b"))
    sinkB(emb.filter(col("vec_id") >= 380 && col("vec_id") < 410), 0L)
    val afterB = VectorIndex.loadCodes(spark, path).count()
    assert(afterB > afterA,
      "a new lineage's batch 0 must land even though another lineage is past it")

    // replay WITHIN lineage B is still skipped
    sinkB(emb.filter(col("vec_id") >= 380 && col("vec_id") < 410), 0L)
    assert(VectorIndex.loadCodes(spark, path).count() == afterB,
      "replay within the same lineage must be skipped")

    // lost-commit window: lose lineage B's applied mark — the
    // __stream-scoped stamps must still detect the replay (applied once,
    // not twice), and must NOT be confused by lineage A's stamps
    ManifestSurgery.dropAppliedMark(spark, path, Some("lineage-b"))
    sinkB(emb.filter(col("vec_id") >= 380 && col("vec_id") < 410), 0L)
    assert(VectorIndex.loadCodes(spark, path).count() == afterB,
      "data-derived replay detection must be scoped to the lineage's own stamps")

    // and lineage A replay is still skipped too (its mark is untouched)
    sinkA(emb.filter(col("vec_id") >= 300 && col("vec_id") < 340), 0L)
    assert(VectorIndex.loadCodes(spark, path).count() == afterB)
  }

  test("stream ids differing only in characters outside [A-Za-z0-9._-] keep separate applied marks") {
    val path = java.nio.file.Files.createTempDirectory("graft_ann_rawids").toString
    val quant = VectorIndex.train(corpus, col("vec_id"), col("embedding"),
      kCells = 16, iters = 1, pq = pq)
    VectorIndex.write(quant,
      VectorIndex.encode(corpus, col("vec_id"), col("embedding"), quant), path)
    def ids = VectorIndex.loadCodes(spark, path).select("vec_id").distinct().count()
    val slash = VectorIndex.appendSink(path, pq, col("vec_id"), col("embedding"),
      streamId = Some("a/b"))
    (0 until 3).foreach(k =>
      slash(emb.filter(col("vec_id") >= 300 + 10 * k && col("vec_id") < 310 + 10 * k), k.toLong))
    val before = ids
    // `a_b` is a different lineage whose ids merely sanitize alike: its
    // batch 0 must land, not be masked by `a/b`'s progress
    VectorIndex.appendSink(path, pq, col("vec_id"), col("embedding"),
      streamId = Some("a_b"))(emb.filter(col("vec_id") >= 400 && col("vec_id") < 410), 0L)
    assert(ids == before + 10, "lineage a_b's batch 0 must be applied")
    assert(VectorIndex.snapshot(spark, path).applied ==
      Map(Some("a/b") -> 2L, Some("a_b") -> 0L))
  }
}
