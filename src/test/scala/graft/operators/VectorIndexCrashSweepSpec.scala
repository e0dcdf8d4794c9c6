package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Crash-point sweep: every mutating file-system call (create, rename,
  * delete, mkdirs) of a mutation is, in turn, the call at which its writer
  * dies ([[CrashFileSystem]] fails it and every call after it). After each
  * crash the dead writer's lease is reclaimed and [[VectorIndex.recover]]
  * runs; then the index root holds only manifests and generation
  * directories, the committed occupancy equals a recount, and
  *
  *   - `write` onto a live index, `compactCells`, `reindex`, `splitCell`
  *     and `appendBatch`: a fresh snapshot holds exactly the pre-mutation
  *     or the post-mutation index (quantizer and codes row for row), with
  *     no re-run;
  *   - `upsertBatch` and a stamped `appendSink` batch: re-running the same
  *     batch reaches exactly the post-mutation index, and the committed
  *     occupancy equals a recount; for the sink, the applied mark is never
  *     ahead of the data and the batch is applied once.
  *
  * Equal quantizer and codes rows imply equal search answers. The fixture
  * is tiny and writes few files, so each sweep stays a few dozen points.
  */
class VectorIndexCrashSweepSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = SparkFixture.spark
  private val pq = PqParams(m = 4, subDim = 16, k = 16)
  private val dim = 64

  private var shufflePartitions = ""

  override def beforeAll(): Unit = {
    CrashFileSystem.install(spark)
    shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    // one shuffle partition: one task writes each part, so a sweep point
    // is a distinct commit step rather than one more task file
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    // a sink whose lease create is the crash point must give up at once
    // instead of backing off for the default 10 minutes
    spark.conf.set("spark.graft.index.sinkLeaseWaitMs", "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset("spark.graft.index.sinkLeaseWaitMs")
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    CrashFileSystem.arm()
  }

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    (0 until 40).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        (if (d == i % 4) 20f else 0f) + rnd.nextFloat()))
    }.toDF("vec_id", "embedding").coalesce(1).cache()
  }

  private def quantizer(kCells: Int): IvfadcQuantizer = {
    val q = VectorIndex.train(corpus, col("vec_id"), col("embedding"),
      kCells = kCells, iters = 1, pq = pq)
    IvfadcQuantizer(q.cents.coalesce(1).localCheckpoint(),
      q.csubs.coalesce(1).localCheckpoint(), pq)
  }

  /** A persisted index of the first 32 vectors, 3 cells. */
  private lazy val pristine: String = {
    val path = java.nio.file.Files.createTempDirectory("graft_sweep_base").toString
    val q = quantizer(3)
    VectorIndex.write(q, VectorIndex.encode(
      corpus.filter(col("vec_id") < 32), col("vec_id"), col("embedding"), q), path)
    path
  }

  private def copyOf(src: String): String = {
    val dst = java.nio.file.Files.createTempDirectory("graft_sweep").toFile
    graft.queries.AnnFixtures.copyDir(new java.io.File(src), dst)
    dst.toString
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Everything a search reads, row for row, from a fresh snapshot. */
  private def state(path: String): Seq[Seq[Row]] = {
    val snap = VectorIndex.snapshot(spark, path)
    val q = VectorIndex.loadQuantizer(spark, snap, pq)
    Seq(sorted(q.cents), sorted(q.csubs), sorted(VectorIndex.loadCodes(spark, snap)))
  }

  /** Run `op` against a copy of `base` once cleanly (the post state and
    * the op count), then once per crash point; `after` checks each
    * crashed copy once the lease is reclaimed, recovery ran, and its root
    * and occupancy were checked.
    */
  private def sweep(base: String, op: String => Unit)(
      after: (String, Long, Seq[Seq[Row]]) => Unit): Unit = {
    val clean = copyOf(base)
    CrashFileSystem.arm()
    op(CrashFileSystem.path(clean))
    val total = CrashFileSystem.mutations
    val post = state(clean)
    assert(total > 0)
    (1L to total).foreach { n =>
      val dir = copyOf(base)
      CrashFileSystem.arm(failAt = n)
      scala.util.Try(op(CrashFileSystem.path(dir)))
      CrashFileSystem.arm()
      // the dead writer's lease outlives it; its TTL reclaim is modelled by
      // removing it
      new java.io.File(s"$dir/maintenance_lease").delete()
      new java.io.File(s"$dir/.maintenance_lease.crc").delete()
      VectorIndex.recover(spark, dir)
      val stray = IndexRoot.stray(dir)
      assert(stray.isEmpty, s"crash at mutating call $n: after recover the index root holds $stray")
      assertOccupancyRecounted(dir, n)
      after(dir, n, post)
    }
  }

  /** The committed occupancy against a recount of the live codes. */
  private def assertOccupancyRecounted(dir: String, n: Long): Unit = {
    def counts(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(VectorIndex.occupancy(spark, dir)) ==
      counts(VectorIndex.cellOccupancy(VectorIndex.loadCodes(spark, dir))),
      s"crash at mutating call $n: occupancy must equal a recount")
  }

  private def preOrPost(base: String, op: String => Unit): Unit = {
    val pre = state(base)
    sweep(base, op) { (dir, n, post) =>
      val st = state(dir)
      assert(st == pre || st == post,
        s"crash at mutating call $n: the index is neither the pre- nor the post-mutation one")
    }
  }

  test("crash sweep: write onto a live index leaves the old or the new index") {
    val q = quantizer(4)
    val codes = VectorIndex.encode(corpus, col("vec_id"), col("embedding"), q)
      .localCheckpoint()
    preOrPost(pristine, p => VectorIndex.write(q, codes, p))
  }

  test("crash sweep: compactCells leaves the old or the compacted layout") {
    val base = copyOf(pristine)
    VectorIndex.appendBatch(spark, base, corpus.filter(col("vec_id") >= 32),
      col("vec_id"), col("embedding"), pq)
    preOrPost(base, p => VectorIndex.compactCells(spark, p))
  }

  test("crash sweep: reindex leaves the old or the retrained index") {
    preOrPost(pristine, p => VectorIndex.reindex(spark, p, corpus,
      col("vec_id"), col("embedding"), kCells = 4, iters = 1, pq = pq))
  }

  test("crash sweep: splitCell leaves the unsplit or the split index") {
    val hot = VectorIndex.occupancy(spark, pristine)
      .orderBy(col("n_vecs").desc, col("cell")).head().getLong(0)
    preOrPost(pristine, p => VectorIndex.splitCell(spark, p, hot, corpus,
      col("vec_id"), col("embedding"), pq))
  }

  test("crash sweep: appendBatch leaves the index without the batch or with all of it") {
    preOrPost(pristine, p => VectorIndex.appendBatch(spark, p,
      corpus.filter(col("vec_id") >= 32), col("vec_id"), col("embedding"), pq))
  }

  test("crash sweep: upsertBatch converges to the post-upsert index on a re-run") {
    val updates = corpus.filter(col("vec_id") % 5 === 1)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val deletes = corpus.filter(col("vec_id") % 5 === 2).select(col("vec_id"))
    def upsert(p: String): Unit = VectorIndex.upsertBatch(spark, p, updates, deletes,
      col("vec_id"), col("embedding"), pq)
    sweep(pristine, upsert) { (dir, n, post) =>
      upsert(dir)
      assert(state(dir) == post, s"crash at mutating call $n: the re-run must converge")
      assertOccupancyRecounted(dir, n)
    }
  }

  test("crash sweep: a stamped appendSink batch applies exactly once on a re-run; its mark never runs ahead of the data") {
    val batch = corpus.filter(col("vec_id") >= 32)
    val batchIds = (32L until 40L).toSet
    def append(p: String): Unit = VectorIndex.appendSink(p, pq, col("vec_id"),
      col("embedding"), streamId = Some("s"))(batch, 4L)
    def landed(dir: String): Set[Long] = VectorIndex.loadCodes(spark, dir)
      .filter(col("vec_id") >= 32).select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    sweep(pristine, append) { (dir, n, post) =>
      if (VectorIndex.snapshot(spark, dir).applied.get(Some("s")).contains(4L))
        assert(landed(dir) == batchIds,
          s"crash at mutating call $n: the applied mark is ahead of the data")
      append(dir)
      assert(state(dir) == post, s"crash at mutating call $n: the re-run must apply the batch once")
      val snap = VectorIndex.snapshot(spark, dir)
      assert(snap.applied == Map(Some("s") -> 4L))
      assertOccupancyRecounted(dir, n)
    }
  }
}
