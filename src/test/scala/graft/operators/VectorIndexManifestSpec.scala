package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The generation manifest as the index's ONE commit record: what the
  * index root holds after each mutation, and the ordering and carry-over
  * properties every mutation keeps through it.
  */
class VectorIndexManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val pq = PqParams(m = 4, subDim = 16, k = 16)
  private val dim = 64

  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** 8 spike outliers (one k-means seed cell each) + a bimodal 28+28 huddle
    * that lands in one hot cell.
    */
  private def bimodalCorpus(): DataFrame = {
    val rnd = new scala.util.Random(11)
    ((0 until 8).map { i =>
      (i.toLong, Array.tabulate(dim)(d => (if (d == i) 50f else 0f) + rnd.nextFloat() * 0.01f))
    } ++ (8 until 36).map { i =>
      (i.toLong, Array.tabulate(dim)(_ => rnd.nextFloat() * 0.01f))
    } ++ (36 until 64).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        (if (d >= 10 && d <= 20) 5f else 0f) + rnd.nextFloat() * 0.01f))
    }).toDF("vec_id", "embedding")
  }

  private def build(corpus: DataFrame, path: String, kCells: Int = 8): Unit = {
    val quant = VectorIndex.train(corpus, col("vec_id"), col("embedding"),
      kCells = kCells, iters = 2, pq = pq)
    VectorIndex.write(quant,
      VectorIndex.encode(corpus, col("vec_id"), col("embedding"), quant), path)
  }

  private def sink(path: String, stream: String) =
    VectorIndex.appendSink(path, pq, col("vec_id"), col("embedding"),
      streamId = Some(stream))

  private def assertRootClean(path: String, after: String): Unit = {
    val stray = IndexRoot.stray(path)
    assert(stray.isEmpty, s"after $after the index root holds $stray")
    assert(new java.io.File(path).list().exists(_.startsWith("manifest-")))
  }

  private def manifestJson(path: String, gen: Long) =
    graft.core.Json.mapper.readTree(new java.io.File(f"$path/manifest-$gen%09d"))

  test("the index root holds only manifests and generation directories after every mutation") {
    val corpus = bimodalCorpus().cache()
    val path = tmp("graft_root_layout")
    build(corpus.filter(col("vec_id") < 56), path)
    assertRootClean(path, "write")
    sink(path, "s")(corpus.filter(col("vec_id") >= 56), 0L)
    assertRootClean(path, "a stamped appendSink")
    val labelled = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
        lit(1).as("label"))
    VectorIndex.upsertBatch(spark, path, labelled,
      labelled.limit(0).select(col("vec_id")), col("vec_id"), col("embedding"), pq,
      meta = Seq("label"))
    assert(VectorIndex.snapshot(spark, path).schema.fieldNames.contains("label"))
    assertRootClean(path, "a metadata-carrying upsertBatch")
    VectorIndex.compactCells(spark, path)
    assertRootClean(path, "compactCells")
    val hot = VectorIndex.occupancy(spark, path)
      .orderBy(col("n_vecs").desc, col("cell")).head().getLong(0)
    VectorIndex.splitCell(spark, path, hot, corpus, col("vec_id"), col("embedding"), pq)
    assertRootClean(path, "splitCell")
    VectorIndex.reindex(spark, path, corpus, col("vec_id"), col("embedding"),
      kCells = 4, iters = 2, pq = pq)
    assertRootClean(path, "reindex")
    VectorIndex.refreshOccupancy(spark, path)
    assertRootClean(path, "refreshOccupancy")
    VectorIndex.recover(spark, path)
    assertRootClean(path, "recover")
  }

  test("superset-first and mark-after-data: a stamped append commits its widened schema before any codes file lands and its applied mark after the last") {
    val corpus = bimodalCorpus()
    val path = tmp("graft_commit_order")
    build(corpus.filter(col("vec_id") < 56), path)
    val snap = VectorIndex.snapshot(spark, path)
    val codesDir = s"$path/${snap.dirs("codes")}/"
    CrashFileSystem.install(spark)
    CrashFileSystem.arm()
    sink(CrashFileSystem.path(path), "s")(corpus.filter(col("vec_id") >= 56), 0L)
    val log = CrashFileSystem.log
    val widen = log.indexWhere(_.endsWith(f"manifest-${snap.gen + 1}%09d"))
    val mark = log.indexWhere(_.endsWith(f"manifest-${snap.gen + 2}%09d"))
    val data = log.zipWithIndex.collect { case (op, i) if op.contains(codesDir) => i }
    assert(widen >= 0 && mark > widen && data.nonEmpty, log.mkString("\n"))
    assert(widen < data.min, s"the widened schema must be committed before the data:\n${log.mkString("\n")}")
    assert(mark > data.max, s"the applied mark must be committed after the data:\n${log.mkString("\n")}")
    val widened = manifestJson(path, snap.gen + 1)
    assert(widened.get("schema").toString.contains("__batch") &&
      widened.get("schema").toString.contains("__stream"))
    assert(widened.get("applied").size == 0, "the widen commit must not carry the mark")
    assert(VectorIndex.snapshot(spark, path).applied == Map(Some("s") -> 0L))
  }

  test("applied marks survive write and reindex; a replayed batch stays refused") {
    val corpus = bimodalCorpus().cache()
    val path = tmp("graft_marks_survive")
    build(corpus.filter(col("vec_id") < 56), path)
    val batch = corpus.filter(col("vec_id") >= 56)
    sink(path, "s")(batch, 5L)
    def rows = VectorIndex.loadCodes(spark, path).count()

    build(corpus, path, kCells = 4) // rebuild over the full corpus
    assert(VectorIndex.snapshot(spark, path).applied == Map(Some("s") -> 5L))
    val afterWrite = rows
    sink(path, "s")(batch, 5L)
    assert(rows == afterWrite, "a replay must be refused after write")

    VectorIndex.reindex(spark, path, corpus, col("vec_id"), col("embedding"),
      kCells = 8, iters = 2, pq = pq)
    assert(VectorIndex.snapshot(spark, path).applied == Map(Some("s") -> 5L))
    val afterReindex = rows
    sink(path, "s")(batch, 5L)
    assert(rows == afterReindex, "a replay must be refused after reindex")
  }

  test("reader retention: a snapshot taken before a compaction still scans after one more stamped append") {
    val corpus = bimodalCorpus()
    val path = tmp("graft_reader_retention")
    build(corpus.filter(col("vec_id") < 48), path)
    val before = VectorIndex.snapshot(spark, path)
    val rows = VectorIndex.loadCodes(spark, before).count()
    VectorIndex.compactCells(spark, path)
    sink(path, "s")(corpus.filter(col("vec_id") >= 48), 0L)
    val now = VectorIndex.snapshot(spark, path)
    assert(now.gen == before.gen + 2 || now.gen == before.gen + 3,
      s"one swap plus a metadata-only append, got ${before.gen} → ${now.gen}")
    assert(now.retain.contains(before.dirs("codes")),
      "a metadata-only commit must carry the retained directories forward")
    // the pre-compaction snapshot still resolves every part it names
    assert(VectorIndex.loadCodes(spark, before).count() == rows)
    assert(VectorIndex.loadQuantizer(spark, before, pq).cents.count() > 0)
  }
}
