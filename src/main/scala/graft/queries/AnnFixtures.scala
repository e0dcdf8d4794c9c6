package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Dedup, IvfadcQuantizer, PqParams, VectorIndex}

/** Process-wide DETERMINISTIC fixtures shared by the `ann_*` gates that all
  * start from the same full-corpus trained quantizer (r12 VERDICT #2: six
  * gates were each paying the identical train/encode/write fixed cost —
  * ~27% of the bench suite — for a byte-identical artifact).
  *
  * Sharing is sound because everything here is a pure function of the data
  * directory: [[VectorIndex.train]] is deterministic (seeded k-means,
  * rounded means, id tie-breaks), so the quantizer — and the index written
  * from it — is the same object no matter which gate builds it first.
  * Oracles are unchanged by construction: gates receive bit-identical
  * inputs, they just stop re-deriving them.
  *
  *  - READ-ONLY consumers ([[cents]]/[[quantizer]], e.g. the rerank/recall/
  *    filtered/occupancy gates) use the cached quantizer directly.
  *  - MUTATION consumers (upsert/split/reindex gates) take a private COPY
  *    of the shared written index ([[copyIndex]] — a file copy, far cheaper
  *    than re-train + re-encode + re-write) and mutate that.
  *
  * The cache stores collected ROWS (k + m·k quantizer rows — tiny), not
  * DataFrames, so nothing pins localCheckpoint storage for the process
  * lifetime; frames are rebuilt per call from the rows. The shared index
  * directory lives under java.io.tmpdir and is removed on JVM exit.
  */
// graft-wide (not queries-private): the index specs share the hardlink copy
// policy; the fixture-cache members themselves stay private.
private[graft] object AnnFixtures {

  /** The one production operating point every sharing gate uses. */
  private val (kCells, iters) = (SimilarityQueries.ivfProdK, 2)

  private final case class QuantRows(cents: (Seq[Row], StructType),
      csubs: (Seq[Row], StructType))

  // Keyed by the FULL operating point, not the data dir alone: a caller
  // passing different PqParams (or a future kCells/iters change) must get
  // its own fixture, never the first-seen params' csubs silently re-stamped
  // with its pq — a wrong subspace layout with no error.
  private final case class FixtureKey(dir: String, pq: PqParams,
      kCells: Int, iters: Int)
  private def keyOf(dir: String, pq: PqParams) =
    FixtureKey(dir, pq, kCells, iters)
  private val quantCache =
    new java.util.concurrent.ConcurrentHashMap[FixtureKey, QuantRows]()
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[FixtureKey, String]()

  private def embOf(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private def rowsOf(df: DataFrame): (Seq[Row], StructType) =
    (df.collect().toSeq, df.schema)

  private def frameOf(s: SparkSession, rows: (Seq[Row], StructType)): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows._1: _*), rows._2)

  private def quantRows(s: SparkSession, dir: String, pq: PqParams): QuantRows =
    quantCache.computeIfAbsent(keyOf(dir, pq), _ => {
      val quant = VectorIndex.train(embOf(s, dir), col("vec_id"), col("embedding"),
        kCells = kCells, iters = iters, pq = pq)
      val out = QuantRows(rowsOf(quant.cents), rowsOf(quant.csubs))
      // train() localCheckpoints both sides; drop the pins now that the
      // (tiny) rows are cached — otherwise every bench process holds two
      // checkpoint RDDs per data dir until exit
      Dedup.dropLocalCheckpoint(quant.cents)
      Dedup.dropLocalCheckpoint(quant.csubs)
      out
    })

  /** The shared trained coarse centroids (k-means, production operating
    * point) — identical to `KMeans.fit(embeddings, vec_id, embedding,
    * ivfProdK, 2)`, computed once per (process, dir).
    */
  def cents(s: SparkSession, dir: String, pq: PqParams): DataFrame =
    frameOf(s, quantRows(s, dir, pq).cents)

  /** The shared full-corpus trained quantizer — identical to
    * `VectorIndex.train(embeddings, …, ivfProdK, 2, pq)`, computed once per
    * (process, dir).
    */
  def quantizer(s: SparkSession, dir: String, pq: PqParams): IvfadcQuantizer = {
    val q = quantRows(s, dir, pq)
    IvfadcQuantizer(frameOf(s, q.cents), frameOf(s, q.csubs), pq)
  }

  /** Path of the shared PERSISTED index (quantizer + full-corpus encode,
    * committed as generation 1 by [[VectorIndex.write]]), built once per
    * (process, dir). Callers must treat it as READ-ONLY — mutation gates go through
    * [[copyIndex]].
    */
  def indexPath(s: SparkSession, dir: String, pq: PqParams): String =
    indexCache.computeIfAbsent(keyOf(dir, pq), _ => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_ann_shared_index").toString
      val quant = quantizer(s, dir, pq)
      VectorIndex.write(quant,
        VectorIndex.encode(embOf(s, dir), col("vec_id"), col("embedding"), quant),
        path)
      Runtime.getRuntime.addShutdownHook(new Thread(() => rm(new java.io.File(path))))
      path
    })

  /** A fresh PRIVATE copy of the shared index for a mutation gate (upsert/
    * split/reindex), so the expensive train/encode/write runs once per
    * process while every mutation still starts from a pristine index.
    * Caller deletes the copy.
    *
    * Files are HARDLINKED, not copied (VERDICT r15 #7: the byte copy
    * dominated the mutation gates' wall time — ~3 s of every suite run).
    * Linking is sound because every index mutation is create/delete/
    * rename-only: parquet never modifies a file in place (dynamic
    * partition overwrite deletes old part files — unlinking one name
    * leaves the pristine tree's inode intact — and writes fresh ones),
    * every commit writes a NEW manifest file (tmp-write + rename to the
    * next generation's name), and the one in-place touch in the
    * codebase (`restampLease`'s mtime bump) targets the `maintenance_lease`
    * file, which exists only WHILE a writer holds the index — the settled
    * shared index has none, so a mutation gate's lease is always a fresh
    * private inode. Only `.parquet` part files are linked (they carry all
    * the bytes); metadata files (`_SUCCESS`, manifests) are real
    * copies, because Hadoop's RawLocalFileSystem `create(overwrite=true)`
    * TRUNCATES an existing file in place — on a shared inode that would
    * reach back into the pristine tree. Link failures (cross-device,
    * unsupported fs) fall back to a real copy.
    */
  def copyIndex(s: SparkSession, dir: String, pq: PqParams): String = {
    val src = new java.io.File(indexPath(s, dir, pq))
    val dst = java.nio.file.Files.createTempDirectory("graft_ann_index_copy").toFile
    copyDir(src, dst)
    dst.toString
  }

  /** Hardlink-aware recursive copy (see [[copyIndex]]'s linking rationale:
    * only `.parquet` part files are linked; everything else is a real copy
    * because RawLocalFileSystem's create(overwrite) truncates in place).
    * Exposed package-wide so every index copy shares the one policy. */
  private[graft] def copyDir(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).toSeq.flatten
        .foreach(f => copyDir(f, new java.io.File(dst, f.getName)))
    } else {
      def realCopy(): Unit = {
        java.nio.file.Files.copy(src.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
      if (src.getName.endsWith(".parquet"))
        try { java.nio.file.Files.createLink(dst.toPath, src.toPath); () }
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          realCopy()
        }
      else realCopy()
    }

  private[graft] def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
    ()
  }
}
