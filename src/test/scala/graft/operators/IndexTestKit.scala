package graft.operators

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FileSystem, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local file system under the `crash` test scheme, its mutating calls
  * (create, rename, delete, mkdirs) counted and logged — and, once armed,
  * failed: every mutating call from the Nth on throws, as if the writer's
  * process died at that call. Reads keep working, so what runs after
  * [[CrashFileSystem.arm]] resets sees exactly the files the "dead" writer
  * left. No checksum layer: each logical call is one counted op.
  */
final class CrashFileSystem extends FilterFileSystem(new CrashRawFileSystem) {
  import CrashFileSystem.mutate

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    fs.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    fs.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutate("mkdirs", f); fs.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = { mutate("mkdirs", f); fs.mkdirs(f) }
  override def rename(src: Path, dst: Path): Boolean = {
    mutate("rename", dst); fs.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutate("delete", f); fs.delete(f, recursive)
  }
}

/** The raw local file system answering to the `crash` scheme. */
final class CrashRawFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crash:///")
}

object CrashFileSystem {
  private val calls = new AtomicLong()
  @volatile private var failFrom = Long.MaxValue
  private val ops = new ConcurrentLinkedQueue[String]()

  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.crash.impl", classOf[CrashFileSystem].getName)

  /** `local` (an absolute local path) seen through the crash scheme. */
  def path(local: String): String = s"crash://$local"

  /** Restart the op count; every mutating call from the `failAt`th fails. */
  def arm(failAt: Long = Long.MaxValue): Unit = {
    calls.set(0); ops.clear(); failFrom = failAt
  }

  def mutations: Long = calls.get

  /** "op path" per mutating call since the last [[arm]], in call order. */
  def log: Seq[String] = ops.asScala.toSeq

  private def mutate(op: String, p: Path): Unit = {
    val n = calls.incrementAndGet()
    if (n >= failFrom)
      throw new java.io.IOException(s"injected crash at mutating call $n: $op $p")
    ops.add(s"$op ${p.toUri.getPath}")
  }
}

/** What an index root may hold between mutations: manifests and generation
  * directories, nothing else.
  */
object IndexRoot {
  val Entry = "manifest-\\d{9}|(cents|codebook|codes)_gen_\\d+".r

  /** The root's entries that [[Entry]] does not admit; `.<name>.crc` files
    * are the local file system's checksums of the entries themselves.
    */
  def stray(path: String): Seq[String] =
    new java.io.File(path).list().toSeq
      .filterNot(n => n.startsWith(".") && n.endsWith(".crc"))
      .filterNot(Entry.matches).sorted
}

/** Hand edits of an index's commit record, for specs that need a state a
  * crash or an operator could leave behind.
  */
object ManifestSurgery {
  /** Commit an edited copy of the newest manifest as the next generation. */
  def amend(spark: SparkSession, path: String)(edit: ObjectNode => Unit): Unit = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val gen = VectorIndex.snapshot(spark, path).gen
    val in = fs.open(new Path(f"$path/manifest-$gen%09d"))
    val root = try graft.core.Json.mapper.readTree(in).asInstanceOf[ObjectNode]
      finally in.close()
    edit(root)
    val out = fs.create(new Path(f"$path/manifest-${gen + 1}%09d"), false)
    try out.write(graft.core.Json.write(root).getBytes("UTF-8")) finally out.close()
  }

  /** Drop every applied mark: the state a lost commit leaves. */
  def dropAppliedMarks(spark: SparkSession, path: String): Unit =
    amend(spark, path)(_.putArray("applied"))

  /** Drop the applied mark of one stream (None = the unscoped lineage). */
  def dropAppliedMark(spark: SparkSession, path: String,
      streamId: Option[String]): Unit = amend(spark, path) { root =>
    val kept = root.get("applied").elements().asScala.filterNot { e =>
      val sid = Option(e.get("stream")).filterNot(_.isNull).map(_.asText)
      sid == streamId
    }.toSeq
    val arr = root.putArray("applied")
    kept.foreach(e => arr.add(e))
  }
}
