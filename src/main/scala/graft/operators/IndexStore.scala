package graft.operators

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import IndexStore._

/** The on-disk format of a persisted [[VectorIndex]], in one place: the
  * generation manifest (the one commit record), the cell stage and
  * [[settled]], garbage collection, [[recover]] and the single-writer
  * lease. [[VectorIndex]] mixes it in; train, encode and search stay there.
  */
trait IndexStore extends org.apache.spark.internal.Logging {

  // ---- the cell stage: the one way a mutation changes live cells ----------

  protected def cellStage(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/cells_staging")

  /** Change live cells through the cell stage. `rows` (cell-clustered and
    * materialized) are staged complete, partitioned by cell; then `cents`,
    * a split's new centroid table, in the next generation's cents
    * directory; and last the stage's record, which is the whole data
    * commit: the absolute count of each cell it names, `mark` (a stream's
    * absolute applied mark) and the cents directory. [[settled]] then moves
    * the staged cells in and commits the record. With `append` the staged
    * files join their live cells; otherwise each staged cell replaces its
    * live one, and a cell counted 0 loses its directory.
    *
    * Nothing may commit between `snap` and the record's commit: its gc
    * would drop the staged cents directory. So a writer that widens the
    * schema does so before it calls this.
    */
  protected def stageCells(s: SparkSession, snap: IndexSnapshot, rows: DataFrame,
      counts: Map[Long, Long], append: Boolean = false,
      mark: Option[(Option[String], Long)] = None,
      cents: Option[DataFrame] = None): IndexSnapshot = {
    val stage = cellStage(snap.path)
    rows.write.mode("overwrite").partitionBy("cell").parquet(stage.toString)
    val record = graft.core.Json.obj()
    putCounts(record.putArray("cells"), counts)
    record.put("append", append)
    mark.foreach(putMark(record.putObject("mark"), _))
    cents.foreach { c =>
      val dir = stagedDirName(snap, "cents")
      c.write.mode("overwrite").parquet(s"${snap.path}/$dir")
      record.put("cents", dir)
    }
    if (!publish(hadoopFs(s, snap.path), new org.apache.hadoop.fs.Path(stage, "_recount.tmp"),
        new org.apache.hadoop.fs.Path(stage, "_recount"), graft.core.Json.write(record)))
      throw new java.io.IOException(s"completing the cell stage at ${snap.path} failed")
    settled(s, snap)
  }

  /** Finish an interrupted [[stageCells]] and return the committed
    * snapshot. A complete stage (one carrying its record, `_recount`)
    * moves each staged cell in — idempotent, a re-run skips files and
    * cells already moved — deletes the cells it counts 0 and commits the
    * record; only then is the stage dropped. The record's values are
    * absolute, so committing it twice changes nothing. An incomplete stage
    * changed nothing and is dropped. Every mutation resolves its snapshot
    * through here, so no writer builds on a half-moved codes directory or
    * a stale occupancy.
    */
  protected def settled(s: SparkSession, snap: IndexSnapshot): IndexSnapshot = {
    import org.apache.hadoop.fs.Path
    val fs = hadoopFs(s, snap.path)
    val stage = cellStage(snap.path)
    if (!fs.exists(stage)) snap
    else {
      val recordFile = new Path(stage, "_recount")
      val next =
        if (!fs.exists(recordFile)) snap
        else {
          val in = fs.open(recordFile)
          val record = try graft.core.Json.mapper.readTree(in) finally in.close()
          // a stage completed by an older writer holds only the counts
          val counts = countsIn(if (record.isArray) record else record.get("cells"))
          val append = record.path("append").asBoolean(false)
          val codes = new Path(snap.partPath("codes"))
          fs.listStatus(stage).map(_.getPath).filter(_.getName.startsWith("cell="))
            .foreach { staged =>
              val live = new Path(codes, staged.getName)
              val moves =
                if (append && fs.exists(live))
                  fs.listStatus(staged).map(f => f.getPath -> new Path(live, f.getPath.getName))
                else { fs.delete(live, true); Array(staged -> live) }
              moves.foreach { case (from, to) =>
                if (!fs.rename(from, to))
                  throw new java.io.IOException(s"moving $from into $to failed")
              }
            }
          counts.collect { case (c, 0L) => c }
            .foreach(c => fs.delete(new Path(codes, s"cell=$c"), true))
          commit(s, snap)(m => m.copy(
            dirs = m.dirs ++ Option(record.get("cents")).map("cents" -> _.asText),
            occupancy = m.occupancy -- counts.keys ++ counts.filter(_._2 > 0),
            applied = m.applied ++ Option(record.get("mark")).map(markIn)))
        }
      fs.delete(stage, true)
      next
    }
  }

  protected def settled(s: SparkSession, path: String): IndexSnapshot =
    settled(s, snapshot(s, path))

  protected def hadoopFs(s: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)

  // ---- generation manifest: the one commit record ---------------------------

  type IndexSnapshot = IndexStore.IndexSnapshot

  protected def emptySnapshot(path: String) = IndexSnapshot(path, 0L,
    Map.empty, new StructType(), Map.empty, Map.empty, Set.empty)

  /** The persisted parts of an index, each a `<part>_gen_N` directory. */
  protected val indexParts = Seq("cents", "codebook", "codes")

  private val ManifestRe = "manifest-(\\d{9})".r
  /** Generation-staged directories: the parts plus reindex's corpus stage. */
  private val StagedRe = "(cents|codebook|codes|corpus)_gen_(\\d+)".r
  private def manifestFile(path: String, gen: Long) =
    new org.apache.hadoop.fs.Path(f"$path/manifest-$gen%09d")

  /** Generation numbers of all committed manifests at the index root. */
  private def manifestGens(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[Long] =
    // ONLY a missing root means "no index yet". Any other IO failure must
    // propagate: swallowing it would resolve a live index as absent.
    try fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestRe(g) => g.toLong }
      .sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Resolve the CURRENT committed generation — one read of the newest
    * manifest. This is the reader entry point: resolve once, then load
    * every part through the snapshot.
    */
  def snapshot(s: SparkSession, path: String): IndexSnapshot =
    latest(s, path).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed index at $path"))

  protected def latest(s: SparkSession, path: String): Option[IndexSnapshot] = {
    val fs = hadoopFs(s, path)
    // two commits landing between the listing and the read GC the listed
    // manifest: list again
    @scala.annotation.tailrec
    def attempt(left: Int): Option[IndexSnapshot] =
      manifestGens(fs, path).lastOption match {
        case None => None
        case Some(gen) => scala.util.Try(readManifest(fs, path, gen)) match {
          case scala.util.Success(snap) => Some(snap)
          case scala.util.Failure(_: java.io.FileNotFoundException) if left > 0 =>
            attempt(left - 1)
          case scala.util.Failure(e) => throw e
        }
      }
    attempt(3)
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem, path: String,
      gen: Long): IndexSnapshot = {
    val in = fs.open(manifestFile(path, gen))
    val root = try graft.core.Json.mapper.readTree(in) finally in.close()
    def elems(field: String) = root.get(field).elements().asScala.toSeq
    val dirs = root.get("dirs")
    IndexSnapshot(path, gen,
      dirs.fieldNames().asScala.map(p => p -> dirs.get(p).asText).toMap,
      org.apache.spark.sql.types.DataType.fromJson(root.get("schema").toString)
        .asInstanceOf[StructType],
      countsIn(root.get("occupancy")),
      elems("applied").map(markIn).toMap,
      elems("retain").map(_.asText).toSet)
  }

  private def manifestJson(snap: IndexSnapshot): String = {
    val json = graft.core.Json
    val root = json.obj()
    val dirs = root.putObject("dirs")
    snap.dirs.toSeq.sorted.foreach { case (p, d) => dirs.put(p, d) }
    root.replace("schema", json.parse(snap.schema.json))
    putCounts(root.putArray("occupancy"), snap.occupancy)
    val applied = root.putArray("applied")
    snap.applied.toSeq.sortBy(_._1.getOrElse(""))
      .foreach(mark => putMark(applied.addObject(), mark))
    val retain = root.putArray("retain")
    snap.retain.toSeq.sorted.foreach(d => retain.add(d))
    json.write(root)
  }

  /** Per-cell counts as `[[cell, n], ...]`, in the manifest's occupancy
    * and in the stage record.
    */
  private def putCounts(arr: ArrayNode, counts: Map[Long, Long]): Unit =
    counts.toSeq.sorted.foreach { case (c, n) => arr.addArray().add(c).add(n) }

  private def countsIn(arr: JsonNode): Map[Long, Long] =
    arr.elements().asScala.map(e => e.get(0).asLong -> e.get(1).asLong).toMap

  /** An applied mark as `{"stream": id or null, "batch": n}`, in the
    * manifest and in the stage record.
    */
  private def putMark(e: ObjectNode, mark: (Option[String], Long)): Unit = {
    mark._1.fold(e.putNull("stream"))(e.put("stream", _))
    e.put("batch", mark._2)
  }

  private def markIn(e: JsonNode): (Option[String], Long) =
    Option(e.get("stream")).filterNot(_.isNull).map(_.asText) -> e.get("batch").asLong

  /** The directory a swap of `part` must stage its replacement into — the
    * next generation's name, deterministic from the current snapshot so a
    * crashed-and-retried swap restages the same target.
    */
  protected def stagedDirName(snap: IndexSnapshot, part: String): String =
    s"${part}_gen_${snap.gen + 1}"

  /** COMMIT a mutation: write the next manifest — `change` applied to the
    * current one, every field it leaves alone carried forward — via
    * tmp-file + rename-to-fresh-name, atomic on HDFS and the local fs.
    * Readers always resolve the newest complete manifest, so the commit is
    * all-or-nothing for every field at once. A commit that swaps
    * directories retains the superseded ones for in-flight readers; a
    * metadata-only commit carries the retained set forward unchanged.
    * Then garbage-collect ([[gc]]). Caller must hold the writer lease.
    */
  protected def commit(s: SparkSession, snap: IndexSnapshot)(
      change: IndexSnapshot => IndexSnapshot): IndexSnapshot = {
    val fs = hadoopFs(s, snap.path)
    val changed = change(snap)
    val next = changed.copy(gen = snap.gen + 1,
      retain =
        if (changed.dirs == snap.dirs) snap.retain
        else snap.dirs.values.toSet -- changed.dirs.values)
    val tmp = new org.apache.hadoop.fs.Path(
      s"${snap.path}/.manifest-tmp-${System.nanoTime()}")
    if (!publish(fs, tmp, manifestFile(snap.path, next.gen), manifestJson(next))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"manifest commit for generation ${next.gen} at ${snap.path} lost a " +
          "race — a concurrent writer committed despite the lease")
    }
    gc(s, next)
    next
  }

  /** Write `text` to `tmp`, then rename it to `dst`: a reader sees the
    * whole file or none. False when the rename did not happen.
    */
  private def publish(fs: org.apache.hadoop.fs.FileSystem, tmp: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path, text: String): Boolean = {
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    fs.rename(tmp, dst)
  }

  /** Drop everything the committed generation `snap` does not reference:
    * manifests older than its predecessor, generation directories outside
    * its live and retained sets (including staged-but-uncommitted debris
    * of a crashed swap) and stray manifest tmp files. Best-effort: what survives an IO failure is collected
    * on the next commit.
    */
  private def gc(s: SparkSession, snap: IndexSnapshot): Unit = {
    val fs = hadoopFs(s, snap.path)
    val keep = snap.dirs.values.toSet ++ snap.retain
    try fs.listStatus(new org.apache.hadoop.fs.Path(snap.path)).foreach { st =>
      st.getPath.getName match {
        case ManifestRe(g) if g.toLong < snap.gen - 1 => fs.delete(st.getPath, false)
        case n @ StagedRe(_, _) if !keep.contains(n) => fs.delete(st.getPath, true)
        case n if n.startsWith(".manifest-tmp-") => fs.delete(st.getPath, true)
        case _ => ()
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Repair an interrupted mutation — the one recovery entry point for
    * every mutation, idempotent and a no-op on a healthy index. A crash
    * before a commit leaves the committed generation untouched and the
    * staged work as unreferenced debris; a crash between a commit and its
    * gc leaves superseded directories; a crash once a cell stage is
    * complete leaves its record. The stage is rolled forward (or dropped
    * when incomplete) and the rest collected, so afterwards the index is
    * the one before or the one after the mutation and its root holds only
    * manifests and generation directories. Every later mutation does the
    * same first.
    */
  def recover(s: SparkSession, path: String): Unit =
    withWriterLease(s, path, "recover") {
      latest(s, path).foreach(snap => gc(s, settled(s, snap)))
    }

  // ---- single-writer lease -------------------------------------------------

  type ConcurrentIndexWriterException = IndexStore.ConcurrentIndexWriterException

  /** Per-thread re-entrancy count per index path: a maintenance op that
    * calls another (splitCell → upsertCore's caller, appendSink →
    * compactCells) re-enters
    * the lease it already holds instead of deadlocking on itself.
    */
  private val leaseDepths =
    new ThreadLocal[scala.collection.mutable.Map[String, Int]] {
      override def initialValue() = scala.collection.mutable.Map.empty[String, Int]
    }

  private def leaseFile(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/maintenance_lease")

  type LostIndexLeaseException = IndexStore.LostIndexLeaseException

  /** Run `body` holding the index's exclusive maintenance lease — a lease
    * file created with create-exclusive semantics (atomic on HDFS and on
    * the local fs), carrying holder id + op + wall time. A second writer
    * fails fast with [[ConcurrentIndexWriterException]]; a lease whose file
    * age exceeds `spark.graft.index.leaseTtlMs` (default 10 min) belongs to
    * a crashed holder and is reclaimed (via an atomic rename-to-tombstone,
    * so two reclaimers can never both win, and a fresh lease that slipped
    * in under the staleness check is put back untouched).
    *
    * While `body` runs, a daemon HEARTBEAT thread re-stamps the lease every
    * ttl/3, so a live holder's lease never goes stale no matter how long
    * the op runs — the TTL only ever reclaims genuinely dead holders. On
    * release, the lease is deleted ONLY if this writer still owns it; a
    * foreign lease (the reclaim fired anyway — e.g. the whole JVM was
    * paused past the TTL) is left in place for its rightful holder and the
    * op exits loudly with [[LostIndexLeaseException]].
    *
    * Readers (loadCodes/searchAdc*) are NOT serialized by the lease; their
    * consistency across swaps is the generation manifest's job.
    */
  private[graft] def withWriterLease[A](s: SparkSession, path: String,
      op: String)(body: => A): A = {
    val depths = leaseDepths.get()
    if (depths.getOrElse(path, 0) > 0) {
      depths(path) += 1
      try body finally { depths(path) -= 1; () }
    } else {
      val ttlMs = leaseTtlMs(s)
      val holder = acquireLease(s, path, op, ttlMs)
      val fs = hadoopFs(s, path)
      val p = leaseFile(path)
      val ownerTag = s"$holder $op"
      val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
      val stop = new java.util.concurrent.CountDownLatch(1)
      val beat = new Thread(() => {
        val period = math.max(ttlMs / 3, 100L)
        var live = true
        while (live && !stop.await(period, java.util.concurrent.TimeUnit.MILLISECONDS)) {
          restampLease(fs, p, ownerTag) match {
            case RestampResult.Stamped | RestampResult.Transient => ()
            case RestampResult.Lost => lost.set(true); live = false // reclaimed under us — go loud
          }
        }
      }, s"graft-lease-heartbeat-$op")
      beat.setDaemon(true)
      beat.start()
      depths(path) = 1
      // The heartbeat must be CONFIRMED DEAD before the release delete: a
      // beat caught between its ownership read and its re-stamp create
      // would resurrect the lease right after the delete — a zombie no
      // heartbeat maintains, blocking every writer until the TTL reclaim.
      // Idempotent; waits in 500 ms joins up to the cap.
      def beatStopped(maxWaitMs: Long): Boolean = {
        stop.countDown()
        val deadline = System.currentTimeMillis() + maxWaitMs
        while (beat.isAlive && System.currentTimeMillis() < deadline) beat.join(500)
        !beat.isAlive
      }
      // ownership-checked release: delete ONLY a lease this writer still
      // owns — deleting blindly would evict a reclaimer that took over
      // mid-op and silently admit a third writer. Idempotent (success path
      // releases eagerly so it can THROW on a foreign lease; the finally
      // re-runs it non-throwing for the exception path).
      var releaseDone = false
      def release(throwOnForeign: Boolean): Unit = if (!releaseDone) {
        releaseDone = true
        if (!beatStopped(60000L)) {
          // wedged in a slow fs call — deleting now could race its
          // re-stamp; leave the lease for the TTL reclaim (loud, bounded)
          logError(s"lease heartbeat for $op on $path did not stop in 60s " +
            "— leaving the lease in place for the TTL reclaim")
        } else readLease(fs, p) match {
          case Some(content) if content.startsWith(ownerTag) =>
            try { fs.delete(p, false); () } catch { case _: java.io.IOException => () }
          case Some(content) =>
            val msg = s"maintenance lease on $path held by [$content] at " +
              s"release of $op by [$holder] — leaving it in place; the TTL " +
              "reclaim fired against this live holder"
            if (throwOnForeign) throw LostIndexLeaseException(path, op, holder, content)
            else logError(msg)
          case None => () // already gone (reclaim in flight) — nothing to release
        }
      }
      try {
        val r = body
        beatStopped(60000L)
        if (lost.get()) // heartbeat saw the reclaim first — abort loudly
          throw LostIndexLeaseException(path, op, holder,
            readLease(fs, p).getOrElse("<missing>"))
        release(throwOnForeign = true)
        r
      } finally {
        depths.remove(path)
        try release(throwOnForeign = false)
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** [[withWriterLease]] with bounded-backoff retry on contention — the
    * streaming-sink acquisition mode (see [[appendSink]]): micro-batches
    * from concurrent lineages serialize instead of killing each other's
    * query. Backoff doubles 250 ms → 5 s; gives up (rethrowing the
    * contention) after `spark.graft.index.sinkLeaseWaitMs` (default 10 min,
    * = the default lease TTL, so a dead holder is always outlasted).
    */
  private[graft] def withWriterLeaseRetry[A](s: SparkSession, path: String,
      op: String)(body: => A): A = {
    val maxWaitMs = scala.util.Try(
      s.conf.get("spark.graft.index.sinkLeaseWaitMs", "600000").toLong)
      .getOrElse(600000L)
    val deadline = System.currentTimeMillis() + maxWaitMs
    var backoff = 250L
    while (true) {
      try return withWriterLease(s, path, op)(body)
      catch {
        case e: ConcurrentIndexWriterException =>
          if (System.currentTimeMillis() + backoff > deadline) throw e
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 5000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def leaseTtlMs(s: SparkSession): Long = scala.util.Try(
    s.conf.get("spark.graft.index.leaseTtlMs", "600000").toLong)
    .getOrElse(600000L)

  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](256)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), "UTF-8").trim)
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** @return the holder id stamped into the acquired lease */
  private def acquireLease(s: SparkSession, path: String, op: String,
      ttlMs: Long): String = {
    val fs = hadoopFs(s, path)
    val p = leaseFile(path)
    val holder = java.lang.management.ManagementFactory.getRuntimeMXBean.getName +
      "/t" + Thread.currentThread().getId
    def tryCreate(): Boolean =
      try {
        // overwrite=false IS the lock: exactly one concurrent creator wins
        val out = fs.create(p, false)
        try out.write(s"$holder $op ${System.currentTimeMillis()}\n".getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val stale =
        try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime > ttlMs
        catch { case _: java.io.FileNotFoundException => true } // holder just released
      val reclaimed = stale && tryReclaim(fs, p, ttlMs) && {
        // another reclaimer may win the re-create — that's fine (exactly one
        // writer emerges either way)
        tryCreate()
      }
      if (!reclaimed) {
        throw ConcurrentIndexWriterException(path, op,
          readLease(fs, p).getOrElse("unreadable lease"))
      }
    }
    holder
  }

  private[graft] sealed trait RestampResult
  private[graft] object RestampResult {
    case object Stamped extends RestampResult   // re-stamped; still the owner
    case object Transient extends RestampResult // fs hiccup / in-flight cycle; retry next beat
    case object Lost extends RestampResult      // lease is someone else's — go loud
  }

  /** Re-stamp the heartbeat's lease WITHOUT writing content — the r14
    * residual race closed. The old read-then-`create(overwrite=true)`
    * re-stamp could CLOBBER a reclaimer that completed its full tombstone
    * cycle (rename → verify-stale → delete → create) inside the read/write
    * window, replacing the reclaimer's lease with the old holder's and
    * leaving TWO JVMs each believing they own the index — persistently,
    * because every later beat re-affirmed the clobbered state.
    *
    * The staleness check ([[acquireLease]]/[[tryReclaim]]) reads only the
    * lease file's MTIME, so the re-stamp needs no content write at all:
    * `setTimes` bumps the mtime in place. The read→touch window still
    * exists, but its worst case is now harmless — touching a lease a
    * reclaimer just created keeps the reclaimer's lease FRESH (content
    * untouched; it survives as the one true lease) and the very next beat
    * reads the foreign tag and goes loud (Lost → the op aborts with
    * [[LostIndexLeaseException]]). No interleaving can vacate the lease
    * path (contenders always fail fast against a present lease) and none
    * can end with two surviving leases. Every arm is driven directly by
    * VectorIndexLifecycleSpec.
    */
  private[graft] def restampLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, ownerTag: String): RestampResult =
    readLease(fs, p) match {
      case Some(c) if c.startsWith(ownerTag) =>
        try { fs.setTimes(p, System.currentTimeMillis(), -1); RestampResult.Stamped }
        // incl. FileNotFound: an in-flight reclaim cycle holds the file
        // right now; the next beat sees its outcome (restored ours → stamp;
        // foreign → Lost)
        catch { case _: java.io.IOException => RestampResult.Transient }
      case Some(_) => RestampResult.Lost // reclaimed under us — go loud
      case None => RestampResult.Transient // released/mid-cycle; next beat resolves
    }

  /** Atomic stale-lease steal, closing the check-then-act race: RENAME the
    * lease to a unique tombstone (exactly one contender's rename succeeds —
    * the source vanishes for everyone else), then RE-VERIFY staleness on
    * the tombstone (rename preserves mtime): if a fresh lease slipped in
    * between the caller's staleness read and our rename, it is put straight
    * back and the steal is abandoned. Returns true when the path is clear
    * for a create attempt.
    */
  private def tryReclaim(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, ttlMs: Long): Boolean = {
    val tomb = new org.apache.hadoop.fs.Path(p.getParent,
      p.getName + ".reclaim." + System.nanoTime() + "." + Thread.currentThread().getId)
    val renamed = try fs.rename(p, tomb)
      catch { case _: java.io.IOException => false }
    if (!renamed) {
      // source vanished: the holder released or another reclaimer won the
      // rename — either way the path may now be free; let create decide
      try !fs.exists(p) catch { case _: java.io.IOException => false }
    } else {
      val stillStale = try
        System.currentTimeMillis() - fs.getFileStatus(tomb).getModificationTime > ttlMs
        catch { case _: java.io.IOException => false }
      if (stillStale) {
        try { fs.delete(tomb, false); () } catch { case _: java.io.IOException => () }
        true
      } else {
        // we stole a FRESH lease (holder re-stamped between check and
        // rename) — restore it; if its owner already re-created one, drop
        // the duplicate tombstone instead
        try { if (!fs.rename(tomb, p)) fs.delete(tomb, false); () }
        catch { case _: java.io.IOException =>
          try { fs.delete(tomb, false); () } catch { case _: java.io.IOException => () }
        }
        false
      }
    }
  }

  // ---- codes schema -------------------------------------------------------
  //
  // INVARIANT (superset-first): a writer that may ADD columns to the live
  // codes directory (stamped appends, metadata-carrying upserts) commits
  // the widened manifest schema BEFORE the data lands. Every crash window then leaves at worst a schema
  // claiming a column no file carries — an explicit-schema read returns it
  // as all-null — never a schema missing a column files DO carry (which
  // would silently drop stamps from a lossless rewrite).

  /** Fields normalized nullable: files written before a column existed
    * read it as null.
    */
  protected def nullableSchema(st: StructType): StructType =
    StructType(st.fields.map(_.copy(nullable = true)))

  /** Commit `incoming`'s new columns before the data carrying them lands;
    * the snapshot itself when nothing is new.
    */
  protected def widenSchema(s: SparkSession, snap: IndexSnapshot,
      incoming: StructType): IndexSnapshot = {
    val union = unionSchemas(snap.schema, nullableSchema(incoming))
    if (union.length == snap.schema.length) snap
    else commit(s, snap)(_.copy(schema = union))
  }

  /** Name-keyed field union, first-seen order. The writers here never
    * change a column's type, so a type conflict on a shared name (a caller
    * re-using a metadata column name with another type) is REFUSED loudly
    * instead of first-seen-silently-wins, which would surface as quietly
    * wrong explicit-schema reads far from the cause.
    */
  private[graft] def unionSchemas(a: StructType, b: StructType): StructType = {
    val byName = a.fields.map(f => f.name -> f).toMap
    b.fields.foreach { f =>
      byName.get(f.name).foreach { have =>
        require(have.dataType == f.dataType,
          s"codes schema drift on column '${f.name}': existing " +
            s"${have.dataType.simpleString} vs incoming " +
            s"${f.dataType.simpleString} — refusing to widen over a retyped " +
            "column (writers never retype)")
      }
    }
    StructType(a.fields ++ b.fields.filterNot(f => byName.contains(f.name)))
  }
}

object IndexStore {
  /** One committed generation of the index, read ONCE from its manifest —
    * the only commit record an index has:
    *
    *   - `dirs`: part (`cents`, `codebook`, `codes`) → directory;
    *   - `schema`: the full-rows schema of the codes (the union of every
    *     column ever written there — explicit-schema reads never scan
    *     footers);
    *   - `occupancy`: vectors per cell;
    *   - `applied`: per-stream applied-batch high-water marks, keyed by the
    *     raw stream id (None = the unscoped lineage);
    *   - `retain`: the previous data generation's directories, kept for
    *     in-flight readers until the next directory swap.
    *
    * Every part path derived from one snapshot belongs to the same
    * committed generation, so a reader that resolves a snapshot and then
    * loads quantizer + codes through it never observes a mixed-generation
    * index. The superseded directories outlive one directory swap however
    * many metadata-only commits (appends, upserts) follow it; only a
    * reader spanning TWO swaps fails, loudly, on the missing files.
    */
  final case class IndexSnapshot(path: String, gen: Long,
      dirs: Map[String, String], schema: StructType,
      occupancy: Map[Long, Long], applied: Map[Option[String], Long],
      retain: Set[String]) {
    def partPath(part: String): String = s"$path/${dirs(part)}"
  }

  /** A second concurrent maintenance writer was detected and refused. Every
    * mutation here (append/upsert/compact/split/reindex and their
    * recoveries) documents single-writer semantics; this makes a violation
    * fail fast instead of silently corrupting the index.
    */
  final case class ConcurrentIndexWriterException(path: String, op: String,
      holder: String) extends RuntimeException(
    s"index at $path is held by another maintenance writer [$holder] — " +
      s"refusing $op; maintenance is single-writer (a crashed holder's " +
      "lease expires after spark.graft.index.leaseTtlMs, default 10 min)")

  /** Thrown on exit from a maintenance op whose lease was observed held by
    * ANOTHER writer mid-op (the TTL reclaim fired against a live-but-slow
    * holder — e.g. a long encode inside [[reindex]] starved the heartbeat
    * past the TTL). The op's mutations may have interleaved with the
    * reclaimer's; the index should be verified ([[recover]],
    * `refreshOccupancy`) before further maintenance. The heartbeat
    * (period ttl/3) makes this practically unreachable for healthy JVMs —
    * it exists so the failure is LOUD, never silent.
    */
  final case class LostIndexLeaseException(path: String, op: String,
      holder: String, observed: String) extends RuntimeException(
    s"maintenance lease on $path was lost mid-$op: this writer is [$holder] " +
      s"but the lease now reads [$observed] — the TTL reclaim fired against " +
      "a live holder; mutations may have interleaved, verify the index " +
      "before further maintenance")
}
