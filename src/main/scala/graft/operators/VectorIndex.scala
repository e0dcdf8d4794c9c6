package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.VectorFunctions.{argminL2, l2sq}

/** Product-quantization layout shared by every side of an IVFADC index:
  * `m` subspaces of `subDim` components each, `k` code words per subspace.
  */
final case class PqParams(m: Int, subDim: Int, k: Int)

/** A trained, FROZEN IVFADC quantizer: the coarse cell centroids
  * (`cents`: cent_id, cent) and the shared residual PQ codebook
  * (`csubs`: cent_id, m, centsub). Together with a codes table this is the
  * whole persistable state of the index — raw vectors are never stored.
  */
final case class IvfadcQuantizer(cents: DataFrame, csubs: DataFrame, pq: PqParams)

/** Persistable, APPENDABLE IVFADC vector index — the ANN dual of
  * [[Dedup.minHashIncrementalIndexed]] and the vector analogue of the
  * reference's incremental cursor sync (integrations/shopify/shopify.go:39-64
  * — scan only the new window, persist the cursor): train once on the
  * corpus, persist `(vec_id, cell, m, code)` + the quantizer to parquet,
  * then index each fresh batch by assigning + encoding UNDER THE FROZEN
  * QUANTIZER and appending its codes — the corpus is never re-read,
  * re-shuffled, or re-trained on the append path.
  *
  * Why this is sound: [[encode]] is row-wise (broadcast-argmin cell
  * assignment → broadcast centroid residual → broadcast-codebook subspace
  * argmin — the VECTOR side is a map-only pass with no shuffle; the only
  * shuffles in the plan are the tiny quantizer-build aggregations that sit
  * beneath their own broadcast build sides, spec-asserted), so
  * `encode(corpus) ∪ encode(batch)` under a frozen quantizer is exactly
  * `encode(corpus ∪ batch)` — an appended index answers queries
  * identically to a from-scratch encode of the combined corpus (the
  * `ann_ivfpq_append` oracle gate pins this cross-engine). What an append
  * canNOT do is improve the quantizer: cells and code words stay those of
  * the training corpus, the standard IVFADC contract (FAISS trains the
  * quantizer once and `add()`s batches under it; drift is handled by
  * periodic retrain + reindex, which here is just [[train]] + [[encode]]
  * over the new corpus).
  *
  * Scale shape: the codes table is ~`m` small ints per vector; [[write]]
  * lays it out partitioned by `cell`, so a search that probes `nprobe` of
  * `k` cells can prune to `nprobe/k` of the files. [[searchAdc]] touches
  * codes only — one shuffle, the per-(query, neighbor) ADC sum; the
  * quantizer (k + m·k rows) broadcasts everywhere.
  *
  * Conventions match the `ann_ivfpq_*` gates (graft.queries
  * .SimilarityQueries): residual encoding, argmin and rank ties broken on
  * id, fixed-order ADC association — so oracle determinism carries over.
  */
object VectorIndex extends IndexStore {

  /** (idAs, carry…, m, sub): a vector frame exploded into its `m` subspace
    * slices — the one definition of the subspace layout (codebook, corpus
    * encode, and query sides all slice through here). Input must expose
    * `vec_id` and `embedding`.
    */
  private def subspaces(df: DataFrame, idAs: String, pq: PqParams,
      carry: Seq[String] = Nil): DataFrame = {
    val ms = array((0 until pq.m).map(lit(_)): _*)
    df.select(col("vec_id").as(idAs) +: carry.map(col) :+
        explode(ms).as("m") :+ col("embedding"): _*)
      .select(col(idAs) +: carry.map(col) :+ col("m") :+
        slice(col("embedding"), col("m") * pq.subDim + 1, lit(pq.subDim)).as("sub"): _*)
  }

  /** Element-wise residual x − cent(cell): broadcast k-row centroid join,
    * double arithmetic in array order (the oracle's list_transform order).
    */
  private def residuals(assigned: DataFrame, cents: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    assigned
      .join(broadcast(cents.select(col("cent_id").as("cell"), col("cent").as("__cent"))), "cell")
      .select(col("vec_id") +: col("cell") +:
        zip_with(col("embedding"), col("__cent"), (x, c) => x.cast("double") - c)
          .as("embedding") +: carry.map(col): _*)

  /** Codebook collapsed to one row per subspace (k sorted code words, so
    * ArgminL2's first-wins tie-break realizes `dist ASC, cent_id ASC`).
    */
  private def codebookOf(csubs: DataFrame): DataFrame = csubs
    .groupBy(col("m"))
    .agg(array_sort(collect_list(struct(col("cent_id"), col("centsub")))).as("__cs"))
    .select(col("m"),
      transform(col("__cs"), c => c.getField("cent_id")).as("__cids"),
      transform(col("__cs"), c => c.getField("centsub")).as("__csubs"))

  /** Train the quantizer on a corpus: k-means coarse cells
    * ([[KMeans.fit]]: seeded from the first `kCells` corpus rows by id,
    * fixed `iters`, deterministic) plus the shared residual codebook — the
    * residual sub-vectors of the first `pq.k` corpus rows (FAISS trains
    * one codebook pooled across cells). The codebook is localCheckpoint'd
    * (m·k rows) so its corpus-row scan runs once, not per consumer.
    */
  def train(corpus: DataFrame, id: Column, emb: Column,
      kCells: Int, iters: Int, pq: PqParams): IvfadcQuantizer = {
    val cents = KMeans.fit(corpus, id, emb, kCells, iters)
    val seeds = corpus.orderBy(id).limit(pq.k)
      .select(id.as("vec_id"), emb.as("embedding"))
    val assignedSeeds = Dedup.assignCells(seeds, col("vec_id"), col("embedding"), cents)
      .select(col("__id").as("vec_id"), col("cell"), col("__v").as("embedding"))
    val csubs = subspaces(residuals(assignedSeeds, cents), "cent_id", pq)
      .withColumnRenamed("sub", "centsub")
      .localCheckpoint()
    IvfadcQuantizer(cents, csubs, pq)
  }

  /** Encode vectors under a FROZEN quantizer → (vec_id, cell, m, code).
    * Row-wise: broadcast-argmin assignment, broadcast residual subtraction,
    * broadcast-codebook subspace argmin — the vector side reaches the output
    * without a shuffle; the quantizer-build aggregations (collect_list over
    * k centroids / m·k codebook rows) do shuffle, but only beneath their
    * BroadcastExchange build sides (VectorIndexSpec walks the plan and
    * asserts exactly this), which is what makes appends corpus-free.
    *
    * `meta` names FILTERABLE METADATA columns of `vectors` to carry onto
    * every code row — the storage side of filtered ANN search. Every
    * production vector query rides with a predicate (source, lang, date,
    * licence); storing the metadata ON the code rows (repeated
    * per subspace — parquet RLE makes the repetition ~free) means a
    * filtered search evaluates the predicate INSIDE the codes scan, before
    * any ADC scoring, instead of post-filtering a top-k and starving. The
    * carry is a pure map-pass pass-through: no join, no shuffle — the
    * encode plan shape is unchanged (VectorIndexSpec's zero-exchange
    * assertion covers it).
    */
  def encode(vectors: DataFrame, id: Column, emb: Column,
      quant: IvfadcQuantizer, meta: Seq[String] = Nil): DataFrame = {
    val assigned = Dedup.assignCells(vectors, id, emb, quant.cents, meta)
      .select(col("__id").as("vec_id") +: col("cell") +:
        col("__v").as("embedding") +: meta.map(col): _*)
    subspaces(residuals(assigned, quant.cents, meta), "vec_id", quant.pq, "cell" +: meta)
      .join(broadcast(codebookOf(quant.csubs)), "m")
      .select(col("vec_id") +: col("cell") +: col("m") +:
        element_at(col("__cids"), argminL2(col("sub"), col("__csubs")) + 1).as("code") +:
        meta.map(col): _*)
  }

  /** ADC search over a codes table: probe the query's `nprobe` nearest
    * cells, compute the query's residual against EACH probed cell's
    * centroid, and rank candidates by the fixed-order sum over subspaces of
    * the exact distance to the neighbor's assigned code word. The corpus
    * side touches codes only; the single wide exchange is the
    * per-(query, neighbor) ADC sum.
    *
    * @param queries (query_id, q_emb) — raw query vectors
    */
  /** Top-`nprobe` cells per query: 1-row broadcast centroid array, sorted
    * (dist, cent_id) structs so array_sort's lexicographic order IS the
    * `ORDER BY dist ASC, cent_id ASC` tie-break of the oracle.
    * → (query_id, q_emb, cell), `nprobe` rows per query.
    */
  private def probeFrame(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val centArr = broadcast(cents
      .agg(array_sort(collect_list(struct(col("cent_id"), col("cent")))).as("__cs")))
    queries
      .crossJoin(centArr)
      .select(col("query_id"), col("q_emb"),
        explode(transform(
          slice(array_sort(transform(col("__cs"), c =>
            struct(l2sq(col("q_emb"), c.getField("cent")).as("dist"),
              c.getField("cent_id").as("cent_id")))), 1, nprobe),
          x => x.getField("cent_id"))).as("cell"))
  }

  def searchAdc(codes: DataFrame, quant: IvfadcQuantizer, queries: DataFrame,
      nprobe: Int, topK: Int): DataFrame = {
    val centsByCell = quant.cents.select(col("cent_id").as("cell"), col("cent").as("__cent"))
    val probed = probeFrame(queries, quant.cents, nprobe)
      .join(broadcast(centsByCell), "cell")
      .select(col("query_id").as("vec_id"), col("cell"),
        zip_with(col("q_emb"), col("__cent"), (x, c) => x.cast("double") - c)
          .as("embedding"))
    val qsubs = subspaces(probed, "query_id", quant.pq, Seq("cell"))
      .withColumnRenamed("sub", "qsub")
    val w = Window.partitionBy(col("query_id")).orderBy(col("est_dist").asc, col("neighbor_id"))
    // one conditional sum per subspace, then a FIXED-ORDER left-associated
    // addition — a plain sum() would merge terms in shuffle-fetch order and
    // a 1-ulp association difference between tied neighbors would defeat
    // the neighbor_id tie-break (same device as the ann_pq_adc gate)
    val terms = (0 until quant.pq.m).map(i =>
      sum(when(col("m") === i, col("term"))).as(s"t$i"))
    codes
      .join(broadcast(quant.csubs.withColumnRenamed("cent_id", "code")), Seq("m", "code"))
      .join(broadcast(qsubs), Seq("cell", "m"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("term", l2sq(col("qsub"), col("centsub")))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(terms.head, terms.tail: _*)
      .withColumn("est_dist", (0 until quant.pq.m).map(i => col(s"t$i")).reduce(_ + _))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("neighbor_id"), round(col("est_dist"), 4).as("est_dist"),
        col("rn"))
  }

  /** Observation name under which a PREDICATE-filtered pruned search
    * reports its top-k starvation: `returned` (result rows that
    * materialized) vs `expected` (queries × topK). A filtered search
    * silently returns <k per query when the probed cells hold too few
    * matches — the one remaining silent cap in the index; this is the
    * no-silent-caps accounting ([[Dedup.CapObservation]]'s discipline)
    * that makes it observable. Read with [[prunedShortfall]] after an
    * action on the returned frame. Unfiltered searches attach nothing
    * (they under-fill only when the probed cells themselves hold <k
    * vectors — the plain ANN recall trade, not a cap).
    */
  val ShortfallObservation = "ann_pruned_shortfall"

  /** [[searchAdc]] with the probed cell set PUSHED DOWN over a persisted,
    * cell-partitioned codes table ([[write]]'s layout): the distinct
    * probed cells — at most |queries|·nprobe ids, a bounded query-side
    * list, so the driver collect touches no corpus data — become an IN
    * partition filter, and only the probed cells' code files are even
    * opened (~nprobe/k of the index; VectorIndexSpec asserts the
    * partition filter reaches the scan and the surviving directory
    * count). Results are identical to [[searchAdc]]: every ADC candidate
    * joins on a probed cell, so un-probed cells can contribute nothing.
    *
    * `predicate` is a METADATA PREDICATE pushed into the codes scan —
    * filtered ANN serving. The predicate (over columns carried by the
    * metadata-aware [[encode]]) composes with the probed-cell
    * partition filter, so on a persisted index BOTH reach the parquet
    * reader: partition pruning opens only the probed cells' files, and the
    * predicate lands in PushedFilters / the scan's data filters
    * (spec-asserted) — candidates are eliminated BEFORE any ADC scoring
    * work. That is what makes a selective filtered query return its full
    * `topK`: the top-k window ranks ONLY predicate-matching candidates
    * from the probed cells, instead of post-filtering an unfiltered top-k
    * and starving toward <k rows. (Matches fewer than k in the probed
    * cells → fewer rows, like any ANN search; raise nprobe for recall.)
    */
  def searchAdcPruned(codes: DataFrame, quant: IvfadcQuantizer, queries: DataFrame,
      nprobe: Int, topK: Int, predicate: Option[Column] = None): DataFrame = {
    // ONE bounded job (≤ queries × nprobe rows) serves both driver needs:
    // the distinct probed-cell set for the scan prune AND the query count
    // that pins the observation's expected total — no separate count job
    // on the queries source at frame-construction time.
    val probed = probeFrame(queries, quant.cents, nprobe)
      .agg(collect_set(col("cell")).as("cells"),
        countDistinct(col("query_id")).as("nq")).head()
    val cells = probed.getSeq[Any](0)
    val nQueries = probed.getLong(1)
    val pruned = codes.filter(col("cell").isin(cells: _*))
    val result = searchAdc(predicate.fold(pruned)(pruned.filter), quant, queries, nprobe, topK)
    predicate.fold(result) { _ =>
      // expected is well-defined even when EVERY query starves to zero rows
      // (count aggregates never null; 0·count keeps the expression
      // aggregate-legal). The observation name carries a per-call unique
      // suffix: Spark requires observed-metric names to be unique per plan,
      // and a composition of two filtered searches (union/join) would
      // otherwise fail analysis. prunedShortfall matches by prefix.
      val expected = nQueries * topK
      result.observe(
        s"$ShortfallObservation-${shortfallSeq.incrementAndGet()}",
        count(lit(1)).as("returned"),
        (lit(expected) + count(lit(1)) * 0L).as("expected"))
    }
  }
  private val shortfallSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Starvation accounting of an EXECUTED predicate-filtered
    * [[searchAdcPruned]] frame (run an action first — observed metrics
    * materialize with the action): Some(expected − returned), i.e. how many
    * of the queries×topK result slots the probed cells could not fill; None
    * if no filtered-search observation is in the plan or it has not
    * executed. A persistent nonzero shortfall under a selective predicate
    * is the raise-nprobe / partition-by-label signal.
    */
  def prunedShortfall(executed: DataFrame): Option[Long] = {
    // prefix-match: each filtered search stamps a unique-suffixed
    // observation (see searchAdcPruned); a plan composing several filtered
    // searches reports their SUMMED shortfall
    val shortfalls = executed.queryExecution.observedMetrics.collect {
      case (name, r)
          if name == ShortfallObservation ||
            name.startsWith(ShortfallObservation + "-") =>
        r.getAs[Number]("expected").longValue() -
          r.getAs[Number]("returned").longValue()
    }
    if (shortfalls.isEmpty) None else Some(shortfalls.sum)
  }

  /** Observation name carrying a widening search's attempt record:
    * `first_nprobe` / `first_shortfall` (the initial attempt) and
    * `widened_nprobe` (= first_nprobe when no widening was needed). Read
    * with [[wideningRecord]] after an action on the returned frame.
    */
  val WidenObservation = "ann_probe_widened"

  /** Starvation-DRIVEN probe widening — the documented response to a
    * nonzero [[prunedShortfall]] (r14 VERDICT #6), opt-in via this separate
    * entry point (plain [[searchAdcPruned]] callers keep the report-only
    * behavior). Runs the predicate-filtered pruned search at `nprobe` and
    * materializes it eagerly (localCheckpoint — the shortfall observation
    * only exists post-action); a zero shortfall returns that result with no
    * re-execution (the checkpoint serves the caller's action). A starved
    * attempt re-runs at `widenTo` probes — deliberately from scratch: the
    * widened probe set strictly contains the narrow one, but re-deriving
    * beats stitching partial per-cell rankings whose top-k windows differ.
    * Both attempts are accounted on the returned frame ([[Dedup]]'s
    * no-silent-work discipline, in reverse — no silent EXTRA cost either):
    * the widened run's own shortfall observation plus a
    * [[WidenObservation]] record of what the first attempt saw.
    *
    * At 100 TB the widening is per-QUERY-BATCH, not per-query: one starved
    * rare-label batch pays one extra bounded pruned scan (widenTo/k of the
    * index), while the common unfiltered/filled path never re-executes.
    */
  def searchAdcPrunedWidening(codes: DataFrame, quant: IvfadcQuantizer,
      queries: DataFrame, nprobe: Int, topK: Int, predicate: Column,
      widenTo: Int): DataFrame = {
    require(widenTo >= nprobe,
      s"widenTo ($widenTo) must be ≥ the initial nprobe ($nprobe)")
    def record(df: DataFrame, firstShortfall: Long, widened: Int): DataFrame =
      df.observe(s"$WidenObservation-${shortfallSeq.incrementAndGet()}",
        max(lit(nprobe)).as("first_nprobe"),
        max(lit(firstShortfall)).as("first_shortfall"),
        max(lit(widened)).as("widened_nprobe"))
    val first = searchAdcPruned(codes, quant, queries, nprobe, topK, Some(predicate))
    val materialized = first.localCheckpoint() // eager: one execution, reusable
    val starved = prunedShortfall(first).getOrElse(0L)
    if (starved == 0L || widenTo == nprobe)
      record(materialized, starved, nprobe)
    else {
      // the narrow attempt's checkpoint storage serves nothing downstream —
      // free it now rather than waiting on the ContextCleaner
      materialized.queryExecution.logical.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false); ()
        case _ => ()
      }
      record(
        searchAdcPruned(codes, quant, queries, widenTo, topK, Some(predicate)),
        starved, widenTo)
    }
  }

  /** The attempt record of an EXECUTED [[searchAdcPrunedWidening]] frame:
    * Some((firstNprobe, firstShortfall, widenedNprobe)); widenedNprobe ==
    * firstNprobe means the first attempt filled its top-k and nothing
    * widened. None when the frame carries no widening record or has not
    * executed.
    */
  def wideningRecord(executed: DataFrame): Option[(Int, Long, Int)] =
    executed.queryExecution.observedMetrics.collectFirst {
      case (name, r) if name.startsWith(WidenObservation + "-") =>
        (r.getAs[Number]("first_nprobe").intValue(),
          r.getAs[Number]("first_shortfall").longValue(),
          r.getAs[Number]("widened_nprobe").intValue())
    }

  /** Persist quantizer + codes as the index's next generation. Codes are
    * laid out partitioned by `cell`, so a search probing `nprobe` of `k`
    * cells can prune its scan to `nprobe/k` of the files — the layout IS
    * the coarse index on disk ([[searchAdcPruned]] exploits exactly this).
    * The per-cell occupancy (see [[cellOccupancy]]) rides the same
    * manifest commit, so the index carries its own skew accounting from
    * birth.
    *
    * Every part is staged COMPLETE in the next generation's directories
    * and published by one manifest commit: a fresh path commits
    * generation 1, and a rebuild of a live index never overwrites the
    * directories a concurrent reader may still be scanning. Applied-batch
    * marks carry over, so a replayed streaming batch stays refused.
    */
  def write(quant: IvfadcQuantizer, codes: DataFrame, path: String): Unit = {
    val s = codes.sparkSession
    withWriterLease(s, path, "write") {
      commitRebuild(s, latest(s, path).fold(emptySnapshot(path))(settled(s, _)),
        quant, codes)
    }
  }

  /** The full-rebuild commit shared by [[write]] and [[reindex]]: stage
    * cents, codebook and codes into the next generation's directories,
    * count occupancy off the staged codes, and flip the manifest once.
    */
  private def commitRebuild(s: SparkSession, snap: IndexSnapshot,
      quant: IvfadcQuantizer, codes: DataFrame): Unit = {
    val path = snap.path
    val dirs = indexParts.map(p => p -> stagedDirName(snap, p)).toMap
    def dst(part: String) = s"$path/${dirs(part)}"
    quant.cents.write.mode("overwrite").parquet(dst("cents"))
    quant.csubs.write.mode("overwrite").parquet(dst("codebook"))
    // cluster by cell before the partitioned write: without it every input
    // task emits a file into every cell directory (tasks × cells small
    // files — measured as the dominant cost of the index build); with it
    // each cell's rows sit in one task → one file per cell, and every
    // later reload/prune opens k files instead of tasks·k
    codes.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dst("codes"))
    val schema = nullableSchema(codes.schema)
    val occ = countsOf(cellOccupancy(s.read.schema(schema).parquet(dst("codes"))))
    commit(s, snap)(_.copy(dirs = dirs, schema = schema, occupancy = occ))
  }

  def loadQuantizer(s: SparkSession, path: String, pq: PqParams): IvfadcQuantizer =
    loadQuantizer(s, snapshot(s, path), pq)

  /** [[loadQuantizer]] against an already-resolved generation — the
    * consistent-read path: pair with [[loadCodes]] on the SAME snapshot and
    * the two parts are guaranteed to belong to one committed generation.
    */
  def loadQuantizer(s: SparkSession, snap: IndexSnapshot,
      pq: PqParams): IvfadcQuantizer =
    IvfadcQuantizer(
      s.read.parquet(snap.partPath("cents")),
      s.read.parquet(snap.partPath("codebook")), pq)

  def loadCodes(s: SparkSession, path: String): DataFrame =
    loadCodes(s, path, Nil)

  /** [[loadCodes]] keeping named metadata columns (stored by the
    * metadata-aware [[encode]]) alongside the search schema — the read
    * side of filtered ANN serving. Projection stays explicit so a search
    * never drags ingest bookkeeping (`__batch`/`__stream`) into its scan.
    */
  def loadCodes(s: SparkSession, path: String, meta: Seq[String]): DataFrame =
    loadCodes(s, snapshot(s, path), meta)

  /** [[loadCodes]] against an already-resolved generation (see
    * [[loadQuantizer]]'s snapshot overload).
    */
  def loadCodes(s: SparkSession, snap: IndexSnapshot,
      meta: Seq[String] = Nil): DataFrame =
    codesRead(s, snap)
      .select(col("vec_id") +: col("cell") +: col("m") +: col("code") +:
        meta.map(col): _*)

  /** Codes with EVERY stored column (streaming `__batch` stamps included,
    * whichever files carry them), read under the manifest's full-rows
    * schema — no footer scan; files predating a column read it as null.
    * [[loadCodes]] projects the search schema; maintenance paths need the
    * full rows to rewrite losslessly.
    */
  private def codesRead(s: SparkSession, snap: IndexSnapshot): DataFrame =
    s.read.schema(snap.schema).parquet(snap.partPath("codes"))

  private[graft] def loadCodesFull(s: SparkSession, path: String): DataFrame =
    codesRead(s, snapshot(s, path))

  /** Index a fresh batch into a persisted index: encode under the FROZEN
    * stored quantizer and append the codes — the persisted corpus codes are
    * untouched and the corpus itself is never read. The daily-ingest path.
    * Occupancy is maintained INCREMENTALLY (old per-cell counts + the fresh
    * batch's), so the accounting stays corpus-free too. Unstamped: a
    * re-run appends the batch again, so a crash is repaired by [[recover]]
    * alone, which leaves the index without the batch or with all of it.
    */
  def appendBatch(s: SparkSession, path: String, fresh: DataFrame,
      id: Column, emb: Column, pq: PqParams): Unit =
    withWriterLease(s, path, "appendBatch") {
      appendCodes(s, path, fresh, id, emb, pq, stamp = None, streamId = None)
    }

  /** THE ingest sequence, shared by the batch ([[appendBatch]]) and
    * streaming ([[appendSink]]) paths so the two can never drift: encode
    * under the frozen stored quantizer, cell-cluster BEFORE the eager
    * checkpoint (the append then reuses the materialized layout — one new
    * file per touched cell per batch, not one per (task, cell), with no
    * second pass), commit any new columns (superset-first), then add the
    * files to their live cells through the cell stage, whose one data
    * commit carries the new occupancy and the batch's applied mark — the
    * mark is committed only after the data it covers.
    */
  private def appendCodes(s: SparkSession, path: String, vectors: DataFrame,
      id: Column, emb: Column, pq: PqParams, stamp: Option[Long],
      streamId: Option[String]): Unit = {
    val snap = settled(s, path)
    val quant = loadQuantizer(s, snap, pq)
    val encoded = encode(vectors, id, emb, quant)
    val stamped = stamp.fold(encoded)(b => encoded.withColumn("__batch", lit(b)))
    val codes = streamId.fold(stamped)(sid => stamped.withColumn("__stream", lit(sid)))
      .repartition(col("cell")).localCheckpoint()
    val live = widenSchema(s, snap, codes.schema)
    val batch = countsOf(cellOccupancy(codes))
    stageCells(s, live, codes,
      batch.map { case (c, n) => c -> (live.occupancy.getOrElse(c, 0L) + n) },
      append = true,
      mark = stamp.map(b => streamId -> live.applied.get(streamId).fold(b)(_ max b)))
  }

  // ---- deletes / updates -------------------------------------------------

  /** Apply a change batch (updated vectors + deleted ids) onto a PERSISTED
    * index — the vector dual of [[Upsert.mergeLargeBase]] and of the
    * reference's incremental model, where a sync window carries updates,
    * not just inserts (integrations/shopify/shopify.go:39-64 re-syncs
    * *changed* rows). Under the frozen stored quantizer:
    *
    *   - only the CHANGED vectors are re-encoded ([[encode]] — map-only on
    *     the vector side, broadcast quantizer);
    *   - the corpus codes are split by broadcasting the (small) changed-id
    *     set — never re-encoded; the only shuffle is the cell-clustering of
    *     the TOUCHED partitions' rewrite, bounded by touched data, never
    *     the corpus;
    *   - only the TOUCHED cell partitions are rewritten (the old cells of
    *     changed ids ∪ the new cells of updated vectors — an update may
    *     move a vector between cells), through the cell stage;
    *     untouched cells keep their files byte-for-byte.
    *
    * Equivalence contract (the `ann_ivfpq_upsert` oracle gate pins it
    * cross-engine): after the upsert, the index answers exactly like a
    * from-scratch encode of (corpus − deleted) ∪ updated under the same
    * frozen quantizer — because [[encode]] is row-wise, removing rows and
    * re-encoding changed rows commutes with encoding the final corpus.
    *
    * An id appearing in both `updates` and `deletes` is treated as
    * UPDATED (the update carries newer content — last-write-wins, the
    * [[Upsert]] convention). An updated id absent from the index is an
    * insert. Bounded driver state: only cell ids (≤ |changes| + k values)
    * are ever collected; the rewritten partitions are materialized via
    * localCheckpoint (bounded by touched-cell codes + the change batch)
    * before the overwrite so the write never reads the path it replaces.
    *
    * CRASH WINDOW: the touched cells' rewrite goes through the cell stage
    * ([[stageCells]]), so a crash leaves the index before or after the
    * upsert once [[recover]] (or the next mutation) has run. Re-running
    * the same change batch is idempotent too: it converges the answers and
    * the occupancy to the exact post-upsert state (spec-pinned by the
    * crash-point sweep). Single-writer op, like all maintenance here.
    *
    * @param updates frame exposing `id`/`emb` — changed or new vectors
    * @param deletes single-column frame of ids to remove (tombstones)
    * @param meta    for a METADATA-CARRYING index, the filterable columns
    *   it was encoded with (see [[encode]]) — they must be present on
    *   `updates` so rewritten rows keep their metadata (a plain upsert on
    *   such an index would null the updated rows' metadata and silently
    *   exempt them from every filtered search)
    */
  def upsertBatch(s: SparkSession, path: String, updates: DataFrame,
      deletes: DataFrame, id: Column, emb: Column, pq: PqParams,
      meta: Seq[String] = Nil): Unit =
    withWriterLease(s, path, "upsertBatch") {
      val snap = settled(s, path)
      upsertCore(s, snap, updates, deletes, id, emb, loadQuantizer(s, snap, pq), meta)
    }

  /** Change batches up to this many distinct ids are collected once into
    * a local relation (see [[upsertCore]]); larger ones stay distributed.
    * Driver state is bounded by the cap (~10k ids ≈ a few hundred KB).
    */
  private val IdProbeCap = 10000

  /** [[upsertBatch]] on a settled snapshot under a caller-supplied
    * quantizer instead of the stored one — the seam [[splitCell]] rides (it
    * re-encodes a hot cell's members under the POST-SPLIT centroid table
    * and passes that table as `cents`, committed with the rewritten cells).
    * Everything else — touched-cell discovery, the cell stage,
    * emptied-cell cleanup, occupancy — is the one shared implementation,
    * so the split path can never drift from the upsert contract.
    */
  private def upsertCore(s: SparkSession, snap: IndexSnapshot, updates: DataFrame,
      deletes: DataFrame, id: Column, emb: Column, quant: IvfadcQuantizer,
      meta: Seq[String], cents: Option[DataFrame] = None): Unit = {
    val delIds = deletes.select(deletes.columns.head).toDF("vec_id")
    val updIds = updates.select(id.as("vec_id"))
    val changedAll = updIds.union(delIds).distinct()
    // ONE action collects the changed ids, capped at IdProbeCap. A
    // micro-batch-sized set becomes a LOCAL changedIds relation, so its
    // broadcast builds (the discovery semi-join and the survivors
    // anti-join) read driver-held rows without any further Spark job. An
    // over-cap batch is localCheckpointed instead.
    val idRows = changedAll.limit(IdProbeCap + 1).collect()
    val changedIds: DataFrame =
      if (idRows.length <= IdProbeCap)
        s.createDataFrame(java.util.Arrays.asList(idRows: _*), changedAll.schema)
      else changedAll.localCheckpoint()
    val newCodes = encode(updates, id, emb, quant, meta).localCheckpoint()
    val codes = codesRead(s, snap)
    // Touched-cell set = the old cells of changed ids ∪ the new cells of
    // updated vectors (an update may move a vector between cells). The old
    // half is one broadcast semi-join of the live codes against the changed
    // ids, folded into this one action; the survivors read below is then
    // partition-pruned to the touched cells.
    val touched = codes.join(broadcast(changedIds), Seq("vec_id"), "left_semi")
      .select(col("cell"))
      .union(newCodes.select(col("cell")))
      .distinct().collect().map(_.get(0)).toSeq
    if (touched.isEmpty) { // empty change batch
      Dedup.dropLocalCheckpoint(changedIds)
      Dedup.dropLocalCheckpoint(newCodes)
      return
    }
    val survivors = codes.filter(col("cell").isin(touched: _*))
      .join(broadcast(changedIds), Seq("vec_id"), "left_anti")
    // unionByName(allowMissing): a streaming-ingested index carries __batch
    // stamps; upserted rows get null there. Replay detection survives this
    // (and survives deleting max-stamped rows outright) because the
    // manifest's applied mark, not the data-derived max alone, is the
    // primary exactly-once record. Cell-clustered BEFORE the eager
    // checkpoint, so the partitioned write below reuses the materialized
    // layout (one file per cell) without a second pass — and all reads of
    // the path finish before the overwrite.
    val rewritten = survivors.unionByName(newCodes, allowMissingColumns = true)
      .repartition(col("cell"))
      .localCheckpoint()
    Dedup.dropLocalCheckpoint(changedIds) // consumed by the rewrite above
    Dedup.dropLocalCheckpoint(newCodes)   // folded into the rewrite above
    // a metadata-carrying upsert on a bare index may add columns: they are
    // committed before the rewrite lands (superset-first)
    replaceCells(s, widenSchema(s, snap, rewritten.schema), touched, rewritten, cents)
  }

  /** Replace the live codes of `cells` with `rows` — every row those cells
    * keep, cell-clustered and materialized — through the cell stage, with
    * their recounted occupancy (untouched cells keep their counts). A cell
    * left with no rows loses its directory.
    */
  private def replaceCells(s: SparkSession, snap: IndexSnapshot, cells: Seq[Any],
      rows: DataFrame, cents: Option[DataFrame] = None): IndexSnapshot = {
    // ONE pass over the materialized rows: the per-cell counts are the new
    // occupancy, and a touched cell absent from them is left empty
    val counts = countsOf(cellOccupancy(rows))
    stageCells(s, snap, rows, cells.map { c =>
      val cell = c.asInstanceOf[Number].longValue
      cell -> counts.getOrElse(cell, 0L)
    }.toMap, cents = cents)
  }

  // ---- streaming ingest ---------------------------------------------------

  /** `foreachBatch` sink that grows a persisted index per micro-batch — the
    * streaming dual of [[appendBatch]] and the vector analogue of
    * [[graft.streaming.StreamingDedup.incrementalSink]]: each batch's
    * vectors are encoded under the FROZEN stored quantizer (map-only on
    * the vector side) and appended to the cell-partitioned codes layout,
    * stamped with the batch id. The corpus is never re-read on the ingest
    * path.
    *
    * Restart semantics: `foreachBatch` replays an in-flight batch on
    * recovery; a replayed batch is detected via the manifest's applied
    * mark for its stream (committed in the append's one data commit, so it
    * never claims an unapplied batch and — unlike a data-derived max —
    * cannot regress when [[upsertBatch]] later rewrites or deletes
    * max-stamped rows). The appended rows' own `__batch` stamps are the
    * second record: rows stamped by a batch no mark covers (left by a
    * writer that appended before committing its mark, or by a lost
    * manifest) are rolled back before the batch re-applies — idempotent
    * per batch id, the same device as the dedup sink's docs stamps.
    * [[loadCodes]] projects `__batch` away, so
    * search is oblivious to how rows arrived, and [[compactCells]]
    * preserves the stamps, so replay detection survives compaction.
    *
    * STREAM IDENTITY (required for multi-lineage safety): `foreachBatch`
    * batch ids are scoped to a CHECKPOINT LINEAGE and restart at 0 when a
    * stream is re-created with a new checkpoint location — without an
    * identity, every batch of the new lineage would compare <= the old
    * lineage's high-water mark and be silently skipped (data loss). Pass a
    * stable `streamId` per checkpoint lineage (the idempotent-sink
    * convention of scoping the txn marker by (appId, version)): the
    * manifest keeps one mark per raw stream id and the rows' replay stamps
    * carry `__stream`, so both detection layers compare only against their
    * own lineage — a fresh lineage starts clean and nothing is skipped.
    * `streamId = None` keeps one unscoped mark and is safe ONLY while the
    * index is fed by exactly one checkpoint lineage for its whole life.
    *
    * AUTO-COMPACTION (the flush-at-threshold policy the reference applies
    * to its own buffers — pkg/integ buffered writers flush when full):
    * every micro-batch appends one small file to each touched cell, so a
    * long-lived stream degrades the pruned serve from opening ~nprobe
    * files to ~nprobe × batches. With `autoCompactFilesPerCell = Some(n)`,
    * the sink measures the fragmentation AFTER each applied batch (one
    * filesystem listing of the codes tree — the same metadata walk every
    * scan's planning performs) and runs [[compactCells]] when any cell
    * exceeds `n` files, restoring 1 file/cell. Answers are unchanged and
    * the `__batch`/`__stream` replay stamps survive (compaction preserves
    * every column). Compaction runs after the batch's commit, so a crash
    * mid-compaction loses no append.
    *
    * @param batchCap optional per-batch row cap (no-silent-caps: refused
    *   rows are counted into `capDrops`, the accumulator pattern of
    *   [[graft.streaming.StreamingDedup.nearDupCandidates]]); None admits
    *   everything
    * @param streamId stable identity of the feeding checkpoint lineage —
    *   scopes replay detection so independent lineages (or a restart with
    *   a fresh checkpoint dir under a new id) never mask each other
    * @param autoCompactFilesPerCell compact back to 1 file/cell whenever a
    *   cell exceeds this many files; None (default) never compacts
    */
  def appendSink(path: String, pq: PqParams, id: Column, emb: Column,
      batchCap: Option[Int] = None,
      capDrops: Option[org.apache.spark.util.LongAccumulator] = None,
      streamId: Option[String] = None,
      autoCompactFilesPerCell: Option[Int] = None)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val s = batch.sparkSession
    // One lease spans the whole batch — replay check, append, and
    // auto-compaction — so a manual maintenance op cannot interleave with a
    // half-finished micro-batch (the inner calls re-enter this lease).
    // Acquisition RETRIES with bounded backoff instead of failing fast: the
    // stream-identity contract above explicitly supports multiple checkpoint
    // lineages feeding one index, and their micro-batches may overlap — a
    // fail-fast would terminate the losing lineage's whole streaming query,
    // when all it needs is serialization. A lease still held past
    // spark.graft.index.sinkLeaseWaitMs (default 10 min) rethrows: by then
    // the holder is either dead (its TTL reclaim will fire) or wedged, and
    // the stream SHOULD surface the failure.
    withWriterLeaseRetry(s, path, "appendSink") {
      val snap = settled(s, path)
      if (!snap.applied.get(streamId).exists(_ >= batchId)) {
        rollBackUnrecorded(s, snap, streamId, batchId)
        val admitted = batchCap match {
          case Some(cap) =>
            val n = batch.count()
            if (n > cap) {
              capDrops.foreach(_.add(n - cap))
              // deterministic admission: smallest ids first, so a replayed
              // capped batch admits the same rows
              batch.orderBy(id).limit(cap)
            } else batch
          case None => batch
        }
        appendCodes(s, path, admitted, id, emb, pq, stamp = Some(batchId), streamId)
        autoCompactFilesPerCell.foreach { threshold =>
          require(threshold >= 1, "autoCompactFilesPerCell must be >= 1")
          if (maxFilesPerCell(s, path) > threshold) compactCells(s, path)
        }
      }
    }
  }

  /** Largest parquet-file count in any one cell partition — the
    * fragmentation signal [[appendSink]]'s auto-compaction triggers on.
    * One listing pass over the codes tree.
    */
  def maxFilesPerCell(s: SparkSession, path: String): Int = {
    val fs = hadoopFs(s, path)
    val codes = new org.apache.hadoop.fs.Path(snapshot(s, path).partPath("codes"))
    if (!fs.exists(codes)) 0
    else fs.listStatus(codes).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(st => fs.listStatus(st.getPath).count(_.getPath.getName.endsWith(".parquet")))
      .maxOption.getOrElse(0)
  }

  /** Observable count of the adopted-index edge warnings below — a test
    * seam so the warning's firing is assertable, not just printed.
    */
  private[graft] val adoptedIndexWarnings = new java.util.concurrent.atomic.AtomicLong

  /** The data-derived replay record, for a lost mark: rows of this lineage
    * stamped `batchId` or later that no applied mark covers are an append
    * whose mark never committed — an index written before appends went
    * through the cell stage may hold them. They are
    * rolled back (only the cells holding them are rewritten) so the batch
    * re-applies exactly once. One filtered scan finds them; none is the
    * common case. The unscoped lineage (`streamId = None`) owns the rows
    * without a `__stream` stamp.
    */
  private def rollBackUnrecorded(s: SparkSession, snap: IndexSnapshot,
      streamId: Option[String], batchId: Long): Unit = {
    val codes = codesRead(s, snap)
    val cols = codes.columns.toSet
    val lineage: Option[Column] = streamId match {
      case Some(sid) if cols("__stream") => Some(col("__stream") === sid)
      case Some(sid) =>
        // ADOPTED-INDEX EDGE, made loud: a streamId was supplied but no
        // row carries a __stream stamp — an index fed so far only by an
        // unscoped lineage, adopted under a new id. Nothing of this
        // lineage can be told apart, so nothing is rolled back; if this
        // lineage's own commit was lost, a replayed batch re-applies.
        adoptedIndexWarnings.incrementAndGet()
        logWarning(s"appendSink: streamId '$sid' supplied but index at " +
          s"${snap.path} carries no __stream stamps (index adopted under a " +
          "new stream identity?) — data-derived replay detection is " +
          "inactive for this lineage; only the applied mark protects " +
          "against replays")
        None
      case None => Some(if (cols("__stream")) col("__stream").isNull else lit(true))
    }
    lineage.filter(_ => cols("__batch")).foreach { mine =>
      val unrecorded = coalesce(mine && col("__batch") >= batchId, lit(false))
      val cells = codes.filter(unrecorded).select(col("cell")).distinct()
        .collect().map(_.get(0)).toSeq
      if (cells.nonEmpty) {
        val kept = codes.filter(col("cell").isin(cells: _*) && !unrecorded)
          .repartition(col("cell")).localCheckpoint()
        replaceCells(s, snap, cells, kept)
        Dedup.dropLocalCheckpoint(kept)
      }
    }
  }

  /** Full recount of the committed occupancy from the codes — a general
    * consistency restore.
    */
  def refreshOccupancy(s: SparkSession, path: String): Unit =
    withWriterLease(s, path, "refreshOccupancy") {
      val snap = settled(s, path)
      commit(s, snap)(_.copy(occupancy = countsOf(cellOccupancy(loadCodes(s, snap)))))
    }

  // ---- small-file compaction --------------------------------------------

  /** Compact the codes layout back to ONE file per cell partition. Each
    * [[appendBatch]]/streaming epoch appends a small file to every touched
    * cell, so after N daily appends a pruned search opens N files per
    * probed cell — compaction is the hygiene pass that restores the
    * 1-file-per-cell layout ([[Compaction]] is the generic dual; this one
    * knows the cell layout). `repartition(cell)` puts each cell's rows in
    * exactly one task, so the rewrite emits exactly one file per cell; the
    * result is staged COMPLETE in the next generation's directory and
    * committed with one manifest flip ([[commit]]) — no driver/executor
    * materialization of the corpus, no read-overwrite conflict, and
    * READERS ARE SAFE THROUGHOUT: the live generation's files are
    * untouched until the commit, and retained through the next directory
    * swap for in-flight readers. All columns survive, including streaming
    * `__batch` stamps — max(__batch) replay detection still works
    * post-compaction. A crash before the commit leaves the live index
    * untouched and the stage as debris ([[recover]]).
    */
  def compactCells(s: SparkSession, path: String): Unit =
      withWriterLease(s, path, "compactCells") {
    val snap = settled(s, path)
    val stagedDir = stagedDirName(snap, "codes")
    codesRead(s, snap).repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/$stagedDir")
    commit(s, snap)(m => m.copy(dirs = m.dirs + ("codes" -> stagedDir)))
  }

  // ---- hot-cell split ------------------------------------------------------

  /** Split one (hot) cell of a persisted index into two children: sub-train
    * k'=2 centroids on the cell's member vectors (deterministic [[KMeans]]
    * seeding), REPLACE the parent centroid with the children in the stored
    * centroid table, and re-encode only the members under the refined
    * quantizer — the PQ codebook stays frozen, the rest of the corpus is
    * untouched, and the whole rewrite rides [[upsertBatch]]'s machinery
    * (touched-cells-only rewrite through the cell stage, emptied-parent-dir
    * cleanup, occupancy maintenance), so the split inherits the upsert's pinned
    * incremental-≡-rebuild law: the post-split index answers EXACTLY like a
    * from-scratch encode of the corpus under the post-split centroid table
    * (spec-pinned). This is the response to the skew signal
    * `ann_index_occupancy` measures: a hot cell destroys the nprobe/k
    * pruning promise (one probe reads imbalance× the uniform share);
    * splitting it halves the hot probe and restores child-granular pruning.
    *
    * What a split deliberately does NOT promise: bit-identical answers to
    * the pre-split index. A refined quantizer assigns members to their
    * nearest centroid among k+1 (a member may even land in a third,
    * pre-existing cell if that was always closer than the parent), and a
    * query's nprobe-cell probe set changes with the geometry — any
    * "identical answers" scheme would have to probe both children whenever
    * the parent would have been probed, i.e. read exactly the bytes the
    * split exists to avoid. The honest contract is the rebuild-equivalence
    * law above plus the recall gate (`ann_recall_at_5`) the index is
    * already held to.
    *
    * The index stores codes, not vectors, so the caller supplies the
    * vector source for the members (same contract as [[upsertBatch]]'s
    * `updates`); rows whose `id` is not a member are ignored.
    *
    * CRASH RECOVERY: the post-split centroid table and the rewritten cells
    * go through ONE cell stage ([[stageCells]]) and land in one data
    * commit, so after a crash [[recover]] leaves the index unsplit or
    * split — never codes in a child cell the committed centroid table
    * lacks. Single-writer maintenance op, like compaction.
    *
    * @return the two child cell ids
    */
  def splitCell(s: SparkSession, path: String, cell: Long, vectors: DataFrame,
      id: Column, emb: Column, pq: PqParams, meta: Seq[String] = Nil): Seq[Long] =
      withWriterLease(s, path, "splitCell") {
    val snap = settled(s, path)
    // One hot cell's member VECTORS, materialized once: the sub-train's 4
    // actions (seed TakeOrdered + 3 Lloyd iterations) and the rewrite's
    // (the encode checkpoint, the changed-id collect) would each
    // re-execute their input — a full `vectors` scan per action. One hot
    // cell's vectors are bounded by construction (the split exists to
    // bound them), so the checkpoint holds O(cell) rows. The member-ID
    // build side (codes scan + distinct) needs no checkpoint of its own:
    // it executes exactly once, inside this one checkpoint action, as the
    // semi-join's broadcast build.
    val memberIds = loadCodes(s, snap).filter(col("cell") === cell)
      .select(col("vec_id").as("__split_member")).distinct()
    val members = vectors.join(broadcast(memberIds),
      id === col("__split_member"), "left_semi")
      .localCheckpoint()
    try {
      val sub = KMeans.fit(members, id, emb, k = 2, iters = 3)
        .orderBy(col("cent_id")).collect()
      // fewer than 2 sub-centroids = fewer than 2 member rows to seed from
      // — refinement cannot help this cell. Thrown BEFORE any staging, so
      // the index is untouched; splitHottestCell translates it into
      // NeedsRetrain instead of propagating, per its documented contract.
      if (sub.length < 2) throw UnsplittableCellException(cell, sub.length)
      // fresh child ids above every existing cent_id: KMeans labels by
      // seed ROW id, which could collide with an existing centroid's id
      val cents = s.read.parquet(snap.partPath("cents"))
      val maxId = cents.agg(max(col("cent_id"))).head().getLong(0)
      val childIds = sub.indices.map(maxId + 1 + _)
      import s.implicits._
      val childCents = sub.zip(childIds).map { case (r, c) =>
        (c, r.getAs[scala.collection.Seq[Double]]("cent").toSeq)
      }.toSeq.toDF("cent_id", "cent")
      // k+1 rows, checkpointed: the re-encode broadcasts them and the
      // stage writes them
      val newCents = cents.filter(col("cent_id") =!= cell).unionByName(childCents)
        .localCheckpoint()
      val quant = IvfadcQuantizer(newCents, s.read.parquet(snap.partPath("codebook")), pq)
      upsertCore(s, snap, members, members.limit(0).select(id.as("vec_id")),
        id, emb, quant, meta, cents = Some(newCents))
      childIds
    } finally Dedup.dropLocalCheckpoint(members)
  }

  /** Thrown by [[splitCell]] BEFORE any staging or mutation when the cell
    * cannot yield two sub-centroids (it holds fewer than two member rows):
    * the index is untouched at throw time. [[splitHottestCell]] — whose
    * contract is to report rather than throw — maps it to [[NeedsRetrain]].
    */
  final case class UnsplittableCellException(cell: Long, centroids: Int)
    extends RuntimeException(
      s"cell $cell yields $centroids sub-centroid(s) — nothing to split")

  /** Outcome of one [[splitHottestCell]] policy step. */
  sealed trait SplitOutcome
  /** No cell exceeds the probe-cost bound — nothing to do. */
  case object Balanced extends SplitOutcome
  /** The hottest cell was split; loop for the next one. */
  final case class Split(parent: Long, children: Seq[Long]) extends SplitOutcome
  /** Splitting cannot help this cell (its members are indistinguishable to
    * the quantizer — the sub-train put them all in one child): the
    * quantizer itself has drifted past what refinement can fix. Stop
    * looping and re-train: [[train]] + [[encode]] over the current corpus
    * is the drift recovery, the FAISS contract.
    */
  final case class NeedsRetrain(cell: Long, rows: Long) extends SplitOutcome

  /** The POLICY consuming the skew signal [[occupancyReport]] pins: when
    * the hottest cell holds more than `maxCellRows` vectors, split it and
    * report what happened; below the bound, do nothing. One step per call —
    * callers loop while it returns [[Split]].
    *
    * Why the loop target is an ABSOLUTE row bound and not the report's
    * `imbalance` ratio: the pruning promise is about rows read per probed
    * cell, and max/mean cannot drive a split loop — every split ADDS a
    * cell, shrinking the mean, so the ratio tightens itself and can rise
    * even as the hottest cell halves (measured: 3.75 → 4.08 across a
    * max-reducing split on the skew fixture). `imbalance` stays the
    * ALERTING signal (when it degrades, something needs doing);
    * `maxCellRows` — pick it as (corpus rows / cells) × the skew factor a
    * probe may tolerate — is the actionable target.
    *
    * A step that splits WITHOUT reducing the hot cell (every member landed
    * in one child — identical or quantizer-indistinguishable vectors)
    * returns [[NeedsRetrain]]: the ineffective-but-harmless split stays
    * applied (the index remains rebuild-equivalent), and further splitting
    * of that cell cannot converge.
    */
  def splitHottestCell(s: SparkSession, path: String, vectors: DataFrame,
      id: Column, emb: Column, pq: PqParams, maxCellRows: Long,
      meta: Seq[String] = Nil): SplitOutcome =
      withWriterLease(s, path, "splitHottestCell") {
    // cast: `cell` comes back as the partition-directory-inferred type
    // (int for small ids), not the written long
    val hottest = occupancy(s, path)
      .orderBy(col("n_vecs").desc, col("cell")).limit(1)
      .select(col("cell").cast("long"), col("n_vecs")).collect()
    if (hottest.isEmpty || hottest.head.getLong(1) <= maxCellRows) Balanced
    else {
      val (hot, hotRows) = (hottest.head.getLong(0), hottest.head.getLong(1))
      try {
        val children = splitCell(s, path, hot, vectors, id, emb, pq, meta)
        // null max = both children empty (every member re-assigned to a
        // pre-existing closer cell — the hot mass dispersed: progress)
        val childMaxRow = occupancy(s, path)
          .filter(col("cell").cast("long").isin(children: _*))
          .agg(max(col("n_vecs"))).head()
        val childMax = if (childMaxRow.isNullAt(0)) 0L else childMaxRow.getLong(0)
        if (childMax >= hotRows) NeedsRetrain(hot, hotRows) else Split(hot, children)
      } catch {
        // a cell too degenerate to even sub-train (fewer than 2 member
        // rows) is the strongest possible NeedsRetrain signal, not an
        // error — splitCell guarantees the index is untouched at throw
        case UnsplittableCellException(_, _) => NeedsRetrain(hot, hotRows)
      }
    }
  }

  // ---- full retrain / reindex ---------------------------------------------

  /** Retrain the quantizer on the CURRENT corpus and atomically swap in a
    * freshly-encoded index — the response to the [[NeedsRetrain]] signal
    * and to general quantizer drift (the FAISS contract the scaladoc at
    * the top of this object cites: the quantizer is trained once and
    * batches are `add()`ed under it; when the data distribution drifts
    * past what [[splitCell]] refinement can fix, periodic retrain+reindex
    * is the recovery). Under the hood this is exactly [[train]] +
    * [[encode]] over the current corpus, made SAFE for a live index:
    *
    *   - the index stores codes, not vectors, so the caller supplies the
    *     vector source ([[splitCell]]'s contract); rows whose id is not
    *     currently coded are ignored — reindex changes the quantizer, not
    *     the membership;
    *   - the new cents/codebook/codes are built COMPLETELY in the next
    *     generation's directories while the old index keeps serving, and
    *     published by one manifest commit ([[write]]'s rebuild path); a
    *     crash before it leaves the old index untouched and the stage as
    *     debris ([[recover]]).
    *
    * Equivalence contract (the `ann_reindex` oracle gate pins it
    * cross-engine): the reindexed index answers exactly like a from-scratch
    * [[train]]+[[encode]]+[[write]] over the current corpus — because that
    * is literally what the staged build is.
    *
    * Replay bookkeeping: the applied marks ride the manifest and SURVIVE
    * the swap — a replayed streaming batch is still refused after a
    * reindex (its vectors are already inside the re-encoded corpus). The
    * re-encoded rows carry no `__batch`/`__stream` stamps, so the
    * data-derived fallback restarts dark for pre-reindex batches — the
    * mark is the authority, the same trade documented on [[appendSink]].
    *
    * Single-writer maintenance op (lease-enforced, like everything here).
    *
    * @param vectors vector source; only ids currently in the index are used
    * @param meta    filterable metadata columns to carry onto the new code
    *                rows (see the metadata-aware [[encode]])
    */
  def reindex(s: SparkSession, path: String, vectors: DataFrame, id: Column,
      emb: Column, kCells: Int, iters: Int, pq: PqParams,
      meta: Seq[String] = Nil): Unit = withWriterLease(s, path, "reindex") {
    require(!meta.contains("__reindex_id") && !meta.contains("__reindex_emb"),
      "metadata column names __reindex_id/__reindex_emb are reserved by reindex")
    val snap = settled(s, path)
    // ONE full pass over the caller's vector source: project membership and
    // exactly the needed columns (id, emb, meta) and STAGE them as parquet
    // next to the staged parts. The chain's ~6 actions (k-means seeds,
    // Lloyd iterations, codebook seeds, the codes write) then re-read a
    // narrow staged table instead of re-running the source scan +
    // semi-join. Disk-bounded, not memory-bound. The commit's GC drops the
    // stage; a crash leaves it as debris.
    val corpusDir = s"$path/${stagedDirName(snap, "corpus")}"
    val memberIds = loadCodes(s, snap)
      .select(col("vec_id").as("__member")).distinct()
    vectors.join(broadcast(memberIds), id === col("__member"), "left_semi")
      .select(id.as("__reindex_id") +: emb.as("__reindex_emb") +: meta.map(col): _*)
      .write.mode("overwrite").parquet(corpusDir)
    val corpus = s.read.parquet(corpusDir)
    val cid = col("__reindex_id")
    val cemb = col("__reindex_emb")
    val quant = train(corpus, cid, cemb, kCells, iters, pq)
    commitRebuild(s, snap, quant, encode(corpus, cid, cemb, quant, meta))
  }

  // ---- occupancy accounting ----------------------------------------------

  /** Per-cell vector counts of a codes table — the no-silent-caps principle
    * applied to the coarse quantizer (the IVF dual of `dropped_pairs` in
    * [[Dedup]]): k-means on a skewed corpus concentrates vectors in few
    * cells, silently destroying [[searchAdcPruned]]'s nprobe/k pruning —
    * a probe of the hottest cell reads imbalance× the uniform share. One
    * row per (vector, subspace) ⇒ count rows of subspace 0.
    */
  def cellOccupancy(codes: DataFrame): DataFrame =
    codes.filter(col("m") === 0)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))

  /** A (cell, n_vecs) frame collected to the driver — ≤ k rows. */
  private def countsOf(occ: DataFrame): Map[Long, Long] =
    occ.collect().map(r =>
      r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap

  /** The committed per-cell occupancy of an index (`cell`, `n_vecs`), `cell`
    * typed like the codes' `cell` column ([[write]] seeds it;
    * [[appendBatch]]/[[upsertBatch]] maintain it incrementally).
    */
  def occupancy(s: SparkSession, path: String): DataFrame = {
    val snap = snapshot(s, path)
    val rows = snap.occupancy.toSeq.sorted.map { case (c, n) =>
      org.apache.spark.sql.Row(c, n)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("cell", LongType), StructField("n_vecs", LongType))))
      .withColumn("cell", col("cell").cast(snap.schema("cell").dataType))
  }

  /** Skew summary over the persisted occupancy: `imbalance` is the
    * worst-case pruned-scan degradation factor (max cell / mean cell) —
    * an `imbalance` of 1 means nprobe/k pruning delivers exactly its
    * promise; at 40 the hottest probe costs 40× the uniform share and the
    * quantizer needs retraining.
    */
  def occupancyReport(s: SparkSession, path: String): DataFrame =
    occupancyReportOf(occupancy(s, path))

  /** [[occupancyReport]] over any per-cell occupancy frame — the in-memory
    * path (the `ann_index_occupancy` gate oracles this cross-engine over
    * `cellOccupancy(encode(...))`, so the accounting itself is pinned, not
    * just produced).
    */
  def occupancyReportOf(occ: DataFrame): DataFrame =
    occ.agg(
      count(lit(1)).as("n_cells"),
      sum(col("n_vecs")).as("n_vecs"),
      max(col("n_vecs")).as("max_cell"),
      round(avg(col("n_vecs")), 2).as("mean_cell"),
      round(max(col("n_vecs")) / avg(col("n_vecs")), 2).as("imbalance"))
}
