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
object VectorIndex extends org.apache.spark.internal.Logging {

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
    */
  def encode(vectors: DataFrame, id: Column, emb: Column,
      quant: IvfadcQuantizer): DataFrame =
    encode(vectors, id, emb, quant, Nil)

  /** [[encode]] carrying FILTERABLE METADATA columns (by name, from
    * `vectors`) onto every code row — the storage side of filtered ANN
    * search. Every production vector query rides with a predicate (source,
    * lang, date, licence); storing the metadata ON the code rows (repeated
    * per subspace — parquet RLE makes the repetition ~free) means a
    * filtered search evaluates the predicate INSIDE the codes scan, before
    * any ADC scoring, instead of post-filtering a top-k and starving. The
    * carry is a pure map-pass pass-through: no join, no shuffle — the
    * encode plan shape is unchanged (VectorIndexSpec's zero-exchange
    * assertion covers it).
    */
  def encode(vectors: DataFrame, id: Column, emb: Column,
      quant: IvfadcQuantizer, meta: Seq[String]): DataFrame = {
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

  /** [[searchAdc]] with the probed cell set PUSHED DOWN over a persisted,
    * cell-partitioned codes table ([[write]]'s layout): the distinct
    * probed cells — at most |queries|·nprobe ids, a bounded query-side
    * list, so the driver collect touches no corpus data — become an IN
    * partition filter, and only the probed cells' code files are even
    * opened (~nprobe/k of the index; VectorIndexSpec asserts the
    * partition filter reaches the scan and the surviving directory
    * count). Results are identical to [[searchAdc]]: every ADC candidate
    * joins on a probed cell, so un-probed cells can contribute nothing.
    */
  def searchAdcPruned(codes: DataFrame, quant: IvfadcQuantizer, queries: DataFrame,
      nprobe: Int, topK: Int): DataFrame =
    searchAdcPruned(codes, quant, queries, nprobe, topK, None)

  /** [[searchAdcPruned]] with a METADATA PREDICATE pushed into the codes
    * scan — filtered ANN serving. The predicate (over columns carried by
    * the metadata-aware [[encode]]) composes with the probed-cell
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

  def searchAdcPruned(codes: DataFrame, quant: IvfadcQuantizer, queries: DataFrame,
      nprobe: Int, topK: Int, predicate: Option[Column]): DataFrame = {
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
    * batch's), so the accounting stays corpus-free too.
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
    * second pass), commit any new columns (superset-first), append, then
    * commit the occupancy delta together with the batch's applied mark —
    * the mark is committed only after the data it covers.
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
    codes.write.mode("append").partitionBy("cell").parquet(snap.partPath("codes"))
    val delta = countsOf(cellOccupancy(codes))
    commit(s, live)(m => m.copy(
      occupancy = delta.foldLeft(m.occupancy) { case (o, (c, n)) =>
        o.updated(c, o.getOrElse(c, 0L) + n)
      },
      applied = stamp.fold(m.applied)(b =>
        m.applied.updated(streamId, m.applied.get(streamId).fold(b)(_ max b)))))
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
    *     move a vector between cells), via dynamic partition overwrite;
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
    * CRASH WINDOW (documented, with a converging recovery): the upsert
    * stages the touched cells' rewrite and their recount complete, then
    * moves each staged cell over its live one, deletes fully-emptied cell
    * directories and commits the recount. A crash once the stage is
    * complete is rolled forward, occupancy included, by the next mutation
    * or [[recover]]; a crash before it leaves the live index untouched.
    * Recovery is to RE-RUN THE SAME CHANGE BATCH: the rewrite is
    * idempotent, so one clean re-run converges the answers and the
    * occupancy to the exact post-upsert state (spec-pinned by the
    * crash-point sweep). Single-writer op, like all maintenance here.
    *
    * @param updates frame exposing `id`/`emb` — changed or new vectors
    * @param deletes single-column frame of ids to remove (tombstones)
    */
  def upsertBatch(s: SparkSession, path: String, updates: DataFrame,
      deletes: DataFrame, id: Column, emb: Column, pq: PqParams): Unit =
    upsertBatch(s, path, updates, deletes, id, emb, pq, Nil)

  /** [[upsertBatch]] for a METADATA-CARRYING index: `meta` names the
    * filterable columns the index was encoded with (see the metadata-aware
    * [[encode]]) — they must be present on `updates` so rewritten rows
    * keep their metadata (a plain upsert on such an index would null the
    * updated rows' metadata and silently exempt them from every filtered
    * search).
    */
  def upsertBatch(s: SparkSession, path: String, updates: DataFrame,
      deletes: DataFrame, id: Column, emb: Column, pq: PqParams,
      meta: Seq[String]): Unit =
    withWriterLease(s, path, "upsertBatch") {
      upsertCore(s, path, updates, deletes, id, emb, loadQuantizer(s, path, pq), meta)
    }

  /** Change batches up to this many distinct ids are collected once into
    * a local relation (see [[upsertCore]]); larger ones stay distributed.
    * Driver state is bounded by the cap (~10k ids ≈ a few hundred KB).
    */
  private val IdProbeCap = 10000

  /** [[upsertBatch]] under a caller-supplied quantizer instead of the
    * stored one — the seam [[splitCell]] rides (it re-encodes a hot cell's
    * members under the POST-SPLIT centroid table before that table is
    * persisted). Everything else — touched-cell discovery, dynamic
    * partition overwrite, emptied-cell cleanup, occupancy — is the one
    * shared implementation, so the split path can never drift from the
    * upsert contract.
    */
  private def upsertCore(s: SparkSession, path: String, updates: DataFrame,
      deletes: DataFrame, id: Column, emb: Column, quant: IvfadcQuantizer,
      meta: Seq[String]): Unit = {
    val snap = settled(s, path)
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
    replaceCells(s, widenSchema(s, snap, rewritten.schema), touched, rewritten)
  }

  /** Replace the live codes of `cells` with `rows` — every row those cells
    * keep, cell-clustered and materialized — and commit their recounted
    * occupancy (untouched cells keep their counts). The rows are staged
    * COMPLETE, then the touched cells' recount completes the stage, and
    * only then does [[settled]] replace any live cell — so a crash at any
    * later point rolls the whole replacement, occupancy included, forward
    * from the stage. A cell left with no rows loses its directory.
    */
  private def replaceCells(s: SparkSession, snap: IndexSnapshot, cells: Seq[Any],
      rows: DataFrame): IndexSnapshot = {
    // ONE pass over the materialized rows: the per-cell counts are the new
    // occupancy, and a touched cell absent from them is left empty
    val counts = countsOf(cellOccupancy(rows))
    val stage = cellStage(snap.path)
    rows.write.mode("overwrite").partitionBy("cell").parquet(stage.toString)
    val recount = graft.core.Json.mapper.createArrayNode()
    cells.map(_.asInstanceOf[Number].longValue).foreach { c =>
      recount.addArray().add(c).add(counts.getOrElse(c, 0L))
    }
    val fs = hadoopFs(s, snap.path)
    val tmp = new org.apache.hadoop.fs.Path(stage, "_recount.tmp")
    val out = fs.create(tmp, true)
    try out.write(graft.core.Json.write(recount).getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(stage, "_recount")))
      throw new java.io.IOException(s"completing the cell stage at ${snap.path} failed")
    settled(s, snap)
  }

  private def cellStage(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/cells_staging")

  /** Finish an interrupted [[replaceCells]] and return the committed
    * snapshot. A complete stage (one carrying its `_recount`) moves each
    * staged cell over its live counterpart — idempotent, a re-run skips
    * cells already moved — deletes the recounted cells left empty, and
    * commits the recount; only then is the stage dropped. An incomplete
    * stage replaced nothing and is dropped. An interrupted append's job
    * directory is dropped too: the next append's job commit would
    * otherwise move its committed task files in a second time. Every
    * mutation resolves its snapshot through here, so no writer builds on a
    * half-replaced codes directory or a stale occupancy.
    */
  private def settled(s: SparkSession, snap: IndexSnapshot): IndexSnapshot = {
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val fs = hadoopFs(s, snap.path)
    val codes = snap.partPath("codes")
    val jobDir = new Path(codes, "_temporary")
    if (fs.exists(jobDir)) fs.delete(jobDir, true)
    val stage = cellStage(snap.path)
    if (!fs.exists(stage)) snap
    else {
      val recount = new Path(stage, "_recount")
      val next =
        if (!fs.exists(recount)) snap
        else {
          val in = fs.open(recount)
          val counts = try graft.core.Json.mapper.readTree(in).elements().asScala
            .map(e => e.get(0).asLong -> e.get(1).asLong).toMap
            finally in.close()
          fs.listStatus(stage).map(_.getPath).filter(_.getName.startsWith("cell="))
            .foreach { staged =>
              val live = new Path(codes, staged.getName)
              fs.delete(live, true)
              if (!fs.rename(staged, live))
                throw new java.io.IOException(s"moving $staged into $live failed")
            }
          counts.collect { case (c, 0L) => c }
            .foreach(c => fs.delete(new Path(codes, s"cell=$c"), true))
          commit(s, snap)(m => m.copy(
            occupancy = m.occupancy -- counts.keys ++ counts.filter(_._2 > 0)))
        }
      fs.delete(stage, true)
      next
    }
  }

  private def settled(s: SparkSession, path: String): IndexSnapshot =
    settled(s, snapshot(s, path))

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
    * mark for its stream (committed only after the append lands, so it
    * never claims an unapplied batch and — unlike a data-derived max —
    * cannot regress when [[upsertBatch]] later rewrites or deletes
    * max-stamped rows). The appended rows' own `__batch` stamps cover the
    * lost-commit window: rows stamped by a batch no mark covers are a
    * crashed attempt's (possibly partial) append, rolled back before the
    * batch re-applies — idempotent per batch id, the same device as the
    * dedup sink's docs stamps. [[loadCodes]] projects `__batch` away, so
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

  /** The data-derived replay record, for the lost-commit window: rows of
    * this lineage stamped `batchId` or later that no applied mark covers
    * are a crashed attempt's append — complete, or partial when the crash
    * fell between the file moves of the append's job commit. They are
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

  private def hadoopFs(s: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)

  // ---- generation manifest: the one commit record ---------------------------

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

  private def emptySnapshot(path: String) = IndexSnapshot(path, 0L,
    Map.empty, new StructType(), Map.empty, Map.empty, Set.empty)

  /** The persisted parts of an index, each a `<part>_gen_N` directory. */
  private val indexParts = Seq("cents", "codebook", "codes")

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

  private def latest(s: SparkSession, path: String): Option[IndexSnapshot] = {
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
    import scala.jdk.CollectionConverters._
    val in = fs.open(manifestFile(path, gen))
    val root = try graft.core.Json.mapper.readTree(in) finally in.close()
    def elems(field: String) = root.get(field).elements().asScala.toSeq
    val dirs = root.get("dirs")
    IndexSnapshot(path, gen,
      dirs.fieldNames().asScala.map(p => p -> dirs.get(p).asText).toMap,
      org.apache.spark.sql.types.DataType.fromJson(root.get("schema").toString)
        .asInstanceOf[StructType],
      elems("occupancy").map(e => e.get(0).asLong -> e.get(1).asLong).toMap,
      elems("applied").map(e =>
        Option(e.get("stream")).filterNot(_.isNull).map(_.asText) ->
          e.get("batch").asLong).toMap,
      elems("retain").map(_.asText).toSet)
  }

  private def manifestJson(snap: IndexSnapshot): String = {
    val json = graft.core.Json
    val root = json.obj()
    val dirs = root.putObject("dirs")
    snap.dirs.toSeq.sorted.foreach { case (p, d) => dirs.put(p, d) }
    root.replace("schema", json.parse(snap.schema.json))
    val occ = root.putArray("occupancy")
    snap.occupancy.toSeq.sorted.foreach { case (c, n) => occ.addArray().add(c).add(n) }
    val applied = root.putArray("applied")
    snap.applied.toSeq.sortBy(_._1.getOrElse("")).foreach { case (sid, b) =>
      val e = applied.addObject()
      sid.fold(e.putNull("stream"))(e.put("stream", _))
      e.put("batch", b)
    }
    val retain = root.putArray("retain")
    snap.retain.toSeq.sorted.foreach(d => retain.add(d))
    json.write(root)
  }

  /** The directory a swap of `part` must stage its replacement into — the
    * next generation's name, deterministic from the current snapshot so a
    * crashed-and-retried swap restages the same target.
    */
  private def stagedDirName(snap: IndexSnapshot, part: String): String =
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
  private def commit(s: SparkSession, snap: IndexSnapshot)(
      change: IndexSnapshot => IndexSnapshot): IndexSnapshot = {
    val fs = hadoopFs(s, snap.path)
    val changed = change(snap)
    val next = changed.copy(gen = snap.gen + 1,
      retain =
        if (changed.dirs == snap.dirs) snap.retain
        else snap.dirs.values.toSet -- changed.dirs.values)
    val tmp = new org.apache.hadoop.fs.Path(
      s"${snap.path}/.manifest-tmp-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(manifestJson(next).getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, manifestFile(snap.path, next.gen))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"manifest commit for generation ${next.gen} at ${snap.path} lost a " +
          "race — a concurrent writer committed despite the lease")
    }
    gc(s, next)
    next
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

  /** Repair an interrupted mutation — the one recovery entry point,
    * idempotent and a no-op on a healthy index. A crash before a commit
    * leaves the committed generation untouched and the staged work as
    * unreferenced debris; a crash between a commit and its GC leaves
    * superseded directories; a crash mid cell-replace leaves its stage.
    * The stage is rolled forward and the rest collected here (and by the
    * next mutation anyway). Appends and upserts then converge by
    * re-running the same batch (see [[upsertBatch]], [[appendSink]]); a
    * split by [[recoverSplit]].
    */
  def recover(s: SparkSession, path: String): Unit =
    withWriterLease(s, path, "recover") {
      latest(s, path).foreach(snap => gc(s, settled(s, snap)))
    }

  // ---- single-writer lease -------------------------------------------------

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

  /** Thrown on exit from a maintenance op whose lease was observed held by
    * ANOTHER writer mid-op (the TTL reclaim fired against a live-but-slow
    * holder — e.g. a long encode inside [[reindex]] starved the heartbeat
    * past the TTL). The op's mutations may have interleaved with the
    * reclaimer's; the index should be verified ([[refreshOccupancy]], the
    * recovery entry points) before further maintenance. The heartbeat
    * (period ttl/3) makes this practically unreachable for healthy JVMs —
    * it exists so the failure is LOUD, never silent.
    */
  final case class LostIndexLeaseException(path: String, op: String,
      holder: String, observed: String) extends RuntimeException(
    s"maintenance lease on $path was lost mid-$op: this writer is [$holder] " +
      s"but the lease now reads [$observed] — the TTL reclaim fired against " +
      "a live holder; mutations may have interleaved, verify the index " +
      "before further maintenance")

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
    * (touched-cells-only dynamic overwrite, emptied-parent-dir cleanup,
    * occupancy maintenance), so the split inherits the upsert's pinned
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
    * CRASH RECOVERY (staged children, the [[compactCells]] discipline):
    * the chosen children centroids are persisted to `split_staging/`
    * BEFORE any mutation, and every entry here first rolls a previous
    * interrupted split forward ([[recoverSplit]]). The apply phase is
    * idempotent given the staged centroids — members are re-derived from
    * whatever currently sits in parent ∪ children cells, the upsert
    * converges from any intermediate state (its documented contract), and
    * the final centroid-table commit plus the stage delete finish the
    * split. Single-writer maintenance op, like compaction.
    *
    * @return the two child cell ids
    */
  def splitCell(s: SparkSession, path: String, cell: Long, vectors: DataFrame,
      id: Column, emb: Column, pq: PqParams, meta: Seq[String] = Nil): Seq[Long] =
      withWriterLease(s, path, "splitCell") {
    settled(s, path)
    recoverSplit(s, path, vectors, id, emb, pq, meta)
    // One hot cell's member VECTORS, materialized once: the
    // sub-train's 4 actions (seed TakeOrdered + 3 Lloyd iterations) would
    // each re-execute their input — a full `vectors` scan per action. One
    // hot cell's vectors are bounded by construction (the split exists to
    // bound them), so the checkpoint holds O(cell) rows and saves 3 corpus
    // reads. The member-ID build side (codes scan + distinct) needs no
    // checkpoint of its own: it executes exactly once, inside this one
    // checkpoint action, as the semi-join's broadcast build.
    val memberIds = loadCodes(s, path).filter(col("cell") === cell)
      .select(col("vec_id").as("__split_member")).distinct()
    val members = vectors.join(broadcast(memberIds),
      id === col("__split_member"), "left_semi")
      .localCheckpoint()
    val sub = KMeans.fit(members, id, emb, k = 2, iters = 3)
      .orderBy(col("cent_id")).collect()
    Dedup.dropLocalCheckpoint(members) // consumed by the sub-train above
    // fewer than 2 sub-centroids = fewer than 2 member rows to seed from —
    // refinement cannot help this cell. Thrown BEFORE any staging or
    // mutation (the children stage is below), so the index is untouched;
    // splitHottestCell translates it into NeedsRetrain instead of
    // propagating, per its documented contract.
    if (sub.length < 2) throw UnsplittableCellException(cell, sub.length)
    // fresh child ids above every existing cent_id: KMeans labels by seed
    // ROW id, which could collide with an existing centroid's id
    val maxId = s.read.parquet(snapshot(s, path).partPath("cents"))
      .agg(max(col("cent_id"))).head().getLong(0)
    val manifest = sub.zipWithIndex.map { case (r, i) =>
      (cell, maxId + 1 + i, r.getAs[scala.collection.Seq[Double]]("cent").toSeq)
    }
    import s.implicits._
    manifest.toSeq.toDF("parent", "cent_id", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/split_staging")
    applySplit(s, path, vectors, id, emb, pq, meta)
  }

  /** Roll an interrupted [[splitCell]] forward (complete staged children →
    * re-apply, idempotent) or back (partial stage without its commit
    * marker → discard; no mutation had started). No-op on a healthy index.
    */
  def recoverSplit(s: SparkSession, path: String, vectors: DataFrame,
      id: Column, emb: Column, pq: PqParams, meta: Seq[String] = Nil): Unit =
      withWriterLease(s, path, "recoverSplit") {
    val fs = hadoopFs(s, path)
    val staging = new org.apache.hadoop.fs.Path(s"$path/split_staging")
    if (fs.exists(staging)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) {
        applySplit(s, path, vectors, id, emb, pq, meta)
        ()
      } else {
        fs.delete(staging, true) // the stage write itself crashed
        ()
      }
    }
  }

  /** The idempotent apply phase of a split, driven ONLY by the staged
    * children: build the post-split centroid table, re-encode every vector
    * currently coded in parent ∪ children cells under it (covers the fresh
    * run AND every crash intermediate — a member duplicated across a
    * half-swapped rewrite re-enters through either copy and the overwrite
    * collapses it), commit the new centroid table, drop the stage.
    */
  private def applySplit(s: SparkSession, path: String, vectors: DataFrame,
      id: Column, emb: Column, pq: PqParams, meta: Seq[String]): Seq[Long] = {
    val man = s.read.parquet(s"$path/split_staging").orderBy(col("cent_id")).collect()
    val parent = man.head.getAs[Long]("parent")
    val childIds = man.map(_.getAs[Long]("cent_id")).toSeq
    import s.implicits._
    val childCents = man.map(r =>
      (r.getAs[Long]("cent_id"), r.getAs[scala.collection.Seq[Double]]("cent").toSeq))
      .toSeq.toDF("cent_id", "cent")
    // k+1 rows, checkpointed before the staged write below. The filter
    // removes the CHILD ids too, not just the parent: a crash between the
    // cents commit and the stage delete leaves the persisted table
    // already post-split, and a recovery re-run that filtered only the
    // (absent) parent would union the staged children a second time —
    // duplicated centroid rows consume probe slots and double-match the
    // residual join, corrupting ADC sums. Filtering the staged ids makes
    // this read a fixed point: fresh run and every crash intermediate both
    // converge to exactly k+1 rows.
    val snap = snapshot(s, path)
    val newCents = s.read.parquet(snap.partPath("cents"))
      .filter(!col("cent_id").isin((parent +: childIds): _*))
      .unionByName(childCents)
      .localCheckpoint()
    val quant = IvfadcQuantizer(newCents,
      s.read.parquet(snap.partPath("codebook")), pq)
    val cellSet = parent +: childIds
    // Parent ∪ children member VECTORS materialized once (same reasoning
    // as splitCell's sub-train input): upsertCore executes its
    // `updates` in several actions (the encode checkpoint, the changed-id
    // snapshot) and each would re-scan the full `vectors` source for
    // O(parent ∪ children) surviving rows. Bounded by the touched cells,
    // dropped when consumed. The member-ID build side runs exactly once,
    // inside this one checkpoint action.
    val memberIds = loadCodes(s, path).filter(col("cell").isin(cellSet: _*))
      .select(col("vec_id").as("__split_member")).distinct()
    val updates = vectors.join(broadcast(memberIds),
      id === col("__split_member"), "left_semi")
      .localCheckpoint()
    upsertCore(s, path, updates, updates.limit(0).select(id.as("vec_id")),
      id, emb, quant, meta)
    Dedup.dropLocalCheckpoint(updates) // consumed by the upsert above
    // the cents replace is a GENERATION COMMIT, not an in-place overwrite:
    // readers resolve either the whole pre-commit or whole post-commit
    // centroid table (the codes rewrite above is partition-wise in place —
    // the split's documented touched-cells-only cost bound — so the split's
    // own window is still writer-side-only)
    val live = snapshot(s, path)
    val stagedDir = stagedDirName(live, "cents")
    newCents.write.mode("overwrite").parquet(s"$path/$stagedDir")
    commit(s, live)(m => m.copy(dirs = m.dirs + ("cents" -> stagedDir)))
    hadoopFs(s, path).delete(new org.apache.hadoop.fs.Path(s"$path/split_staging"), true)
    childIds
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
  private def nullableSchema(st: StructType): StructType =
    StructType(st.fields.map(_.copy(nullable = true)))

  /** Commit `incoming`'s new columns before the data carrying them lands;
    * the snapshot itself when nothing is new.
    */
  private def widenSchema(s: SparkSession, snap: IndexSnapshot,
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
