package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (ArrayType(FloatType), 64-d).
  *
  * Two paths, as a real pipeline would ship them:
  *  - brute-force top-k: broadcast the (small) query set against the full
  *    corpus — a map-only pass over the big side plus one shuffle for the
  *    per-query top-k window. This is the exact baseline and also the right
  *    plan at 100 TB when the query set is small (the corpus never shuffles).
  *  - RHP-LSH bucketed: random-hyperplane signatures prune the corpus to
  *    bucket-colliding candidates before scoring (approximate scale path).
  *    The seeded hyperplanes are inlined into the generated oracle SQL, so
  *    even this path is hash-checked bit-exactly against DuckDB.
  *
  * Cosines are computed in double precision in deterministic element order so
  * values and rank order are bit-comparable with DuckDB's
  * list_cosine_similarity over DOUBLE[].
  */
object SimilarityQueries extends QueryPack {

  // -- exact brute-force top-k -------------------------------------------------
  /** Brute-force top-5 per query (exact). Norms are projected per row BEFORE
    * the pairwise join, so each is computed once per vector, not once per
    * pair; the per-pair work is a single codegen dot product. Same doubles
    * as cosine() per-pair (a norm's value doesn't depend on where it's
    * computed).
    */
  private[graft] def bruteTop5(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queriesDf = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        norm2(col("embedding")).as("q_nrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"),
        norm2(col("embedding")).as("n_nrm"))
      .crossJoin(broadcast(queriesDf))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("n_nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rn"))
  }

  private def qKnn(s: SparkSession, dir: String): DataFrame =
    bruteTop5(s, dir).orderBy("query_id", "rn")

  private val qKnnSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
       scored AS (
         SELECT q.query_id, e.vec_id AS neighbor_id,
                list_cosine_similarity(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]) AS cos
         FROM q JOIN embeddings e ON e.vec_id != q.query_id)
       SELECT query_id, neighbor_id, round(cos, 4) AS cos, CAST(rn AS INT) AS rn FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         FROM scored) WHERE rn <= 5 ORDER BY query_id, rn"""

  // -- approximate: random-hyperplane LSH, multi-table --------------------------
  // L independent hash tables of b bits each: a single wide signature makes
  // buckets of size ~1 (no candidates at all); multiple narrow tables trade
  // precision for recall the standard way — candidates = union over tables of
  // same-bucket pairs, deduped, then exact-scored. At 100 TB the corpus is
  // hashed in one map pass and only bucket-colliding pairs are ever joined.
  // Shared between the Spark pipeline and its generated SQL oracle dual.
  private val (lshTables, lshBits, lshDim) = (8, 8, 64)
  private def lshSeed(tb: Int): Long = 7L + tb

  private[graft] def lshTop5(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val sigs = array((0 until lshTables).map(tb =>
      rhpSignature(col("embedding"), dim = lshDim, nBits = lshBits, seed = lshSeed(tb))): _*)
    def bandedOf(df: DataFrame): DataFrame =
      df.select(col("vec_id"), posexplode(sigs).as(Seq("tbl", "bucket")))
    val banded = bandedOf(emb)
    // Query side hashed from the FILTERED rows, not by re-scanning the full
    // banded corpus — at 100 TB building this broadcast must not cost a
    // second corpus pass.
    val qBanded = bandedOf(emb.filter(col("vec_id") < 10))
      .select(col("tbl"), col("bucket"), col("vec_id").as("query_id"))
    val cands = banded.join(broadcast(qBanded), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val qEmb = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    cands
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")), Seq("neighbor_id"))
      .join(broadcast(qEmb), Seq("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rn"))
  }

  private def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    lshTop5(s, dir).orderBy("query_id", "rn")

  /** The exact SQL dual of the LSH pipeline. The hyperplanes are a
    * deterministic function of (dim, nBits, seed) —
    * [[graft.functions.RhpSignature.planes]] — so the SAME constants are
    * inlined into the SQL as literal lists and DuckDB re-derives every
    * signature bit (`list_dot_product >= 0`), the banding, the candidate
    * join, and the top-5 ranking. Sign-boundary rounding is the only
    * cross-engine risk (double accumulation order at |dot| ~ 1e-15), which
    * has never materialized on the test corpora and is data-independent of
    * the engine under test.
    */
  private val qAnnLshSql = {
    val tableSelects = (0 until lshTables).map { tb =>
      val planes = graft.functions.RhpSignature.planes(lshDim, lshBits, lshSeed(tb))
      val bucketExpr = (0 until lshBits).map { b =>
        val planeList = (0 until lshDim).map(i => planes(b * lshDim + i).toString).mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $planeList) >= 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $tb AS tbl, $bucketExpr AS bucket FROM embeddings"
    }.mkString(" UNION ALL ")
    s"""WITH sigs AS ($tableSelects),
       q AS (SELECT vec_id AS query_id, tbl, bucket FROM sigs WHERE vec_id < 10),
       cands AS (SELECT DISTINCT s.vec_id AS neighbor_id, q.query_id
                 FROM sigs s JOIN q ON s.tbl = q.tbl AND s.bucket = q.bucket AND s.vec_id != q.query_id),
       scored AS (SELECT c.query_id, c.neighbor_id,
                   list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) AS cos
                  FROM cands c JOIN embeddings qe ON qe.vec_id = c.query_id
                               JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
       SELECT query_id, neighbor_id, round(cos, 4) AS cos, CAST(rn AS INT) AS rn FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         FROM scored) WHERE rn <= 5 ORDER BY query_id, rn"""
  }

  // -- IVF-style coarse quantization: assign every vector to its nearest of
  // -- k seed centroids (deterministic seed vectors = first k corpus rows),
  // -- then search the query's `nprobe` nearest cells. Fully deterministic
  // -- (seeded centroids, argmin with cent_id tie-break) → oracle-checked.

  /** Cells probed per query on the SEEDED k=8 baseline (ann_ivf_coarse).
    * Single-probe is the classic IVF recall trap — a true neighbor just
    * across the query's cell boundary is invisible; probing the nearest 4
    * of 8 cells recovers recall but scans ~half the corpus. That is the
    * demonstration of WHY multi-probe exists, kept as the coarse baseline;
    * the production operating point is [[ivfProdK]]/[[ivfProdNprobe]].
    */
  private val ivfNprobe = 4

  /** The production IVF operating point (FAISS IVFADC convention: k ≈ √n
    * cells, a small nprobe): k=64 trained cells with nprobe=8 probes 1/8 of
    * the cells — and, with k-means-balanced cells, ~1/8 of the corpus —
    * per query, vs the seeded baseline's 1/2. Used by ann_ivf_trained and
    * both IVFPQ paths; recall@5 at this selectivity is pinned by
    * ann_recall_at_5, and the probed fraction is asserted in
    * IvfSelectivitySpec.
    */
  private[graft] val ivfProdK = 64
  private[graft] val ivfProdNprobe = 8

  /** Top-`nprobe` nearest cells per query vector: the multi-probe dual of
    * [[graft.operators.Dedup.assignCells]]. Same 1-row broadcast centroid
    * array, same (distance, cent_id) tie-break — realized by sorting
    * (dist, cent_id) structs, so `array_sort`'s lexicographic struct order
    * IS the `ORDER BY dist ASC, cent_id ASC` of the oracle's row_number.
    * Map-only over the (small) query side; the corpus never sees this.
    *
    * @return (query_id, q_emb, cent_id) — `nprobe` rows per query
    */
  private[graft] def probeCells(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val centArr = broadcast(cents
      .agg(array_sort(collect_list(struct(col("cent_id"), col("cent")))).as("__cs")))
    queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(centArr)
      .select(col("query_id"), col("q_emb"),
        explode(transform(
          slice(array_sort(transform(col("__cs"), c =>
            struct(l2sq(col("q_emb"), c.getField("cent")).as("dist"),
              c.getField("cent_id").as("cent_id")))), 1, nprobe),
          x => x.getField("cent_id"))).as("cent_id"))
  }

  /** IVF search over a given (cent_id, cent) table: assign every vector to
    * its nearest centroid (the [[graft.operators.Dedup.assignCells]]
    * broadcast-argmin map pass), then score only the query's `nprobe`
    * nearest cells ([[probeCells]]). The centroid table is the pluggable
    * index: seeded (ann_ivf_coarse) or k-means-trained (ann_ivf_trained).
    * Each corpus vector lives in exactly one cell and a query's probed
    * cells are distinct, so no (query, neighbor) pair can duplicate — the
    * scoring join needs no dedup.
    */
  private[graft] def ivfTop5(s: SparkSession, dir: String, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val assigned =
      graft.operators.Dedup.assignCells(emb, col("vec_id"), col("embedding"), cents)
        .select(col("__id").as("vec_id"), col("__v").as("embedding"),
          col("cell").as("cent_id"))
    // Queries probed from the filtered rows — building this broadcast must
    // not re-run the corpus-wide assignment pass.
    val queriesDf = probeCells(emb.filter(col("vec_id") < 10), cents, nprobe)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    assigned.select(col("vec_id").as("neighbor_id"), col("embedding"), col("cent_id"))
      .join(broadcast(queriesDf), Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rn"))
      .orderBy("query_id", "rn")
  }

  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    ivfTop5(s, dir, emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent")), ivfNprobe)
  }

  /** IVF over cells TRAINED by [[graft.operators.KMeans]] at the production
    * operating point (k=[[ivfProdK]]≈√n cells, 2 Lloyd iterations,
    * nprobe=[[ivfProdNprobe]] → probed fraction 1/8) — the FAISS-style
    * coarse quantizer at its published selectivity, vs the seeded k=8
    * baseline's half-corpus probes. Recall at this selectivity is an
    * oracle-pinned number in ann_recall_at_5.
    */
  private def qAnnIvfTrained(s: SparkSession, dir: String): DataFrame =
    // shared trained centroids (== KMeans.fit(emb, ivfProdK, 2), cached per
    // process — see AnnFixtures; the result is bit-identical)
    ivfTop5(s, dir, AnnFixtures.cents(s, dir, prodPq), ivfProdNprobe)

  /** `ORDER BY`-ready squared-L2 distance between a vector expr and a
    * centroid expr — the one distance definition every oracle-side argmin /
    * probe ranking uses (exact squared sum, never sqrt: list_distance's
    * sqrt round-trip can collapse 1-ulp-distinct distances into equal
    * doubles and fall through to a different tie-break).
    */
  private def l2SqlDist(vec: String, cent: String): String =
    s"""list_sum(list_transform(range(1, 65),
       i -> ($vec[i]::DOUBLE - $cent[i]::DOUBLE)
          * ($vec[i]::DOUBLE - $cent[i]::DOUBLE)))"""

  /** The query-side multi-probe CTE: `nprobe` nearest cells per query
    * (dist ASC, cent_id tie-break — the SQL dual of [[probeCells]]).
    */
  private def probeSqlCte(centsCte: String, out: String, nprobe: Int) =
    s"""$out AS (
         SELECT vec_id AS query_id, embedding AS q_emb, cent_id FROM (
           SELECT e.vec_id, e.embedding, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${l2SqlDist("e.embedding", "c.cent")} ASC, c.cent_id) AS arn
           FROM embeddings e CROSS JOIN $centsCte c
           WHERE e.vec_id < 10) WHERE arn <= $nprobe)"""

  /** The search body given a cents CTE (cent_id, cent): assignment argmin on
    * the exact squared sum (see ann_pq_adc's codes CTE), multi-probe
    * cell-restricted scoring, top-5.
    */
  private def ivfSqlBody(centsCte: String, nprobe: Int) =
    s"""assigned AS (
         SELECT vec_id, embedding, cent_id FROM (
           SELECT e.vec_id, e.embedding, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${l2SqlDist("e.embedding", "c.cent")} ASC, c.cent_id) AS arn
           FROM embeddings e CROSS JOIN $centsCte c) WHERE arn = 1),
       ${probeSqlCte(centsCte, "q", nprobe)},
       scored AS (
         SELECT q.query_id, a.vec_id AS neighbor_id,
           list_cosine_similarity(q.q_emb::DOUBLE[], a.embedding::DOUBLE[]) AS cos
         FROM q JOIN assigned a ON q.cent_id = a.cent_id AND a.vec_id != q.query_id)
       SELECT query_id, neighbor_id, round(cos, 4) AS cos, CAST(rn AS INT) AS rn FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         FROM scored) WHERE rn <= 5 ORDER BY query_id, rn"""

  private val qAnnIvfSql =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
       ${ivfSqlBody("cents", ivfNprobe)}"""

  // -- product quantization + asymmetric distance (the memory-bound ANN path) ----
  // PQ: split the 64-d vector into M=4 subspaces of 16 dims; per subspace,
  // K=16 seeded centroids (sub-vectors of the first 16 corpus rows — same
  // deterministic-seeding convention as IVF); each vector compresses to 4
  // small codes (4 bits each — at scale 8 bits × 8-16 subspaces, the
  // standard 64-128× compression that lets a trillion-vector index live in
  // RAM). K=16 over K=4 matters for retrieval quality, not just fidelity:
  // 2-bit codes give only 256 distinct code words corpus-wide, so most
  // candidates TIE on estimated distance and top-5 degenerates to the id
  // tie-break (recall@5 ≈ 0.16 on the test corpus); 4-bit codes give 65536
  // words and distinct estimates (recall pinned by ann_recall_at_5).
  // Queries score candidates by ADC — the sum over subspaces of the
  // exact distance from the query's sub-vector to the NEIGHBOR'S ASSIGNED
  // CENTROID — so the corpus side only ever touches codes, never floats.
  //
  // Plan: centroid sub-vector table is M×K = 16 rows (broadcast); encoding
  // is a map-only codegen argmin per (vector, subspace) row against the
  // broadcast per-subspace codebook; ADC joins codes to the tiny centroid
  // table and the broadcast query sub-vectors on (subspace, code) — the
  // corpus shuffles exactly once, for the per-(query, neighbor) sum. Fully
  // deterministic (seeded centroids, argmin and rank tie-breaks on id) →
  // oracle-checked.
  private val (pqM, pqSubDim, pqK) = (4, 16, 16)

  /** The one PqParams every production-operating-point gate shares. */
  private[queries] def prodPq = graft.operators.PqParams(pqM, pqSubDim, pqK)

  /** (id, carry…, m, sub): each vector exploded into its M subspace slices
    * — THE one definition of the PQ subspace layout (codebook, corpus
    * encode, and query sides all slice through here, so a layout change
    * cannot silently diverge between them). Input must expose `vec_id` and
    * `embedding`; `carry` columns (e.g. the IVF cell id) ride along.
    */
  private def pqSubSpaces(df: DataFrame, idAs: String, carry: Seq[String] = Nil): DataFrame = {
    val ms = array((0 until pqM).map(lit(_)): _*)
    df.select(col("vec_id").as(idAs) +: carry.map(col) :+
        explode(ms).as("m") :+ col("embedding"): _*)
      .select(col(idAs) +: carry.map(col) :+ col("m") :+
        slice(col("embedding"), col("m") * pqSubDim + 1, lit(pqSubDim)).as("sub"): _*)
  }

  /** Per-subspace centroid sub-vectors (cent_id, m, centsub) — the raw
    * M×K-row PQ codebook (seeded: sub-vectors of the first K corpus rows).
    */
  private def pqCsubs(emb: DataFrame): DataFrame =
    pqSubSpaces(emb.filter(col("vec_id") < pqK), "cent_id")
      .withColumnRenamed("sub", "centsub")

  // Codebook collapsed to one row per subspace (K sorted centroids, so
  // ArgminL2's first-wins tie-break realizes `dist ASC, cent_id ASC`);
  // encoding is then a codegen argmin per (vector, subspace) row after a
  // broadcast hash join on m. The previous formulation shuffled n×M×K
  // rows on (vec_id, m) for a row_number() window argmin; the only
  // hashpartitioning exchange left on this path is the groupBy over the
  // 16-row codebook itself (constant-size, corpus-independent).
  private def pqCodebook(csubs: DataFrame): DataFrame = csubs
    .groupBy(col("m"))
    .agg(array_sort(collect_list(struct(col("cent_id"), col("centsub")))).as("__cs"))
    .select(col("m"),
      transform(col("__cs"), c => c.getField("cent_id")).as("__cids"),
      transform(col("__cs"), c => c.getField("centsub")).as("__csubs"))

  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val csubs = pqCsubs(emb)
    val codebook = pqCodebook(csubs)
    val codes = pqSubSpaces(emb, "vec_id")
      .join(broadcast(codebook), "m")
      .select(col("vec_id"), col("m"),
        element_at(col("__cids"), argminL2(col("sub"), col("__csubs")) + 1).as("code"))
    val qsubs = pqSubSpaces(emb.filter(col("vec_id") < 10), "query_id")
      .withColumnRenamed("sub", "qsub")
    // ADC: per (query, neighbor, subspace) the distance to the neighbor's
    // centroid, summed over subspaces
    val w = Window.partitionBy(col("query_id")).orderBy(col("est_dist").asc, col("neighbor_id"))
    // one conditional sum per subspace (each selects exactly ONE row), then
    // a FIXED-ORDER left-associated addition — a plain sum() would merge
    // the 4 terms in shuffle-fetch order, and with 2-bit codes many
    // neighbors share identical code words: a 1-ulp association difference
    // between two tied neighbors would defeat the neighbor_id tie-break
    // and flip top-5 membership vs the oracle
    val terms = (0 until pqM).map(i =>
      sum(when(col("m") === i, col("term"))).as(s"t$i"))
    codes
      .join(broadcast(csubs.withColumnRenamed("cent_id", "code")), Seq("m", "code"))
      .join(broadcast(qsubs), "m")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("term", l2sq(col("qsub"), col("centsub")))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(terms.head, terms.tail: _*)
      .withColumn("est_dist", (0 until pqM).map(i => col(s"t$i")).reduce(_ + _))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), round(col("est_dist"), 4).as("est_dist"),
        col("rn"))
      .orderBy("query_id", "rn")
  }

  private val qAnnPqSql =
    s"""WITH ms AS (SELECT unnest([0,1,2,3]) AS m),
       subs AS (SELECT vec_id, m, list_slice(embedding::DOUBLE[], m*16+1, m*16+16) AS sub
                FROM embeddings CROSS JOIN ms),
       csubs AS (SELECT vec_id AS cent_id, m, sub AS centsub FROM subs WHERE vec_id < $pqK),
       codes AS (
         -- argmin on the exact squared sum, matching Spark's l2sq ordering:
         -- sqrt (list_distance) can collapse 1-ulp-distinct distances into
         -- equal doubles and fall through to a different tie-break
         SELECT vec_id, m, cent_id AS code FROM (
           SELECT s.vec_id, s.m, c.cent_id,
             row_number() OVER (PARTITION BY s.vec_id, s.m
               ORDER BY list_sum(list_transform(range(1, 17),
                 i -> (s.sub[i] - c.centsub[i]) * (s.sub[i] - c.centsub[i]))) ASC,
                 c.cent_id) AS crn
           FROM subs s JOIN csubs c ON s.m = c.m) WHERE crn = 1),
       q AS (SELECT vec_id AS query_id, m, sub AS qsub FROM subs WHERE vec_id < 10),
       terms AS (
         -- exact element-wise squared sum (NOT list_distance^2: the sqrt
         -- round-trip would perturb the low bits vs Spark's l2sq)
         SELECT q.query_id, cd.vec_id AS neighbor_id, cd.m,
           list_sum(list_transform(range(1, 17),
             i -> (q.qsub[i] - c.centsub[i]) * (q.qsub[i] - c.centsub[i]))) AS term
         FROM codes cd
         JOIN csubs c ON c.m = cd.m AND c.cent_id = cd.code
         JOIN q ON q.m = cd.m
         WHERE cd.vec_id != q.query_id),
       adc AS (
         -- fixed-order ((t0+t1)+t2)+t3, matching the engine's association
         SELECT query_id, neighbor_id,
           ((sum(CASE WHEN m=0 THEN term END) + sum(CASE WHEN m=1 THEN term END))
            + sum(CASE WHEN m=2 THEN term END)) + sum(CASE WHEN m=3 THEN term END) AS est_dist
         FROM terms GROUP BY 1, 2)
       SELECT query_id, neighbor_id, round(est_dist, 4) AS est_dist, CAST(rn AS INT) AS rn
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY est_dist ASC, neighbor_id) AS rn FROM adc)
       WHERE rn <= 5 ORDER BY query_id, rn"""

  // -- IVF-PQ composed ANN (the FAISS IVFADC layout) -----------------------------
  // The production-scale composition: a TRAINED coarse quantizer at the
  // production operating point (k=ivfProdK cells, nprobe=ivfProdNprobe →
  // 1/8 probed fraction) routes; PQ/ADC codes score within the probed
  // cells. Codes encode RESIDUALS (x − coarse centroid of x's cell), the
  // actual FAISS IVFADC formulation: residuals concentrate near zero, so a
  // fixed 4-bit code budget spends its resolution on the within-cell
  // detail the coarse quantizer didn't capture — most of IVFADC's fidelity
  // at fixed code size comes from exactly this. The query side mirrors it:
  // per probed cell, the query's residual AGAINST THAT CELL'S centroid is
  // what ADC compares against the cell's code words.
  //
  // The corpus side is touched by three map passes — cell assignment
  // (broadcast-argmin), residual subtraction (broadcast k-row centroid
  // join), and subspace encode (broadcast-codebook argmin) — with the cell
  // id riding along the code rows, so the index a deployment would persist
  // is literally this codes table: (vec_id, cell, m, code) — 4×4-bit codes
  // + a cell id per vector, floats never stored. Scoring joins codes to
  // the 16-row codebook and the broadcast (query × probed-cell × subspace)
  // side; the only corpus shuffle is the per-(query, neighbor) ADC sum.
  // Deterministic end-to-end (trained centroids are KMeans' rounded means;
  // residual arithmetic is element-wise double math in fixed order; every
  // argmin/rank ties on id) → the oracle re-derives training + assignment
  // + residuals + encoding + ADC in SQL.
  private def qAnnIvfPq(s: SparkSession, dir: String): DataFrame =
    ivfPqTop5(s, dir, AnnFixtures.cents(s, dir, prodPq))

  /** @param byResidual FAISS IndexIVFPQ.by_residual: encode x − cent(cell)
    *   (true, the IVFADC formulation — resolution spent on within-cell
    *   detail) vs raw x (false; kept so IvfSelectivitySpec can pin the
    *   residual encoding's recall lift at the same 4-bit budget).
    */
  private[graft] def ivfPqTop5(s: SparkSession, dir: String, cents: DataFrame,
      k: Int = 5, nprobe: Int = ivfProdNprobe, byResidual: Boolean = true): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // assignment first, then residuals: join the k-row centroid table back
    // (broadcast) and subtract element-wise in double — the same sequential
    // per-element arithmetic the oracle's list_transform performs
    val assigned = graft.operators.Dedup.assignCells(emb, col("vec_id"), col("embedding"), cents)
      .select(col("__id").as("vec_id"), col("cell"), col("__v").as("embedding"))
    val centsByCell = cents.select(col("cent_id").as("cell"), col("cent").as("__cent"))
    val resid =
      if (!byResidual) assigned
      else assigned
        .join(broadcast(centsByCell), "cell")
        .select(col("vec_id"), col("cell"),
          zip_with(col("embedding"), col("__cent"), (x, c) => x.cast("double") - c)
            .as("embedding"))
    // residual codebook: sub-vectors of the first pqK rows' RESIDUALS
    // (pooled across cells — FAISS trains one shared residual codebook)
    val csubs = pqSubSpaces(resid.filter(col("vec_id") < pqK), "cent_id")
      .withColumnRenamed("sub", "centsub")
    val codebook = pqCodebook(csubs)
    val codes = pqSubSpaces(resid, "vec_id", Seq("cell"))
      .join(broadcast(codebook), "m")
      .select(col("vec_id"), col("cell"), col("m"),
        element_at(col("__cids"), argminL2(col("sub"), col("__csubs")) + 1).as("code"))
    // query side: nprobe nearest cells per query, the query's residual
    // against EACH probed cell's centroid, then subspace slices — (query ×
    // cell × m), tiny, broadcast
    val probedRaw = probeCells(emb.filter(col("vec_id") < 10), cents, nprobe)
      .withColumnRenamed("cent_id", "cell")
    val probed =
      if (!byResidual)
        probedRaw.select(col("query_id").as("vec_id"), col("cell"),
          col("q_emb").as("embedding"))
      else probedRaw
        .join(broadcast(centsByCell), "cell")
        .select(col("query_id").as("vec_id"), col("cell"),
          zip_with(col("q_emb"), col("__cent"), (x, c) => x.cast("double") - c)
            .as("embedding"))
    val qsubs = pqSubSpaces(probed, "query_id", Seq("cell"))
      .withColumnRenamed("sub", "qsub")
    val w = Window.partitionBy(col("query_id")).orderBy(col("est_dist").asc, col("neighbor_id"))
    // same fixed-order ADC association as ann_pq_adc (see the comment there)
    val terms = (0 until pqM).map(i =>
      sum(when(col("m") === i, col("term"))).as(s"t$i"))
    codes
      .join(broadcast(csubs.withColumnRenamed("cent_id", "code")), Seq("m", "code"))
      .join(broadcast(qsubs), Seq("cell", "m"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("term", l2sq(col("qsub"), col("centsub")))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(terms.head, terms.tail: _*)
      .withColumn("est_dist", (0 until pqM).map(i => col(s"t$i")).reduce(_ + _))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("est_dist"), 4).as("est_dist"),
        col("rn"))
      .orderBy("query_id", "rn")
  }

  /** FAISS-style refine step over the IVFADC pipeline: ADC-retrieve a WIDER
    * candidate set (k=30), then re-rank those few rows by EXACT cosine
    * against the raw vectors and keep the top 5. ADC distances from 4-bit
    * codes are lossy — the wider quantized net catches true neighbors the
    * code-space ranking misorders, and the exact re-rank restores their
    * order. Scale shape: the candidate table is ~20 rows per query (tiny —
    * it BROADCASTS into an equi-join that fetches just those raw vectors
    * from the corpus; no second scan-wide compute pass), so refine cost is
    * independent of corpus size. The recall lift over plain ADC is
    * oracle-pinned in ann_recall_at_5.
    */
  private[graft] def ivfPqRerank(s: SparkSession, dir: String, ranked: DataFrame): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val qEmb = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(ranked.select(col("query_id"), col("neighbor_id"))), Seq("neighbor_id"))
      .join(broadcast(qEmb), Seq("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rn"))
      .orderBy("query_id", "rn")
  }

  private def qAnnIvfPqRerank(s: SparkSession, dir: String): DataFrame =
    ivfPqRerank(s, dir,
      ivfPqTop5(s, dir, AnnFixtures.cents(s, dir, prodPq), k = 30))

  // the same IVFADC chain widened to rn <= 30 — the final SELECT's rank
  // filter is the only `rn <=` clause (inner argmin/probe ranks use `arn`)
  private lazy val qAnnIvfPqWideSql = {
    val widened = qAnnIvfPqSql.replace("WHERE rn <= 5", "WHERE rn <= 30")
    require(widened != qAnnIvfPqSql, "rn<=5 clause not found to widen")
    widened
  }

  private lazy val qAnnIvfPqRerankSql =
    s"""WITH cand AS (SELECT query_id, neighbor_id FROM ($qAnnIvfPqWideSql)),
       qv AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
       scored AS (
         SELECT c.query_id, c.neighbor_id,
                list_cosine_similarity(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]) AS cos
         FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
                     JOIN qv q ON q.query_id = c.query_id)
       SELECT query_id, neighbor_id, round(cos, 4) AS cos, CAST(rn AS INT) AS rn
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS rn FROM scored)
       WHERE rn <= 5 ORDER BY query_id, rn"""

  /** Oracle dual: k-means training chain (c2, k=ivfProdK) + corpus cell
    * assignment + RESIDUAL computation + residual-codebook PQ encode +
    * multi-probe routing (nprobe=ivfProdNprobe) + per-probed-cell query
    * residuals + ADC, all re-derived in SQL. (lazy: textually references
    * kmTrainCtes / kmAssign declared further down the object — initialized
    * by the time the `oracles` map forces this.)
    */
  /** Everything after the training CTEs — shared by the standard IVFADC
    * gate (quantizer trained on all of `embeddings`), the append gate
    * (quantizer trained on the `corpus` CTE), and the upsert gate (encode
    * source = the post-upsert `emb2` CTE): assignment of `src` under the
    * final centroids, residuals, residual codebook, encode, probe, query
    * residuals, ADC. Expects `c2` (trained centroids) in scope. Queries
    * always come from the raw `embeddings` table (vec_id < 10) — gates
    * keep query rows outside their corpus perturbations.
    */
  /** @param cents   centroid CTE the SERVING side uses (assignment,
    *   residuals, probe routing) — `c2` for a plain trained index, the
    *   post-split table for the hot-split gate
    * @param cbCents centroid CTE the PQ CODEBOOK derives from; differs from
    *   `cents` exactly when the index's codebook is FROZEN across a
    *   centroid-table change (hot-cell split: residual code words stay
    *   those of the original training assignment). Defaults to `cents`,
    *   which keeps the generated text of every pre-existing oracle
    *   byte-identical.
    */
  private def ivfPqAdcSqlBodyFor(src: String, codesWhere: String = "",
      cents: String = "c2", cbCents: String = null): String = {
    val cb = Option(cbCents).getOrElse(cents)
    val csubsCte =
      if (cb == cents)
        s"""csubs AS (SELECT vec_id AS cent_id, m, sub AS centsub FROM subs WHERE vec_id < $pqK)"""
      else
        s"""cbsrc AS (SELECT vec_id, embedding FROM $src WHERE vec_id < $pqK),
       ${kmAssign(cb, "cbcell", "cbsrc")},
       cbrs AS (
         SELECT a.vec_id, a.cell,
           list_transform(range(1, 65),
             i -> a.embedding[i]::DOUBLE - c.cent[i]) AS remb
         FROM cbcell a JOIN $cb c ON c.cent_id = a.cell),
       csubs AS (SELECT vec_id AS cent_id, m, list_slice(remb, m*16+1, m*16+16) AS centsub
                 FROM cbrs CROSS JOIN ms)"""
    s"""${kmAssign(cents, "acell", src)},
       rs AS (
         SELECT a.vec_id, a.cell,
           list_transform(range(1, 65),
             i -> a.embedding[i]::DOUBLE - c.cent[i]) AS remb
         FROM acell a JOIN $cents c ON c.cent_id = a.cell),
       ms AS (SELECT unnest([0,1,2,3]) AS m),
       subs AS (SELECT vec_id, cell, m, list_slice(remb, m*16+1, m*16+16) AS sub
                FROM rs CROSS JOIN ms),
       $csubsCte,
       codes AS (
         SELECT vec_id, cell, m, cent_id AS code FROM (
           SELECT s.vec_id, s.cell, s.m, c.cent_id,
             row_number() OVER (PARTITION BY s.vec_id, s.m
               ORDER BY list_sum(list_transform(range(1, 17),
                 i -> (s.sub[i] - c.centsub[i]) * (s.sub[i] - c.centsub[i]))) ASC,
                 c.cent_id) AS crn
           FROM subs s JOIN csubs c ON s.m = c.m) WHERE crn = 1),
       qp AS (SELECT vec_id AS query_id, cent_id AS cell FROM (
           SELECT e.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${l2SqlDist("e.embedding", "c.cent")} ASC, c.cent_id) AS arn
           FROM embeddings e CROSS JOIN $cents c WHERE e.vec_id < 10) WHERE arn <= $ivfProdNprobe),
       qr AS (
         SELECT qp.query_id, qp.cell,
           list_transform(range(1, 65),
             i -> e.embedding[i]::DOUBLE - c.cent[i]) AS remb
         FROM qp JOIN embeddings e ON e.vec_id = qp.query_id
                 JOIN $cents c ON c.cent_id = qp.cell),
       q AS (SELECT query_id, cell, m, list_slice(remb, m*16+1, m*16+16) AS qsub
             FROM qr CROSS JOIN ms),
       terms AS (
         SELECT q.query_id, cd.vec_id AS neighbor_id, cd.m,
           list_sum(list_transform(range(1, 17),
             i -> (q.qsub[i] - c.centsub[i]) * (q.qsub[i] - c.centsub[i]))) AS term
         FROM codes cd
         JOIN q ON q.cell = cd.cell AND q.m = cd.m
         JOIN csubs c ON c.m = cd.m AND c.cent_id = cd.code
         WHERE cd.vec_id != q.query_id$codesWhere),
       adc AS (
         SELECT query_id, neighbor_id,
           ((sum(CASE WHEN m=0 THEN term END) + sum(CASE WHEN m=1 THEN term END))
            + sum(CASE WHEN m=2 THEN term END)) + sum(CASE WHEN m=3 THEN term END) AS est_dist
         FROM terms GROUP BY 1, 2)
       SELECT query_id, neighbor_id, round(est_dist, 4) AS est_dist, CAST(rn AS INT) AS rn
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY est_dist ASC, neighbor_id) AS rn FROM adc)
       WHERE rn <= 5 ORDER BY query_id, rn"""
  }

  private lazy val ivfPqAdcSqlBody = ivfPqAdcSqlBodyFor("embeddings")

  private lazy val qAnnIvfPqSql =
    s"""WITH ${kmTrainCtes(ivfProdK)},
       $ivfPqAdcSqlBody"""

  // -- persistable/appendable IVFADC index (graft.operators.VectorIndex) --------
  /** The corpus/fresh split of the append gate: ~10% of vectors are the
    * "fresh batch", chosen above the training-seed range so the corpus
    * contains every k-means seed (vec_id < ivfProdK), every PQ codebook
    * row (vec_id < pqK), and every query (vec_id < 10) — the frozen
    * quantizer is then textually the standard one, trained on the corpus.
    */
  private val freshCond: org.apache.spark.sql.Column =
    col("vec_id") % 10 === 7 && col("vec_id") >= ivfProdK
  private val freshCondSql = s"(vec_id % 10 = 7 AND vec_id >= $ivfProdK)"

  /** Append-under-frozen-quantizer equivalence gate: train the quantizer on
    * the CORPUS only, encode corpus and fresh batch SEPARATELY (the fresh
    * encode is the corpus-free append path — map-only under the broadcast
    * frozen quantizer; VectorIndexSpec asserts zero exchanges and the real
    * parquet round-trip), and answer ADC queries over the UNION of the two
    * code sets. The oracle re-derives corpus-only training and a single
    * combined-corpus encode — equality pins that an appended index answers
    * exactly like a full re-encode of the combined corpus.
    */
  private def qAnnIvfPqAppend(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{PqParams, VectorIndex}
    val emb = t(s, dir, "embeddings")
    val corpus = emb.filter(!freshCond)
    val fresh = emb.filter(freshCond)
    val pq = PqParams(pqM, pqSubDim, pqK)
    val quant = VectorIndex.train(corpus, col("vec_id"), col("embedding"),
      kCells = ivfProdK, iters = 2, pq = pq)
    val corpusCodes = VectorIndex.encode(corpus, col("vec_id"), col("embedding"), quant)
    val freshCodes = VectorIndex.encode(fresh, col("vec_id"), col("embedding"), quant)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    VectorIndex.searchAdc(corpusCodes.union(freshCodes), quant, queries,
      nprobe = ivfProdNprobe, topK = 5)
      .orderBy("query_id", "rn")
  }

  private lazy val qAnnIvfPqAppendSql =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE NOT $freshCondSql),
       ${kmTrainCtes(ivfProdK, "corpus")},
       $ivfPqAdcSqlBody"""

  /** The delete/update split of the upsert gate: both classes sit above
    * every training seed (vec_id < ivfProdK ⊇ the pqK codebook rows) and
    * every query (vec_id < 10), so the frozen quantizer — trained on the
    * FULL pre-upsert table — is textually the standard one, and query rows
    * survive the upsert untouched.
    */
  private val delCond: org.apache.spark.sql.Column =
    col("vec_id") % 10 === 3 && col("vec_id") >= ivfProdK
  private val delCondSql = s"(vec_id % 10 = 3 AND vec_id >= $ivfProdK)"
  private val updCond: org.apache.spark.sql.Column =
    col("vec_id") % 10 === 4 && col("vec_id") >= ivfProdK
  private val updCondSql = s"(vec_id % 10 = 4 AND vec_id >= $ivfProdK)"

  /** Upsert-under-frozen-quantizer equivalence gate — the vector dual of
    * `q_upsert_cdc`, exercising the PERSISTED maintenance path end-to-end:
    * train on the full table, WRITE the index to disk, apply a change
    * batch (tombstones + updated vectors, the updates deterministically
    * perturbed by reversing the embedding) via
    * [[graft.operators.VectorIndex.upsertBatch]] — which re-encodes ONLY
    * the changed vectors and rewrites ONLY the touched cell partitions —
    * then answer ADC queries from the index as reloaded from disk. The
    * oracle re-derives the same frozen quantizer and a from-scratch encode
    * of the POST-upsert corpus; equality pins that incremental maintenance
    * answers exactly like a full rebuild. The result is checkpointed so
    * the scratch index directory can be deleted before returning.
    */
  private def qAnnIvfPqUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorIndex
    val emb = t(s, dir, "embeddings")
    val pq = prodPq
    // private copy of the shared full-corpus index (AnnFixtures): the
    // train/encode/write fixed cost runs once per process; the gate still
    // exercises the persisted maintenance path end-to-end on its own copy
    val path = AnnFixtures.copyIndex(s, dir, pq)
    try {
      val updates = emb.filter(updCond)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val deletes = emb.filter(delCond).select(col("vec_id"))
      VectorIndex.upsertBatch(s, path, updates, deletes,
        col("vec_id"), col("embedding"), pq)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      // the serving shape: the probed-cell set prunes the reloaded codes
      // scan to its cell partitions (result-identical to searchAdc — every
      // ADC candidate joins on a probed cell)
      // ONE snapshot for quantizer + codes: the consistent-read serving
      // pattern (both parts from the same committed generation)
      val snap = VectorIndex.snapshot(s, path)
      VectorIndex.searchAdcPruned(VectorIndex.loadCodes(s, snap),
          VectorIndex.loadQuantizer(s, snap, pq), queries,
          nprobe = ivfProdNprobe, topK = 5)
        .orderBy("query_id", "rn")
        .localCheckpoint() // eager: must outlive the scratch index deletion
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(path))
    }
  }

  private lazy val qAnnIvfPqUpsertSql =
    s"""WITH emb2 AS (
         SELECT vec_id, embedding FROM embeddings
         WHERE NOT $delCondSql AND NOT $updCondSql
         UNION ALL
         SELECT vec_id, list_reverse(embedding) AS embedding
         FROM embeddings WHERE $updCondSql),
       ${kmTrainCtes(ivfProdK)},
       ${ivfPqAdcSqlBodyFor("emb2")}"""

  /** REINDEX gate — the drift response closing the index lifecycle
    * (r12 VERDICT #3, the [[graft.operators.VectorIndex.NeedsRetrain]]
    * answer): start from the persisted full-corpus index and
    * [[graft.operators.VectorIndex.reindex]] it against the post-change
    * corpus (the upsert gate's tombstones + reversed-embedding updates) —
    * train a FRESH quantizer on it, re-encode, atomically swap the staged
    * build in — and serve from the reloaded index via the pruned scan.
    * The oracle re-derives a from-scratch train+encode+ADC over the
    * post-change corpus (`emb2`), pinning reindex's rebuild-equivalence
    * contract cross-engine: a reindexed live index answers exactly like a
    * cold rebuild. (Contrast with the upsert gate, whose oracle trains on
    * the ORIGINAL table — upsert keeps the quantizer, reindex replaces
    * it.) Crash recovery for every swap window is spec-pinned in
    * VectorIndexCrashSweepSpec.
    *
    * The change batch rides the reindex itself, not a preceding
    * [[graft.operators.VectorIndex.upsertBatch]] (r13 VERDICT #8 — the
    * gate used to pay the upsert's full cost for an identical final
    * index): reindex re-trains and re-encodes every row from the supplied
    * vector source, so tombstoned ids are deleted by EXCLUSION from that
    * source (membership = index ids ∩ source ids) and updated content
    * flows in directly — the upsert+reindex composition and the bare
    * reindex converge to byte-identical indexes whenever the change batch
    * inserts no new ids (this one doesn't). The upsert path keeps its own
    * gate (`ann_ivfpq_upsert`) and the composition its lifecycle specs.
    */
  private def qAnnReindex(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorIndex
    val emb = t(s, dir, "embeddings")
    val pq = prodPq
    val path = AnnFixtures.copyIndex(s, dir, pq)
    try {
      val updates = emb.filter(updCond)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      // the CURRENT corpus as the caller-supplied vector source (the index
      // stores codes, not vectors — splitCell's contract); delCond rows are
      // absent, which IS their deletion
      val emb2 = emb.filter(!delCond && !updCond)
        .select(col("vec_id"), col("embedding"))
        .union(updates)
      VectorIndex.reindex(s, path, emb2, col("vec_id"), col("embedding"),
        kCells = ivfProdK, iters = 2, pq = pq)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      // ONE snapshot for quantizer + codes: the consistent-read serving
      // pattern (both parts from the same committed generation)
      val snap = VectorIndex.snapshot(s, path)
      VectorIndex.searchAdcPruned(VectorIndex.loadCodes(s, snap),
          VectorIndex.loadQuantizer(s, snap, pq), queries,
          nprobe = ivfProdNprobe, topK = 5)
        .orderBy("query_id", "rn")
        .localCheckpoint() // eager: must outlive the scratch index deletion
    } finally AnnFixtures.rm(new java.io.File(path))
  }

  /** Oracle: the post-change corpus (`emb2`), a quantizer trained ON it
    * (`kmTrainCtes(…, "emb2")` — the one line that differs from the upsert
    * oracle, which trains on the original table), and the standard ADC
    * body over it.
    */
  private lazy val qAnnReindexSql =
    s"""WITH emb2 AS (
         SELECT vec_id, embedding FROM embeddings
         WHERE NOT $delCondSql AND NOT $updCondSql
         UNION ALL
         SELECT vec_id, list_reverse(embedding) AS embedding
         FROM embeddings WHERE $updCondSql),
       ${kmTrainCtes(ivfProdK, "emb2")},
       ${ivfPqAdcSqlBodyFor("emb2")}"""

  /** Cell-occupancy accounting gate: the no-silent-caps principle applied
    * to the coarse quantizer, ORACLE-CHECKED — not just produced. k-means
    * on a skewed corpus concentrates vectors in few cells, silently
    * destroying `searchAdcPruned`'s nprobe/k pruning; this gate pins the
    * skew report itself ([[graft.operators.VectorIndex.occupancyReportOf]]
    * over `cellOccupancy(encode(corpus))`) against a full SQL re-derivation
    * of the trained assignment. `imbalance` = max cell / mean cell is the
    * worst-case pruned-scan degradation factor the serving path inherits.
    */
  private def qAnnIndexOccupancy(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorIndex
    val emb = t(s, dir, "embeddings")
    val quant = AnnFixtures.quantizer(s, dir, prodPq)
    VectorIndex.occupancyReportOf(
      VectorIndex.cellOccupancy(
        VectorIndex.encode(emb, col("vec_id"), col("embedding"), quant)))
  }

  private lazy val qAnnIndexOccupancySql =
    s"""WITH ${kmTrainCtes(ivfProdK)},
       ${kmAssign("c2", "a3")},
       occ AS (SELECT cell, count(*) AS n_vecs FROM a3 GROUP BY 1)
       SELECT count(*) AS n_cells,
         CAST(sum(n_vecs) AS BIGINT) AS n_vecs,
         CAST(max(n_vecs) AS BIGINT) AS max_cell,
         round(avg(n_vecs), 2) AS mean_cell,
         round(max(n_vecs) / avg(n_vecs), 2) AS imbalance
       FROM occ"""

  /** Filtered ANN search gate — the production vector-query shape: a
    * metadata predicate (here `label % 3 = 1`) rides WITH the vector
    * query. The index is encoded with the metadata ON the code rows
    * ([[graft.operators.VectorIndex.encode]]'s meta overload — a free
    * map-pass carry), and the predicate is applied to the candidate codes
    * BEFORE any ADC scoring via `searchAdcPruned(..., predicate)` — so the
    * per-query top-k ranks only matching candidates and a selective filter
    * still fills k rows instead of post-filter starving. The oracle
    * re-derives the frozen quantizer, the full-corpus encode, and an ADC
    * ranking over only the label-matching candidates. (Persisted-layout
    * pushdown — partition pruning + PushedFilters on `label` — is
    * spec-asserted in VectorIndexSpec; this gate pins the answers.)
    */
  private def qAnnFiltered(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorIndex
    val emb = t(s, dir, "embeddings")
    val quant = AnnFixtures.quantizer(s, dir, prodPq)
    val codes = VectorIndex.encode(emb, col("vec_id"), col("embedding"), quant,
      meta = Seq("label"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    VectorIndex.searchAdcPruned(codes, quant, queries,
        nprobe = ivfProdNprobe, topK = 5, predicate = Some(col("label") % 3 === 1))
      .orderBy("query_id", "rn")
  }

  /** SELECTIVE filtered ANN search gate (r12 VERDICT #6): the ~1/3
    * selectivity of `ann_filtered_search` barely stresses the starvation
    * claim — this gate rides a RARE predicate (`vec_id % 97 = 1`, ~1%
    * selectivity, attached as a derived metadata column the way any ingest
    * attaches licence/source tags) through the same
    * encode-with-meta → filter-before-ADC path. The per-query top-k ranks
    * only the few matching candidates inside the probed cells — fewer than
    * `topK` matches there legitimately returns fewer rows (raise nprobe for
    * recall), but a matching candidate is NEVER displaced by a
    * non-matching one, which is what post-filtering would do at this
    * selectivity. Serving cost tracks the FILTERED candidate count: the
    * ADC aggregation sees ~1% of the probed rows (the scale-tier artifacts
    * carry the comparison against `ann_filtered_search`; the no-starvation
    * law is spec-pinned in VectorIndexSpec on a fixture with ≥k in-probe
    * matches).
    */
  private def qAnnFilteredSelective(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorIndex
    val emb = t(s, dir, "embeddings")
    val quant = AnnFixtures.quantizer(s, dir, prodPq)
    val codes = VectorIndex.encode(
      emb.withColumn("rare", col("vec_id") % 97),
      col("vec_id"), col("embedding"), quant, meta = Seq("rare"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    VectorIndex.searchAdcPruned(codes, quant, queries,
        nprobe = ivfProdNprobe, topK = 5, predicate = Some(col("rare") === 1))
      .orderBy("query_id", "rn")
  }

  private lazy val qAnnFilteredSelectiveSql =
    s"""WITH ${kmTrainCtes(ivfProdK)},
       ${ivfPqAdcSqlBodyFor("embeddings",
         codesWhere = " AND cd.vec_id % 97 = 1")}"""

  private lazy val qAnnFilteredSql =
    s"""WITH ${kmTrainCtes(ivfProdK)},
       ${ivfPqAdcSqlBodyFor("embeddings",
         codesWhere = " AND cd.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 3 = 1)")}"""

  /** Starvation-driven probe WIDENING gate (r14 VERDICT #6) — the documented
    * response to `ann_pruned_shortfall`: start at nprobe=1, and when the
    * executed attempt reports unfilled top-k slots, re-run at the production
    * nprobe with both attempts accounted on the returned frame
    * ([[graft.operators.VectorIndex.searchAdcPrunedWidening]] /
    * `wideningRecord`). The predicate (`vec_id BETWEEN 10 AND 13`) matches
    * exactly FOUR vectors at every scale tier (replica ids shift far past
    * 13), fewer than topK=5 — so the narrow attempt starves BY CONSTRUCTION
    * and the widening deterministically fires, making the gate's answer
    * equal to the filtered search at the widened nprobe, which is exactly
    * what the oracle re-derives in SQL. (Starvation-dependent-on-data would
    * make the oracle scale-fragile; matches<topK pins it.)
    */
  private def qAnnFilteredWiden(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorIndex
    val emb = t(s, dir, "embeddings")
    val quant = AnnFixtures.quantizer(s, dir, prodPq)
    val codes = VectorIndex.encode(emb, col("vec_id"), col("embedding"), quant)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    VectorIndex.searchAdcPrunedWidening(codes, quant, queries,
        nprobe = 1, topK = 5, predicate = col("vec_id").between(10, 13),
        widenTo = ivfProdNprobe)
      .orderBy("query_id", "rn")
  }

  private lazy val qAnnFilteredWidenSql =
    s"""WITH ${kmTrainCtes(ivfProdK)},
       ${ivfPqAdcSqlBodyFor("embeddings",
         codesWhere = " AND cd.vec_id BETWEEN 10 AND 13")}"""

  /** Hot-cell SPLIT gate — the maintenance response to the skew
    * `ann_index_occupancy` measures, exercised end-to-end on a persisted
    * index: train, write, [[graft.operators.VectorIndex.splitCell]] the
    * hottest cell (sub-train k'=2 on its members, replace the parent
    * centroid with the two children, re-encode only the members under the
    * frozen PQ codebook), then serve via the pruned scan from the reloaded
    * index. The oracle re-derives the whole lifecycle in SQL: the trained
    * quantizer, the hottest-cell choice (count DESC, cell ASC), the
    * 2-means sub-train (3 Lloyd iterations, seeded from the two lowest
    * member ids), the child relabeling (max cent_id + 1, + 2), and a
    * from-scratch encode + ADC ranking under the post-split centroid table
    * with the codebook still derived from the ORIGINAL assignment —
    * pinning the split's rebuild-equivalence law cross-engine.
    */
  private def qAnnHotSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorIndex
    val emb = t(s, dir, "embeddings")
    val pq = prodPq
    // private copy of the shared full-corpus index — see qAnnIvfPqUpsert
    val path = AnnFixtures.copyIndex(s, dir, pq)
    try {
      val hot = VectorIndex.occupancy(s, path)
        .orderBy(col("n_vecs").desc, col("cell")).limit(1)
        .select(col("cell").cast("long")).head().getLong(0)
      VectorIndex.splitCell(s, path, hot, emb, col("vec_id"), col("embedding"), pq)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      // ONE snapshot for quantizer + codes: the consistent-read serving
      // pattern (both parts from the same committed generation)
      val snap = VectorIndex.snapshot(s, path)
      VectorIndex.searchAdcPruned(VectorIndex.loadCodes(s, snap),
          VectorIndex.loadQuantizer(s, snap, pq), queries,
          nprobe = ivfProdNprobe, topK = 5)
        .orderBy("query_id", "rn")
        .localCheckpoint() // eager: must outlive the scratch index deletion
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(path))
    }
  }

  /** Oracle: the sub-train is the same assign/update chain as kmTrainCtes,
    * k=2 over the hot cell's members with one extra iteration (splitCell
    * runs 3); `newc` is the post-split centroid table; the ADC body serves
    * under `newc` while the codebook stays pinned to the original `c2`
    * assignment (cbCents) — the frozen-codebook contract.
    */
  private lazy val qAnnHotSplitSql =
    s"""WITH ${kmTrainCtes(ivfProdK)},
       ${kmAssign("c2", "asg")},
       hot AS (SELECT cell FROM (SELECT cell, count(*) AS n FROM asg GROUP BY 1)
               ORDER BY n DESC, cell LIMIT 1),
       mem AS (SELECT vec_id, embedding FROM asg WHERE cell = (SELECT cell FROM hot)),
       s0 AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
              FROM mem ORDER BY vec_id LIMIT 2),
       ${kmAssign("s0", "sa1", "mem")},
       ${kmUpdate("sa1", "s0", "s1")},
       ${kmAssign("s1", "sa2", "mem")},
       ${kmUpdate("sa2", "s1", "s2")},
       ${kmAssign("s2", "sa3", "mem")},
       ${kmUpdate("sa3", "s2", "s3")},
       newc AS (
         SELECT cent_id, cent FROM c2 WHERE cent_id != (SELECT cell FROM hot)
         UNION ALL
         SELECT (SELECT max(cent_id) FROM c2) + row_number() OVER (ORDER BY cent_id)
                AS cent_id, cent
         FROM s3),
       ${ivfPqAdcSqlBodyFor("embeddings", cents = "newc", cbCents = "c2")}"""

  // -- ANN quality gate: recall@5 of every approximate path vs brute force -------
  // Joins each ANN path's top-5 against the exact brute-force top-5 and emits
  // per-path recall as an oracled scalar — the quality regression gate: a
  // future corpus or parameter change can keep every per-path hash green yet
  // silently degrade retrieval quality; this pins recall itself. Denominator
  // is the full true-neighbor set (5 × #queries), so a path returning fewer
  // than 5 candidates (possible for LSH) is penalized, not excused.
  // Scale shape: each path's result is ~5 rows/query; the brute set
  // broadcasts; the union is a few small map passes — cost is dominated by
  // the underlying path queries themselves.
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    // The true-neighbor table feeds TWO consumers (the hit join and the
    // denominator count) — materialized once via localCheckpoint (~50 rows)
    // so the brute-force corpus scan behind it runs once, not twice. Frame
    // is auto-freed by the ContextCleaner when the result is released.
    // Launched on a SIDE THREAD (r19, guide §2.6 — overlap independent
    // jobs): the brute-force pass and the widened ADC pass below share no
    // input state beyond the immutable parquet, and the gate used to pay
    // them back-to-back; Spark's scheduler happily runs both actions at
    // once and the second fills the first's task tail.
    val bruteExec = java.util.concurrent.Executors.newSingleThreadExecutor()
    val bruteF = bruteExec.submit(new java.util.concurrent.Callable[DataFrame] {
      override def call(): DataFrame =
        bruteTop5(s, dir).select(col("query_id"), col("neighbor_id"))
          .localCheckpoint()
    })
    try {
    // ONE k-means training for both trained paths — the process-wide shared
    // fixture (AnnFixtures): the Lloyd chain runs once per process, not
    // once per gate, and the cached centroids are bit-identical
    val trainedCents = AnnFixtures.cents(s, dir, prodPq)
    // ONE widened (k=30) IVFADC pass feeds both the plain ADC path (its
    // rn<=5 prefix) and the exact re-rank path — materialized via
    // localCheckpoint (~20 rows/query) so the code-space pipeline runs once
    val pqRanked = ivfPqTop5(s, dir, trainedCents, k = 30).localCheckpoint()
    val brute = bruteF.get()
    val paths = Seq(
      "ann_ivf_coarse" -> qAnnIvf(s, dir),
      "ann_ivf_trained" -> ivfTop5(s, dir, trainedCents, ivfProdNprobe),
      "ann_ivfpq_adc" -> pqRanked.filter(col("rn") <= 5),
      "ann_ivfpq_rerank" -> ivfPqRerank(s, dir, pqRanked),
      "ann_pq_adc" -> qAnnPq(s, dir),
      "ann_rhp_lsh" -> lshTop5(s, dir))
    val retrieved = paths.map { case (name, df) =>
      df.select(lit(name).as("path"), col("query_id"), col("neighbor_id"))
    }.reduce(_ union _)
    val bruteTotal = brute.agg(count(lit(1)).as("n_true"))
    retrieved
      .join(broadcast(brute.withColumn("__hit", lit(1))),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("path"))
      .agg(sum(coalesce(col("__hit"), lit(0))).as("n_hits"),
        count(lit(1)).as("n_returned"))
      .crossJoin(broadcast(bruteTotal))
      .withColumn("recall_at_5", round(col("n_hits").cast("double") / col("n_true"), 4))
      .select(col("path"), col("n_hits"), col("n_returned"), col("recall_at_5"))
      .orderBy("path")
    } finally bruteExec.shutdown()
  }

  /** Oracle dual: the path SQLs and the brute SQL inlined as subqueries
    * (DuckDB permits WITH inside a parenthesized subquery), so the oracle
    * re-derives every path — including the full k-means training chain of
    * the trained-IVF path — end-to-end and then the recall join. (lazy: it
    * textually references SQL vals declared further down the object; by the
    * time the `oracles` map forces it, they are initialized.)
    */
  private lazy val qAnnRecallSql =
    s"""WITH brute AS (SELECT query_id, neighbor_id FROM ($qKnnSql)),
       ivf AS (SELECT query_id, neighbor_id FROM ($qAnnIvfSql)),
       ivftr AS (SELECT query_id, neighbor_id FROM ($qAnnIvfTrainedSql)),
       ivfpq AS (SELECT query_id, neighbor_id FROM ($qAnnIvfPqSql)),
       ivfpqrr AS (SELECT query_id, neighbor_id FROM ($qAnnIvfPqRerankSql)),
       pq AS (SELECT query_id, neighbor_id FROM ($qAnnPqSql)),
       lsh AS (SELECT query_id, neighbor_id FROM ($qAnnLshSql)),
       allp AS (
         SELECT 'ann_ivf_coarse' AS path, query_id, neighbor_id FROM ivf
         UNION ALL SELECT 'ann_ivf_trained', query_id, neighbor_id FROM ivftr
         UNION ALL SELECT 'ann_ivfpq_adc', query_id, neighbor_id FROM ivfpq
         UNION ALL SELECT 'ann_ivfpq_rerank', query_id, neighbor_id FROM ivfpqrr
         UNION ALL SELECT 'ann_pq_adc', query_id, neighbor_id FROM pq
         UNION ALL SELECT 'ann_rhp_lsh', query_id, neighbor_id FROM lsh),
       tot AS (SELECT count(*) AS n_true FROM brute)
       SELECT path,
         CAST(sum(CASE WHEN b.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         CAST(count(*) AS BIGINT) AS n_returned,
         round(sum(CASE WHEN b.query_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / n_true, 4) AS recall_at_5
       FROM allp a LEFT JOIN brute b USING (query_id, neighbor_id) CROSS JOIN tot
       GROUP BY path, n_true ORDER BY path"""

  // -- distributed k-means (the trainer for SemDeDup / IVF centroid tables) -------
  // Two Lloyd iterations from the deterministic seed convention (first 8
  // corpus rows), then the final assignment's membership counts plus the
  // leading centroid components. The oracle re-derives the ENTIRE trainer —
  // three assignment passes and two rounded mean updates — in SQL, so the
  // iterative operator itself is hash-verified, not just one step.
  private def qKmeans(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = graft.operators.KMeans.fit(emb, col("vec_id"), col("embedding"), k = 8, iters = 2)
    val counts = graft.operators.Dedup.assignCells(emb, col("vec_id"), col("embedding"), cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    cents.join(counts, cents("cent_id") === counts("cell"), "left")
      .select(cents("cent_id").as("cell"), coalesce(col("n"), lit(0L)).as("n"),
        element_at(col("cent"), 1).as("c0"), element_at(col("cent"), 2).as("c1"))
      .orderBy("cell")
  }

  private def kmAssign(cents: String, out: String, src: String = "embeddings") =
    s"""$out AS (
       SELECT vec_id, embedding, cell FROM (
         SELECT e.vec_id, e.embedding, c.cent_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_sum(list_transform(range(1, 65),
               i -> (e.embedding[i]::DOUBLE - c.cent[i]) * (e.embedding[i]::DOUBLE - c.cent[i]))) ASC,
               c.cent_id) AS arn
         FROM $src e CROSS JOIN $cents c) WHERE arn = 1)"""

  private def kmUpdate(assignCte: String, prevCents: String, out: String) =
    s"""${out}_u AS (
         SELECT cell, pos, round(avg(v), 6) AS c FROM (
           SELECT cell, generate_subscripts(embedding, 1) AS pos,
                  unnest(embedding::DOUBLE[]) AS v
           FROM $assignCte) GROUP BY 1, 2),
       $out AS (
         SELECT p.cent_id, coalesce(u.cent, p.cent) AS cent
         FROM $prevCents p LEFT JOIN (
           SELECT cell AS cent_id, list(c ORDER BY pos) AS cent
           FROM ${out}_u GROUP BY 1) u USING (cent_id))"""

  /** The k-seeded, iters=2 training chain (KMeans.fit's oracle dual): seeds
    * → assign → rounded-mean update, twice; final centroids land in CTE c2.
    * k=8 for the readable emb_kmeans trainer gate; k=[[ivfProdK]] for the
    * production IVF paths.
    */
  private def kmTrainCtes(k: Int, src: String = "embeddings") =
    s"""c0 AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
           FROM $src WHERE vec_id < $k),
       ${kmAssign("c0", "a1", src)},
       ${kmUpdate("a1", "c0", "c1")},
       ${kmAssign("c1", "a2", src)},
       ${kmUpdate("a2", "c1", "c2")}"""

  private val qKmeansSql =
    s"""WITH ${kmTrainCtes(8)},
       ${kmAssign("c2", "a3")}
       SELECT cc.cent_id AS cell, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n,
         cc.cent[1] AS c0, cc.cent[2] AS c1
       FROM c2 cc LEFT JOIN (SELECT cell, count(*) AS n FROM a3 GROUP BY 1) cnt
         ON cnt.cell = cc.cent_id
       ORDER BY cell"""

  private val qAnnIvfTrainedSql =
    s"""WITH ${kmTrainCtes(ivfProdK)},
       ${ivfSqlBody("c2", ivfProdNprobe)}"""

  // -- vector stats (dot/norm plumbing oracle) -----------------------------------
  private def qEmbStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"),
      col("label"),
      size(col("embedding")).as("dim"),
      round(norm2(col("embedding")), 6).as("norm"),
      element_at(col("embedding"), 1).as("e1"))
      .orderBy("vec_id")

  private val qEmbStatsSql =
    """SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm,
       embedding[1] AS e1
       FROM embeddings ORDER BY vec_id"""

  // -- exact covariance statistics (the one-pass PCA precursor) ---------------------
  /** Covariance statistics of the embedding matrix in ONE aggregation pass:
    * per-dimension first and second moments (64 + 64 sums) plus selected
    * cross-moments, every sum accumulated in DECIMAL so the result is
    * order-independent and oracle-exact, then trace and covariances derive
    * in double. This is how covariance/Gram matrices are built at 100 TB —
    * all map-side partial sums, one 1-row exchange, no per-pair shuffles;
    * a full 64×64 Gram is the same pattern with 64·65/2 sum columns, and
    * PCA is driver-side eigendecomposition of that tiny result.
    */
  private def qEmbCovariance(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    def x(i: Int) = element_at(col("embedding"), i + 1).cast("double")
    def dsum(c: org.apache.spark.sql.Column, nm: String) =
      sum(c.cast("decimal(38,12)")).cast("double").as(nm)
    val moments =
      Seq(count(lit(1)).cast("double").as("n")) ++
        (0 until dim).map(i => dsum(x(i), s"s_$i")) ++
        (0 until dim).map(i => dsum(x(i) * x(i), s"q_$i")) ++
        Seq(dsum(x(0) * x(1), "c_0_1"), dsum(x(2) * x(5), "c_2_5"))
    val agg = t(s, dir, "embeddings").agg(moments.head, moments.tail: _*)
    val trace = (0 until dim)
      .map(i => (col(s"q_$i") - col(s"s_$i") * col(s"s_$i") / col("n")) / (col("n") - 1))
      .reduce(_ + _)
    agg.select(
      col("n").cast("long").as("n"),
      round(trace, 6).as("trace"),
      round((col("q_0") - col("s_0") * col("s_0") / col("n")) / (col("n") - 1), 8).as("var_0"),
      round((col("c_0_1") - col("s_0") * col("s_1") / col("n")) / (col("n") - 1), 8).as("cov_0_1"),
      round((col("c_2_5") - col("s_2") * col("s_5") / col("n")) / (col("n") - 1), 8).as("cov_2_5"))
  }

  // the 130 moment sums are generated, not hand-written — identical math on
  // both sides by construction
  private val qEmbCovarianceSql = {
    val dim = 64
    def x(i: Int) = s"(embedding[${i + 1}]::DOUBLE)"
    val sums =
      (0 until dim).map(i => s"CAST(sum(CAST(${x(i)} AS DECIMAL(38,12))) AS DOUBLE) AS s_$i") ++
        (0 until dim).map(i => s"CAST(sum(CAST(${x(i)}*${x(i)} AS DECIMAL(38,12))) AS DOUBLE) AS q_$i") ++
        Seq(s"CAST(sum(CAST(${x(0)}*${x(1)} AS DECIMAL(38,12))) AS DOUBLE) AS c_0_1",
          s"CAST(sum(CAST(${x(2)}*${x(5)} AS DECIMAL(38,12))) AS DOUBLE) AS c_2_5")
    val trace = (0 until dim).map(i => s"(q_$i - s_$i*s_$i/n)/(n-1)").mkString(" + ")
    s"""WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n, ${sums.mkString(", ")} FROM embeddings)
       SELECT CAST(n AS BIGINT) AS n, round($trace, 6) AS trace,
              round((q_0 - s_0*s_0/n)/(n-1), 8) AS var_0,
              round((c_0_1 - s_0*s_1/n)/(n-1), 8) AS cov_0_1,
              round((c_2_5 - s_2*s_5/n)/(n-1), 8) AS cov_2_5
       FROM m"""
  }

  // -- centroid per label (distributed vector aggregation) -------------------------
  private def qCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("c"))
      .filter(col("pos") < 4)
      .select(col("label"), col("pos"), col("c"))
      .orderBy("label", "pos")

  private val qCentroidsSql =
    """SELECT label, CAST(pos - 1 AS INT) AS pos, round(avg(v), 6) AS c
       FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v,
                    generate_subscripts(embedding, 1) AS pos
             FROM embeddings)
       WHERE pos - 1 < 4 GROUP BY label, pos ORDER BY label, pos"""

  // -- embedding outliers: farthest vectors from their label centroid --------------
  // Anomaly/quality signal over embedding space: mean vector per label (one
  // aggregation), then each vector's L2 distance to its own centroid, top-3
  // farthest per label. The centroid table is tiny → broadcast; the corpus
  // is touched in one aggregation pass plus one map-side join.
  private def qEmbOutliers(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // centroid components ROUNDED to 6 decimals (like emb_label_centroids):
    // avg() accumulates in shuffle-fetch order, so unrounded centroids can
    // differ in the last ulp between engines/runs — feeding that into a
    // rank-3/4 boundary would make the gate flaky. After rounding, the
    // distance inputs are bit-identical on both sides and the per-pair
    // arithmetic is the same sequential-order double math as knn.
    val cents = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), transform(col("pc"), x => x.getField("c")).as("centroid"))
    val w = Window.partitionBy(col("label")).orderBy(col("dist").desc, col("vec_id"))
    emb.join(broadcast(cents), "label")
      .withColumn("dist", sqrt(l2sq(col("embedding"), col("centroid"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("label"), col("rn"), col("vec_id"), round(col("dist"), 4).as("dist"))
      .orderBy("label", "rn")
  }

  private val qEmbOutliersSql =
    """WITH expl AS (SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos, unnest(embedding::DOUBLE[]) AS v
                     FROM embeddings),
       cents AS (SELECT label, pos, round(avg(v), 6) AS c FROM expl GROUP BY 1, 2),
       cvec AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cents GROUP BY 1),
       scored AS (
         SELECT e.label, e.vec_id,
           sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
             i -> (e.embedding[i]::DOUBLE - cv.centroid[i]) * (e.embedding[i]::DOUBLE - cv.centroid[i])))) AS dist
         FROM embeddings e JOIN cvec cv USING (label))
       SELECT label, CAST(rn AS INT) AS rn, vec_id, round(dist, 4) AS dist FROM (
         SELECT *, row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS rn
         FROM scored) WHERE rn <= 3 ORDER BY label, rn"""

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_pq_adc" -> (qAnnPq _),
    "ann_ivfpq_adc" -> (qAnnIvfPq _),
    "ann_ivfpq_rerank" -> (qAnnIvfPqRerank _),
    "ann_ivfpq_append" -> (qAnnIvfPqAppend _),
    "ann_ivfpq_upsert" -> (qAnnIvfPqUpsert _),
    "ann_reindex" -> (qAnnReindex _),
    "ann_index_occupancy" -> (qAnnIndexOccupancy _),
    "ann_filtered_search" -> (qAnnFiltered _),
    "ann_filtered_selective" -> (qAnnFilteredSelective _),
    "ann_filtered_widen" -> (qAnnFilteredWiden _),
    "ann_hot_split" -> (qAnnHotSplit _),
    "ann_recall_at_5" -> (qAnnRecall _),
    "knn_cosine_brute" -> (qKnn _),
    "emb_outliers" -> (qEmbOutliers _),
    "ann_rhp_lsh" -> (qAnnLsh _),
    "ann_ivf_coarse" -> (qAnnIvf _),
    "ann_ivf_trained" -> (qAnnIvfTrained _),
    "emb_kmeans" -> (qKmeans _),
    "emb_stats" -> (qEmbStats _),
    "emb_covariance" -> (qEmbCovariance _),
    "emb_label_centroids" -> (qCentroids _))

  override val oracles: Map[String, String] = Map(
    "ann_pq_adc" -> qAnnPqSql,
    "ann_ivfpq_adc" -> qAnnIvfPqSql,
    "ann_ivfpq_rerank" -> qAnnIvfPqRerankSql,
    "ann_ivfpq_append" -> qAnnIvfPqAppendSql,
    "ann_ivfpq_upsert" -> qAnnIvfPqUpsertSql,
    "ann_reindex" -> qAnnReindexSql,
    "ann_index_occupancy" -> qAnnIndexOccupancySql,
    "ann_filtered_search" -> qAnnFilteredSql,
    "ann_filtered_selective" -> qAnnFilteredSelectiveSql,
    "ann_filtered_widen" -> qAnnFilteredWidenSql,
    "ann_hot_split" -> qAnnHotSplitSql,
    "ann_recall_at_5" -> qAnnRecallSql,
    "knn_cosine_brute" -> qKnnSql,
    "emb_outliers" -> qEmbOutliersSql,
    "ann_rhp_lsh" -> qAnnLshSql,
    "ann_ivf_coarse" -> qAnnIvfSql,
    "ann_ivf_trained" -> qAnnIvfTrainedSql,
    "emb_kmeans" -> qKmeansSql,
    "emb_stats" -> qEmbStatsSql,
    "emb_covariance" -> qEmbCovarianceSql,
    "emb_label_centroids" -> qCentroidsSql)
}
