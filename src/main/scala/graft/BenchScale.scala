package graft

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress bench tier: EVERY gate query on a SYNTHETIC 10× replication
  * of sf0.1 (there is no driver-generated sf1). This is the measured data
  * point behind the scaladocs' scale claims (bounded task memory, no n²
  * blowup): a query whose time grows much faster than the 10× data ratio
  * has a super-linear plan regardless of what its sf0.1 time looked like.
  *
  * Replication is STRUCTURE-PRESERVING, not duplication-inflating: naive
  * row copies would make every document a 10-way near-dup clique and every
  * pair query quadratically larger — measuring a different (and unrealistic)
  * workload. Instead each replica k gets:
  *  - documents: ids shifted by k·N; every token prefixed `r{k}_` (k>0), so
  *    replicas share no shingles — the dup-pair structure replicates
  *    linearly, per-replica token statistics keep their shape;
  *  - embeddings: ids shifted; dimensions circularly rotated by 7k — norms
  *    and within-replica cosines are exactly preserved, cross-replica
  *    cosines decorrelate (no synthetic near-dup inflation);
  *  - events / TPC-H facts: every key shifted by k times ITS OWN
  *    dimension's cardinality — customer/orders/lineitem/part/supplier
  *    foreign keys stay aligned across replicas (an orders row in replica
  *    k points at the replica-k copy of its customer), so join
  *    selectivities and per-key group sizes are preserved while key
  *    cardinality grows 10×: the correct scale direction for
  *    join/groupBy/window/session shapes;
  *  - nation / region: copied once (fixed 25/5-row dimension tables — at
  *    any real scale these stay constant; per-nation group sizes grow 10×,
  *    which IS the production behavior of a fixed-cardinality dimension).
  * The fixed-size query/centroid sets (vec_id < 10 / < 8) land in replica 0
  * only: a growing corpus under a constant query set, which is exactly the
  * production scale path of the ANN queries.
  */
object BenchScale {

  val Reps = 10

  /** Bump when the synthesis recipe changes — a stale _DONE from an older
    * recipe (e.g. the 4-table round-5 tier) must not satisfy the guard.
    */
  private val Version = "v3"

  val AllTables = Seq("documents", "embeddings", "events", "customer",
    "supplier", "part", "orders", "lineitem", "nation", "region")

  /** @param nReps  replication factor (10 = the sf1 tier; 100 = the
    *   two-decade growth tier, documents/embeddings only per r6 VERDICT #7)
    * @param tables subset to synthesize — queries needing an absent table
    *   fail at read and are recorded as -1 (excluded from the total)
    */
  /** Source-fixture signature folded into the _DONE stamp: a driver-side
    * fixture regeneration (which has already changed events.ts' physical
    * type once) must invalidate a previously-synthesized tier, not be
    * silently served the stale copy.
    */
  private def srcSigOf(srcDir: String, tables: Seq[String]): String =
    tables.sorted.map { t =>
      val f = new java.io.File(s"$srcDir/$t.parquet")
      val (len, mod) =
        if (f.isDirectory) {
          val parts = Option(f.listFiles()).getOrElse(Array.empty)
          (parts.map(_.length).sum, parts.map(_.lastModified).maxOption.getOrElse(0L))
        } else (f.length, f.lastModified)
      s"$t:$len:$mod"
    }.mkString(",").hashCode.toHexString

  private[graft] def stampFor(srcDir: String, nReps: Int, tables: Seq[String]): String =
    s"$Version-${nReps}x-${tables.sorted.mkString(".")}-src${srcSigOf(srcDir, tables)}"

  private val StampRe = s"^$Version-(\\d+)x-([a-z._]+)-src([0-9a-f]+)$$".r

  /** Whether `outDir` already holds a tier USABLE for (srcDir, nReps,
    * tables): same recipe version, same replication factor, the stamped
    * table set a SUPERSET of the wanted one, and the source signature —
    * recomputed over the STAMPED tables — unchanged. This is what the
    * standalone AnnIngestBench gates its reuse on
    * (ADVICE r17: a bare file-existence check silently reused tiers built
    * at different SCALE_REPS or from regenerated fixtures, measuring
    * against different data than the same round's BenchScale artifacts).
    */
  def validFor(outDir: String, srcDir: String, nReps: Int,
      tables: Seq[String]): Boolean = {
    val done = new java.io.File(outDir, "_DONE")
    if (!done.exists()) return false
    scala.util.Try(java.nio.file.Files.readString(done.toPath).trim)
      .toOption.exists {
        case StampRe(n, stamped, sig) =>
          val stampedTables = stamped.split("\\.").toSeq
          n.toInt == nReps && tables.forall(stampedTables.contains) &&
            sig == srcSigOf(srcDir, stampedTables)
        case _ => false
      }
  }

  def synthesize(spark: SparkSession, srcDir: String, outDir: String,
      nReps: Int = Reps, tables: Seq[String] = AllTables): Unit = {
    val fs = new java.io.File(outDir)
    val done = new java.io.File(fs, "_DONE")
    // Superset-aware reuse: a tier the ladder already built with MORE
    // tables (same reps, same sources) serves any subset without a
    // rebuild; anything else — absent, partial (no stamp: a crashed
    // synthesis), different reps, or regenerated fixtures — re-synthesizes
    // loudly.
    if (validFor(outDir, srcDir, nReps, tables)) return
    if (done.exists())
      System.err.println(s"[bench-scale] $outDir stamp is stale for " +
        s"(${nReps}x, ${tables.sorted.mkString(",")}) — re-synthesizing")
    val stamp = stampFor(srcDir, nReps, tables)
    fs.mkdirs()

    def maxOf(df: DataFrame, c: String): Long = df.agg(max(col(c))).head().getLong(0) + 1
    def reps(df: DataFrame)(copy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until nReps).map(k => copy(df, k)).reduce(_ union _)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def wants(name: String): Boolean = tables.contains(name)

    if (wants("documents")) {
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      val nDocs = maxOf(docs, "doc_id")
      reps(docs) { (df, k) =>
        val text =
          if (k == 0) col("text")
          else concat_ws(" ", transform(split(col("text"), " "), t => concat(lit(s"r${k}_"), t)))
        df.select((col("doc_id") + lit(k * nDocs)).as("doc_id"), text.as("text"),
          col("lang"), col("source"), length(text).cast("long").as("n_chars"))
      }.pipe(write(_, "documents"))
    }

    if (wants("embeddings")) {
      val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      val nVec = maxOf(emb, "vec_id")
      reps(emb) { (df, k) =>
        val shift = (k * 7) % 64
        val rotated =
          if (shift == 0) col("embedding")
          else concat(slice(col("embedding"), shift + 1, 64 - shift),
            slice(col("embedding"), 1, shift))
        // rotations repeat with period 64 in k; past that, REVERSE the
        // rotated vector — still a permutation (norms and within-replica
        // cosines exactly preserved) but distinct from its unreversed twin,
        // so no two of up to 128 replicas share a transform and no
        // synthetic exact-duplicate vectors inflate the near-dup structure
        val mixed = if (k < 64) rotated else reverse(rotated)
        df.select((col("vec_id") + lit(k * nVec)).as("vec_id"),
          mixed.as("embedding"), col("label"))
      }.pipe(write(_, "embeddings"))
    }

    if (AllTables.drop(2).exists(wants)) // any relational/event table wanted
      synthesizeRelational(spark, srcDir, outDir, nReps, wants)

    java.nio.file.Files.writeString(done.toPath, stamp + "\n")
  }

  private def synthesizeRelational(spark: SparkSession, srcDir: String,
      outDir: String, nReps: Int, wants: String => Boolean): Unit = {
    def maxOf(df: DataFrame, c: String): Long = df.agg(max(col(c))).head().getLong(0) + 1
    def reps(df: DataFrame)(copy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until nReps).map(k => copy(df, k)).reduce(_ union _)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // events.ts varies by fixture vintage (nanos-as-long vs TIMESTAMP_NTZ
    // micros); replicate from the RAW read and pass `ts` through unchanged —
    // QueryPack.t branches on whichever dtype the written copy carries.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (wants("events")) {
      val events = spark.read.parquet(s"$srcDir/events.parquet")
      val nEv = maxOf(events, "event_id")
      val nUsr = maxOf(events, "user_id")
      reps(events) { (df, k) =>
        df.select((col("event_id") + lit(k * nEv)).as("event_id"), col("ts"),
          (col("user_id") + lit(k * nUsr)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.pipe(write(_, "events"))
    }

    // TPC-H: dimension cardinalities come from the OWNING table so fact-
    // table foreign keys shift onto the matching replica's dimension rows.
    // All lazy (r10 ADVICE): a targeted tier (e.g. events-only) must neither
    // run the four cardinality jobs nor even require the TPC-H fixtures to
    // exist — each read/aggregate fires only when a wanted table needs it
    // (nCust: customer+orders; nSupp/nPart: their tables + lineitem;
    // nOrd: orders + lineitem).
    lazy val customer = spark.read.parquet(s"$srcDir/customer.parquet")
    lazy val supplier = spark.read.parquet(s"$srcDir/supplier.parquet")
    lazy val part = spark.read.parquet(s"$srcDir/part.parquet")
    lazy val orders = spark.read.parquet(s"$srcDir/orders.parquet")
    lazy val nCust = maxOf(customer, "c_custkey")
    lazy val nSupp = maxOf(supplier, "s_suppkey")
    lazy val nPart = maxOf(part, "p_partkey")
    lazy val nOrd = maxOf(orders, "o_orderkey")

    if (wants("customer")) reps(customer) { (df, k) =>
      df.select((col("c_custkey") + lit(k * nCust)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }.pipe(write(_, "customer"))

    if (wants("supplier")) reps(supplier) { (df, k) =>
      df.select((col("s_suppkey") + lit(k * nSupp)).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))
    }.pipe(write(_, "supplier"))

    if (wants("part")) reps(part) { (df, k) =>
      df.select((col("p_partkey") + lit(k * nPart)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }.pipe(write(_, "part"))

    if (wants("orders")) reps(orders) { (df, k) =>
      df.select((col("o_orderkey") + lit(k * nOrd)).as("o_orderkey"),
        (col("o_custkey") + lit(k * nCust)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.pipe(write(_, "orders"))

    if (wants("lineitem")) {
      val lineitem = spark.read.parquet(s"$srcDir/lineitem.parquet")
      reps(lineitem) { (df, k) =>
        df.select((col("l_orderkey") + lit(k * nOrd)).as("l_orderkey"),
          (col("l_partkey") + lit(k * nPart)).as("l_partkey"),
          (col("l_suppkey") + lit(k * nSupp)).as("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate"))
      }.pipe(write(_, "lineitem"))
    }

    // fixed-cardinality dimensions: copied once, not replicated
    if (wants("nation")) write(spark.read.parquet(s"$srcDir/nation.parquet"), "nation")
    if (wants("region")) write(spark.read.parquet(s"$srcDir/region.parquet"), "region")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val artifact = args.headOption.getOrElse("BENCH_sf1.json")
    // SPARK_GRAFT_SCALE_REPS=100 with SPARK_GRAFT_SCALE_TABLES=
    // documents,embeddings is the two-decade growth tier (r6 VERDICT #7):
    // queries over absent tables fail at read and are recorded -1.
    val scaleReps = sys.env.get("SPARK_GRAFT_SCALE_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(Reps)
    val scaleTables = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(AllTables)
    // The documented Θ(n²) exhaustive query is excludable at extreme tiers
    // (quadratic at 100× = ~10⁴× the sf0.1 work by design, not by defect);
    // exclusions are recorded in the artifact so a reader sees the cap.
    val exclude = sys.env.get("SPARK_GRAFT_SCALE_EXCLUDE")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // SPARK_GRAFT_SCALE_ONLY=q1,q2 runs a targeted subset (e.g. the
    // relational/event growth points on a relational-only tier); everything
    // else lands in the artifact's `excluded` via the registry diff below.
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = LocalSession.build()
    synthesize(spark, srcDir, outDir, scaleReps, scaleTables)

    // EVERY gate query (round 5 covered only the dedup/ANN/pipeline/text
    // packs — the relational/window/TPC-H shapes had no scale data point)
    val qs = SparkEntry.queries.view
      .filterKeys(k => !exclude.contains(k) && only.forall(_.contains(k))).toMap
    val sortedQs = qs.toSeq.sortBy(_._1)
    // same methodology as Bench: untimed warmup (doubling as the per-query
    // byte-accounting pass — the tier artifact's `bytes` field is what lets
    // tools/roundcheck.py adjudicate growth against the data shape each
    // query actually read), then min of the timed reps, clearCache between
    val bytesRead = Bench.warmupWithBytes(spark, outDir, sortedQs)
    spark.catalog.clearCache()
    // same env-tunable rep count as Bench (min reported; marker in JSON)
    val nReps = sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(2)
    // Contention gate (r10 VERDICT #1): a tier artifact whose calibration
    // probe exceeds the uncontended ledger band is measurement garbage —
    // r10's committed 100x full-registry artifact (before-probe 0.788) read
    // mm_decode_real at a phantom 15.9x growth. The run now (a) waits for a
    // quiet host before the timed pass, (b) re-runs the WHOLE pass when
    // either probe lands dirty, and (c) stamps the artifact
    // "contended":true if it never got a clean pair — which
    // tools/roundcheck.py then fails, so a polluted artifact cannot be
    // committed silently. Bench's acceptance loop with no wall-clock budget
    // (so never degraded), 20 quiet waits and no inversion gate.
    val probeMax = sys.env.get("SPARK_GRAFT_PROBE_MAX").flatMap(_.toDoubleOption)
      .getOrElse(0.65)
    val maxAttempts = sys.env.get("SPARK_GRAFT_BENCH_ATTEMPTS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(3)
    Bench.calibrationProbe() // discard: probe-loop JIT warmup
    // IO weather bracket (non-gating — see Bench.ioProbe)
    val ioBefore = Bench.settledIoProbe()
    // per-gate per-rep stage forensics of the final attempt, stamped into
    // the tier artifact (VERDICT r17 #3) — see Bench.ForensicsKeys
    var lastPass = Seq.empty[Bench.GateTiming]
    val t0 = System.nanoTime()
    val o = Bench.runGated(
      Bench.GatedConfig(nReps, maxAttempts, probeMax, budgetSec = Double.PositiveInfinity,
        maxWaitsCap = 20),
      () => (System.nanoTime() - t0) / 1e9,
      (pm, mw) => Bench.quietOrWeather(pm, maxWaits = mw),
      () => Bench.settledProbe(),
      r => {
        lastPass = Bench.timeGates(spark, outDir, sortedQs, r)
        lastPass.map(g => (g.name, g.min, g.median))
      },
      (_, _, _) => (0, Nil))
    if (!o.probesClean) System.err.println(
      s"[bench-scale] attempt ${o.attempts} contended (probes ${o.probeBefore}/${o.probeAfter} " +
        s"> ${o.probeLine}) — artifact stamped contended")
    val results = o.results.map { case (n, v, _) => (n, v) }
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qjson = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val metric = if (scaleReps == Reps) "total_sf1" else s"total_scale${scaleReps}x"
    // No silent narrowing (r9 VERDICT #3): `excluded` is computed as the
    // REGISTRY DIFF — every registered gate without a successful timing in
    // this artifact (env-excluded, failed all reps, or otherwise absent) —
    // so a tier artifact always accounts for the full gate registry it was
    // built against. tools/roundcheck.py cross-checks committed tier
    // artifacts against the round's correctness registry the same way.
    val timed = results.collect { case (n, t) if t >= 0 => n }.toSet
    val absent = (SparkEntry.queries.keySet -- timed) ++ exclude
    val excl = absent.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fkeys = Bench.ForensicsKeys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"$metric","value":${fmt(total)},"unit":"sec","reps":${o.repsUsed},"agg":"min","contended":${!o.probesClean},"attempts":${o.attempts},"weather":${o.weather},"probe_line":${fmt(o.probeLine)},"probe_floor":${fmt(o.probeFloor)},"calibration":{"before":${fmt(o.probeBefore)},"after":${fmt(o.probeAfter)}},"io_probe":${Bench.ioJson(ioBefore, Bench.settledIoProbe(), Bench.ioQuietLedger())},"scale":"${scaleReps}x-$srcDir","excluded":$excl,"queries":$qjson,"bytes":${Bench.bytesJson(bytesRead)},"forensics_keys":$fkeys,"forensics":${Bench.forensicsJson(Bench.forensicsOf(lastPass))}}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), json + "\n")
    catch { case _: Throwable => () }
    println(json)
    // tail-survivable health line — see Bench.healthLine
    println(Bench.healthLine(o.probeBefore, o.probeAfter, total, o.repsUsed,
      results.count(_._2 >= 0), extra = s""","contended":${!o.probesClean},"attempts":${o.attempts}"""))
    spark.stop()
  }
}
