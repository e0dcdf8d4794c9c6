package graft
import org.apache.spark.graftshim.StageForensics
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** The benched action: a noop-format write. `count()` plans
    * Aggregate(count(1)) and ColumnPruning then deletes every projected
    * expression the count doesn't need — for map-only queries (text_*,
    * mm_*, scrub, quantize) that optimized away the very work being
    * measured, leaving scan+count. The noop sink consumes every output
    * row in full (all columns evaluated, nothing written), so the timed
    * region covers the actual query work.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Free the localCheckpoint storage pinned inside a CONSUMED frame's plan
    * (the eager dedup operators and the recall gate's shared brute table
    * checkpoint at build time). catalog.clearCache() cannot touch
    * checkpoint storage and the ContextCleaner only reclaims it at the
    * next driver GC (periodic default: 30 min) — long after later timed
    * reps have run — so the bench frees it deterministically. Safe only
    * because the frame is never read again (checkpoint lineage is
    * truncated; the data is not recomputable).
    */
  def releaseCheckpoints(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** One gate's timed reps: the min and median over its SUCCESSFUL reps
    * (-1 for both when every rep failed), and one forensics row per rep,
    * failed reps included.
    */
  final case class GateTiming(name: String, min: Double, median: Double, reps: Seq[Rep])

  /** One rep: wall seconds (-1 when it failed), its [[StageForensics]]
    * counter deltas, and the Spark jobs it ran.
    */
  final case class Rep(sec: Double, stage: Map[String, Long], jobs: Seq[StageForensics.JobSpan])

  /** The harness's one rep loop. Each rep builds the gate and
    * [[materialize]]s it inside the timed region; releasing its
    * checkpoints, `clearCache` and the forensics snapshots sit outside it
    * (a snapshot drains the listener bus, which must not bill into the
    * rep's wall time), so dead caches/checkpoints from one rep never sit
    * in storage memory under later timings. Min over successful reps only:
    * a fast-failing rep must not shadow a real slow success with a
    * near-zero time. Min is the steady-state cost; the median exposes the
    * spread a contended host injects.
    */
  def timeGates(spark: SparkSession, dir: String,
      gates: Seq[(String, (SparkSession, String) => DataFrame)], reps: Int): Seq[GateTiming] = {
    val sc = spark.sparkContext
    val forensics = StageForensics.install(sc)
    gates.map { case (name, fn) =>
      val rows = (1 to reps).map { i =>
        val s0 = forensics.snapshot(sc)
        forensics.takeJobs(sc) // drop jobs that ran before this rep
        val t0 = System.nanoTime()
        val built =
          try { val df = fn(spark, dir); materialize(df); Some(df) }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name rep $i failed: $e"); None }
        val t = (System.nanoTime() - t0) / 1e9
        built.foreach(releaseCheckpoints)
        spark.catalog.clearCache()
        Rep(if (built.isDefined) t else -1.0, forensics.since(sc, s0), forensics.takeJobs(sc))
      }
      val ok = rows.map(_.sec).filter(_ >= 0).sorted
      if (ok.isEmpty) GateTiming(name, -1.0, -1.0, rows)
      else GateTiming(name, ok.head, (ok((ok.size - 1) / 2) + ok(ok.size / 2)) / 2, rows)
    }
  }

  /** Per-gate forensics arrays for an artifact: [[ForensicsKeys]] of every rep. */
  def forensicsOf(pass: Seq[GateTiming]): Map[String, Seq[Seq[Long]]] =
    pass.map(g => g.name -> g.reps.map(r => ForensicsKeys.map(r.stage.getOrElse(_, 0L)))).toMap

  /** Untimed warmup pass that doubles as the BYTE-ACCOUNTING pass: one rep
    * of every query (absorbing codegen/classloading cold costs before the
    * timed pass) whose `input_bytes` delta — eager sub-jobs included — is
    * the query's byte count. Bytes are a property of the DATA SHAPE, not
    * the host, so one cold pass is the measurement; the artifact's `bytes`
    * field is what lets the growth gate adjudicate a query's time growth
    * against what it actually read instead of against the nominal tier
    * ratio (tools/roundcheck.py consumes it). The rep loop clears the cache
    * between queries, so a sub-plan persisted by an earlier query can never
    * satisfy a later query's scan and silently under-count its bytes.
    */
  def warmupWithBytes(spark: SparkSession, dir: String,
      qs: Seq[(String, (SparkSession, String) => DataFrame)]): Map[String, Long] =
    timeGates(spark, dir, qs, 1)
      .map(g => g.name -> g.reps.head.stage.getOrElse("input_bytes", 0L)).toMap

  def bytesJson(bytes: Map[String, Long]): String =
    bytes.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")

  // ---- byte-pass cache (VERDICT r17 #1: cut Bench's fixed cost) ----------
  //
  // The warmup/byte pass is a full cold suite execution (~1/3 of a driver
  // run's 718 s for a 105 s timed pass in r17). Its two products are (a)
  // JIT/codegen warmth — which min-of-2+ reps reproduces anyway (rep 1
  // absorbs the cold cost, the reported min is rep 2's steady state) — and
  // (b) the per-query `bytes` field, which is a DETERMINISTIC property of
  // (code, data, action): re-measuring it every run buys nothing. So the
  // byte map is cached on disk keyed by a fingerprint of exactly those
  // three inputs, and a valid cache skips the warmup pass entirely. Any
  // code or data change misses the key and re-measures — the safe
  // direction is always a full pass, never a stale byte map.

  val BytesCacheFile = "bench_bytes_cache.json"

  /** Fingerprint of (compiled classes, data dir, action, query registry).
    * Classes: relative path + SIZE of every file under the code source
    * (NOT mtimes — an identical recompile must not invalidate; a real code
    * change that leaves every class file byte-count identical is not a
    * realistic edit). Data: per-table name + length + mtime (+ per-part
    * lengths for directory tables) — a driver-side fixture regeneration
    * invalidates even at equal size.
    */
  def bytesCacheKey(sfDir: String, actionName: String,
      queryNames: Seq[String]): String = {
    val sb = new StringBuilder
    def walk(f: java.io.File, prefix: String): Unit =
      if (f.isFile) { sb.append(prefix).append(':').append(f.length).append(';'); () }
      else Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
        .foreach(c => walk(c, prefix + "/" + c.getName))
    walk(new java.io.File(
      SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI), "")
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .sortBy(_.getName).foreach { t =>
        sb.append(t.getName).append(':').append(t.length).append(':')
          .append(t.lastModified).append(';')
        if (t.isDirectory) Option(t.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName).foreach(p =>
            sb.append(p.getName).append(':').append(p.length).append(';'))
      }
    sb.append('|').append(actionName).append('|')
      .append(queryNames.mkString(","))
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(sb.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def readBytesCache(key: String, path: String = BytesCacheFile)
      : Option[Map[String, Long]] = try {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    if (root.path("key").asText("") != key) None
    else {
      import scala.jdk.CollectionConverters._
      Some(root.path("bytes").fields.asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap)
    }
  } catch { case _: Throwable => None }

  def writeBytesCache(key: String, sfDir: String, actionName: String,
      bytes: Map[String, Long], path: String = BytesCacheFile): Unit = {
    val json = s"""{"key":"$key","sf":"$sfDir","action":"$actionName",""" +
      s""""bytes":${bytesJson(bytes)}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path), json + "\n")
    catch { case _: Throwable => () }
  }

  // ---- io_probe quiet-floor ledger (VERDICT r17 #4) -----------------------

  /** Floor → line multiplier for the fsync probe. Wide by design: fsync
    * weather on this host legitimately spans ~3.7× within one session
    * (0.09–0.33 s measured r16), so a CPU-style 1.18 line would stamp
    * weather on ordinary days; 3× above the all-history quiet floor marks
    * only the genuinely slow tail. MIRRORED in tools/roundcheck.py
    * (BenchCalibrationSpec pins the copies). */
  val IoLineMult = 3.0

  /** Minimum stamped samples before the ledger is trusted to set a line. */
  val IoMinLedger = 4

  /** The fsync quiet-floor ledger: min over every io_probe value stamped in
    * bench_history.jsonl (Bench appends one per run, so the ledger deepens
    * every round). Returns (floor, line = floor × [[IoLineMult]]) once
    * [[IoMinLedger]] samples exist; None before that (first rounds of the
    * ledger — io weather then stays unadjudicated, as it was pre-r18).
    */
  def ioQuietLedger(historyPath: String = "bench_history.jsonl")
      : Option[(Double, Double)] = try {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vals = scala.collection.mutable.ArrayBuffer.empty[Double]
    val src = scala.io.Source.fromFile(historyPath)
    try src.getLines().foreach { line =>
      try {
        val io = mapper.readTree(line).path("io_probe")
        Seq(io.path("before"), io.path("after")).foreach { n =>
          if (n.isNumber && n.asDouble > 0) vals += n.asDouble
        }
      } catch { case _: Throwable => () }
    } finally src.close()
    if (vals.size >= IoMinLedger) Some((vals.min, vals.min * IoLineMult))
    else None
  } catch { case _: Throwable => None }

  /** The artifact's io_probe stamp: raw bracket always; floor/line/verdict
    * once the ledger is deep enough. `weather_io` takes the MIN of the
    * bracket (same statistic the CPU gate settles on): one queued-writeback
    * burst must not stamp the run. NON-(retry-)gating this round — the
    * stamp is the falsifier roundcheck surfaces; gating acceptance on it
    * starts once the line has a few rounds of stamped history behind it.
    */
  def ioJson(before: Double, after: Double,
      ledger: Option[(Double, Double)]): String = {
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val base = s""""before":${fmt(before)},"after":${fmt(after)}"""
    ledger match {
      case Some((floor, line)) =>
        val weather = math.min(before, after) > line
        s"""{$base,"floor":${fmt(floor)},"line":${fmt(line)},"weather_io":$weather}"""
      case None => s"""{$base}"""
    }
  }

  // ---- per-gate stage forensics (VERDICT r17 #3) --------------------------

  /** The per-rep stage metrics stamped into artifacts, in array order —
    * the subset of [[org.apache.spark.graftshim.StageForensics.Keys]] the
    * weather adjudication reads: input/spill/shuffle bytes are
    * DETERMINISTIC per (code, data) so rep-parity there plus a cpu/run
    * swing is the measured-environmental signature; parity broken means a
    * real plan change. tools/roundcheck.py consumes these in its growth
    * verdicts (byte parity + time swing ⇒ weather-suspect downgrade).
    */
  val ForensicsKeys: Seq[String] = Seq("run_ms", "cpu_ms", "gc_ms",
    "shuffle_write_ms", "mem_spill_bytes", "disk_spill_bytes",
    "shuffle_bytes_written", "input_bytes")

  def forensicsJson(stage: Map[String, Seq[Seq[Long]]]): String =
    stage.toSeq.sortBy(_._1).map { case (q, reps) =>
      s"\"" + q + "\":" + reps.map(_.mkString("[", ",", "]"))
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")

  // Sink for the probe's fold so the JIT cannot dead-code-eliminate the work.
  @volatile private var blackhole: Long = 0L

  /** Fixed-work CPU calibration probe: 8 threads each xorshift-fill, sort,
    * and hash-fold a 2M-long array, 3 times. The work is a compile-time
    * constant, so the wall time measures only the HOST — on an uncontended
    * box it is stable run-to-run (ledger in COVERAGE.md), and a co-tenant
    * burning cores inflates it proportionally. Timed before AND after the
    * suite so a contended bench run is identifiable from the artifact alone
    * (two rounds of officially-recorded numbers were silently
    * contention-polluted before this existed: r5's and r6's both showed
    * sf0.1 queries "slower" than the same code on 10× data).
    *
    * The per-thread buffers are PREALLOCATED once: the original probe
    * allocated its 16 MB arrays per iteration (8×3 = 384 MB of G1
    * humongous allocations per probe run), so the probe's wall time
    * tracked the bench JVM's own heap occupancy and concurrent-GC state —
    * measured drift within one r15 session: 0.60 s on a fresh JVM to
    * 0.75 s late in a 24g-heap suite, with host steal at ZERO and no other
    * process alive. A probe that slows down as its own JVM works is not a
    * host-contention signal; the reuse makes it pure CPU + memory
    * bandwidth, which is exactly what a co-tenant contends for.
    */
  private val ProbeThreads = 8
  private val ProbeN = 1 << 21
  private lazy val probeBufs: Array[Array[Long]] =
    Array.fill(ProbeThreads)(new Array[Long](ProbeN))

  def calibrationProbe(): Double = {
    val iters = 3
    val t0 = System.nanoTime()
    val ts = (0 until ProbeThreads).map { tid =>
      val th = new Thread(() => {
        val a = probeBufs(tid)
        var iter = 0
        while (iter < iters) {
          var x = 0x9E3779B97F4A7C15L + tid * 7919L + iter
          var i = 0
          while (i < ProbeN) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
          java.util.Arrays.sort(a)
          var acc = 0L
          i = 0
          while (i < ProbeN) { acc ^= a(i) * 0x100000001B3L; i += 1 }
          blackhole = acc
          iter += 1
        }
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Probe the HOST, not the JVM's leftovers. The raw probe allocates
    * 8×16 MB×3 — a single GC pause from the just-finished timed pass
    * landing inside the probe window adds 30-80 ms, which reads as
    * "contended" at the 0.65 ledger line even on an idle host (r15: after-
    * probes of 0.67-0.70 on a host whose quiet floor was 0.60-0.62, each
    * one forcing a full ~5-min retry pass — a self-perpetuating loop,
    * since every extra pass leaves more GC debt). Contention the gate
    * exists to catch — a co-tenant burning cores — dirties BOTH runs;
    * JVM-internal GC debt dirties at most the first. So: settle the heap
    * explicitly, then take the min of two probe runs.
    */
  def settledProbe(probe: () => Double = () => calibrationProbe()): Double = {
    System.gc()
    math.min(probe(), probe())
  }

  /** Fixed-work DISK probe (stamped in artifacts, never gating): seconds to
    * write and fsync 32 MB in 1 MB chunks under java.io.tmpdir — the same
    * device every shuffle spill, parquet write, and synthesized tier lives
    * on. The CPU probe cannot see disk/page-cache weather, which is exactly
    * the class two rounds of adjudication landed on (r16 MinHash: CPU gates
    * at parity while the shuffle-heaviest gate moved 1.5×; r17 builder:
    * CPU-bound gates FASTER while IO-bound gates moved 1.3-1.7× at byte
    * parity under clean CPU probes). Stamping a fixed-work fsync number
    * beside the CPU calibration makes that adjudication readable off the
    * artifacts instead of reconstructed from per-gate ratio forensics.
    * NOT part of the acceptance gate: no quiet-host ledger of fsync floors
    * exists yet to set a line against — gating would be guessing. Gate
    * candidacy starts once a few rounds of stamped values exist.
    */
  def ioProbe(): Double = {
    val chunk = new Array[Byte](1 << 20)
    new java.util.Random(0x10b5eed).nextBytes(chunk) // incompressible, fixed
    val f = java.io.File.createTempFile("graft_ioprobe", ".bin")
    try {
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val buf = java.nio.ByteBuffer.wrap(chunk)
        var i = 0
        while (i < 32) {
          buf.rewind()
          while (buf.hasRemaining) ch.write(buf)
          ch.force(false)
          i += 1
        }
      } finally ch.close()
      (System.nanoTime() - t0) / 1e9
    } finally { f.delete(); () }
  }

  /** Min-of-two [[ioProbe]] — one queued writeback burst from the suite's
    * own just-finished pass should not read as host IO weather. */
  def settledIoProbe(): Double = math.min(ioProbe(), ioProbe())

  /** Per-query times from a prior bench artifact (for the inversion check).
    * Returns (sfDir, name→seconds). Jackson ships with Spark.
    */
  def readBenchArtifact(path: java.io.File): (String, Map[String, Double]) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(path)
    import scala.jdk.CollectionConverters._
    val qs = root.path("queries").fields.asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap
    // sf0.1 artifacts carry "sf"; scale-tier artifacts carry "scale"
    (root.path("sf").asText(root.path("scale").asText("")), qs)
  }

  /** The reference artifact's own host speed: the faster of its two
    * calibration probes (None when the artifact predates probe stamping).
    * Lets the inversion gate compare like host speeds — see hostFactor.
    */
  def readArtifactProbe(path: java.io.File): Option[Double] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path)
    val cal = root.path("calibration")
    val vals = Seq(cal.path("before"), cal.path("after"))
      .filter(n => n.isNumber).map(_.asDouble)
    if (vals.isEmpty) None else Some(vals.min)
  }

  /** Cross-weather normalization for the inversion gate: this run's probes
    * vs the reference artifact's stamped probe floor. Under slow weather
    * (r15: the same idle host probed 0.60 at 01:00 and 0.77-0.86 at 05:00)
    * every sf0.1 query reads ~25-30% slower than the fast-weather 10×-tier
    * reference, so fixed-cost gates blow the 1.5×+0.5 s structural bar
    * without anything being wrong. Factor = min(before, after) / refProbe —
    * the SAME statistic [[readArtifactProbe]] takes from the reference, so
    * on a like-speed host (identical probe floors) the factor is exactly
    * 1.0 rather than mean-vs-min drifting above it and silently loosening
    * the gate (ADVICE r15). Clamped to [1, 1.5]: never relaxes on a
    * like-speed host, and a run more than 1.5× slower than its reference
    * is beyond adjudication (the structural gate then fires as it should).
    */
  def hostFactor(probeBefore: Double, probeAfter: Double,
      refProbe: Option[Double]): Double = refProbe match {
    case Some(r) if r > 0 =>
      math.min(1.5, math.max(1.0, math.min(probeBefore, probeAfter) / r))
    case _ => 1.0
  }

  /** Classify this run's per-query minima against a committed LARGER-tier
    * reference. An inversion (this SF slower than 10× the data, same code)
    * is physically impossible except as measurement noise or host
    * contention. `marginal`: fixed-cost sub-second queries barely grow with
    * data, so min-of-N noise flips the sign — weather, present on a quiet
    * host (the r6 judge's own clean re-run had 6). STRUCTURAL: >1.5× AND
    * >0.5 s over the big-tier time — comfortably past fixed-cost spread,
    * far under the real contention signature's 3-13× (r6: 9.07 s vs
    * 0.67 s). Pure so BenchInversionSpec can drive it with fake ledgers.
    * Returns (raw inversion count, structural query names).
    */
  def classifyInversions(results: Seq[(String, Double)],
      refTimes: Map[String, Double]): (Int, Seq[String]) = {
    val inv = results.collect {
      case (name, v) if v >= 0 && refTimes.get(name).exists(r => r >= 0 && v > r) =>
        (name, v, refTimes(name))
    }
    val structural = inv.collect {
      case (name, v, r) if v > r * 1.5 && v - r > 0.5 => name
    }
    (inv.size, structural)
  }

  /** The acceptance decision for one completed timed pass (r13 VERDICT #1:
    * the official 159 s artifact had clean probes, attempts:1 — and 13
    * structural inversions; a run the tooling could prove absurd became
    * the round's number because only probes gated acceptance). A pass is
    * clean only when BOTH probes are quiet AND no structural inversions
    * exist; either failure mode retries the whole suite identically.
    */
  /** Idle-host probe noise is ±13-15% within a single minute (ProbeMain,
    * measured r15: 0.69-0.78 with zero java processes and zero steal); a
    * co-tenant arriving mid-pass moves the after-probe 1.5-2×+ (measured
    * same session: 0.67→1.2). So the after-probe only rejects a pass when
    * it exceeds BOTH the line and before×1.15 — otherwise a line that
    * happens to sit mid-distribution of the day's idle noise turns
    * acceptance into a coin flip, each tail costing a full timed pass.
    */
  val AfterDriftBand = 1.15

  def passClean(probeBefore: Double, probeAfter: Double, probeMax: Double,
      structuralCount: Int): Boolean =
    probeBefore <= probeMax &&
      probeAfter <= math.max(probeMax, probeBefore * AfterDriftBand) &&
      structuralCount == 0

  /** Beyond this, the host is too slow for numbers to mean anything —
    * weather acceptance refuses and the run keeps retrying/fails dirty. */
  val WeatherCap = 1.0

  /** Result of waiting for a quiet host: the final settled probe, the
    * effective acceptance line, whether that line is an elevated
    * steady-weather floor rather than the ledger line, and the measured
    * floor itself. The floor is STAMPED into the artifact (`probe_floor`)
    * so tools/roundcheck.py can derive the weather line from evidence
    * (floor × the 1.18 multiplier) instead of accepting any self-stamped
    * probe_line up to the cap (ADVICE r15). Under no-weather acceptance
    * the floor is just the ledger line.
    */
  final case class ProbeGate(probe: Double, line: Double, weather: Boolean,
      floor: Double)

  /** Wait for a quiet host — but distinguish TRANSIENT contention (a
    * co-tenant burst: probe variance, worth outwaiting) from steady HOST
    * WEATHER (the whole VM uniformly slower for hours — hypervisor
    * neighbors; r15 measured idle-host floors of 0.60 at 01:00 and 0.69 at
    * 03:00 in the same session). Against weather the absolute ledger line
    * never passes: every attempt burns a full timed pass and the run dies
    * dirty despite being perfectly measurable. Discriminator: weather is a
    * STEADY floor — `window` consecutive settled probes agreeing within
    * `band` — and is accepted by raising the line to floor×1.18, REPORTED
    * HONESTLY via weather:true + probe_line in the artifact (roundcheck
    * re-adjudicates against the stamped line and surfaces the note).
    * Floors above [[WeatherCap]] are refused outright. Band calibration:
    * ProbeMain on a measured-idle host (zero java processes, steal 0) in
    * the r15 slow-weather state read 0.69-0.78 — idle noise is ±13% under
    * weather, so the band is 1.15 (a co-tenant burst measured the same
    * session spanned 0.67→1.2, far outside it).
    */
  def quietOrWeather(probeMax: Double, maxWaits: Int, sleepMs: Long = 15000,
      probe: () => Double = () => settledProbe(),
      window: Int = 8, band: Double = 1.15): ProbeGate = {
    val recent = scala.collection.mutable.ArrayBuffer.empty[Double]
    var p = probe()
    var waits = 0
    while (p > probeMax && waits < maxWaits) {
      recent += p
      val w = recent.takeRight(window)
      if (w.size == window && w.max <= w.min * band && w.min <= WeatherCap) {
        val line = w.min * WeatherLineMult
        System.err.println(
          f"[bench] steady host weather: $window consecutive settled probes " +
          f"in [${w.min}%.3f, ${w.max}%.3f] — accepting elevated line " +
          f"$line%.3f (ledger $probeMax%.2f); artifact stamped weather:true")
        return ProbeGate(p, line, weather = true, floor = w.min)
      }
      Thread.sleep(sleepMs); waits += 1; p = probe()
    }
    ProbeGate(p, probeMax, weather = false, floor = probeMax)
  }

  /** Floor→line multiplier for steady-weather acceptance. MIRRORED in
    * tools/roundcheck.py (which re-derives the stamped probe_line as
    * probe_floor × this value — Python can't import Scala, so the constant
    * is duplicated and BenchCalibrationSpec greps roundcheck.py to assert
    * the two copies agree).
    */
  val WeatherLineMult = 1.18

  // ---- wall-clock budget (VERDICT r16 #1) ---------------------------------
  //
  // The official driver-side run is SIGKILLed at an unknown wall-clock cap;
  // r16's died mid-timed-pass with NO artifact because the run's own
  // defenses (10-min quiet-probe waits × up to 5 attempts + warmup) no
  // longer fit the cap in slow weather. A measurement gate whose failure
  // mode is "no measurement at all" is worse than a stamped-dirty
  // measurement — so the run carries a budget and degrades INSIDE it:
  // every branch ends in a parseable JSON line.

  /** Fraction of the budget after which the run drops to floor methodology
    * (reps=1, no retries) and emits whatever the next pass measures,
    * stamped degraded:true. */
  val DegradeFrac = 0.75

  /** Fraction of the budget the quiet-probe waits may collectively spend —
    * the r14-asked raises (waits 5→10 min, attempts 3→5) are capped in
    * TOTAL seconds, not in counts. */
  val WaitFrac = 0.5

  final case class GatedConfig(reps: Int, maxAttempts: Int, probeMax: Double,
      budgetSec: Double, waitSleepSec: Double = 15.0, maxWaitsCap: Int = 40)

  final case class GatedOutcome(results: Seq[(String, Double, Double)],
      probeBefore: Double, probeAfter: Double, probeLine: Double,
      probeFloor: Double, weather: Boolean, attempts: Int, repsUsed: Int,
      degraded: Boolean, invCount: Int, structural: Seq[String]) {
    def probesClean: Boolean = probeBefore <= probeLine &&
      probeAfter <= math.max(probeLine, probeBefore * AfterDriftBand)
    def inverted: Boolean = structural.nonEmpty
  }

  /** The budget-aware acceptance loop, pure in its dependencies so
    * BenchBudgetSpec can drive it with a fake clock/probe/pass and assert
    * every budget posture without a SparkSession:
    *
    *   - the quiet-probe wait allowance is whatever remains until
    *     [[WaitFrac]] of the budget — capped TOTAL, so waiting can never
    *     starve the timed pass;
    *   - past [[DegradeFrac]] the attempt runs at reps=1 and is final;
    *   - a dirty attempt only retries when another pass (sized by the one
    *     just measured, +20% and probe overhead) still fits the budget.
    *
    * `elapsed` is seconds since PROCESS start (the budget covers warmup
    * too); `classify` receives (results, probeBefore, probeAfter) so the
    * caller can host-factor its inversion reference per attempt.
    */
  def runGated(cfg: GatedConfig, elapsed: () => Double,
      quiet: (Double, Int) => ProbeGate,
      afterProbe: () => Double,
      pass: Int => Seq[(String, Double, Double)],
      classify: (Seq[(String, Double)], Double, Double) => (Int, Seq[String]))
      : GatedOutcome = {
    var attempt = 0
    var degraded = false
    var out: GatedOutcome = null
    var clean = false
    while (!clean && attempt < cfg.maxAttempts) {
      attempt += 1
      val waitBudget = math.max(0.0, cfg.budgetSec * WaitFrac - elapsed())
      val maxWaits =
        math.min(cfg.maxWaitsCap, (waitBudget / cfg.waitSleepSec).toInt)
      val floorPosture = elapsed() >= cfg.budgetSec * DegradeFrac
      val repsThis = if (floorPosture) 1 else cfg.reps
      if (floorPosture) degraded = true
      val gate = quiet(cfg.probeMax, maxWaits)
      val t0 = elapsed()
      val results = pass(repsThis)
      val passDur = elapsed() - t0
      val pAfter = afterProbe()
      val (ic, structural) =
        classify(results.map { case (n, v, _) => (n, v) }, gate.probe, pAfter)
      clean = passClean(gate.probe, pAfter, gate.line, structural.size)
      out = GatedOutcome(results, gate.probe, pAfter, gate.line, gate.floor,
        gate.weather, attempt, repsThis, degraded, ic, structural)
      if (floorPosture) return out // floor methodology: one pass, emit
      if (!clean && attempt < cfg.maxAttempts &&
          cfg.budgetSec - elapsed() < passDur * 1.2 + 30.0) {
        // a retry cannot fit — emit THIS attempt's numbers, honestly stamped
        // (contended/inverted as measured, degraded for the skipped retries)
        return out.copy(degraded = true)
      }
    }
    out
  }

  /** The full artifact line for one gated outcome — a function so the spec
    * can assert every budget posture still yields a parseable record.
    * `ioLedger` upgrades the io_probe stamp with floor/line/weather_io
    * (see [[ioJson]]); `stage` stamps per-gate per-rep forensics arrays
    * keyed by [[ForensicsKeys]] (VERDICT r17 #3), plus `bytes_cached` so a
    * reader knows whether the byte map was re-measured or cache-served.
    */
  def artifactJson(o: GatedOutcome, actionName: String,
      bytesRead: Map[String, Long], sfDir: String,
      invRefName: Option[String], budgetSec: Double,
      io: Option[(Double, Double)] = None,
      ioLedger: Option[(Double, Double)] = None,
      stage: Map[String, Seq[Seq[Long]]] = Map.empty,
      bytesCached: Boolean = false): String = {
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = o.results.map { case (k, v, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val qsMed = o.results.map { case (k, _, m) => s"\"" + k + "\":" + fmt(m) }
      .mkString("{", ",", "}")
    val total = o.results.collect { case (_, v, _) if v >= 0 => v }.sum
    val inversions: String = invRefName match {
      case Some(refName) =>
        val names = o.structural.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
        s"""{"ref":"$refName","count":${o.invCount},"structural":${o.structural.size},"structural_names":$names}"""
      case None => "null"
    }
    val forensics =
      if (stage.isEmpty) ""
      else s""","forensics_keys":${ForensicsKeys.map("\"" + _ + "\"").mkString("[", ",", "]")},"forensics":${forensicsJson(stage)}"""
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":${o.repsUsed},"agg":"min","action":"$actionName","contended":${!o.probesClean},"inverted":${o.inverted},"degraded":${o.degraded},"attempts":${o.attempts},"weather":${o.weather},"budget_sec":${fmt(budgetSec)},"probe_line":${fmt(o.probeLine)},"probe_floor":${fmt(o.probeFloor)},"calibration":{"before":${fmt(o.probeBefore)},"after":${fmt(o.probeAfter)}},"io_probe":${io.map(p => ioJson(p._1, p._2, ioLedger)).getOrElse("null")},"inversions":$inversions,"queries":$qs,"queries_median":$qsMed,"bytes":${bytesJson(bytesRead)},"bytes_cached":$bytesCached$forensics,"sf":"$sfDir"}"""
  }

  /** Larger-tier reference for the inversion check: SPARK_GRAFT_BENCH_REF,
    * else the newest committed BENCH_r*_sf1.json in cwd. */
  def resolveInversionRef(): Option[java.io.File] =
    sys.env.get("SPARK_GRAFT_BENCH_REF").map(new java.io.File(_))
      .filter(_.isFile)
      .orElse {
        val cwd = new java.io.File(".").getAbsoluteFile.getParentFile
        val round = "BENCH_r(\\d+)_sf1\\.json".r
        Option(cwd.listFiles((_, n) => round.matches(n)))
          // numeric round order: lexicographic would rank r10 before r7
          .flatMap(_.sortBy(f => f.getName match { case round(n) => n.toInt case _ => -1 })
            .lastOption)
      }

  /** DIRECTIONAL GUARD for the inversion gate: "inversion" only means
    * anything when the reference tier is genuinely LARGER than this run's —
    * gating against a smaller tier would reject every attempt for being
    * physically ordinary (this run SHOULD be slower than less data) and
    * burn maxAttempts full suite passes before stamping a false
    * `inverted:true` that roundcheck then refuses.
    *
    * A scale-stamped ref ("Nx-<baseDir>", BenchScale's format) is decided
    * from the STAMP, like roundcheck.py's scale_of — the synthesized tier
    * dir's raw bytes depend on compression/layout and may skew past 1.5×
    * between same-scale tiers, and the dir itself lives in /tmp and rarely
    * survives to the next run anyway. Unstamped refs fall back to walking
    * both dirs' bytes (ref must be ≥1.5× this run's), skipping symlinks so
    * a cycle can't hang the walk nor a link double-count its target; with
    * the ref dir gone, only the default testdata path may still gate.
    */
  def inversionRefEligible(refSf: String, sfDir: String): Boolean = {
    def dirBytes(d: String): Option[Long] = {
      val root = new java.io.File(d)
      if (!root.isDirectory) None
      else {
        def walk(f: java.io.File): Long =
          if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
          else if (f.isFile) f.length()
          else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        Some(walk(root))
      }
    }
    def byBytes(refDir: String, refMult: Long): Boolean =
      (dirBytes(refDir), dirBytes(sfDir)) match {
        case (Some(rb), Some(cb)) => refMult * rb > cb * 3 / 2
        case _ => sfDir.startsWith("/root/testdata/")
      }
    val stamp = "^(\\d+)x-(.*)$".r
    refSf match {
      case stamp(n, base) =>
        // ref is stamped n× its base: when this run IS that base, n>1 makes
        // the ref strictly larger by construction — no byte walk needed
        if (base == sfDir) n.toLong > 1L else byBytes(base, n.toLong)
      case _ => byBytes(refSf, 1L)
    }
  }

  def main(args: Array[String]): Unit = {
    // Budget clock FIRST: it covers warmup and byte accounting too.
    val startNanos = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - startNanos) / 1e9
    // Wall-clock budget (VERDICT r16 #1). Conservative default (17 min of
    // bench-proper, leaving sbt/JVM start outside it): the driver's cap is
    // unknown — r15's clean official run fit inside ~20 min total while
    // r16's was SIGKILLed waiting out slow weather. Builder-side ladder
    // runs raise this via env; the official driver run gets the default.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .flatMap(_.toDoubleOption).filter(_ > 0).getOrElse(1020.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The benched action, stamped into the artifact and the byte-cache key:
    // always the noop write (see materialize).
    val actionName = "noop"
    // Timed reps per query (min reported). 2 is the round-3+ default; 3
    // tightens the min for the many sub-second queries whose 20-40% run
    // variance otherwise dominates cross-tier comparisons. The value is
    // recorded in the JSON's "reps" methodology marker either way.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(2)
    // Quiet-host gate, ported from BenchScale (the r11 verdict's ask): the
    // official per-round artifact must be self-defending against host
    // contention, not adjudicated after the fact. A run only counts as
    // clean when BOTH fixed-work probes are inside the uncontended band;
    // otherwise the whole timed pass retries (up to maxAttempts), and a
    // still-dirty final attempt is stamped contended:true in the JSON.
    val probeMax = sys.env.get("SPARK_GRAFT_PROBE_MAX").flatMap(_.toDoubleOption)
      .getOrElse(0.65)
    // Default raised 3 → 5 (r14 VERDICT #7): the official driver-side run —
    // whose env the builder cannot set — ended contended at 1-in-3 on a
    // busy host even though the gate itself worked; two more attempts (each
    // ~2×suite ≈ 3-4 min) buy a clean stamp far more often than they cost.
    val maxAttempts = sys.env.get("SPARK_GRAFT_BENCH_ATTEMPTS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(5)
    // First probe call is discarded: it pays the probe loop's own JIT
    // (~0.15 s measured), which would skew before-vs-after comparison.
    // Run CONCURRENTLY with session build + warmup (VERDICT r17 #1's
    // "calibration concurrent with warmup"): the result is discarded, so
    // contention with the warmup's Spark work costs nothing — joined
    // before the first REAL probe so it can't inflate that one.
    val probeJit = new Thread(() => { calibrationProbe(); () })
    probeJit.setDaemon(true)
    probeJit.start()
    // quiet-probe waits stay at up to 10 min each (r14 ask) but runGated
    // caps their TOTAL at WaitFrac of the wall-clock budget (r16: the
    // uncapped waits pushed the official run past the driver's cap — no
    // artifact at all).
    val spark = LocalSession.build()
    // Untimed warmup: run every query once at the target dir. First
    // execution pays Janino whole-stage-codegen compilation + classloading
    // (profiled at ~8s absorbed by whichever query ran first) and cold page
    // cache — costs a long-lived cluster amortizes to zero; the timed pass
    // below measures steady-state execution, which is what scales.
    // (also the byte-accounting pass — see warmupWithBytes; clears the
    // catalog cache per query and after, so no warmup persist survives
    // into the timed pass as GC noise)
    //
    // SKIPPED on a byte-cache hit (VERDICT r17 #1): bytes are deterministic
    // per (code, data, action) — see bytesCacheKey — and the min-of-reps
    // aggregation already reports steady state (rep 1 absorbs the cold
    // costs the warmup used to). This is the single biggest fixed-cost cut
    // for the driver-budget run: r17 spent ~1/3 of its 718 s here.
    val sortedQs = SparkEntry.queries.toSeq.sortBy(_._1)
    val cacheKey =
      if (sys.env.get("SPARK_GRAFT_BYTES_CACHE").contains("0")) ""
      else try bytesCacheKey(sfDir, actionName, sortedQs.map(_._1))
      catch { case _: Throwable => "" }
    val cached = if (cacheKey.nonEmpty) readBytesCache(cacheKey) else None
    cached.foreach { _ =>
      System.err.println(f"[bench] byte-pass cache hit ($BytesCacheFile) — " +
        f"warmup skipped; rep 1 absorbs cold costs (elapsed ${elapsed()}%.0fs)")
    }
    val bytesRead = cached.getOrElse {
      val b = warmupWithBytes(spark, sfDir, sortedQs)
      if (cacheKey.nonEmpty) writeBytesCache(cacheKey, sfDir, actionName, b)
      System.err.println(f"[bench] warmup + byte pass done at ${elapsed()}%.0fs" +
        (if (cacheKey.nonEmpty) " (byte map cached for same-code same-data runs)" else ""))
      b
    }
    spark.catalog.clearCache()
    // Stable alphabetical order so per-query timings are comparable across
    // rounds (a HashMap's iteration order shifts when queries are added).
    // Each query is timed twice and the MIN reported: profiling (r2→r3
    // text_* investigation) showed single timed runs carry 2-3× spikes from
    // residual JIT/GC/page-cache noise, while back-to-back runs agree within
    // ~10% — the min is the steady-state cost, which is what a long-lived
    // cluster pays.
    // Stage forensics per gate per rep (VERDICT r17 #3): stamped into the
    // artifact so a slow draw is adjudicable from the artifact alone —
    // byte/spill parity across reps with a cpu/run swing is measured
    // weather; parity broken is a real change. The artifact carries the
    // FINAL attempt's forensics.
    var lastPass = Seq.empty[GateTiming]
    // Larger-tier reference for the per-attempt inversion gate. Resolved
    // once (the committed artifact doesn't change mid-run); None when
    // absent or when it IS this run's SF (tier runs referencing themselves).
    val invRef: Option[(String, String, Map[String, Double], Option[Double])] =
      resolveInversionRef().flatMap { f =>
        try {
          val (refSf, refTimes) = readBenchArtifact(f)
          if (refSf == sfDir || !inversionRefEligible(refSf, sfDir)) {
            if (refSf != sfDir) System.err.println(
              s"[bench] inversion ref ${f.getName} ($refSf) is not a larger " +
                s"tier than $sfDir — inversion gate disabled for this run")
            None
          } else Some((f.getName, refSf, refTimes,
            try readArtifactProbe(f) catch { case _: Throwable => None }))
        } catch { case _: Throwable => None }
      }
    // The budget-gated acceptance loop (see runGated): per-attempt quiet
    // probe, timed pass, after-probe, inversion classification against a
    // host-factored reference — structural inversions gate acceptance
    // exactly like dirty probes (r13 VERDICT #1), and the wall-clock budget
    // guarantees the loop always ends in an emitted artifact (r16 #1).
    // IO weather brackets (stamped beside the CPU calibration, non-gating):
    // before the acceptance loop and after it — coarser than the per-attempt
    // CPU probes, but the adjudication it serves is cross-round, not
    // per-attempt. The JIT-warmup probe thread must be done before any REAL
    // probe runs (its 8 threads would read as contention).
    probeJit.join()
    val ioBefore = settledIoProbe()
    val outcome = runGated(
      GatedConfig(reps, maxAttempts, probeMax, budgetSec),
      () => elapsed(),
      (pm, mw) => quietOrWeather(pm, maxWaits = mw),
      () => settledProbe(),
      repsThis => {
        lastPass = timeGates(spark, sfDir, sortedQs, repsThis)
        lastPass.map(g => (g.name, g.min, g.median))
      },
      (res, pb, pa) => invRef match {
        case Some((_, _, refTimes, refProbe)) =>
          // Compare like host speeds: scale the (fast-weather) reference by
          // the measured probe ratio before classifying (see hostFactor).
          val hf = hostFactor(pb, pa, refProbe)
          if (hf > 1.0) System.err.println(
            f"[bench] inversion ref scaled by host factor $hf%.2f " +
            f"(this run's probes ${pb}%.3f/${pa}%.3f vs ref probe ${refProbe.getOrElse(0.0)}%.3f)")
          classifyInversions(res, refTimes.map { case (k, v) => k -> v * hf })
        case None => (0, Seq.empty[String])
      })
    if (!outcome.probesClean || outcome.inverted || outcome.degraded)
      System.err.println(
        s"[bench] final attempt ${outcome.attempts}: contended=${!outcome.probesClean} " +
          s"inverted=${outcome.inverted} degraded=${outcome.degraded} " +
          f"(budget $budgetSec%.0fs, elapsed ${elapsed()}%.0fs) — artifact stamped")
    // reps/agg: methodology marker — rounds 1-2 reported a single timed run,
    // round 3+ the min of 2; reps records what this run ACTUALLY used (a
    // budget-degraded run reports 1). calibration: fixed-work probe seconds
    // before/after the suite. contended = the PROBES were dirty on the
    // final attempt; inverted = structural inversions persisted; degraded =
    // the wall-clock budget cut reps or skipped retries (floor-quality
    // methodology, honest numbers). Distinct stamps: roundcheck adjudicates
    // each differently.
    val json = artifactJson(outcome, actionName, bytesRead, sfDir,
      invRef.map(_._1), budgetSec, Some((ioBefore, settledIoProbe())),
      ioLedger = ioQuietLedger(), stage = forensicsOf(lastPass),
      bytesCached = cached.isDefined)
    // Truncation-proofing: the driver captures stdout's tail, which has
    // clipped the head of this (long) line in past rounds. Persist the full
    // JSON to a file first, then print it — the artifact on disk is always
    // complete regardless of how the console capture slices the stream.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_last.json"), json + "\n")
    catch { case _: Throwable => () }
    // The OFFICIAL-posture run additionally writes a durable self-artifact
    // (VERDICT r17 #1: the driver's capture produced "parsed": null two
    // rounds running — the capture must not be load-bearing). Only the
    // default-budget posture writes it (the driver cannot set env; builder
    // ladder runs always export a budget), so later builder-side runs never
    // clobber the round's official record. tools/roundcheck.py accepts it
    // in the rescue chain after validating it against the captured tail's
    // total or the newest bench_history line.
    if (!sys.env.contains("SPARK_GRAFT_BENCH_BUDGET_SEC"))
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_official_latest.json"), json + "\n")
      catch { case _: Throwable => () }
    // ...and APPEND to the durable history: bench_last.json is overwritten
    // by every run (the r12 judge lost the official run's per-query numbers
    // to exactly that), while the history keeps every full line. The run's
    // suite total uniquely keys a line, so tools/roundcheck.py can rescue a
    // truncated official BENCH_rNN.json by matching the health line's total
    // against the history (and FAIL when no full record exists at all).
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_history.jsonl"),
      (json + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }
    // Print order matters (r14 VERDICT #1, FOURTH round of capture pain):
    // the driver captures a bounded stdout TAIL, which always retains the
    // LAST lines and clips the earliest. The full per-query JSON is ~8 KB —
    // LARGER than the observed 2000-char tail — so whichever line ends the
    // stream decides what survives. r14 printed the full record last and
    // the tail kept only its clipped middle: neither parseable nor
    // rescuable. Order that always yields a number: full JSON first (whole
    // when the tail is generous), compact health line LAST (~180 chars —
    // survives ANY tail and its suite total keys the full record in
    // bench_history.jsonl / bench_last.json for roundcheck's rescue).
    // BenchCalibrationSpec pins this by slicing the combined stdout to its
    // final 2000 chars and recovering the total.
    // count only queries that actually timed — a -1 all-reps-failed
    // sentinel must show up as a smaller queries_timed here (BenchScale
    // already counts this way; the two callers must agree)
    println(json)
    val total = outcome.results.collect { case (_, v, _) if v >= 0 => v }.sum
    // SECOND-TO-LAST (VERDICT r18 #2, the driver's parse came back
    // "parsed": null three rounds running): a COMPACT metric line — the
    // same {"metric","value","unit","queries","sf"} contract as the full
    // record but per-query min seconds ONLY, no forensics/medians/bytes
    // (~4 KB vs ~25 KB) — so a bounded stdout capture that clips the full
    // record can still hold a parseable per-query map. The health line
    // stays LAST (~200 chars — survives ANY tail and keys the rescue).
    println(compactLine(outcome.results, total, outcome.repsUsed, sfDir))
    println(healthLine(outcome.probeBefore, outcome.probeAfter, total,
      outcome.repsUsed, outcome.results.count(_._2 >= 0),
      extra = s""","contended":${!outcome.probesClean},"inverted":${outcome.inverted},"degraded":${outcome.degraded},"attempts":${outcome.attempts},"weather":${outcome.weather}"""))
    spark.stop()
  }

  /** The compact per-query metric line (VERDICT r18 #2): the driver-parse
    * contract fields only — metric/value/unit/queries/sf, with per-query MIN
    * seconds — sized so a bounded stdout capture larger than ~4 KB holds it
    * whole where the full forensics-carrying record (~25 KB) never fits.
    * Printed between the full record and the health line; the `reps` field
    * keeps the methodology visible.
    */
  def compactLine(results: Seq[(String, Double, Double)], total: Double,
      reps: Int, sfDir: String): String = {
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"queries":$qs,"sf":"$sfDir"}"""
  }

  /** One compact, tail-survivable JSON line with the run's health signal:
    * calibration probes (compare against the uncontended ledger in
    * COVERAGE.md — ~0.55-0.6 s on this host), suite total, rep count, and
    * how many queries were timed. Shared by Bench and BenchScale.
    */
  def healthLine(probeBefore: Double, probeAfter: Double, total: Double,
      reps: Int, nQueries: Int, extra: String = ""): String = {
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    s"""{"health":{"calibration":{"before":${fmt(probeBefore)},"after":${fmt(probeAfter)}},""" +
      s""""total":${fmt(total)},"reps":$reps,"queries_timed":$nQueries$extra}}"""
  }
}
