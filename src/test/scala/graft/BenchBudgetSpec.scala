package graft

import org.scalatest.funsuite.AnyFunSuite

/** The official bench's wall-clock budget (VERDICT r16 #1): the driver
  * SIGKILLs the run at an unknown cap, and r16's run died mid-pass with NO
  * artifact because quiet-probe waits (10 min × up to 5 attempts) no longer
  * fit the cap in slow weather. [[Bench.runGated]] makes every branch end
  * in an emittable outcome:
  *
  *   - quiet-probe waiting is capped in TOTAL seconds (WaitFrac of the
  *     budget), not in counts;
  *   - past DegradeFrac of the budget the attempt runs at reps=1 and is
  *     final, stamped degraded:true;
  *   - a dirty attempt only retries when another pass still fits.
  *
  * Driven entirely with a fake clock/probe/pass — no SparkSession.
  */
class BenchBudgetSpec extends AnyFunSuite {
  import Bench._

  private val quietGate: (Double, Int) => ProbeGate =
    (pm, _) => ProbeGate(0.5, pm, weather = false, floor = pm)
  private val dirtyGate: (Double, Int) => ProbeGate =
    (pm, _) => ProbeGate(2.0, pm, weather = false, floor = pm)
  private val noInv: (Seq[(String, Double)], Double, Double) => (Int, Seq[String]) =
    (_, _, _) => (0, Nil)
  test("past DegradeFrac: reps drop to 1, waits skip, one attempt, honest stamps") {
    var t = 90.0 // budget 100 → frac 0.9, past DegradeFrac
    var waitsSeen = -1
    var repsSeen = -1
    val out = runGated(
      GatedConfig(reps = 3, maxAttempts = 5, probeMax = 0.65, budgetSec = 100.0),
      () => t,
      (pm, mw) => { waitsSeen = mw; dirtyGate(pm, mw) },
      () => 2.0,
      reps => { repsSeen = reps; t += 5; Seq(("q", 1.0, 1.0)) },
      noInv)
    assert(waitsSeen == 0, "no wait allowance remains past half-budget")
    assert(repsSeen == 1, "floor methodology: one rep")
    assert(out.attempts == 1 && out.degraded && out.repsUsed == 1)
    assert(!out.probesClean, "dirty probes are stamped, never hidden")
  }

  test("quiet-wait allowance is the remaining half-budget in SECONDS, capped") {
    var waitsSeen = -1
    var t = 200.0 // budget 1000 → wait budget 300 s → 20 sleeps of 15 s
    runGated(GatedConfig(3, 1, 0.65, budgetSec = 1000.0), () => t,
      (pm, mw) => { waitsSeen = mw; quietGate(pm, mw) },
      () => 0.5, reps => { t += 10; Seq(("q", 1.0, 1.0)) }, noInv)
    assert(waitsSeen == 20)
    // fresh run against a huge budget: the per-attempt cap (40 = 10 min)
    // still bounds a single wait, exactly the r14-asked behavior
    t = 0.0
    runGated(GatedConfig(3, 1, 0.65, budgetSec = 1e6), () => t,
      (pm, mw) => { waitsSeen = mw; quietGate(pm, mw) },
      () => 0.5, reps => { t += 10; Seq(("q", 1.0, 1.0)) }, noInv)
    assert(waitsSeen == 40)
  }

  test("a dirty attempt retries only when another pass still fits the budget") {
    // pass takes 60 s on a 100 s budget: after the dirty first attempt,
    // remaining (≈40 s) < 60×1.2+30 — emit attempt 1, stamped degraded
    var t = 0.0
    var passes = 0
    val out = runGated(GatedConfig(2, 5, 0.65, budgetSec = 100.0), () => t,
      dirtyGate, () => 2.0,
      reps => { passes += 1; t += 60; Seq(("q", 1.0, 1.0)) }, noInv)
    assert(passes == 1 && out.attempts == 1)
    assert(out.degraded, "skipped retries under budget pressure are stamped")
    assert(!out.probesClean)
  }

  test("generous budget: dirty-then-clean retries exactly as before, undegraded") {
    var t = 0.0
    var calls = 0
    val out = runGated(GatedConfig(3, 5, 0.65, budgetSec = 1e6), () => t,
      (pm, mw) => { calls += 1; if (calls == 1) dirtyGate(pm, mw) else quietGate(pm, mw) },
      () => 0.5, reps => { t += 10; Seq(("q", 1.0, 1.0)) }, noInv)
    assert(out.attempts == 2 && !out.degraded && out.repsUsed == 3)
    assert(out.probesClean)
  }

  test("every posture emits a parseable artifact with honest stamps") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(json: String) = mapper.readTree(json)
    // degraded posture
    var t = 95.0
    val degraded = runGated(GatedConfig(3, 5, 0.65, budgetSec = 100.0), () => t,
      dirtyGate, () => 2.0, reps => { t += 3; Seq(("q1", 1.5, 1.6), ("q2", -1.0, -1.0)) },
      (_, _, _) => (2, Seq("q1")))
    val dj = parse(artifactJson(degraded, "noop", Map("q1" -> 42L),
      "/root/testdata/sf0.1", Some("BENCH_r16_sf1.json"), 100.0))
    assert(dj.path("degraded").asBoolean() && dj.path("contended").asBoolean())
    assert(dj.path("inverted").asBoolean())
    assert(dj.path("reps").asInt() == 1, "a degraded run reports the reps it USED")
    assert(dj.path("budget_sec").asDouble() == 100.0)
    assert(dj.path("queries").path("q1").asDouble() == 1.5)
    assert(dj.path("value").asDouble() == 1.5, "-1 sentinels excluded from total")
    assert(dj.path("inversions").path("structural").asInt() == 1)
    // clean posture
    t = 0.0
    val clean = runGated(GatedConfig(2, 5, 0.65, budgetSec = 1e6), () => t,
      quietGate, () => 0.5, reps => { t += 5; Seq(("q1", 1.0, 1.1)) }, noInv)
    val cj = parse(artifactJson(clean, "noop", Map.empty, "sf", None, 1200.0))
    assert(!cj.path("degraded").asBoolean() && !cj.path("contended").asBoolean())
    assert(cj.path("reps").asInt() == 2)
    assert(cj.path("inversions").isNull)
    // io probe stamp: null when absent, numeric pair when bracketed
    assert(cj.path("io_probe").isNull)
    val ij = parse(artifactJson(clean, "noop", Map.empty, "sf", None, 1200.0,
      io = Some((0.217, 0.304))))
    assert(ij.path("io_probe").path("before").asDouble() == 0.217)
    assert(ij.path("io_probe").path("after").asDouble() == 0.304)
  }

  test("BenchScale posture (no budget, 20 waits): retries while dirty up to maxAttempts, never degraded") {
    val cfg = GatedConfig(reps = 2, maxAttempts = 3, probeMax = 0.65,
      budgetSec = Double.PositiveInfinity, maxWaitsCap = 20)
    var t = 0.0
    val waitsSeen = scala.collection.mutable.ArrayBuffer.empty[Int]
    var passes = 0
    val dirty = runGated(cfg, () => t,
      (pm, mw) => { waitsSeen += mw; dirtyGate(pm, mw) }, () => 2.0,
      reps => { passes += 1; t += 1e6; Seq(("q", 1.0, 1.0)) }, noInv)
    assert(waitsSeen.toSeq == Seq(20, 20, 20), "every attempt gets the full 20 quiet waits")
    assert(passes == 3 && dirty.attempts == 3, "dirty retries run to maxAttempts")
    assert(!dirty.degraded && dirty.repsUsed == 2, "no budget: never degraded, full reps")
    assert(!dirty.probesClean)
    t = 0.0
    var calls = 0
    val clean = runGated(cfg, () => t,
      (pm, mw) => { calls += 1; if (calls == 1) dirtyGate(pm, mw) else quietGate(pm, mw) },
      () => 0.5, reps => { t += 1e6; Seq(("q", 1.0, 1.0)) }, noInv)
    assert(clean.attempts == 2 && clean.probesClean && !clean.degraded)
  }

  test("ioProbe does its fixed work and reports a positive wall time") {
    val s = Bench.ioProbe()
    assert(s > 0.0 && s < 120.0, s"fsync probe out of range: $s")
  }
}
