package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.graftshim.StageForensics

/** [[Bench.timeGates]], the harness's one rep loop, on the shared local
  * session: failed reps are -1 and never shadow a success, and every rep —
  * failed or not — leaves one forensics row.
  */
class BenchRepLoopSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def timed(gates: (String, (SparkSession, String) => DataFrame)*): Seq[Bench.GateTiming] =
    try Bench.timeGates(spark, "unused", gates, 3)
    finally spark.sparkContext.removeSparkListener(StageForensics.install(spark.sparkContext))

  test("a gate that throws in every rep reads -1/-1 and still yields one forensics row per rep") {
    val out = timed("boom" -> ((s, _) => s.range(10).selectExpr("assert_true(id < 0) AS x")))
    val g = out.head
    assert(g.name == "boom" && g.min == -1.0 && g.median == -1.0)
    assert(g.reps.size == 3 && g.reps.forall(_.sec == -1.0))
    assert(g.reps.forall(_.stage.getOrElse("jobs", 0L) >= 1), "the failing job still ran")
    val rows = Bench.forensicsOf(out)("boom")
    assert(rows.size == 3 && rows.forall(_.size == Bench.ForensicsKeys.size))
  }

  test("a passing gate gives min <= median, with its jobs recorded per rep") {
    val g = timed("ok" -> ((s, _) => s.range(1000).selectExpr("id * 2 AS x"))).head
    assert(g.reps.size == 3 && g.reps.forall(_.sec >= 0))
    assert(g.min >= 0 && g.min <= g.median)
    assert(g.min == g.reps.map(_.sec).min)
    g.reps.foreach { r =>
      assert(r.jobs.nonEmpty && r.jobs.size.toLong == r.stage("jobs"))
      assert(r.jobs.forall(j => j.endMs >= j.startMs && j.stages >= 1))
    }
  }
}
