package org.apache.spark.graftshim

import org.scalatest.funsuite.AnyFunSuite

/** [[StageForensics.install]] is idempotent per `SparkContext`: every
  * caller on a context shares one listener, so counters are never doubled.
  */
class StageForensicsSpec extends AnyFunSuite {
  test("install twice on one context yields one listener") {
    val sc = graft.SparkFixture.spark.sparkContext
    val a = StageForensics.install(sc)
    try {
      assert(StageForensics.install(sc) eq a)
      assert(sc.listenerBus.findListenersByClass[StageForensics]().size == 1)
      val s0 = a.snapshot(sc)
      a.takeJobs(sc)
      sc.parallelize(1 to 100, 2).count() // one RDD job
      assert(a.since(sc, s0)("jobs") == 1L, "one job counted once")
      assert(a.takeJobs(sc).map(_.stages) == Seq(1))
    } finally sc.removeSparkListener(a)
    assert(sc.listenerBus.findListenersByClass[StageForensics]().isEmpty)
  }
}
