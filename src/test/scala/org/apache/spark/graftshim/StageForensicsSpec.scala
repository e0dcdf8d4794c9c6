package org.apache.spark.graftshim

import org.scalatest.funsuite.AnyFunSuite

/** [[StageForensics.install]] is idempotent per `SparkContext`: every
  * caller on a context shares one listener, so counters are never doubled.
  * Its job spans carry the SQL execution each job ran for.
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

  test("job spans: every job of one AQE DataFrame action shares its SQL execution id; an RDD job has none") {
    val spark = graft.SparkFixture.spark
    val sc = spark.sparkContext
    val a = StageForensics.install(sc)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      a.takeJobs(sc)
      import org.apache.spark.sql.functions.col
      // a shuffle under AQE: the map side runs as its own query-stage job
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 10).count().collect()
      val action = a.takeJobs(sc)
      assert(action.size >= 2, s"an AQE aggregation runs a query-stage job and a result job: $action")
      assert(action.map(_.sqlExecutionId).distinct.size == 1 &&
        action.head.sqlExecutionId.isDefined, s"one execution id for every job: $action")
      sc.parallelize(1 to 100, 2).count()
      assert(a.takeJobs(sc).map(_.sqlExecutionId) == Seq(None))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      sc.removeSparkListener(a)
    }
  }
}
