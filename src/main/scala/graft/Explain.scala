package graft

/** Dev tool: print the formatted physical plan of named queries (or all)
  * at a given sfDir — used to audit pushdown (`PushedFilters`, `ReadSchema`),
  * broadcast choices, and whole-stage-codegen coverage per SURVEY §7.
  * Built by [[LocalSession]], so the plans are the ones [[Bench]] times.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
