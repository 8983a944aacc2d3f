package graft

/** Plan inspection for perf iteration: print the formatted physical
  * plan of any `SparkEntry.queries` entry without running it — the
  * companion to BenchOne (time it) and PlanAuditSpec (pin it).
  *
  * usage: graft.ExplainOne <query> [query ...]
  * env:   SPARK_GRAFT_SF_DIR
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(8, 8)
    spark.sparkContext.setLogLevel("WARN")
    for (name <- args) {
      println(s"===== $name")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
