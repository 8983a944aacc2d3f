package graft
import org.apache.spark.sql.functions._

/** Scale experiment for the PageRank crossover claim (BASELINE.md):
  * replicate the sf0.1 customer-supplier trading graph `k` times
  * (disjoint id ranges per replica), then time the SAME 5-iteration
  * fixed-point loop graph06 runs. The DuckDB twin
  * (tools/graph_scale.py) executes the unrolled-CTE oracle
  * formulation on the identical replicated edge list, so the two
  * timings compare the engines' iteration machinery, not different
  * graphs.
  *
  * usage: graft.BenchGraphScale [k ...]   (default: 1 4 16)
  */
object BenchGraphScale {
  def main(args: Array[String]): Unit = {
    val ks = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 16)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val lake = graft.catalog.Lake(spark, sfDir)
    // Base pairs once (same construction as graph06, long ids).
    val pairs0 = lake.lineitem
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(lake.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        expr("o_custkey * 2L").as("a"),
        expr("l_suppkey * 2L + 1L").as("b")
      )
      .distinct()
      .localCheckpoint()
    val nPairs = pairs0.count()
    for (k <- ks) {
      // Disjoint replicas: shift both endpoints by rep * 10^9.
      val pairs = pairs0
        .withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
        .select(
          expr("a + rep * 1000000000L").as("a"),
          expr("b + rep * 1000000000L").as("b")
        )
        .localCheckpoint()
      val edges = pairs
        .select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      val t0 = System.nanoTime()
      graft.operators.Graph
        .pagerankMicro(edges, iters = 5)
        .write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(
        f"k=$k%-3d pairs=${nPairs * k}%-9d edges=${2 * nPairs * k}%-9d spark_sec=$dt%.2f"
      )
    }
    spark.stop()
  }
}
