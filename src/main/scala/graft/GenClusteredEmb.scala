package graft

import org.apache.spark.sql.functions._

/** Clustered-embedding generator (dev tooling, GenScale's sibling —
  * VERDICT r13 #5): every recall number so far was measured on
  * UNIFORM-random vectors, which is PQ's documented worst case (no
  * low-distortion codebook exists) and k-means' degenerate case (no
  * cluster structure to find). Real embedding corpora are clustered;
  * this writes a mixture-of-Gaussians embeddings table so the
  * sim05/06/14/15 recall story can be measured on the regime the
  * indexes are built for.
  *
  * Deterministic (splitmix64 off (vec_id, dim) — no RNG state, so any
  * row regenerates identically under retries/partitioning): vector i
  * belongs to cluster i mod C; component d = center(c,d) + sigma *
  * gaussian(i,d), where center components are splitmix-uniform in
  * [-1,1] and the noise is a sum-of-4-uniforms approximate gaussian.
  * label = the true cluster id (so label-based ops keep working).
  *
  * usage: graft.GenClusteredEmb <outDir> <nVectors> <nClusters> <sigma>
  *        (dim fixed at 64, the corpus-wide embedding width)
  */
object GenClusteredEmb {
  def main(args: Array[String]): Unit = {
    require(
      args.length == 4,
      "usage: graft.GenClusteredEmb <outDir> <nVectors> <nClusters> <sigma>"
    )
    val Array(out, nStr, cStr, sStr) = args
    val n = nStr.toLong
    val c = cStr.toInt
    val sigma = sStr.toDouble
    val dim = 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val df = spark
      .range(0, n, 1, math.max(4, (n / 250000L).toInt))
      .as[Long]
      .map { i =>
        val cl = (i % c).toInt
        val v = GenClusteredEmb.vector(i, cl, dim, sigma)
        (i, v, cl)
      }
      .toDF("vec_id", "embedding", "label")
      .select(
        col("vec_id"),
        col("embedding").cast("array<float>"),
        col("label").cast("int")
      )
    df.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[genclustered] n=$n c=$c sigma=$sigma -> $out")
    spark.stop()
  }

  @inline private def mix(z0: Long): Long = {
    var z = z0 * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  @inline private def unit(z: Long): Double =
    (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0 // [-1, 1)

  /** Deterministic mixture sample — shared by the generator main and
    * the recall spec (which builds small corpora in-memory). */
  def vector(i: Long, cluster: Int, dim: Int, sigma: Double): Array[Float] = {
    val v = new Array[Float](dim)
    var d = 0
    while (d < dim) {
      val center = unit(mix(0x5eedL + cluster * 1000003L + d))
      // sum of 4 uniforms ~ gaussian (Irwin-Hall), variance 4/3 of a
      // single unit uniform's 1/3 -> scale to unit-ish variance
      var g = 0.0
      var j = 0
      while (j < 4) {
        g += unit(mix(i * 0x9e37L + d * 0x85ebca6bL + j + 1))
        j += 1
      }
      v(d) = (center + sigma * (g / 2.0)).toFloat
      d += 1
    }
    v
  }
}
