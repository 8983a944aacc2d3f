package graft

import graft.catalog.Lake
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** sim16 / appendToIvfIndex — the incremental-maintenance lifecycle
  * contract: while the coarse quantizer is FROZEN, appending a delta
  * batch to a persisted index must be exactly equivalent to
  * re-assigning the whole corpus against the same centroids
  * (assignment is a pure per-row function of the centroids), so
  * append-then-search ≡ rebuild-then-search. The drift report is the
  * retrain trigger; its accounting must tie out against the corpus. */
class IvfMaintenanceSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val lake = Lake(spark, sfDir)

  private def isDelta = col("vec_id") % 5 === lit(4L)

  test("append-then-search equals rebuild-then-search under frozen centroids") {
    val dirA = java.nio.file.Files.createTempDirectory("ivf_append_").toString
    val dirB = java.nio.file.Files.createTempDirectory("ivf_rebuild_").toString
    // build over the base batch, then append the delta batch
    Similarity.writeIvfIndex(lake, dirA, subset = !isDelta)
    val report = Similarity.appendToIvfIndex(lake, dirA, isDelta)
    assert(report.count() > 0)
    // rebuild: SAME centroids (frozen), cells assigned all-at-once
    val cents = spark.read.parquet(s"$dirA/centroids")
    cents.write.parquet(s"$dirB/centroids")
    Similarity
      .argmaxCell(Similarity.vecs(lake), graft.plans.Codebook.collect(cents), Seq.empty)
      .select(col("vec_id"), col("cluster"))
      .write.parquet(s"$dirB/cells")
    val a = Similarity.ivfAnnFromIndex(lake, dirA).collect().toSeq
    val b = Similarity.ivfAnnFromIndex(lake, dirB).collect().toSeq
    assert(a == b, "appended index and frozen-centroid rebuild diverge")
  }

  test("appended cells cover the corpus exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_cover_").toString
    Similarity.writeIvfIndex(lake, dir, subset = !isDelta)
    Similarity.appendToIvfIndex(lake, dir, isDelta)
    val cells = spark.read.parquet(s"$dir/cells")
    val n = Similarity.vecs(lake).count()
    assert(cells.count() == n)
    assert(cells.select("vec_id").distinct().count() == n)
  }

  test("sim16 report accounting ties out against the corpus split") {
    val rep = Similarity.sim16IvfAppend(lake).collect()
    val all = Similarity.vecs(lake)
    val nBase = all.filter(!isDelta).count()
    val nNew = all.filter(isDelta).count()
    assert(rep.map(_.getAs[Long]("n_base")).sum == nBase)
    assert(rep.map(_.getAs[Long]("n_new")).sum == nNew)
    assert(rep.length <= 10, "more report rows than cells")
    rep.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("cos_base")) &&
        !r.isNullAt(r.fieldIndex("cos_new"))) {
        val d = BigDecimal(
          r.getAs[Double]("cos_base") - r.getAs[Double]("cos_new")
        ).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getAs[Double]("drift") == d)
      }
    }
  }

  test("sim16 is deterministic") {
    val a = Similarity.sim16IvfAppend(lake).collect().toSeq
    val b = Similarity.sim16IvfAppend(lake).collect().toSeq
    assert(a == b)
  }
}
