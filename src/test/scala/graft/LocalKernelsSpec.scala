package graft

import graft.catalog.Lake
import graft.operators.Similarity
import graft.plans.LocalKernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-local Lloyd kernel behind `Similarity.kmeans` and the PQ
  * codebooks: Spark's double ordering, tie and empty-cell rules, the
  * NaN cosine of a zero vector, the capped training set, and equality
  * with the distributed Lloyd steps it replaced. */
class LocalKernelsSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val lake = Lake(spark, sfDir)

  private def a(xs: Double*): Array[Double] = xs.toArray

  test("compareDoubles is Spark's ordering: NaN greatest, -0.0 equals 0.0") {
    assert(LocalKernels.compareDoubles(-0.0, 0.0) == 0)
    assert(LocalKernels.compareDoubles(Double.NaN, Double.NaN) == 0)
    assert(LocalKernels.compareDoubles(Double.NaN, Double.PositiveInfinity) > 0)
    assert(LocalKernels.compareDoubles(1.0, Double.NaN) < 0)
    assert(LocalKernels.compareDoubles(-1.0, 0.0) < 0)
  }

  test("Lloyd: an exact tie goes to the lowest cluster id, cosine and L2") {
    // (1,1) is equally close to both seeds under either metric
    val rows = Array(a(1, 0), a(0, 1), a(1, 1))
    for (cosine <- Seq(true, false)) {
      val (ids, cents) = LocalKernels.lloyd(rows, 2, 1, cosine)
      assert(ids.toSeq == Seq(0, 1))
      assert(cents(0).toSeq == Seq(1.0, 0.5), s"cosine=$cosine")
      assert(cents(1).toSeq == Seq(0.0, 1.0), s"cosine=$cosine")
    }
  }

  test("Lloyd: a cluster that wins no row disappears, ids keep their values") {
    // seeds 0 and 1 are the same vector: the tie hands every row to 0
    val rows = Array(a(1, 0), a(1, 0), a(0, 1), a(0.2, 1))
    val (ids, cents) = LocalKernels.lloyd(rows, 3, 2, cosine = true)
    assert(ids.toSeq == Seq(0, 2))
    assert(cents(0).toSeq == Seq(1.0, 0.0))
    assert(cents(1).toSeq == Seq(0.1, 1.0))
  }

  test("Lloyd: a zero vector scores NaN cosine, which ranks above every score") {
    // seed 0 is the zero vector: every row's cosine with it is 0/0 =
    // NaN, the greatest value, so every row joins cluster 0
    val rows = Array(a(0, 0), a(1, 0), a(0, 1))
    val (ids, cents) = LocalKernels.lloyd(rows, 2, 1, cosine = true)
    assert(ids.toSeq == Seq(0))
    assert(cents(0).toSeq == Seq(1.0 / 3, 1.0 / 3))
    // under L2 the zero vector is an ordinary point
    val (l2Ids, _) = LocalKernels.lloyd(rows, 2, 1, cosine = false)
    assert(l2Ids.toSeq == Seq(0, 1))
  }

  test("Lloyd: k above the row count seeds every row; zero iterations return the seeds") {
    val rows = Array(a(1, 0), a(0, 1))
    val (ids, cents) = LocalKernels.lloyd(rows, 5, 0, cosine = true)
    assert(ids.toSeq == Seq(0, 1))
    assert(cents.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
    assert(LocalKernels.lloyd(Array.empty, 3, 2, cosine = false)._1.isEmpty)
  }

  test("training cap: the sampled path is deterministic and never seeds fewer than k") {
    val all = Similarity.vecs(lake).localCheckpoint()
    val n = all.count()
    val dim = all.select(size(col("v"))).head().getInt(0)
    val full = Similarity.collectTrainingSet(all, 4)
    assert(full.rows.length == n, "below the cap the whole frame trains")
    assert(full.n == n && full.dim == dim, "the training job reports the row count and dimension")
    val k = 4
    // caps in vectors, turned into bytes at the frame's dimension
    for (capRows <- Seq(1L, 3L, n / 2)) {
      val rows = Similarity.collectTrainingSet(all, k, capRows * 8 * dim).rows
      assert(rows.length >= k, s"cap $capRows: ${rows.length} rows cannot seed $k clusters")
      assert(rows.length < n, s"cap $capRows: nothing was sampled")
      val again = Similarity.collectTrainingSet(all, k, capRows * 8 * dim).rows
      assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, s"cap $capRows: not deterministic")
      val (seeds, _) = LocalKernels.lloyd(rows, k, 0, cosine = true)
      assert(seeds.length == k, s"cap $capRows: degenerate codebook")
      val (ids, cents) = LocalKernels.lloyd(rows, k, 2, cosine = true)
      assert(ids.nonEmpty && ids.length <= k)
      assert(cents.forall(_.forall(x => !x.isNaN)))
    }
  }

  test("training cap: the vector count follows the dimension") {
    // the same byte cap admits 16x fewer vectors at 16x the width
    val n = 400
    def frame(dim: Int) = spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)), p => (col("id") * p % 7).cast("double")).as("v"))
    val capBytes = 8L * 64 * 200
    // 200 vectors fit at dim 64: a stride-2 stripe of the 400
    val narrow = Similarity.collectTrainingSet(frame(64), 4, capBytes).rows
    assert(narrow.length >= 100 && narrow.length <= 300, s"${narrow.length} narrow vectors")
    // 12 fit at dim 1024: a stride-34 stripe of the 400
    val wide = Similarity.collectTrainingSet(frame(64 * 16), 4, capBytes).rows
    assert(wide.forall(_.length == 64 * 16))
    assert(wide.length >= 4 && wide.length <= 24, s"${wide.length} wide vectors")
    // all 400 fit 8·64·400 bytes, but two skewed partitions each
    // overflow their 1/4 share: the set is still collected whole
    val fits = 8L * 64 * n
    val skewed = frame(64).repartition(4, col("vec_id") % 2)
    val whole = Similarity.collectTrainingSet(skewed, 4, fits).rows
    assert(whole.map(_.toSeq).toSeq ==
      Similarity.collectTrainingSet(frame(64).coalesce(1), 4, fits).rows.map(_.toSeq).toSeq)
    assert(whole.length == n)
  }

  // The references below run on ONE partition in vec_id order: there
  // Spark's avg sums in row order, as the local kernel does, so the
  // comparison can be exact. Across partitions avg merges partial sums
  // in shuffle order and may differ in the last bits.
  test("local kmeans equals the distributed Lloyd steps it replaced") {
    val all = Similarity.vecs(lake).orderBy("vec_id").coalesce(1).localCheckpoint()
    def asMap(df: DataFrame) =
      df.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    for (iters <- Seq(0, 1, 3)) {
      assert(
        asMap(Similarity.kmeans(all, 5, iters).frame(spark).select("cluster", "centroid")) ==
          asMap(LocalKernelsSpec.distributedKmeans(all, 5, iters)),
        s"iters=$iters")
    }
  }

  test("local PQ codebooks equal the distributed per-subspace Lloyd steps they replaced") {
    val (subv0, cents, _) = Similarity.pqTrain(lake, 8, 4, 2)
    val subv = subv0.orderBy("sub_id", "vec_id").coalesce(1)
    def asMap(df: DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(asMap(cents.frame(spark)) == asMap(LocalKernelsSpec.distributedPq(subv, 4, 2)))
  }
}

object LocalKernelsSpec {

  /** The distributed spherical Lloyd loop `Similarity.kmeans` replaced:
    * seeds are the first k rows by vec_id, each step assigns through
    * the `foldArgmax` reference and averages per (cluster, pos). */
  def distributedKmeans(all: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = all
      .orderBy("vec_id")
      .limit(k)
      .select(
        (row_number().over(Window.orderBy("vec_id")) - 1).as("cluster"),
        col("v").as("centroid")
      )
      .localCheckpoint()
    for (_ <- 0 until iters) {
      cents = foldArgmax(all, cents, Seq("v"))
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(avg("x").as("c"))
        .groupBy("cluster")
        .agg(
          transform(
            array_sort(collect_list(struct(col("pos"), col("c")))),
            s => s.getField("c")
          ).as("centroid")
        )
        .localCheckpoint()
    }
    cents
  }

  /** The distributed PQ codebook loop `Similarity.pqTrainCore`
    * replaced, over its (vec_id, sub_id, sv) subvector frame: seeds are
    * the first ks subvectors by vec_id per subspace, each step assigns
    * by the squared-L2 argmin fold and averages per
    * (sub_id, cluster, pos). */
  def distributedPq(subv: DataFrame, ks: Int, iters: Int): DataFrame = {
    var cents = subv
      .withColumn(
        "cluster",
        row_number().over(Window.partitionBy("sub_id").orderBy("vec_id")) - 1)
      .filter(col("cluster") < ks)
      .select(col("sub_id"), col("cluster"), col("sv").as("centroid"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      cents = foldPqEncode(subv, cents)
        .select(col("sub_id"), col("cluster"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub_id", "cluster", "pos")
        .agg(avg("x").as("c"))
        .groupBy("sub_id", "cluster")
        .agg(
          transform(
            array_sort(collect_list(struct(col("pos"), col("c")))),
            s => s.getField("c")
          ).as("centroid")
        )
        .localCheckpoint()
    }
    cents
  }

  // The folds the Codebook kernels replaced, kept as references for
  // CodebookSpec. Each takes the centroids as a frame and moves them
  // through Spark the way the library used to.

  /** Nearest cell by cosine: the centroids fold to one broadcast row,
    * each vector takes the `array_max` of (ccos, -cluster, cluster). */
  def foldArgmax(
      all: DataFrame,
      cents: DataFrame,
      payload: Seq[String],
      keepCos: Boolean = false
  ): DataFrame = {
    val centRow = cents
      .agg(collect_list(struct(col("cluster"), col("centroid"))).as("cs"))
    all
      .crossJoin(broadcast(centRow))
      .withColumn(
        "w",
        array_max(
          transform(
            col("cs"),
            c =>
              struct(
                graft.functions.vectors.cosine(col("v"), c.getField("centroid")).as("ccos"),
                negate(c.getField("cluster")).as("neg"),
                c.getField("cluster").as("cluster")
              )
          )
        )
      )
      .select(
        col("vec_id") +: col("w.cluster").as("cluster") +:
          ((if (keepCos) Seq(col("w.ccos").as("ccos")) else Nil) ++
            payload.map(col)): _*
      )
  }

  /** PQ encode over a (vec_id, sub_id, sv, ...) frame: the codebooks
    * fold to one row per sub_id, each subvector takes the `array_min`
    * of (d2, cluster). Every input column is kept. */
  def foldPqEncode(subv: DataFrame, cents: DataFrame): DataFrame = {
    val folded = cents
      .groupBy("sub_id")
      .agg(collect_list(struct(col("cluster"), col("centroid"))).as("cs"))
    subv
      .join(broadcast(folded), Seq("sub_id"))
      .select(
        subv.columns.map(col) :+
          array_min(
            transform(
              col("cs"),
              c =>
                struct(
                  graft.functions.vectors.dist2(col("sv"), c.getField("centroid")).as("d2"),
                  c.getField("cluster").as("cluster"))
            )
          ).getField("cluster").as("cluster"): _*)
  }

  /** sim11's top-n cells: reverse(array_sort) of (ccos, -cluster,
    * cluster, qcdot) per vector, sliced to n; (vec_id, crank, cluster,
    * ccos, qcdot). */
  def foldTopCells(all: DataFrame, cents: DataFrame, n: Int): DataFrame = {
    val centRow = cents
      .agg(collect_list(struct(col("cluster"), col("centroid"))).as("cs"))
    all
      .crossJoin(broadcast(centRow))
      .select(
        col("vec_id"),
        posexplode(
          slice(
            reverse(
              array_sort(
                transform(
                  col("cs"),
                  c =>
                    struct(
                      graft.functions.vectors.cosine(col("v"), c.getField("centroid")).as("ccos"),
                      negate(c.getField("cluster")).as("negc"),
                      c.getField("cluster").as("cluster"),
                      graft.functions.vectors.dot(col("v"), c.getField("centroid")).as("qcdot")
                    )
                )
              )
            ),
            1,
            n
          )
        ).as(Seq("pos", "w"))
      )
      .select(
        col("vec_id"),
        (col("pos") + 1).as("crank"),
        col("w.cluster").as("cluster"),
        col("w.ccos").as("ccos"),
        col("w.qcdot").as("qcdot"))
  }

  /** The IVF-PQ probe ranking `probeCells` replaced: a row_number
    * window over the queries x centroids cross join; same columns as
    * foldTopCells. */
  def windowTopCells(all: DataFrame, cents: DataFrame, n: Int): DataFrame =
    all
      .crossJoin(broadcast(cents))
      .withColumn("ccos", graft.functions.vectors.cosine(col("v"), col("centroid")))
      .withColumn("qcdot", graft.functions.vectors.dot(col("v"), col("centroid")))
      .withColumn(
        "crank",
        row_number().over(Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cluster"))))
      .filter(col("crank") <= n)
      .select("vec_id", "crank", "cluster", "ccos", "qcdot")

  /** ivfPqBuild's residual: a broadcast join on the cell id, then
    * zip_with. */
  def joinResidual(cells: DataFrame, cents: DataFrame): DataFrame =
    cells
      .join(broadcast(cents), Seq("cluster"))
      .select(col("vec_id"), zip_with(col("v"), col("centroid"), (x, y) => x - y).as("r"))

  /** The ADC lookup table: a broadcast join of the query subvectors
    * with the codebooks on sub_id. */
  def joinLut(qsub: DataFrame, cents: DataFrame): DataFrame =
    qsub
      .join(broadcast(cents), Seq("sub_id"))
      .select(
        col("vec_id"),
        col("sub_id"),
        col("cluster"),
        graft.functions.vectors.dot(col("sv"), col("centroid")).as("pdot"))
}
