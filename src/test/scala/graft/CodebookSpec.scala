package graft

import graft.catalog.Lake
import graft.operators.{Dedup, Similarity}
import graft.plans.Codebook
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The broadcast-handle codebook kernels against the Spark folds they
  * replaced (kept in LocalKernelsSpec), on adversarial rows: exact
  * score ties across clusters, NaN components, −0.0 and 0.0, a null
  * vector, an empty codebook, a centroid whose length differs from the
  * vector's, and a zero-norm vector under ANSI on and off. Each side
  * must give the same value, compared bit for bit, or fail with the
  * same error class. Also pins the Spark job count of one sim14 and
  * one dedup11 run, so centroids travelling through Spark again fail
  * here, and the jobs each persisted-index reader call runs. */
class CodebookSpec extends AnyFunSuite {
  import TestSpark._
  import LocalKernelsSpec._

  private val nan = Double.NaN

  /** ids 3, 1, 2 (out of order, so position is not the tiebreak):
    * (1,1) and (1,-1) tie on cosine against (1,0); centroid 2 is
    * three long and holds a −0.0. */
  private lazy val book = new Codebook(
    Seq((Array(3, 1, 2), Array(Array(1.0, 1.0), Array(1.0, -1.0), Array(-0.0, 2.0, 5.0)))),
    0L, 0)

  private lazy val emptyBook =
    new Codebook(Seq((Array.empty[Int], Array.empty[Array[Double]])), 0L, 0)

  /** PQ groups: sub 0 ties (1,0) and (0,1) under L2 at (0,0) and
    * (1,1); sub 1 holds a −0.0, a NaN and a short centroid. */
  private lazy val pqBook = new Codebook(
    Seq(
      (Array(5, 4), Array(Array(1.0, 0.0), Array(0.0, 1.0))),
      (Array(0, 1, 2), Array(Array(-0.0, 0.0), Array(nan, 1.0), Array(3.0)))),
    0L, 0)

  private def vectors(rows: (Long, Seq[java.lang.Double])*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) =>
        Row(id, if (v == null) null else v.map(x => x: Any))
      }: _*),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("v", ArrayType(DoubleType)))))

  private def d(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)

  private lazy val adversarial = vectors(
    1L -> d(1, 0), // cosine tie of clusters 3 and 1
    2L -> d(nan, 1), // NaN component: every cosine is NaN
    3L -> d(-0.0, 1), // −0.0 component
    4L -> d(0.0, 1),
    5L -> null, // null vector
    6L -> d(2, -1, 7), // as long as centroid 2, longer than the rest
    7L -> d(0.5), // shorter than every centroid
    8L -> d(0, 0, 1))

  private lazy val zeroNorm = vectors(9L -> d(0.0, -0.0), 10L -> d(1, 1))

  private def cents(b: Codebook): DataFrame = b.frame(spark).select("cluster", "centroid")

  /** A value with every double replaced by its raw bits. */
  private def bits(x: Any): Any = x match {
    case v: Double => java.lang.Double.doubleToRawLongBits(v)
    case r: Row    => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other     => other
  }

  private def errorClass(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.getOrElse(e.getClass.getName)

  /** The sorted rows (doubles as raw bits), or the error class. */
  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    try Right(df.collect().map(r => bits(r).toString).toSeq.sorted)
    catch { case e: Exception => Left(errorClass(e)) }

  /** Runs `check` with ANSI on and off; the frames must be built inside
    * it, since both sides read the mode when they are built. */
  private def bothModes(check: Boolean => Unit): Unit = {
    val before = spark.conf.get("spark.sql.ansi.enabled")
    try Seq(true, false).foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      check(ansi)
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  private def same(kernel: => DataFrame, reference: => DataFrame, what: String): Unit = {
    val (k, r) = (outcome(kernel), outcome(reference))
    assert(k == r, s"$what: kernel $k, reference $r")
  }

  test("nearest by cosine equals the transform + array_max fold") {
    bothModes { ansi =>
      for ((rows, name) <- Seq(adversarial -> "adversarial", zeroNorm -> "zero norm");
           (b, bookName) <- Seq(book -> "codebook", emptyBook -> "empty codebook")) {
        same(
          Similarity.argmaxCell(rows, b, Seq("v"), keepCos = true),
          foldArgmax(rows, cents(b), Seq("v"), keepCos = true),
          s"$name rows, $bookName, ansi=$ansi")
      }
    }
    // the tie goes to the lower id, not to the first position
    val tie = Similarity.argmaxCell(adversarial, book, Seq.empty)
      .filter(col("vec_id") === 1L).head()
    assert(tie.getInt(1) == 1)
    // the zero-norm vector fails under ANSI, as Spark's Divide does
    bothModes { ansi =>
      val got = outcome(Similarity.argmaxCell(zeroNorm, book, Seq.empty))
      assert(got.isLeft == ansi, s"ansi=$ansi: $got")
      if (ansi) assert(got == Left("DIVIDE_BY_ZERO"))
    }
  }

  test("top cells equal sim11's reverse(array_sort) fold and the probe window") {
    bothModes { ansi =>
      for ((rows, name) <- Seq(adversarial -> "adversarial", zeroNorm -> "zero norm");
           (b, bookName) <- Seq(book -> "codebook", emptyBook -> "empty codebook");
           n <- Seq(1, 2, 5)) {
        def kernel = rows
          .select(col("vec_id"), posexplode(b.topCells(col("v"), n)).as(Seq("pos", "w")))
          .select(
            col("vec_id"),
            (col("pos") + 1).as("crank"),
            col("w.cluster").as("cluster"),
            col("w.qcos").as("ccos"),
            col("w.qcdot").as("qcdot"))
        same(kernel, foldTopCells(rows, cents(b), n), s"$name, $bookName, n=$n, ansi=$ansi")
        same(kernel, windowTopCells(rows, cents(b), n), s"window: $name, $bookName, n=$n, ansi=$ansi")
      }
    }
  }

  test("nearest by squared L2 equals the PQ array_min fold") {
    val subv = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 0, Seq(0.0, 0.0)), // L2 tie of clusters 5 and 4
        Row(2L, 0, Seq(1.0, 1.0)),
        Row(3L, 0, Seq(nan, 0.0)),
        Row(4L, 0, null),
        Row(1L, 1, Seq(0.0, -0.0)),
        Row(2L, 1, Seq(-0.0, 0.0)),
        Row(3L, 1, Seq(2.0, 1.0)),
        Row(4L, 1, Seq(3.0, 0.0, 1.0)),
        Row(5L, 1, null)),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("sub_id", IntegerType, nullable = false),
        StructField("sv", ArrayType(DoubleType)))))
    bothModes { ansi =>
      same(
        subv.select(
          col("vec_id"),
          col("sub_id"),
          col("sv"),
          pqBook.nearest(col("sv"), col("sub_id"), cosine = false).getField("cluster").as("cluster")),
        foldPqEncode(subv, pqBook.frame(spark)),
        s"ansi=$ansi")
    }
    val tie = subv.filter(col("vec_id") === 1L && col("sub_id") === 0)
      .select(pqBook.nearest(col("sv"), col("sub_id"), cosine = false).getField("cluster"))
      .head()
    assert(tie.getInt(0) == 4)
  }

  test("residual and ADC dots equal the broadcast joins they replaced") {
    bothModes { ansi =>
      val cells = Similarity.argmaxCell(adversarial, book, Seq("v"))
      same(
        cells
          .filter(col("cluster").isNotNull)
          .select(col("vec_id"), book.residual(col("v"), col("cluster")).as("r")),
        joinResidual(cells, cents(book)),
        s"residual, ansi=$ansi")
      val qsub = adversarial
        .select(col("vec_id"), explode(array(lit(0), lit(1), lit(2))).as("sub_id"), col("v").as("sv"))
      same(
        qsub
          .select(col("vec_id"), col("sub_id"), explode(pqBook.dots(col("sv"), col("sub_id"))).as("d"))
          .select(col("vec_id"), col("sub_id"), col("d.cluster").as("cluster"), col("d.dot").as("pdot")),
        joinLut(qsub, pqBook.frame(spark)),
        s"dots, ansi=$ansi")
    }
  }

  test("a persisted codebook reads back as the codebook that was written") {
    val dir = java.nio.file.Files.createTempDirectory("codebook_").toString
    pqBook.frame(spark).write.parquet(s"$dir/pq")
    cents(book).write.parquet(s"$dir/coarse")
    val pq = Codebook.collect(spark.read.parquet(s"$dir/pq"))
    val coarse = Codebook.collect(spark.read.parquet(s"$dir/coarse"))
    def cells(b: Codebook) =
      for (g <- b.ids.indices; j <- b.ids(g).indices) yield (g, b.ids(g)(j), bits(b.centroid(g, j).toSeq))
    // read back in cluster order within each group
    assert(cells(pq).toSet == cells(pqBook).toSet && cells(pq).map(_._2) == Seq(4, 5, 0, 1, 2))
    assert(cells(coarse).toSet == cells(book).toSet && coarse.ids.length == 1)
    assert(pq.width == 2 && coarse.width == 3)
  }

  /** Spark jobs started while `body` runs (listener bus drained). */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    Bridge.drainListeners(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      Bridge.drainListeners(sc)
      n.get
    } finally sc.removeSparkListener(listener)
  }

  test("sim14 and dedup11 stay within their Spark job ceilings at test scale") {
    // Build and collect, as a pipeline pass runs them. Before the
    // codebook kernels each use of a trained quantizer ran its own
    // centroid fold and broadcast jobs: sim14 ran 25 jobs here and
    // dedup11 16. A centroid shipped through Spark again fails this.
    val lake = Lake(spark, sfDir)
    val sim14 = jobs(Similarity.sim14IvfPq(lake).collect())
    val dedup11 = jobs(Dedup.dedup11Semantic(lake).collect())
    info(s"jobs: sim14 $sim14, dedup11 $dedup11")
    assert(sim14 <= 12, s"sim14 ran $sim14 Spark jobs")
    assert(dedup11 <= 12, s"dedup11 ran $dedup11 Spark jobs")
  }

  test("persisted-index readers run no corpus job before the search") {
    // A reader call collects the codebooks it searches with and nothing
    // else: the IVF centroids, the PQ codebooks, both for IVF-PQ, and
    // no table at all for SQ8, whose params join the plan. A corpus
    // checkpoint or dimension probe shows up here as an extra job.
    val lake = Lake(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("reader_jobs").toString
    Similarity.writeIvfIndex(lake, s"$dir/ivf")
    Similarity.writePqIndex(lake, s"$dir/pq")
    Similarity.writeIvfPqIndex(lake, s"$dir/ivfpq")
    Similarity.writeSqIndex(lake, s"$dir/sq")
    val got = Map(
      "ivf" -> jobs(Similarity.ivfAnnFromIndex(lake, s"$dir/ivf")),
      "pq" -> jobs(Similarity.pqAnnFromIndex(lake, s"$dir/pq")),
      "ivfpq" -> jobs(Similarity.ivfPqAnnFromIndex(lake, s"$dir/ivfpq")),
      "sq" -> jobs(Similarity.sqAnnFromIndex(lake, s"$dir/sq"))
    )
    assert(got == Map("ivf" -> 1, "pq" -> 1, "ivfpq" -> 2, "sq" -> 0), got)
  }
}
