package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** A trained quantizer held on the driver: cluster ids and flat
  * centroids, one group per coarse quantizer (group 0) or one per PQ
  * subspace (group g is sub_id g). `n` is the number of rows the
  * training frame held and `dim` its widest vector (both 0 for a
  * codebook read back from a persisted index).
  *
  * The codebook is published once with `sparkContext.broadcast`, which
  * runs no Spark job, and the kernels below carry only that handle —
  * the shape of `BloomMightContainLong` — so centroids the driver
  * holds never travel through a Spark stage (a local scan, a
  * single-partition fold and a broadcast exchange per use).
  *
  * Every score replays the Spark expressions it replaces, operation
  * for operation: VectorDot's ascending fold over the shorter length,
  * `cos = dot / (norm(v) · norm(c))` with `norm = sqrt(dot)` — null on
  * a zero denominator, or Spark's DIVIDE_BY_ZERO error under ANSI — and
  * `dist2 = dot(v,v) − 2·dot(v,c) + dot(c,c)`. Cells are ordered as
  * Spark orders the struct `(score, cluster)`: a null score sorts
  * first, scores compare as Spark doubles (NaN greatest, −0.0 equal to
  * 0.0), equal scores go to the lower cluster id. A null vector scores
  * null against every cell, so its nearest cell is the lowest id, as
  * under `array_max`. Centroid norms are computed once, here.
  */
final class Codebook(
    groups: Seq[(Array[Int], Array[Array[Double]])],
    val n: Long,
    val dim: Int
) extends Serializable {

  val ids: Array[Array[Int]] = groups.map(_._1).toArray
  /** Group g's centroid j is flat(g)[start(g)(j), start(g)(j + 1)). */
  private val flat: Array[Array[Double]] = groups.map(_._2.flatten).toArray
  private val start: Array[Array[Int]] =
    groups.map(_._2.scanLeft(0)(_ + _.length)).toArray
  private val self: Array[Array[Double]] =
    Array.tabulate(flat.length)(g => Array.tabulate(ids(g).length)(j => dotSelf(g, j)))
  private val norm: Array[Array[Double]] = self.map(_.map(math.sqrt))

  /** Published on first use; every kernel carries this handle. */
  @transient lazy val handle: Broadcast[Codebook] =
    SparkSession.active.sparkContext.broadcast(this)

  /** The widest centroid, 0 when there is none. */
  def width: Int =
    start.flatMap(st => st.indices.drop(1).map(j => st(j) - st(j - 1))).foldLeft(0)(math.max)

  def centroid(g: Int, j: Int): Array[Double] =
    java.util.Arrays.copyOfRange(flat(g), start(g)(j), start(g)(j + 1))

  private def dotSelf(g: Int, j: Int): Double = {
    var s = 0.0
    var i = start(g)(j)
    while (i < start(g)(j + 1)) {
      s += flat(g)(i) * flat(g)(i)
      i += 1
    }
    s
  }

  /** VectorDot(v, centroid j of group g). */
  private def dot(v: ArrayData, g: Int, j: Int): Double = {
    val from = start(g)(j)
    val len = math.min(v.numElements(), start(g)(j + 1) - from)
    val c = flat(g)
    var s = 0.0
    var i = 0
    while (i < len) {
      s += v.getDouble(i) * c(from + i)
      i += 1
    }
    s
  }

  private def dotSelf(v: ArrayData): Double = {
    var s = 0.0
    var i = 0
    while (i < v.numElements()) {
      s += v.getDouble(i) * v.getDouble(i)
      i += 1
    }
    s
  }

  private def group(g: Any): Int =
    if (g == null) -1
    else {
      val i = g.asInstanceOf[Int]
      if (i >= 0 && i < ids.length) i else -1
    }

  /** Scores of v against every cell of group g: the values, and which
    * of them are SQL NULL. `cosine = false` scores squared L2. */
  private def scores(v: ArrayData, g: Int, cosine: Boolean, failOnError: Boolean)
      : (Array[Double], Array[Boolean]) = {
    val k = ids(g).length
    val s = new Array[Double](k)
    val isNull = new Array[Boolean](k)
    if (v == null) java.util.Arrays.fill(isNull, true)
    else {
      val vs = dotSelf(v)
      val vn = math.sqrt(vs)
      var j = 0
      while (j < k) {
        if (cosine) {
          val den = vn * norm(g)(j)
          if (den == 0.0) {
            if (failOnError) throw Bridge.divideByZeroError()
            isNull(j) = true
          } else s(j) = dot(v, g, j) / den
        } else s(j) = vs - 2.0 * dot(v, g, j) + self(g)(j)
        j += 1
      }
    }
    (s, isNull)
  }

  /** Whether cell a of group g goes before cell b: a greater score
    * (`greatest = true`) or a lesser one, equal scores to the lower
    * id. Scores order as Spark orders the struct field: null first,
    * then Spark doubles. */
  private def before(g: Int, s: Array[Double], isNull: Array[Boolean], a: Int, b: Int,
      greatest: Boolean): Boolean = {
    val c =
      if (isNull(a) || isNull(b)) java.lang.Boolean.compare(!isNull(a), !isNull(b))
      else LocalKernels.compareDoubles(s(a), s(b))
    if (c != 0) (c > 0) == greatest else ids(g)(a) < ids(g)(b)
  }

  /** The best cell of group g for v: greatest cosine, or least squared
    * L2, ties to the lower id — `(cluster, score)`, or null when the
    * group is empty or absent. */
  def nearest(v: ArrayData, g0: Any, cosine: Boolean, failOnError: Boolean): InternalRow = {
    val g = group(g0)
    if (g < 0 || ids(g).isEmpty) return null
    val (s, isNull) = scores(v, g, cosine, failOnError)
    var best = 0
    var j = 1
    while (j < s.length) {
      if (before(g, s, isNull, j, best, greatest = cosine)) best = j
      j += 1
    }
    new GenericInternalRow(Array[Any](ids(g)(best), if (isNull(best)) null else s(best)))
  }

  /** The top `n` cells of group 0 by cosine, best first:
    * `(cluster, qcos, qcdot)` with qcdot = VectorDot(v, centroid). */
  def topCells(v: ArrayData, n: Int, failOnError: Boolean): ArrayData = {
    val k = ids(0).length
    val (s, isNull) = scores(v, 0, cosine = true, failOnError)
    val taken = new Array[Boolean](k)
    val out = new Array[Any](math.max(0, math.min(n, k)))
    var r = 0
    while (r < out.length) {
      var best = -1
      var j = 0
      while (j < k) {
        if (!taken(j) && (best < 0 || before(0, s, isNull, j, best, greatest = true))) best = j
        j += 1
      }
      taken(best) = true
      out(r) = new GenericInternalRow(Array[Any](
        ids(0)(best),
        if (isNull(best)) null else s(best),
        if (v == null) null else dot(v, 0, best)))
      r += 1
    }
    new GenericArrayData(out)
  }

  /** `(cluster, VectorDot(v, centroid))` for every cell of group g, in
    * codebook order; empty when the group is absent. */
  def dots(v: ArrayData, g0: Any): ArrayData = {
    val g = group(g0)
    if (g < 0) return new GenericArrayData(Array.empty[Any])
    new GenericArrayData(Array.tabulate[Any](ids(g).length)(j =>
      new GenericInternalRow(Array[Any](ids(g)(j), if (v == null) null else dot(v, g, j)))))
  }

  @transient private lazy val slot: java.util.HashMap[Int, Int] = {
    val m = new java.util.HashMap[Int, Int]()
    ids(0).indices.reverse.foreach(j => m.put(ids(0)(j), j))
    m
  }

  /** `zip_with(v, centroid(cluster), _ - _)` over group 0: as long as
    * the longer of the two, null where either side has no value. Null
    * when v is null or the cluster is not in the codebook. */
  def residual(v: ArrayData, cluster: Any): ArrayData = {
    if (v == null || cluster == null || !slot.containsKey(cluster.asInstanceOf[Int])) return null
    val j = slot.get(cluster.asInstanceOf[Int])
    val from = start(0)(j)
    val clen = start(0)(j + 1) - from
    val vlen = v.numElements()
    val out = new Array[Double](vlen)
    var exact = vlen == clen
    var i = 0
    while (i < vlen && exact) {
      if (v.isNullAt(i)) exact = false
      else out(i) = v.getDouble(i) - flat(0)(from + i)
      i += 1
    }
    if (exact) UnsafeArrayData.fromPrimitiveArray(out)
    else
      new GenericArrayData(Array.tabulate[Any](math.max(vlen, clen))(i =>
        if (i < vlen && i < clen && !v.isNullAt(i)) v.getDouble(i) - flat(0)(from + i)
        else null))
  }

  /** Column entry points: each kernel carries only `handle`. */
  def nearest(v: Column, group: Column = lit(0), cosine: Boolean = true): Column =
    Bridge.column(CodebookNearest(
      Bridge.expression(v), Bridge.expression(group), handle, cosine))

  def topCells(v: Column, n: Int): Column =
    Bridge.column(CodebookTopCells(Bridge.expression(v), Bridge.expression(lit(n)), handle))

  def dots(v: Column, group: Column): Column =
    Bridge.column(CodebookDots(Bridge.expression(v), Bridge.expression(group), handle))

  def residual(v: Column, cluster: Column): Column =
    Bridge.column(CodebookResidual(Bridge.expression(v), Bridge.expression(cluster), handle))

  /** The codebook as a local frame `(sub_id, cluster, centroid)` — the
    * layout a persisted index writes. */
  def frame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(
        (for (g <- ids.indices; j <- ids(g).indices)
          yield Row(g, ids(g)(j), centroid(g, j))): _*),
      StructType(Seq(
        StructField("sub_id", IntegerType, nullable = false),
        StructField("cluster", IntegerType),
        StructField("centroid", ArrayType(DoubleType), nullable = false)
      ))
    )
}

object Codebook {

  /** A persisted codebook table, collected once: `(cluster, centroid)`
    * is one coarse group, `(sub_id, cluster, centroid)` one group per
    * sub_id. Cells are kept in cluster order. */
  def collect(df: DataFrame): Codebook = {
    val hasSub = df.columns.contains("sub_id")
    val rows = df
      .select(
        (if (hasSub) df("sub_id") else lit(0)).cast("int"),
        df("cluster").cast("int"),
        df("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = if (rows.isEmpty) 1 else rows.map(_._1).max + 1
    val byGroup = rows.groupBy(_._1)
    new Codebook(
      (0 until m).map { g =>
        val cells = byGroup.getOrElse(g, Array.empty).sortBy(_._2)
        (cells.map(_._2), cells.map(_._3))
      },
      0L,
      0)
  }
}

/** The codebook kernels: two children and the broadcast handle. The
  * fold over the codebook is the work, so they run interpreted
  * (CodegenFallback). None short-circuits on a null child: a null
  * vector still has a nearest cell under Spark's struct order. */
sealed trait CodebookKernel extends BinaryExpression with CodegenFallback {
  def bc: Broadcast[Codebook]
  @transient protected lazy val book: Codebook = bc.value
  override def nullable: Boolean = true
  protected def run(v: ArrayData, arg: Any): Any
  override def eval(input: InternalRow): Any =
    run(left.eval(input).asInstanceOf[ArrayData], right.eval(input))
}

/** Nearest cell of `group`: `(cluster, score)` by cosine argmax or
  * squared-L2 argmin. ANSI mode is read when the expression is built,
  * as Spark's Divide reads it. */
case class CodebookNearest(
    left: Expression,
    right: Expression,
    bc: Broadcast[Codebook],
    cosine: Boolean,
    failOnError: Boolean = SQLConf.get.ansiEnabled
) extends CodebookKernel {
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("score", DoubleType)))
  override def prettyName: String = "codebook_nearest"
  override protected def run(v: ArrayData, g: Any): Any = book.nearest(v, g, cosine, failOnError)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Top-n cells of the coarse group by cosine, best first. */
case class CodebookTopCells(
    left: Expression,
    right: Expression,
    bc: Broadcast[Codebook],
    failOnError: Boolean = SQLConf.get.ansiEnabled
) extends CodebookKernel {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("qcos", DoubleType),
      StructField("qcdot", DoubleType))),
    containsNull = false)
  override def prettyName: String = "codebook_top_cells"
  override protected def run(v: ArrayData, n: Any): Any =
    book.topCells(v, n.asInstanceOf[Int], failOnError)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `(cluster, dot)` against every cell of `group`: a PQ lookup table row. */
case class CodebookDots(left: Expression, right: Expression, bc: Broadcast[Codebook])
    extends CodebookKernel {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("dot", DoubleType))),
    containsNull = false)
  override def prettyName: String = "codebook_dots"
  override protected def run(v: ArrayData, g: Any): Any = book.dots(v, g)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `v − centroid(cluster)` over the coarse group. */
case class CodebookResidual(left: Expression, right: Expression, bc: Broadcast[Codebook])
    extends CodebookKernel {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "codebook_residual"
  override protected def run(v: ArrayData, cluster: Any): Any = book.residual(v, cluster)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
