package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Merge-style intersection count over two SORTED distinct long
  * arrays — the Jaccard kernel. `array_intersect` + `array_union`
  * builds two hash sets and two result arrays per pair; at millions
  * of candidate pairs this dominates dedup runtime. The merge loop is
  * allocation-free and codegen'd. Jaccard = count / (|a|+|b|-count).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0L
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; long $c = 0L;
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def apply(a: Column, b: Column): Column =
    Bridge.column(
      SortedIntersectCount(Bridge.expression(a), Bridge.expression(b))
    )
}

/** Fused MinHash signature: all numPerm affine-permutation minima in
  * one pass over the base hash array, no intermediate arrays. The
  * transform+array_min formulation allocates numPerm arrays per row;
  * this computes the same values (same coefficients as
  * graft.functions.hashing) with a single k-length output buffer.
  * CodegenFallback: the tight JVM loop is the work; fallback only
  * costs one virtual call per row.
  */
case class MinHashSig(child: Expression, numPerm: Int, prime: Long, as: Array[Long], bs: Array[Long])
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](numPerm)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var k = 0
      while (k < numPerm) {
        // floorMod matches pmod semantics for possibly-negative products
        val v = java.lang.Math.floorMod(h * as(k) + bs(k), prime)
        if (v < out(k)) out(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  def apply(base: Column, numPerm: Int, prime: Long, as: Array[Long], bs: Array[Long]): Column =
    Bridge.column(
      MinHashSig(Bridge.expression(base), numPerm, prime, as, bs)
    )
}

/** Codegen'd probe of a broadcast `util.sketch.BloomFilter` over a
  * long column — dedup13's pre-filter fallback when the exact
  * candidate set outgrows a broadcast semi-join. Two design choices:
  *  - The expression carries only the Broadcast HANDLE: small to
  *    serialize into tasks, while the bitmap ships once per executor
  *    over the block manager (the shape of Spark's own
  *    BloomFilterMightContain).
  *  - A real doGenCode, NOT CodegenFallback: a fallback predicate
  *    breaks whole-stage codegen for the entire scan+hash+filter
  *    stage (measured 10x the codegen'd kernel floor on that stage).
  *    The generated code caches the broadcast-resolved filter in
  *    per-stage mutable state, so the hot loop probes a local
  *    reference.
  */
case class BloomMightContainLong(
    child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter
    ]
) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def prettyName: String = "bloom_might_contain_long"

  @transient private lazy val filter = bc.value

  override def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj(
      "bloomBc",
      bc,
      "org.apache.spark.broadcast.Broadcast"
    )
    val bf = ctx.addMutableState(
      "org.apache.spark.util.sketch.BloomFilter",
      "bloomFilter"
    )
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"""
        |if ($bf == null) {
        |  $bf = (org.apache.spark.util.sketch.BloomFilter) $bcRef.value();
        |}
        |${ev.value} = $bf.mightContainLong($c);
      """.stripMargin
    )
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomMightContainLong {
  def apply(
      c: Column,
      bc: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter
      ]
  ): Column =
    Bridge.column(BloomMightContainLong(Bridge.expression(c), bc))
}
