package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, computed in
  * double precision with a fixed (sequential) accumulation order so
  * results are deterministic and engine-comparable. The dot product
  * is the native VectorDot expression; `toDouble` and `l2Normalize`
  * are `transform` lambdas, which run interpreted on Spark 4.1.2
  * (ArrayTransform is a CodegenFallback).
  *
  * This is the Spark-native analog of the reference's FAISS flat
  * inner-product kernel (reference: scripts/build_embedding_linkage.py
  * :246-273 — L2-normalized embeddings, IndexFlatIP, top-k search).
  */
object vectors {

  /** Cast an array<float> to array<double> (all math in f64). */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential-fold dot product in double — a fused-loop native
    * Catalyst expression (graft.plans.VectorDot); bit-identical to
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` but with no
    * intermediate array allocation. */
  def dot(a: Column, b: Column): Column =
    graft.plans.VectorDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two array<double> columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** L2-normalize, so cosine becomes a plain dot product (the
    * reference normalizes embeddings for exactly this reason). */
  def l2Normalize(a: Column): Column = {
    val n = norm(a)
    transform(a, x => x / n)
  }

  /** Squared L2 distance via the polarization identity — three fused
    * dots, no intermediate difference array. */
  def dist2(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)
}
