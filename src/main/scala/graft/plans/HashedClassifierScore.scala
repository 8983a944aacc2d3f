package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass hashing-trick classifier fold for txt29/txt30:
  * lowercase, whitespace-normalize, and for every unigram +
  * consecutive-bigram feature add the milli-weight of its md5 bucket
  * — returning (n_feats, s_milli) per document, s_milli = Σ
  * weights(bucket). `weights` is the dense milli-weight vector (index
  * = bucket, dim entries — 32 KB at the default 4096, shipped once per
  * task binary like any literal; unobserved buckets hold 0): txt29's
  * stub vector ([[HashedClassifierScore.stubWeights]]) or txt30's
  * trained one.
  *
  * Exactly the declarative formulation's semantics (lower → normWs →
  * split(" ") → concat(unigrams, bigrams) → md5-bucket → weight →
  * integer sum), but fused: the Column-graph form materializes the
  * token array, a second shifted copy, a zip_with concat per bigram,
  * the concatenated feature array, and a transformed weight array PER
  * ROW — measured 1.67 s at sf0.1 against 0.42 s for DuckDB's
  * vectorized pipeline. This walks the tokens once, reuses one digest
  * instance per thread, and allocates only the per-feature byte
  * buffers md5 needs.
  *
  * md5 (not xxhash) is the contract: it is the one hash both engines
  * spell identically, so the DuckDB oracle replays weights bit-exactly
  * (the samp06 rule). CodegenFallback: the fold is the work, one
  * virtual call per row is noise (the TopBigramCount argument).
  *
  * An array compares and prints by identity, so equality, hashing and
  * the plan text read the vector by value: two plans over equal
  * weights stay equal, and the printed plan is the same on every run.
  */
case class WeightedClassifierScore(
    child: Expression,
    dim: Int,
    weights: Array[Long]
) extends UnaryExpression
    with CodegenFallback {

  require(
    weights.length == dim,
    s"weights must be dense over dim buckets (got ${weights.length}, dim $dim)"
  )

  override def dataType: DataType = StructType(
    Seq(
      StructField("n_feats", LongType, nullable = false),
      StructField("s_milli", LongType, nullable = false)
    )
  )

  override def prettyName: String = "weighted_classifier_score"

  override def equals(o: Any): Boolean = o match {
    case w: WeightedClassifierScore =>
      child == w.child && dim == w.dim && java.util.Arrays.equals(weights, w.weights)
    case _ => false
  }

  override def hashCode: Int =
    java.util.Objects.hash(child, Int.box(dim), Int.box(java.util.Arrays.hashCode(weights)))

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, dim, s"weights#${java.util.Arrays.hashCode(weights)}")

  override def nullSafeEval(input: Any): Any = {
    var n = 0L
    var sum = 0L
    HashedClassifierScore.foldBuckets(input.asInstanceOf[UTF8String], dim) {
      b =>
        sum += weights(b.toInt)
        n += 1L
    }
    InternalRow(n, sum)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The same fused unigram+bigram fold with the per-feature BUCKET ids
  * out (array<long>, one element per feature, document order) — the
  * trainer-side view of txt29's feature space: txt30 explodes this to
  * count per-bucket label frequencies. Keeping the fold shared (one
  * implementation in [[HashedClassifierScore.foldBuckets]]) is what
  * makes "train on these features, serve with those weights" a sound
  * contract — the trainer and the scorer cannot drift apart. */
case class HashedFeatureBuckets(child: Expression, dim: Int)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def prettyName: String = "hashed_feature_buckets"

  override def nullSafeEval(input: Any): Any = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    HashedClassifierScore.foldBuckets(input.asInstanceOf[UTF8String], dim) {
      b => out += b
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedClassifierScore {
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5")
  )

  /** The shared fold: call `f` with the md5 bucket (in [0, dim)) of
    * every unigram and consecutive bigram of [[Tokenize]] over the
    * lowercased text (Spark's lower is UTF8String.toLowerCase), in
    * document order (unigrams first — the order only matters to
    * HashedFeatureBuckets' array layout). */
  private[plans] def foldBuckets(input: UTF8String, dim: Int)(
      f: Long => Unit
  ): Unit = {
    val md = digest.get()
    val ws = Tokenize(input.toLowerCase)
    def add(bytes: Array[Byte]): Unit = {
      md.reset()
      val d = md.digest(bytes)
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      f(h % dim)
    }
    var i = 0
    while (i < ws.length) {
      add(ws(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    i = 0
    while (i < ws.length - 1) {
      val a = ws(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = ws(i + 1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val buf = new Array[Byte](a.length + 1 + b.length)
      System.arraycopy(a, 0, buf, 0, a.length)
      buf(a.length) = ' '
      System.arraycopy(b, 0, buf, a.length + 1, b.length)
      add(buf)
      i += 1
    }
  }

  /** txt29's stub weight vector: bucket j's weight is a Knuth
    * multiplicative mix of j mapped into [-1, 1] at milli granularity —
    * standing in for learned parameters exactly like emb01's
    * hash-projection embedder. */
  def stubWeights(dim: Int): Array[Long] =
    Array.tabulate(dim)(j => j * 2654435761L % 2001L - 1000L)

  /** txt29's scorer: the weighted fold over the stub vector. */
  def apply(text: Column, dim: Int): Column =
    WeightedClassifierScore(text, dim, stubWeights(dim))
}

object HashedFeatureBuckets {
  def apply(text: Column, dim: Int): Column =
    Bridge.column(HashedFeatureBuckets(Bridge.expression(text), dim))
}

object WeightedClassifierScore {
  def apply(text: Column, dim: Int, weights: Array[Long]): Column =
    Bridge.column(
      WeightedClassifierScore(Bridge.expression(text), dim, weights)
    )
}
