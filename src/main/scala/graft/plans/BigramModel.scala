package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document BIGRAM-count table — the TRAIN-pass kernel of the
  * bigram-LM scorer (txt23), the pair sibling of [[TokenCounts]]:
  * tokenize once and fold (prev, w) pair counts row-side, so the
  * bigram vocabulary aggregation consumes one entry per DISTINCT pair
  * per document instead of one row per corpus token position. The
  * position-0 pair is emitted with prev = null — exactly the
  * zip-with-lagged-self stream this fuses (txt23's previous shape
  * built it with concat/slice/zip_with + explode and then shuffled
  * the full token stream) — so the three Jelinek-Mercer marginals
  * (c_big, c_prev, c_uni) aggregate from this one output with
  * unchanged arithmetic: c_uni over ALL pairs counts every token
  * occurrence exactly once.
  *
  * Tokenization is [[Tokenize]], byte-identical to text.tokens.
  * Output is array<struct<prev:string, w:string, n:bigint>>; callers
  * explode and sum per pair. CodegenFallback: the fold is the work.
  */
case class BigramCounts(child: Expression)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(
      Seq(
        StructField("prev", StringType, nullable = true),
        StructField("w", StringType, nullable = false),
        StructField("n", LongType, nullable = false)
      )
    ),
    containsNull = false
  )

  override def prettyName: String = "bigram_counts"

  override def nullSafeEval(input: Any): Any = {
    val ws = Tokenize(input.asInstanceOf[UTF8String])
    // insertion-ordered so the array bytes are deterministic per text
    val m = new java.util.LinkedHashMap[(String, String), Long](ws.length * 2)
    var i = 0
    while (i < ws.length) {
      val prev = if (i == 0) null else ws(i - 1)
      m.merge((prev, ws(i)), 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[Any](m.size)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (p, w) = e.getKey
      out(j) = InternalRow(
        if (p == null) null else UTF8String.fromString(p),
        UTF8String.fromString(w),
        e.getValue
      )
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramCounts {
  def apply(text: Column): Column =
    Bridge.column(BigramCounts(Bridge.expression(text)))
}

/** One-pass tokenize-and-score fold for the bigram-LM scorer (txt23)
  * — the pair sibling of [[UnigramModelScore]]: tokenize, look every
  * ADJACENT pair (t[i-1], t[i]) up in the broadcast per-bigram score
  * table, and return (n_bigrams, s) where s = Σ −ln p(w|prev) over
  * the pairs present in the model. Position 0 has no predecessor and
  * is never scored — the prev-not-null filter of the join
  * formulation this fuses.
  *
  * This replaces the corpus-pair JOIN formulation (zip_with explode →
  * repartition by (prev, w) → localCheckpoint → shuffle-hash join
  * against the model → groupBy doc): the model is bigram-vocabulary-
  * sized, so shipping it to the scan deletes every token-row exchange
  * (measured 2.96 s → see the commit pair at sf1). A pair absent from
  * the model contributes to NEITHER n_bigrams nor s — inner-join
  * semantics, and the dropped-tail rule when the model is capped
  * (txt15's maxModel discipline; full-corpus marginals, tail pairs
  * stop voting).
  *
  * The model travels as prev → (w → score) nested maps so the hot
  * loop does two hash probes and zero tuple allocations per pair.
  * CodegenFallback: the fold is the work (TopBigramCount argument).
  */
case class BigramModelScore(
    child: Expression,
    model: Broadcast[Map[String, Map[String, Double]]]
) extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = StructType(
    Seq(
      StructField("n_bigrams", LongType, nullable = false),
      StructField("s", DoubleType, nullable = false)
    )
  )

  override def prettyName: String = "bigram_model_score"

  @transient private lazy val lookup
      : java.util.HashMap[String, java.util.HashMap[String, Double]] = {
    val outer =
      new java.util.HashMap[String, java.util.HashMap[String, Double]](
        model.value.size * 2
      )
    model.value.foreach { case (p, ws) =>
      val inner = new java.util.HashMap[String, Double](ws.size * 2)
      ws.foreach { case (w, v) => inner.put(w, v) }
      outer.put(p, inner)
    }
    outer
  }

  override def nullSafeEval(input: Any): Any = {
    val ws = Tokenize(input.asInstanceOf[UTF8String])
    var n = 0L
    var sum = 0.0
    var i = 1
    while (i < ws.length) {
      val inner = lookup.get(ws(i - 1))
      if (inner != null) {
        // NaN sentinel as in UnigramModelScore: scores are finite logs
        val v = inner.getOrDefault(ws(i), java.lang.Double.NaN)
        if (!java.lang.Double.isNaN(v)) {
          n += 1L
          sum += v
        }
      }
      i += 1
    }
    InternalRow(n, sum)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramModelScore {
  def apply(
      text: Column,
      model: Broadcast[Map[String, Map[String, Double]]]
  ): Column =
    Bridge.column(BigramModelScore(Bridge.expression(text), model))
}
