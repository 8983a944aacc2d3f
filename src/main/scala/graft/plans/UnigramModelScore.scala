package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass tokenize-and-score fold for the unigram-LM family
  * (txt15 / txt21 / txt25): whitespace-normalize, split, look every
  * token up in the broadcast per-word score table, and return
  * (n_tokens, s) where s = Σ score(w) over the tokens present in the
  * model — the per-document Σ −ln p(w) (txt15) or Σ log-likelihood-
  * ratio (txt21) in a single map-side pass.
  *
  * This replaces the corpus-token JOIN formulation (explode 12.5M
  * token rows at sf1 → repartition by word → checkpoint → shuffle-hash
  * join against the model → groupBy doc): the model is VOCABULARY-
  * sized (Heaps-sublinear in the corpus), so shipping it to the scan
  * deletes every token-row exchange from the plan. The broadcast
  * travels by reference inside the expression tree — the precedent is
  * Spark's own BloomFilterMightContain holding its broadcast filter.
  *
  * Tokenization is [[Tokenize]], byte-identical to text.tokens (the
  * hashed-classifier fold calls it on lowercased text; the LM family
  * scores case-sensitive tokens). A token absent from the model
  * contributes to NEITHER n_tokens nor s — the inner-join semantics of the formulation this fuses (with a
  * corpus-trained model every token is present; the rule only matters
  * for externally supplied models).
  *
  * 100 TB note: a corpus-trained vocabulary grows with the corpus;
  * the call sites (txt15/txt21) therefore ENFORCE a top-K-by-count
  * cap (`maxModel`) on the collected model — the driver never holds
  * more than maxModel entries, totals stay full-corpus exact, and the
  * dropped tail follows the missing-key rule below. A fixed external
  * LM is the other regime (CCNet scores against a Wikipedia-trained
  * LM, not a corpus-trained one). CodegenFallback: the fold is the
  * work (TopBigramCount argument).
  */
case class UnigramModelScore(
    child: Expression,
    model: Broadcast[Map[String, Double]]
) extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = StructType(
    Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("s", DoubleType, nullable = false)
    )
  )

  override def prettyName: String = "unigram_model_score"

  @transient private lazy val lookup: java.util.HashMap[String, Double] = {
    val m = new java.util.HashMap[String, Double](model.value.size * 2)
    model.value.foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val ws = Tokenize(input.asInstanceOf[UTF8String])
    var n = 0L
    var sum = 0.0
    var i = 0
    while (i < ws.length) {
      // NaN sentinel for missing keys: model scores are always finite
      // (log of strictly positive ratios), so NaN is unambiguous —
      // and avoids the null-unboxing trap of a raw get().
      val v = lookup.getOrDefault(ws(i), java.lang.Double.NaN)
      if (!java.lang.Double.isNaN(v)) {
        n += 1L
        sum += v
      }
      i += 1
    }
    InternalRow(n, sum)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnigramModelScore {
  def apply(text: Column, model: Broadcast[Map[String, Double]]): Column =
    Bridge.column(UnigramModelScore(Bridge.expression(text), model))
}
