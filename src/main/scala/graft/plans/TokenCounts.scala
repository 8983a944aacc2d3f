package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document word-count map — the TRAIN-pass kernel of the
  * unigram-LM family (txt15/txt21): tokenize once and fold the counts
  * row-side, so the vocabulary aggregation consumes one (word, count)
  * entry per DISTINCT word per document instead of one row per corpus
  * token. On this corpus shape (~250 tokens, ~31 distinct words per
  * document) that is an ~8× cut in explode + hash-aggregate input —
  * the declarative explode(tokens) pushes every corpus token through
  * the aggregate.
  *
  * Tokenization is [[Tokenize]], byte-identical to text.tokens.
  * Output is map<string,bigint>; callers explode the map and sum per
  * word.
  * CodegenFallback: the fold is the work (TopBigramCount argument).
  */
case class TokenCounts(child: Expression)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = MapType(StringType, LongType, false)

  override def prettyName: String = "token_counts"

  override def nullSafeEval(input: Any): Any = {
    val ws = Tokenize(input.asInstanceOf[UTF8String])
    // insertion-ordered so the map bytes are deterministic per text
    val m = new java.util.LinkedHashMap[String, Long](ws.length * 2)
    var i = 0
    while (i < ws.length) {
      m.merge(ws(i), 1L, (a, b) => a + b)
      i += 1
    }
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(j) = UTF8String.fromString(e.getKey)
      vals(j) = e.getValue
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCounts {
  def apply(text: Column): Column =
    Bridge.column(TokenCounts(Bridge.expression(text)))
}
