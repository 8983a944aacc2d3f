package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** The one tokenizer of the fused text kernels ([[TokenCounts]],
  * [[BigramCounts]], [[UnigramModelScore]], [[BigramModelScore]] and
  * the hashed-classifier fold): the text.tokens chain, byte for byte,
  * split(trim(regexp_replace(text, "\\s+", " ")), " "). After the \s+
  * collapse the edges hold at most one space, so stripping exactly one
  * equals Spark's space-only trim; split(" ", -1) keeps empty tokens.
  * Train and score passes call this one function, so they can never
  * tokenize differently.
  */
private[plans] object Tokenize {
  def apply(u: UTF8String): Array[String] = {
    val s = u.toString.replaceAll("\\s+", " ")
    val t =
      if (s.startsWith(" ") || s.endsWith(" ")) s.replaceAll("^ | $", "")
      else s
    t.split(" ", -1)
  }
}
