package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text/ID functions — all built from codegen'd Spark
  * functions (no UDFs), so they stay inside whole-stage codegen and
  * push work to executors.
  *
  * Mirrors the reference's normalization + text-processing surface:
  * DOI normalization (reference: scripts/create_unified_db.py:523-576),
  * exact-label matching (scripts/run_baseline_comparisons.py:131-151),
  * and the quality/langid heuristics a training-data pipeline needs.
  */
object text {

  /** LOWER + strip a known prefix — the doi_map normalization idiom. */
  def normalizeId(c: Column, prefix: String): Column =
    lower(regexp_replace(c, "^" + java.util.regex.Pattern.quote(prefix), ""))

  /** Whitespace-normalized form of a document. */
  def normWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** Whitespace tokens (assumes normWs'd or single-spaced text). */
  def tokens(c: Column): Column = split(normWs(c), " ")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Canonical content fingerprint: md5 of the whitespace-normalized,
    * lowercased text (materialize_fulltext-style dedup key). */
  def fingerprint(c: Column): Column = md5(lower(normWs(c)))

  /** Order-insensitive bag-of-words fingerprint: md5 over the sorted
    * distinct token set. Catches shuffled/reordered duplicates that a
    * plain content hash misses. */
  def bagFingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(c)))))

  /** Word n-gram shingles (order-sensitive), distinct. Documents with
    * fewer than n tokens yield an empty shingle set.
    *
    * Built from slice + zip_with rather than
    * `transform(sequence, i => element_at(toks, i+k))`: element_at
    * inside a lambda re-evaluates the (tokenization) child expression
    * once PER ELEMENT after projection collapse — measured 10x+
    * slowdown on real corpora. slice evaluates the child once per
    * row. */
  def wordShingles(toks: Column, n: Int): Column = {
    require(n >= 2, "shingle order must be >= 2")
    val m = size(toks) - (n - 1) // number of shingles
    val shifted = (0 until n).map(k => slice(toks, lit(k + 1), m))
    val joined = shifted.reduce((a, b) =>
      zip_with(a, b, (x, y) => concat(x, lit(" "), y))
    )
    when(size(toks) >= n, array_distinct(joined))
      .otherwise(array().cast("array<string>"))
  }

  /** Language marker lexicon, the one copy every operator takes its
    * lists from: txt02's explode + broadcast-join vote, txt03's
    * stopword count, the Gopher rules' distinct-stopword signal (the
    * "en" list) and the txt24 panel's per-language filter counts (all
    * in TextAnalysis); the DuckDB oracles spell the same lists out in
    * their SQL. The scoring logic lives in the operators: a
    * Column-level CASE over per-language marker-count lambdas inlined
    * into one projection re-evaluates the tokenizer once per reference
    * (lambda bodies are invisible to codegen's common-subexpression
    * elimination), so txt02 counts after one explode and the panel
    * filters a token array it has already materialized. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "les", "des", "et")
  )

  /** Ratio of non-[a-z0-9 ] characters (punctuation-ish density). */
  def punctRatio(c: Column): Column =
    length(regexp_replace(lower(c), "[a-z0-9 ]", "")).cast("double") /
      length(c).cast("double")
}
