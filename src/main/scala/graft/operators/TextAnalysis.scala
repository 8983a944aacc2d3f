package graft.operators

import graft.catalog.Lake
import graft.functions.{hashing, text}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis over the documents corpus — language ID, quality
  * scoring, token statistics, fingerprints, n-gram frequencies, and
  * exact-label linkage.
  *
  * Reference shapes: exact lowercase label matching
  * (run_baseline_comparisons.py:131-151, build_ontology_linkage.py),
  * text statistics / filtering as done before the reference's
  * per-DOI fulltext dedup (materialize_fulltext.py).
  *
  * Scale notes: most operators here are map-only per document until
  * a final small aggregation; n-gram frequency is explode ->
  * partial-agg'd count, so the shuffle carries (ngram, partial_count)
  * pairs, not documents. The exceptions shuffle on purpose: samp04's
  * range-partitioned prefix sum, txt22's window-hash df index and
  * txt28's first-seen join, each documented at the operator.
  *
  * Shared text decisions are written once: the Gopher signals and
  * rules ([[gopherRules]]), the language vote ([[langVote]], over
  * text.langMarkers), the capped vocabulary model
  * ([[vocabModelScores]]), the classifier score ([[qScore]]) and the
  * chunk starts ([[withChunkStarts]]).
  */
object TextAnalysis {

  /** Per-document token/char/punctuation statistics. */
  def txt01Stats(lake: Lake): DataFrame = {
    val toks = text.tokens(col("text"))
    lake.documents
      .select(
        col("doc_id"),
        col("lang"),
        size(toks).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"),
        round(
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
            size(toks).cast("double"),
          4
        ).as("avg_token_len"),
        round(text.punctRatio(col("text")), 4).as("punct_ratio")
      )
      .orderBy("doc_id")
  }

  /** Marker-heuristic language ID vs the labeled lang.
    *
    * Shape note: the langId CASE references each language's marker
    * count several times, and markerCount's filter lambda embeds the
    * tokenizer — inlined into one projection that re-tokenizes ~10x
    * per row (lambda bodies are invisible to codegen's common-
    * subexpression elimination). Instead: tokenize ONCE, explode,
    * broadcast-join the 16 marker words, aggregate per-language
    * counts, and build the CASE over the aggregated attributes. The
    * shuffle carries only matched marker tokens.
    *
    * [[langIdVerdicts]] is the UNORDERED kernel eval03 composes over
    * (the surviving-sort rule: a consumer cannot optimize the public
    * entry's corpus-sized presentation orderBy away). */
  private[graft] def langIdVerdicts(lake: Lake): DataFrame = {
    val markerRows = text.langMarkers.toSeq
      .flatMap { case (l, ws) => ws.map(w => (w, l)) }
    val lex = lake.spark.createDataFrame(markerRows).toDF("term", "mlang")
    val counts = markerCounts(l => count(when(col("mlang") === l, 1)))
    val perDoc = lake.documents
      .select(col("doc_id"), explode(text.tokens(col("text"))).as("term"))
      .join(broadcast(lex), "term")
      .groupBy("doc_id")
      .agg(counts.head, counts.tail: _*)
    lake.documents
      .select(col("doc_id"), col("lang").as("labeled_lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, text.langMarkers.keys.map(l => s"s_$l").toSeq)
      .withColumn("pred_lang", langVote)
      .select(
        col("doc_id"),
        col("labeled_lang"),
        col("pred_lang"),
        col("s_en").cast("long").as("en_markers")
      )
      .withColumn("agrees", col("labeled_lang") === col("pred_lang"))
  }

  def txt02LangId(lake: Lake): DataFrame =
    langIdVerdicts(lake).orderBy("doc_id")

  /** One marker-count column `s_<lang>` per text.langMarkers language,
    * from a per-language count expression. */
  private def markerCounts(count: String => Column): Seq[Column] =
    text.langMarkers.keys.toSeq.map(l => count(l).as(s"s_$l"))

  /** The four-language vote over the s_en, s_de, s_es, s_fr marker
    * counts: the most markers wins, ties going to the earlier language
    * in en, de, es, fr order (txt02, eval03 and the txt24 panel). */
  private val langVote: Column =
    when(
      col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
        col("s_en") >= col("s_fr"),
      "en"
    ).when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
      .when(col("s_es") >= col("s_fr"), "es")
      .otherwise("fr")

  /** Quality scoring + threshold filter (pretraining-corpus gate).
    * Same one-pass shape as txt02: explode once, aggregate token and
    * stopword counts, score over the aggregated attributes (the
    * direct qualityScore(text) projection re-tokenizes ~6x per row —
    * the score references token counts repeatedly and the filter
    * pushdown duplicates the whole expression). */
  def txt03Quality(lake: Lake): DataFrame = {
    val en = text.langMarkers("en")
    lake.documents
      .select(col("doc_id"), explode(text.tokens(col("text"))).as("term"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("term").isInCollection(en), 1)).as("n_stop")
      )
      .withColumn(
        "quality",
        round(
          lit(0.5) * least(col("n_tokens").cast("double") / 80.0, lit(1.0)) +
            lit(0.5) * least(
              col("n_stop").cast("double") / col("n_tokens").cast("double") * 8.0,
              lit(1.0)
            ),
          4
        )
      )
      .filter(col("quality") >= 0.5)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
      .orderBy("doc_id")
  }

  /** Content fingerprints + per-fingerprint duplicate counts. */
  def txt04Fingerprint(lake: Lake): DataFrame = {
    val w = Window.partitionBy("fp")
    lake.documents
      .select(
        col("doc_id"),
        text.fingerprint(col("text")).as("fp"),
        text.bagFingerprint(col("text")).as("bag_fp")
      )
      .withColumn("bag_dup_count", count(lit(1)).over(Window.partitionBy("bag_fp")))
      .select("doc_id", "fp", "bag_fp", "bag_dup_count")
      .orderBy("doc_id")
  }

  /** Vocabulary statistics: distinct tokens + type-token ratio. */
  def txt05VocabStats(lake: Lake): DataFrame = {
    val toks = text.tokens(col("text"))
    lake.documents
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        round(
          size(array_distinct(toks)).cast("double") / size(toks).cast("double"),
          4
        ).as("type_token_ratio")
      )
      .orderBy("doc_id")
  }

  /** Corpus-wide top-20 bigrams: explode + count (partial-agg'd). */
  def txt06TopNgrams(lake: Lake): DataFrame = {
    val toks = text.tokens(col("text"))
    lake.documents
      .select(explode(text.wordShingles(toks, 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("bigram"))
      .limit(20)
  }

  /** Exact lowercase label linkage: a small term lexicon (broadcast,
    * like the reference's ontology term tables) matched against the
    * corpus vocabulary. */
  val lexicon: Seq[String] = Seq(
    "join", "scan", "filter", "sort", "merge", "hash",
    "window", "stream", "batch", "query"
  )

  def txt07ExactLabelMatch(lake: Lake): DataFrame = {
    val toks = text.tokens(col("text"))
    val docTerms = lake.documents.select(
      col("doc_id"),
      explode(array_distinct(toks)).as("term")
    )
    val terms = lake.spark
      .createDataFrame(lexicon.map(Tuple1(_)))
      .toDF("term")
    docTerms
      .join(broadcast(terms), "term")
      .groupBy("term")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("term")
  }

  /** BM25 document ranking for a fixed query (k1=1.2, b=0.75) — the
    * reference's retrieval baseline (run_baseline_comparisons.py:231).
    * idf and avgdl come from corpus-level aggregates (broadcast, tiny);
    * per-doc term frequencies are one explode + groupBy — everything
    * partial-aggregates, nothing is quadratic. */
  val bm25Query: Seq[String] = Seq("join", "filter", "window", "stream")

  /** Term frequencies for a small term list: tokenize ONCE, explode,
    * broadcast-join against the lexicon, count per (doc, term).
    *
    * Why not the per-term array-filter unpivot: referencing the
    * tokenizer expression inside N filter lambdas re-evaluates the
    * full regexp tokenize N times per row after projection collapse
    * (measured 6.8 s vs 1.1 s at sf0.1 for 10 terms — the same trap
    * as element_at-in-transform, see functions.text.wordShingles).
    * Here the explode is map-side, the lexicon join is a broadcast
    * that drops non-lexicon tokens before any exchange, and the
    * shuffle carries only |matching tokens| rows — linear in corpus
    * size with a tiny constant, and the tokenizer runs exactly once.
    *
    * The document frequency `df` comes from a window over the tf
    * frame, not a groupBy + join back: the join formulation recomputes
    * the whole tokenize + explode branch a second time, while the
    * window reuses the one pass (its shuffle carries only the matched
    * (doc, term) rows). */
  private def termFrequencies(lake: Lake, terms: Seq[String]): DataFrame = {
    val lex = lake.spark
      .createDataFrame(terms.map(Tuple1(_)))
      .toDF("term")
    lake.documents
      .select(col("doc_id"), explode(text.tokens(col("text"))).as("term"))
      .join(broadcast(lex), "term")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn(
        "df",
        count(lit(1)).over(Window.partitionBy("term")).cast("double")
      )
  }

  def txt08Bm25Search(lake: Lake, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = lake.documents.select(
      col("doc_id"),
      text.tokens(col("text")).as("toks")
    )
    val dl = docs.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl")
    )
    termFrequencies(lake, bm25Query)
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn(
        "idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
      )
      .withColumn(
        "term_score",
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
      )
      .groupBy("doc_id")
      .agg(round(sum("term_score"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** TF-IDF weights of lexicon terms per document, top-3 terms per doc
    * (run_baseline_comparisons.py:164 TF-IDF baseline shape). */
  def txt09TfIdf(lake: Lake): DataFrame = {
    val nDocs = lake.documents.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window
      .partitionBy("doc_id")
      .orderBy(col("tfidf_raw").desc, col("term"))
    termFrequencies(lake, lexicon)
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf_raw", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(
        col("doc_id"),
        col("rank").cast("long").as("rank"),
        col("term"),
        round(col("tfidf_raw"), 4).as("tfidf")
      )
      .orderBy("doc_id", "rank")
  }

  /** samp04: highest-quality docs under a corpus TOKEN BUDGET — the
    * selection step after scoring (pick the best B tokens for the
    * training run). Selection order is (score desc, doc_id); a doc is
    * kept while the running token total stays within budget.
    *
    * The running total is an EXACT GLOBAL prefix sum computed the
    * scale-correct way — `Window.orderBy` with no partition key would
    * plan ONE partition and serialize the corpus through a single
    * task:
    *   1. range-repartition on the selection order (range partitions
    *      are order-aligned, so partition id == global rank block);
    *   2. per-partition window cumsum — bounded by partition size;
    *   3. prefix-sum the |partitions| per-partition totals (a
    *      |partitions|-row window — the same deliberately-tiny
    *      single-partition frame as the k-row centroid windows);
    *   4. broadcast the offsets back and add.
    * The kept set is invariant to where the range boundaries fall, so
    * the output is deterministic even though RangePartitioner samples
    * split points. Score = mean word length (cheap, deterministic,
    * SQL-expressible — stand-in for any model score column). */
  def samp04TokenBudget(
      lake: Lake,
      budget: Long = 5000L,
      parts: Int = 8
  ): DataFrame = {
    val scored = lake.documents.select(
      col("doc_id"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
        .cast("long").as("tokens"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") /
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1))
        .as("score")
    )
    val ranked = scored
      .repartitionByRange(parts, col("score").desc, col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val local = ranked.withColumn(
      "local_cum",
      sum("tokens").over(
        Window.partitionBy("pid").orderBy(col("score").desc, col("doc_id"))))
    val offsets = local
      .groupBy("pid")
      .agg(sum("tokens").as("ptotal"))
      .withColumn(
        "offset",
        coalesce(
          sum("ptotal").over(
            Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pid", "offset")
    local
      .join(broadcast(offsets), "pid")
      .withColumn("cum_tokens", col("local_cum") + col("offset"))
      .filter(col("cum_tokens") <= budget)
      .select("doc_id", "tokens", "cum_tokens")
      .orderBy("cum_tokens")
  }

  /** samp06: deterministic global SHUFFLE + SHARD — the final layout
    * step of a pretraining pipeline: decorrelate the storage order
    * (sources arrive clustered; training wants them interleaved) and
    * deal the corpus into S shards, each internally ordered, with NO
    * RNG so the training order reproduces bit-for-bit across runs and
    * cluster sizes. The within-shard order key is md5(doc_id ":" seed)
    * — uniform, engine-portable, re-dealt by changing the seed. The
    * shard id is a multiplicative mix of the doc id (mod-reduced FIRST
    * so the product never overflows at any corpus size; a raw
    * `doc_id * knuth` wraps in Spark and errors in an
    * overflow-checking engine at ~1e12 ids), which decorrelates shard
    * from the source interleaving a plain `doc_id % S` would inherit.
    *
    * Scale shape: the only wide op is the hash partition on shard +
    * the per-shard sort behind `row_number` — S-way parallel, never a
    * global single-partition window; shard sizes are ≈ corpus/S by
    * uniformity of the mix. This is exactly the "shuffle into N
    * internally-shuffled shard files" layout tfrecord/WebDataset
    * training readers expect. */
  def samp06ShuffleShard(
      lake: Lake,
      shards: Int = 8,
      seed: Int = 42
  ): DataFrame = {
    val key = hashing.seededMd5(col("doc_id"), seed)
    // Take the HIGH bits of the Knuth product: an odd multiplier is a
    // bijection on the low k bits, so `product % 2^k` would still be
    // `doc_id % 2^k` reshuffled — correlated with every id-derived
    // attribute. The >>16 discards the preserved low bits.
    val shard = pmod(
      shiftright(pmod(col("doc_id"), lit(100003L)) * lit(2654435761L), 16),
      lit(shards.toLong))
    lake.documents
      .select(col("doc_id"), col("source"), key.as("shuffle_key"), shard.as("shard"))
      .withColumn(
        "pos",
        row_number()
          .over(Window.partitionBy("shard").orderBy("shuffle_key", "doc_id"))
          .cast("long"))
      .select("doc_id", "source", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** Seeded random sample — the reference's `USING SAMPLE` idiom
    * (reference: scripts/build_embedding_linkage.py:653,
    * scripts/generate_paper_figures.py:131) with the RNG replaced by
    * a seeded HASH threshold: keep a row iff the first 4 hex chars of
    * md5(doc_id ":" seed) sort below the rate's threshold string.
    * md5 hex is uniform, so P(keep) = 0x3333/0x10000 ≈ 20%; changing
    * the seed re-deals the sample. DuckDB's `USING SAMPLE` (Bernoulli
    * or reservoir) draws from engine-private RNG state, so its exact
    * row set is NOT replayable across engines — the hash-threshold
    * form is the oracle-checkable equivalent with the same marginal
    * statistics, and unlike Bernoulli it is stable under retries,
    * partitioning, and cluster size (a failed 100 TB stage re-samples
    * IDENTICALLY on retry; an RNG sample does not).
    *
    * Scale shape: map-only scan — the predicate is a per-row hash
    * compare, no shuffle at all; at any corpus size the sample is one
    * pass over the ids. */
  def samp08SeededSample(lake: Lake, seed: Int = 7): DataFrame =
    lake.documents
      .filter(substring(hashing.seededMd5(col("doc_id"), seed), 1, 4) < lit("3333"))
      .select("doc_id", "source", "lang", "n_chars")
      .orderBy("doc_id")

  /** samp12: the temperature mixture MATERIALIZED as a deterministic
    * seeded downsample — samp03 computes target shares, this applies
    * them: post-sample source share ∝ n^alpha (alpha = 0.5) needs
    * per-source keep rate ∝ n^(alpha-1) over char volume, normalized
    * so the smallest source keeps 100% (never upsample here — repetition is samp10's
    * job). The keep decision is samp08's seeded hash-threshold rule
    * with an INTEGER comparison: the first 8 md5 hex chars as a
    * uint32 against floor(rate * 2^32) — the rate double is computed
    * identically in both engines (one sqrt of an exact integer
    * ratio), the floor makes the threshold exact, so the kept SET is
    * bit-reproducible across engines, retries, and partitionings
    * (no RNG, the samp08 property, now weighted).
    *
    * Scale: one count aggregate to |sources| rows, broadcast rate
    * table, map-only keep decision, one realized-rate fold. */
  def samp12MixtureSample(lake: Lake, seed: Int = 7): DataFrame = {
    // weight by per-source CHAR volume, not doc count — mixture
    // shares are token-denominated, and volume varies even when doc
    // counts are balanced (integer sum: exact in both engines)
    val counts = lake.documents
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
    val minRow = counts.agg(min("n_chars").as("c_min"))
    val rates = counts
      .crossJoin(broadcast(minRow))
      .select(
        col("source"),
        col("n_docs"),
        col("n_chars"),
        sqrt(col("c_min").cast("double") / col("n_chars")).as("rate")
      )
      .withColumn(
        "thr",
        floor(col("rate") * lit(4294967296.0)).cast("long")
      )
    lake.documents
      .select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .withColumn("u", hashing.md5U32(hashing.seededMd5(col("doc_id"), seed)))
      .groupBy("source")
      .agg(
        first("n_docs").as("n_docs"),
        first("n_chars").as("n_chars"),
        round(first("rate"), 6).as("keep_rate"),
        count(when(col("u") < col("thr"), 1)).as("n_kept"),
        round(
          count(when(col("u") < col("thr"), 1)).cast("double") /
            first("n_docs"),
          6
        ).as("realized_rate")
      )
      .orderBy("source")
  }

  /** The quota core over any (strata..., doc_id) frame — shared by
    * samp13 and the composed eval-suite funnel (pipe03). */
  private[graft] def exactQuotaCore(
      docs: DataFrame,
      strata: Seq[String],
      k: Int,
      seed: Int
  ): DataFrame = {
    val ranked = docs.select(
      strata.map(col) :+
        col("doc_id") :+
        hashing.md5U32(hashing.seededMd5(col("doc_id"), seed)).as("u"): _*
    )
    ranked
      .groupBy(strata.map(col): _*)
      // heap keeps HIGHEST score: negate so the smallest hash wins
      // (u < 2^32 is exactly representable in the heap's double)
      .agg(graft.plans.TopKByScore(-col("u"), col("doc_id"), k).as("sel"))
      .select(strata.map(col) :+ posexplode(col("sel")).as(Seq("r", "s")): _*)
      .select(
        strata.map(col) :+
          (col("r") + 1).cast("long").as("rank") :+
          col("s.id").as("doc_id") :+
          (-col("s.score")).cast("long").as("u"): _*
      )
  }

  /** samp13: EXACT per-stratum quota sampling — "exactly k docs per
    * language", the fixed-size stratified draw an eval-set or
    * balanced-corpus builder needs (samp01's rate sampling gives
    * binomial-sized strata; here the size is the contract). Rank =
    * the samp08/samp12 seeded md5 integer (no RNG — replayable
    * across engines, retries, and partitionings), selection = the
    * k smallest ranks per stratum, doc_id tiebreak.
    *
    * Scale shape: the k-bounded heap aggregate (TopKByScore, sim08's
    * rationale) — never `ROW_NUMBER over a per-stratum sort`, which
    * sorts each stratum's full candidate slice before discarding all
    * but k (the dominant cost at corpus scale); the exchange carries
    * |strata|·k (id, rank) pairs only. */
  def samp13ExactQuota(lake: Lake, k: Int = 20, seed: Int = 7): DataFrame =
    exactQuotaCore(lake.documents, Seq("lang"), k, seed)
      .orderBy("lang", "rank")

  /** Deterministic stratified sampling: modulo split on the stable id
    * keeps ~30% per language stratum — reproducible across runs and
    * cluster sizes (the property random() sampling lacks at scale). */
  def samp01Stratified(lake: Lake, pct: Int = 30): DataFrame =
    lake.documents
      .filter(pmod(col("doc_id"), lit(100)) < pct)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_sampled"),
        round(avg("n_chars"), 4).as("avg_chars")
      )
      .orderBy("lang")

  /** Source-mixture sampling — pretraining corpus assembly: each
    * source contributes at its own rate (here derived from the
    * source's priority suffix: higher-priority sources keep more).
    * The keep decision is a deterministic modulo on the stable doc id
    * (same property as samp01: reproducible across runs and cluster
    * sizes, no RNG). Map-only scan + small aggregate. */
  def samp02SourceMixture(lake: Lake): DataFrame = {
    val priority = regexp_extract(col("source"), "(\\d+)$", 1).cast("long")
    // 95 - 4p keeps every priority 0..19 at a positive rate (95%..19%)
    // — a steeper slope zeroes out most sources and degenerates the
    // mixture.
    val pct = lit(95) - priority * 4
    val kept = pmod(col("doc_id"), lit(100)) < pct
    lake.documents
      .select(col("doc_id"), col("source"), col("n_chars"), kept.as("kept"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("kept"), 1)).as("n_sampled"),
        round(
          count(when(col("kept"), 1)).cast("double") / count(lit(1)),
          4
        ).as("sample_rate"),
        round(avg(when(col("kept"), col("n_chars"))), 4).as("avg_chars_sampled")
      )
      .orderBy("source")
  }

  /** Gopher-style rule-based quality filter verdict (Rae et al. 2021,
    * §A1.1 simplified to this corpus' lexicon) over any
    * (doc_id, text) frame: token-count bounds, mean-token-length
    * window, symbol-token ratio, minimum distinct stopwords. Emits
    * the signal values, a comma-joined fail-reason list, and the pass
    * verdict — the form a curation pipeline actually materializes
    * (filter + WHY).
    *
    * MAP-ONLY: signals come from higher-order array functions over
    * the token array (size / aggregate / filter / array_intersect),
    * so the operator performs ZERO shuffles — strictly better than
    * the explode+groupBy formulation at any scale, and trivially
    * streamable (append mode, no state). Every rule is integer
    * arithmetic or a single division: bit-stable across engines and
    * cluster sizes. The staged select keeps the token array evaluated
    * once per row (CollapseProject will not inline a multi-referenced
    * alias).
    *
    * `carry` names extra input columns to thread through unchanged —
    * consumers that pair the verdict with another per-doc signal
    * (eval05/eval07's learned score) fuse into THIS one map pass
    * instead of re-scanning the corpus and self-joining on doc_id. */
  def gopherVerdict(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keys = col("doc_id") +: carry.map(col)
    docs
      .select(keys :+ text.tokens(col("text")).as("toks"): _*)
      .select(keys ++ gopherSignals: _*)
      .select(keys ++ Seq(col("n_tokens"), col("n_stop_distinct")) ++ gopherRatios: _*)
      .select(
        keys ++ Seq(
          col("n_tokens"),
          col("mean_tok_len"),
          col("symbol_ratio"),
          col("n_stop_distinct"),
          concat_ws(",", gopherRules.map { case (r, fails) => when(fails, r) }: _*)
            .as("fail_reasons"),
          gopherPasses.as("passes")
        ): _*
      )
  }

  /** The Gopher count signals over a `toks` array column: tokens,
    * summed token length, symbol-only tokens and distinct English
    * stopwords (text.langMarkers("en")). */
  private def gopherSignals: Seq[Column] = Seq(
    size(col("toks")).cast("long").as("n_tokens"),
    expr("aggregate(toks, 0L, (a, t) -> a + length(t))").as("sum_len"),
    expr("size(filter(toks, t -> NOT t rlike '[A-Za-z0-9]'))")
      .cast("long")
      .as("n_symbol"),
    size(array_intersect(
      array_distinct(col("toks")),
      array(text.langMarkers("en").map(lit): _*)
    )).cast("long").as("n_stop_distinct")
  )

  /** The two ratio signals over [[gopherSignals]]' counts. */
  private def gopherRatios: Seq[Column] = Seq(
    round(col("sum_len").cast("double") / col("n_tokens"), 4).as("mean_tok_len"),
    round(col("n_symbol").cast("double") / col("n_tokens"), 4).as("symbol_ratio")
  )

  /** The Gopher rules as (fail reason, fail condition) over the signal
    * columns, in fail_reasons order. */
  private val gopherRules: Seq[(String, Column)] = Seq(
    "too_short" -> (col("n_tokens") < 50),
    "too_long" -> (col("n_tokens") > 100000),
    "mean_len" -> (col("mean_tok_len") < 3 || col("mean_tok_len") > 10),
    "symbol" -> (col("symbol_ratio") >= 0.1),
    "stopword" -> (col("n_stop_distinct") < 2)
  )

  /** A document passes when no rule fails (NULL when a signal is). */
  private val gopherPasses: Column = !gopherRules.map(_._2).reduce(_ || _)

  def txt20GopherFilter(lake: Lake): DataFrame =
    gopherVerdict(lake.documents).orderBy("doc_id")

  /** Temperature-scaled source mixture weights — the standard
    * pretraining rebalance w_i ∝ (n_i/N)^α with α = 0.5 (smaller
    * sources upsampled relative to their natural share). α = 0.5 is
    * computed via sqrt, which is IEEE-correctly-rounded in every
    * engine; the weight is normalized to the LARGEST source (max is
    * order-independent) rather than to Σ√n_i, because a cross-row
    * double sum is addition-order-dependent and would flake the
    * exactness gate — the two normalizations differ by one global
    * constant, so the mixture they induce is identical.
    *
    * Scale: one count-by-source aggregate (map-side combined) + a
    * broadcast of the 2-value totals row. Reference analog: the
    * per-source balancing decisions in materialize_fulltext.py's
    * priority dedup, generalized to the standard temperature form. */
  def samp03TemperatureMixture(lake: Lake): DataFrame = {
    val counts = lake.documents
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val totals = counts.agg(
      sum("n_docs").as("n_total"), // integer sum — exact
      max("n_docs").as("n_max")
    )
    counts
      .crossJoin(broadcast(totals))
      .select(
        col("source"),
        col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6)
          .as("natural_share"),
        round(
          sqrt(col("n_docs").cast("double")) /
            sqrt(col("n_max").cast("double")),
          6
        ).as("temp_weight_rel")
      )
      .orderBy("source")
  }

  /** samp10: per-source EPOCH allocation under a token budget with a
    * repetition cap — the "how many times does each source repeat"
    * table every mixture recipe needs once the budget exceeds the
    * corpus (samp03 computes target SHARES; this turns shares into
    * bounded repeat factors). Targets follow a temperature law
    * (share ∝ tokens^alpha; alpha = 0 — the default — is the uniform
    * domain weighting where small sources upsample hardest and the
    * cap actually binds; alpha = 0.5 is samp03's √-flattening) and
    * are then water-filled: a source may not repeat more than
    * `maxEpochs` times, and budget a capped source cannot absorb
    * redistributes to the still-open sources in proportion to their
    * shares, for a FIXED `rounds` redistribution passes
    * (deterministic, unrollable in the oracle — the emb02
    * fixed-count discipline). The budget scales with the corpus
    * (`budgetEpochs` × total tokens) so the capping regime is
    * exercised identically at every SF.
    *
    * Scale shape: ONE partial-aggregating corpus pass to the
    * per-source token totals; everything after runs on that k-row
    * frame (k = #sources) with 1-row broadcast stats — the
    * water-filling is free at any corpus size. */
  def samp10EpochMixture(
      lake: Lake,
      budgetEpochs: Double = 3.5,
      maxEpochs: Double = 4.0,
      alpha: Double = 0.0,
      rounds: Int = 3
  ): DataFrame = {
    val per = lake.documents
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(
          length(col("text")) -
            length(regexp_replace(col("text"), " ", "")) + 1
        ).cast("long").as("tokens")
      )
    val z = per.agg(
      sum(pow(col("tokens").cast("double"), lit(alpha))).as("z"),
      (lit(budgetEpochs) * sum(col("tokens")).cast("double")).as("b")
    )
    var cur = per
      .crossJoin(broadcast(z))
      .withColumn(
        "share",
        pow(col("tokens").cast("double"), lit(alpha)) / col("z")
      )
      .withColumn("target", col("b") * col("share"))
      .select("source", "n_docs", "tokens", "share", "target", "b")
    for (_ <- 1 to rounds) {
      val epochs = least(lit(maxEpochs), col("target") / col("tokens"))
      val stats = cur.agg(
        sum(epochs * col("tokens")).as("assigned"),
        sum(when(epochs < lit(maxEpochs), col("share")).otherwise(lit(0.0)))
          .as("open_share")
      )
      cur = cur
        .crossJoin(broadcast(stats))
        .withColumn(
          "target",
          when(
            epochs < lit(maxEpochs) && col("open_share") > 0,
            col("target") +
              (col("b") - col("assigned")) * col("share") / col("open_share")
          ).otherwise(col("target"))
        )
        .select("source", "n_docs", "tokens", "share", "target", "b")
    }
    cur
      .select(
        col("source"),
        col("n_docs"),
        col("tokens"),
        round(col("share"), 6).as("share"),
        round(least(lit(maxEpochs), col("target") / col("tokens")), 4)
          .as("epochs"),
        round(
          least(lit(maxEpochs), col("target") / col("tokens")) * col("tokens"),
          2
        ).as("planned_tokens")
      )
      .orderBy("source")
  }

  /** samp11: deterministic INTERLEAVE schedule — the global training
    * order a multi-source loader consumes (samp02/03 decide shares,
    * samp10 decides epochs; this decides SEQUENCE): each source's
    * k-th document gets virtual time k/√n_s (stride scheduling /
    * weighted-fair-queueing finish times under samp03's √-flattening
    * — heavier sources run at proportionally higher rate), and the
    * global order is ascending virtual time with (source, doc_id)
    * tie-breaks — deterministic, replayable, and within any prefix
    * each source's share tracks its weight with bounded lag (the WFQ
    * property, spec-pinned).
    *
    * Scale shape: per-source row_number windows partition on source
    * (data-parallel), the count join broadcasts k rows, and the full
    * schedule needs NO global rank column — it materializes as a
    * sorted write (range-partitioned by vtime), exactly how a shard
    * writer consumes it. The query surface returns the first `takeN`
    * rows where a rank window over the LIMITed frame is bounded. */
  def samp11InterleaveSchedule(lake: Lake, takeN: Int = 200): DataFrame = {
    val perSource = Window.partitionBy("source").orderBy("doc_id")
    val counts = lake.documents.groupBy("source").agg(count(lit(1)).as("n_s"))
    val keyed = lake.documents
      .select("doc_id", "source")
      .withColumn("k", row_number().over(perSource).cast("double"))
      .join(broadcast(counts), "source")
      .withColumn("vtime", col("k") / sqrt(col("n_s").cast("double")))
    val top = keyed
      .orderBy(col("vtime"), col("source"), col("doc_id"))
      .limit(takeN)
    top
      .select(
        row_number()
          .over(Window.orderBy(col("vtime"), col("source"), col("doc_id")))
          .cast("long")
          .as("rank"),
        col("doc_id"),
        col("source"),
        round(col("vtime"), 6).as("vtime")
      )
      .orderBy("rank")
  }

  /** The line-dedup transform keeping the reassembled text —
    * (doc_id, source, lang, n_lines, n_kept, text) — shared by the
    * txt26 gate and the pipe02 funnel. */
  private[graft] def lineDedupedDocs(lake: Lake, minDocs: Int = 3): DataFrame = {
    val planted = concat(
      lit("promo "), col("source"), lit(" banner. "),
      col("text"),
      lit(". copyright footer")
    )
    val base = lake.documents.select(
      col("doc_id"),
      col("source"),
      col("lang"),
      split(planted, "\\. ").as("ls")
    )
    val lines = base.select(
      col("doc_id"),
      posexplode(col("ls")).as(Seq("pos", "line"))
    )
    val frequent = lines
      .groupBy("line")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDocs)
      .select("line")
    val kept = lines
      .join(frequent, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")
          ),
          ". "
        ).as("joined")
      )
    base
      .join(kept, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("source"),
        col("lang"),
        size(col("ls")).cast("long").as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("joined"), lit("")).as("text")
      )
  }

  /** txt26: LINE-level dedup — the RefinedWeb/CCNet stage exact-doc
    * dedup cannot do: a boilerplate sentence repeated across >=
    * `minDocs` distinct documents (headers, navigation, license
    * blurbs) is struck from EVERY document, and each document's
    * remaining lines reassemble in order. Documents whose every line
    * is boilerplate survive as empty — they're txt20's problem, not
    * silently dropped rows.
    *
    * Scale shape: one posexplode (linear in corpus lines), one
    * partial-aggregating distinct-doc-count per line, one anti-join
    * of lines against the frequent set, and per-doc reassembly via
    * array_sort(collect_list(struct(pos, line))) — sorting WITHIN
    * each doc's bounded line list, never a corpus-wide window. At
    * 100 TB key the df index and anti-join on xxhash64(line) instead
    * of the line text (the dedup10 8-byte-shingle move); strings are
    * kept here so the oracle can replay the join verbatim.
    *
    * The synthetic corpus's sentences are all globally unique (every
    * line embeds doc-specific tokens), so boilerplate is PLANTED
    * deterministically — a per-source promo banner (df = source size)
    * and a corpus-wide footer (df = corpus size) — the txt13/txt19
    * move: the gate then exercises strike, survival, and in-order
    * reassembly on every document. */
  def txt26LineDedup(lake: Lake, minDocs: Int = 3): DataFrame =
    lineDedupedDocs(lake, minDocs)
      .select(
        col("doc_id"),
        col("n_lines"),
        col("n_kept"),
        md5(col("text")).as("kept_fp")
      )
      .orderBy("doc_id")

  /** Ingestion text cleaning — the reference's convert-time
    * normalization (convert_fulltext.py:67 clean_text +
    * _clean_unarxive_text:636): strip {{cite:...}}/{{formula:...}}/
    * {{figure:...}}/{{table:...}} markers, collapse runs of
    * spaces/tabs, collapse 3+ newlines to 2, trim. Markers and
    * whitespace artifacts are PLANTED deterministically per doc (the
    * corpus has none) so the gate exercises every rule; output is
    * length before/after + an md5 fingerprint of the cleaned text,
    * not the text itself. Map-only — embarrassingly parallel at any
    * scale. */
  def txt19CleanText(lake: Lake): DataFrame = {
    val raw = concat(
      col("text"),
      lit(" {{cite:c"), col("doc_id"),
      lit("}}  see  fig. {{figure:f"), col("doc_id"),
      lit("}}\n\n\n\ntail {{formula:eq"), col("doc_id"),
      lit("}} end  ")
    )
    val stripped = regexp_replace(
      col("raw"),
      "\\{\\{(cite|formula|figure|table):[^}]*\\}\\}",
      ""
    )
    val spaces = regexp_replace(stripped, "[ \\t]+", " ")
    val clean = trim(regexp_replace(spaces, "\\n{3,}", "\n\n"))
    // Staged selects: `clean` is referenced twice below (length + md5)
    // — materializing it as a named column keeps CollapseProject from
    // inlining (and thus doubling) the three-regex chain per use.
    lake.documents
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"), col("raw"), clean.as("clean"))
      .select(
        col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        length(col("clean")).cast("long").as("n_clean"),
        md5(col("clean")).as("clean_fp")
      )
      .orderBy("doc_id")
  }

  /** Overlapping token-window chunking — the pretraining context-
    * window splitter (chunk size 50 tokens, stride 40). Map-only:
    * one posexplode per doc, chunk text rebuilt via slice +
    * concat_ws; at 100 TB this is the embarrassingly parallel
    * pre-tokenization pass. */
  def txt11DocChunks(lake: Lake, chunkSize: Int = 50, stride: Int = 40): DataFrame = {
    val docs = lake.documents.select(
      col("doc_id"),
      text.tokens(col("text")).as("toks")
    )
    withChunkStarts(docs, stride)
      .withColumn("chunk_toks", slice(col("toks"), col("start") + 1, lit(chunkSize)))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        col("start").cast("long").as("start_token"),
        size(col("chunk_toks")).cast("long").as("chunk_len"),
        md5(concat_ws(" ", col("chunk_toks"))).as("chunk_fp")
      )
      .orderBy("doc_id", "chunk_id")
  }

  /** One row per chunk start — 0, stride, 2·stride, … while start <
    * n_tokens, and one row for a doc with no tokens — over a frame
    * with a `toks` array column, adding `n_tokens` and `start` (txt11
    * and the txt16/pipe01 packing tail). */
  private[graft] def withChunkStarts(docs: DataFrame, stride: Int): DataFrame =
    docs
      .withColumn("n_tokens", size(col("toks")))
      .withColumn(
        "start",
        explode(sequence(lit(0), greatest(col("n_tokens") - 1, lit(0)), lit(stride)))
      )

  /** Sequence packing — the step after chunking (txt11) in a
    * pretraining pipeline: fill fixed-capacity context windows with
    * consecutive chunks and report per-bin fill. Packing is done per
    * source (window partitioned by source, ordered by doc/chunk id),
    * so each shard packs independently and in parallel — a single
    * global ordering would serialize the whole corpus through one
    * partition. Bin assignment is cumulative-sum div capacity: a
    * chunk whose cumsum straddles a boundary opens the next bin (the
    * streaming-packer approximation; bins overshoot by at most one
    * chunk).
    *
    * The body is pipe01's packing tail ([[Pipeline.packCorpus]]) over
    * every document: its cumsum window partitions by (source, shard)
    * with shard = doc_id div shardSize, so no window task holds more
    * than shardSize docs of one source, and (source, shard, bin_id) is
    * the packed-sequence key. The token array is materialized before
    * packCorpus sizes it, so the tokenizer runs once per row. */
  def txt16SequencePacking(
      lake: Lake,
      chunkSize: Int = 50,
      stride: Int = 40,
      capacity: Int = 512,
      shardSize: Int = 200
  ): DataFrame =
    Pipeline.packCorpus(
      lake.documents
        .select(col("doc_id"), col("source"), text.tokens(col("text")).as("toks")),
      chunkSize, stride, capacity, shardSize
    )

  /** Whitespace + BPE-ish regex token counts (letter runs, digit
    * runs, single punctuation — the pre-BPE pretokenizer shape). */
  def txt12BpeTokens(lake: Lake): DataFrame = {
    // regexp_count, not size(regexp_extract_all(...)): the count needs
    // no materialized array of every token (one fewer allocation pass
    // over the whole corpus).
    val bpe = regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
    // Two-stage projection: counts once, ratio from the count
    // attributes — one select would evaluate the regex scan and the
    // whitespace split twice per row.
    lake.documents
      .select(
        col("doc_id"),
        text.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
        bpe.cast("long").as("n_bpe_tokens")
      )
      .select(
        col("doc_id"),
        col("n_ws_tokens"),
        col("n_bpe_tokens"),
        round(
          col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double"),
          4
        ).as("bpe_per_word")
      )
      .orderBy("doc_id")
  }

  /** Learn a BPE merge table + vocab from a bounded corpus sample —
    * the driver-side half of txt18. Word counts are aggregated
    * distributed and only the top `maxWords` distinct words are
    * collected (a bounded table at any corpus size); merge learning
    * runs driver-side on that table, exactly how production
    * tokenizers are trained (on a sample, once, then shipped). */
  def learnBpe(
      lake: Lake,
      sampleDocs: Int = 200,
      maxWords: Int = 2000,
      numMerges: Int = 200
  ): (Map[(String, String), Int], Map[String, Int]) = {
    import graft.functions.Bpe
    val wc = lake.documents
      .filter(col("doc_id") < sampleDocs)
      .select(explode(text.tokens(lower(col("text")))).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    val merges = Bpe.learnMerges(wc, numMerges)
    (merges.zipWithIndex.toMap, Bpe.vocab(wc, merges))
  }

  /** Real subword tokenization — greedy BPE merge application with
    * dense token IDS (what txt12's pretokenizer stats stop short of;
    * a pretraining pipeline feeds models ids, not counts).
    * [rows-only: learned merge tables are not SQL-expressible]
    *
    * Scale shape: the learned (ranks, vocab) table is a broadcast of
    * a few hundred KB; encoding is mapPartitions with a per-partition
    * word->ids memo (corpora repeat words heavily — the memo turns
    * per-token merge loops into hash lookups). Map-only over the
    * corpus: no shuffle at any size. Symbols outside the learned
    * vocab emit id -1 (counted per doc in n_unk). */
  def txt18BpeEncode(
      lake: Lake,
      sampleDocs: Int = 200,
      maxWords: Int = 2000,
      numMerges: Int = 200
  ): DataFrame = {
    import graft.functions.Bpe
    val spark = lake.spark
    import spark.implicits._
    val (ranks, voc) = learnBpe(lake, sampleDocs, maxWords, numMerges)
    val bc = spark.sparkContext.broadcast((ranks, voc))
    lake.documents
      .select(col("doc_id"), text.tokens(lower(col("text"))).as("ws"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val (rk, vc) = bc.value
        val memo = collection.mutable.Map[String, Array[Int]]()
        it.map { case (id, ws) =>
          val ids = ws.iterator.flatMap { w =>
            memo.getOrElseUpdate(
              w,
              Bpe.encodeWord(w, rk).map(s => vc.getOrElse(s, -1)).toArray
            )
          }.toArray
          (id, ids, ids.length.toLong, ids.count(_ < 0).toLong)
        }
      }
      .toDF("doc_id", "token_ids", "n_tokens", "n_unk")
      .orderBy("doc_id")
  }

  /** Fuzzy label linkage via the native JaroWinkler expression: each
    * probe (misspelled label) matched to its best part name above a
    * 0.7 threshold — the reference's Jaro-Winkler linkage baseline
    * (run_baseline_comparisons.py:297, keep-best-per-group). */
  val jwProbes: Seq[String] =
    Seq("cold widgets", "big bolt", "smal widget", "larje nut", "shiny gear")

  def txt10JaroWinkler(lake: Lake, threshold: Double = 0.7): DataFrame = {
    val probes = lake.spark
      .createDataFrame(jwProbes.map(Tuple1(_)))
      .toDF("probe")
    val w = Window
      .partitionBy("probe")
      .orderBy(col("score_raw").desc, col("p_partkey"))
    lake.part
      .select(col("p_partkey"), col("p_name"))
      .crossJoin(broadcast(probes))
      .withColumn("score_raw", graft.plans.JaroWinkler(col("probe"), col("p_name")))
      .filter(col("score_raw") >= threshold)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(
        col("probe"),
        col("p_partkey"),
        col("p_name").as("best_match"),
        round(col("score_raw"), 4).as("score")
      )
      .orderBy("probe")
  }

  /** Repetition scoring — the Gopher-style quality signal: fraction
    * of a document's bigrams taken by its single most frequent bigram
    * (repetitive boilerplate scores high, natural text low).
    *
    * MAP-ONLY: every output column is a per-row function of the token
    * array — total bigrams = len-1, and the max bigram count comes
    * from the native one-pass [[graft.plans.TopBigramCount]]
    * expression (the txt24 panel's kernel). The previous shape
    * exploded the raw bigram stream (corpus-tokens rows) through two
    * shuffled aggregations to recompute those same two numbers; at
    * sf1 that measured 1.94 s vs 0.12 s for this scan-shaped plan.
    * Docs with fewer than two tokens have no bigrams and are
    * excluded, exactly as the explode formulation dropped them. */
  def txt14Repetition(lake: Lake): DataFrame =
    lake.documents
      .select(col("doc_id"), text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(
        col("doc_id"),
        (size(col("toks")) - 1).cast("long").as("n_bigrams"),
        graft.plans.TopBigramCount(col("toks")).as("top_bigram_n")
      )
      .withColumn(
        "top_bigram_frac",
        round(col("top_bigram_n").cast("double") / col("n_bigrams"), 4)
      )
      .orderBy("doc_id")

  /** Unigram log-probability scoring — the CCNet-style perplexity
    * proxy: score each document by the mean negative log corpus
    * probability of its tokens (gibberish and rare-token soup score
    * high, plain prose low).
    *
    * Two linear passes, ZERO token-stream exchanges (txt25's buckets
    * inherit it): pass 1 trains the vocabulary-sized model with one
    * tokenize + partial-aggregating groupBy(w); pass 2 scores every
    * document map-side with the native [[graft.plans.UnigramModelScore]]
    * fold against the broadcast model — no token explode, no
    * repartition-by-word, no model join, no groupBy(doc_id). (Shape
    * history at sf1: round-7 stream-consumed-twice 1.55 s; round-9
    * one-exchange join 0.94-1.16 s; this form deletes the exchanges
    * entirely.) */
  private[graft] def unigramScores(
      lake: Lake,
      maxModel: Int = 1000000
  ): DataFrame = {
    val vocab = lake.documents
      .select(explode(graft.plans.TokenCounts(col("text"))).as(Seq("w", "n")))
      .groupBy("w")
      .agg(sum("n").as("c"))
    vocabModelScores(lake, vocab, Seq(sum("c")), maxModel, "avg_neg_logp") {
      (r, t) => -math.log(r.getLong(1).toDouble / t(0))
    }
  }

  /** The capped vocabulary model of the unigram family (txt15, txt21,
    * txt25): build once from a (w, c, ...) count table, score every
    * document with [[graft.plans.UnigramModelScore]], and emit
    * (doc_id, n_tokens, `scoreAs` = round(Σ weight / n_tokens, 4)).
    * `totals` are full-vocabulary long aggregates over the table, read
    * NULL-safe (an empty table sums to 0); `weight` maps a count row
    * and those totals to the word's score.
    *
    * Pass 1 — train: the vocab-sized count table is materialized ONCE
    * (localCheckpoint) and feeds two bounded jobs: the exact
    * full-vocabulary totals, and the top-`maxModel`-by-count collect
    * (count desc, w). The driver never holds more than `maxModel` rows
    * — the BPE-maxWords / dedup04-maxBucket discipline applied to the
    * model build. Below the cap the collected set IS the full
    * vocabulary and every number is bit-identical to the uncapped form
    * (long sums are exact in any order). Above the cap the
    * DROPPED-TAIL RULE is: the weights of retained words still use the
    * full-corpus totals (capping never inflates probabilities), and a
    * token outside the top-K contributes to NEITHER n_tokens nor the
    * sum — the UnigramModelScore missing-key semantics, so rare-tail
    * tokens simply stop voting instead of skewing the mean. (Spec:
    * "unigram model cap" in TextSelectionSpec.) Default 1M entries
    * (CCNet's own vocabulary scale): a broadcast Map[String,Double]
    * costs ~50-100 B/entry, so 1M keeps the model ~50-100 MB on the
    * driver and every executor. Raise it per call when a corpus
    * genuinely needs a longer head.
    *
    * Pass 2 — score: ONE map-only scan; the native fold deletes the
    * token explode, the repartition-by-word, the checkpoint, the
    * model join and the groupBy(doc_id) of a join formulation.
    * n_tokens > 0 keeps the fused form row-equal to that join (which
    * dropped a doc none of whose tokens matched). The returned frame
    * holds the broadcast by reference; Spark's ContextCleaner frees it
    * once the frame is unreachable, and it holds at most `maxModel`
    * entries. */
  private def vocabModelScores(
      lake: Lake,
      vocab: DataFrame,
      totals: Seq[Column],
      maxModel: Int,
      scoreAs: String
  )(weight: (Row, IndexedSeq[Double]) => Double): DataFrame = {
    val cdf = vocab.localCheckpoint(false)
    val tot = cdf.agg(totals.head, totals.tail: _*).head()
    val t = totals.indices.map(i => if (tot.isNullAt(i)) 0.0 else tot.getLong(i).toDouble)
    val model = cdf
      .orderBy(col("c").desc, col("w"))
      .limit(maxModel)
      .collect()
      .map(r => r.getString(0) -> weight(r, t))
      .toMap
    val b = lake.spark.sparkContext.broadcast(model)
    lake.documents
      .select(col("doc_id"), graft.plans.UnigramModelScore(col("text"), b).as("u"))
      .filter(col("u.n_tokens") > 0)
      .select(
        col("doc_id"),
        col("u.n_tokens").as("n_tokens"),
        round(col("u.s") / col("u.n_tokens"), 4).as(scoreAs)
      )
  }

  /** Public ordered entry; txt25 composes over the unordered
    * [[unigramScores]] — the corpus-sized presentation sort would
    * otherwise survive inside the bucketing funnel. */
  def txt15UnigramLogprob(lake: Lake, maxModel: Int = 1000000): DataFrame =
    unigramScores(lake, maxModel).orderBy("doc_id")

  /** txt25: CCNet-style perplexity partitioning — per language, split
    * the corpus into head/middle/tail by terciles of the txt15
    * perplexity proxy (head = most-fluent third). This is the CCNet
    * paper's defining move (Wenzek et al. 2020: per-language LM score
    * terciles, with head/middle kept for pretraining), and the
    * selection knob most LLM corpora still ship with.
    *
    * Scale shape: scoring is txt15's two linear passes; the cutpoint
    * table is |langs| rows (exact interpolated terciles of the
    * ROUNDED score so both engines bucket identically), broadcast
    * back for a map-side bucket assignment; the report reduces to
    * |langs|·3 rows with partial aggregation. The exact per-lang
    * percentile buffers one language's scores on a reducer; it is the
    * cutpoint rule the oracle replays. */
  def txt25CcnetBuckets(lake: Lake): DataFrame = {
    val scored = unigramScores(lake)
      .join(lake.documents.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang"), col("avg_neg_logp").as("s"))
    val cuts = scored
      .groupBy("lang")
      .agg(
        round(expr("percentile(s, 0.33333333)"), 4).as("c1"),
        round(expr("percentile(s, 0.66666667)"), 4).as("c2")
      )
    scored
      .join(broadcast(cuts), "lang")
      .withColumn(
        "bucket",
        when(col("s") <= col("c1"), "head")
          .when(col("s") <= col("c2"), "middle")
          .otherwise("tail")
      )
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("s"), 4).as("avg_neg_logp"),
        round(min("s"), 4).as("min_s"),
        round(max("s"), 4).as("max_s")
      )
      .orderBy("lang", "bucket")
  }

  /** PII detection + redaction — the scrub pass every training-data
    * pipeline runs before a corpus ships. The testdata corpus carries
    * no PII, so the operator first plants deterministic synthetic
    * contacts (email + phone derived from doc_id), then detects and
    * redacts them — exercising the real regex machinery end-to-end
    * with an oracle-checkable result (counts + redacted-text
    * fingerprint must match DuckDB running the same patterns).
    * Map-only per document; at 100 TB this is an embarrassingly
    * parallel scan with no shuffle until the final dump. */
  def txt13PiiRedaction(lake: Lake): DataFrame = {
    val emailPat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phonePat = "555-[0-9]+"
    val planted = concat(
      col("text"),
      lit(" contact user"),
      col("doc_id"),
      lit("@example.com or 555-"),
      col("doc_id")
    )
    lake.documents
      .select(col("doc_id"), planted.as("raw"))
      .select(
        col("doc_id"),
        regexp_count(col("raw"), lit(emailPat)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(phonePat)).cast("long").as("n_phones"),
        regexp_replace(
          regexp_replace(col("raw"), emailPat, "[EMAIL]"),
          phonePat,
          "[PHONE]"
        ).as("redacted")
      )
      .select(
        col("doc_id"),
        col("n_emails"),
        col("n_phones"),
        length(col("redacted")).cast("long").as("redacted_len"),
        md5(col("redacted")).as("redacted_fp")
      )
      .orderBy("doc_id")
  }

  /** txt24: the full per-document curation panel in ONE map-only scan
    * — every signal a filtering pass consults (Gopher token stats,
    * language-ID vote, repetition, the pass verdict) computed together
    * with ZERO exchanges, the way a production pass actually runs at
    * corpus scale: signals per scan, not scans per signal (txt01/02/
    * 14/20 each re-read the corpus; this reads it once).
    *
    * The repetition signal (top-bigram fraction) is computed per row
    * from the bigram array (distinct × occurrences count scan) rather
    * than txt14's explode + groupBy: O(L²) string compares per doc in
    * the worst case — the deliberate trade of per-row work bounded by
    * document length for the removal of the one shuffle txt14 needs.
    * Right for bounded-length docs (every pretraining corpus after
    * chunking); for unbounded docs use txt14.
    *
    * Staged selects keep each multi-referenced array (toks, bgs) an
    * attribute, never an inline expression — an expression referenced
    * from N lambda positions re-evaluates N× per row (the element_at
    * trap), and a bigram array rebuilt per distinct-bigram would be
    * O(L³). */
  def txt24QualityPanel(lake: Lake): DataFrame =
    qualityPanel(lake.documents).orderBy("doc_id")

  /** The map-only panel over any (doc_id, text) frame — exchange-free
    * (plan-pinned) and therefore streamable in append mode, exactly
    * like gopherVerdict. The repetition kernel is the fused
    * `TopBigramCount` expression: one O(L) pass with a per-row count
    * map, replacing the O(L²) distinct×rescan array formulation
    * (panel 3.2 s -> ~1 s at sf0.1; value-identical, pinned by the
    * panel==txt14 spec and the unchanged oracle). */
  def qualityPanel(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), text.tokens(col("text")).as("toks"))
      .select(
        Seq(
          col("doc_id"),
          col("toks"),
          greatest(size(col("toks")) - 1, lit(0)).cast("long").as("m_bigrams"),
          graft.plans.TopBigramCount(col("toks")).as("top_bg")
        ) ++ gopherSignals ++
          markerCounts(l => size(filter(col("toks"), _.isin(text.langMarkers(l): _*)))): _*
      )
      .select(
        Seq(col("doc_id"), col("n_tokens")) ++ gopherRatios ++ Seq(
          col("n_stop_distinct"),
          langVote.as("pred_lang"),
          col("m_bigrams").as("n_bigrams"),
          when(
            col("m_bigrams") > 0,
            round(col("top_bg").cast("double") / col("m_bigrams"), 4)
          ).otherwise(0.0).as("top_bigram_frac")
        ): _*
      )
      .withColumn("passes", gopherPasses)

  /** rep01: the per-source corpus report card — the aggregate view a
    * curation run publishes (coverage_stats generalized from presence
    * flags to quality signals): document counts, quality pass rate,
    * language mix agreement, repetition and length averages, per
    * source. One map-only panel scan + one |sources|-row aggregate;
    * the label join is a broadcast of (doc_id, source, lang) pruned
    * columns. */
  def rep01CorpusReport(lake: Lake): DataFrame =
    qualityPanel(lake.documents)
      .join(lake.documents.select("doc_id", "source", "lang"), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("passes"), 1)).as("n_pass"),
        round(count(when(col("passes"), 1)).cast("double") / count(lit(1)), 4)
          .as("pass_rate"),
        count(when(col("pred_lang") === col("lang"), 1)).as("n_lang_agree"),
        round(avg("top_bigram_frac"), 4).as("avg_repetition"),
        round(avg("mean_tok_len"), 4).as("avg_tok_len"),
        round(avg(col("n_tokens").cast("double")), 4).as("avg_tokens")
      )
      .orderBy("source")

  /** Bigram-LM perplexity proxy with Jelinek-Mercer interpolation —
    * one step closer to CCNet's actual KenLM filter than txt15's
    * unigram: per-doc avg of -ln( λ·p(w|prev) + (1-λ)·p(w) ), where
    * both models are corpus-estimated. Low scores = fluent/typical
    * text, high = disfluent or out-of-domain; the interpolation keeps
    * unseen bigrams finite without discounting machinery.
    *
    * Scale shape = txt15's two-pass native-kernel form, extended to
    * pairs. Pass 1 — train: one tokenize scan folds per-doc DISTINCT
    * (prev, w) pair counts row-side ([[graft.plans.BigramCounts]];
    * each doc's first token rides along as a (null, w) pair), one
    * groupBy builds the bigram count table, and every marginal
    * DERIVES from it: c(prev) = Σ_w, c(w) = Σ_prev (the null-prev
    * rows supply the first-token remainder, so c_uni is the true
    * unigram count), t = Σ c_uni — vocab-table aggregates, never a
    * second corpus pass. -ln(p) is computed once per DISTINCT bigram
    * in the marginals join, and the driver collects only the
    * top-`maxModel` pairs by count (txt15's cap discipline: exact
    * full-corpus marginals, bit-identical below the cap, tail pairs
    * stop voting above it). Pass 2 — score: ONE map-only scan folds
    * each document against the broadcast model
    * ([[graft.plans.BigramModelScore]]) — no token-stream exchange,
    * no model join, no groupBy(doc_id) anywhere in the plan. (Shape
    * history at sf1: round-7 three-join 4.7 s; round-9 one-exchange
    * checkpoint + shuffle-hash join 2.96 s; this form deletes the
    * stream exchanges entirely — the only shuffled rows are the
    * pair-count table itself.) */
  def txt23BigramLogprob(
      lake: Lake,
      lambda: Double = 0.7,
      maxModel: Int = 1000000
  ): DataFrame = {
    val cbig = lake.documents
      .select(explode(graft.plans.BigramCounts(col("text"))).as("pw"))
      .select(col("pw.prev").as("prev"), col("pw.w").as("w"), col("pw.n").as("n"))
      .groupBy("prev", "w")
      .agg(sum("n").as("c_big"))
      .localCheckpoint(false)
    val cprev = cbig
      .filter(col("prev").isNotNull)
      .groupBy("prev")
      .agg(sum("c_big").as("c_prev"))
    val cuni = cbig
      .groupBy("w")
      .agg(sum("c_big").as("c_uni"))
    val total = cuni.agg(sum("c_uni").cast("double").as("t_uni"))
    // Both engines must form the complement as the SAME IEEE
    // subtraction (1.0 - 0.7 = 0.30000000000000004): writing the
    // decimal literal 0.3 in the oracle (a different double) flips
    // the last bit against the gate.
    val p =
      lit(lambda) * (col("c_big").cast("double") / col("c_prev").cast("double")) +
        (lit(1.0) - lit(lambda)) * (col("c_uni").cast("double") / col("t_uni"))
    // The model is built DISTRIBUTED (the three marginals meet each
    // other, never any corpus stream) and the per-bigram score is
    // evaluated there, once per distinct bigram with the same Column
    // arithmetic as before; only the top-maxModel rows reach the
    // driver (deterministic tiebreak on (count desc, prev, w)).
    val model = cbig
      .filter(col("prev").isNotNull)
      .join(cprev, Seq("prev"))
      .join(cuni, Seq("w"))
      .crossJoin(broadcast(total))
      .select(col("prev"), col("w"), col("c_big"), (-log(p)).as("neg_logp"))
      .orderBy(col("c_big").desc, col("prev"), col("w"))
      .limit(maxModel)
      .collect()
    val nested: Map[String, Map[String, Double]] = model
      .groupBy(_.getString(0))
      .map { case (prev, rows) =>
        prev -> rows.map(r => r.getString(1) -> r.getDouble(3)).toMap
      }
    val b = lake.spark.sparkContext.broadcast(nested)
    // Docs whose every adjacent pair fell outside the model (only
    // possible under a biting cap, or with fewer than two tokens)
    // drop — the inner-join semantics of the formulation this fuses.
    lake.documents
      .select(col("doc_id"), graft.plans.BigramModelScore(col("text"), b).as("u"))
      .filter(col("u.n_bigrams") > 0)
      .select(
        col("doc_id"),
        col("u.n_bigrams").as("n_bigrams"),
        round(col("u.s") / col("u.n_bigrams"), 4).as("avg_neg_logp2")
      )
      .orderBy("doc_id")
  }

  /** Boilerplate detection — the CCNet/C4-style pass that flags text
    * repeated ACROSS documents (license headers, navigation chrome,
    * template sentences): a document's boilerplate fraction is the
    * share of its distinct 10-token windows that appear in at least
    * `minDocs` documents. Duplicated and templated docs score near 1,
    * organic text near 0 — the complement of dedup03's pair view, as
    * a per-document signal.
    *
    * Scale: the fused ShingleHashes expression emits sorted distinct
    * 8-byte window hashes in one pass (no string shingle
    * materialization); document frequency is one hash-groupBy over
    * the inverted index; the verdict joins each doc's hashes back to
    * that df table and aggregates — txt09's linear shape, never
    * pairwise. (64-bit hashing stands in for the window text on both
    * sides of the gate, the same collision exposure dedup03 accepts.) */
  def txt22Boilerplate(lake: Lake, minDocs: Int = 3): DataFrame = {
    val sh = lake.documents
      .select(
        col("doc_id"),
        explode(graft.plans.ShingleHashes(col("text"), 10)).as("h")
      )
      .localCheckpoint(false)
    val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val perDoc = sh
      .join(df, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        count(when(col("df") >= minDocs, 1)).as("n_boiler")
      )
    lake.documents
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        coalesce(
          round(col("n_boiler").cast("double") / col("n_windows"), 4),
          lit(0.0)
        ).as("boiler_frac")
      )
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights for target-domain data selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every raw document by how much
    * more likely its tokens are under a target-domain unigram model
    * than under the raw-corpus model, avg_llr = avg over tokens of
    * ln p_target(w) - ln p_raw(w). Docs resembling the target domain
    * score high; selection is then top-k / gumbel resampling on this
    * column. The target here is the `src0` slice (a realistically
    * thin 5% of the corpus); p_target is add-one smoothed over the
    * corpus vocabulary so unseen-in-target words keep finite weights,
    * p_raw needs no smoothing (every scored token is in the corpus by
    * construction).
    *
    * Scale shape = txt15's ([[vocabModelScores]]): ONE tokenize pass
    * builds the vocabulary table with BOTH counts in a single groupBy
    * (the target count is a conditional aggregate, not a second
    * pass), the per-word log-likelihood ratio is computed once per
    * distinct word on the driver from the exact full-vocabulary totals
    * (both token sums AND the smoothing denominator's vocab size), and
    * scoring is one map-only fold against the broadcast model — zero
    * token-stream exchanges. Above the cap the dropped tail keeps the
    * smoothing arithmetic unchanged while tail tokens stop
    * contributing to either n_tokens or the LLR sum. */
  def txt21DsirImportance(
      lake: Lake,
      targetSource: String = "src0",
      maxModel: Int = 1000000
  ): DataFrame = {
    val vocab = lake.documents
      .select(
        (col("source") === targetSource).as("is_tgt"),
        explode(graft.plans.TokenCounts(col("text"))).as(Seq("w", "n"))
      )
      .groupBy("w")
      .agg(
        sum("n").as("c"),
        sum(when(col("is_tgt"), col("n")).otherwise(0L)).as("c_tgt")
      )
    vocabModelScores(
      lake, vocab, Seq(sum("c"), sum("c_tgt"), count(lit(1))), maxModel, "avg_llr"
    ) { (r, t) =>
      val Seq(tRaw, tTgt, nVocab) = t
      math.log((r.getLong(2).toDouble + 1.0) / (tTgt + nVocab)) -
        math.log(r.getLong(1).toDouble / tRaw)
    }.orderBy("doc_id")
  }

  /** txt27: per-document CHARACTER-ENTROPY quality signal — code-point
    * count, distinct code points, Shannon entropy in bits/char. Low
    * entropy flags keyboard mash, repeated-filler, and
    * single-character-run junk the token-level Gopher rules (txt20)
    * don't see; it complements txt14's bigram repetition at the
    * character level.
    *
    * Scale shape: one map-side `CharInfo` pass per row (alphabet-sized
    * count map, no per-character explode/shuffle — the declarative
    * form would push every corpus CHARACTER through an exchange); the
    * operator stays embarrassingly parallel at any corpus size. */
  def txt27CharEntropy(lake: Lake): DataFrame =
    lake.documents
      .select(col("doc_id"), graft.plans.CharInfo(col("text")).as("ci"))
      .select(
        col("doc_id"),
        col("ci.n_cp").as("n_cp"),
        col("ci.n_uniq").as("n_uniq"),
        round(col("ci.entropy"), 4).as("char_entropy")
      )
      .orderBy("doc_id")

  /** txt28: N-GRAM NOVELTY in corpus order — for each document, the
    * fraction of its k-token windows whose FIRST corpus occurrence is
    * in an earlier document (by doc id = arrival order). The
    * incremental-crawl curation signal: a re-crawled page scores near
    * 1.0 repeated, fresh writing near 0.0, template-with-new-content
    * in between — the graded companion to dedup13's binary spans and
    * dedup12's keep/drop verdicts.
    *
    * Scale shape: one ShingleHashSeq pass (linear), one
    * partial-aggregating min(doc_id) per window hash (the frequency
    * index shape again — df rows per window, never df²), one
    * broadcast-free equi-join back, one per-doc aggregate. A window
    * repeated WITHIN its first document counts as novel there (the
    * global first occurrence is that document) and repeated
    * everywhere later. */
  def txt28NgramNovelty(lake: Lake, k: Int = 8): DataFrame = {
    // one-exchange discipline (txt15): the window-hash stream feeds
    // the first-seen aggregation AND the verdict join, both keyed on
    // gh — partition once, checkpoint, reuse
    val grams = lake.documents
      .select(
        col("doc_id"),
        explode(graft.plans.ShingleHashSeq(col("text"), k)).as("gh")
      )
      .repartition(col("gh"))
      .localCheckpoint(false)
    val firstSeen = grams
      .groupBy("gh")
      .agg(min("doc_id").as("first_doc"))
    // shuffle_hash on the aggregated side: the checkpointed stream
    // has no size stats and the planner otherwise auto-broadcasts the
    // corpus-window stream itself (the txt15/txt23 trap)
    grams
      .join(firstSeen.hint("shuffle_hash"), Seq("gh"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_repeated")
      )
      .select(
        col("doc_id"),
        col("n_windows"),
        col("n_repeated"),
        round(col("n_repeated").cast("double") / col("n_windows"), 4)
          .as("repeated_frac")
      )
      .orderBy("doc_id")
  }

  /** txt29: MODEL-BASED quality scoring — a linear text classifier over
    * hashing-trick features, the fastText shape behind CCNet's language
    * filter and DCLM's quality filter (Joulin et al. 2016,
    * arXiv:1607.01759; reference analog: the materialize-stage quality
    * gates). Features are unigrams + consecutive bigrams of the
    * lowercased token stream, hashed into a `dim`-bucket weight vector
    * (no vocabulary — the hashing trick is what makes the model
    * broadcastable at any corpus size); the document score is the mean
    * bucket weight, `keep` its sign.
    *
    * The weight VECTOR here is a deterministic stub — bucket j's weight
    * is a Knuth multiplicative mix of j mapped into [-1, 1] at
    * milli granularity — standing in for learned parameters exactly
    * like emb01's hash-projection embedder: the plumbing (feature
    * hashing, bucket lookup, mean pooling, sign gate) is the real,
    * tested contract; swapping in trained weights is a broadcast-map
    * change. ONE md5 per feature (the cross-engine hash; a second
    * md5 for the weight measured +1 s at sf0.1 for no modeling
    * content); integer milli-weights are summed (order-independent,
    * no float associativity hazard) and divided once at the end.
    *
    * Scale shape: map-only — tokenize, hash, and fold happen inside
    * one fused `WeightedClassifierScore` pass per row over the stub
    * vector (no explode, no shuffle, no per-row feature-array
    * materialization — the Column-graph formulation was measured 2.5×
    * slower on the intermediate arrays alone); the dim-entry vector
    * ships with the task binary, so there is not even a broadcast.
    * Linear in corpus tokens, embarrassingly parallel. */
  def txt29ModelQuality(lake: Lake, dim: Int = 4096): DataFrame =
    classifierQuality(lake, graft.plans.HashedClassifierScore(col("text"), dim))

  /** The mean milli-weight of a classifier fold's `m` struct
    * (n_feats, s_milli), as txt29/txt30 and eval05/eval07 score it. */
  private[graft] val qScore: Column =
    round(col("m.s_milli") / 1000.0 / col("m.n_feats"), 4).as("q_score")

  /** txt29's output shape (doc_id, n_feats, q_score, keep) for a
    * classifier fold over the documents' text. */
  private def classifierQuality(lake: Lake, fold: Column): DataFrame =
    lake.documents
      .select(col("doc_id"), fold.as("m"))
      .select(col("doc_id"), col("m.n_feats").as("n_feats"), qScore)
      .withColumn("keep", col("q_score") > 0)
      .orderBy("doc_id")

  /** txt30: the TRAINER that closes txt29's stub contract — a
    * deterministic distributed learn of the hashed classifier's
    * weight vector from txt20's Gopher verdicts as labels (the
    * standard bootstrap: a rule pipeline labels a corpus, a cheap
    * linear model distills it — DCLM/CCNet's fastText recipe,
    * Joulin et al. 2016). Closed-form multinomial Naive Bayes
    * log-odds per bucket with add-one smoothing:
    *
    *   w_j = ln((n_keep_j + 1)/(t_keep + dim))
    *       − ln((n_drop_j + 1)/(t_drop + dim))
    *
    * emitted as INTEGER MILLI-WEIGHTS — exactly the units txt29's
    * fused scorer sums, so the trained vector is a drop-in for the
    * stub (WeightedClassifierScore / txt30TrainedScores below).
    * Closed-form NB (not iterative LR) is what makes the train
    * CTE-replayable without unrolling: one counting pass, one
    * per-bucket transform — the oracle replays it exactly (ln is a
    * per-value function of a rational, no cross-row float-
    * associativity hazard; the one rounding is the final milli
    * integer).
    *
    * Scale shape: label + features FUSE into one map pass over the
    * corpus (gopherVerdict's expression verdict rides the same
    * projection as the HashedFeatureBuckets explode); the groupBy
    * collapses map-side to <= dim buckets per task, so the exchange
    * carries <= P·dim narrow rows no matter the corpus size; totals
    * are a 1-row broadcast. Output <= dim rows (observed buckets
    * only — unobserved buckets are implicitly weight 0). */
  def txt30QualityTrainer(lake: Lake, dim: Int = 4096): DataFrame = {
    val labeled = gopherVerdict(lake.documents, carry = Seq("text"))
      .select(col("passes"), col("text"))
    val fb = labeled.select(
      col("passes"),
      explode(graft.plans.HashedFeatureBuckets(col("text"), dim)).as("bucket")
    )
    val counts = fb
      .groupBy("bucket")
      .agg(
        sum(when(col("passes"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(!col("passes"), 1L).otherwise(0L)).as("n_drop")
      )
    val totals = counts.agg(
      sum("n_keep").as("t_keep"),
      sum("n_drop").as("t_drop")
    )
    counts
      .crossJoin(broadcast(totals))
      .select(
        col("bucket"),
        col("n_keep"),
        col("n_drop"),
        // log(a) - log(b), each of a rational — mirrored term for
        // term in the oracle so the doubles agree to the ulp before
        // the single milli rounding
        round(
          lit(1000.0) * (
            log(
              (col("n_keep") + 1).cast("double") /
                (col("t_keep") + dim).cast("double")
            ) - log(
              (col("n_drop") + 1).cast("double") /
                (col("t_drop") + dim).cast("double")
            )
          )
        ).cast("long").as("w_milli")
      )
      .orderBy("bucket")
  }

  /** Score the corpus with txt30's TRAINED weights — txt29's exact
    * output shape (doc_id, n_feats, q_score, keep) with the learned
    * vector in place of the md5 stub. The weight fetch is a bounded
    * model learn (<= dim = 4096 rows collected — the txt15/txt23
    * documented-cap discipline); the dense vector then rides the
    * fused WeightedClassifierScore fold, so serving stays map-only,
    * zero shuffle, zero join — the broadcast-map swap txt29's
    * scaladoc promised. */
  def txt30TrainedScores(lake: Lake, dim: Int = 4096): DataFrame = {
    val weights = new Array[Long](dim)
    txt30QualityTrainer(lake, dim)
      .select(col("bucket"), col("w_milli"))
      .collect()
      .foreach(r => weights(r.getLong(0).toInt) = r.getLong(1))
    classifierQuality(
      lake,
      graft.plans.WeightedClassifierScore(col("text"), dim, weights)
    )
  }
}
