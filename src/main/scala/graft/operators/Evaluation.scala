package graft.operators

import graft.catalog.Lake
import graft.functions.text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Linkage-quality evaluation — the reference's alignment scoring
  * (evaluate_ontology_alignment.py:49-69: `generate_sample` draws a
  * BOUNDED stratified sample of predicted pairs by similarity band
  * before any scoring; :216 compute_metrics: precision/recall/F1
  * against a gold set per stratum).
  *
  * Scale notes: the predicted pair set comes from the dedup03 shingle
  * inverted index WITH its length blocking intact (finite lenWindow —
  * the r2 escape hatch that disabled blocking is gone from the
  * default path), the per-stratum sample is bounded at `perStratum`
  * rows regardless of corpus size, the TP check is a narrow
  * (doc_a, doc_b) left join, and the metric aggregation reduces to
  * |strata| rows with map-side partial aggregation. The only
  * corpus-sized work is the blocked candidate join itself — the same
  * shape dedup03 runs — so the evaluation costs what one blocked
  * near-dup pass costs, not sum(df^2) over an unblocked index.
  */
object Evaluation {

  /** Precision / recall / F1 of a near-dup linkage (word-trigram
    * Jaccard >= threshold, the dedup03 machinery) against a gold set
    * (exact bag-of-words duplicate pairs, the dedup01 fingerprint),
    * stratified by predicted-similarity band and evaluated over a
    * deterministic bounded sample per stratum.
    *
    * Sampling: pairs are ordered inside each stratum by a
    * multiplicative hash of (doc_a, doc_b) — a seedless deterministic
    * shuffle both engines compute identically — and the first
    * `perStratum` kept (the reference's bounded annotation set,
    * evaluate_ontology_alignment.py:69). Precision is the unbiased
    * sample estimate; recall is reported against the full gold count
    * (the fraction of gold pairs the *sampled* predictions recover —
    * at the default bound it equals full recall whenever a stratum
    * holds fewer than `perStratum` pairs, and degrades gracefully,
    * never explosively, past it). */
  def eval01LinkageMetrics(
      lake: Lake,
      threshold: Double = 0.05,
      lenWindow: Int = 40,
      perStratum: Int = 200
  ): DataFrame = {
    val pred = Dedup
      .dedup03NgramJaccard(lake, threshold = threshold, lenWindow = lenWindow)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val stratum = when(col("jaccard") < 0.5, "j_005_050")
      .when(col("jaccard") < 0.8, "j_050_080")
      .otherwise("j_080_100")
    // Pre-sample pair count per stratum, carried through the sample so
    // the consumer can tell truncated recall (n_pred < n_pred_total)
    // from true recall. Same window shuffle as the sampler — no second
    // pass over the candidate join.
    val strat = pred
      .withColumn("stratum", stratum)
      .withColumn(
        "n_pred_total",
        count(lit(1)).over(Window.partitionBy("stratum"))
      )
    // Knuth-style multiplicative hash, reduced mod a prime — small
    // enough that neither engine overflows 64-bit signed math.
    val h =
      ((col("doc_a") % 1000003L) * 2654435761L + col("doc_b") % 1000003L) % 1000003L
    val sampled = strat
      .withColumn("h", h)
      .withColumn(
        "rn",
        row_number().over(
          Window
            .partitionBy("stratum")
            .orderBy(col("h"), col("doc_a"), col("doc_b"))
        )
      )
      .filter(col("rn") <= perStratum)
      .drop("h", "rn")
    val d = lake.documents
      .select(col("doc_id"), text.bagFingerprint(col("text")).as("fp"))
    val gold = d
      .as("x")
      .join(
        d.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id")
      )
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val goldTotal = gold.agg(count(lit(1)).as("n_gold"))
    val tp = count(when(col("is_gold"), 1))
    // try_divide: a lake with no gold pair (n_gold = 0) reads a NULL
    // recall, and its f1 falls to 0.0, instead of DIVIDE_BY_ZERO
    val p = try_divide(col("n_tp").cast("double"), col("n_pred"))
    val r = try_divide(col("n_tp").cast("double"), col("n_gold"))
    sampled
      .join(gold.withColumn("is_gold", lit(true)), Seq("doc_a", "doc_b"), "left")
      .groupBy("stratum")
      .agg(
        count(lit(1)).as("n_pred"),
        max("n_pred_total").as("n_pred_total"),
        tp.as("n_tp")
      )
      .crossJoin(broadcast(goldTotal))
      .select(
        col("stratum"),
        col("n_pred"),
        col("n_pred_total"),
        col("n_tp"),
        col("n_gold"),
        round(p, 4).as("precision"),
        round(r, 4).as("recall"),
        when(p + r > 0, round(lit(2) * p * r / (p + r), 4))
          .otherwise(0.0)
          .as("f1")
      )
      .orderBy("stratum")
  }

  /** Language-ID confusion matrix: txt02's heuristic predictions
    * cross-tabulated against the labeled language, with each cell's
    * share of its true-label row — the quality report a curation
    * pipeline reads before trusting a classifier to route documents
    * (the langid counterpart of eval01's linkage metrics). Reduces a
    * corpus-sized prediction frame to |langs|² rows with map-side
    * partial aggregation; the label-total is a window over those few
    * rows, not a second corpus pass. */
  def eval03LangidConfusion(lake: Lake): DataFrame =
    TextAnalysis
      .langIdVerdicts(lake)
      .groupBy("labeled_lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn(
        "label_total",
        sum("n_docs").over(Window.partitionBy("labeled_lang"))
      )
      .withColumn(
        "frac_of_label",
        round(col("n_docs").cast("double") / col("label_total"), 4)
      )
      .orderBy("labeled_lang", "pred_lang")

  /** ANN retrieval quality: recall@k and top-1 reciprocal rank of the
    * IVF index (sim05's label-cell coarse quantizer probing `nprobe`
    * of the cells) measured against the exact brute-force top-k
    * (sim01) — the evaluation loop a FAISS user runs after building an
    * index (reference: build_embedding_linkage.py trains the index,
    * then spot-checks hit rates before trusting the linkage).
    *
    * Both legs are existing operators, so the plan is two bounded
    * ANN jobs plus a narrow (query_id, neighbor_id) equi-join and a
    * |queries|-row aggregate: nothing here grows faster than the ANN
    * legs themselves. Deterministic end to end — neighbor ranking uses
    * raw-vector dot products (no cross-row float sums), and the one
    * centroid-dependent decision (which cells to probe) has measured
    * ranking margins >= 2e-4 at every SF, nine orders above
    * cross-engine aggregation-order noise, which is why this is
    * oracle-checkable while generic float k-means (sim06) is not. */
  def eval02AnnRecall(
      lake: Lake,
      k: Int = 10,
      nQueries: Int = 10,
      nprobe: Int = 3
  ): DataFrame = {
    val truth = Similarity
      .sim01TopKBruteForce(lake, k, nQueries)
      .select(col("query_id"), col("rank").as("t_rank"), col("neighbor_id"))
    val pred = Similarity
      .sim05IvfAnn(lake, k, nQueries, nprobe)
      .select(col("query_id"), col("rank").as("p_rank"), col("neighbor_id"))
    // Left join keeps every truth neighbor; a missed one has null
    // p_rank, so count(p_rank) is the hit count.
    truth
      .join(pred, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        count(col("p_rank")).as("n_hits"),
        round(count(col("p_rank")).cast("double") / k, 4).as("recall_at_k"),
        round(
          coalesce(
            max(when(col("t_rank") === 1, lit(1.0) / col("p_rank"))),
            lit(0.0)
          ),
          4
        ).as("rr_top1")
      )
      .orderBy("query_id")
  }

  /** eval04: clustering-quality report via the CENTROID silhouette —
    * per vector, cohesion = cosine to the own-label centroid,
    * separation = cosine to the nearest OTHER centroid; per label we
    * report mean cohesion/separation and purity (the fraction whose
    * own centroid is the nearest). This is the linear n·k form (the
    * same approximation Spark ML's silhouette uses): the full
    * pairwise silhouette is O(n²) and adds nothing at corpus scale.
    * Closes the loop on the trained quantizers — run it on sim06's
    * cells or dedup11's SemDeDup cells to decide k.
    *
    * Scale shape: one broadcast of the k-row centroid table, one
    * map-side n·k → n fold (groupBy vec_id with conditional MAX — no
    * window, no sort), one |labels|-row final aggregate. The unrounded
    * own > other purity comparison is safe cross-engine for the
    * sim06/eval02 reason: fp divergence is ~1e-15, corpus margins are
    * orders larger. */
  def eval04ClusterQuality(lake: Lake): DataFrame = {
    val all = Similarity.vecs(lake)
    val cents = Similarity
      .meanCentroids(all, "label")
      .select(col("label").as("clabel"), col("centroid"))
    all
      .crossJoin(broadcast(cents))
      .withColumn("ccos", graft.functions.vectors.cosine(col("v"), col("centroid")))
      .groupBy("vec_id", "label")
      .agg(
        max(when(col("clabel") === col("label"), col("ccos"))).as("own"),
        max(when(col("clabel") =!= col("label"), col("ccos"))).as("other")
      )
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg("own"), 4).as("avg_own"),
        round(avg("other"), 4).as("avg_other"),
        round(avg(when(col("own") > col("other"), 1.0).otherwise(0.0)), 4)
          .as("purity")
      )
      .orderBy("label")
  }

  /** eval06: Bland-Altman AGREEMENT audit between a recorded metric
    * and its recomputed value — the statistical content behind the
    * reference's fig1 (generate_paper_figures.py:123
    * `fig1_citation_bland_altman`: S2AG vs OpenAlex citation counts
    * — log-transform, Pearson r, mean difference/bias, ±1.96σ limits
    * of agreement). The lake analog compares each order's RECORDED
    * total price against the total RECOMPUTED from its line items —
    * the same "two sources, one quantity" audit (on this synthetic
    * lake the audit correctly reports r ≈ 0: recorded totals do not
    * track the recomputed ones, which is precisely what an agreement
    * audit exists to detect).
    *
    * Scale shape: one partial-agg pass over the fact table to
    * per-order recomputed totals, a key equi-join, one aggregation
    * to the 1-row stats, then a second map-only pass (stats
    * broadcast) for the within-LoA share — no corpus-sized shuffle
    * beyond the per-key aggregate. */
  def eval06Agreement(lake: Lake): DataFrame = {
    val recomputed = lake.lineitem
      .groupBy("l_orderkey")
      .agg(
        sum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))
        ).as("rec")
      )
    val paired = lake.orders
      .join(recomputed, col("o_orderkey") === col("l_orderkey"))
      .select(
        log10(col("o_totalprice") + 1).as("a"),
        log10(col("rec") + 1).as("b")
      )
      .withColumn("d", col("a") - col("b"))
    val stats = paired.agg(
      count(lit(1)).as("n"),
      corr(col("a"), col("b")).as("r"),
      avg(col("d")).as("md"),
      stddev_pop(col("d")).as("sd")
    )
    paired
      .crossJoin(broadcast(stats))
      .agg(
        first(col("n")).as("n"),
        round(first(col("r")), 4).as("pearson_r"),
        round(first(col("md")), 4).as("mean_diff"),
        round(first(col("sd")), 4).as("sd_diff"),
        round(first(col("md")) - lit(1.96) * first(col("sd")), 4).as("loa_lo"),
        round(first(col("md")) + lit(1.96) * first(col("sd")), 4).as("loa_hi"),
        round(
          avg(
            when(
              abs(col("d") - col("md")) <= lit(1.96) * col("sd"),
              1.0
            ).otherwise(0.0)
          ),
          4
        ).as("within_loa")
      )
      // a global agg over zero paired rows still yields one all-null
      // row; drop it so an empty (or non-overlapping) lake degrades
      // to an empty frame, matching the GROUP BY oracle's zero rows
      .filter(col("n").isNotNull)
  }

  /** The (doc_id, text, q_score) frame both scorer evaluations share:
    * the hashed classifier staged so the struct is evaluated once,
    * text kept for the fused Gopher pass. */
  private def scoredDocs(lake: Lake, dim: Int): DataFrame =
    lake.documents
      .select(
        col("doc_id"),
        col("text"),
        graft.plans.HashedClassifierScore(col("text"), dim).as("m")
      )
      .select(col("doc_id"), col("text"), TextAnalysis.qScore)

  /** eval05: CALIBRATION CURVE for the model-based quality score —
    * the acceptance test a curation pipeline runs before replacing an
    * expensive rule pipeline with a cheap learned scorer: at each
    * keep-threshold, how much of the corpus survives and how well the
    * kept set agrees with the rule verdict (txt20's Gopher `passes`
    * as the reference labels, txt29's hashed-classifier score as the
    * ranker). Emits one row per threshold: kept count/fraction,
    * precision (kept docs the rules also pass), recall (rule-passing
    * docs kept).
    *
    * Scale shape: both signal frames are MAP-ONLY passes over the
    * corpus; they meet in one doc_id equi-join, and every threshold's
    * counts are conditional sums inside ONE partial-aggregating
    * pass — the whole curve costs one scan + one 1-row aggregate,
    * then unpivots driver-side via stack. Thresholds are a fixed
    * grid (the score is a bounded per-token average), so the output
    * is |grid| rows at any corpus size. */
  def eval05ScoreCalibration(lake: Lake, dim: Int = 4096): DataFrame = {
    val thresholds = Seq(-0.10, -0.05, 0.0, 0.05, 0.10, 0.15, 0.20)
    // one fused map pass for score + verdict (gopherVerdict carry)
    val j = TextAnalysis
      .gopherVerdict(scoredDocs(lake, dim), carry = Seq("q_score"))
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        sum(when(col("q_score") >= t, 1L).otherwise(0L)).as(s"k$i"),
        sum(when(col("q_score") >= t && col("passes"), 1L).otherwise(0L))
          .as(s"tp$i")
      )
    } ++ Seq(
      count(lit(1)).as("n"),
      sum(when(col("passes"), 1L).otherwise(0L)).as("pos")
    )
    val stackArgs = thresholds.indices
      .map(i => s"CAST(${thresholds(i)} AS DOUBLE), k$i, tp$i")
      .mkString(", ")
    j.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        "n",
        "pos",
        s"stack(${thresholds.size}, $stackArgs) AS (threshold, n_kept, n_true_kept)"
      )
      .select(
        col("threshold"),
        col("n_kept"),
        round(col("n_kept") / col("n").cast("double"), 4).as("kept_frac"),
        when(
          col("n_kept") > 0,
          round(col("n_true_kept") / col("n_kept").cast("double"), 4)
        ).as("precision"),
        round(col("n_true_kept") / col("pos").cast("double"), 4).as("recall")
      )
      .orderBy("threshold")
  }

  /** eval07: exact ROC AUC for the learned quality scorer — the
    * threshold-free companion to eval05's calibration curve (the
    * accept-test for swapping the rule pipeline for a learned model;
    * reference: the quality-classifier evaluation the curation
    * pipeline runs before a scorer goes live). Score = the hashed
    * classifier (txt29's model), gold = the Gopher verdict.
    *
    * AUC via the tie-aware rank-sum (Mann-Whitney U) identity:
    * AUC = P(s_pos > s_neg) + 0.5 P(s_pos = s_neg). Scale shape: the
    * corpus collapses to per-DISTINCT-SCORE bins first (scores are
    * 4dp-rounded, so the bin table is bounded at ~20k rows no matter
    * the corpus size); the prefix sum of negatives runs over that
    * bounded bin table (samp04's header-window discipline — the
    * single-partition window never sees a corpus-sized input), and
    * one final fold emits the verdict row. Never a global sort of
    * the corpus, never a pairwise join. */
  def eval07RocAuc(lake: Lake, dim: Int = 4096): DataFrame = {
    // score + verdict FUSED into one map pass over the corpus (the
    // gopherVerdict carry hook) — no doc_id self-join, no second scan
    val bins = TextAnalysis
      .gopherVerdict(scoredDocs(lake, dim), carry = Seq("q_score"))
      .groupBy("q_score")
      .agg(
        sum(when(col("passes"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("passes"), 1L).otherwise(0L)).as("nn")
      )
    // negatives strictly below this score — bounded bin-table window
    val w = Window
      .orderBy("q_score")
      .rowsBetween(Window.unboundedPreceding, -1)
    bins
      .withColumn("cum_nn", coalesce(sum("nn").over(w), lit(0L)))
      .agg(
        sum(col("np") + col("nn")).cast("long").as("n"),
        sum("np").cast("long").as("n_pos"),
        sum("nn").cast("long").as("n_neg"),
        // rank-sum accumulators in decimal(38,0): per-bin products and
        // their sums can pass Long.MaxValue near ~6e9 balanced-class
        // docs (the DuckDB replay promotes to HUGEINT; a Long here
        // would wrap silently under non-ANSI semantics)
        (sum(
          col("np").cast(DecimalType(38, 0)) *
            col("cum_nn").cast(DecimalType(38, 0))
        ).cast("double") +
          lit(0.5) * sum(
            col("np").cast(DecimalType(38, 0)) *
              col("nn").cast(DecimalType(38, 0))
          ).cast("double")).as("num")
      )
      .select(
        col("n"),
        col("n_pos"),
        col("n_neg"),
        when(
          col("n_pos") > 0 && col("n_neg") > 0,
          round(
            col("num") /
              (col("n_pos").cast("double") * col("n_neg").cast("double")),
            4
          )
        ).as("auc"),
        when(
          col("n_pos") > 0 && col("n_neg") > 0,
          round(
            lit(2.0) * col("num") /
              (col("n_pos").cast("double") * col("n_neg").cast("double")) -
              lit(1.0),
            4
          )
        ).as("gini")
      )
      // the eval06 discipline: an empty corpus degrades to zero rows,
      // not one all-null row
      .filter(col("n").isNotNull)
  }

  /** The exact-integer-log2 length bucket both the batch monitor and
    * its streaming twin use (bit-length, not log2() — see
    * eval08DistDrift). */
  private[graft] def lenBucket: org.apache.spark.sql.Column =
    least(length(bin(col("n_chars") + 1)) - 1, lit(20)).cast("long")

  /** Per-(source, bucket) document counts — eval08's corpus pass,
    * also valid as the ONE streaming aggregation of a document
    * stream (complete mode), whose per-micro-batch state feeds
    * [[psiAgainst]] in a foreachBatch monitor sink. */
  private[graft] def driftCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), lenBucket.as("bucket"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("c"))

  /** The corpus-marginal reference histogram: (bucket, ct, n_all).
    * Batch eval08 derives it from its own counts; a streaming
    * monitor builds it ONCE from the historical lake and scores
    * every micro-batch against it. */
  private[graft] def referenceMarginal(counts: DataFrame): DataFrame =
    counts
      .groupBy("bucket")
      .agg(sum("c").as("ct"))
      .crossJoin(broadcast(counts.agg(sum("c").as("n_all"))))

  /** PSI of per-(source, bucket) counts against a reference
    * marginal — the shared fold of eval08 and the streaming drift
    * monitor. All inputs are bounded frames. */
  private[graft] def psiAgainst(
      counts: DataFrame,
      ref: DataFrame,
      eps: Double
  ): DataFrame = {
    val bySource = counts.groupBy("source").agg(sum("c").as("n_docs"))
    bySource
      .crossJoin(broadcast(ref))
      .join(counts, Seq("source", "bucket"), "left")
      .withColumn("p", greatest(coalesce(col("c"), lit(0L)) / col("n_docs"), lit(eps)))
      .withColumn("q", greatest(col("ct") / col("n_all"), lit(eps)))
      .groupBy("source")
      .agg(
        first("n_docs").as("n_docs"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 4)
          .as("psi")
      )
      .withColumn("drifted", col("psi") >= 0.2)
      .orderBy("source")
  }

  /** eval08: DISTRIBUTION-DRIFT monitor — per-source Population
    * Stability Index of the document-length distribution against the
    * corpus-wide distribution (the production data-quality check a
    * pipeline runs per ingest batch: a source whose length profile
    * departs from the corpus — truncation bug, boilerplate flood,
    * schema drift upstream — shows a high PSI long before any
    * quality rule fires; >= 0.2 is the standard "investigate"
    * threshold). PSI = Σ (p_i − q_i)·ln(p_i/q_i), every term >= 0.
    *
    * Buckets are exact integer log2 of n_chars via `length(bin(x))`
    * — deliberately NOT log2(): Spark computes log2 as ln(x)/ln(2),
    * which lands BELOW the exact value at powers of two (floor then
    * disagrees with DuckDB's std::log2) — bit-length is exact in
    * both engines. Absent (source, bucket) cells enter at the eps
    * clamp, so a source missing an entire populated band is charged
    * for it (the grid is |sources|·|buckets|, bounded).
    *
    * Scale shape: ONE corpus aggregation to (source, bucket) counts;
    * everything after is arithmetic over bounded frames (global
    * bucket marginals derive from the same counts — no second
    * scan). */
  def eval08DistDrift(lake: Lake, eps: Double = 1e-4): DataFrame = {
    val counts = driftCounts(lake.documents)
      .localCheckpoint(false) // three bounded consumers, one corpus scan
    psiAgainst(counts, referenceMarginal(counts), eps)
  }
}
