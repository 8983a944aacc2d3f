package graft.operators

import graft.catalog.Lake
import graft.functions.text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-dataset linkage — the reference's xref layer re-expressed.
  *
  * Reference shapes: xref.doi_map normalized UNION
  * (create_unified_db.py:513-577), unified_papers N-way left join +
  * COALESCE + has_* flags (materialize_unified_papers.py:270-430),
  * coverage stats over flag combos (materialize_unified_papers.py:
  * 449-507), per-key priority dedup (materialize_fulltext.py:87-118),
  * sanity checks (notebooks/sanity_checks.ipynb).
  *
  * Scale notes: the spine-join is the one genuine fact-fact shuffle
  * (all sides hash-partition on the normalized key once; AQE handles
  * skewed keys). Aggregated side-tables are pre-shrunk before the
  * join; flags are computed from join-hit nullness, never a second
  * pass.
  */
object Linkage {

  /** Character-n-gram TF-IDF cosine linkage — the reference's
    * strongest string-linkage baseline (run_baseline_comparisons.py:
    * 164-196: TfidfVectorizer(analyzer="char_wb", ngram_range=(2,4))
    * over two label sets + cosine top-1). Here the two sets are the
    * even-key part names (probes) vs the odd-key part names
    * (candidates) — same shape as aligning two ontologies' labels.
    *
    * Semantics: per label, char 2/3/4-grams of each space-padded word
    * (the char_wb contract — grams never cross word boundaries);
    * tf x smoothed idf weights (idf = ln((1+N)/(1+df)) + 1, N over
    * BOTH sets, sklearn's smooth_idf), L2-normalized; cosine via the
    * shared-gram inverted index — an equi-join on the gram, never a
    * cross join (the dedup03 discipline: join volume is sum(df^2)
    * over grams, linear-ish while gram document frequencies stay
    * bounded — at ontology scale label sets are small; for corpus-
    * sized sets cap df by dropping stop-grams). Top-1 per probe at a
    * cosine floor; ordering ties broken on the 4dp-rounded cosine
    * then candidate id so both engines pick the same winner.
    *
    * Dedupe-before-vectorize — the load-bearing scale move: a TF-IDF
    * vector is a property of the STRING, so vectorization, the
    * shared-gram join and the top-1 ranking all run over DISTINCT
    * labels, and winners broadcast-join back to ids at the end. With
    * duplicated labels the id-level formulation explodes (at sf0.1
    * the 20k part rows hold only 64 distinct names: Σdf² over the
    * id-level gram index is 1.5e9 join rows and 1e8 candidate pairs;
    * label-level it is a few thousand). idf keeps the id-level
    * semantics exactly — df sums duplicate counts and N is total
    * rows — so results are byte-identical to the naive form the
    * DuckDB oracle runs. */
  def txt17TfidfCosineLinkage(
      lake: Lake,
      threshold: Double = 0.3
  ): DataFrame = {
    val lab = lake.part.select(
      col("p_partkey").as("lab_id"),
      (col("p_partkey") % 2 === 0).as("is_probe"),
      lower(col("p_name")).as("label")
    )
    // One row per distinct (label, side): its duplicate count (for
    // dup-weighted df / N) and representative id (min — realizes the
    // min-cand_id tie-break at label level). Tiny; feeds 4 branches.
    val labGroups = lab
      .groupBy("label", "is_probe")
      .agg(count(lit(1)).as("cnt"), min("lab_id").as("rep_id"))
      // lazy (round 15): the first consumer's job materializes the
      // blocks, the other branches read them — same sharing, one
      // fewer dedicated job (the blanket rule applied to every
      // multi-consumer checkpoint this round)
      .localCheckpoint(false)
    val pads = labGroups
      .select(
        col("label"),
        col("is_probe"),
        explode(split(col("label"), " ")).as("w")
      )
      .filter(length(col("w")) > 0)
      .select(
        col("label"),
        col("is_probe"),
        concat(lit(" "), col("w"), lit(" ")).as("pw")
      )
    val grams = pads.select(
      col("label"),
      col("is_probe"),
      explode(
        expr(
          """flatten(transform(sequence(2, 4), n ->
            |  CASE WHEN length(pw) >= n
            |    THEN transform(sequence(1, length(pw) - n + 1),
            |                   i -> substring(pw, i, n))
            |    ELSE slice(array(pw), 1, 0) END))""".stripMargin
        )
      ).as("g")
    )
    val tf = grams
      .groupBy("label", "is_probe", "g")
      .agg(count(lit(1)).cast("double").as("tf"))
    // Dup-weighted document frequency: every id carrying the label
    // counts once per gram — identical to the id-level df.
    val dfx = tf
      .join(labGroups.select("label", "is_probe", "cnt"), Seq("label", "is_probe"))
      .groupBy("g")
      .agg(sum("cnt").as("df"))
    val nTotal = labGroups.agg(sum("cnt").as("n_labels"))
    // Materialize once: wt feeds the norm and both dot-product sides;
    // without truncation each branch re-runs the explode+aggregate
    // pipeline and re-instantiates the scalar-N cross join.
    val wt = tf
      .join(dfx, "g")
      .crossJoin(broadcast(nTotal))
      .withColumn(
        "wt",
        col("tf") *
          (log((lit(1.0) + col("n_labels")) / (lit(1.0) + col("df"))) + 1.0)
      )
      .select("label", "is_probe", "g", "wt")
      .localCheckpoint(false)
    val nrm = wt
      .groupBy("label", "is_probe")
      .agg(sqrt(sum(col("wt") * col("wt"))).as("nrm"))
    val dots = wt
      .filter(col("is_probe"))
      .select(col("label").as("probe_label"), col("g"), col("wt").as("wa"))
      .join(
        wt.filter(!col("is_probe"))
          .select(col("label").as("cand_label"), col("g"), col("wt").as("wb")),
        "g"
      )
      .groupBy("probe_label", "cand_label")
      .agg(sum(col("wa") * col("wb")).as("dot"))
    val cosed = dots
      .join(
        nrm
          .filter(col("is_probe"))
          .select(col("label").as("probe_label"), col("nrm").as("na")),
        "probe_label"
      )
      .join(
        nrm
          .filter(!col("is_probe"))
          .select(col("label").as("cand_label"), col("nrm").as("nb")),
        "cand_label"
      )
      .withColumn("cosine", round(col("dot") / (col("na") * col("nb")), 4))
    val winners = cosed
      .join(
        labGroups
          .filter(!col("is_probe"))
          .select(col("label").as("cand_label"), col("rep_id").as("cand_id")),
        "cand_label"
      )
      .withColumn(
        "rn",
        row_number().over(
          Window
            .partitionBy("probe_label")
            .orderBy(col("cosine").desc, col("cand_id"))
        )
      )
      .filter(col("rn") === 1 && col("cosine") >= threshold)
      .select("probe_label", "cand_id", "cosine")
    lab
      .filter(col("is_probe"))
      .select(col("lab_id").as("probe_id"), col("label").as("probe_label"))
      .join(broadcast(winners), "probe_label")
      .select("probe_id", "cand_id", "cosine")
      .orderBy("probe_id")
  }

  /** Normalized-key union map across entity sources (doi_map analog).
    * Unordered kernel — xref08 composes over this; the public entry's
    * presentation sort would otherwise survive TWICE inside its
    * self-join (once per branch), each with a corpus-wide range
    * exchange (xref02's round-12 lesson, read in the executed plan). */
  private[graft] def xref01Ids(lake: Lake): DataFrame = {
    val c = lake.customer.select(
      lit("customer").as("source"),
      text.normalizeId(col("c_name"), "Customer#").as("key"),
      col("c_custkey").cast("string").as("source_id")
    )
    val s = lake.supplier.select(
      lit("supplier").as("source"),
      text.normalizeId(col("s_name"), "Supplier#").as("key"),
      col("s_suppkey").cast("string").as("source_id")
    )
    val p = lake.part.select(
      lit("part").as("source"),
      lower(col("p_name")).as("key"),
      col("p_partkey").cast("string").as("source_id")
    )
    c.unionAll(s).unionAll(p)
  }

  def xref01IdMap(lake: Lake): DataFrame =
    xref01Ids(lake).orderBy("source", "key")

  /** Unified entity table: every id seen anywhere, COALESCE'd
    * attributes + has_* coverage flags (unified_papers analog).
    *
    * ONE exchange for the whole unification: the textbook
    * spine-plus-left-joins form pays FOUR shuffles of the same entity
    * key (the spine distinct, then one per source join — measured
    * 2.4 s at sf1 through xref10); tagging each source's rows and
    * folding the union through a single hash aggregate produces the
    * identical frame with one shuffle, and partial aggregation
    * compresses each source to one row per (partition, entity) before
    * the exchange — the shape that survives a 100 TB source list.
    * Per-source semantics are preserved exactly: a customer id has
    * one profile row (max picks it), order count/total and event
    * count are conditional aggregates, and an id absent from a source
    * folds to null → the same COALESCE defaults as the join form.
    *
    * Consumers (xref03/xref10/xref12) build on [[xref02Unified]], the
    * UNORDERED form: the public entry's presentation `orderBy` is NOT
    * optimized away under a downstream aggregate (Catalyst prunes the
    * view's columns but keeps the Sort), so composing over the ordered
    * frame paid a corpus-wide range exchange + sort that the consumer
    * immediately destroyed — measured 8.1 s vs 4.9 s on xref10 at
    * sf30 (BASELINE.md round 12). */
  private[graft] def xref02Unified(lake: Lake): DataFrame =
    xref02UnifiedCore(lake, withFirstYear = false)

  /** The single-exchange unification kernel. `withFirstYear = true`
    * adds the orders leg's order YEAR to the union and a
    * min-per-entity `first_year` to the one aggregate — xref12's whole
    * year table then rides the exchange this kernel already pays,
    * instead of a second 45M-row orders shuffle + an entity join
    * (measured 7.4 → 4.4 s at sf30, BASELINE round 13). Costs the
    * other legs one null column, so it is opt-in. */
  private[graft] def xref02UnifiedCore(
      lake: Lake,
      withFirstYear: Boolean
  ): DataFrame = {
    val nullName = lit(null).cast("string")
    val nullPrice = lit(null).cast("double")
    val nullYear = lit(null).cast("long")
    // Per-leg indicators packed into ONE bitmask column (1 = profile,
    // 2 = orders, 4 = events) instead of a string `src` tag (string
    // compares per row per aggregate, round 12) or three 0/1 longs
    // (24 bytes of constants per UnsafeRow through the exchange,
    // rounds 12-13): the shuffle row narrows to (entity_id, flags,
    // price) and the aggregate's hot loop (80M+ rows at sf30) is
    // three masked integer sums. Semantics identical: max(nm) sees
    // non-null names only from the profile leg, sum(price) sees
    // non-null prices only from the orders leg, and the per-bit sums
    // ARE the conditional counts.
    def leg(src: DataFrame, yr: Column, cols: Column*): DataFrame = {
      val all = if (withFirstYear) cols :+ yr.as("yr") else cols
      src.select(all: _*)
    }
    val tagged = leg(
      lake.customer,
      nullYear,
      col("c_custkey").cast("long").as("entity_id"),
      col("c_name").as("nm"),
      lit(1L).as("flags"),
      nullPrice.as("price")
    )
      .unionAll(
        leg(
          lake.orders,
          year(col("o_orderdate")).cast("long"),
          col("o_custkey").cast("long").as("entity_id"),
          nullName.as("nm"),
          lit(2L).as("flags"),
          col("o_totalprice").as("price")
        )
      )
      .unionAll(
        leg(
          lake.events,
          nullYear,
          col("user_id").cast("long").as("entity_id"),
          nullName.as("nm"),
          lit(4L).as("flags"),
          nullPrice.as("price")
        )
      )
    // repartition-BEFORE-aggregate, deliberately: map-side partial
    // aggregation compresses this union by ~nothing at any scale (a
    // key's ~18 source rows scatter across tasks, so per-task keys are
    // nearly unique) while its per-task hash map carries millions of
    // entries and spills — measured super-linear sf10→sf30 (1.9→6.2 s
    // on xref10). Exchanging the RAW narrow rows first costs the same
    // shuffle volume partial agg would emit anyway, and the aggregate
    // then runs once per reduce task at |entities|/parts group
    // cardinality, spill-free (xref10 6.2→4.5 s at sf30; BASELINE.md
    // round 12). The one-key-exchange contract is unchanged — the
    // groupBy reuses the repartition's hashpartitioning.
    val aggs = Seq(
      sum(col("flags").bitwiseAND(1L)).as("np"),
      sum(shiftright(col("flags"), 1).bitwiseAND(1L)).as("no"),
      sum(shiftright(col("flags"), 2).bitwiseAND(1L)).as("ne"),
      round(sum(col("price")), 4).as("spent")
    ) ++ (if (withFirstYear) Seq(min(col("yr")).as("first_year")) else Nil)
    val outCols = Seq(
      col("entity_id"),
      coalesce(col("nm"), lit("unknown")).as("entity_name"),
      (col("np") > 0).as("has_profile"),
      (col("no") > 0).as("has_orders"),
      (col("ne") > 0).as("has_events"),
      col("no").as("n_orders"),
      coalesce(col("spent"), lit(0.0)).as("total_spent"),
      col("ne").as("n_events")
    ) ++ (if (withFirstYear) Seq(col("first_year")) else Nil)
    tagged
      .repartition(col("entity_id"))
      .groupBy("entity_id")
      .agg(max(col("nm")).as("nm"), aggs: _*)
      .select(outCols: _*)
  }

  def xref02UnifiedEntities(lake: Lake): DataFrame =
    xref02Unified(lake).orderBy("entity_id")

  /** Coverage stats: row counts per source-flag combination. */
  def xref03CoverageStats(lake: Lake): DataFrame =
    xref02Unified(lake)
      .groupBy("has_profile", "has_orders", "has_events")
      .agg(
        count(lit(1)).as("n_entities"),
        round(sum("total_spent"), 4).as("total_value")
      )
      .orderBy("has_profile", "has_orders", "has_events")

  /** Per-content-key keep-best-source dedup (materialize_fulltext
    * analog: ROW_NUMBER by source priority then length). Priority is
    * the numeric source suffix (src3 beats src17). */
  def xref04PriorityDedup(lake: Lake): DataFrame = {
    val priority = regexp_extract(col("source"), "(\\d+)$", 1).cast("long")
    val w = Window
      .partitionBy("fp")
      .orderBy(col("priority"), col("n_chars").desc, col("doc_id"))
    lake.documents
      .select(
        col("doc_id"),
        text.bagFingerprint(col("text")).as("fp"),
        col("source"),
        priority.as("priority"),
        col("n_chars")
      )
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "fp", "source", "priority", "n_chars")
      .orderBy("fp", "doc_id")
  }

  /** Data-quality probe: one row of COUNT-FILTER style checks
    * (sanity_checks.ipynb analog). */
  def xref05SanityChecks(lake: Lake): DataFrame =
    lake.documents.agg(
      count(lit(1)).as("total"),
      sum(when(col("text").isNull || length(col("text")) === 0, 1L).otherwise(0L))
        .as("n_empty_text"),
      sum(
        when(!col("lang").isInCollection(Seq("en", "de", "es", "fr", "zh")), 1L)
          .otherwise(0L)
      ).as("n_bad_lang"),
      sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
        .as("n_len_mismatch"),
      countDistinct(col("doc_id")).as("n_distinct_ids")
    )

  /** Cross-source metric disagreement ranking — the reference app's
    * "cross-source citation count comparison" (app.py:78-92: top-N
    * |s2ag_citations - openalex_citations| over linked papers)
    * re-expressed on this schema: order-header total vs the sum of
    * its line items, ranked by absolute disagreement. The audit shape
    * for any two sources reporting the same metric: inner equi-join,
    * null-safe diff, global top-N (rank + limit pushes partial top-N
    * to each partition — no full sort). */
  def xref06TotalMismatch(lake: Lake, topN: Int = 20): DataFrame = {
    val lineTotals = lake.lineitem
      .groupBy(col("l_orderkey"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("line_total"),
        count(lit(1)).as("n_lines")
      )
    lake.orders
      .select(col("o_orderkey"), col("o_totalprice"))
      .join(lineTotals, col("o_orderkey") === col("l_orderkey"))
      .withColumn(
        "abs_diff",
        round(abs(col("o_totalprice") - col("line_total")), 4)
      )
      .select(
        col("o_orderkey"),
        col("o_totalprice"),
        col("line_total"),
        col("n_lines"),
        col("abs_diff")
      )
      .orderBy(col("abs_diff").desc, col("o_orderkey"))
      .limit(topN)
  }

  /** xref08: cross-source bridges via shared normalized external ids
    * — tier 3 of the reference's linkage
    * (build_ontology_linkage.py:283-340 `build_ontology_bridges`):
    * for every PAIR of sources, an equi-join on the normalized id
    * yields (source_1, id_1, source_2, id_2, bridge_id) rows. Here
    * the id map is xref01's normalized-key union, and the
    * customer/supplier numeric key spaces overlap by construction
    * (the Customer#/Supplier# prefixes normalize away — the UMLS-CUI
    * alias folding analog).
    *
    * Scale: aggregate the id map to ONE row per (key, source) — the
    * per-source id list — BEFORE the key self-join, then explode the
    * two lists of each cross-source row. A row-level self-join with a
    * post-join `source_1 < source_2` filter is the naive shape and a
    * measured scale bug (round-8 sf1 sweep: 27× on 10× data): the
    * predicate references both sides, so it cannot prune below the
    * join, and every SAME-source key group — part names are a
    * low-cardinality vocabulary, so their groups grow linearly with
    * the corpus — materializes its full quadratic pair set only to
    * be discarded. After the pre-aggregation a key group holds at
    * most one row per source (#sources is a catalog constant), and
    * the only pairs the two explodes ever generate are genuine
    * cross-source bridges. */
  def xref08Bridges(lake: Lake): DataFrame = {
    val ids = xref01Ids(lake)
      .groupBy("key", "source")
      .agg(sort_array(collect_list(col("source_id"))).as("ids"))
    ids
      .select(col("source").as("source_1"), col("key"), col("ids").as("ids_1"))
      .join(
        ids.select(col("source").as("source_2"), col("key"), col("ids").as("ids_2")),
        Seq("key")
      )
      .filter(col("source_1") < col("source_2"))
      .select(
        col("source_1"),
        explode(col("ids_1")).as("id_1"),
        col("source_2"),
        col("ids_2"),
        col("key")
      )
      .select(
        col("source_1"),
        col("id_1"),
        col("source_2"),
        explode(col("ids_2")).as("id_2"),
        col("key").as("bridge_id")
      )
      .orderBy("source_1", "source_2", "bridge_id", "id_1", "id_2")
  }

  /** xref07: size-adaptive two-tier label alignment — the strategy
    * selection at the heart of build_ontology_linkage.py:83-170
    * (`build_topic_ontology_map`): against a LARGE term set only
    * exact lowercase equality is allowed (a hash join; fuzzy scoring
    * a scaling vocabulary is exactly what the reference's
    * LARGE_ONTOLOGY_THRESHOLD rule forbids), while a SMALL term set
    * is matched fuzzily with Jaro-Winkler above a threshold (a
    * bounded |topics|×|lexicon| broadcast product). Tiers union and
    * each topic keeps its best match by (similarity, ontology, term)
    * — the reference's combined-matches dedup.
    *
    * Scale: the exact tier shuffles on the lowercased label (or
    * broadcasts the topic side), the fuzzy tier's cross product is
    * bounded by the SMALL set's size by construction, and keep-best
    * is one window over match rows only. */
  def xref07TieredLinkage(
      lake: Lake,
      // 0.65 rather than the reference's 0.80: the synthetic 16-word
      // part vocabulary tops out at JW ~0.73 against the lexicon, and
      // a gate that produces one row exercises nothing. The strategy,
      // not the cutoff, is the contract.
      threshold: Double = 0.65
  ): DataFrame = {
    val topics = lake.part
      .select(explode(split(col("p_name"), " ")).as("topic"))
      .distinct()
    val vocab = lake.documents
      .select(explode(array_distinct(text.tokens(col("text")))).as("term"))
      .distinct()
    val exact = topics
      .join(vocab, lower(col("topic")) === lower(col("term")))
      .select(
        col("topic"),
        lit("corpus_vocab").as("ontology"),
        col("term"),
        lit(1.0).as("sim")
      )
    val lex = lake.spark
      .createDataFrame(TextAnalysis.lexicon.map(Tuple1(_)))
      .toDF("term")
    val fuzzy = topics
      .crossJoin(broadcast(lex))
      .withColumn(
        "sim",
        graft.plans.JaroWinkler(lower(col("topic")), lower(col("term")))
      )
      .filter(col("sim") >= threshold)
      .select(col("topic"), lit("lexicon").as("ontology"), col("term"), col("sim"))
    val w = Window
      .partitionBy("topic")
      .orderBy(col("sim").desc, col("ontology"), col("term"))
    exact
      .unionAll(fuzzy)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("topic"),
        col("ontology"),
        col("term").as("matched_term"),
        round(col("sim"), 4).as("similarity")
      )
      .orderBy("topic")
  }

  /** xref10: the UpSet source-overlap MATRIX behind the reference's
    * fig2 (generate_paper_figures.py:196 `fig2_upset_source_overlap`:
    * `SELECT has_*, COUNT(*) FROM xref.unified_papers GROUP BY has_*`
    * plus the per-flag marginal bars the UpSet plot draws): xref03's
    * flag-combination counts generalized to ALL 2^k grouping sets via
    * CUBE — the exact combos AND every marginal in ONE map-side-
    * expanded partial-aggregating pass over the unified table, never
    * a union of per-set scans. GROUPING() markers disambiguate
    * "aggregated over this flag" from a real flag value, so the
    * UpSet intersection rows (all markers 0) and the set-size bars
    * (one marker 1) read out of the same frame.
    *
    * Scale shape: xref02's joins + one Expand×8 aggregate; output is
    * ≤ 3^k rows at any corpus size. */
  def xref10UpsetOverlap(lake: Lake): DataFrame = {
    // TWO-LEVEL aggregate: first fold the entity frame to its FINEST
    // grouping (the 8 flag combos — a plain groupBy whose partial agg
    // compresses perfectly, 8 groups per task), then CUBE the 8-row
    // result with count->sum. CUBE directly on the entity frame
    // Expands every row x8 BEFORE the partial aggregate — 48M
    // materialized rows through the hash at sf30 for marginals that
    // are pure arithmetic over the finest cells (measured 4.2 ->
    // 3.6 s at sf30, BASELINE round 13; count/sum are decomposable so
    // the result is identical).
    // Through the SQL surface (rel12's CUBE idiom): the DataFrame
    // cube+grouping() pair trips Spark's ambiguous-self-join detector
    // on xref02's lineage (customer feeds both the spine and the
    // profile leg); a view boundary gives CUBE a cleanly-resolved
    // child without disabling the detector.
    xref02Unified(lake)
      .groupBy("has_profile", "has_orders", "has_events")
      .agg(
        count(lit(1)).as("cnt"),
        sum("total_spent").as("val")
      )
      .createOrReplaceTempView("graft_xref10_fine")
    lake.spark.sql(
      """SELECT has_profile, has_orders, has_events,
        |  CAST(GROUPING(has_profile) AS BIGINT) AS g_profile,
        |  CAST(GROUPING(has_orders) AS BIGINT) AS g_orders,
        |  CAST(GROUPING(has_events) AS BIGINT) AS g_events,
        |  SUM(cnt) AS n_entities,
        |  ROUND(SUM(val), 4) AS total_value
        |FROM graft_xref10_fine
        |GROUP BY CUBE(has_profile, has_orders, has_events)
        |ORDER BY g_profile, g_orders, g_events,
        |  has_profile, has_orders, has_events""".stripMargin
    )
  }

  /** xref11: the ontology-reach HEATMAP matrix behind the reference's
    * fig5 (generate_paper_figures.py:669 `fig5_ontology_reach_heatmap`:
    * `SELECT domain, ontology, COUNT(*) FROM xref.topic_ontology_map
    * WHERE similarity >= 0.65 GROUP BY 1, 2` pivoted to a
    * domain × ontology matrix, ordered by total reach): composed over
    * xref07's tiered linkage output — the one reference analytics
    * surface that consumes the LINKAGE's own output rather than base
    * tables. Each topic's domain is its modal p_type among the parts
    * whose name carries the topic (argmax with deterministic
    * tiebreak — the 4-level-hierarchy rollup's assignment idiom);
    * the pivot uses EXPLICIT ontology values (rel13's discipline: no
    * distinct-values pre-job at scale).
    *
    * Scale shape: the topic→domain map and the linkage are both
    * vocabulary-bounded; the matrix is |domains| × |ontologies|. */
  def xref11OntologyReach(lake: Lake, threshold: Double = 0.65): DataFrame = {
    val topicDomain = lake.part
      .select(explode(split(col("p_name"), " ")).as("topic"), col("p_type").as("domain"))
      .groupBy("topic", "domain")
      .agg(count(lit(1)).as("n"))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("topic").orderBy(col("n").desc, col("domain"))
        )
      )
      .filter(col("rn") === 1)
      .select("topic", "domain")
    xref07TieredLinkage(lake)
      .filter(col("similarity") >= threshold)
      .join(broadcast(topicDomain), "topic")
      .groupBy("domain")
      .pivot("ontology", Seq("corpus_vocab", "lexicon"))
      .agg(count(lit(1)))
      .select(
        col("domain"),
        coalesce(col("corpus_vocab"), lit(0L)).as("n_corpus_vocab"),
        coalesce(col("lexicon"), lit(0L)).as("n_lexicon")
      )
      .withColumn("total", col("n_corpus_vocab") + col("n_lexicon"))
      .orderBy(col("total").desc, col("domain"))
  }

  /** xref12: CROSS-SOURCE COVERAGE BY YEAR — the reference's
    * coverage_by_year figure (generate_coverage_plots.py:241: per
    * publication-year totals with one line per source), computed over
    * xref02's unified frame. The year analog is the entity's FIRST
    * order year (rel08's year axis); entities with no dated activity
    * drop, exactly as the reference drops papers without a year. Each
    * row is one year with the per-source has_* coverage counts, the
    * full-coverage intersection, and the year's total value.
    *
    * Scale shape: the year table is one partial-aggregating groupBy
    * over orders (|entities| rows out); the join to the unified frame
    * is entity-keyed and shuffles dimension-sized sides only; the
    * report reduces to |years| rows with map-side combine. Nothing
    * here touches the corpus. */
  def xref12CoverageByYear(lake: Lake): DataFrame = {
    // The year axis rides xref02's ONE exchange (withFirstYear fuses
    // min(order year) into the unification aggregate) — the previous
    // form paid a SECOND 45M-row orders shuffle plus an entity join
    // for a column the kernel's aggregate could carry (measured
    // 7.4 -> 4.4 s at sf30, BASELINE round 13). Entities with no
    // dated activity have first_year null and drop, exactly as the
    // old inner join dropped them.
    xref02UnifiedCore(lake, withFirstYear = true)
      .filter(col("first_year").isNotNull)
      .withColumn("year", col("first_year"))
      .groupBy("year")
      .agg(
        count(lit(1)).as("n_entities"),
        sum(when(col("has_profile"), 1L).otherwise(0L)).as("n_profile"),
        sum(when(col("has_events"), 1L).otherwise(0L)).as("n_events_src"),
        sum(
          when(col("has_profile") && col("has_orders") && col("has_events"), 1L)
            .otherwise(0L)
        ).as("n_all_sources"),
        round(sum("total_spent"), 4).as("total_value")
      )
      .orderBy("year")
  }

  /** xref13: PER-ENTITY TEMPORAL DATA-QUALITY FLAGS — the reference's
    * `xref.paper_temporal_flags` view (create_unified_db.py:645-656:
    * per-paper booleans derived from the year vs each source's known
    * coverage window — sciscinet_metrics_stale for year > 2022,
    * ros_coverage_incomplete for year > 2023, year_missing). The
    * analog: the entity's first order year (xref12's year axis)
    * against this lake's activity window (order years run 1992-1998),
    * so events metrics are "stale" past 1996 and orders coverage
    * "incomplete" past 1997 — the same near-max-year cutoff shape.
    * Flags keep SQL three-valued logic exactly as the reference view
    * does: an entity with no dated activity has NULL year, so
    * `year > cutoff AND has_x` is NULL when has_x is true and FALSE
    * when has_x is false — only year_missing is always definite.
    *
    * Scale shape: a pure projection over xref02's single-exchange
    * unified frame (first_year rides the same aggregate); no new
    * shuffle, no corpus touch. */
  def xref13TemporalFlags(lake: Lake): DataFrame =
    xref02UnifiedCore(lake, withFirstYear = true)
      .select(
        col("entity_id"),
        col("first_year").as("year"),
        (col("first_year") > 1996L && col("has_events"))
          .as("events_metrics_stale"),
        (col("first_year") > 1997L && col("has_orders"))
          .as("orders_coverage_incomplete"),
        col("first_year").isNull.as("year_missing")
      )
      .orderBy("entity_id")

  /** xref09: BLOCKING-SCHEME quality — the record-linkage meta-metric
    * pair every blocked join in this engine rests on: REDUCTION RATIO
    * (fraction of the n² pair space a scheme prunes away) and PAIRS
    * COMPLETENESS (fraction of true-match pairs the blocks retain),
    * evaluated against the exact-duplicate gold set for two schemes —
    * content blocking (dedup03's df-capped shingle candidate
    * generator, `Dedup.cappedCandidates`, called without dedup03's
    * max-df guard) and attribute blocking (n_chars length bands via
    * evt09's bin-bucket idiom). The tension it quantifies is THE blocking
    * trade: both schemes are complete on exact-dup gold, but content
    * blocking prunes orders of magnitude more pairs per retained
    * match.
    *
    * Scale shape: gold is one fingerprint self-join (linear + group
    * sizes); the content candidate set is its own linear blocked join
    * (never n²); the length-band scheme is ANALYTIC — neither of its
    * two outputs needs the pair set, so none is built (VERDICT r6:
    * on a skewed real-corpus length distribution the materialized
    * band-pair set re-creates the near-quadratic blowup the metric is
    * supposed to be measuring):
    *   - n_candidates = Σ per-length density products over the ±W
    *     band (dedup09's analytic pair math) — the join runs over the
    *     LENGTH HISTOGRAM (|distinct lengths| rows), not the corpus;
    *   - gold_covered = an O(|gold|) filter on the gold pairs' own
    *     length difference — no join at all.
    * Metrics fold to one row per scheme via scalar crossJoins of
    * single-row aggregates; the content candidate frame is
    * localCheckpointed because it feeds two aggregates (count +
    * gold semi-join). */
  def xref09BlockingQuality(
      lake: Lake,
      lenWindow: Int = 40,
      maxDf: Int = 10000
  ): DataFrame = {
    val docs = lake.documents.select(col("doc_id"), col("n_chars"), col("text"))
    val fp = docs.select(
      col("doc_id"), col("n_chars"), text.bagFingerprint(col("text")).as("f"))
    // Gold pairs carry BOTH endpoint lengths so the length-band
    // coverage check is a predicate on this frame, not a re-join.
    val gold = fp
      .join(
        fp.select(col("doc_id").as("b"), col("n_chars").as("nb"), col("f")),
        "f")
      .filter(col("doc_id") < col("b"))
      .select(col("doc_id").as("doc_a"), col("b").as("doc_b"), col("n_chars").as("na"), col("nb"))
      .localCheckpoint(false)
    // scheme 1: content blocking — dedup03's df-capped candidates
    val candContent = Dedup
      .cappedCandidates(
        Dedup.shingleCorpus(docs, carry = Seq("n_chars")),
        maxDf,
        abs(col("n_chars") - col("n_chars_b")) <= lenWindow)
      .localCheckpoint(false)
    // scheme 2: attribute blocking — length bands, ANALYTIC. The pair
    // count a band join WOULD produce (each |diff| <= W pair exactly
    // once) from the length histogram: within-length c·(c−1)/2 plus
    // cross-length c_l·c_m for 0 < m−l <= W, the cross terms met via
    // the same one-sided 3-bin band join — but over |distinct
    // lengths| histogram rows, never |docs| rows.
    val nCandLength = lengthBandPairCount(docs, lenWindow)
    val goldCoveredLength = gold
      .filter(abs(col("na") - col("nb")) <= lenWindow)
      .agg(count(lit(1)).as("gold_covered"))
    val totals = docs.agg(count(lit(1)).cast("double").as("n"))
    val goldTotal = gold.agg(count(lit(1)).as("gold_total"))
    def schemeRow(
        name: String,
        nCand: DataFrame,
        goldCovered: DataFrame
    ): DataFrame =
      nCand
        .crossJoin(broadcast(goldTotal))
        .crossJoin(broadcast(goldCovered))
        .crossJoin(broadcast(totals))
        // try_divide: a ratio with no pairs (< 2 docs) or no gold
        // pairs is NULL, not a DIVIDE_BY_ZERO under ANSI
        .select(
          lit(name).as("scheme"),
          col("n_candidates"),
          round(
            lit(1.0) - try_divide(col("n_candidates"), col("n") * (col("n") - 1) / 2),
            4
          ).as("reduction_ratio"),
          col("gold_total"),
          col("gold_covered"),
          round(try_divide(col("gold_covered"), col("gold_total").cast("double")), 4)
            .as("completeness")
        )
    schemeRow(
      "content_shingle",
      candContent.agg(count(lit(1)).as("n_candidates")),
      gold.join(candContent, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("gold_covered"))
    )
      .unionAll(schemeRow("length_band", nCandLength, goldCoveredLength))
      .orderBy("scheme")
  }

  /** The number of unordered doc pairs with |n_chars diff| <= W,
    * computed from the length HISTOGRAM (dedup09's analytic density
    * products; VERDICT r6 #3) — one row per distinct length, so the
    * band join's input is |distinct lengths| whatever the corpus
    * size, and no doc-level pair ever exists. Returns one row,
    * column `n_candidates` (long, matching a count(*)). */
  private[graft] def lengthBandPairCount(
      docs: DataFrame,
      lenWindow: Int
  ): DataFrame = {
    val hist = docs
      .groupBy(col("n_chars").as("len"))
      .agg(count(lit(1)).as("c"))
    val probe = hist.withColumn(
      "bin",
      explode(array(
        expr(s"len div $lenWindow") - 1,
        expr(s"len div $lenWindow"),
        expr(s"len div $lenWindow") + 1))
    )
    val build = hist
      .select(col("len").as("m"), col("c").as("cm"))
      .withColumn("bin", expr(s"m div $lenWindow"))
    val cross = probe
      .join(build, Seq("bin"))
      .filter(col("len") < col("m") && col("m") - col("len") <= lenWindow)
      .agg(coalesce(sum(col("c") * col("cm")), lit(0L)).as("x"))
    // c·(c−1) is always even, so `div 2` is exact.
    val within = hist.agg(
      coalesce(expr("sum(c * (c - 1) div 2)"), lit(0L)).as("w"))
    cross
      .crossJoin(broadcast(within))
      .select((col("x") + col("w")).as("n_candidates"))
  }
}
