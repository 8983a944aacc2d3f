package graft.operators

import graft.catalog.Lake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Relational/analytical core — the reference's SQL-view + vignette
  * query surface re-expressed as declarative DataFrame plans.
  *
  * Reference shapes covered: multi-agg group-bys with FILTERed counts
  * (notebooks/vignette_*.ipynb), CASE bucketing (vignette_4), corr()
  * stats (vignette_4), year trends with percentages (vignettes 1-3),
  * top-N joins (vignette_3), UNION ALL source maps
  * (scripts/create_unified_db.py:513-577).
  *
  * Scale notes: fixed-size dimensions (region/nation) carry broadcast
  * hints; SF-scaling dimensions (customer/supplier/part) are left to
  * AQE so plans degrade to shuffle joins instead of OOMing at 100x;
  * fact-side aggregations are partial-agg friendly
  * (plain hash aggregates over codegen'd expressions); every top-N is a
  * shuffle-then-take over already-aggregated (small) data.
  */
object Relational {

  /** TPC-H Q1 shape: scan-heavy multi-aggregate with pushed-down
    * range filter. At 100 TB this is the pure-scan benchmark: filter +
    * projection reach parquet, partial aggregation means the shuffle
    * carries only |groups| rows. */
  def q01PricingSummary(lake: Lake): DataFrame =
    lake.lineitem
      .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(
          sum(
            col("l_extendedprice") * (lit(1) - col("l_discount")) *
              (lit(1) + col("l_tax"))
          ),
          4
        ).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3 shape: selective dim filter -> fact join -> top-N.
    * customer is broadcast into orders; orders⋈lineitem shuffles on
    * orderkey only. */
  def q03ShippingPriority(lake: Lake): DataFrame = {
    val cutoff = lit("1998-06-15").cast("timestamp")
    val cust = lake.customer.filter(col("c_mktsegment") === "BUILDING")
    val ord = lake.orders.filter(col("o_orderdate") < cutoff)
    val li = lake.lineitem.filter(col("l_shipdate") > cutoff)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      // customer grows with SF (150k x SF): no forced broadcast hint —
      // AQE picks broadcast while the filtered dim fits, degrades to a
      // shuffle join gracefully at 100x instead of OOMing the driver.
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue")
      )
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q4 shape: EXISTS over lineitem per in-range order.
    *
    * Round-13 kernel (BASELINE round 13, q04/q10 decade closure: sf30,
    * min-of-4 interleaved, judge round-12 #4): build the SMALL side,
    * probe the raw key stream — DuckDB's own mark-join shape. The
    * date-filtered orders
    * (~14% selectivity) build a shuffled-hash map, the raw lineitem
    * keys probe it (inner), and countDistinct de-multiplies — the
    * clustered ~4-rows-per-key probe output partial-dedups MAP-SIDE,
    * so the aggregate's exchange carries ~|matched orders| rows.
    * Spark 4.1 has no LeftSemi build-left shuffled-hash join
    * (JoinSelectionHelper.canBuildShuffledHashJoinLeft: inner/outer
    * only), so inner + countDistinct IS the expressible form of the
    * small-side-build semi join. Measured sf30: 9.97 s (round-12
    * distinct + sort-merge semi) -> 5.82 s; the losing shapes and
    * the stage floor (the 45M-key distinct ALONE costs 8.6-11.9 s —
    * more than this whole query) are recorded in BASELINE round 13.
    * Remaining ~4x vs DuckDB (1.44 s) is the co-partitioning
    * exchange of the 180M-key probe stream — single-process DuckDB
    * probes in place; any non-broadcast cluster join must move the
    * stream once. */
  def q04OrderPriority(lake: Lake): DataFrame =
    lake.orders
      .filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")
      )
      .hint("shuffle_hash")
      .join(
        lake.lineitem.select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey")
      )
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_orderkey")).as("order_count"))
      .orderBy("o_orderpriority")

  /** TPC-H Q5 shape: star join — fixed-size dims (region/nation) are
    * hint-broadcast; scaling dims (customer/supplier, 150k/10k x SF)
    * are left to AQE, which broadcasts them while they fit and falls
    * back to shuffle joins at scale factors where a forced hint would
    * OOM. Facts shuffle on their join keys only. */
  def q05RegionVolume(lake: Lake): DataFrame =
    lake.lineitem
      .join(lake.orders, col("l_orderkey") === col("o_orderkey"))
      .join(lake.customer, col("o_custkey") === col("c_custkey"))
      .join(
        lake.supplier,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey")
      )
      .join(broadcast(lake.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(lake.region), col("n_regionkey") === col("r_regionkey"))
      .filter(
        col("r_name") === "EUROPE" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")
      )
      .groupBy("n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue")
      )
      .orderBy(col("revenue").desc, col("n_name"))

  /** TPC-H Q6 shape: the predicate-pushdown showcase — all three
    * filters reach the parquet scan; result is a single partial-agg'd
    * scalar. */
  def q06RevenueForecast(lake: Lake): DataFrame =
    lake.lineitem
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 24
      )
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_items")
      )

  /** Join + group + top-N on a broadcast dim (vignette_3 "top fields
    * by patent impact" shape). */
  def q07TopParts(lake: Lake): DataFrame =
    lake.lineitem
      // part scales with SF (200k x SF): AQE decides broadcast vs shuffle
      .join(lake.part, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        round(sum("l_quantity"), 4).as("total_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_lines")
      )
      .orderBy(col("revenue").desc, col("p_brand"))
      .limit(10)

  /** TPC-H Q10 shape: returned-items accounting, customer-level top-N.
    *
    * Round-13 kernel (BASELINE round 13, q04/q10 decade closure: sf30,
    * min-of-4 interleaved, judge round-12 #4): aggregate by the LONG
    * custkey right after the orders attach, BEFORE customer/nation
    * join — the customer-level
    * aggregate then exchanges <=|customers| narrow (long, double)
    * rows instead of 45M rows keyed by (custkey, name-string,
    * nation-string), and the name columns join onto the aggregated
    * frame (c_custkey -> c_name/n_name is functional, so the grouping
    * is identical). Both fact joins are shuffled-hash (sort-free;
    * build sides are the narrow orders projection and the
    * post-aggregate <=|customers| frame). Measured sf30: 10.5-11.7 s
    * (round-12 SMJ chain) -> 8.09 s = 1.7x DuckDB's 4.72 — under the
    * 2x bar; the variant ladder is in BASELINE round 13. */
  def q10ReturnedItems(lake: Lake): DataFrame =
    lake.lineitem
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(
        lake.orders.select("o_orderkey", "o_custkey").hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey")
      )
      .groupBy("o_custkey")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue")
      )
      .join(
        lake.customer.hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey")
      )
      .join(broadcast(lake.nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** Running total per customer — window scoped to the partition key,
    * so the only shuffle is the hash-partition on o_custkey. */
  def rel01RunningTotal(lake: Lake): DataFrame = {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lake.orders.select(
      col("o_custkey"),
      col("o_orderkey"),
      col("o_orderdate"),
      round(sum("o_totalprice").over(w), 4).as("running_total")
    )
  }

  /** Top-3 orders per customer via row_number — the reference's
    * keep-best-per-group idiom (run_baseline_comparisons.py:154). */
  def rel02TopNPerGroup(lake: Lake): DataFrame = {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    lake.orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(
        col("o_custkey"),
        col("rn").cast("long").as("rn"),
        col("o_orderkey"),
        col("o_totalprice")
      )
  }

  /** Exact distinct aggregation per group (expand-based in Spark;
    * at scale prefer approx_count_distinct — kept exact here to match
    * the DuckDB oracle). */
  def rel03DistinctAgg(lake: Lake): DataFrame =
    lake.customer
      .groupBy("c_mktsegment")
      .agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        count(lit(1)).as("n_customers"),
        // c_acctbal holds cents: the mean of its DECIMAL(15,2) cast is
        // exact, where a double sum's last bit (and so a 4dp rounding
        // boundary) moved with the partition order.
        round(avg(col("c_acctbal").cast(DecimalType(15, 2))), 4)
          .cast(DoubleType).as("avg_acctbal")
      )
      .orderBy("c_mktsegment")

  /** CASE bucketing histogram (vignette_4 "divergence by citation
    * magnitude" shape). */
  def rel04BucketHistogram(lake: Lake): DataFrame = {
    val bucket = when(col("o_totalprice") < 50000, "0-50k")
      .when(col("o_totalprice") < 150000, "50k-150k")
      .when(col("o_totalprice") < 300000, "150k-300k")
      .otherwise("300k+")
    lake.orders
      .groupBy(bucket.as("price_bucket"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(avg("o_totalprice"), 4).as("avg_price")
      )
      .orderBy("price_bucket")
  }

  /** Correlation / dispersion stats (vignette_4 citation-reliability
    * shape: corr + avg abs diff between sources). */
  def rel05CorrStats(lake: Lake): DataFrame =
    lake.lineitem.agg(
      round(corr("l_quantity", "l_extendedprice"), 4).as("corr_qty_price"),
      round(corr("l_discount", "l_extendedprice"), 4).as("corr_disc_price"),
      round(stddev_samp(col("l_extendedprice")), 4).as("stddev_price"),
      round(avg(abs(col("l_extendedprice") - col("l_quantity") * lit(1000))), 4)
        .as("avg_abs_diff")
    )

  /** UNION ALL with a source tag — the xref.doi_map idiom
    * (create_unified_db.py:523-576) on relational entities. */
  def rel06UnionEntities(lake: Lake): DataFrame = {
    val c = lake.customer.select(
      lit("customer").as("source"),
      col("c_custkey").cast("long").as("entity_id"),
      lower(col("c_name")).as("entity_name"),
      col("c_nationkey").cast("long").as("nationkey")
    )
    val s = lake.supplier.select(
      lit("supplier").as("source"),
      col("s_suppkey").cast("long").as("entity_id"),
      lower(col("s_name")).as("entity_name"),
      col("s_nationkey").cast("long").as("nationkey")
    )
    c.unionAll(s).orderBy("source", "entity_id")
  }

  /** Anti join: customers with no large order (sanity-check shape). */
  def rel07AntiJoin(lake: Lake): DataFrame =
    lake.customer
      .join(
        lake.orders.filter(col("o_totalprice") > 350000).select("o_custkey"),
        col("c_custkey") === col("o_custkey"),
        "left_anti"
      )
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** Hierarchical subtotals via ROLLUP — the multi-level coverage
    * summary shape (region total -> nation -> grand total). */
  def rel09Rollup(lake: Lake): DataFrame = {
    // Expressed through the spark.sql surface (Lake.registerViews):
    // the DataFrame rollup + orderBy formulation trips the analyzer's
    // ambiguous-self-join heuristic on the nullable grouping output.
    lake.registerViews()
    lake.spark.sql(
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  ROUND(SUM(c_acctbal), 4) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin
    )
  }

  /** TPC-H Q12 shape (adapted to this schema: priority instead of the
    * absent shipmode): per order priority, lineitems shipped > 90
    * days after the order date. Fact-fact equi-join on orderkey — at
    * scale both sides shuffle-partition once on the key (bucketed
    * ingest makes it exchange-free); the conditional count is a
    * map-side partial aggregate. */
  def q12LateShipments(lake: Lake): DataFrame = {
    val late = datediff(col("l_shipdate"), col("o_orderdate")) > 90
    lake.lineitem
      .join(lake.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lineitems"),
        count(when(late, 1)).as("n_late"),
        round(
          count(when(late, 1)).cast("double") * 100 / count(lit(1)),
          4
        ).as("late_pct")
      )
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q14 shape: promo revenue share per ship year. part is
    * hint-broadcast (fixed-size dim); revenue sums are map-side
    * partial. */
  def q14PromoRevenue(lake: Lake): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val promoRev = when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))
    lake.lineitem
      .join(broadcast(lake.part), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(
        round(sum(promoRev) * 100 / sum(rev), 4).as("promo_pct"),
        round(sum(rev), 4).as("total_revenue"),
        count(lit(1)).as("n_lineitems")
      )
      .orderBy("ship_year")
  }

  /** CUBE over (priority, status) with GROUPING flags — all four
    * grouping sets in one pass. Like ROLLUP, the grouping-set
    * expansion is map-side partial aggregation (4x the partial rows,
    * one shuffle, no extra scan); expressed via spark.sql for the
    * same analyzer reason as rel09. */
  def rel12Cube(lake: Lake): DataFrame = {
    lake.registerViews()
    lake.spark.sql(
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice), 4) AS total_price
        |FROM orders
        |GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority ASC NULLS FIRST,
        |  o_orderstatus ASC NULLS FIRST""".stripMargin
    )
  }

  /** rel15: non-hierarchical GROUPING SETS — the grouped-aggregation
    * form ROLLUP (rel08/rel09) and CUBE (rel12) cannot express:
    * independent marginals ((returnflag), (linestatus)) with no
    * combined cell and no grand total. One pass — Spark expands the
    * sets through a single Expand node feeding one partial-aggregating
    * exchange, where the hand-written alternative (UNION ALL of two
    * groupBys) scans the fact table once per set at 100 TB. Uses
    * Spark 4's DataFrame-native Dataset.groupingSets (rel12 pins the
    * SQL-text spelling of the same family); GROUPING() markers
    * disambiguate a real NULL key from a set's absent column. */
  def rel15GroupingSets(lake: Lake): DataFrame =
    lake.lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"),
        col("l_linestatus")
      )
      .agg(
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"),
        count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 4).as("sum_qty")
      )
      .orderBy(
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first
      )

  /** Status pivot: one row per priority, one count column per order
    * status. Spark's `pivot` with EXPLICIT values — at scale an
    * implicit pivot first runs a distinct-values job over the fact
    * table; pinning the columns keeps it a single-pass groupBy whose
    * output schema is known at plan time. */
  def rel13Pivot(lake: Lake): DataFrame =
    lake.orders
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .select(
        col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("n_open"),
        coalesce(col("F"), lit(0L)).as("n_filled"),
        coalesce(col("P"), lit(0L)).as("n_pending")
      )
      .orderBy("o_orderpriority")

  /** Exact interpolated percentiles (DuckDB quantile_cont semantics =
    * Spark `percentile`). At 100 TB switch to approx_percentile with
    * a bounded error budget; exact is kept here to oracle-match. */
  def rel10Percentiles(lake: Lake): DataFrame =
    lake.orders
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n_orders")
      )
      .orderBy("o_orderpriority")

  /** TPC-H Q18 shape: large-volume orders via groupBy-HAVING then
    * join back to customers. */
  def q18LargeOrders(lake: Lake, minQty: Double = 300.0): DataFrame = {
    // repartition-before-aggregate (xref02's round-12 lesson): an
    // orderkey's ~4 lineitems scatter across map tasks, so partial
    // aggregation compresses ~nothing while its per-task hash map
    // carries millions of keys and spills at scale; shuffling the raw
    // (key, qty) pairs first runs the aggregate once, spill-free, and
    // the exchange volume is what the partial output would have been
    // anyway. Neutral at sf10 (3.91 vs 3.78 s, within noise — the
    // joins dominate there), ~9% and visibly steadier at sf30 (11.8
    // -> 10.7 s min, sweep spread 50/29/12 -> 15/12/11); the slope
    // favors it from here up (BASELINE.md round 12).
    val big = lake.lineitem
      .select(col("l_orderkey"), col("l_quantity"))
      .repartition(col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 4).as("total_qty"))
      .filter(col("total_qty") > minQty)
    big
      .join(lake.orders, col("l_orderkey") === col("o_orderkey"))
      .join(lake.customer, col("o_custkey") === col("c_custkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("o_orderkey"),
        col("o_orderdate"),
        col("o_totalprice"),
        col("total_qty")
      )
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Sketch-based approximate aggregates — the 100 TB form of
    * rel03/rel10 (exact distinct and exact percentiles hold all
    * values per group; HLL++ and the percentile sketch hold constant
    * state per group regardless of cardinality). [rows-only: sketch
    * internals differ engine to engine; RelationalSpec asserts the
    * estimates land within tolerance of the exact operators.] */
  def rel11ApproxStats(lake: Lake): DataFrame =
    lake.orders
      .groupBy("o_orderpriority")
      .agg(
        round(expr("approx_percentile(o_totalprice, 0.5, 10000)"), 4).as("p50_approx"),
        round(expr("approx_percentile(o_totalprice, 0.9, 10000)"), 4).as("p90_approx"),
        approx_count_distinct(col("o_custkey"), 0.02).as("n_cust_approx"),
        count(lit(1)).as("n_orders")
      )
      .orderBy("o_orderpriority")

  /** Year trend with percentage (vignette_1 "fraction of disruptive
    * papers with code by year" shape). */
  def rel08YearTrend(lake: Lake): DataFrame =
    lake.orders
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("n_urgent"),
        round(
          lit(100.0) *
            sum(when(col("o_orderpriority") === "1-URGENT", 1.0).otherwise(0.0)) /
            count(lit(1)),
          4
        ).as("pct_urgent"),
        round(sum("o_totalprice"), 4).as("total_value")
      )
      .orderBy("order_year")

  /** rel16: the remaining analytic-window surface in one pass —
    * lag/lead (neighbor rows), ntile (equi-depth quartiles),
    * percent_rank and cume_dist (rank normalizations) over each
    * customer's order history. All five share ONE window (same
    * partition + order), so Catalyst plans a single sort and a single
    * WindowExec — five functions, one shuffle on the partition key,
    * the shape that holds at any fact size because windows partition
    * by a data-parallel key (never the empty global frame).
    * Determinism: the order key (o_orderdate, o_orderkey) is unique
    * per partition. */
  def rel16WindowSuite(lake: Lake, maxCust: Long = 200L): DataFrame = {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    lake.orders
      .filter(col("o_custkey") < maxCust)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        round(col("o_totalprice"), 4).as("price"),
        round(lag("o_totalprice", 1).over(w), 4).as("prev_price"),
        round(lead("o_totalprice", 1).over(w), 4).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume")
      )
      .orderBy("o_custkey", "o_orderkey")
  }

  /** rel14: corpus-wide frequent tokens via the mergeable Misra-Gries
    * sketch (plans/FrequentItemsSketch) — the one-pass bounded-memory
    * form of txt06's exact top-n-grams. Exact top-k needs a shuffle of
    * every distinct token; the sketch ships `capacity` counters per
    * partition and merges once, with deterministic per-item bounds
    * [count_lb, count_ub] and a survival guarantee for anything above
    * n/(capacity+1). [rows-only]: estimates depend on partition order
    * by design; the bounds/containment contract is spec-pinned against
    * exact counts instead. */
  def rel14HeavyHitters(
      lake: Lake,
      capacity: Int = 256,
      k: Int = 20
  ): DataFrame = {
    import graft.functions.text
    val toks = lake.documents
      .select(explode(text.tokens(col("text"))).as("w"))
    toks
      .agg(graft.plans.FrequentItemsSketch(col("w"), capacity, k).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        (col("pos") + 1).cast("long").as("rank"),
        col("entry.item").as("item"),
        col("entry.count_lb").as("count_lb"),
        col("entry.count_ub").as("count_ub")
      )
      .orderBy("rank")
  }
}
