package graft.operators

import graft.Json
import graft.catalog.Lake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Catalog-level operations — the datalake_cli.py surface (status /
  * row counts / table info) as queryable DataFrames. */
object CatalogOps {

  /** Row count per table (datalake_cli.py `status` analog).
    *
    * One action, one shuffle: the per-table `agg(count)`-then-union
    * formulation compiled to ~10 independent aggregate stages that
    * AQE materialized as sequential job submissions — a pure
    * scheduling-floor cost (1.5-7 s for a trivial query). Instead,
    * union zero-column scans tagged with a table-name literal and run
    * ONE groupBy: each parquet scan reads no columns (row counts come
    * from row-group metadata, no data pages decoded), and the single
    * aggregate shuffles 10 partial-count rows.
    *
    * An EMPTY table contributes no scan rows and hence no group, so the
    * grouped counts are left-joined back onto the full catalog name
    * list — a status listing must show `(table, 0)` for an empty table,
    * not omit it. */
  def cat01Status(lake: Lake): DataFrame = {
    val spark = lake.spark
    import spark.implicits._
    val counted = lake.tableNames
      .map(name => lake.resolve(name).select(lit(name).as("table_name")))
      .reduce(_.unionAll(_))
      .groupBy("table_name")
      .agg(count(lit(1)).as("n_rows"))
    lake.tableNames
      .map(n => (lake.schemaOf(n), n))
      .toDF("schema_name", "table_name")
      .join(broadcast(counted), Seq("table_name"), "left")
      .select(
        col("schema_name"),
        col("table_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows")
      )
      .orderBy("schema_name", "table_name")
  }

  /** MERGE-style keyed upsert: rows from `updates` replace base rows
    * with the same key; unmatched update rows insert. The result is
    * the updates, one row per key, UNION ALL the base LEFT ANTI JOIN
    * the updates' keys — the `NOT EXISTS` form of ing01's DuckDB
    * oracle. A small batch (a commit) is broadcast, so the base is
    * scanned once with no exchange, sort or window over it; a batch
    * past the broadcast threshold falls back to Spark's size-based
    * shuffle join. At 100 TB a bucketed base table keeps that
    * fallback exchange-free on the base side (Ingest.writeBucketed).
    *
    * Precondition: the base's keys are unique and non-null, as in a
    * keyed table like `orders`; the output then holds one row per key.
    * The base is not de-duplicated: a base key that appears twice and
    * is not updated appears twice in the output. A NULL key never
    * matches, so a NULL-keyed base row survives beside a NULL-keyed
    * update. Keys duplicated WITHIN `updates` keep one of their rows,
    * with no defined winner — same as SQL MERGE.
    *
    * `merge_src` is retained as provenance (0 = from updates, 1 = from
    * base); callers that don't want it drop it. */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates
      .dropDuplicates(key)
      .withColumn("merge_src", lit(0))
      .unionByName(
        base
          .join(updates.select(key), Seq(key), "left_anti")
          .withColumn("merge_src", lit(1))
      )

  /** Snapshot diff — classify every key as added / removed / changed /
    * unchanged between two table versions (the audit a lake runs
    * after re-materializing a table, materialize_unified_papers.py's
    * refresh step). Full-outer shuffle join on the key; the compared
    * column set is explicit so "changed" is well-defined. */
  def snapshotDiff(
      before: DataFrame,
      after: DataFrame,
      key: String,
      compare: Seq[String]
  ): DataFrame = {
    val b = before.select((key +: compare).map(col): _*).withColumnRenamed(key, "_kb")
    val a = after
      .select((key +: compare).map(col): _*)
      .toDF(("_ka" +: compare.map(c => s"${c}_a")): _*)
    val joined = b.join(a, col("_kb") === col("_ka"), "full_outer")
    val changed = compare
      .map(c => !(col(c) <=> col(s"${c}_a")))
      .reduce(_ || _)
    joined.withColumn(
      "change_type",
      when(col("_kb").isNull, "added")
        .when(col("_ka").isNull, "removed")
        .when(changed, "changed")
        .otherwise("unchanged")
    )
  }

  /** ing01: upsert semantics under the exactness gate. The update
    * batch is synthesized deterministically from orders (price bump
    * for keys ≡ 0 mod 7; brand-new keys shifted by 10^7 for keys ≡ 0
    * mod 13); output aggregates the merged table per priority with a
    * from-updates count so precedence errors are visible. */
  def ing01Upsert(lake: Lake): DataFrame = {
    val base = lake.orders.select(
      "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    val updates = base
      .filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", round(col("o_totalprice") + lit(1.0), 4))
      .unionByName(
        base
          .filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
      )
    upsert(base, updates, "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("merge_src") === 0, 1)).as("n_from_updates"),
        round(sum("o_totalprice"), 4).as("total_price")
      )
      .orderBy("o_orderpriority")
  }

  /** cat02: snapshot-diff summary between orders and a synthesized
    * next version (10% of keys removed, every 7th price changed,
    * every 13th key re-inserted under a new id). */
  def cat02SnapshotDiff(lake: Lake): DataFrame = {
    val before = lake.orders.select("o_orderkey", "o_totalprice")
    val after = before
      .filter(col("o_orderkey") % 10 =!= 0)
      .withColumn(
        "o_totalprice",
        when(
          col("o_orderkey") % 7 === 0,
          round(col("o_totalprice") + lit(1.0), 4)
        ).otherwise(col("o_totalprice"))
      )
      .unionByName(
        before
          .filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
      )
    snapshotDiff(before, after, "o_orderkey", Seq("o_totalprice"))
      .groupBy("change_type")
      .agg(count(lit(1)).as("n_keys"))
      .orderBy("change_type")
  }

  /** Slowly-changing-dimension type-2 history from a change log: each
    * (key, effective_ts) change event becomes a versioned row with
    * [valid_from, valid_to) interval semantics — valid_to is the next
    * change's timestamp, null while current. The dimension-table shape
    * every warehouse keeps for "what was this attribute worth when
    * that fact happened" joins (the reference re-materializes
    * unified_papers wholesale; SCD2 is the incremental form of the
    * same audit trail).
    *
    * One shuffle on the key, then two window functions in a single
    * pass (row_number + lead share the frame); map-only otherwise —
    * the plan holds at any corpus size that can shuffle on the key.
    * Ties on effective_ts are ordered by `tiebreak`, producing
    * zero-length intervals rather than nondeterminism. */
  def scd2FromChangeLog(
      changes: DataFrame,
      key: String,
      ts: String,
      tiebreak: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(key).orderBy(col(ts), col(tiebreak))
    changes
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** ing02: SCD2 under the exactness gate — orders as a change log of
    * each customer's last order value (2% key sample keeps the dump
    * bounded; the window shape is identical at any fraction). */
  def ing02Scd2History(lake: Lake): DataFrame =
    scd2FromChangeLog(
      lake.orders
        .filter(col("o_custkey") % 50 === 0)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
      key = "o_custkey",
      ts = "o_orderdate",
      tiebreak = "o_orderkey"
    )
      .select(
        col("o_custkey"),
        col("version"),
        col("o_orderkey"),
        col("valid_from"),
        col("valid_to"),
        col("is_current"),
        col("o_totalprice")
      )
      .orderBy("o_custkey", "version")

  /** On-disk bytes for a table (file or directory of part files) —
    * the `status` disk-usage figure, computed from filesystem
    * metadata only. */
  private def diskBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }

  /** Catalog search (datalake_cli.py `search` analog): tables and
    * columns whose name matches the pattern, case-insensitive. Pure
    * schema metadata — no data read, result built driver-side. */
  def searchCatalog(lake: Lake, pattern: String): DataFrame = {
    val p = pattern.toLowerCase
    val spark = lake.spark
    import spark.implicits._
    val baseHits = lake.tableNames.sorted
      .flatMap { t =>
        val df = lake.resolve(t)
        // Table hits match on the QUALIFIED name, so "trade" or
        // "corpus.doc" find their tables just like a schema-qualified
        // search over the reference's unified db would.
        val tableHit =
          if (lake.qualified(t).toLowerCase.contains(p))
            Seq((t, "(table)", "", lake.schemaOf(t)))
          else Seq.empty
        tableHit ++ df.schema.fields.collect {
          case f if f.name.toLowerCase.contains(p) =>
            (t, f.name, f.dataType.simpleString, lake.schemaOf(t))
        }
      }
    // Derived xref views are part of the searchable catalog too (the
    // reference user greps CATALOG.md for `xref.doi_map` and finds
    // it). registerViews is idempotent (CREATE OR REPLACE); the
    // spark.sql probe is schema-only — the view never executes here.
    lake.registerViews()
    val derivedHits = lake.derivedViews.flatMap { case (v, _) =>
      val qn = s"${lake.derivedSchema}.$v"
      val df = spark.sql(s"SELECT * FROM $qn")
      val viewHit =
        if (qn.toLowerCase.contains(p))
          Seq((v, "(view)", "", lake.derivedSchema))
        else Seq.empty
      viewHit ++ df.schema.fields.collect {
        case f if f.name.toLowerCase.contains(p) =>
          (v, f.name, f.dataType.simpleString, lake.derivedSchema)
      }
    }
    (baseHits ++ derivedHits)
      .toDF("table_name", "column_name", "data_type", "schema_name")
  }

  /** Auto-generated catalog markdown — the datalake_cli.py:409
    * `cmd_catalog` analog, except REAL: where the reference prints
    * "regeneration is manual for now" and points at a hand-written
    * CATALOG.md, graft derives the document from the lake itself
    * (schema overview table, then per-schema sections with column
    * name/type/nullable rows and row counts), so it can never drift
    * from the data. One count scan per table, CLI-time only. */
  def catalogMarkdown(lake: Lake): String = {
    val sb = new StringBuilder
    sb ++= "# graft Data Lake Catalog\n\n"
    sb ++= s"Source directory: `${lake.dir}`\n\n"
    val bySchema = lake.tableNames.groupBy(lake.schemaOf).toSeq.sortBy(_._1)
    sb ++= "## Schemas\n\n"
    sb ++= "| Schema | Tables | Rows |\n|---|---|---|\n"
    val counts = lake.tableNames.map(n => n -> lake.resolve(n).count()).toMap
    bySchema.foreach { case (schema, tables) =>
      sb ++= s"| `$schema` | ${tables.sorted.map(t => s"`$t`").mkString(", ")} | ${tables.map(counts).sum} |\n"
    }
    bySchema.foreach { case (schema, tables) =>
      sb ++= s"\n## Schema `$schema`\n"
      tables.sorted.foreach { name =>
        val df = lake.resolve(name)
        sb ++= s"\n### `${lake.qualified(name)}` — ${counts(name)} rows\n\n"
        sb ++= "| Column | Type | Nullable |\n|---|---|---|\n"
        df.schema.fields.foreach { f =>
          sb ++= s"| `${f.name}` | ${f.dataType.simpleString} | ${f.nullable} |\n"
        }
      }
    }
    // Derived xref linkage views — the reference CATALOG.md documents
    // xref.doi_map/unified_papers as first-class catalog objects
    // (create_unified_db.py:513-577). View schemas come from the lazy
    // plan (no execution); no row counts, because these are
    // definitions, not stored tables.
    sb ++= s"\n## Schema `${lake.derivedSchema}` (derived views)\n"
    lake.registerViews()
    lake.derivedViews.foreach { case (v, _) =>
      val df = lake.spark.sql(s"SELECT * FROM ${lake.derivedSchema}.$v")
      sb ++= s"\n### `${lake.derivedSchema}.$v` — view\n\n"
      sb ++= "| Column | Type | Nullable |\n|---|---|---|\n"
      df.schema.fields.foreach { f =>
        sb ++= s"| `${f.name}` | ${f.dataType.simpleString} | ${f.nullable} |\n"
      }
    }
    sb.result()
  }

  /** LLM-friendly dataset description: per-table row counts, on-disk
    * bytes + column schema as one JSON document (datalake_cli.py:
    * 124-230 `info`, the datalake.json/SCHEMA.md analog). Counts are
    * parquet-footer metadata scans; the schema comes from the file
    * footers, never a data read. */
  def infoJson(lake: Lake): String = {
    val tables = lake.tableNames.sorted.map { name =>
      val df = lake.resolve(name)
      val fields = df.schema.fields
        .map(f =>
          s"""{"name":${Json.quote(f.name)},"type":${Json.quote(f.dataType.simpleString)},"nullable":${f.nullable}}"""
        )
        .mkString("[", ",", "]")
      val rows = df.count()
      val bytes = diskBytes(s"${lake.dir}/$name.parquet")
      s"""{"table":${Json.quote(name)},"n_rows":$rows,"n_bytes":$bytes,"n_columns":${df.schema.size},"columns":$fields}"""
    }
    s"""{"dir":${Json.quote(lake.dir)},"n_tables":${tables.size},"tables":${tables
        .mkString("[", ",", "]")}}"""
  }

  /** cat03: ANALYZE-style per-column statistics — row count, non-null
    * count, NDV, min/max — the table metadata a cost-based planner
    * (and the reference's CATALOG.md listing) consumes.
    *
    * ONE aggregate pass per table computes every column's stats at
    * once, then `stack` unpivots the wide row to long format — the
    * per-column-per-agg formulation would pay cat01's measured
    * scheduling-floor cost once per column. Exact NDV (the oracle
    * path) plans an Expand that replicates scan rows once per
    * DISTINCT column; `approx = true` swaps in HLL
    * approx_count_distinct, which keeps the pass fully map-side
    * partial and is the only sane choice at 100 TB (the spec pins the
    * two paths within HLL tolerance of each other).
    *
    * DEFAULT POLICY (decade-probed, BASELINE.md round 12): `approx =
    * true` is the SCALE default — measured flat 1.2 → 1.7 s across
    * sf1→sf10 (e≈0.15, pure floor) while the exact Expand path runs
    * linear with a large constant (2.0 → 9.2 s, 10× DuckDB's exact
    * NDV at sf10). The parameter defaults to `false` only because the
    * exact form is the oracle-checkable one (bit-equal to DuckDB
    * COUNT(DISTINCT)) — a production catalog-stats job at any real
    * volume should pass `approx = true`. min/max are
    * emitted as strings so one long frame carries every column type;
    * only string/integer/date columns are profiled here — float
    * rendering differs across engines, and a planner wants their
    * RANGE, which the cast preserves for the profiled types. */
  def cat03ColumnStats(lake: Lake, approx: Boolean = false): DataFrame = {
    val tables: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("documents", lake.documents, Seq("doc_id", "lang", "source", "n_chars")),
      ("orders", lake.orders, Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    )
    val perTable = tables.map { case (tname, df, cols) =>
      def ndv(c: String) =
        if (approx) approx_count_distinct(col(c), 0.02).as(s"nd_$c")
        else countDistinct(col(c)).as(s"nd_$c")
      val aggs = cols.flatMap(c =>
        Seq(
          count(col(c)).as(s"nn_$c"),
          ndv(c),
          min(col(c)).cast("string").as(s"mn_$c"),
          max(col(c)).cast("string").as(s"mx_$c")
        )) :+ count(lit(1)).as("n_rows")
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val stacked = cols
        .map(c => s"'$c', nn_$c, nd_$c, mn_$c, mx_$c")
        .mkString(s"stack(${cols.size}, ", ", ", ")")
      wide.select(
        lit(tname).as("table_name"),
        col("n_rows"),
        expr(s"$stacked AS (column_name, n_nonnull, n_distinct, min_val, max_val)")
      )
    }
    perTable
      .reduce(_.unionAll(_))
      .select(
        col("table_name"), col("column_name"), col("n_rows"),
        col("n_nonnull"), col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy("table_name", "column_name")
  }

  /** The Morton (Z-order) key over two 16-bit grid cells — bit i of
    * x lands at z-bit 2i, bit i of y at 2i+1. Values are reduced mod
    * 2^16 to grid CELLS first (the standard trick: Z-ordering needs
    * bounded bit-width, and locality within a cell grid is what the
    * min/max file-skipping stats consume). Map-only: a 16-step HOF
    * fold per row, no shuffle, codegen-friendly. */
  private[graft] def mortonZ(xCol: String, yCol: String) =
    expr(
      s"""aggregate(sequence(0, 15), CAST(0 AS BIGINT),
         |  (a, i) -> a
         |    + shiftleft(shiftright($xCol, i) & CAST(1 AS BIGINT), 2 * i)
         |    + shiftleft(shiftright($yCol, i) & CAST(1 AS BIGINT), 2 * i + 1))""".stripMargin
    )

  /** Orders tagged with their Z-order key over (customer, order-day)
    * — the two-dimensional filter pair an orders workload actually
    * hits (per-customer lookups AND date-range scans). Each dimension
    * scales into its 16-bit grid by OBSERVED min/max (one broadcast
    * 1-row stats pass): raw values mod 2^16 would leave the high z
    * bits constant whenever a dimension's range is narrower than the
    * grid, collapsing every row into one bucket. Integer arithmetic
    * (scale-then-integer-divide, both operands non-negative) so both
    * engines land on identical cells. Heavy skew would want
    * rank-based cells instead (a global sort) — min/max scaling is
    * the map-only form and matches what file-skipping stats see. */
  private def ordersWithZ(lake: Lake): DataFrame = {
    // full orders payload rides along — the write path
    // (zorderPartitioned) must emit the actual table, not just the
    // derived grid columns
    val base = lake.orders
      .withColumn("cx", col("o_custkey"))
      .withColumn(
        "cy",
        datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long")
      )
    val stats = base.agg(
      min("cx").as("minx"),
      max("cx").as("maxx"),
      min("cy").as("miny"),
      max("cy").as("maxy")
    )
    base
      .crossJoin(broadcast(stats))
      .withColumn("x", expr("(cx - minx) * 65536 div (maxx - minx + 1)"))
      .withColumn("y", expr("(cy - miny) * 65536 div (maxy - miny + 1)"))
      .withColumn("z", mortonZ("x", "y"))
      .drop("cx", "cy", "minx", "maxx", "miny", "maxy")
  }

  /** cat04: Z-ORDER layout audit — the OPTIMIZE-ZORDER-BY analog for
    * a lakehouse table (Delta/Iceberg's multidimensional clustering):
    * rows map to a Morton key over (customer, order-day), keys group
    * into 2^bucketBits contiguous z-ranges (the file boundaries a
    * z-ordered write would produce), and the audit reports each
    * bucket's row count and min/max EXTENT in both dimensions — the
    * exact numbers a scan planner's file-skipping consults. The point
    * a linear sort cannot match: sorting by customer alone leaves
    * every file spanning the full date range (and vice versa);
    * Z-order bounds BOTH extents per bucket, so 2-D predicates prune
    * files (spec-pinned: mean bucket extent area is a small fraction
    * of the full grid area; a 1-D layout's area ratio is ~1).
    *
    * Scale: the key is a map-only fold, the audit is one
    * partial-aggregating groupBy to 2^bucketBits rows. The physical
    * write path is [[zorderPartitioned]] (range-partition by z, sort
    * within partitions) — same key, actual file layout. */
  def cat04ZorderLayout(lake: Lake, bucketBits: Int = 6): DataFrame =
    ordersWithZ(lake)
      .withColumn("bucket", shiftright(col("z"), 32 - bucketBits))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        min("x").as("min_x"),
        max("x").as("max_x"),
        min("y").as("min_y"),
        max("y").as("max_y"),
        ((max("x") - min("x") + lit(1L)) *
          (max("y") - min("y") + lit(1L))).as("extent_area")
      )
      .orderBy("bucket")

  /** The physical layout: orders range-partitioned by the Morton key
    * and sorted within partitions — what a z-ordered OPTIMIZE write
    * materializes (each output file = one tight z-range, so its
    * parquet footer min/max on BOTH dims is narrow). Returned as a
    * DataFrame so callers choose the sink. */
  def zorderPartitioned(lake: Lake, nParts: Int = 8): DataFrame =
    ordersWithZ(lake)
      .drop("x", "y")
      .repartitionByRange(nParts, col("z"))
      .sortWithinPartitions("z")

  /** cat05: file-skipping PRUNE AUDIT — the measurement behind
    * cat04's layout claim. A deterministic 4×4 grid of 2-D range
    * predicates (half-width windows over (customer-cell, day-cell)
    * space — the per-customer + date-range shape the workload
    * actually runs) is tested against each layout's per-file
    * min/max extents, exactly the check a scan planner makes against
    * parquet footers: a file is SCANNED iff its extent intersects
    * the predicate window. Reported per (layout, predicate):
    * files scanned, fraction of rows scanned, and the predicate's
    * true selectivity — so `frac_rows_scanned − selectivity` is the
    * read amplification the layout costs. Two layouts compared:
    * the z-order buckets (cat04's boundaries) and a 1-D
    * sort-by-customer layout (equal x-cell-range files) — the
    * 1-D layout prunes x-windows perfectly but scans ~every file
    * for the y half of each predicate, which is the number that
    * justifies OPTIMIZE ZORDER on 2-D workloads.
    *
    * Soundness invariant (spec-pinned): every bucket containing a
    * matching row intersects the window, so frac_rows_scanned >=
    * selectivity for every (layout, predicate) — pruning never
    * drops a qualifying row.
    *
    * Scale shape: ONE pass over orders to Morton cells
    * (checkpointed narrow), two bounded extent aggregations (64
    * rows each), one exact-selectivity aggregation folded from the
    * same pass (the window grid is stride-aligned, so per-row
    * (window, in/out) is arithmetic — the corpus never crosses the
    * predicate table), then arithmetic over 64×16-row frames. */
  def cat05PruneAudit(lake: Lake, bucketBits: Int = 6): DataFrame = {
    val xy = ordersWithZ(lake)
      .select(col("x"), col("y"), col("z"))
      .localCheckpoint() // three bounded consumers, one corpus scan
    def extents(bucket: org.apache.spark.sql.Column, layout: String) =
      xy.groupBy(bucket.as("bucket"))
        .agg(
          count(lit(1)).as("n_rows"),
          min("x").as("min_x"),
          max("x").as("max_x"),
          min("y").as("min_y"),
          max("y").as("max_y")
        )
        .withColumn("layout", lit(layout))
    val buckets = extents(shiftright(col("z"), 32 - bucketBits), "zorder")
      .unionByName(extents(shiftright(col("x"), 16 - bucketBits), "linear_x"))
    val preds = lake.spark
      .range(16)
      .select(
        col("id").as("qid"),
        (expr("id div 4") * 16384).as("x_lo"),
        (expr("id div 4") * 16384 + 8192).as("x_hi"),
        (expr("id % 4") * 16384).as("y_lo"),
        (expr("id % 4") * 16384 + 8192).as("y_hi")
      )
    val sel = xy
      .filter(expr("x % 16384 < 8192") && expr("y % 16384 < 8192"))
      .groupBy((expr("x div 16384") * 4 + expr("y div 16384")).as("qid"))
      .agg(count(lit(1)).as("n_match"))
    val total = xy.agg(count(lit(1)).as("total"))
    val scanned = col("min_x") < col("x_hi") && col("max_x") >= col("x_lo") &&
      col("min_y") < col("y_hi") && col("max_y") >= col("y_lo")
    buckets
      .crossJoin(broadcast(preds))
      .groupBy("layout", "qid")
      .agg(
        count(when(scanned, 1)).as("n_buckets_scanned"),
        sum(when(scanned, col("n_rows")).otherwise(0L)).as("rows_scanned")
      )
      .join(broadcast(sel), Seq("qid"), "left")
      .crossJoin(broadcast(total))
      .select(
        col("layout"),
        col("qid"),
        col("n_buckets_scanned"),
        round(col("rows_scanned").cast("double") / col("total"), 4)
          .as("frac_rows_scanned"),
        round(
          coalesce(col("n_match"), lit(0L)).cast("double") / col("total"),
          4
        ).as("selectivity")
      )
      .orderBy("layout", "qid")
  }
}
