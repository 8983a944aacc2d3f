package graft.catalog

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Catalog over a directory of parquet tables — the Spark-native analog
  * of the reference's view-only DuckDB file (reference:
  * scripts/create_unified_db.py — 159 views over parquet globs; the db
  * stores definitions, never data).
  *
  * `table(name)` is a lazy logical scan: Catalyst sees the parquet
  * relation directly, so column pruning and predicate pushdown reach
  * the file scan. `registerViews()` additionally exposes every table to
  * `spark.sql(...)` by name, mirroring the reference's
  * schema-namespaced SQL surface.
  */
final case class Lake(spark: SparkSession, dir: String) {

  /** Resolve with an EXPLICIT schema: a bare `spark.read.parquet`
    * runs a footer-reading Spark job per call to infer the schema,
    * and the suite resolves each table once per query invocation.
    * [[Lake.schemaFor]] reads the same footer on the driver instead,
    * and caches the StructType per path under the table's
    * (name, mtime, length) fingerprint — a rewritten table is read
    * again, an unchanged one is not. Either way no Spark job runs.
    * Data is never cached — only the StructType. */
  def table(name: String): DataFrame = scan(name, Lake.schemaFor(spark, pathOf(name)))

  private def scan(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(pathOf(name))

  private def pathOf(name: String): String = s"$dir/$name.parquet"

  // The driver-generated star schema (TESTDATA.md).
  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")

  /** events.ts normalizer — the generated file has shipped with two
    * physical layouts across testdata generations, and every operator
    * downstream expects one logical type (TIMESTAMP, UTC session):
    *   - TIMESTAMP(NANOS): Spark's schema converter rejects it, so read
    *     raw nanos (legacy.parquet.nanosAsLong) and truncate to micros —
    *     the same truncation DuckDB applies when it loads ns timestamps.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
    *     TIMESTAMP_NTZ; cast to TIMESTAMP — value-identical under the
    *     UTC session zone GraftSession/Verify pin.
    * Branch on the observed schema so either layout works. */
  def events: DataFrame = {
    // Harmless when ts is already micros; required before the scan can
    // even resolve a nanos schema.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEvents(table("events"))
  }

  private def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        // `ts div 1000`, NOT `ts / 1000`: Column./ is double division and
        // 19-digit nano values exceed double's 2^53 mantissa — the float
        // round-trip shifts timestamps by up to a microsecond.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }

  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  /** Two-level namespace, the reference's defining catalog idiom
    * (reference: scripts/create_unified_db.py:513-577 — 159 views
    * across 20+ schemas like `xref.doi_map`, `openalex.works`). Each
    * table lives in a domain schema; `schema.table` resolves in
    * spark.sql after registerViews(). */
  val schemaOf: Map[String, String] = Map(
    "region" -> "trade", "nation" -> "trade", "customer" -> "trade",
    "supplier" -> "trade", "part" -> "trade", "orders" -> "trade",
    "lineitem" -> "trade", "events" -> "activity",
    "documents" -> "corpus", "embeddings" -> "corpus"
  )

  def qualified(name: String): String = s"${schemaOf(name)}.$name"

  /** Derived cross-reference views — the reference's DEFINING catalog
    * idiom is that the linkage outputs are themselves views a shell
    * user queries BY NAME (`xref.doi_map`, `xref.unified_papers` —
    * create_unified_db.py:513-577), not just programmatic queries.
    * Each entry is (view name in the `xref` schema, standalone SQL
    * over the base schema views) mirroring a Linkage operator:
    *   id_map           = xref01IdMap (doi_map analog)
    *   unified_entities = xref02UnifiedEntities (unified_papers analog)
    *   priority_dedup   = xref04PriorityDedup (materialize_fulltext analog)
    * The SQL is VIEW TEXT, so the catalog stays definitions-only (the
    * reference's view-only-db property) — nothing materializes until
    * queried. Row-for-row equality with the operator frames is
    * spec-pinned (CliSpec) so the two formulations cannot drift. */
  val derivedSchema: String = "xref"

  val derivedViews: Seq[(String, String)] = Seq(
    // normalizeId: lower + strip the source's display prefix (no regex
    // metacharacters in either prefix, so the bare anchor is exact).
    "id_map" ->
      """SELECT 'customer' AS source,
        |  lower(regexp_replace(c_name, '^Customer#', '')) AS key,
        |  CAST(c_custkey AS STRING) AS source_id FROM trade.customer
        |UNION ALL
        |SELECT 'supplier',
        |  lower(regexp_replace(s_name, '^Supplier#', '')),
        |  CAST(s_suppkey AS STRING) FROM trade.supplier
        |UNION ALL
        |SELECT 'part', lower(p_name), CAST(p_partkey AS STRING)
        |FROM trade.part""".stripMargin,
    "unified_entities" ->
      """WITH spine AS (
        |  SELECT DISTINCT entity_id FROM (
        |    SELECT CAST(c_custkey AS BIGINT) AS entity_id FROM trade.customer
        |    UNION ALL SELECT CAST(o_custkey AS BIGINT) FROM trade.orders
        |    UNION ALL SELECT CAST(user_id AS BIGINT) FROM activity.events)),
        |profile AS (SELECT CAST(c_custkey AS BIGINT) AS p_id, c_name, c_acctbal
        |  FROM trade.customer),
        |orderagg AS (SELECT CAST(o_custkey AS BIGINT) AS o_id,
        |    COUNT(1) AS n_orders, ROUND(SUM(o_totalprice), 4) AS total_spent
        |  FROM trade.orders GROUP BY 1),
        |eventagg AS (SELECT CAST(user_id AS BIGINT) AS e_id,
        |    COUNT(1) AS n_events
        |  FROM activity.events GROUP BY 1)
        |SELECT s.entity_id,
        |  COALESCE(p.c_name, 'unknown') AS entity_name,
        |  p.p_id IS NOT NULL AS has_profile,
        |  o.o_id IS NOT NULL AS has_orders,
        |  e.e_id IS NOT NULL AS has_events,
        |  COALESCE(o.n_orders, CAST(0 AS BIGINT)) AS n_orders,
        |  COALESCE(o.total_spent, CAST(0.0 AS DOUBLE)) AS total_spent,
        |  COALESCE(e.n_events, CAST(0 AS BIGINT)) AS n_events
        |FROM spine s
        |LEFT JOIN profile p ON s.entity_id = p.p_id
        |LEFT JOIN orderagg o ON s.entity_id = o.o_id
        |LEFT JOIN eventagg e ON s.entity_id = e.e_id""".stripMargin,
    // bagFingerprint = md5 over the sorted distinct whitespace tokens;
    // priority = the numeric source suffix (src3 beats src17).
    "priority_dedup" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    md5(concat_ws(' ', array_sort(array_distinct(
        |      split(trim(regexp_replace(text, '\\s+', ' ')), ' '))))) AS fp,
        |    source,
        |    CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT) AS priority,
        |    n_chars
        |  FROM corpus.documents)
        |SELECT doc_id, fp, source, priority, n_chars FROM (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY fp ORDER BY priority, n_chars DESC, doc_id) AS rn
        |  FROM scored)
        |WHERE rn = 1""".stripMargin,
    // per-year cross-source coverage over unified_entities (the
    // coverage_by_year figure stat; year = first order year, undated
    // entities drop) — composes the sibling view, which the
    // registration order (this Seq) makes legal.
    "coverage_by_year" ->
      """WITH fy AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS entity_id,
        |    MIN(CAST(year(o_orderdate) AS BIGINT)) AS year
        |  FROM trade.orders GROUP BY 1)
        |SELECT fy.year, COUNT(1) AS n_entities,
        |  COUNT(IF(u.has_profile, 1, NULL)) AS n_profile,
        |  COUNT(IF(u.has_events, 1, NULL)) AS n_events_src,
        |  COUNT(IF(u.has_profile AND u.has_orders AND u.has_events, 1, NULL))
        |    AS n_all_sources,
        |  ROUND(SUM(u.total_spent), 4) AS total_value
        |FROM xref.unified_entities u
        |JOIN fy ON u.entity_id = fy.entity_id
        |GROUP BY fy.year""".stripMargin,
    // per-entity temporal data-quality flags (the reference's
    // xref.paper_temporal_flags, create_unified_db.py:645-656);
    // LEFT JOIN keeps undated entities so year_missing is definite,
    // and the flag booleans keep the reference view's three-valued
    // logic (NULL year + has_x=true -> NULL flag). Mirrors
    // Linkage.xref13TemporalFlags (CliSpec-pinned).
    "temporal_flags" ->
      """WITH fy AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS entity_id,
        |    MIN(CAST(year(o_orderdate) AS BIGINT)) AS year
        |  FROM trade.orders GROUP BY 1)
        |SELECT u.entity_id, fy.year,
        |  (fy.year > 1996 AND u.has_events) AS events_metrics_stale,
        |  (fy.year > 1997 AND u.has_orders) AS orders_coverage_incomplete,
        |  (fy.year IS NULL) AS year_missing
        |FROM xref.unified_entities u
        |LEFT JOIN fy ON u.entity_id = fy.entity_id""".stripMargin
  )

  def derivedQualified: Seq[String] =
    derivedViews.map { case (n, _) => s"$derivedSchema.$n" }

  /** Name-based accessor that routes through the type-converting
    * reader where one exists — the ONE place that knows events needs
    * the nanos conversion. Generic table iterators must use this, not
    * `table(name)`, or they crash on the TIMESTAMP(NANOS) schema.
    * Accepts flat ("orders") or qualified ("trade.orders") names. */
  def resolve(name: String): DataFrame = {
    val flat = name.split('.').last
    if (flat == "events") events else table(flat)
  }

  /** [[resolve]] with a schema already read from the table's listing,
    * so a registration lists each table once. */
  private def resolve(name: String, schema: StructType): DataFrame =
    if (name == "events") normalizeEvents(scan(name, schema)) else scan(name, schema)

  /** Register every table for `spark.sql`: flat temp views (the
    * historical surface) PLUS real `schema.table` databases + views
    * mirroring the reference's two-level namespace. The databases use
    * an explicit tmpdir LOCATION so a plain unconfigured session never
    * drops a spark-warehouse directory into the caller's cwd; base
    * tables are EXTERNAL catalog tables over the parquet path, with
    * events' nanos->micros conversion baked into the `activity.events`
    * view text. */
  def registerViews(): Unit = registerViews(force = false)

  /** A commit costs in proportion to the tables it changed. Per
    * session, the last registration records the dir, each table's
    * content fingerprint (the two-level listing of
    * [[Lake.tableListing]]: per-entry name + mtime + length through
    * the Hadoop FileSystem, so it works on any store) and the schema
    * each table was registered with. Then:
    *   - no `<table>.parquet` fingerprint moved: return. Operators
    *     that defensively call registerViews() per invocation (rel09,
    *     rel12, searchCatalog, xref10) pay only the listing. Other
    *     entries in the dir (`_landing/`, staging files) are not
    *     tables and never trigger a registration;
    *   - every changed table still exists with the schema it was
    *     registered with (an upsert, an append, an in-place rewrite):
    *     refresh just those tables in place — re-create the flat temp
    *     view and `REFRESH TABLE` the catalog table. Nothing is
    *     dropped, and no database, derived-view or alias statement is
    *     re-issued: permanent views and SQL temp views are re-analysed
    *     at query time, so they pick up the refreshed relation;
    *   - anything else — the first registration in this session, a
    *     different dir, `force` (the `update` verb's refresh
    *     semantics), a changed schema or a missing table — runs the
    *     full registration of [[registerAll]].
    * The guard is LAST-registered-dir per session, not a seen-set: an
    * intervening registration of a different dir replaces the
    * (identically-named) views, so only the most recent dir is live.
    *
    * A table dir holding hive-style `key=value` subdirectories is
    * rejected: it would register without `PARTITIONED BY`, and its
    * partition columns would read as NULL without any error. */
  def registerViews(force: Boolean): Unit = {
    val listings = tableNames.map(n => n -> Lake.tableListing(spark, pathOf(n))).toMap
    val fps = listings.map { case (n, l) => n -> l.fingerprint }
    val prev = Option(Lake.registered.get(spark)).filter(r => !force && r.dir == dir)
    val changed = tableNames.filterNot(n => prev.exists(_.fingerprints(n) == fps(n)))
    if (changed.isEmpty) return
    changed.foreach { n =>
      val parts = listings(n).partitionDirs
      if (parts.nonEmpty)
        throw new IllegalArgumentException(
          s"table `$n` at ${pathOf(n)} has hive-style partition directories " +
            s"(${parts.take(3).mkString(", ")}): the catalog registers " +
            "unpartitioned parquet tables only, so its partition columns " +
            "would read as NULL")
    }
    def readSchema(n: String) = Lake.schemaFor(spark, pathOf(n), listings(n))
    val schemas = prev match {
      case Some(r) if changed.forall(n =>
            fps(n).nonEmpty && readSchema(n) == r.schemas(n)) =>
        refreshTables(changed, r.schemas)
        r.schemas
      case _ =>
        val all = tableNames.map(n => n -> readSchema(n)).toMap
        registerAll(all)
        all
    }
    Lake.registered.put(spark, Lake.Registration(dir, fps, schemas))
  }

  /** In-place refresh of tables whose files changed under an unchanged
    * schema. The flat temp view holds an analysed plan (file listing
    * included), so it is re-created; the catalog table's cached
    * relation is invalidated by `REFRESH TABLE` (events' raw sibling
    * `activity.events_src`; `activity.events` is a view over it). No
    * catalog object is missing at any point, so a concurrent reader
    * sees the old or the new listing, never an error. */
  private def refreshTables(names: Seq[String], schemas: Map[String, StructType]): Unit =
    names.foreach { n =>
      resolve(n, schemas(n)).createOrReplaceTempView(n)
      val qn = if (n == "events") s"`${schemaOf(n)}`.`events_src`" else qualified(n)
      spark.sql(s"REFRESH TABLE $qn")
    }

  /** The full registration: every temp view, database, table, derived
    * view and alias, from the schemas just read. */
  private def registerAll(schemas: Map[String, StructType]): Unit = {
    // Session-sticky: view expansion happens at query time, so the
    // nanos conf must hold for any later spark.sql over activity.events.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tableNames.foreach(n => resolve(n, schemas(n)).createOrReplaceTempView(n))
    val whBase = Lake.warehouseBase
    (schemaOf.values.toSeq.distinct :+ derivedSchema).sorted.foreach { db =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db` LOCATION '$whBase/$db.db'")
    }
    // Base tables register as EXTERNAL TABLES with the cached explicit
    // schema, not `parquet.`path`` views (round 16, guide §6 metadata):
    // a path relation in a view body re-ran a footer-inference Spark
    // job EVERY time the view text was analyzed — at registration
    // (each derived view's analysis cascades through the base views it
    // references) and again per spark.sql query — ~58 pure-metadata
    // jobs on a fresh session (OPTIMIZATION_r16.md). A catalog table
    // stores the StructType, so analysis is a catalog lookup: zero
    // jobs. The schema is the footer schema [[Lake.schemaFor]] read on
    // the driver (fingerprint-guarded, so a rewritten table's footer is
    // read again); `LOCATION` makes the table EXTERNAL —
    // DROP never touches the parquet files (CatalogSpec pins this).
    // Trade-off, documented: Spark caches a catalog table's resolved
    // relation (file listing included) per session, so an EXTERNAL
    // rewrite is visible to `spark.sql` only after the next
    // registerViews(), whose per-table fingerprint trips and refreshes
    // that table (registerViews' in-place path) — the previous view
    // form re-listed per query and hid that requirement. Only this
    // full path DROPs and re-CREATEs: a concurrent `spark.sql` that
    // analyses a name inside that window fails with "table not found".
    // The in-place path has no such window.
    // A name the session catalog does not hold needs no DROP: the
    // lookup parses no SQL, and a cold registration skips 21 statements.
    def held(db: String, name: String): Boolean =
      spark.sessionState.catalog.tableExists(TableIdentifier(name, Some(db)))
    def registerTable(db: String, name: String, path: String, schema: StructType): Unit = {
      val qn = s"`$db`.`$name`"
      // CREATE TABLE has no OR REPLACE in the v1 path, and the name
      // may be held by an old-style view (pre-table registration in
      // the same session) — drop whichever object type holds it.
      if (held(db, name)) {
        try spark.sql(s"DROP VIEW IF EXISTS $qn")
        catch { case scala.util.control.NonFatal(_) => () }
        try spark.sql(s"DROP TABLE IF EXISTS $qn")
        catch { case scala.util.control.NonFatal(_) => () }
      }
      spark.sql(
        s"CREATE TABLE $qn (${schema.toDDL}) USING parquet LOCATION '$path'")
    }
    tableNames.foreach { n =>
      val path = pathOf(n)
      if (n == "events") {
        // events needs the per-layout ts normalization, which a table
        // cannot express: register the RAW file as a sibling table and
        // keep `activity.events` a thin view over it (a permanent view
        // may reference a permanent table — analysis is still
        // job-free). The raw schema rides the same schemaFor cache.
        val raw = schemas(n)
        registerTable(schemaOf(n), "events_src", path, raw)
        val tsExpr = raw("ts").dataType match {
          case LongType         => "timestamp_micros(ts div 1000) AS ts"
          case TimestampNTZType => "CAST(ts AS TIMESTAMP) AS ts"
          case _                => "ts"
        }
        val cols = raw.fieldNames
          .map { case "ts" => tsExpr; case c => s"`$c`" }
          .mkString(", ")
        if (held(schemaOf(n), n))
          try spark.sql(s"DROP TABLE IF EXISTS ${qualified(n)}")
          catch { case scala.util.control.NonFatal(_) => () }
        spark.sql(
          s"CREATE OR REPLACE VIEW ${qualified(n)} AS SELECT $cols " +
            s"FROM `${schemaOf(n)}`.`events_src`")
      } else registerTable(schemaOf(n), n, path, schemas(n))
    }
    // Derived xref views LAST: their SQL references the base schema
    // views just created. Still definitions-only — a permanent view
    // over permanent views, nothing materialized.
    derivedViews.foreach { case (n, sql) =>
      spark.sql(s"CREATE OR REPLACE VIEW `$derivedSchema`.`$n` AS $sql")
    }
    // Backward-compat UNSCHEMA'D aliases (create_unified_db.py:660
    // create_backward_compat_views — "for backward compatibility with
    // existing notebooks"): every derived view is also reachable by
    // its bare name in the default namespace, so a reference-notebook
    // query saying `FROM unified_entities` runs unmodified. Skipped
    // on a name conflict with a base table, exactly the reference's
    // try/except-pass rule (none conflict today; the guard keeps a
    // future table from being shadowed by an alias).
    derivedViews.foreach { case (n, _) =>
      if (!tableNames.contains(n))
        spark.sql(
          s"CREATE OR REPLACE TEMP VIEW `$n` AS SELECT * FROM `$derivedSchema`.`$n`"
        )
    }
  }
}

object Lake {
  /** Per-process warehouse root for the schema databases. A fixed
    * world-shared `${java.io.tmpdir}/graft-warehouse` path lets
    * concurrent sessions collide (and a pre-existing path owned by
    * another user on a multi-user host is a hijack risk) — so each JVM
    * creates its own private directory once and every Lake in the
    * process shares it (advisor round-5 note). The databases hold only
    * view definitions, so the directory stays tiny and mode-0700. */
  private[catalog] lazy val warehouseBase: String =
    java.nio.file.Files.createTempDirectory("graft-warehouse-").toString

  /** What the last registration in a session recorded: its dir, and
    * per table the content fingerprint and the registered schema. */
  private final case class Registration(
      dir: String,
      fingerprints: Map[String, String],
      schemas: Map[String, StructType]
  )

  /** The last registration per session — the guard of registerViews.
    * WEAK-keyed on the session: a strong key would pin stopped
    * SparkSession object graphs for the process lifetime in a
    * long-lived server embedding this library (advisor round-10).
    * Synchronized wrapper because WeakHashMap is not thread-safe; the
    * critical sections are single get/put calls. */
  private val registered: java.util.Map[SparkSession, Registration] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Registration]()
    )

  /** Process-wide parquet schema cache for [[Lake.table]]: path ->
    * (content fingerprint, schema). Values are METADATA only (a
    * StructType) — never data, listings, or results — so a cache hit
    * changes no query plan semantics, it only skips the footer read.
    * The fingerprint (the table's [[tableListing]]) guards the
    * tests'/update-verb's write-then-reread pattern: any file added,
    * removed, or rewritten is read again. An unreadable path
    * fingerprints as "" and is never cached, surfacing the real error
    * through Spark's reader. */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, StructType)]

  /** The schema `spark.read.parquet(path).schema` reports, without its
    * Spark job: the footer of the listing's [[TableListing.schemaFile]]
    * is read on the driver. Spark's inference answers instead when
    * `spark.sql.parquet.mergeSchema` is on (every footer counts), when
    * the listing cannot decide the file, or when the driver read
    * fails — so a broken table fails with Spark's own error. */
  private[catalog] def schemaFor(
      spark: SparkSession,
      path: String,
      listing: TableListing
  ): StructType = {
    val fp = listing.fingerprint
    schemaCache.get(path) match {
      case Some((seen, s)) if fp.nonEmpty && seen == fp => s
      case _ =>
        val s = listing.schemaFile
          .filterNot(_ => spark.sessionState.conf.isParquetSchemaMergingEnabled)
          .flatMap(footerSchema(spark, _))
          .getOrElse(spark.read.parquet(path).schema)
        if (fp.nonEmpty) schemaCache.put(path, (fp, s))
        s
    }
  }

  private[graft] def schemaFor(spark: SparkSession, path: String): StructType =
    schemaFor(spark, path, tableListing(spark, path))

  /** One file's footer schema, read and converted as Spark's parquet
    * inference does (ParquetFileFormat.mergeSchemasInParallel: the
    * same footer reader, the same converter settings, and the
    * all-nullable data schema a file relation reports). None when the
    * read fails. */
  private def footerSchema(spark: SparkSession, f: FileStatus): Option[StructType] =
    try {
      val conf = spark.sessionState.conf
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      Some(Bridge.asNullable(
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One table path's listing: its content fingerprint, the names of
    * its hive-style `key=value` subdirectories, and the file whose
    * footer Spark's schema inference reads when mergeSchema is off
    * (None when the listing cannot decide it). */
  private[catalog] final case class TableListing(
      fingerprint: String,
      partitionDirs: Seq[String],
      schemaFile: Option[FileStatus]
  )

  /** The file Spark's parquet inference reads with mergeSchema off
    * (ParquetUtils.inferSchema over the file index's leaves, sorted by
    * qualified path): the first `_common_metadata`, else the first
    * `_metadata`, else the first data file. Names the file index hides
    * are skipped — tested on the names below the table path only, so a
    * lake under a dot-named dir is read like any other. A visible
    * subdirectory means leaves this two-level listing may not see (or
    * partition columns), so None: Spark's inference decides. */
  private def inferenceFile(children: Seq[FileStatus]): Option[FileStatus] = {
    val visible = children.filterNot(c => Bridge.hiddenByFileIndex(c.getPath.getName))
    if (visible.isEmpty || visible.exists(_.isDirectory)) None
    else {
      val leaves = visible.sortBy(_.getPath.toString)
      val summaries = Seq("_common_metadata", "_metadata")
      summaries.flatMap(s => leaves.find(_.getPath.getName == s)).headOption
        .orElse(leaves.find(l => !summaries.contains(l.getPath.getName)))
    }
  }

  /** Lists a table path through its own FileSystem (local, HDFS, S3A
    * alike) and folds each child's name + mtime + length into the
    * fingerprint, AND — for children that are directories — each
    * grandchild's. The second level matters on object stores (advisor
    * rounds 11 and 15): S3A-style "directory" entries are synthetic
    * and carry no meaningful mtime/length, so an in-place rewrite of
    * nested part files would not move a top-level-only fingerprint,
    * and a stale schema or catalog would be served. Layouts deeper
    * than two levels are NOT walked; a rewrite that touches only
    * those needs registerViews(force = true). A path that is a single
    * file lists as itself. An unreadable or missing path fingerprints
    * as "" — NonFatal, not just IOException, so an object-store
    * client's unchecked failures land in the normal reader, which
    * surfaces the real error. */
  private[catalog] def tableListing(spark: SparkSession, path: String): TableListing =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val top = fs.listStatus(p)
      val entries = top.flatMap { st =>
        val self =
          s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}"
        if (!st.isDirectory) Seq(self)
        else
          self +: fs
            .listStatus(st.getPath)
            .map(c =>
              s"${st.getPath.getName}/${c.getPath.getName}:" +
                s"${c.getModificationTime}:${c.getLen}"
            )
            .toSeq
      }
      // Spark's partition discovery skips the names its file index hides.
      val partitionDirs = top.toSeq.collect {
        case st if st.isDirectory && st.getPath.getName.contains('=') &&
            !Bridge.hiddenByFileIndex(st.getPath.getName) =>
          st.getPath.getName
      }
      val isFile = top.length == 1 && top.head.getPath == fs.makeQualified(p)
      val schemaFile = if (isFile) top.headOption else inferenceFile(top.toSeq)
      TableListing(entries.sorted.mkString("|"), partitionDirs.sorted, schemaFile)
    } catch { case scala.util.control.NonFatal(_) => TableListing("", Nil, None) }
}
