package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

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

  // Session-sticky, and set before any schema read: a TIMESTAMP(NANOS)
  // footer converts only under it (events reads it as raw nanos), and
  // view expansion at query time needs it for activity.events too.
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Resolve with an EXPLICIT schema: a bare `spark.read.parquet`
    * runs a footer-reading Spark job per call to infer the schema,
    * and the suite resolves each table once per query invocation.
    * [[Lake.schemaFor]] reads the same footer on the driver instead,
    * and caches the StructType per path under the table's
    * (name, mtime, length) fingerprint — a rewritten table is read
    * again, an unchanged one is not. Either way no Spark job runs.
    * Data is never cached — only the StructType. */
  def table(name: String): DataFrame =
    spark.read.schema(Lake.schemaFor(spark, pathOf(name))).parquet(pathOf(name))

  private def pathOf(name: String): String = s"$dir/$name.parquet"

  // The driver-generated star schema (TESTDATA.md).
  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")

  def events: DataFrame = {
    val raw = table("events")
    raw.selectExpr(Lake.eventsColumns(raw.schema): _*)
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
    * its ts rule. Generic table iterators must use this, not
    * `table(name)`, or they see events' raw ts column.
    * Accepts flat ("orders") or qualified ("trade.orders") names. */
  def resolve(name: String): DataFrame = {
    val flat = name.split('.').last
    if (flat == "events") events else table(flat)
  }

  /** Register every table for `spark.sql`: `registerViews(force = false)`. */
  def registerViews(): Unit = registerViews(force = false)

  /** Reconciles the lake's tables against the session catalog, so a
    * registration costs in proportion to what changed. Per session, the
    * last registration records its dir and each table's content
    * fingerprint (the two-level listing of [[Lake.tableListing]]:
    * per-entry name + mtime + length through the Hadoop FileSystem, so
    * it works on any store). The tables reconciled are every table
    * under `force` (the `update` verb's refresh semantics) or on this
    * session's first registration of this dir, else those whose
    * fingerprint moved. None: return at once, so operators that
    * defensively call registerViews() per invocation (rel09, rel12,
    * searchCatalog, xref10) pay only the listing; entries that are not
    * `<table>.parquet` (`_landing/`, staging files) never count.
    *
    * Each reconciled table is a catalog table `schema.table`
    * (`activity.events_src` for events). If the catalog already holds
    * it as an EXTERNAL table with the footer schema at this table's
    * location, it is refreshed in place with `REFRESH TABLE`: nothing is
    * dropped, so a concurrent reader sees the old listing or the new
    * one, never an error. Otherwise whatever holds the name is dropped
    * and the table created again, with events' view and the table's
    * flat alias — so the only window in which a reader of the name can
    * fail opens on a schema or location change.
    *
    * On a session's first registration of a dir, and under `force`,
    * the databases, the derived views and every flat alias are issued
    * too, and the derived views again after any table was created
    * again; none of these drops anything a reader can see. The guard is
    * LAST-registered-dir per session, not a seen-set: an intervening
    * registration of a different dir replaces the (identically-named)
    * objects, so only the most recent dir is live.
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
    val fresh = prev.isEmpty
    // An explicit tmpdir LOCATION, so a plain unconfigured session never
    // drops a spark-warehouse directory into the caller's cwd.
    if (fresh)
      (schemaOf.values.toSeq.distinct :+ derivedSchema).sorted.foreach { db =>
        spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db` LOCATION '${Lake.warehouseBase}/$db.db'")
      }
    val tablesRecreated =
      changed.filter(n => reconcile(n, Lake.schemaFor(spark, pathOf(n), listings(n))))
    // Derived xref views after the tables their SQL references. Still
    // definitions-only — nothing materializes until queried.
    val viewsRecreated =
      if (!fresh && tablesRecreated.isEmpty) Nil
      else derivedViews.filter { case (n, sql) =>
        createView(TableIdentifier(n, Some(derivedSchema)), sql)
      }.map(_._1)
    val recreated = tablesRecreated ++ viewsRecreated
    // Flat names are SQL aliases, re-analysed per query, so an in-place
    // refresh reaches them; one is re-created only with its target,
    // because a view keeps the column list it was created with. The
    // derived views get the reference's backward-compat unschema'd
    // aliases too (create_unified_db.py:660 create_backward_compat_views
    // — a notebook saying `FROM unified_entities` runs unmodified),
    // skipped on a name conflict with a table, the reference's
    // try/except-pass rule.
    val aliases = tableNames.map(n => n -> qualified(n)) ++ derivedViews.collect {
      case (n, _) if !tableNames.contains(n) => n -> s"$derivedSchema.$n"
    }
    aliases.foreach { case (n, target) =>
      if (fresh || recreated.contains(n))
        spark.sql(s"CREATE OR REPLACE TEMP VIEW `$n` AS SELECT * FROM $target")
    }
    Lake.registered.put(spark, Lake.Registration(dir, fps))
  }

  /** Brings table `n`'s catalog entry in line with its files, whose
    * footer schema is `schema`; true when the table (or events' view)
    * was created again.
    *
    * Base tables are EXTERNAL catalog tables with the footer schema, not
    * `parquet.`path`` views: a path relation in a view body runs a
    * footer-inference Spark job every time the view text is analysed,
    * while a catalog table's schema is a lookup. `LOCATION` makes the
    * table EXTERNAL, so DROP never touches the parquet files
    * (CatalogSpec pins this). Spark caches a catalog table's resolved
    * relation (file listing included) per session, so a rewrite is
    * visible to `spark.sql` only after the `REFRESH TABLE` of the next
    * registerViews(). events needs the per-layout ts rule, which a table
    * cannot express: its raw file registers as `activity.events_src`,
    * and `activity.events` is a view over it. */
  private def reconcile(n: String, schema: StructType): Boolean = {
    val db = schemaOf(n)
    val id = TableIdentifier(if (n == "events") "events_src" else n, Some(db))
    val path = new Path(pathOf(n))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val held = catalogEntry(id)
    val inPlace = held.exists(t =>
      t.tableType == CatalogTableType.EXTERNAL && t.schema == schema &&
        fs.makeQualified(new Path(t.location)) == fs.makeQualified(path))
    if (inPlace) spark.sql(s"REFRESH TABLE ${id.quotedString}")
    else {
      held.foreach(drop(id, _))
      spark.sql(
        s"CREATE TABLE ${id.quotedString} (${schema.toDDL}) USING parquet LOCATION '${pathOf(n)}'")
    }
    val viewRecreated = n == "events" && createView(TableIdentifier(n, Some(db)),
      s"SELECT ${Lake.eventsColumns(schema).mkString(", ")} FROM ${id.quotedString}")
    !inPlace || viewRecreated
  }

  /** CREATE OR REPLACE VIEW drops a held view before it creates the new
    * one, so a view the catalog already holds with this text and this
    * schema is kept as it is; a table holding the name is dropped. True
    * when the view was created. */
  private def createView(id: TableIdentifier, sql: String): Boolean = {
    val held = catalogEntry(id)
    val kept = held.exists(t => t.viewText.contains(sql) && t.schema == spark.sql(sql).schema)
    if (!kept) {
      held.filter(_.tableType != CatalogTableType.VIEW).foreach(drop(id, _))
      spark.sql(s"CREATE OR REPLACE VIEW ${id.quotedString} AS $sql")
    }
    !kept
  }

  private def catalogEntry(id: TableIdentifier): Option[CatalogTable] = {
    val catalog = spark.sessionState.catalog
    if (catalog.tableExists(id)) Some(catalog.getTableMetadata(id)) else None
  }

  /** DROP by the object type the catalog reports. */
  private def drop(id: TableIdentifier, held: CatalogTable): Unit = {
    val kind = if (held.tableType == CatalogTableType.VIEW) "VIEW" else "TABLE"
    spark.sql(s"DROP $kind ${id.quotedString}")
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

  /** events' select list over the raw file's columns: `Lake.events`
    * applies it, and it is the `activity.events` view text. The file
    * has shipped with two physical ts layouts across testdata
    * generations, and every operator downstream expects one logical
    * type (TIMESTAMP, UTC session):
    *   - TIMESTAMP(NANOS): read as raw nanos (Lake sets
    *     legacy.parquet.nanosAsLong) and truncated to micros — the same
    *     truncation DuckDB applies when it loads ns timestamps. `div`,
    *     not `/`: `/` is double division, and 19-digit nano values
    *     exceed double's 2^53 mantissa, which shifts timestamps by up
    *     to a microsecond.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
    *     TIMESTAMP_NTZ; cast to TIMESTAMP — value-identical under the
    *     UTC session zone GraftSession/Verify pin. */
  private def eventsColumns(raw: StructType): Seq[String] =
    raw.fieldNames.toSeq.map {
      case "ts" =>
        raw("ts").dataType match {
          case LongType         => "timestamp_micros(ts div 1000) AS ts"
          case TimestampNTZType => "CAST(ts AS TIMESTAMP) AS ts"
          case _                => "ts"
        }
      case c => s"`$c`"
    }

  /** What the last registration in a session recorded: its dir, and
    * per table the content fingerprint. */
  private final case class Registration(dir: String, fingerprints: Map[String, String])

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

  /** The schema `spark.read.parquet(paths: _*).schema` reports, over
    * one or more paths. Spark's inference sorts all their leaves and
    * reads the first summary file, else the first data file; each
    * path's listing already picked its own first by that rule, so the
    * first of those picks is the file. Not cached: a batch store lists
    * new `batch=N` dirs every batch, and the cache would keep an entry
    * per dir for the life of the process. */
  private[graft] def schemaFor(spark: SparkSession, paths: Seq[String]): StructType = {
    val picks = paths.map(tableListing(spark, _).schemaFile)
    (if (picks.forall(_.isDefined)) inferenceFile(picks.flatten) else None)
      .filterNot(_ => spark.sessionState.conf.isParquetSchemaMergingEnabled)
      .flatMap(footerSchema(spark, _))
      .getOrElse(spark.read.parquet(paths: _*).schema)
  }

  /** Persisted state at one or more paths (an index table, a batch
    * store's `batch=N` dirs), read with the schema above, so opening
    * it runs no Spark job: a bare `spark.read.parquet` runs a
    * schema-inference job per call, per micro-batch in a sink. */
  private[graft] def readParquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(schemaFor(spark, paths)).parquet(paths: _*)

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
