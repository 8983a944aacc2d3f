package graft.sources

import graft.Json
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Ingestion + layout utilities — the Spark-native analog of the
  * reference's convert pipeline (convert_s2ag.py, convert_openalex.py,
  * convert_fulltext.py: JSONL/CSV -> partitioned Parquet with explicit
  * schemas and chunked writes).
  *
  * Layout rules for the 100 TB design point:
  *  - always write Parquet with an explicit partition scheme chosen by
  *    the dominant filter column (partition pruning beats any runtime
  *    filter);
  *  - target file sizes via repartition before write so downstream
  *    scans get splittable, evenly-sized files (no small-file storms);
  *  - schemas are explicit on read: schema inference at scale means a
  *    full extra pass over the data.
  */
object Ingest {

  /** Read JSON-lines with an explicit schema (no inference pass). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Read CSV with an explicit schema and header. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** Write partitioned parquet with a bounded file count per
    * partition. `targetPartitions` sizes the shuffle so files are
    * splittable-but-not-tiny at the expected volume. */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String],
      targetPartitions: Int,
      mode: SaveMode = SaveMode.Overwrite
  ): Unit =
    df.repartition(targetPartitions, partitionBy.map(df.col): _*)
      .write
      .mode(mode)
      .partitionBy(partitionBy: _*)
      .parquet(path)

  /** Chunked JSONL -> parquet conversion where the schema drifts
    * across chunks — the dump-over-dump reality the reference's
    * converters handle (convert_openalex.py: chunked JSONL with fields
    * appearing/disappearing between dumps). Each chunk is appended
    * with its own explicit schema; the dataset stays readable under
    * the union schema via `readMerged`. */
  def convertChunked(
      spark: SparkSession,
      chunks: Seq[(String, StructType)],
      outPath: String
  ): Unit =
    chunks.zipWithIndex.foreach { case ((path, schema), i) =>
      val mode = if (i == 0) SaveMode.Overwrite else SaveMode.Append
      readJsonl(spark, path, schema).write.mode(mode).parquet(outPath)
    }

  /** The two splits of a quarantined read plus the cached parse they
    * filter; call [[unpersist]] once both splits are consumed or the
    * cache pins storage memory for the session lifetime. */
  final case class QuarantinedRead(
      parsed: DataFrame,
      good: DataFrame,
      bad: DataFrame
  ) {
    def unpersist(): Unit = { parsed.unpersist(); () }
  }

  /** JSONL read with a QUARANTINE path — the production hardening a
    * 100 TB ingestion needs: one malformed line in a multi-TB dump
    * must not kill a multi-hour job (FAILFAST) or silently vanish
    * (DROPMALFORMED); PERMISSIVE mode routes it, raw, to a corrupt-
    * record column, and this splits the scan into (parsed rows,
    * quarantined raw lines) so the bad input is auditable and
    * replayable after a parser fix. The cache() is load-bearing:
    * Spark refuses to evaluate a predicate on the internal corrupt-
    * record column of an un-materialized JSON scan (the
    * from_json/columnNameOfCorruptRecord rule), so the parsed frame
    * materializes once and both splits filter the cached result. */
  def readJsonlQuarantined(
      spark: SparkSession,
      path: String,
      schema: StructType
  ): QuarantinedRead = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StringType
    val withCorrupt = schema.add("_corrupt_record", StringType)
    val parsed = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache()
    QuarantinedRead(
      parsed,
      parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      parsed
        .filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw_line"))
    )
  }

  /** ing10: the quarantine path exercised end to end — the corpus
    * serialized to JSONL with every (doc_id % 7 == 3) line truncated
    * by one character (drops the closing brace: deterministically
    * malformed), read back through [[readJsonlQuarantined]], and
    * audited: parsed rows must carry their payload intact (sum of
    * n_chars matches the clean subset) and quarantined lines must be
    * exactly the corrupted ones. Fixture-roundtrip discipline of
    * ing03; the corruption rule is pure arithmetic so the oracle
    * replays the audit directly off the documents table. */
  def ing10JsonlQuarantine(lake: graft.catalog.Lake): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = lake.spark
    val dirPath = java.nio.file.Files.createTempDirectory("graft-ing10-")
    val dir = dirPath.toString
    try {
      val staged = lake.documents.select(
        col("doc_id"),
        to_json(
          struct(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
        ).as("j")
      )
      staged
        .select(
          when(
            pmod(col("doc_id"), lit(7)) === 3,
            expr("substring(j, 1, length(j) - 1)")
          ).otherwise(col("j")).as("value")
        )
        .write
        .mode(SaveMode.Overwrite)
        .text(dir)
      val schema = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(
          "source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(
          "n_chars", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "text", org.apache.spark.sql.types.StringType)
      ))
      val qr = readJsonlQuarantined(spark, dir, schema)
      val audit = qr.good
        .agg(
          count(lit(1)).as("n_rows"),
          sum("n_chars").cast("long").as("sum_chars")
        )
        .select(lit("good").as("status"), col("n_rows"), col("sum_chars"))
        .unionByName(
          qr.bad
            .agg(count(lit(1)).as("n_rows"))
            .select(
              lit("quarantined").as("status"),
              col("n_rows"),
              lit(null).cast("long").as("sum_chars")
            )
        )
        .orderBy("status")
      // the audit is 2 bounded rows — materialize them NOW so the
      // corpus-sized staging dir and the load-bearing parse cache can
      // be released before returning (a lazy return would leak one
      // JSONL corpus copy + one pinned cache per invocation, which a
      // min-of-N bench loop multiplies)
      val rows = audit.collect()
      qr.unpersist()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        audit.schema
      )
    } finally {
      // recursive delete of the staging dir (children first)
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      if (Files.exists(dirPath)) {
        val walk = Files.walk(dirPath)
        try
          walk
            .sorted(Comparator.reverseOrder[Path]())
            .forEach(p => { Files.deleteIfExists(p); () })
        finally walk.close()
      }
    }
  }

  /** Read a parquet dataset written by drifting-schema chunks under
    * the union schema: columns absent from older chunks come back
    * null-filled. mergeSchema pays a footer read per file — right for
    * ingestion-time discovery; steady-state readers should pin the
    * catalog's declared schema instead. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Write a bucketed, bucket-sorted managed parquet table (bucketing
    * metadata requires saveAsTable). Tables bucketed identically on
    * their join key co-locate that join: every downstream
    * join/groupBy on the bucket columns reads pre-partitioned files
    * and needs NO Exchange — at the 100 TB design point,
    * pre-bucketing fact tables on their primary join key removes the
    * biggest shuffle from every query that touches them. Bucket count
    * is a layout decision: pick it so |table| / nBuckets is a
    * comfortable task size (hundreds of MB), and keep it identical
    * across tables meant to join. */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCols: Seq[String],
      nBuckets: Int
  ): Unit = {
    // Overwrite of a managed table needs two cleanups: the catalog
    // entry (DROP TABLE), and — when a previous SESSION wrote the
    // table — the orphan warehouse directory that the now-empty
    // in-memory catalog no longer knows about, which would otherwise
    // fail the save with LOCATION_ALREADY_EXISTS.
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val warehouse = spark.conf
      .get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val orphan = new java.io.File(warehouse, tableName.toLowerCase)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    if (orphan.exists()) rm(orphan)
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Partitioned `{schema}/{table}` parquet export with a manifest —
    * the publish/export surface (reference: prepare_hf_export.py,
    * which lays out parquet per table and writes a dataset manifest
    * describing rows/files/schema for the consumer).
    *
    * Each table is written under `outDir/{schema}/{table}/`;
    * `outDir/manifest.json` lists every exported table with row
    * count, file count, on-disk bytes and column schema. Counts come
    * from re-reading the WRITTEN files (parquet footer metadata — no
    * data pages, no recompute of the input plan), so the manifest
    * describes what actually landed, not what was intended. Returns
    * the manifest path. */
  def exportLayout(
      tables: Seq[(String, String, DataFrame)],
      outDir: String,
      targetPartitions: Int = 4
  ): String = {
    val entries = tables.map { case (schema, table, df) =>
      val path = s"$outDir/$schema/$table"
      writeParquet(df, path, targetPartitions)
      val spark = df.sparkSession
      val written = spark.read.parquet(path)
      val nRows = written.count() // parquet footer metadata only
      val dir = new java.io.File(path)
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      val cols = written.schema.fields
        .map(f =>
          s"""{"name":${Json.quote(f.name)},"type":${Json.quote(f.dataType.simpleString)},"nullable":${f.nullable}}"""
        )
        .mkString("[", ",", "]")
      s"""{"schema":${Json.quote(schema)},"table":${Json.quote(table)},""" +
        s""""path":${Json.quote(s"$schema/$table")},"n_rows":$nRows,""" +
        s""""n_files":${parts.length},"n_bytes":${parts.map(_.length).sum},""" +
        s""""columns":$cols}"""
    }
    val manifest =
      s"""{"n_tables":${entries.size},"tables":${entries.mkString("[", ",", "]")}}"""
    val mPath = java.nio.file.Paths.get(outDir, "manifest.json")
    java.nio.file.Files.createDirectories(mPath.getParent)
    java.nio.file.Files.write(
      mPath,
      manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    mPath.toString
  }

  /** Plain parquet write with a target file count. */
  def writeParquet(
      df: DataFrame,
      path: String,
      targetPartitions: Int,
      mode: SaveMode = SaveMode.Overwrite
  ): Unit =
    df.repartition(targetPartitions).write.mode(mode).parquet(path)
}
