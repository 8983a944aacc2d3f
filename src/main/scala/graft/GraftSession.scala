package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory — the engine's single entry point.
  *
  * Mirrors the role of the reference's tiny `datalake.duckdb` handle
  * (reference: scripts/create_unified_db.py): cheap to open, all data
  * stays in parquet, only logical definitions live here.
  *
  * Settings are chosen for the 100 TB design point but parameterized so
  * local[32] testing uses sane small values:
  *  - AQE on (runtime coalesce + skew-join splitting),
  *  - broadcast threshold generous (dimension tables are tiny relative
  *    to facts at every scale factor),
  *  - parquet filter/column pushdown on (default, asserted explicitly),
  *  - each query shape compiles once per JVM. An analyst session runs
  *    a few shapes again and again with new literals, and Spark caches
  *    compiled classes by their source text. The static
  *    `spark.sql.codegen.cache.maxEntries` is 1000: Spark's default,
  *    100, is smaller than the measured working set (about 200
  *    distinct classes for the perfbench `lake_sql` read templates
  *    plus an orders commit, 101 for sim14 + dedup11). The
  *    `plans.HoistLiterals` rule, installed with `withExtensions`,
  *    moves numeric and datetime literals out of the source into the
  *    class's references, so new numbers give the same source.
  *    `spark.sql.codegen.useIdInClassName` is off, so a whole-stage
  *    class is named without its stage id: the id depends on the
  *    order in which adaptive execution plans a query's stages, and
  *    with it in the name the same pipeline compiled again when two
  *    broadcast stages were planned in the other order.
  */
object GraftSession {

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession =
    configure(
      SparkSession.builder().master(s"local[$cores]"),
      shufflePartitions
    ).getOrCreate()

  /** Apply graft's conf to any builder (cluster submits included). */
  def configure(
      b: SparkSession.Builder,
      shufflePartitions: Int
  ): SparkSession.Builder =
    b.withExtensions(graft.plans.HoistLiterals.install)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // testdata events.parquet carries TIMESTAMP(NANOS); see Lake.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // ObjectHashAggregate (the exec behind TypedImperativeAggregate
      // — graft's topk_by_score) falls back to SORT-based aggregation
      // after this many distinct keys per task. The default (128) is
      // calibrated for huge per-group sketches; topk buffers are
      // k·16 bytes, so the sort fallback would re-create exactly the
      // candidate-stream sort the aggregate exists to avoid (sim08's
      // measured 23 s kernel vs 275 s sorted top-k at sf1). 2^20
      // groups · ~200 B ≈ 200 MB per task worst case — bounded.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      // spark.driver.maxResultSize stays at its 1g DEFAULT: the
      // guardrail exists to catch accidental driver-side collects,
      // and no graft operator needs it raised.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      // managed (bucketed) tables land under an absolute target/ path —
      // a relative warehouse dir would scatter tables across whatever
      // the process cwd happens to be
      .config(
        "spark.sql.warehouse.dir",
        new java.io.File("target/spark-warehouse").getAbsolutePath
      )
}
