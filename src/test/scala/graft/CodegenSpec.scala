package graft

import java.time.{Instant, LocalDate}

import graft.catalog.Lake
import graft.plans.HoistedLiteral
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** One query shape compiles once per JVM (`plans.HoistLiterals`):
  * the same shape run with other numbers compiles no class, its rows
  * equal the interpreted path's on the literals codegen gets wrong
  * most easily, its plan prints the literals as before, and parquet
  * pushdown still receives them. */
class CodegenSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  /** (i, l, d, dt, ts) rows: a spread of ordinary values plus the
    * extremes of each type, NaN, ±Infinity, −0.0 and dates and
    * instants before 1970. */
  private lazy val table: String = {
    import spark.implicits._
    val day0 = LocalDate.of(1965, 1, 1)
    val ordinary = (0 until 120).map { k =>
      (k - 60, k * 1000000007L, k / 7.0, day0.plusDays(k * 97L),
        Instant.parse("1966-03-01T00:00:00Z").plusSeconds(k * 7919L * 3600L))
    }
    val extremes = Seq(
      (Int.MinValue, Long.MinValue, Double.NaN, LocalDate.of(1969, 7, 20),
        Instant.parse("1969-07-20T20:17:40Z")),
      (Int.MaxValue, Long.MaxValue, Double.PositiveInfinity, LocalDate.of(1900, 1, 1),
        Instant.parse("1900-01-01T00:00:00Z")),
      (0, 0L, Double.NegativeInfinity, LocalDate.of(1970, 1, 1), Instant.EPOCH),
      (1, -1L, -0.0, LocalDate.of(1969, 12, 31), Instant.parse("1969-12-31T23:59:59Z")),
      (2, 1L, 0.0, LocalDate.of(2000, 2, 29), Instant.parse("2000-02-29T12:00:00Z")))
    val dir = java.nio.file.Files.createTempDirectory("codegen_spec").toString
    (ordinary ++ extremes).toDF("i", "l", "d", "dt", "ts")
      .write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("codegen_t")
    "codegen_t"
  }

  /** Classes Janino compiled while `body` ran, and its result. */
  private def compiled[A](body: => A): (Long, A) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = body
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, a)
  }

  private def hoisted(p: SparkPlan): Seq[HoistedLiteral] =
    flatMap(p)(_.expressions.flatMap(_.collect { case h: HoistedLiteral => h }))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("a shape run again with other literals compiles no class") {
    val t = table
    Lake(spark, sfDir).registerViews()
    val shapes: Seq[(String, (Int, Int) => String)] = Seq(
      "int filter" -> ((a, _) => s"SELECT i, l FROM $t WHERE i > $a"),
      "long filter" -> ((a, _) => s"SELECT i, l FROM $t WHERE l >= ${a * 1000000007L}"),
      "double filter" -> ((a, _) => s"SELECT i, d FROM $t WHERE d < ${a / 4.0}D"),
      "date filter" -> ((a, _) =>
        s"SELECT i, dt FROM $t WHERE dt >= DATE'${LocalDate.of(1966, 1, 1).plusDays(a * 90L)}'"),
      "timestamp filter" -> ((a, _) =>
        s"SELECT i, ts FROM $t WHERE ts < TIMESTAMP'${1970 + a}-06-01 00:00:00'"),
      "CASE bucket projection" -> ((a, b) =>
        s"SELECT CASE WHEN d < $a.5D THEN 'low' WHEN d < ${a + b}.5D THEN 'mid' " +
          s"ELSE 'high' END AS bucket, count(*) AS n FROM $t GROUP BY 1"),
      "aggregate FILTER" -> ((a, b) =>
        s"SELECT count(*) FILTER (WHERE d > $a.25D) AS n, " +
          s"sum(i) FILTER (WHERE i >= $b) AS s FROM $t"),
      "entity_id % m = r" -> ((a, b) =>
        s"SELECT count(*) AS n FROM xref.unified_entities WHERE entity_id % ${a + 3} = ${b % (a + 3)}")
    )
    val again = shapes.map { case (name, sql) =>
      val (first, a) = compiled(spark.sql(sql(4, 7)).collect())
      val (second, b) = compiled(spark.sql(sql(9, 5)).collect())
      info(s"$name: $first classes, then $second")
      assert(a.nonEmpty && b.nonEmpty, name)
      name -> second
    }
    assert(again.forall(_._2 == 0), s"classes compiled for new literals: $again")
  }

  test("hoisted literals give the interpreted path's rows on NaN, ±Infinity, −0.0 and the extremes") {
    def df = spark.table(table)
    val old = lit(LocalDate.of(1969, 7, 20))
    val filters: Seq[Column] = Seq(
      col("d") === lit(Double.NaN),
      col("d") > lit(Double.NegativeInfinity),
      col("d") < lit(Double.PositiveInfinity),
      col("d") === lit(-0.0),
      col("l") === lit(Long.MinValue),
      col("l") > lit(Long.MinValue),
      col("i") === lit(Int.MinValue),
      col("dt") < old,
      col("ts") < lit(Instant.parse("1969-07-20T20:17:40Z")))
    // Thunks: each call plans afresh under the current conf.
    val frames: Seq[() => DataFrame] = filters.map(c => () => df.filter(c)) ++ Seq(
      () => df.select(
        col("i"),
        (col("d") * lit(-0.0)).as("neg_zero"),
        lit(Double.NaN).as("nan"),
        lit(Double.PositiveInfinity).as("pinf"),
        when(col("d") === lit(Double.NegativeInfinity), lit(Long.MinValue))
          .otherwise(col("l")).as("lmin"),
        when(col("i") === lit(Int.MinValue), lit(Int.MinValue)).as("imin"),
        datediff(col("dt"), old).as("days"),
        (col("dt") < old).as("before"),
        lit(null).cast(IntegerType).as("typed_null")),
      () => spark.sql(
        s"""SELECT count(*) FILTER (WHERE d = CAST('NaN' AS DOUBLE)) AS n_nan,
           |  count(*) FILTER (WHERE d = -0.0D) AS n_zero,
           |  count(*) FILTER (WHERE l = CAST('-9223372036854775808' AS BIGINT)) AS n_lmin,
           |  count(*) FILTER (WHERE i = CAST(-2147483648 AS INT)) AS n_imin,
           |  count(*) FILTER (WHERE dt < DATE'1969-07-20') AS n_old,
           |  max(d) FILTER (WHERE d < CAST('Infinity' AS DOUBLE)) AS d_max,
           |  min(d) FILTER (WHERE d > CAST('-Infinity' AS DOUBLE)) AS d_min
           |FROM $table""".stripMargin))
    frames.foreach { frame =>
      val f = frame()
      val generated = rows(f)
      assert(hoisted(f.queryExecution.executedPlan).nonEmpty, f.queryExecution.executedPlan)
      val interpreted = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"
      )(rows(frame()))
      assert(generated == interpreted, f.queryExecution.executedPlan)
    }
    // A typed NULL keeps its Literal: its codegen is a constant null.
    val projection = frames(filters.size)()
    projection.collect()
    val nulls = flatMap(projection.queryExecution.executedPlan) {
      case p: ProjectExec => p.projectList.flatMap(_.collect { case l @ Literal(null, IntegerType) => l })
      case _              => Nil
    }
    assert(nulls.size == 1, projection.queryExecution.executedPlan)
  }

  test("plans print the literal, never HoistedLiteral, and parquet pushdown keeps it") {
    Seq("true", "false").foreach { aqe =>
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        val df = spark.sql(
          s"SELECT i, d * 2.5D AS x FROM $table WHERE i > 7 AND dt >= DATE'1970-03-01'")
        df.collect()
        val plan = df.queryExecution.executedPlan
        val text = plan.toString
        assert(hoisted(plan).map(_.toString).toSet == Set("7", "2.5", "1970-03-01"), text)
        assert(text.contains("(i#") && text.contains(" > 7)") && text.contains("2.5"), text)
        assert(!text.toLowerCase.contains("hoisted"), text)
        assert(text.contains("GreaterThan(i,7)"), text)
        assert(text.contains("GreaterThanOrEqual(dt,1970-03-01)"), text)
      }
    }
  }
}
