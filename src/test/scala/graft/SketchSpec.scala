package graft

import graft.catalog.Lake
import graft.functions.text
import graft.operators.Relational
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SketchSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val lake = Lake(spark, sfDir)

  private lazy val exact: Map[String, Long] = lake.documents
    .select(explode(text.tokens(col("text"))).as("w"))
    .groupBy("w")
    .count()
    .collect()
    .map(r => r.getString(0) -> r.getLong(1))
    .toMap

  test("frequent-items sketch: bounds contain the true count; guaranteed items survive") {
    val n = exact.values.sum
    val capacity = 64
    val rows = Relational
      .rel14HeavyHitters(lake, capacity = capacity, k = 50)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (item, lb, ub) = (r.getString(1), r.getLong(2), r.getLong(3))
      val truth = exact(item)
      assert(lb <= truth && truth <= ub, s"$item: true $truth outside [$lb,$ub]")
    }
    // Misra-Gries survival guarantee: anything with true frequency
    // above n/(capacity+1) cannot be evicted, so with k = capacity the
    // returned set must include every such item.
    val all = Relational
      .rel14HeavyHitters(lake, capacity = capacity, k = capacity)
      .collect()
      .map(_.getString(1))
      .toSet
    val guaranteed = exact.filter(_._2 > n / (capacity + 1)).keySet
    assert(
      guaranteed.subsetOf(all),
      s"guaranteed heavy hitters missing: ${guaranteed -- all}"
    )
  }

  test("frequent-items sketch degenerates to exact top-k when capacity covers the vocabulary") {
    val rows = Relational
      .rel14HeavyHitters(lake, capacity = exact.size + 10, k = 10)
      .collect()
    val expected = exact.toSeq
      .sortBy { case (w, c) => (-c, w) }
      .take(10)
    rows.zip(expected).foreach { case (r, (w, c)) =>
      assert(r.getString(1) == w, s"rank ${r.getLong(0)}: ${r.getString(1)} != $w")
      assert(r.getLong(2) == c && r.getLong(3) == c, s"$w bounds not exact")
    }
  }

  test("frequent_items_sketch is callable from SQL") {
    graft.plans.GraftExtensions.register(spark)
    lake.registerViews()
    val out = spark
      .sql(
        """SELECT frequent_items_sketch(w, 1024, 5) AS top
          |FROM (SELECT explode(split(trim(regexp_replace(text, '\\s+', ' ')), ' ')) AS w
          |      FROM documents)""".stripMargin
      )
      .collect()
    assert(out.length == 1)
    assert(out.head.getSeq[Any](0).size == 5)
  }

  // deterministic pseudo-random candidate stream WITH planted score
  // ties (score quantized to 0.01) so the tie-break contract is
  // actually exercised
  private lazy val candidates = {
    import spark.implicits._
    (0 until 20000).map { i =>
      val g = i % 37
      val id = i.toLong
      val score = math.round(math.sin(i * 0.7123) * 100.0) / 100.0
      (g, id, score)
    }.toDF("g", "id", "score")
  }

  test("topk_by_score equals the row_number window formulation, ties included") {
    import org.apache.spark.sql.expressions.Window
    val k = 7
    val viaAgg = candidates
      .groupBy("g")
      .agg(graft.plans.TopKByScore(col("score"), col("id"), k).as("nb"))
      .select(col("g"), posexplode(col("nb")).as(Seq("r", "nbr")))
      .select(col("g"), (col("r") + 1).as("rank"), col("nbr.id").as("id"),
        col("nbr.score").as("score"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id"))
    val viaWindow = candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .collect()
      .map(r => (r.getInt(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(viaAgg.toSeq == viaWindow.toSeq)
  }

  test("topk_by_score: k larger than the group returns the whole group sorted; merge across partitions is lossless") {
    // 64 input partitions force real partial-buffer merges
    val out = candidates
      .repartition(64)
      .filter(col("g") === 3)
      .groupBy("g")
      .agg(graft.plans.TopKByScore(col("score"), col("id"), 10000).as("nb"))
      .select(explode(col("nb")).as("nbr"))
      .select(col("nbr.score"), col("nbr.id"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    val expected = candidates
      .filter(col("g") === 3)
      .collect()
      .map(r => (r.getDouble(2), r.getLong(1)))
      .sortBy { case (s, i) => (-s, i) }
    assert(out.toSeq == expected.toSeq)
  }

  test("topk_by_score is callable from SQL and plans a partial ObjectHashAggregate") {
    graft.plans.GraftExtensions.register(spark)
    candidates.createOrReplaceTempView("topk_cands")
    val df = spark.sql(
      "SELECT g, topk_by_score(score, id, 3) AS top FROM topk_cands GROUP BY g"
    )
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_topk_by_score"), plan)
    val rows = df.collect()
    assert(rows.length == 37)
    assert(rows.forall(_.getSeq[Any](1).size == 3))
  }

  test("dedup13: every pre-filter mode returns the identical result") {
    // below preFilterMinChars at test scale: the plain form
    val off = graft.operators.Dedup
      .dedup13ExactSubstring(lake)
      .collect()
      .map(_.toString)
      .toSeq
    assert(off.nonEmpty)
    for (
      (label, df) <- Seq(
        "set-broadcast" -> graft.operators.Dedup
          .dedup13ExactSubstring(lake, preFilterMinChars = 1L),
        // candidate set larger than a 2-key broadcast cap: exercises
        // the Bloom-probe fallback branch
        "set-bloom" -> graft.operators.Dedup
          .dedup13ExactSubstring(lake, preFilterMinChars = 1L, maxBroadcastKeys = 2)
      )
    ) {
      val got = df.collect().map(_.toString).toSeq
      assert(got == off, s"$label spans differ from the unfiltered form")
    }
  }
}
