package graft

import graft.catalog.Lake
import graft.operators.CatalogOps
import org.scalatest.funsuite.AnyFunSuite

class CatalogSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val lake = Lake(spark, sfDir)

  test("info emits valid JSON covering every table with counts and schema") {
    val json = CatalogOps.infoJson(lake)
    // all tables present
    lake.tableNames.foreach { t =>
      assert(json.contains(s""""table":"$t""""), s"missing $t in $json")
    }
    // known facts at sf0.001
    assert(json.contains(""""table":"nation","n_rows":25"""))
    assert(json.contains(""""table":"region","n_rows":5"""))
    assert(json.contains(""""name":"l_shipdate","type":"timestamp_ntz""""))
    assert(json.contains(""""name":"embedding""""))
    // disk usage present and positive
    assert(json.contains(""""n_bytes":"""))
    // structurally parseable: balanced braces/brackets, no raw control chars
    assert(json.count(_ == '{') == json.count(_ == '}'))
    assert(json.count(_ == '[') == json.count(_ == ']'))
    assert(!json.exists(_ < ' '))
  }

  test("catalog search finds tables and columns by substring") {
    val hits = CatalogOps.searchCatalog(lake, "orderkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(hits.contains(("orders", "o_orderkey")))
    assert(hits.contains(("lineitem", "l_orderkey")))
    val tableHits = CatalogOps.searchCatalog(lake, "nation")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(tableHits.contains(("nation", "(table)")))
    assert(tableHits.exists { case (t, c) => t == "customer" && c == "c_nationkey" })
  }

  test("schema-qualified views resolve in spark.sql after registerViews") {
    lake.registerViews()
    assert(spark.sql("SELECT COUNT(*) FROM trade.region").head().getLong(0) == 5)
    assert(spark.sql("SELECT COUNT(*) FROM corpus.documents").head().getLong(0) > 0)
    // the activity.events view bakes in the nanos->micros conversion
    val t = spark.sql("SELECT ts FROM activity.events LIMIT 1").schema("ts").dataType
    assert(t.typeName.startsWith("timestamp"), s"events.ts resolved as $t")
    // cross-schema joins work like any other view
    assert(spark.sql(
      """SELECT COUNT(*) FROM trade.nation n JOIN trade.region r
        |ON n.n_regionkey = r.r_regionkey""".stripMargin).head().getLong(0) == 25)
  }

  test("registered base tables are EXTERNAL: DROP TABLE never touches the parquet files") {
    // Round 16 moved the base names from `parquet.`path`` views to
    // catalog TABLES (schema analysis without footer jobs). The
    // LOCATION clause makes them EXTERNAL — this pins the property
    // that protects the lake: dropping the catalog object must leave
    // the data untouched.
    lake.registerViews()
    val path = new java.io.File(s"$sfDir/nation.parquet")
    assert(path.exists())
    // the table may be a single parquet file or a directory of parts
    def footprint(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(footprint).sum).getOrElse(0L)
    val before = footprint(path)
    assert(before > 0)
    spark.sql("DROP TABLE trade.nation")
    try {
      assert(path.exists() && footprint(path) == before,
        "DROP TABLE deleted external parquet data")
    } finally {
      // restore the catalog for later tests even if the check failed
      // (drop tripped nothing on disk, so a forced re-register rebuilds
      // the exact same objects)
      lake.registerViews(force = true)
    }
    assert(spark.sql("SELECT COUNT(*) FROM trade.nation").head().getLong(0) == 25)
  }

  test("registerViews re-registers when the dir's contents change under the same path") {
    // Build a private lake dir (region + nation suffice for the flat
    // temp-view surface under test), register, then REWRITE a table
    // in place: a non-forced registerViews() must notice the changed
    // content fingerprint and refresh — the round-10 staleness bug
    // served the old file listing until someone passed force=true.
    val tmp = java.nio.file.Files.createTempDirectory("graft-fp-").toString
    try {
      val l0 = Lake(spark, sfDir)
      l0.tableNames.foreach { n =>
        l0.resolve(n)
          .limit(if (n == "region") 5 else 1)
          .write.mode("overwrite").parquet(s"$tmp/$n.parquet")
      }
      val l = Lake(spark, tmp)
      l.registerViews()
      assert(spark.table("region").count() == 5)
      assert(spark.sql("SELECT COUNT(*) FROM trade.region").head().getLong(0) == 5)
      // rewrite region with fewer rows (different part files on disk)
      l0.resolve("region").limit(3)
        .write.mode("overwrite").parquet(s"$tmp/region.parquet")
      l.registerViews() // NOT forced — the fingerprint must trip it
      assert(
        spark.table("region").count() == 3,
        "non-forced registerViews served a stale catalog after a rewrite"
      )
      // The SCHEMA-QUALIFIED path now resolves through a catalog TABLE
      // whose relation (schema + file listing) Spark caches per
      // session — the re-registration must invalidate that cache too,
      // or spark.sql serves the pre-rewrite listing (the documented
      // trade-off at the registerTable site).
      assert(
        spark.sql("SELECT COUNT(*) FROM trade.region").head().getLong(0) == 3,
        "catalog-table relation cache served stale data after re-register"
      )
    } finally {
      // leave the session catalog pointing at the shared test lake
      Lake(spark, sfDir).registerViews()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("catalog search matches schema-qualified names") {
    val bySchema = CatalogOps.searchCatalog(lake, "corpus")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(bySchema.contains(("documents", "(table)")))
    assert(bySchema.contains(("embeddings", "(table)")))
    val qualified = CatalogOps.searchCatalog(lake, "trade.reg")
      .collect().map(r => r.getString(0)).toSet
    assert(qualified == Set("region"))
  }

  test("column stats: exact values match direct computation; approx NDV within HLL tolerance") {
    val exact = CatalogOps.cat03ColumnStats(lake).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5), r.getString(6))).toMap
    assert(exact.size == 8)
    val nDocs = lake.documents.count()
    val (rows, nonnull, ndv, minV, maxV) = exact(("documents", "doc_id"))
    assert(rows == nDocs && nonnull == nDocs && ndv == nDocs)
    assert(minV == "0" && maxV == (nDocs - 1).toString)
    val langNdv = lake.documents.select("lang").distinct().count()
    assert(exact(("documents", "lang"))._3 == langNdv)
    // the scale path: rsd=0.02 HLL, asserted at 5 sigma (rsd is a
    // standard deviation, not a bound — the default-rsd sketch read
    // 6.7% high on o_orderkey)
    CatalogOps.cat03ColumnStats(lake, approx = true).collect().foreach { r =>
      val e = exact((r.getString(0), r.getString(1)))
      assert(math.abs(r.getLong(4) - e._3) <= math.max(2.0, 0.10 * e._3),
        s"${r.getString(1)}: approx ${r.getLong(4)} vs exact ${e._3}")
      assert((r.getLong(2), r.getLong(3), r.getString(5), r.getString(6)) ==
        ((e._1, e._2, e._4, e._5)), "non-NDV stats identical on both paths")
    }
  }

  test("upsert: updates replace matched keys, unmatched keys insert, base keeps the rest") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val updates = Seq((2L, "b2", 25.0), (9L, "new", 90.0))
      .toDF("k", "name", "v")
    val merged = CatalogOps.upsert(base, updates, "k")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._1)
    assert(merged.toSeq == Seq(
      (1L, "a", 10.0, 1),   // untouched base row
      (2L, "b2", 25.0, 0),  // replaced by the update
      (3L, "c", 30.0, 1),
      (9L, "new", 90.0, 0)  // inserted
    ))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged per key") {
    import spark.implicits._
    val before = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val after = Seq((1L, 10.0), (2L, 21.0), (4L, 40.0)).toDF("k", "v")
    val diff = CatalogOps.snapshotDiff(before, after, "k", Seq("v"))
      .select(
        org.apache.spark.sql.functions.coalesce($"_kb", $"_ka").as("k"),
        $"change_type"
      )
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toMap
    assert(diff == Map(
      1L -> "unchanged",
      2L -> "changed",
      3L -> "removed",
      4L -> "added"
    ))
  }

  test("scd2: versions are contiguous, intervals tile, exactly one current row per key") {
    val rows = CatalogOps
      .ing02Scd2History(lake)
      .select("o_custkey", "version", "valid_from", "valid_to", "is_current")
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (key, hist) =>
      val sorted = hist.sortBy(_.getLong(1))
      // versions 1..n with no gaps
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq, s"key $key")
      // every non-final valid_to chains to the next valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Any](3) == b.getAs[Any](2), s"key $key interval gap")
        case _ => ()
      }
      // exactly the final version is current (null valid_to)
      assert(sorted.count(_.getBoolean(4)) == 1, s"key $key current count")
      assert(sorted.last.getBoolean(4) && sorted.last.isNullAt(3), s"key $key last row")
    }
  }

  test("cat04: every z-bucket bounds BOTH dimensions — the 2-D pruning property") {
    val lake = graft.catalog.Lake(TestSpark.spark, TestSpark.sfDir)
    val rows = CatalogOps.cat04ZorderLayout(lake).collect()
    assert(rows.nonEmpty)
    var total = 0L
    rows.foreach { r =>
      val (bucket, n) = (r.getLong(0), r.getLong(1))
      val (minX, maxX, minY, maxY) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      total += n
      assert(bucket >= 0 && bucket < 64, s"bucket $bucket")
      // fixing the top 6 z bits fixes bits 13-15 of BOTH dims, so
      // each extent is provably < 2^13 — a 1-D sort bounds one
      // dimension and leaves the other spanning the full grid
      assert(maxX - minX < 8192, s"x extent unbounded in bucket $bucket")
      assert(maxY - minY < 8192, s"y extent unbounded in bucket $bucket")
      assert(r.getLong(6) == (maxX - minX + 1) * (maxY - minY + 1))
    }
    assert(total == lake.orders.count(), "buckets must partition the table")
  }

  test("cat04: the physical z-layout yields disjoint sorted z-ranges per partition") {
    import org.apache.spark.sql.functions._
    val lake = graft.catalog.Lake(TestSpark.spark, TestSpark.sfDir)
    val parts = CatalogOps
      .zorderPartitioned(lake, nParts = 8)
      .select(spark_partition_id().as("pid"), col("z"))
      .groupBy("pid")
      .agg(min("z").as("lo"), max("z").as("hi"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(parts.nonEmpty)
    // range partitioning: each partition's z-interval ends before the
    // next begins — each output file is one tight z-range, which is
    // what makes its footer min/max narrow in both dimensions
    parts.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._1, s"overlap: $a vs $b")
      case _           => ()
    }
    // the write path must emit the actual table: full orders payload
    // rides with the cluster key, not just derived grid columns
    val cols = CatalogOps.zorderPartitioned(lake).columns.toSet
    assert(lake.orders.columns.forall(cols.contains), cols.toSeq.sorted)
  }

  test("cat05: pruning is sound and z-order out-prunes the 1-D layout on 2-D windows") {
    val lake = graft.catalog.Lake(TestSpark.spark, TestSpark.sfDir)
    val rows = CatalogOps.cat05PruneAudit(lake).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 32) // 2 layouts × 16 predicate windows
    rows.foreach { case (layout, qid, nScan, frac, selv) =>
      assert(nScan >= 0 && nScan <= 64, s"$layout/$qid")
      // soundness: a bucket holding a matching row must intersect the
      // window, so the scanned fraction can never undercut the true
      // selectivity (pruning never drops a qualifying row)
      assert(frac + 1e-9 >= selv, s"$layout/$qid scans $frac < sel $selv")
    }
    val byLayout = rows.groupBy(_._1).map { case (l, rs) =>
      l -> rs.map(_._4).sum / rs.length
    }
    // the claim cat04 makes, measured: on 2-D predicates the z-order
    // extents prune strictly more rows than the 1-D customer sort,
    // whose every file spans the full date range
    assert(byLayout("zorder") < byLayout("linear_x"),
      s"zorder ${byLayout("zorder")} vs linear ${byLayout("linear_x")}")
  }
}
