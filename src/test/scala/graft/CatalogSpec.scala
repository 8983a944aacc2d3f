package graft

import graft.catalog.Lake
import graft.operators.{CatalogOps, Dedup, Pipeline}
import graft.sources.Ingest
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{
  CreateTableEvent, DropTableEvent, ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}
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

  /** A private lake dir for registration tests: every table of the
    * test lake, region and nation whole and the rest cut to one row. */
  private def withTempLake(prefix: String)(body: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try {
      val l0 = Lake(spark, sfDir)
      l0.tableNames.foreach { n =>
        val df = l0.resolve(n)
        (if (n == "region" || n == "nation") df else df.limit(1))
          .write.mode("overwrite").parquet(s"$tmp/$n.parquet")
      }
      body(tmp)
    } finally {
      // leave the session catalog pointing at the shared test lake
      Lake(spark, sfDir).registerViews()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  /** The session's flat temp view object: a re-created view is a new
    * object, an untouched one is the same. */
  private def tempView(n: String): AnyRef =
    spark.sessionState.catalog.getRawTempView(n).get

  private def sqlCount(sql: String): Long = spark.sql(sql).head().getLong(0)

  test("registerViews re-registers when the dir's contents change under the same path") {
    // Register a private lake dir, then change it between non-forced
    // registerViews() calls: the per-table content fingerprint must
    // notice each change — the round-10 staleness bug served the old
    // file listing until someone passed force=true.
    withTempLake("graft-fp-") { tmp =>
      import spark.implicits._
      val l0 = Lake(spark, sfDir)
      val l = Lake(spark, tmp)
      l.registerViews()
      assert(spark.table("region").count() == 5)
      assert(sqlCount("SELECT COUNT(*) FROM trade.region") == 5)
      val joinSql = """SELECT COUNT(*) FROM trade.nation n JOIN trade.region r
                      |ON n.n_regionkey = r.r_regionkey""".stripMargin
      assert(sqlCount(joinSql) == 25)

      // (a) rewrite region in place with the same schema (fewer rows,
      // different part files): only region is refreshed in place.
      val nationView = tempView("nation")
      val regionView = tempView("region")
      l0.resolve("region").limit(3)
        .write.mode("overwrite").parquet(s"$tmp/region.parquet")
      // NOT forced — the fingerprint must trip it
      val rewrite = posted(l.registerViews())
      assert(
        spark.table("region").count() == 3,
        "non-forced registerViews served a stale catalog after a rewrite"
      )
      // The SCHEMA-QUALIFIED path resolves through a catalog TABLE
      // whose relation (schema + file listing) Spark caches per
      // session — the refresh must invalidate that cache too, or
      // spark.sql serves the pre-rewrite listing (the documented
      // trade-off at the registerTable site).
      assert(
        sqlCount("SELECT COUNT(*) FROM trade.region") == 3,
        "catalog-table relation cache served stale data after re-register"
      )
      val nationsKept = spark.read.parquet(s"$tmp/nation.parquet")
        .join(spark.read.parquet(s"$tmp/region.parquet"), $"n_regionkey" === $"r_regionkey")
        .count()
      assert(nationsKept < 25 && sqlCount(joinSql) == nationsKept)
      assert(rewrite.created.isEmpty && rewrite.dropped.isEmpty,
        s"a same-schema rewrite re-created catalog objects: $rewrite")
      assert(tempView("nation") eq nationView, "untouched nation's temp view was re-created")

      // (b) rewrite region with an added column: the schema changed, so
      // trade.region alone is dropped and created again, and both names
      // show the new column (the flat alias is re-created with it).
      l0.resolve("region").limit(4).withColumn("r_extra", lit(7L))
        .write.mode("overwrite").parquet(s"$tmp/region.parquet")
      val added = posted(l.registerViews())
      assert(sqlCount("SELECT SUM(r_extra) FROM trade.region") == 28)
      assert(sqlCount("SELECT SUM(r_extra) FROM region") == 28)
      assert(added.created == Seq("trade.region") && added.dropped == Seq("trade.region"),
        s"an added column must re-create trade.region only: $added")
      assert(!(tempView("region") eq regionView) && (tempView("nation") eq nationView))

      // (c) a non-table entry in the lake dir is not a table change.
      val views = l.tableNames.map(n => n -> tempView(n)).toMap
      val landing = new java.io.File(s"$tmp/_landing")
      landing.mkdirs()
      java.nio.file.Files.write(new java.io.File(landing, "x.jsonl").toPath,
        "{\"o_orderkey\": 1}\n".getBytes("UTF-8"))
      val landed = posted(l.registerViews())
      assert(landed.created.isEmpty && landed.dropped.isEmpty, landed)
      l.tableNames.foreach { n =>
        assert(tempView(n) eq views(n), s"$n re-registered for a non-table file")
      }
      assert(sqlCount("SELECT COUNT(*) FROM trade.region") == 4)

      // (d) force on an unchanged lake refreshes every table in place:
      // the catalog already matches, so nothing is dropped.
      val forced = posted(l.registerViews(force = true))
      assert(forced.jobs == 0 && forced.created.isEmpty && forced.dropped.isEmpty, forced)
      assert(sqlCount("SELECT SUM(r_extra) FROM region") == 28)
    }
  }

  test("registerViews rejects a table dir with hive-style partition subdirectories") {
    // Registered without PARTITIONED BY, the partition column of such a
    // table would read as NULL without any error.
    withTempLake("graft-part-") { tmp =>
      Lake(spark, sfDir).resolve("region")
        .write.mode("overwrite").partitionBy("r_regionkey")
        .parquet(s"$tmp/region.parquet")
      val e = intercept[IllegalArgumentException](Lake(spark, tmp).registerViews())
      assert(e.getMessage.contains("`region`") && e.getMessage.contains("r_regionkey="),
        e.getMessage)
      assert(e.getMessage.contains("unpartitioned"), e.getMessage)
    }
  }

  test("readers of a table see no error while commits append to it and re-register") {
    // The in-place refresh drops nothing, so a concurrent reader sees
    // the old or the new listing. Appending keeps the old part files,
    // so a stale listing stays readable. A forced registration and a
    // second session's first registration of the same dir find the
    // catalog matching, so they refresh in place too. A dropped name
    // fails a reader at analysis: the reader thread analyses both names
    // on every pass and runs the reads on every tenth, and since the
    // thread that changes the catalog posts its events synchronously, a
    // probe analyses them again at every catalog event — the moments a
    // drop can leave a name missing.
    withTempLake("graft-conc-") { tmp =>
      val l = Lake(spark, tmp)
      l.registerViews()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      @volatile var phase = "append commits"
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
      def read(run: Boolean): Unit = {
        val during = phase
        try Seq("trade.region", "region").foreach { n =>
          val df = spark.sql(s"SELECT COUNT(*), SUM(r_regionkey) FROM $n")
          if (run) df.collect()
        } catch { case t: Throwable => errors.add(during -> t) }
      }
      val reader = new Thread(() =>
        while (!stop.get()) {
          read(run = reads.get() % 10 == 0)
          reads.incrementAndGet()
        }
      )
      val probe = new ExternalCatalogEventListener {
        override def onEvent(e: ExternalCatalogEvent): Unit = read(run = false)
      }
      val catalog = spark.sharedState.externalCatalog
      catalog.addListener(probe)
      reader.start()
      try {
        val one = Lake(spark, sfDir).resolve("region").limit(1)
        (1 to 5).foreach { _ =>
          one.write.mode("append").parquet(s"$tmp/region.parquet")
          l.registerViews()
        }
        phase = "registerViews(force = true)"
        (1 to 5).foreach(_ => l.registerViews(force = true))
        phase = "a second session's first registerViews()"
        Lake(spark.newSession(), tmp).registerViews()
        // let the reader run at least once after the last registration
        val seen = reads.get()
        while (reads.get() < seen + 2) Thread.sleep(10)
      } finally {
        catalog.removeListener(probe)
        stop.set(true)
        reader.join()
      }
      import scala.jdk.CollectionConverters._
      val byPhase = errors.asScala.toSeq.groupBy(_._1).map { case (p, es) => s"$p: ${es.size}" }
      assert(errors.isEmpty, s"reader errors (${byPhase.mkString(", ")}): ${errors.peek()}")
      assert(reads.get() > 0)
      assert(sqlCount("SELECT COUNT(*) FROM trade.region") == 10)
    }
  }

  /** What `body` posted to the listener bus: the Spark jobs it started
    * and the catalog objects (`db.name`) it created and dropped. */
  private case class Posted(jobs: Int, created: Seq[String], dropped: Seq[String])

  /** [[Posted]] for `body`, the listener bus drained on both sides so
    * no earlier event is counted and no later one missed. */
  private def posted(body: => Unit): Posted = {
    val sc = spark.sparkContext
    Bridge.drainListeners(sc)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = events.add(e)
    }
    sc.addSparkListener(listener)
    try {
      body
      Bridge.drainListeners(sc)
      import scala.jdk.CollectionConverters._
      val all = events.asScala.toSeq
      Posted(
        all.count(_.isInstanceOf[SparkListenerJobStart]),
        all.collect { case CreateTableEvent(db, n) => s"$db.$n" },
        all.collect { case DropTableEvent(db, n) => s"$db.$n" })
    } finally sc.removeSparkListener(listener)
  }

  private def jobsDuring(body: => Unit): Int = posted(body).jobs

  private def tempDir(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  /** A three-row (id, name) frame, with `score` when `wide`. */
  private def idFrame(wide: Boolean): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    if (wide) df.withColumn("score", lit(0.5)) else df
  }

  /** The one `part-*` file a single-partition write leaves in `dir`. */
  private def partFile(dir: String): java.io.File =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).head

  private def copy(from: java.io.File, to: java.io.File): Unit = {
    to.getParentFile.mkdirs()
    java.nio.file.Files.copy(from.toPath, to.toPath)
  }

  /** Writes `rows` event rows whose ts is TIMESTAMP(NANOS) — a layout
    * Spark cannot write — with parquet-hadoop's example writer. */
  private def writeNanosEvents(file: String, rows: Int): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |}""".stripMargin)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until rows).foreach { i =>
      writer.write(groups.newGroup()
        .append("event_id", i.toLong).append("user_id", (i % 7).toLong)
        .append("event_type", "view")
        .append("ts", 1700000000000000000L + i * 1234567L))
    } finally writer.close()
  }

  test("the driver footer schema equals Spark's inference on every layout, with no Spark job") {
    val root = tempDir("graft-footer-")
    try {
      // (path, what the layout exercises); each path is new, so no
      // cached schema answers for it
      val layouts = Seq.newBuilder[(String, String)]
      // single-file tables under a dot-named parent dir (pyarrow-written,
      // like the benchmark's lake, which lives in `.bench_work/`)
      val dotLake = new java.io.File(root, ".bench_work/lake")
      Lake(spark, sfDir).tableNames.foreach { n =>
        copy(new java.io.File(s"$sfDir/$n.parquet"), new java.io.File(dotLake, s"$n.parquet"))
        layouts += s"$dotLake/$n.parquet" -> s"single file $n under a dot dir"
      }
      // Spark part files with _SUCCESS (and hidden .crc siblings), also
      // under the dot dir: only names below the table path may hide
      val parts = s"$dotLake/parts.parquet"
      Lake(spark, sfDir).orders.repartition(3).write.parquet(parts)
      assert(new java.io.File(s"$parts/_SUCCESS").exists())
      layouts += parts -> "part-file dir with _SUCCESS"
      // summary files: their schema differs from the data's, so only
      // the right pick (_common_metadata, then _metadata) matches
      val narrow = s"$root/narrow"
      val wide = s"$root/wide"
      idFrame(wide = false).coalesce(1).write.parquet(narrow)
      idFrame(wide = true).coalesce(1).write.parquet(wide)
      for ((name, summaries) <- Seq(
          "common" -> Seq("_common_metadata"),
          "meta" -> Seq("_metadata"),
          "both" -> Seq("_metadata", "_common_metadata"))) {
        val dir = s"$root/summary_$name.parquet"
        copy(partFile(narrow), new java.io.File(s"$dir/part-00000.parquet"))
        summaries.foreach(s => copy(partFile(wide), new java.io.File(s"$dir/$s")))
        layouts += dir -> s"dir holding ${summaries.mkString(" and ")}"
      }
      // IngestSpec's schema-evolution dir: the files differ, so the
      // pick must be Spark's first-by-path file
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.json(s"$root/chunk1")
      Seq((4L, "d", 0.4)).toDF("id", "name", "score").write.json(s"$root/chunk2")
      val evolved = s"$root/evolved.parquet"
      Ingest.convertChunked(spark, Seq(
        s"$root/chunk1" -> idFrame(wide = false).schema,
        s"$root/chunk2" -> idFrame(wide = true).schema), evolved)
      layouts += evolved -> "schema-evolution dir"
      // both orders of a narrow and a wide file, named so either sorts first
      for ((first, second, tag) <- Seq((narrow, wide, "narrow"), (wide, narrow, "wide"))) {
        val dir = s"$root/order_$tag.parquet"
        copy(partFile(first), new java.io.File(s"$dir/part-00000-a.parquet"))
        copy(partFile(second), new java.io.File(s"$dir/part-00000-b.parquet"))
        layouts += dir -> s"two schemas, $tag file first"
      }
      // events in both ts layouts: TIMESTAMP_NTZ (the test lake's) and
      // TIMESTAMP(NANOS)
      val nanos = s"$root/events_nanos.parquet"
      new java.io.File(nanos).mkdirs()
      writeNanosEvents(s"$nanos/part-00000.parquet", 5)
      layouts += nanos -> "events with TIMESTAMP(NANOS)"

      val all = layouts.result()
      assert(all.exists(_._2.startsWith("single file events")))
      // registration refreshes a table in place only when the schema the
      // catalog stored for it equals the footer schema
      spark.sql(s"CREATE DATABASE footer_check LOCATION '$root/footer_check.db'")
      try all.zipWithIndex.foreach { case ((path, what), i) =>
        var driver: StructType = null
        val jobs = jobsDuring { driver = Lake.schemaFor(spark, path) }
        assert(jobs == 0, s"$what: the schema read ran $jobs Spark jobs")
        assert(driver == spark.read.parquet(path).schema, s"$what at $path")
        spark.sql(s"CREATE TABLE footer_check.t$i (${driver.toDDL}) USING parquet LOCATION '$path'")
        val stored = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(s"t$i", Some("footer_check"))).schema
        assert(stored == driver, s"$what: the catalog stored $stored")
      } finally spark.sql("DROP DATABASE footer_check CASCADE")
      // the picks above are not all one schema: the checks discriminate
      assert(Lake.schemaFor(spark, s"$root/order_narrow.parquet").size == 2)
      assert(Lake.schemaFor(spark, s"$root/order_wide.parquet").size == 3)
      assert(Lake.schemaFor(spark, s"$root/summary_common.parquet").size == 3)
      assert(Lake.schemaFor(spark, s"$nanos").apply("ts").dataType == LongType)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("registration and the in-place refresh run zero Spark jobs") {
    withTempLake("graft-jobs-") { tmp =>
      val l = Lake(spark, tmp)
      // a cold catalog: without its databases, the catalog holds no name
      (l.schemaOf.values.toSeq.distinct :+ l.derivedSchema).foreach { db =>
        spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      }
      val cold = posted(l.registerViews())
      assert(cold.jobs == 0, "cold registration ran Spark jobs")
      val tables = l.tableNames.map(n => if (n == "events") "activity.events_src" else l.qualified(n))
      assert(cold.created.sorted == (tables ++ Seq("activity.events") ++ l.derivedQualified).sorted,
        cold.created)
      assert(cold.dropped.isEmpty, cold.dropped)
      assert(sqlCount("SELECT COUNT(*) FROM trade.region") == 5)
      Lake(spark, sfDir).resolve("region").limit(3)
        .write.mode("overwrite").parquet(s"$tmp/region.parquet")
      val refresh = posted(l.registerViews())
      assert(refresh.jobs == 0, "the in-place refresh ran Spark jobs")
      assert(refresh.created.isEmpty && refresh.dropped.isEmpty, refresh)
      assert(sqlCount("SELECT COUNT(*) FROM trade.region") == 3)
      assert(sqlCount("SELECT COUNT(*) FROM region") == 3)
    }
  }

  test("a session without the nanos conf registers and reads a TIMESTAMP(NANOS) events table") {
    withTempLake("graft-nanos-") { tmp =>
      val events = new java.io.File(s"$tmp/events.parquet")
      org.apache.commons.io.FileUtils.deleteDirectory(events)
      writeNanosEvents(s"$events/part-00000.parquet", 5)
      val plain = spark.newSession()
      plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      try {
        Lake(plain, tmp).registerViews()
        val micros = (0 until 5).map(i => (1700000000000000000L + i * 1234567L) / 1000)
        for (name <- Seq("activity.events", "events")) {
          val df = plain.sql(s"SELECT unix_micros(ts) FROM $name ORDER BY event_id")
          assert(plain.table(name).schema("ts").dataType == TimestampType, name)
          assert(df.collect().map(_.getLong(0)).toSeq == micros, name)
        }
      } finally Lake(spark, sfDir).registerViews(force = true) // the catalog is shared
    }
  }

  test("Spark's inference still answers the schema read: mergeSchema, a broken footer, a missing table") {
    val root = tempDir("graft-fallback-")
    try {
      // mergeSchema on: every footer counts, so Spark merges them
      idFrame(wide = false).coalesce(1).write.parquet(s"$root/merged.parquet")
      idFrame(wide = true).coalesce(1).write.mode("append").parquet(s"$root/merged.parquet")
      val merging = spark.newSession()
      merging.conf.set("spark.sql.parquet.mergeSchema", "true")
      var merged: StructType = null
      assert(jobsDuring { merged = Lake.schemaFor(merging, s"$root/merged.parquet") } > 0)
      assert(merged.fieldNames.toSeq == Seq("id", "name", "score"))
      assert(merged == merging.read.parquet(s"$root/merged.parquet").schema)
      // a truncated footer and a missing table fail with Spark's error
      val broken = s"$root/broken.parquet"
      idFrame(wide = false).coalesce(1).write.parquet(broken)
      val f = partFile(broken)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      java.nio.file.Files.write(f.toPath, bytes.take(bytes.length - 6))
      new java.io.File(f.getParent, s".${f.getName}.crc").delete()
      // (a failed job's message carries its stage and task ids, so the
      // comparison is the exception class and the root cause's message)
      def rootCause(t: Throwable): Throwable = Option(t.getCause).fold(t)(rootCause)
      for (path <- Seq(broken, s"$root/missing.parquet")) {
        val ours = intercept[Exception](Lake.schemaFor(spark, path))
        val sparks = intercept[Exception](spark.read.parquet(path).schema)
        assert(ours.getClass == sparks.getClass, s"$path: $ours vs $sparks")
        assert(rootCause(ours).getMessage == rootCause(sparks).getMessage,
          s"$path: ${rootCause(ours)} vs ${rootCause(sparks)}")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("several paths read with the schema Spark infers over them, with no Spark job") {
    val root = tempDir("graft-paths-")
    try {
      val narrow = s"$root/narrow"
      val wide = s"$root/wide"
      idFrame(wide = false).coalesce(1).write.parquet(narrow)
      idFrame(wide = true).coalesce(1).write.parquet(wide)
      // a batch store: batch=0 narrow, batch=1 wide; and a third dir
      // whose _common_metadata (wide) outranks every data file
      val store = s"$root/store"
      copy(partFile(narrow), new java.io.File(s"$store/batch=0/part-00000.parquet"))
      copy(partFile(wide), new java.io.File(s"$store/batch=1/part-00000.parquet"))
      copy(partFile(narrow), new java.io.File(s"$store/batch=2/part-00000.parquet"))
      copy(partFile(wide), new java.io.File(s"$store/batch=2/_common_metadata"))
      val b = (0 to 2).map(i => s"$store/batch=$i")
      for ((paths, width) <- Seq(
          Seq(b(0), b(1)) -> 2, Seq(b(1), b(0)) -> 2, Seq(b(1)) -> 3,
          Seq(b(0), b(2)) -> 3, Seq(b(2), b(1), b(0)) -> 3)) {
        var driver: StructType = null
        assert(jobsDuring { driver = Lake.schemaFor(spark, paths) } == 0, paths)
        assert(driver == spark.read.parquet(paths: _*).schema, paths)
        assert(driver.size == width, paths)
        var read: org.apache.spark.sql.DataFrame = null
        assert(jobsDuring { read = Lake.readParquet(spark, paths: _*) } == 0, paths)
        assert(jobsDuring(spark.read.parquet(paths: _*)) == 1, paths)
        assert(read.collect().map(_.toString).sorted.toSeq ==
          spark.read.parquet(paths: _*).collect().map(_.toString).sorted.toSeq, paths)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("persisted-state readers open their stores with no schema-inference job") {
    // Jobs each call runs: opening a stored table runs none, so what is
    // left is the calls' own work (the delta cut, the batch's writes
    // and verifies). A bare spark.read.parquet added one inference job
    // per table opened: incrementalFromIndex 4 → 2 (bands, shingles),
    // the band sink's second batch 15 → 13 (prior bands, prior
    // shingles), the pretrain sink's second batch 5 → 4 (prior
    // fingerprints).
    val root = tempDir("graft-stores-")
    try {
      val dir = s"$root/band_index"
      Dedup.writeBandIndex(lake, dir)
      val index = jobsDuring(Dedup.incrementalFromIndex(lake, dir))
      val docs = lake.documents.select("doc_id", "source", "text")
      val b0 = docs.filter(col("doc_id") % 2 === 0)
      val b1 = docs.filter(col("doc_id") % 2 === 1)
      val bands = Dedup.minhashPairsBatchSink(s"$root/lsh")
      bands(b0.select("doc_id", "text"), 0L)
      val bandSink = jobsDuring(bands(b1.select("doc_id", "text"), 1L))
      val survivors = Pipeline.pretrainPrefixBatchSink(s"$root/pretrain")
      survivors(b0, 0L)
      val prefixSink = jobsDuring(survivors(b1, 1L))
      val got = Map("index" -> index, "bandSink" -> bandSink, "prefixSink" -> prefixSink)
      info(got.toString)
      assert(got == Map("index" -> 2, "bandSink" -> 13, "prefixSink" -> 4), got)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
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
    // key 3 appears twice in the updates: exactly one of its update
    // rows survives, and the base row does not
    val updates = Seq((2L, "b2", 25.0), (9L, "new", 90.0), (3L, "c1", 31.0), (3L, "c2", 32.0))
      .toDF("k", "name", "v")
    val merged = CatalogOps.upsert(base, updates, "k")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._1)
    assert(merged.filter(_._1 != 3L).toSeq == Seq(
      (1L, "a", 10.0, 1),   // untouched base row
      (2L, "b2", 25.0, 0),  // replaced by the update
      (9L, "new", 90.0, 0)  // inserted
    ))
    val three = merged.filter(_._1 == 3L)
    assert(three.length == 1, three.toSeq)
    assert(Set((3L, "c1", 31.0, 0), (3L, "c2", 32.0, 0)).contains(three.head), three.head)
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
