package graft
import graft.Json.quote
import org.apache.spark.sql.SparkSession
object Bench {
  /** Untimed warmup: JVM/codegen spin-up and file-index listing are
    * session costs, not per-query costs; without this the first
    * query measured pays ~3-5s of one-time overhead. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    val lake = graft.catalog.Lake(spark, sfDir)
    // Full noop materialization, not count(): count() is answered
    // from parquet metadata and never decodes the wide string/array
    // columns, so whichever query touched documents/embeddings first
    // was silently billed the one-time cold decompression.
    lake.tableNames.foreach { n =>
      lake.resolve(n).write.mode("overwrite").format("noop").save()
    }
    spark.range(1000).selectExpr("sum(id)").collect()
  }

  /** Clear session + RDD caches AFTER the clock stops, BLOCKING
    * (round-13 review, two lessons): an operator that persists
    * internally (dedup13's repartitioned gram stream) must not
    * serve sweep N+1 from sweep N's cache — min-of-sweeps would
    * record a cache hit, not the query — and leaked entries pin
    * storage against later queries (one ingredient in sim11's
    * sf10 allocation failure). Clearing BEFORE the run with async
    * unpersist was measured +23% on the whole sf0.1 suite: the
    * block-removal work landed inside the next query's timed
    * window. After + blocking keeps cleanup off the clock. */
  private[graft] def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Default 3 sweeps (was 2): with two same-length sweeps, one
    // multi-second noise window per sweep is enough to leave several
    // queries with no clean measurement at all — r4 (q12/q14/q18) and
    // r5 (graph05/q05/q06/q07/rel09/rel12) each inherited one such
    // window into the official record. A third sweep gives every
    // query two more chances to land outside the window; reversal
    // (below) decorrelates which queries it covers.
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "3").toInt
    val spark = GraftSession.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    // >=2 sweeps, report the per-query MIN: this machine's background
    // virtualization noise hits contiguous multi-second windows (r2's
    // bench showed one stretch elevated ~4-6x vs a clean run of the
    // same plans), and min-of-sweeps is robust to a spike landing on
    // any single run. Failures are recorded per query, never swallowed
    // into a plausible-looking elapsed time.
    // SPARK_GRAFT_QUERIES=a,b,c runs a SUBSET (the tracked sf10
    // heavyweight record, judge round-12 #8: a full 190-query sweep
    // at sf10 is a multi-hour run, but the scale story lives in ~30
    // heavyweights — subsetting makes that record per-round diffable
    // with the same measurement discipline as the sf0.1 suite).
    // Unknown names fail loudly: a typo must not silently shrink the
    // record and read as a speedup.
    val subsetEnv = sys.env.get("SPARK_GRAFT_QUERIES")
    val names = subsetEnv match {
      case Some(csv) =>
        val asked = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        SparkEntry.requireKnown(asked)
        asked.distinct.sorted
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val best = collection.mutable.Map[String, Double]()
    val allRuns =
      collection.mutable.Map[String, collection.mutable.ArrayBuffer[Double]]()
    val failedElapsed = collection.mutable.Map[String, Double]()
    val errors = collection.mutable.Map[String, String]()
    val succeeded = collection.mutable.Set[String]()
    var nRuns = 0
    def runOnce(name: String): Unit = {
      nRuns += 1
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets Spark prune projections
      // and drop sorts, under-measuring map-heavy queries. The noop
      // write materializes every output row and column.
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (!best.contains(name) || dt < best(name)) best(name) = dt
        allRuns.getOrElseUpdate(name, collection.mutable.ArrayBuffer()) += dt
        succeeded += name
      } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)
          errors(name) = msg
          // A failed run's elapsed is kept OUT of `best`: an abort is
          // often faster than the real query, and min-of-sweeps would
          // otherwise report the abort as the measurement.
          val dt = (System.nanoTime() - t0) / 1e9
          if (!failedElapsed.contains(name) || dt < failedElapsed(name))
            failedElapsed(name) = dt
      }
      releaseCaches(spark)
    }
    // Alternate sweeps run in reverse order: this box's background
    // noise arrives in contiguous multi-second windows, so two sweeps
    // in the SAME order can land the same queries inside the window
    // twice and min-of-sweeps never sees a clean run of them.
    for (sweep <- 1 to sweeps;
         name <- if (sweep % 2 == 0) names.reverse else names)
      runOnce(name)
    // Noise-adaptive extra sweeps (round-10's +28 s phantom: one query
    // recorded a 7.3 s window spike as its official min while a
    // re-measure read 2.7 s). A query whose sweep spread — max/min
    // over successful runs — exceeds 2x got at least one run inside a
    // noise window; give each up to 2 extra runs so the min has two
    // more chances to land clean. Bounded: only flagged queries pay,
    // and queries that stay noisy after that are REPORTED as noisy in
    // the detail file so a BENCH diff can discount them.
    def spread(n: String): Double = {
      val rs = allRuns.getOrElse(n, collection.mutable.ArrayBuffer())
      if (rs.size < 2 || rs.min <= 0) 1.0 else rs.max / rs.min
    }
    for (pass <- 1 to 2) {
      val flagged = names.filter(n => succeeded(n) && spread(n) > 2.0)
      flagged.foreach(runOnce)
    }
    val noisy = names.filter(n => succeeded(n) && spread(n) > 2.0)
    // A query counts as failed only if NO sweep succeeded: `errors`
    // alone is asymmetric (succeed-then-fail would keep the error and
    // discard a valid min-of-sweeps measurement).
    errors.keys.toSeq.foreach(n => if (succeeded(n)) errors.remove(n))
    // 3-decimal (ms) precision: the full-precision doubles made the
    // one JSON line long enough that the driver's tail capture cut off
    // its head (BENCH_r03 arrived unparseable). 1 ms resolution is
    // below this machine's run-to-run noise anyway.
    def f3(d: Double): String = // Locale.ROOT: a comma decimal point is not JSON
      "%.3f".formatLocal(java.util.Locale.ROOT, d)
    // A query that never succeeded appears in `errors` and is excluded
    // from the headline total: a broken query must not look like a
    // fast one.
    val failed = names.filter(n => errors.contains(n))
    val errJson = failed.map(n => s"${quote(n)}:${quote(errors(n))}").mkString("{", ",", "}")
    val total = names.filterNot(errors.contains).map(best(_)).sum
    // The driver tail-captures only the LAST 2000 chars of stdout.
    // Per-query timings in that line do NOT survive suite growth:
    // short keys bought headroom to ~130 queries, then BENCH_r06's 154
    // keys overflowed the capture again and the round lost its suite
    // total. So the per-query map goes to a FILE, and stdout gets only
    // a compact summary (total + counts + slowest-5) that stays under
    // ~500 chars at any suite size.
    val qs = names
      .map(n =>
        quote(n) + ":" + f3(
          best.getOrElse(n, failedElapsed.getOrElse(n, 0.0))
        )
      )
      .mkString("{", ",", "}")
    // Per-sweep arrays + the still-noisy list (detail file only): a
    // BENCH diff can now separate a real regression (all sweeps moved)
    // from a window artifact (one spiked sweep) without a re-run.
    val sweepsByQuery = names
      .filter(allRuns.contains)
      .map(n => s"${quote(n)}:[${allRuns(n).map(f3).mkString(",")}]")
      .mkString("{", ",", "}")
    val noisyJson = noisy.map(quote).mkString("[", ",", "]")
    val sfName = new java.io.File(sfDir).getName
    // Anchor the detail file to an explicit base (env override) or the
    // cwd made ABSOLUTE in the summary JSON — run from outside the
    // repo root, a bare relative path would land the file elsewhere
    // while the stdout summary still advertised the repo-relative one.
    val detailBase = sys.env.getOrElse("SPARK_GRAFT_RUNS_DIR", "tools/runs")
    // A SPARK_GRAFT_QUERIES subset run must never overwrite the
    // full-suite record (advisor round 13): subsets get their own
    // file, and both the detail and summary JSON carry the subset
    // list so a 33-query "total" can't be read as the suite total
    // when diffing records.
    val latestName =
      if (subsetEnv.isDefined) s"bench_${sfName}_subset_latest.json"
      else s"bench_${sfName}_latest.json"
    val subsetJson =
      subsetEnv.map(quote).getOrElse("null")
    val detailPath =
      new java.io.File(detailBase, latestName).getAbsolutePath
    // heap_gb: records the -Xmx the numbers were measured under — a
    // record produced at 16g must not be diffed against an 8g one as
    // if the environment were equal (round 14: the sf10 subset is
    // memory-marginal at 8g on some data draws). ROUNDED, not
    // truncated: several GCs report maxMemory slightly below -Xmx
    // (8g -> ~7.97g), and integer division would label identical
    // environments differently across JVM/GC configs.
    val heapGb =
      math.round(Runtime.getRuntime.maxMemory.toDouble / (1L << 30))
    // noise_pct: this box's documented between-session noise window
    // (round 14: a same-code driver re-run read +12% on the suite
    // total with no operator changed — per-query diffs within the
    // window are weather, not regressions; see memory/BASELINE).
    // Carried in the record itself so a diff reader doesn't need the
    // provenance docs to avoid misreading a +12% total.
    val noisePct = 20
    val detailJson =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","subset":$subsetJson,"heap_gb":$heapGb,"noise_pct":$noisePct,"sweeps":$sweeps,"n_queries":${names.size},"n_failed":${failed.size},"errors":$errJson,"queries":$qs,"runs":$sweepsByQuery,"noisy":$noisyJson,"sf":"$sfDir"}"""
    locally {
      val f = new java.io.File(detailPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(detailJson)
      finally w.close()
    }
    val slowest = names
      .filterNot(errors.contains)
      .sortBy(n => -best(n))
      .take(5)
      .map(n => s"${quote(n)}:${f3(best(n))}")
      .mkString("{", ",", "}")
    // Failures must still be visible in the official record even
    // without the detail file: name the first 3 (messages truncated).
    val errBrief = failed
      .take(3)
      .map(n => s"${quote(n)}:${quote(errors(n).take(60))}")
      .mkString("{", ",", "}")
    // n_runs/n_extra make run counts comparable across records
    // (advisor round 11): the noise-adaptive pass gives flagged
    // queries extra min-of-N draws, so two runs at the same nominal
    // sweep count are NOT sampling-equivalent — a diff can now
    // normalize by the actual draw counts (per-query counts = the
    // `runs` array lengths in the detail file).
    val nExtra = nRuns - sweeps * names.size
    val json =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","subset":$subsetJson,"noise_pct":$noisePct,"sweeps":$sweeps,"n_runs":$nRuns,"n_extra":$nExtra,"n_queries":${names.size},"n_failed":${failed.size},"n_noisy":${noisy.size},"errors":$errBrief,"slowest":$slowest,"detail":"$detailPath","sf":"$sfDir"}"""
    // The JSON line must be the LAST thing on stdout: silence every
    // logger first (Spark's stop/shutdown hooks log at INFO/WARN and
    // the driver may merge stderr into the captured stream), stop the
    // session, THEN print.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(json)
    System.out.flush()
  }
}
