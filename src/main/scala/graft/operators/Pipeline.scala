package graft.operators

import graft.catalog.Lake
import graft.functions.text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end pretraining corpus pipeline — the composition a real
  * training-data run executes as ONE dataflow, not five separate
  * queries: clean (convert_fulltext.py clean_text) → rule-based
  * quality filter (Gopher) → exact bag-of-words dedup keeping the
  * canonical doc (materialize_fulltext.py:87-118's per-key survivor)
  * → overlapping chunking → per-source sequence packing. Each stage
  * is the already-verified operator's transform; composing them here
  * proves the stages agree on schemas and that the whole funnel is
  * expressible as one Catalyst plan (single action, no intermediate
  * materialization except the shared cleaned frame).
  *
  * Scale: clean/filter/fingerprint are map-only; dedup is one
  * hash-shuffle on the fingerprint; chunk+pack shuffle once per
  * source shard (txt16's parallel-packing discipline). Nothing in the
  * funnel is quadratic; peak state is the per-source packing window.
  *
  * The cleaning stage strips the SAME deterministic planted markers
  * as txt19 (the corpus itself carries none), so the stage does real
  * work the oracle can mirror; the leftover planted words (see, fig.,
  * tail, end) flow through tokenization identically in both engines.
  */
object Pipeline {

  /** Cleaned documents: (doc_id, source, text) with markers stripped
    * and whitespace normalized — txt19's transform, keeping the text.
    * Takes any (doc_id, source, text) frame so the streaming twin's
    * micro-batches ride the identical expression chain. */
  private[graft] def cleanedDocsOf(docs: DataFrame): DataFrame = {
    val raw = concat(
      col("text"),
      lit(" {{cite:c"), col("doc_id"),
      lit("}}  see  fig. {{figure:f"), col("doc_id"),
      lit("}}\n\n\n\ntail {{formula:eq"), col("doc_id"),
      lit("}} end  ")
    )
    val stripped = regexp_replace(
      col("raw"),
      "\\{\\{(cite|formula|figure|table):[^}]*\\}\\}",
      ""
    )
    val spaces = regexp_replace(stripped, "[ \\t]+", " ")
    val clean = trim(regexp_replace(spaces, "\\n{3,}", "\n\n"))
    docs
      .select(col("doc_id"), col("source"), raw.as("raw"))
      .select(col("doc_id"), col("source"), clean.as("text"))
  }

  private[graft] def cleanedDocs(lake: Lake): DataFrame =
    cleanedDocsOf(lake.documents)

  def pipe01PretrainCorpus(
      lake: Lake,
      chunkSize: Int = 50,
      stride: Int = 40,
      capacity: Int = 512,
      shardSize: Int = 200
  ): DataFrame = {
    // The cleaned frame feeds the verdict, the fingerprint and the
    // chunker — materialize the three-regex chain once.
    val cleaned = cleanedDocs(lake).localCheckpoint(false)
    val passing = TextAnalysis
      .gopherVerdict(cleaned)
      .filter(col("passes"))
      .select("doc_id")
    val survivors = cleaned
      .join(passing, "doc_id")
      .withColumn("fp", text.bagFingerprint(col("text")))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
      )
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("source"), text.tokens(col("text")).as("toks"))
    packCorpus(survivors, chunkSize, stride, capacity, shardSize)
  }

  /** pipe01's packing tail over a (doc_id, source, toks) survivor
    * frame — shared with txt16 (the whole corpus) and the streaming
    * prefix's accumulated survivor store, which is packed with the
    * IDENTICAL plan (the twin-≡-batch spec rides this). */
  private[graft] def packCorpus(
      survivors: DataFrame,
      chunkSize: Int = 50,
      stride: Int = 40,
      capacity: Int = 512,
      shardSize: Int = 200
  ): DataFrame = {
    // (source, shard) packing key: a per-source-only
    // window serializes a 10-TB source through one task at scale;
    // sharding caps the window partition at shardSize docs for one
    // partial bin per shard boundary (bounds pinned in PipelineSpec).
    val chunks = TextAnalysis
      .withChunkStarts(survivors, stride)
      .select(
        col("source"),
        (col("doc_id") / shardSize).cast("long").as("shard"),
        col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        size(slice(col("toks"), col("start") + 1, lit(chunkSize)))
          .cast("long")
          .as("chunk_len")
      )
    val w = Window
      .partitionBy("source", "shard")
      .orderBy("doc_id", "chunk_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("cum", sum("chunk_len").over(w))
      .withColumn(
        "bin_id",
        floor((col("cum") - col("chunk_len")) / lit(capacity))
      )
      .groupBy("source", "shard", "bin_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("chunk_len").as("bin_tokens")
      )
      .orderBy("source", "shard", "bin_id")
  }

  /** Streaming twin of pipe01's clean → filter → dedup prefix — the
    * funnel stages that ingest CONTINUOUSLY in production (a daily
    * crawl drop cleans, filters, and dedups on arrival; chunk+pack run
    * at training-set-assembly time over whatever has accumulated). A
    * foreachBatch sink over a batch-keyed, replay-idempotent survivor
    * store — the round-11 LSH sink's state discipline verbatim:
    * `survivors/batch=N` subdirs, OVERWRITTEN on checkpoint replay (so
    * a retried batch is a no-op rewrite), probed strictly below the
    * current batch id (a failed attempt's partial files are never
    * read), legacy flat layouts refused fast.
    *
    * Each micro-batch of raw (doc_id, source, text) documents is
    * cleaned (txt19's transform) and Gopher-filtered map-side,
    * bag-fingerprinted, and kept iff its fingerprint is UNSEEN: not in
    * any prior batch's survivor store, and not claimed by a smaller
    * doc_id in the same batch. Survivors carry (doc_id, source, toks,
    * fp) — the store doubles as the fingerprint index the next batch
    * probes, so the funnel needs no second state table, and
    * [[packCorpus]] over the accumulated store is the batch funnel's
    * tail unchanged.
    *
    * Canonical-survivor contract: FIRST ARRIVAL wins, ties within a
    * batch to the smaller doc_id. When ingestion is id-ordered (the
    * production case — ids are assigned at ingestion), that is exactly
    * pipe01's min-doc_id-per-fingerprint rule and the packed store
    * equals the batch funnel row for row (StreamingSpec pins it); an
    * out-of-order arrival keeps its earlier-arrived duplicate instead,
    * and a replay never flips an earlier verdict (dedup12's
    * discipline).
    *
    * Scale shape: clean/filter/fingerprint are map-only over the
    * micro-batch; the dedup probe is one anti-join whose batch side is
    * micro-batch-sized and whose store side reads ONLY the `fp` column
    * (projection-pruned scan of the survivor parquet); at 100 TB the
    * store probe rides a Bloom filter over stored fingerprints
    * (dedup14's machinery) in front of the anti-join.
    *
    * `bloomFpp > 0` puts dedup14's machinery in FRONT of the exact
    * anti-join (the 100 TB probe shape): a Bloom filter over the
    * stored fingerprints is probed map-only over the micro-batch;
    * definite-miss documents — the vast majority of a steady-state
    * drop — are kept WITHOUT touching the store, and only the
    * might-contain remainder falls through to the exact anti-join
    * (false positives cost a verify, never a wrong verdict — Bloom's
    * no-false-negatives guarantee means no stored duplicate can slip
    * past). When the remainder is empty the store is not scanned at
    * all that batch.
    *
    * The filter is PERSISTED beside the store (`bloom/batch=N`, fixed
    * geometry from `bloomExpectedItems` x `bloomFpp` so every file
    * merges with every other) and updated INCREMENTALLY: each batch
    * loads the newest covering filter, folds in any survivor batches
    * written since it (normally none — one small scan only after a
    * crash between the survivor and bloom writes, or on first
    * enablement over a pre-bloom store), probes, and after the
    * survivor write merges in just-this-batch's kept fingerprints and
    * persists via temp + atomic rename. Steady state therefore reads
    * ZERO prior-survivor bytes for a definite-new batch — the
    * round-12 form rebuilt the filter from a full store scan (plus a
    * count) every micro-batch, strictly more store I/O than the
    * anti-join it replaced (ADVICE round 12). A store outgrowing
    * `bloomExpectedItems` only degrades the filter's fpp (more rows
    * fall through to the exact join), never correctness. Results are
    * bit-identical to the exact path at any fpp (spec-pinned). */
  def pretrainPrefixBatchSink(
      stateDir: String,
      bloomFpp: Double = 0.0,
      bloomExpectedItems: Long = 10000000L
  ): (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val spark = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(s"$stateDir/survivors")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val priorIds: Seq[(Long, String)] = Dedup
      .batchDirs(fs, root, batchId - 1)
      .map { case (id, p) => id -> p.toString }
    val prior: Seq[String] = priorIds.map(_._2)
    val cleaned = cleanedDocsOf(batch.select("doc_id", "source", "text"))
    val passing = TextAnalysis
      .gopherVerdict(cleaned)
      .filter(col("passes"))
      .select("doc_id")
    val canon = cleaned
      .join(passing, "doc_id")
      .withColumn("fp", text.bagFingerprint(col("text")))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
      )
      .filter(col("rn") === 1)
      .select(
        col("doc_id"),
        col("source"),
        text.tokens(col("text")).as("toks"),
        col("fp")
      )
    val survivors =
      if (prior.isEmpty) canon
      else {
        val storedFps = Lake.readParquet(spark, prior: _*).select("fp")
        def antiJoin(cands: DataFrame): DataFrame = cands
          .join(storedFps, Seq("fp"), "left_anti")
          .select("doc_id", "source", "toks", "fp")
        if (bloomFpp <= 0) antiJoin(canon)
        else {
          import spark.implicits._
          // three consumers below (probe, definite-new, remainder) —
          // materialize the clean+filter+canonicalize chain once
          val canonM = canon.localCheckpoint()
          // newest persisted filter (a replayed batch's own earlier
          // generation is safe — it only adds might-contains, and the
          // exact join below reads strictly-prior batches), then fold
          // in any survivor batches it does not cover yet (none in
          // steady state — one catch-up scan only after a crash
          // between the survivor and bloom writes, or on first
          // enablement over a pre-bloom store)
          val (cover, loaded) = loadBloom(fs, stateDir, batchId + 1)
          val master = foldBloom(
            spark,
            loaded,
            priorIds.filter(_._1 > cover).map(_._2),
            bloomExpectedItems,
            bloomFpp
          )
          master match {
            case None =>
              // nothing loaded and every folded batch was empty: the
              // store holds zero fingerprints, the exact join keeps
              // everything trivially
              antiJoin(canonM)
            case Some(bf) =>
              val bcast = spark.sparkContext.broadcast(bf)
              // map-only probe over the micro-batch: ids that MIGHT be
              // in the store (batch-sized or smaller, so it broadcasts)
              val mightIds = canonM
                .select(col("doc_id"), col("fp"))
                .as[(Long, String)]
                .mapPartitions { it =>
                  val f = bcast.value
                  it.collect { case (id, fp) if f.mightContainString(fp) => id }
                }
                .toDF("doc_id")
                .localCheckpoint()
              val definiteNew = canonM
                .join(broadcast(mightIds), Seq("doc_id"), "left_anti")
                .select("doc_id", "source", "toks", "fp")
              if (mightIds.isEmpty) definiteNew
              else
                definiteNew.unionAll(
                  antiJoin(canonM.join(broadcast(mightIds), Seq("doc_id"))))
          }
        }
      }
    survivors.write
      .mode("overwrite")
      .parquet(s"$stateDir/survivors/batch=$batchId")
    if (bloomFpp > 0) {
      // fold this batch's kept fingerprints into the persisted filter:
      // load the newest covering generation (<= batchId — a replayed
      // batch's own earlier filter is safe, inserts are idempotent),
      // catch up anything it misses, merge the just-written batch,
      // persist atomically, retire the superseded generation.
      val (cover, loaded) = loadBloom(fs, stateDir, batchId + 1)
      val toFold = (priorIds :+
        (batchId -> s"$stateDir/survivors/batch=$batchId"))
        .filter(_._1 > cover)
        .map(_._2)
      foldBloom(spark, loaded, toFold, bloomExpectedItems, bloomFpp)
        .foreach(writeBloom(fs, stateDir, batchId, _))
    }
  }

  /** Fold batch dirs\' fp columns into an optional master filter.
    * Every filter here comes from the SAME stat.bloomFilter path with
    * the same (expectedItems, fpp) — Spark 4\'s aggregate builds a V2
    * impl whose bit sizing differs from `BloomFilter.create`, so
    * mixing constructors makes mergeInPlace refuse — and an EMPTY
    * input yields no filter at all (the aggregate returns null), so
    * zero-survivor batches are skipped and the result is None iff
    * nothing was loaded and every folded dir was empty. */
  private def foldBloom(
      spark: org.apache.spark.sql.SparkSession,
      loaded: Option[org.apache.spark.util.sketch.BloomFilter],
      paths: Seq[String],
      expectedItems: Long,
      fpp: Double
  ): Option[org.apache.spark.util.sketch.BloomFilter] =
    paths.foldLeft(loaded) { (acc, path) =>
      val df = Lake.readParquet(spark, path).select("fp")
      if (df.isEmpty) acc
      else {
        val b = df.stat.bloomFilter("fp", expectedItems, fpp)
        acc match {
          case Some(m) => m.mergeInPlace(b); acc
          case None    => Some(b)
        }
      }
    }

  /** Newest persisted bloom generation strictly below `beforeId`:
    * (covered batch id, filter); (-1, None) when none exists. */
  private def loadBloom(
      fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String,
      beforeId: Long
  ): (Long, Option[org.apache.spark.util.sketch.BloomFilter]) = {
    val dir = new org.apache.hadoop.fs.Path(s"$stateDir/bloom")
    if (!fs.exists(dir)) return (-1L, None)
    val cands = fs
      .listStatus(dir)
      .toSeq
      .filter(_.isFile)
      .flatMap(st =>
        st.getPath.getName
          .stripPrefix("batch=")
          .toLongOption
          .filter(_ < beforeId)
          .map(_ -> st.getPath)
      )
    if (cands.isEmpty) (-1L, None)
    else {
      val (id, p) = cands.maxBy(_._1)
      val in = fs.open(p)
      try (id, Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in)))
      finally in.close()
    }
  }

  /** Persist a bloom generation via temp + atomic rename, then retire
    * superseded generations (best-effort — any survivor is still a
    * valid, merely staler, filter). */
  private def writeBloom(
      fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String,
      batchId: Long,
      bf: org.apache.spark.util.sketch.BloomFilter
  ): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$stateDir/bloom")
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".batch=$batchId.tmp")
    val out = fs.create(tmp, true)
    try bf.writeTo(out)
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(dir, s"batch=$batchId")
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"could not commit bloom generation $dst")
    fs.listStatus(dir)
      .filter(_.isFile)
      .foreach(st =>
        st.getPath.getName
          .stripPrefix("batch=")
          .toLongOption
          .filter(_ < batchId)
          .foreach(_ => fs.delete(st.getPath, false))
      )
  }

  /** Maintenance compaction for [[pretrainPrefixBatchSink]]'s survivor
    * store — the same small-files lifecycle the LSH band store needs:
    * a long-running ingestion accumulates one `batch=N` subdir per
    * micro-batch, so the probe's listStatus and per-probe parquet
    * footer reads grow with stream age. Folds every committed batch
    * (<= upTo) into one `batch=upTo` dir through the shared
    * `_SUCCESS`-marked temp-dir swap (crash-recoverable, see
    * Dedup.compactBatchStore); the merged dir keeps the batch=
    * naming, so a later batch N > upTo probes it through the same
    * strictly-below rule. Run while the stream is stopped, with
    * upTo = the last committed batch id. */
  def compactSurvivorStore(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      upTo: Long
  ): Unit =
    Dedup.compactBatchStore(spark, s"$stateDir/survivors", upTo)

  /** pipe02: the WEIGHTED-corpus funnel — the selection-side
    * composition pipe01's packing-side funnel doesn't cover, as one
    * dataflow: line-level dedup (txt26's transform, boilerplate
    * struck corpus-wide) → CCNet per-language tercile selection on
    * the CLEANED text (drop the tail third, txt25's machinery) →
    * soft-dedup weights among the survivors (MinHash pairs on the
    * cleaned text → star-CC clusters → 1/|cluster| mass, samp07's
    * machinery) → per-(source, bucket) mixture report with raw and
    * EFFECTIVE (dedup-weighted) document counts — the numbers a
    * sampler needs to draw the final training mix.
    *
    * Scale: every stage is its standalone operator's linear shape;
    * the only additions are two narrow joins (survivor filter,
    * cluster sizes). The cleaned frame is localCheckpointed once and
    * feeds scoring, shingling, and the report; weights of clusters
    * SPLIT by the tercile cut credit each (source, bucket) group
    * only its own members' mass. */
  def pipe02WeightedCorpus(
      lake: Lake,
      minDocs: Int = 3,
      threshold: Double = 0.5,
      maxIters: Int = 20
  ): DataFrame = {
    val cleaned = TextAnalysis.lineDedupedDocs(lake, minDocs)
      .select("doc_id", "source", "lang", "text")
      .localCheckpoint(false)
    // CCNet scoring over the cleaned corpus — txt15's one-join model
    // shape: the token stream is partitioned by w once and
    // checkpointed (vocabulary aggregation + scoring join share the
    // exchange), and -ln(c/total) is precomputed per DISTINCT word in
    // a vocab-sized model, shuffle_hash-hinted so the planner can't
    // auto-broadcast the stat-less checkpointed stream.
    val toks = cleaned
      .select(col("doc_id"), explode(text.tokens(col("text"))).as("w"))
      .repartition(col("w"))
      .localCheckpoint(false)
    val counts = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").cast("double").as("total"))
    val model = counts
      .crossJoin(broadcast(total))
      .select(
        col("w"),
        (-log(col("c").cast("double") / col("total"))).as("nlp")
      )
    val scored = toks
      .join(model.hint("shuffle_hash"), Seq("w"))
      .groupBy("doc_id")
      .agg(round(avg(col("nlp")), 4).as("s"))
      .join(cleaned.select("doc_id", "source", "lang"), "doc_id")
    val cuts = scored
      .groupBy("lang")
      .agg(
        round(expr("percentile(s, 0.33333333)"), 4).as("c1"),
        round(expr("percentile(s, 0.66666667)"), 4).as("c2")
      )
    val selected = scored
      .join(broadcast(cuts), "lang")
      .withColumn(
        "bucket",
        when(col("s") <= col("c1"), "head")
          .when(col("s") <= col("c2"), "middle")
          .otherwise("tail")
      )
      .filter(col("bucket") =!= "tail")
      .select("doc_id", "source", "bucket", "s")
      .localCheckpoint(false)
    // soft-dedup mass among the survivors, on the cleaned text
    val pairs = Dedup
      .minhashPairs(
        Dedup.shingleCorpus(cleaned.join(selected.select("doc_id"), "doc_id")).cache(),
        threshold
      )
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(false)
    val labels = Dedup.connectedComponentsStar(pairs, maxIters)
    val withCluster = selected
      .join(labels, col("doc_id") === col("u"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
    val sizes = withCluster
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
    // Exact-integer aggregation: a plain double SUM/AVG here is
    // order-dependent in its low bits, and a 4-decimal ROUND at a
    // .00005 boundary then diverges cross-engine (observed: 3.4016
    // vs 3.4015 on one group). Scoring units (s·10⁴, already exact
    // by construction) and per-cluster mass units (round(k·10⁴/n),
    // one identical fp division per cluster) are integers, so their
    // sums are exact and the final single division is bit-identical
    // in both engines.
    val perCluster = withCluster
      .join(sizes, "cluster_id")
      .groupBy("source", "bucket", "cluster_id")
      .agg(
        count(lit(1)).as("k"),
        max("n_members").as("n"),
        sum(round(col("s") * 10000).cast("long")).as("s_units")
      )
    perCluster
      .groupBy("source", "bucket")
      .agg(
        sum("k").as("n_docs"),
        round(
          sum(round(col("k") * lit(10000.0) / col("n")).cast("long")) /
            lit(10000.0),
          4
        ).as("eff_docs"),
        round(
          sum("s_units").cast("double") / sum("k") / lit(10000.0),
          4
        ).as("avg_neg_logp")
      )
      .orderBy("source", "bucket")
  }

  /** pipe03: EVAL-SUITE construction funnel — the composition an
    * evaluation-set build runs as one dataflow: benchmark
    * DECONTAMINATION (dedup07's shingle-overlap flag — a doc sharing
    * ≥ minOverlap trigrams with the benchmark can't be scored
    * fairly, and the benchmark docs themselves are excluded) →
    * LEAKAGE-SAFE near-dup-cluster splits (samp05 — a doc and its
    * near-duplicate must land in the same split or val/test leaks
    * into train) → EXACT per-(split, language) quotas (samp13's
    * bounded heap — fixed-size strata are the eval-set contract).
    * Emits the selected manifest (split, lang, rank, doc_id):
    * deterministic end to end, so the suite is replayable from the
    * raw lake by construction.
    *
    * Scale: dedup07's broadcast benchmark set + one shingle
    * equi-join; samp05's LSH candidates + star-CC labels; the quota
    * heap carries |strata|·k rows. The funnel's only corpus-sized
    * shuffles are the ones its stages already pay alone — the
    * composition adds two narrow id joins. */
  def pipe03EvalSuite(
      lake: Lake,
      nBench: Int = 10,
      minOverlap: Int = 5,
      quota: Int = 20,
      seed: Int = 7
  ): DataFrame = {
    // ONE shared shingle cache feeds both the decontamination kernel
    // and the leakage-split pair generation (round 15): the funnel
    // previously parsed + shingled the corpus text once per stage —
    // three ShingleHashes passes; now one (guide §1.2: don't compute
    // things twice).
    val docsSh = Dedup.shingleCorpus(lake.documents).cache()
    val contaminated =
      Dedup.decontaminated(docsSh, nBench, minOverlap).select("doc_id")
    val splits = Dedup.leakageSplits(lake, docsSh).select("doc_id", "split")
    val clean = lake.documents
      .select(col("doc_id"), col("lang"))
      .filter(col("doc_id") >= nBench)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(splits, Seq("doc_id"))
    TextAnalysis
      .exactQuotaCore(clean, Seq("split", "lang"), quota, seed)
      .select(col("split"), col("lang"), col("rank"), col("doc_id"))
      .orderBy("split", "lang", "rank")
  }
}
