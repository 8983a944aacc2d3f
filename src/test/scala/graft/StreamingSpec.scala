package graft

import graft.catalog.Lake
import graft.operators.Events
import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val lake = Lake(spark, sfDir)

  test("streaming incremental dedup probe matches batch dedup12 verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch reference: dedup12's delta verdicts (newest 20% of ids
    // probed against the older corpus's band index)
    val batch = graft.operators.Dedup
      .dedup12Incremental(lake)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getString(2)))
      .sortBy(_._1)
    val maxId = lake.documents.agg(max("doc_id")).head().getLong(0)
    val cut = (0.8 * (maxId + 1)).toLong
    // static sides: band index + shingles of everything ingested so
    // far — dedup12's own build side (the full index), so a delta doc
    // can match an earlier delta doc (the doc_a < doc_id filter keeps
    // the ordering); the index refresh cadence is the deployment knob
    val allDocs = lake.documents.select("doc_id", "text")
    val shingles = graft.operators.Dedup.shingleCorpus(allDocs).cache()
    val index = graft.operators.Dedup.bandIndexOf(shingles).cache()
    // the delta arrives as a STREAM, in two micro-batches
    val delta = lake.documents
      .filter(col("doc_id") >= cut)
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .toSeq
    val (first, second) = delta.splitAt(delta.length / 2)
    val stream = MemoryStream[(Long, String)]
    val query = graft.operators.Dedup
      .dedupProbe(stream.toDS().toDF("doc_id", "text"), index, shingles)
      .writeStream
      .format("memory")
      .queryName("probe_verdicts")
      .outputMode("complete")
      .start()
    stream.addData(first)
    query.processAllAvailable()
    stream.addData(second)
    query.processAllAvailable()
    query.stop()
    val streamed = spark
      .sql("SELECT * FROM probe_verdicts")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getString(2)))
      .sortBy(_._1)
    assert(streamed.length == batch.length)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming LSH pair sink equals batch dedup04 after the stream covers the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch reference: the full MinHash-LSH verified pair list
    val batch = graft.operators.Dedup
      .dedup04MinhashLsh(lake)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    // the corpus replays as a stream in three micro-batches, ordered
    // ADVERSARIALLY (descending doc_id) so cross-batch pairs arrive
    // later-doc-first and canonicalization is actually exercised
    val docs = lake.documents
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .sortBy(-_._1)
    val stateDir =
      java.nio.file.Files.createTempDirectory("lsh_stream").toString
    val stream = MemoryStream[(Long, String)]
    val query = stream
      .toDS()
      .toDF("doc_id", "text")
      .writeStream
      .foreachBatch(graft.operators.Dedup.minhashPairsBatchSink(stateDir))
      .option("checkpointLocation", s"$stateDir/ckpt")
      .start()
    docs.grouped((docs.length + 2) / 3).foreach { g =>
      stream.addData(g.toSeq)
      query.processAllAvailable()
    }
    query.stop()
    val streamed = spark.read
      .parquet(s"$stateDir/pairs")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} pairs vs batch ${batch.length}")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("LSH pair sink: a replayed batch is idempotent and never probes its own rows") {
    // foreachBatch redelivers a batchId after a failure; the sink is a
    // plain (DataFrame, Long) => Unit, so drive the replay directly:
    // deliver batch 0 and 1, then REPLAY batch 1 (same data, same id)
    // and assert nothing changed — no duplicated pairs, no duplicated
    // index rows multiplying later verifies.
    val stateDir =
      java.nio.file.Files.createTempDirectory("lsh_replay").toString
    val sink = graft.operators.Dedup.minhashPairsBatchSink(stateDir)
    val docs = lake.documents.select("doc_id", "text")
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    sink(b0, 0L)
    sink(b1, 1L)
    def snap() = {
      val pairs = spark.read.parquet(s"$stateDir/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
      val nBands = spark.read.parquet(s"$stateDir/bands").count()
      val nShingles = spark.read.parquet(s"$stateDir/shingles").count()
      (pairs, nBands, nShingles)
    }
    val before = snap()
    sink(b1, 1L) // the replay
    assert(snap() == before, "replaying batch 1 changed the stores")
    // and the two-batch union still equals the batch-mode kernel
    val batchRef = graft.operators.Dedup.dedup04MinhashLsh(lake)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(before._1 == batchRef, "streamed pairs diverged from dedup04")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stateDir))
  }

  test("LSH store compaction: merged store probes identically; layout collapses to one batch dir") {
    // two stores fed the same two batches; one is compacted before
    // batch 2 arrives — the third batch's pairs must be identical,
    // and the compacted layout must hold exactly one merged batch dir
    val docs = lake.documents.select("doc_id", "text")
    val Seq(b0, b1, b2) = Seq(0, 1, 2).map(k => docs.filter(col("doc_id") % 3 === k))
    val plain = java.nio.file.Files.createTempDirectory("lsh_plain").toString
    val compacted = java.nio.file.Files.createTempDirectory("lsh_comp").toString
    Seq(plain, compacted).foreach { d =>
      val sink = graft.operators.Dedup.minhashPairsBatchSink(d)
      sink(b0, 0L); sink(b1, 1L)
    }
    // pair set before compaction — the contract the fold must keep
    val pairsBefore = spark.read.parquet(s"$compacted/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    graft.operators.Dedup.compactBandStore(spark, compacted, upTo = 1L)
    def subdirs(d: String, sub: String) =
      new java.io.File(s"$d/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(subdirs(compacted, "bands") == Seq("batch=1"))
    assert(subdirs(compacted, "shingles") == Seq("batch=1"))
    // pairs fold to one dir too (the small-files problem is theirs as
    // well), and the pair SET is bit-identical across the fold
    assert(subdirs(compacted, "pairs") == Seq("batch=1"))
    val pairsAfter = spark.read.parquet(s"$compacted/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(pairsAfter == pairsBefore, "compaction changed the discovered-pair set")
    // row content survives the merge (same index, fewer dirs)
    assert(spark.read.parquet(s"$compacted/bands").count() ==
      spark.read.parquet(s"$plain/bands").count())
    Seq(plain, compacted).foreach { d =>
      graft.operators.Dedup.minhashPairsBatchSink(d)(b2, 2L)
    }
    def batch2Pairs(d: String) = spark.read.parquet(s"$d/pairs/batch=2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(batch2Pairs(compacted) == batch2Pairs(plain),
      "probing the compacted store changed the discovered pairs")
    assert(batch2Pairs(plain).nonEmpty, "batch 2 found no cross-batch pairs at all")
    // the capped merge (maxBucket) bounds every stored bucket: rerun
    // compaction on the plain store with a tiny cap and assert the
    // representative-only invariant end to end
    graft.operators.Dedup.compactBandStore(spark, plain, upTo = 2L, maxBucket = 2)
    val capped = spark.read.parquet(s"$plain/bands")
      .groupBy("band", "bucket")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .agg(org.apache.spark.sql.functions.max("n")).head().getLong(0)
    assert(capped <= 2, s"capped compaction left a bucket of $capped")
    assert(subdirs(plain, "bands") == Seq("batch=2"))
    Seq(plain, compacted).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("LSH store: a legacy flat layout fails fast instead of probing as empty") {
    // pre-batch-keyed stores held part files directly under bands/;
    // the batch=-filtered lister would silently read them as an EMPTY
    // store (every cross-batch duplicate missed) and then write a
    // mixed layout — so both the sink and compaction must refuse with
    // a migration message (advisor round 11)
    val stateDir = java.nio.file.Files.createTempDirectory("lsh_flat").toString
    val docs = lake.documents.select("doc_id", "text")
    val sink = graft.operators.Dedup.minhashPairsBatchSink(stateDir)
    sink(docs.filter(col("doc_id") % 2 === 0), 0L)
    // simulate the legacy layout: one flat part file beside batch=0
    val part = new java.io.File(s"$stateDir/bands/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(
      part.toPath, new java.io.File(s"$stateDir/bands/${part.getName}").toPath)
    val eSink = intercept[IllegalArgumentException] {
      sink(docs.filter(col("doc_id") % 2 === 1), 1L)
    }
    assert(eSink.getMessage.contains("legacy flat band-store layout"), eSink.getMessage)
    assert(eSink.getMessage.contains("batch=-1"), eSink.getMessage)
    val eCompact = intercept[IllegalArgumentException] {
      graft.operators.Dedup.compactBandStore(spark, stateDir, upTo = 0L)
    }
    assert(eCompact.getMessage.contains("legacy flat band-store layout"), eCompact.getMessage)
    // the documented migration — fold the flat files into batch=-1 —
    // unblocks the sink, and the migrated rows probe as corpus
    // (strictly below every real batch id)
    val legacyDir = new java.io.File(s"$stateDir/bands/batch=-1")
    legacyDir.mkdirs()
    java.nio.file.Files.move(
      new java.io.File(s"$stateDir/bands/${part.getName}").toPath,
      new java.io.File(legacyDir, part.getName).toPath)
    sink(docs.filter(col("doc_id") % 2 === 1), 1L) // no throw
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stateDir))
  }

  test("LSH store compaction: a crash inside the swap window is recovered on re-run") {
    val docs = lake.documents.select("doc_id", "text")
    val Seq(b0, b1) = Seq(0, 1).map(k => docs.filter(col("doc_id") % 2 === k))
    def feed(): String = {
      val d = java.nio.file.Files.createTempDirectory("lsh_crash").toString
      val sink = graft.operators.Dedup.minhashPairsBatchSink(d)
      sink(b0, 0L); sink(b1, 1L)
      d
    }
    def subdirs(d: String, sub: String) =
      new java.io.File(s"$d/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(!_.startsWith(".")).sorted.toSeq
    val ref = feed()
    graft.operators.Dedup.compactBandStore(spark, ref, upTo = 1L)
    // crash AFTER the merged write and the source deletes, BEFORE the
    // rename: visible store empty, merged data stranded in the hidden
    // temp dir — the advisor's permanently-lost scenario. A re-run
    // with the same upTo must complete the swap, not early-return.
    val lateCrash = feed()
    Seq("bands", "shingles").foreach { sub =>
      spark.read.parquet(s"$lateCrash/$sub/batch=0", s"$lateCrash/$sub/batch=1")
        .write.parquet(s"$lateCrash/$sub/.compact-1")
      Seq(0, 1).foreach(b => org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(s"$lateCrash/$sub/batch=$b")))
    }
    graft.operators.Dedup.compactBandStore(spark, lateCrash, upTo = 1L)
    Seq("bands", "shingles").foreach { sub =>
      assert(subdirs(lateCrash, sub) == Seq("batch=1"), sub)
      assert(spark.read.parquet(s"$lateCrash/$sub").count() ==
        spark.read.parquet(s"$ref/$sub").count(), sub)
    }
    // crash DURING the merged write (no _SUCCESS marker): no source
    // was deleted yet, so the partial merge is discarded and redone
    val midCrash = feed()
    Seq("bands", "shingles").foreach { sub =>
      spark.read.parquet(s"$midCrash/$sub/batch=0") // a PARTIAL merge
        .write.parquet(s"$midCrash/$sub/.compact-1")
      assert(new java.io.File(s"$midCrash/$sub/.compact-1/_SUCCESS").delete())
    }
    graft.operators.Dedup.compactBandStore(spark, midCrash, upTo = 1L)
    Seq("bands", "shingles").foreach { sub =>
      assert(subdirs(midCrash, sub) == Seq("batch=1"), sub)
      assert(spark.read.parquet(s"$midCrash/$sub").count() ==
        spark.read.parquet(s"$ref/$sub").count(), sub)
    }
    Seq(ref, lateCrash, midCrash).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("LSH store compaction: a marked orphan from a DIFFERENT upTo is completed first") {
    // advisor round 12: a compaction to upTo=0 crashes after its
    // _SUCCESS marker and after deleting its source (batch=0); a
    // LATER run with upTo=1 used to ignore the hidden .compact-0
    // orphan, merge only the surviving batch=1, and delete it — the
    // rows living only in the already-deleted batch=0 were silently
    // lost and the orphan leaked forever. The re-run must complete
    // the orphan's swap FIRST, then fold everything.
    val docs = lake.documents.select("doc_id", "text")
    val Seq(b0, b1) = Seq(0, 1).map(k => docs.filter(col("doc_id") % 2 === k))
    def feed(): String = {
      val d = java.nio.file.Files.createTempDirectory("lsh_crash2").toString
      val sink = graft.operators.Dedup.minhashPairsBatchSink(d)
      sink(b0, 0L); sink(b1, 1L)
      d
    }
    val ref = feed()
    graft.operators.Dedup.compactBandStore(spark, ref, upTo = 1L)
    val orphan = feed()
    Seq("bands", "shingles").foreach { sub =>
      // the upTo=0 compaction: merged batch=0, marked, deleted its
      // source, crashed before the rename
      spark.read.parquet(s"$orphan/$sub/batch=0")
        .write.parquet(s"$orphan/$sub/.compact-0")
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(s"$orphan/$sub/batch=0"))
    }
    graft.operators.Dedup.compactBandStore(spark, orphan, upTo = 1L)
    Seq("bands", "shingles").foreach { sub =>
      val dirs = new java.io.File(s"$orphan/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      assert(dirs == Seq("batch=1"), s"$sub: $dirs")
      assert(spark.read.parquet(s"$orphan/$sub").count() ==
        spark.read.parquet(s"$ref/$sub").count(),
        s"$sub lost the orphaned batch's rows")
    }
    Seq(ref, orphan).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("streaming pretrain prefix: packing the survivor store equals batch pipe01") {
    // pipe01's clean→filter→dedup prefix as a continuously-ingesting
    // foreachBatch sink: after id-ordered drops cover the corpus,
    // packCorpus over the accumulated survivor store must equal the
    // one-dataflow batch funnel row for row, and a checkpoint replay
    // must change nothing.
    val stateDir =
      java.nio.file.Files.createTempDirectory("pipe01_stream").toString
    val docs = lake.documents.select("doc_id", "source", "text")
    val sink = graft.operators.Pipeline.pretrainPrefixBatchSink(stateDir)
    val n = lake.documents.count()
    val (cut1, cut2) = (n / 3, 2 * n / 3)
    sink(docs.filter(col("doc_id") < cut1), 0L)
    sink(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), 1L)
    sink(docs.filter(col("doc_id") >= cut2), 2L)
    def packedStore() = graft.operators.Pipeline
      .packCorpus(spark.read.parquet(s"$stateDir/survivors")
        .select("doc_id", "source", "toks"))
      .collect().map(_.toSeq).toSeq
    val streamed = packedStore()
    val batch = graft.operators.Pipeline.pipe01PretrainCorpus(lake)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"streamed ${streamed.length} bins vs batch ${batch.length}")
    // the dedup stage actually bit across batches: the store holds
    // fewer docs than passed the filter per-batch would imply
    val stored = spark.read.parquet(s"$stateDir/survivors")
    assert(stored.count() < n, "no document was ever dropped")
    assert(stored.select("fp").distinct().count() == stored.count(),
      "survivor store holds duplicate fingerprints")
    // checkpoint replay of the last batch is a no-op rewrite
    sink(docs.filter(col("doc_id") >= cut2), 2L)
    assert(packedStore() == streamed, "replaying batch 2 changed the packed corpus")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stateDir))
  }

  test("streaming pretrain prefix: survivor-store compaction preserves probes and the packed corpus") {
    val docs = lake.documents.select("doc_id", "source", "text")
    val n = lake.documents.count()
    val (cut1, cut2) = (n / 3, 2 * n / 3)
    val plain = java.nio.file.Files.createTempDirectory("pipe01_plain").toString
    val comp = java.nio.file.Files.createTempDirectory("pipe01_comp").toString
    Seq(plain, comp).foreach { d =>
      val sink = graft.operators.Pipeline.pretrainPrefixBatchSink(d)
      sink(docs.filter(col("doc_id") < cut1), 0L)
      sink(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), 1L)
    }
    graft.operators.Pipeline.compactSurvivorStore(spark, comp, upTo = 1L)
    val subdirs = new java.io.File(s"$comp/survivors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(subdirs == Seq("batch=1"), subdirs)
    // batch 2 probes the folded store identically
    Seq(plain, comp).foreach { d =>
      graft.operators.Pipeline.pretrainPrefixBatchSink(d)(
        docs.filter(col("doc_id") >= cut2), 2L)
    }
    def packed(d: String) = graft.operators.Pipeline
      .packCorpus(spark.read.parquet(s"$d/survivors")
        .select("doc_id", "source", "toks"))
      .collect().map(_.toSeq).toSeq
    assert(packed(comp) == packed(plain),
      "compacting the survivor store changed the packed corpus")
    Seq(plain, comp).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("streaming pretrain prefix: the Bloom-probed path is bit-identical to exact") {
    // bloomFpp > 0 keeps definite-miss docs without touching the
    // store and routes only might-contain docs through the exact
    // anti-join — Bloom's no-false-negatives guarantee means the
    // survivor store must be IDENTICAL to the exact path's at any
    // fpp, including a deliberately loose one (more false positives
    // only means more exact verifies, never a wrong verdict)
    val docs = lake.documents.select("doc_id", "source", "text")
    val n = lake.documents.count()
    val (cut1, cut2) = (n / 3, 2 * n / 3)
    def feed(fpp: Double): String = {
      val d = java.nio.file.Files.createTempDirectory("pipe01_bloom").toString
      val sink = graft.operators.Pipeline.pretrainPrefixBatchSink(d, fpp)
      sink(docs.filter(col("doc_id") < cut1), 0L)
      sink(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), 1L)
      sink(docs.filter(col("doc_id") >= cut2), 2L)
      d
    }
    def fps(d: String) = spark.read.parquet(s"$d/survivors")
      .select("doc_id", "fp").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val exact = feed(0.0)
    val tight = feed(1e-6)
    val loose = feed(0.3)
    assert(fps(tight) == fps(exact), "tight-fpp Bloom path diverged from exact")
    assert(fps(loose) == fps(exact), "loose-fpp Bloom path diverged from exact")
    // the filter persists incrementally: exactly one generation
    // survives, named for the newest batch
    val gens = new java.io.File(s"$tight/bloom").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(_.getName).toSeq
    assert(gens == Seq("batch=2"), s"bloom generations: $gens")
    Seq(exact, tight, loose).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("streaming pretrain prefix: bloom catch-up covers a missing or stale generation") {
    // crash between the survivor write and the bloom write (or
    // enabling bloomFpp over a pre-bloom store): the next batch folds
    // the uncovered survivor batches into the loaded filter and the
    // verdicts stay bit-identical to the exact path
    val docs = lake.documents.select("doc_id", "source", "text")
    val n = lake.documents.count()
    val (cut1, cut2) = (n / 3, 2 * n / 3)
    val d = java.nio.file.Files.createTempDirectory("pipe01_bloomcu").toString
    val sink = graft.operators.Pipeline.pretrainPrefixBatchSink(d, 1e-6)
    sink(docs.filter(col("doc_id") < cut1), 0L)
    sink(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), 1L)
    // simulate the crash: the persisted filter disappears entirely
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$d/bloom"))
    sink(docs.filter(col("doc_id") >= cut2), 2L)
    val got = spark.read.parquet(s"$d/survivors")
      .select("doc_id", "fp").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val e = java.nio.file.Files.createTempDirectory("pipe01_bloomex").toString
    val exactSink = graft.operators.Pipeline.pretrainPrefixBatchSink(e)
    exactSink(docs.filter(col("doc_id") < cut1), 0L)
    exactSink(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), 1L)
    exactSink(docs.filter(col("doc_id") >= cut2), 2L)
    val want = spark.read.parquet(s"$e/survivors")
      .select("doc_id", "fp").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == want, "catch-up rebuild diverged from the exact path")
    // and the rebuilt generation is back on disk
    assert(new java.io.File(s"$d/bloom/batch=2").isFile)
    Seq(d, e).foreach(x =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(x)))
  }

  test("streaming pretrain prefix: first arrival wins under out-of-order ingestion") {
    // the documented contract for NON-id-ordered drops: an
    // earlier-arrived duplicate keeps its verdict — a later batch's
    // smaller-id twin is dropped, and verdicts never flip. Planted
    // pair: two docs with identical text, the LARGER id delivered
    // first.
    import spark.implicits._
    val stateDir =
      java.nio.file.Files.createTempDirectory("pipe01_ooo").toString
    // texts long/diverse enough to pass the Gopher filter: reuse two
    // real passing documents' texts
    val passing = graft.operators.TextAnalysis
      .gopherVerdict(graft.operators.Pipeline.cleanedDocs(lake))
      .filter(col("passes")).select("doc_id").as[Long].take(2)
    val t = lake.documents.filter(col("doc_id") === passing(0))
      .select("text").as[String].head()
    val mk = (id: Long) => (id, "srcX", t)
    val sink = graft.operators.Pipeline.pretrainPrefixBatchSink(stateDir)
    sink(Seq(mk(100L)).toDF("doc_id", "source", "text"), 0L) // larger id first
    sink(Seq(mk(7L)).toDF("doc_id", "source", "text"), 1L)   // smaller-id twin later
    val kept = spark.read.parquet(s"$stateDir/survivors")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(100L),
      s"first arrival must win (got $kept): the later smaller-id twin is dropped")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stateDir))
  }

  test("streaming windowed counts match the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evts = lake.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Evt]
      .collect()
      .toSeq

    val stream = MemoryStream[EventStreams.Evt]
    stream.addData(evts)
    val query = EventStreams
      .windowedCounts(stream.toDF())
      .writeStream
      .format("memory")
      .queryName("win_counts")
      .outputMode("complete")
      .start()
    query.processAllAvailable()
    query.stop()

    val streamed = spark
      .sql("SELECT * FROM win_counts")
      .orderBy("window_start", "event_type")
      .collect()
      .map(_.toSeq)
    val batch = Events.evt01WindowedCounts(lake).collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming windowed heavy hitters match the batch sketch across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evts = lake.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Evt]
      .collect()
      .toSeq

    val stream = MemoryStream[EventStreams.Evt]
    // two micro-batches so sketch state merges across the batch
    // boundary inside the state store
    val (first, second) = evts.splitAt(evts.length / 2)
    val query = EventStreams
      .windowedHeavyHitters(stream.toDF())
      .writeStream
      .format("memory")
      .queryName("win_hh")
      .outputMode("complete")
      .start()
    stream.addData(first)
    query.processAllAvailable()
    stream.addData(second)
    query.processAllAvailable()
    query.stop()

    val streamed = spark
      .sql("SELECT * FROM win_hh")
      .orderBy("window_start", "rank")
      .collect()
      .map(_.toSeq)
    // the same plan over the same rows in BATCH mode (backfill form);
    // capacity >= distinct event types -> exact counts, so merge
    // order across micro-batches cannot perturb the result
    val batch = EventStreams
      .windowedHeavyHitters(lake.events
        .select("event_id", "ts", "user_id", "event_type", "value"))
      .orderBy("window_start", "rank")
      .collect()
      .map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
    // exactness regime: bounds must have collapsed
    assert(streamed.forall(r => r(3) == r(4)), "bounds not exact")
  }

  test("streaming funnel matches the batch funnel across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evts = lake.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Evt]
      .collect()
      .toSeq
    val stream = MemoryStream[EventStreams.Evt]
    val (first, second) = evts.splitAt(evts.length / 2)
    val query = EventStreams
      .funnel(stream.toDF())
      .writeStream
      .format("memory")
      .queryName("funnel_out")
      .outputMode("complete")
      .start()
    stream.addData(first)
    query.processAllAvailable()
    stream.addData(second)
    query.processAllAvailable()
    query.stop()
    val streamed = spark
      .sql("SELECT user_id, first_view, first_click, first_purchase FROM funnel_out WHERE converted")
      .orderBy("user_id")
      .collect()
      .map(_.toSeq)
    val batch = Events.evt04Funnel(lake).collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming funnel retracts a conversion when a late event breaks the order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def at(h: Int) = t0.plusSeconds(h * 3600L)
    val stream = MemoryStream[EventStreams.Evt]
    val query = EventStreams
      .funnel(stream.toDF())
      .writeStream
      .format("memory")
      .queryName("funnel_retract")
      .outputMode("update")
      .start()
    // batch 1: in-order funnel -> emitted as converted
    stream.addData(Seq(
      EventStreams.Evt(1L, at(2), 7L, "view", 0.0),
      EventStreams.Evt(2L, at(3), 7L, "click", 0.0),
      EventStreams.Evt(3L, at(4), 7L, "purchase", 0.0)
    ))
    query.processAllAvailable()
    val afterFirst = spark
      .sql("SELECT converted FROM funnel_retract")
      .collect()
      .map(_.getBoolean(0))
    assert(afterFirst.toSeq == Seq(true))
    // batch 2: a LATE click@1 makes first_click precede first_view —
    // the verdict flips and update mode must emit the correction row
    // (the old filter-on-emit shape silently left the stale
    // conversion in the sink)
    stream.addData(Seq(EventStreams.Evt(4L, at(1), 7L, "click", 0.0)))
    query.processAllAvailable()
    query.stop()
    val rows = spark
      .sql("SELECT converted FROM funnel_retract")
      .collect()
      .map(_.getBoolean(0))
    assert(rows.length == 2 && rows.count(_ == false) == 1)
  }

  test("streaming dedup drops duplicate events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = lake.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Evt]
      .collect()
      .take(100)
      .toSeq
    val withDups = base ++ base.take(30) // replay 30 duplicates

    val stream = MemoryStream[EventStreams.Evt]
    stream.addData(withDups)
    val query = EventStreams
      .dedupEvents(stream.toDF(), Seq("user_id", "event_type", "value"))
      .writeStream
      .format("memory")
      .queryName("deduped")
      .outputMode("append")
      .start()
    query.processAllAvailable()
    query.stop()

    val n = spark.sql("SELECT count(*) FROM deduped").head().getLong(0)
    assert(n == base.length, s"expected ${base.length} rows after dedup, got $n")
  }

  test("stream-static dimension join enriches every event") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evts = lake.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Evt]
      .collect()
      .take(200)
      .toSeq
    val stream = MemoryStream[EventStreams.Evt]
    stream.addData(evts)
    val query = EventStreams
      .enrichWithDim(stream.toDF(), lake.customer, "user_id", "c_custkey")
      .writeStream
      .format("memory")
      .queryName("enriched")
      .outputMode("append")
      .start()
    query.processAllAvailable()
    query.stop()
    val got = spark.sql(
      "SELECT count(*) AS n, count(c_name) AS matched FROM enriched"
    ).head()
    assert(got.getLong(0) == 200)
    assert(got.getLong(1) == 200) // every user_id (0-14) exists in customer
  }

  test("sliding-window counts match the batch equivalent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evts = lake.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Evt]
      .collect()
      .toSeq
    val stream = MemoryStream[EventStreams.Evt]
    stream.addData(evts)
    val query = EventStreams
      .slidingCounts(stream.toDF())
      .writeStream
      .format("memory")
      .queryName("sliding")
      .outputMode("complete")
      .start()
    query.processAllAvailable()
    query.stop()
    val streamed = spark
      .sql("SELECT * FROM sliding")
      .orderBy("window_start", "event_type")
      .collect()
      .map(_.toSeq)
    val batch = EventStreams
      .slidingCounts(lake.events)
      .orderBy("window_start", "event_type")
      .collect()
      .map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    // every event lands in windowLen/slide = 2 windows
    val nTumbling = Events.evt01WindowedCounts(lake).count()
    assert(streamed.length > nTumbling / 2)
  }

  test("streaming pipeline lands in a parquet sink exactly once via checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evts = lake.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Evt]
      .collect()
      .take(300)
      .toSeq
    val out = "target/tmp/stream-sink/data"
    val ckpt = "target/tmp/stream-sink/ckpt"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File("target/tmp/stream-sink"))
    val stream = MemoryStream[EventStreams.Evt]
    stream.addData(evts)
    def startQuery() = stream
      .toDF()
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    val query = startQuery()
    query.processAllAvailable()
    query.stop()
    assert(spark.read.parquet(out).count() == 300)
    // Restart from the same checkpoint with the source data still
    // present: recovery must resume AFTER the committed offsets — a
    // broken commit log would replay the batch and double the rows.
    val query2 = startQuery()
    query2.processAllAvailable()
    query2.stop()
    assert(spark.read.parquet(out).count() == 300)
  }

  test("stream-stream interval join matches the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evts = lake.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Evt]
      .collect()
      .toSeq
    val stream = MemoryStream[EventStreams.Evt]
    stream.addData(evts)
    val query = EventStreams
      .viewClickJoin(stream.toDF())
      .writeStream
      .format("memory")
      .queryName("vc_join")
      .outputMode("append")
      .start()
    query.processAllAvailable()
    query.stop()

    val streamed = spark
      .sql("SELECT user_id, view_id, click_id FROM vc_join")
      .orderBy("user_id", "view_id", "click_id")
      .collect()
      .map(_.toSeq)
    val batch = EventStreams
      .viewClickJoin(lake.events)
      .select("user_id", "view_id", "click_id")
      .orderBy("user_id", "view_id", "click_id")
      .collect()
      .map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming sessionization matches the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evts = lake.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Evt]
      .collect()
      .sortBy(e => e.ts.toEpochMilli)
      .toSeq

    val stream = MemoryStream[EventStreams.Evt]
    stream.addData(evts)
    val query = EventStreams
      .sessionize(stream.toDS())
      .writeStream
      .format("memory")
      .queryName("sessions")
      .outputMode("append")
      .start()
    query.processAllAvailable()
    // push watermark past the last session so it closes
    val last = evts.map(_.ts.toEpochMilli).max
    stream.addData(
      EventStreams.Evt(999999L,
        java.time.Instant.ofEpochMilli(last + 24L * 3600 * 1000),
        -1L, "flush", 0.0)
    )
    query.processAllAvailable()
    query.stop()

    val streamed = spark
      .sql("SELECT user_id, session_start, session_end, n_events FROM sessions WHERE user_id >= 0")
      .orderBy("user_id", "session_start")
      .collect()
      .map(_.toSeq)
    val batch = Events
      .evt02Sessionization(lake)
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start")
      .collect()
      .map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming quality verdict over a document stream matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // gopherVerdict is map-only (no state, no watermark): it must run
    // on a raw document stream in append mode unchanged
    val docs = lake.documents
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .toSeq
    val (first, second) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[(Long, String)]
    val query = graft.operators.TextAnalysis
      .gopherVerdict(stream.toDS().toDF("doc_id", "text"))
      .writeStream
      .format("memory")
      .queryName("verdicts")
      .outputMode("append")
      .start()
    stream.addData(first)
    query.processAllAvailable()
    stream.addData(second)
    query.processAllAvailable()
    query.stop()
    val streamed = spark
      .sql("SELECT * FROM verdicts")
      .orderBy("doc_id")
      .collect()
      .map(_.toSeq)
    val batch = graft.operators.TextAnalysis
      .txt20GopherFilter(lake)
      .collect()
      .map(_.toSeq)
    assert(streamed.length == batch.length)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming as-of enrichment matches the batch as-of join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evts = lake.events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Evt]
      .collect()
      .sortBy(e => (e.ts.toEpochMilli, e.event_id))
      .toSeq
    // two time-split batches: per-user last-view state must survive
    // the batch boundary for purchases in the second half
    val (first, second) = evts.splitAt(evts.length / 2)
    val stream = MemoryStream[EventStreams.Evt]
    val query = EventStreams
      .asofEnrich(stream.toDS())
      .writeStream
      .format("memory")
      .queryName("asof")
      .outputMode("append")
      .start()
    stream.addData(first)
    query.processAllAvailable()
    stream.addData(second)
    query.processAllAvailable()
    query.stop()

    val streamed = spark
      .sql("""SELECT purchase_id, user_id, purchase_ts, matched_view_id,
              matched_view_ts, gap_us FROM asof""")
      .orderBy("purchase_id")
      .collect()
      .map(_.toSeq)
    val batch = Events
      .evt07AsofJoin(lake)
      .select("purchase_id", "user_id", "purchase_ts", "matched_view_id",
        "matched_view_ts", "gap_us")
      .orderBy("purchase_id")
      .collect()
      .map(_.toSeq)
    assert(streamed.length == batch.length)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("as-of state keeps the newest view under out-of-order arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def evt(id: Long, us: Long, kind: String) =
      EventStreams.Evt(id, java.time.Instant.ofEpochSecond(0, us * 1000L),
        1L, kind, 0.0)
    val stream = MemoryStream[EventStreams.Evt]
    val query = EventStreams
      .asofEnrich(stream.toDS())
      .writeStream
      .format("memory")
      .queryName("asof_ooo")
      .outputMode("append")
      .start()
    // batch 1: the NEWER view arrives first
    stream.addData(Seq(evt(10L, 100L, "view")))
    query.processAllAvailable()
    // batch 2: a LATE view with an older timestamp, then a purchase —
    // the purchase must still match view 10, as the batch operator
    // (ORDER BY ts) would
    stream.addData(Seq(evt(11L, 50L, "view"), evt(20L, 200L, "purchase")))
    query.processAllAvailable()
    query.stop()
    val rows = spark
      .sql("SELECT purchase_id, matched_view_id FROM asof_ooo")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((20L, 10L)))
  }

  test("streaming quality panel over a document stream matches batch") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // qualityPanel is exchange-free (plan-pinned), so it must run on a
    // raw document stream in append mode with no watermark or state.
    val docs = lake.documents
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .toSeq
    val (first, second) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[(Long, String)]
    val query = graft.operators.TextAnalysis
      .qualityPanel(stream.toDS().toDF("doc_id", "text"))
      .writeStream
      .format("memory")
      .queryName("panel")
      .outputMode("append")
      .start()
    stream.addData(first)
    query.processAllAvailable()
    stream.addData(second)
    query.processAllAvailable()
    query.stop()
    val streamed = spark
      .sql("SELECT * FROM panel")
      .orderBy("doc_id")
      .collect()
      .map(_.toSeq)
    val batch = graft.operators.TextAnalysis
      .txt24QualityPanel(lake)
      .collect()
      .map(_.toSeq)
    assert(streamed.length == batch.length)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming heavy-hitters sketch matches batch when capacity covers the vocabulary") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // At capacity >= |vocab| the Misra-Gries estimate is exact and
    // therefore ORDER-INDEPENDENT, so the incrementally-merged stream
    // state must equal the batch answer bit for bit. This also drives
    // the buffer's serialize/deserialize through the state store —
    // the one path batch execution never exercises.
    val docs = lake.documents
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .toSeq
    val vocab = lake.documents
      .select(explode(graft.functions.text.tokens(col("text"))).as("w"))
      .agg(countDistinct("w"))
      .head()
      .getLong(0)
      .toInt
    val (first, second) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[(Long, String)]
    val query = stream
      .toDS()
      .toDF("doc_id", "text")
      .select(explode(graft.functions.text.tokens(col("text"))).as("w"))
      .agg(graft.plans.FrequentItemsSketch(col("w"), vocab + 10, 20).as("top"))
      .writeStream
      .format("memory")
      .queryName("hh")
      .outputMode("complete")
      .start()
    stream.addData(first)
    query.processAllAvailable()
    stream.addData(second)
    query.processAllAvailable()
    query.stop()
    val streamed = spark
      .sql("SELECT explode(top) AS e FROM hh")
      .select("e.item", "e.count_lb", "e.count_ub")
      .collect()
      .map(_.toSeq)
    val batch = graft.operators.Relational
      .rel14HeavyHitters(lake, capacity = vocab + 10, k = 20)
      .select("item", "count_lb", "count_ub")
      .collect()
      .map(_.toSeq)
    assert(streamed.length == batch.length)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming drift monitor matches batch eval08 once the stream covers the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.operators.Evaluation.eval08DistDrift(lake)
      .collect().map(_.toSeq).toSeq
    // the production wiring: reference marginal built ONCE from the
    // historical corpus; the incoming stream's (source, bucket)
    // state is the single streaming aggregation (complete mode), and
    // each micro-batch's full state is PSI-scored against the static
    // reference in a foreachBatch monitor sink
    val ref = graft.operators.Evaluation
      .referenceMarginal(
        graft.operators.Evaluation.driftCounts(lake.documents)
      )
      .cache()
    val docs = lake.documents.select("source", "n_chars")
      .as[(String, Long)].collect().toSeq
    val (first, second) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[(String, Long)]
    @volatile var lastPsi: Seq[Seq[Any]] = Seq.empty
    val query = graft.operators.Evaluation
      .driftCounts(stream.toDS().toDF("source", "n_chars"))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (state: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        lastPsi = graft.operators.Evaluation
          .psiAgainst(state, ref, 1e-4)
          .collect().map(_.toSeq).toSeq
      }
      .start()
    stream.addData(first)
    query.processAllAvailable()
    val partial = lastPsi
    // a half-corpus batch already yields a well-formed monitor row set
    assert(partial.nonEmpty)
    stream.addData(second)
    query.processAllAvailable()
    query.stop()
    // once the stream has seen the whole corpus, the monitor's state
    // equals the batch audit row for row
    assert(lastPsi == batch)
  }

  test("LSH store: a committed-but-unswapped compaction blocks reads until recovered") {
    // round-13 review: after a compaction crash in the swap window
    // (merge + _SUCCESS written, sources deleted, rename pending) the
    // merged rows live ONLY in the hidden temp dir — a sink that
    // lists batch= dirs would probe them as absent and admit stored
    // duplicates permanently. The read path must fail fast naming the
    // fix, and running the compaction must unblock it.
    val docs = lake.documents.select("doc_id", "text")
    val stateDir = java.nio.file.Files.createTempDirectory("lsh_orphan").toString
    val sink = graft.operators.Dedup.minhashPairsBatchSink(stateDir)
    sink(docs.filter(col("doc_id") % 2 === 0), 0L)
    val bands = s"$stateDir/bands"
    spark.read.parquet(s"$bands/batch=0").write.parquet(s"$bands/.compact-0")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$bands/batch=0"))
    val e = intercept[RuntimeException] {
      sink(docs.filter(col("doc_id") % 2 === 1), 1L)
    }
    assert(e.getMessage.contains("pending compaction swap"), e.getMessage)
    graft.operators.Dedup.compactBandStore(spark, stateDir, upTo = 0L)
    sink(docs.filter(col("doc_id") % 2 === 1), 1L) // no throw
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stateDir))
  }
}
