package graft.operators

import graft.catalog.Lake
import graft.functions.{hashing, text}
import graft.plans.LocalKernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines: exact, blocked
  * n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Reference analog: per-DOI dedup in materialize_fulltext.py:87-118
  * is the "exact key" case; the near-dup operators extend it to the
  * fuzzy-content case a 100 TB pretraining corpus needs.
  *
  * Scale design: nothing here is O(n²) over the corpus. Candidate
  * generation is equi-join based (length blocks, LSH band buckets,
  * hamming bands); the quadratic exact check runs only inside small
  * candidate buckets. All signatures are computed map-side in a single
  * pass.
  */
object Dedup {

  /** Exact duplicate groups on the order-insensitive bag-of-words
    * fingerprint: hash-groupBy, keep groups of size > 1. */
  def dedup01Exact(lake: Lake): DataFrame =
    lake.documents
      .select(col("doc_id"), text.bagFingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(
        count(lit(1)).as("n_dups"),
        min("doc_id").as("canonical_id"),
        max("doc_id").as("max_id")
      )
      .filter(col("n_dups") > 1)
      .orderBy("fp")

  /** Exact dedup keeping the canonical (min doc_id) row per group —
    * the "surviving corpus" after exact dedup. */
  def dedup02KeepCanonical(lake: Lake): DataFrame =
    lake.documents
      .select(
        col("doc_id"),
        text.bagFingerprint(col("text")).as("fp"),
        col("source"),
        col("n_chars")
      )
      .groupBy("fp")
      .agg(
        min("doc_id").as("doc_id"),
        count(lit(1)).as("group_size")
      )
      .select("doc_id", "fp", "group_size")
      .orderBy("doc_id")

  /** (doc_id, carry…, sh) shingle-set projection of a (doc_id, text)
    * frame: each document's sorted distinct k-word shingle hashes
    * (xxhash64), documents with an empty set dropped — they can share
    * no shingle. Every shingle-set operator except dedup14 starts here;
    * a caller that reads the frame more than once caches it. */
  def shingleCorpus(
      docs: DataFrame,
      k: Int = 3,
      carry: Seq[String] = Nil
  ): DataFrame =
    docs
      .select(
        (col("doc_id") +: carry.map(col)) :+
          graft.plans.ShingleHashes(col("text"), k).as("sh"): _*)
      .filter(size(col("sh")) > 0)

  /** Inverted index of a shingleCorpus frame: one (doc_id, carry…,
    * extra…, s) row per document shingle. */
  private def invert(shingled: DataFrame, extra: Column*): DataFrame =
    shingled.select(
      (shingled.columns.toSeq.filter(_ != "sh").map(col) ++ extra) :+
        explode(col("sh")).as("s"): _*)

  /** Document frequency `df` per shingle `s` of an inverted index. */
  private def docFreq(index: DataFrame): DataFrame =
    index.groupBy("s").agg(count(lit(1)).as("df"))

  /** Self-join of an inverted index on the shingle: every co-occurrence
    * with doc_id < doc_b and `pair` true. The b side's columns take a
    * `_b` suffix (doc_id becomes doc_b). */
  private def coShingled(index: DataFrame, pair: Column): DataFrame =
    index
      .join(
        index.select(index.columns.toSeq.map {
          case "s"      => col("s")
          case "doc_id" => col("doc_id").as("doc_b")
          case c        => col(c).as(s"${c}_b")
        }: _*),
        Seq("s"))
      .filter(col("doc_id") < col("doc_b") && pair)

  /** The df-capped candidate generator: shingles whose document
    * frequency exceeds `maxDf` (boilerplate) leave the inverted index
    * of `shingled`, the rest self-join on the shingle, and the distinct
    * (doc_a, doc_b) pairs with doc_a < doc_b and `pair` true come back.
    * The join volume is Σ df² over the kept shingles; one trigram with
    * df = 10⁶ would otherwise add 10¹² rows. The cap only skips a pair
    * whose every shared shingle is boilerplate-frequent. */
  private[graft] def cappedCandidates(
      shingled: DataFrame,
      maxDf: Int,
      pair: Column = lit(true)
  ): DataFrame = {
    val index = invert(shingled)
    val kept = index.join(docFreq(index).filter(col("df") <= maxDf).select("s"), "s")
    coShingled(kept, pair)
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
  }

  /** A shingle-set similarity: its output column, and its value from
    * the intersection count `ic` and the two set sizes, rounded to 4 dp
    * (the oracle's rounding rule). */
  private final case class SetScore(
      name: String,
      of: (Column, Column, Column) => Column
  ) {
    def apply(ic: Column, na: Column, nb: Column): Column = round(of(ic, na, nb), 4)
  }
  private val Jaccard = SetScore(
    "jaccard",
    (ic, na, nb) => ic.cast("double") / (na + nb - ic).cast("double"))
  private val Containment = SetScore(
    "containment",
    (ic, na, nb) => ic.cast("double") / least(na, nb).cast("double"))

  /** Adds `score.name` for the sorted shingle sets in columns `a` and
    * `b`. Their exact intersection count is materialized once, as
    * column `ic`: Jaccard reads it twice, and a repeated expression
    * walks the arrays twice. */
  private def withScore(df: DataFrame, score: SetScore, a: String, b: String): DataFrame =
    df.withColumn("ic", graft.plans.SortedIntersectCount(col(a), col(b)))
      .withColumn(score.name, score(col("ic"), size(col(a)), size(col(b))))

  /** The exact verify: each candidate (doc_a, doc_b) fetches both full
    * shingle sets from `shingled` and is kept with its score when that
    * is at least `threshold`. Returns (doc_a, doc_b, score). */
  private def verified(
      candidates: DataFrame,
      shingled: DataFrame,
      score: SetScore,
      threshold: Double
  ): DataFrame =
    withScore(
      candidates
        .join(shingled.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(shingled.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b"),
      score, "sh_a", "sh_b")
      .filter(col(score.name) >= threshold)
      .select("doc_a", "doc_b", score.name)

  /** The largest `c` in `df`, 0 when `df` is empty (one job). */
  private def maxOf(df: DataFrame, c: String): Long = {
    val r = df.agg(max(c)).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The size-adaptive shingle-set self-join of dedup03 and dedup10:
    * the pairs of `docs` (a cached shingleCorpus frame) with
    * doc_a < doc_b, `pair` true and `score` at least `threshold`,
    * ordered. One max() over the shingle document frequencies picks the
    * plan (the xref07 idiom). While no shingle exceeds `maxDf`, the
    * capped candidate set is the full one and the self-join's
    * co-occurrence count already is the exact intersection, so the
    * verify re-join of the shingle arrays is skipped (measured at
    * sf0.1: dedup03 2.5 → 1.4 s, dedup10 18 → 9 jobs). Past the cap,
    * the capped candidates verify exactly on their full sets, the only
    * shape that survives boilerplate at 100 TB. Both branches are
    * exact; DedupSimilaritySpec's "capped branch equals uncapped" test
    * pins it for both scores on a corpus that forces the capped branch. */
  private def shingleSetPairs(
      docs: DataFrame,
      score: SetScore,
      threshold: Double,
      maxDf: Int,
      pair: Column = lit(true)
  ): DataFrame =
    (if (maxOf(docFreq(invert(docs)), "df") <= maxDf)
       coShingled(invert(docs, size(col("sh")).as("nsh")), pair)
         .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
         .agg(
           count(lit(1)).as("ic"),
           first(col("nsh")).as("na"),
           first(col("nsh_b")).as("nb"))
         .withColumn(score.name, score(col("ic"), col("na"), col("nb")))
         .filter(col(score.name) >= threshold)
         .select("doc_a", "doc_b", score.name)
     else verified(cappedCandidates(docs, maxDf, pair), docs, score, threshold))
      .orderBy("doc_a", "doc_b")

  /** Exact word-trigram Jaccard near-dup pairs with length blocking
    * (|n_chars(a) - n_chars(b)| <= lenWindow), over the df-capped
    * shingle inverted index ([[cappedCandidates]]): shingles with
    * document frequency > maxDf are dropped from CANDIDATE GENERATION
    * only, and candidates verify EXACTLY on their full shingle sets —
    * the cap never changes a reported jaccard value. While the corpus's
    * max df <= maxDf the result is bit-identical to the uncapped join;
    * past the cap the contract is "near-dup pairs that share at least
    * one non-boilerplate shingle", which is the pair set a curator
    * wants anyway. The plan is size-adaptive; see [[shingleSetPairs]]. */
  def dedup03NgramJaccard(
      lake: Lake,
      threshold: Double = 0.5,
      lenWindow: Int = 40,
      maxDf: Int = 10000
  ): DataFrame =
    shingleSetPairs(
      shingleCorpus(lake.documents, carry = Seq("n_chars")).cache(),
      Jaccard,
      threshold,
      maxDf,
      abs(col("n_chars") - col("n_chars_b")) <= lenWindow)

  /** MinHash + LSH banded near-dup detection with exact verification.
    *
    * 128 permutations, 64 bands x 2 rows: P[candidate | J=0.5] =
    * 1-(1-0.25)^64 ≈ 1 - 1e-8 — so after the exact-Jaccard verify
    * step the output equals the exhaustive pairwise result (which is
    * what the DuckDB oracle computes) with near-certainty, while
    * candidate generation stays linear: |docs| x 64 band rows
    * shuffled by bucket, pairs enumerated only within buckets. */
  def dedup04MinhashLsh(
      lake: Lake,
      threshold: Double = 0.5,
      numPerm: Int = 128,
      bands: Int = 64,
      maxBucket: Int = 1000
  ): DataFrame =
    // presentation sort on the PUBLIC entry only — the CC consumers
    // (dedup08/samp05/samp07, pipe02/03's funnels) read the unordered
    // kernel: a composed plan does not optimize a view's orderBy away
    // (xref02's round-12 lesson), so they were each paying a
    // pair-set-wide range exchange + sort they immediately destroyed
    minhashPairs(shingleCorpus(lake.documents).cache(), threshold, numPerm, bands, maxBucket)
      .orderBy("doc_a", "doc_b")

  /** The MinHash-LSH verified-pair kernel over a (doc_id, sh)
    * shingleCorpus frame, which the caller caches: the band rows and
    * the verify both read it. Shared by dedup04 (raw corpus), pipe02
    * (the funnel's line-deduped survivors) and the CC consumers.
    *
    * BAND-BUCKET CAP (the dedup03/dedup10 df-cap discipline applied
    * to banding): a degenerate band bucket — mass-duplicated
    * boilerplate hashing every member to the same band value —
    * re-quadratifies candidate generation (Σ|bucket|² join rows), the
    * exact blowup the df caps guard elsewhere. The plan is
    * SIZE-ADAPTIVE (one max() over the |buckets|-row size frame
    * decides): while every bucket is ≤ maxBucket the all-pairs join
    * is untouched and the output is bit-identical to the uncapped
    * kernel (spec-pinned). Past the cap, an oversized bucket emits
    * STAR candidates — every member against the bucket's min doc_id —
    * instead of all pairs: O(|bucket|) rows, and since a degenerate
    * bucket is by construction a pile of near-identical documents,
    * every member still verifies against the representative and the
    * pairs keep the components connected for the CC consumers
    * (dedup08, samp05, pipe02/03). Exact-verify semantics are
    * unchanged — the cap only shapes CANDIDATE generation; every
    * emitted pair still carries its true full-set jaccard.
    *
    * KNOWN RECALL CAVEAT above the cap (spec-pinned: the
    * "heterogeneous oversized bucket" test in DedupSimilaritySpec,
    * plus the homogeneous mass-duplicate test): a heterogeneous
    * oversized bucket compares members only against ITS min doc_id,
    * so (1) two members that are near-dups of each other but below
    * threshold vs the representative lose their PAIR unless they also
    * co-occur in a small (or pure) bucket — the spec demonstrates the
    * loss with a non-representative identical pair; (2) components
    * are nonetheless preserved per dup-group in practice because each
    * group also lands in buckets without the foreign group (64
    * independent bands make an every-band collision of a
    * below-threshold pair vanishingly rare: P ≈ (J²)^64). Exactness
    * never suffers — a star candidate that fails the full-set verify
    * emits nothing. Pair-list consumers needing exhaustive recall
    * above the cap should raise maxBucket; CC consumers keep their
    * contract.
    *
    * Guard cost, measured (same-window A/B at sf0.1, min of 5):
    * dedup04 1.56 → 1.81 s, pipe02 4.88 → 5.63 s — one extra
    * bounded agg job (~320k (band,bucket) rows) + its job floor,
    * the same price dedup03's max-df guard pays, shrinking
    * relative to the joins it guards as the corpus grows. The
    * guard-free alternative (ALWAYS take the sized branch — no
    * driver decision, semantically identical below the cap) was
    * measured and REJECTED (round 11, same-window min-of-4):
    * dedup04 1.75 → 2.29 s, pipe02 4.87 → 5.62 s — the stats join
    * it adds to every clean run costs more than the guard job it
    * deletes. */
  private[graft] def minhashPairs(
      docs: DataFrame,
      threshold: Double = 0.5,
      numPerm: Int = 128,
      bands: Int = 64,
      maxBucket: Int = 1000
  ): DataFrame = {
    // The band rows are cached: they feed both sides of the bucket
    // self-join and the bucket stats.
    val bandRows = bandIndexOf(docs, numPerm, bands).cache()
    // One aggregate over the cached band rows: per-bucket size AND
    // representative, so the capped branch needs no second pass.
    val bucketStats = bandRows
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"), min("doc_id").as("rep"))
    val candidates =
      if (maxOf(bucketStats, "bsz") <= maxBucket) bucketPairs(bandRows).distinct()
      else {
        val sized = bandRows.join(bucketStats, Seq("band", "bucket"))
        // star pairs: rep < every other member by construction (min)
        val starPairs = sized
          .filter(col("bsz") > maxBucket && col("doc_id") =!= col("rep"))
          .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
        bucketPairs(sized.filter(col("bsz") <= maxBucket)).unionAll(starPairs).distinct()
      }
    verified(candidates, docs, Jaccard, threshold)
  }

  /** Pairs of band rows (doc_id, band, bucket, …) that share a band
    * bucket, as (doc_a, doc_b) with doc_a < doc_b — duplicates
    * included when a pair shares several buckets. */
  private def bucketPairs(rows: DataFrame): DataFrame =
    rows
      .join(
        rows.select(col("doc_id").as("doc_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))

  /** SimHash near-dup pairs: 64-bit sign-vote fingerprint, candidate
    * pairs from 16-bit hamming bands, verified hamming <= maxHamming.
    * Fully oracle-checked since round 13: the fingerprint's per-token
    * hash is splitmix64(java31(token)) — pure mod-2^64 arithmetic the
    * DuckDB oracle replays bit-for-bit with split-multiply SQL (see
    * SparkEntry's dedup05 oracle and graft.plans.SimHash64).
    */
  def dedup05Simhash(lake: Lake, maxHamming: Int = 6): DataFrame = {
    // Single-pass map-only fingerprints (graft.plans.SimHash64) — the
    // explode+groupBy formulation shuffles every token of the corpus.
    val sims = lake.documents
      .select(col("doc_id"), graft.plans.SimHash64(col("text")).as("simhash"))
    // Hamming bands: 4 x 16 bits; near-dup pairs share >= 1 full band
    // whenever hamming <= 3x16-boundary pigeonhole holds (h <= 3 bands
    // differ). For maxHamming <= 15 this has recall 1 only when the
    // differing bits hit <= 3 bands; with small maxHamming it is
    // near-exhaustive in practice.
    val banded = sims.select(
      col("doc_id"),
      col("simhash"),
      explode(
        array((0 until 4).map { b =>
          struct(
            lit(b).as("band"),
            shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("key")
          )
        }: _*)
      ).as("bk")
    )
    val l = banded.select(
      col("doc_id").as("doc_a"),
      col("simhash").as("sim_a"),
      col("bk.band").as("band"),
      col("bk.key").as("key")
    )
    val r = banded.select(
      col("doc_id").as("doc_b"),
      col("simhash").as("sim_b"),
      col("bk.band").as("band"),
      col("bk.key").as("key")
    )
    l.join(r, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long")
          .as("hamming")
      )
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** The decontamination kernel over a (doc_id, sh) shingleCorpus
    * frame, unordered — pipe03 composes over it (the surviving-sort
    * rule: a consumer cannot optimize the public entry's presentation
    * orderBy away, and the contaminated set is corpus-fraction-sized
    * at real volume). pipe03 hands in its cached frame, shared with
    * the leakage-split pairs; dedup07 hands in an uncached one, since
    * for a single consumer at 100 TB two pruned scans beat writing a
    * corpus-sized cache.
    *
    * The fused shingle hashes make the broadcast set and the join keys
    * 8-byte longs instead of strings. Counts match the string-shingle
    * oracle as long as no xxhash64 collision lands inside one
    * document's shingle set — the same (negligible, data-verified)
    * assumption dedup04's verify step already rests on. */
  private[graft] def decontaminated(
      shingled: DataFrame,
      nBench: Int = 10,
      minOverlap: Int = 5
  ): DataFrame = {
    val benchShingles = shingled
      .filter(col("doc_id") < nBench)
      .select(explode(col("sh")).as("s"))
      .distinct()
    shingled
      .filter(col("doc_id") >= nBench)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(benchShingles), "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Benchmark decontamination — the eval-set leakage scan every
    * pretraining corpus needs: flag training documents sharing >=
    * `minOverlap` word trigrams with any benchmark document (here the
    * benchmark set is the first `nBench` docs, standing in for a
    * held-out eval suite — near-duplicates of benchmark docs light up
    * with 70+ overlapping trigrams, incidental phrase reuse with 1-3).
    *
    * Scale shape: the benchmark shingle set is tiny and broadcast;
    * the corpus is one explode + broadcast-semi join + count — no
    * pairwise comparison, linear in corpus tokens, exactly how
    * decontamination runs over a 100 TB corpus against a fixed
    * benchmark suite. */
  def dedup07Decontaminate(
      lake: Lake,
      nBench: Int = 10,
      minOverlap: Int = 5
  ): DataFrame =
    decontaminated(shingleCorpus(lake.documents), nBench, minOverlap).orderBy("doc_id")

  /** dedup15: CONTAMINATION REPORT — dedup07's probe REVERSED, the
    * benchmark-side statistic an eval owner reads before trusting a
    * score (the GPT-3/PaLM appendix methodology: for each eval
    * document, what fraction of its n-grams appears anywhere in the
    * training corpus — a benchmark whose items are mostly covered is
    * compromised as a held-out measure even if no single training doc
    * crosses dedup07's per-doc threshold). One row per benchmark doc:
    * its distinct-shingle count, how many of those shingles occur in
    * the corpus, and the contamination fraction.
    *
    * Scale shape — the direction flip is the whole design: the
    * benchmark is TINY and the corpus is 100 TB, so the benchmark
    * gram set broadcasts and the corpus is touched by exactly ONE
    * map-side scan + broadcast semi-join (no corpus shuffle, no
    * corpus aggregate); the grams that survive the semi are ≤ the
    * benchmark's gram count, and every aggregate thereafter runs on
    * benchmark-sized frames. Same hash-shingle collision caveat as
    * dedup04/07 (negligible, data-verified).
    *
    * Reference analog: the reverse of the materialize_fulltext-style
    * contamination check — reported per eval item, not per training
    * doc. */
  def dedup15ContaminationReport(
      lake: Lake,
      nBench: Int = 10,
      k: Int = 3
  ): DataFrame = {
    val shingled = shingleCorpus(lake.documents, k)
    // per bench doc, its distinct grams (ShingleHashes is a set)
    val bench = shingled
      .filter(col("doc_id") < nBench)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .localCheckpoint(false)
    val benchGrams = bench.select("s").distinct()
    // grams of the benchmark that occur ANYWHERE in the corpus: one
    // corpus scan, broadcast probe, output bounded by |bench grams|
    val hitGrams = shingled
      .filter(col("doc_id") >= nBench)
      .select(explode(col("sh")).as("s"))
      .join(broadcast(benchGrams), Seq("s"), "left_semi")
      .distinct()
    bench
      .join(hitGrams.withColumn("hit", lit(1L)), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit")
      )
      .select(
        col("doc_id"),
        col("n_grams"),
        col("n_hit"),
        round(col("n_hit").cast("double") / col("n_grams"), 4)
          .as("frac_contaminated")
      )
      .orderBy("doc_id")
  }

  /** dedup14: BLOOM-FILTER decontamination — dedup07's semantics
    * (per-doc count of shingles shared with the benchmark set) with
    * the broadcast join replaced by the structure a 100 TB pipeline
    * actually ships: a Bloom filter over the benchmark shingles,
    * built distributed (`DataFrameStatFunctions.bloomFilter` is a
    * treeAggregate — executors OR partial bitsets, the driver sees
    * only the final ~KBs-per-million-items array), broadcast once,
    * probed MAP-ONLY inside mapPartitions (the emb01 pattern: the
    * filter deserializes once per partition, the probe is
    * `mightContainLong` per 8-byte shingle hash — no join, no
    * shuffle, no per-row allocation). This is how decontamination
    * runs against a benchmark suite too large to broadcast as an
    * exact set: at fpp=1e-6 a 10M-shingle benchmark is a ~34 MB
    * filter vs ~80+ MB of raw longs in a hash set — and the filter
    * size is tunable per the memory budget while a set is not.
    *
    * Exactness contract: NO FALSE NEGATIVES ever (Bloom guarantee —
    * every truly contaminated doc is flagged at its full overlap
    * count), false positives inflate `n_overlap` with probability
    * <= fpp per probe. [rows-only]: the filter's bit layout is
    * engine-private, so no SQL oracle can replay it; the spec pins
    * the superset relation against exact dedup07 and equality at
    * tight fpp on this corpus.
    *
    * Reference analog: the contamination check materialize_fulltext
    * -style pipelines run against eval benchmarks before training. */
  def dedup14BloomDecontaminate(
      lake: Lake,
      nBench: Int = 10,
      minOverlap: Int = 5,
      fpp: Double = 1e-6
  ): DataFrame = {
    val spark = lake.spark
    import spark.implicits._
    val shingled = lake.documents.select(
      col("doc_id"),
      graft.plans.ShingleHashes(col("text"), 3).as("sh")
    )
    val bench = shingled
      .filter(col("doc_id") < nBench)
      .select(explode(col("sh")).as("s"))
      .distinct()
    // Expected-item count from the actual benchmark (one small
    // aggregate over the bench side only — never the corpus); the
    // stat.bloomFilter build itself is the distributed treeAggregate.
    val nItems = math.max(bench.count(), 1L)
    val filter = bench.stat.bloomFilter("s", nItems, fpp)
    val bcast = spark.sparkContext.broadcast(filter)
    shingled
      .filter(col("doc_id") >= nBench)
      .as[(Long, Seq[Long])]
      .mapPartitions { it =>
        val f = bcast.value
        it.map { case (id, sh) =>
          var n = 0L
          sh.foreach(h => if (f.mightContainLong(h)) n += 1)
          (id, n)
        }
      }
      .toDF("doc_id", "n_overlap")
      .filter(col("n_overlap") >= minOverlap)
      .orderBy("doc_id")
  }

  /** Embedding near-dup pairs within a label block (cosine >= t).
    *
    * Scale design — 2-D blocked exact kernel (sim02's SUMMA shape),
    * not LSH pruning. The output contract is EXACT (every pair at
    * cos >= t), and at t = 0.4 the hyperplane-LSH per-bit collision
    * probability for a qualifying pair is 1 - acos(0.4)/pi ~= 0.63,
    * so recall ~1 needs ~36 2-bit tables whose candidate volume
    * exceeds the within-label cross product — LSH candidate
    * generation only wins at high thresholds (cos >= 0.8, the usual
    * near-dup regime) or when misses are acceptable (the sim03 ANN
    * path). The unavoidable O(n_label^2) arithmetic is therefore
    * distributed WITHOUT materializing it as join rows: each label's
    * vectors hash-pack into `blocks` blocks, every (i, j) block cell
    * pairs up through a plain (label, i, j) equi-join — one task per
    * cell, per-task memory = one block pair — and the native
    * BlockThresholdDots expression runs the cell's pair loop over
    * flat primitive arrays, emitting only threshold survivors. The
    * row-level formulation of the same chunked join measured 3.0 s at
    * sf1 copying two 64-double arrays into every candidate row; this
    * shape runs it in ~1 s. Shuffle volume is 2 x blocks x n narrow
    * vector rows; a giant label never has to fit one executor. At
    * cluster scale raise `blocks` so cells stay ~10^3-10^4 vectors. */
  def dedup06EmbeddingNearDup(
      lake: Lake,
      threshold: Double = 0.4,
      blocks: Int = 8
  ): DataFrame = {
    import graft.functions.vectors
    val e = lake.embeddings.select(
      col("vec_id"),
      col("label"),
      vectors.toDouble(col("embedding")).as("v")
    ).withColumn("nrm", vectors.norm(col("v")))
    // full blocks^2 grid per label; the a_id < b_id filter below
    // dedupes orientations (pmod blocking carries no id order, so a
    // triangular grid would still need both orientations per cell)
    Similarity.blockThresholdJoin(threshold, col("label")) { pack =>
      val a = pack(e, "ablk",
        Seq(col("label"), pmod(col("vec_id"), lit(blocks)).cast("int").as("ab")))
        .withColumn("bb", explode(sequence(lit(0), lit(blocks - 1))))
      val b = pack(e, "bblk",
        Seq(col("label"), pmod(col("vec_id"), lit(blocks)).cast("int").as("bb")))
        .withColumn("ab", explode(sequence(lit(0), lit(blocks - 1))))
      a.hint("shuffle_hash").join(b, Seq("label", "ab", "bb"))
    }
      .filter(col("p.a_id") < col("p.b_id"))
      .select(
        col("p.a_id").as("vec_a"),
        col("p.b_id").as("vec_b"),
        col("label"),
        round(col("p.cos_raw"), 4).as("cos")
      )
      .orderBy("vec_a", "vec_b")
  }

  /** Shingle-CONTAINMENT near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|)
    * >= threshold — catches subset duplication (a document embedded in
    * a boilerplate-wrapped copy) that symmetric Jaccard misses: a doc
    * fully contained in one 3x its size has J ~= 0.33 but C = 1.
    *
    * Containment admits NO length blocking (the contained side may be
    * any fraction of the container), so candidates come from the
    * df-capped shingle inverted index alone ([[cappedCandidates]]) and
    * verify EXACTLY on their full shingle sets — the dedup04
    * discipline. A qualifying pair is found whenever at least one of
    * its shared shingles is rarer than the cap (shares >=
    * threshold*min shingles, so only pairs overlapping exclusively on
    * boilerplate can hide); on this corpus max df << maxDf, so the
    * output equals the exhaustive result the oracle computes. The plan
    * is dedup03's size-adaptive one ([[shingleSetPairs]]); its capped
    * branch is pinned by DedupSimilaritySpec's "capped branch equals
    * uncapped" test. */
  def dedup10Containment(
      lake: Lake,
      threshold: Double = 0.9,
      maxDf: Int = 10000
  ): DataFrame =
    shingleSetPairs(shingleCorpus(lake.documents).cache(), Containment, threshold, maxDf)

  /** Cross-source duplicate overlap matrix — per (source_a, source_b)
    * pair, how many exact-duplicate DOCUMENT pairs span the two
    * sources (plus the within-source diagonal). The pre-mixing audit
    * a corpus curator runs before weighting sources: heavy off-
    * diagonal mass means double-counting between feeds.
    *
    * Scale shape: pairs are counted ANALYTICALLY from per-
    * (fingerprint, source) counts — the self-join runs on the
    * aggregated fp-level table (one row per fp x source, bounded by
    * the dup-group structure), never on documents, and cross/within
    * pair counts are ca*cb / C(ca,2) products. Linear in corpus size
    * plus sum over fps of (distinct sources)^2 — tiny. */
  def dedup09CrossSourceOverlap(lake: Lake): DataFrame = {
    val d = lake.documents
      .select(text.bagFingerprint(col("text")).as("fp"), col("source"))
      .groupBy("fp", "source")
      .agg(count(lit(1)).as("c"))
    val a = d.select(col("fp"), col("source").as("source_a"), col("c").as("ca"))
    val b = d.select(col("fp"), col("source").as("source_b"), col("c").as("cb"))
    a.join(b, "fp")
      .filter(col("source_a") <= col("source_b"))
      .withColumn(
        "pairs",
        when(
          col("source_a") === col("source_b"),
          (col("ca") * (col("ca") - 1) / 2).cast("long")
        ).otherwise(col("ca") * col("cb"))
      )
      .groupBy("source_a", "source_b")
      .agg(sum("pairs").as("n_dup_pairs"))
      .filter(col("n_dup_pairs") > 0)
      .orderBy("source_a", "source_b")
  }

  /** Star-CC's small-graph cutover: once a round's live edge count is
    * at or below this (16 MB of id pairs), the edges are collected once
    * and the remaining rounds finish in a driver-side union-find. A
    * larger graph keeps running star rounds until it shrinks below it. */
  private[graft] val StarCCLocalEdges: Long = 1L << 20

  /** Connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014) — O(log n) rounds on ANY graph topology, vs the
    * component-DIAMETER rounds of plain min-label propagation. On a
    * 100 TB near-dup graph a boilerplate-chained component can have
    * diameter in the thousands; this variant's round count is
    * independent of that. Each round is two symmetric-join + min
    * aggregate passes over the edge list; convergence = stable
    * (count, Σ xxhash64(u,v)) checksum, one scalar action per round.
    * At the fixpoint the edge set is exactly the star u -> component
    * minimum. Once the live edge set is at most `localEdges` edges
    * (`StarCCLocalEdges`; specs override it), it is collected and
    * `LocalKernels.minRootComponents` computes that same star in one
    * pass — labels are component minima either way, so the result is
    * exactly equal. Label semantics are those of plain propagation
    * (smallest reachable id) — asserted in DedupSimilaritySpec. */
  def connectedComponentsStar(
      pairs: DataFrame,
      maxIters: Int = 30,
      localEdges: Long = StarCCLocalEdges
  ): DataFrame = {
    // nodes has exactly ONE consumer (the final label join) and pairs
    // arrives localCheckpointed from every caller, so an EAGER
    // checkpoint here bought nothing but its own job + pass — the
    // distinct folds into the final job.
    val nodes = pairs
      .select(col("doc_a").as("u"))
      .unionAll(pairs.select(col("doc_b").as("u")))
      .distinct()
    // LAZY checkpoint + checksum: localCheckpoint(false) marks the
    // RDD and the checksum aggregate's job materializes the blocks as
    // it streams them — ONE job per generation where the eager form
    // paid two (materialize, then re-scan the blocks to checksum).
    // At scale the same fusion removes one full pass over the edge
    // set per round.
    var edges = pairs
      .select(
        greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v")
      )
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    // order-independent, overflow-free edge-set fingerprint (a long
    // SUM of xxhash64 trips ANSI overflow; XOR cannot)
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e
        .agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))"))
        .head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // Per-iteration convergence check, deliberately: halving the
    // checksum cadence (edges(t) == edges(t-2) also implies the
    // fixpoint) was MEASURED SLOWER on every star-CC consumer
    // (dedup08 2.7→3.3 s, samp05 2.4→3.2, samp07 2.6→3.0) — parity
    // rounding forces one extra idempotent round (~0.7 s of
    // groupBys/distincts) to save ~0.12 s checksum jobs.
    var prev = (-1L, -1L)
    var cur = checksum(edges)
    var iter = 0
    // Track each generation's checkpoint blocks and release the
    // SUPERSEDED one as soon as the next is materialized: this loop
    // checkpoints a (possibly corpus-fraction-sized) edge frame EVERY
    // round for up to maxIters rounds, and waiting on the async
    // ContextCleaner stacks dead generations against the live working
    // set (the single-heap pressure the round-12 local-cluster probe
    // exposed on the iterative family). Release ids come from the
    // checkpointed Dataset's own LogicalRDD leaves
    // (Bridge.checkpointRddIds) — never a global keyset diff. The
    // INITIAL generation is tracked too (round 15: it previously
    // outlived the whole loop).
    val sc = pairs.sparkSession.sparkContext
    var prevCkpt: Set[Int] =
      org.apache.spark.sql.graftbridge.Bridge.checkpointRddIds(edges)
    while (cur != prev && iter < maxIters && cur._1 > localEdges) {
      // ONE explicit exchange per star (round 16, guide §2.4 — two
      // operations keyed the same way share one exchange): after
      // repartition(u), HashPartitioning(u) satisfies the clustering
      // requirement of groupBy(u), of the u-keyed join, AND of a
      // (u, v) dedup — so each star's aggregate + join + dedup all
      // run exchange-free in the repartition's stage. The old form
      // let every groupBy / join / distinct plan its own Exchange
      // (4-6 per round). shuffle_hash on the min frames drops the
      // SMJ sorts. Its build holds one row per key (a min per node),
      // so a partition's hash table grows with the distinct nodes
      // routed to it — bounded by the node count per partition, not
      // by a constant — and ShuffledHashJoin's build does not spill
      // the way a sort-merge join would.
      // Skew note for 100 TB: the hot key (a giant component's min
      // node) is a SINGLE key — AQE skew-split cannot divide one key
      // in either formulation, so fusing the join into the exchange's
      // stage gives up nothing on that axis.
      // Measured (interleaved same-JVM, sf0.1, label checksums
      // identical): 26 -> 22 jobs per CC run, wall
      // 1.011 -> 0.823 s (min of 3 alternating sweeps).
      //
      // large-star: hang every neighbor LARGER than u off
      // m = min(N(u) ∪ {u}) — detaches long tails in one hop.
      val sym = edges
        .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      val m1 = sym.groupBy("u").agg(min("v").as("mn"))
      // The emission (v, m) has m <= u < v, so it is already oriented
      // larger->smaller and self-loop free; its duplicates ride to
      // small-star's partition-local dropDuplicates instead of paying
      // a standalone distinct Exchange here.
      val large = sym
        .join(m1.hint("shuffle_hash"), "u")
        .withColumn("m", least(col("u"), col("mn")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .repartition(col("u"))
      // small-star: repoint u and all its smaller neighbors at the
      // minimum
      val dis = large.dropDuplicates("u", "v")
      val m2 = dis.groupBy("u").agg(min("v").as("m"))
      val small = dis
        .join(m2.hint("shuffle_hash"), "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(m2.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
      edges = small.localCheckpoint(false)
      // ids read off the checkpointed Dataset itself (LogicalRDD
      // leaves) — a global keyset diff could capture a concurrent
      // job's RDD in a shared session (advisor round 12)
      val added = org.apache.spark.sql.graftbridge.Bridge.checkpointRddIds(edges)
      prev = cur
      // the checksum job is what materializes the lazy checkpoint —
      // it reads the PREVIOUS generation's blocks, so the superseded
      // generation is released only after it returns
      cur = checksum(edges)
      prevCkpt.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      prevCkpt = added
      iter += 1
    }
    if (cur != prev && cur._1 <= localEdges) {
      // small-graph cutover: one collect, then the in-memory star
      val live = edges.collect()
      val (us, ls) = LocalKernels.minRootComponents(
        live.map(_.getAs[Number](0).longValue),
        live.map(_.getAs[Number](1).longValue))
      val spark = pairs.sparkSession
      import spark.implicits._
      edges = us.indices.map(i => (us(i), ls(i))).toDF("u", "v")
        .select(
          col("u").cast(edges.schema("u").dataType).as("u"),
          col("v").cast(edges.schema("v").dataType).as("v"))
      prevCkpt.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    }
    nodes
      .join(edges.select(col("u"), col("v").as("lbl")), Seq("u"), "left")
      .select(col("u"), coalesce(col("lbl"), col("u")).as("lbl"))
  }

  /** Cluster resolution — the missing end of the near-dup pipeline:
    * pair lists (dedup04) to surviving documents. Connected components
    * over the pair graph, then one canonical survivor per cluster by
    * (longest n_chars, then smallest doc_id) — the fuzzy generalization
    * of the reference's per-key ROW_NUMBER dedup
    * (materialize_fulltext.py:87-118, which keeps one row per DOI by
    * source priority; here the "key" is the discovered component).
    *
    * Scale design: the pair list is localCheckpointed once, then
    * [[connectedComponentsStar]] labels it — alternating
    * large-star/small-star rounds whose count is O(log n) whatever the
    * component diameter, finished by the driver-side union-find once
    * the live edges fit `StarCCLocalEdges`; `maxIters` bounds the star
    * rounds. Each label is its component's smallest doc_id. */
  def dedup08ClusterResolve(
      lake: Lake,
      threshold: Double = 0.5,
      maxIters: Int = 20
  ): DataFrame = {
    // Materialize the pair list once: the label loop re-reads it every
    // iteration, and recomputing the MinHash pipeline per hop would
    // dominate the cost.
    val pairs = minhashPairs(shingleCorpus(lake.documents).cache(), threshold)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(false)
    // star CC: round count independent of component diameter (the
    // label-equality contract with plain propagation is spec-pinned)
    val labels = connectedComponentsStar(pairs, maxIters)
    val members = labels
      .join(
        lake.documents.select(col("doc_id"), col("n_chars")),
        col("u") === col("doc_id")
      )
      .select(col("lbl").as("cluster_id"), col("doc_id"), col("n_chars"))
    members
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        // Survivor: longest document, ties to the smallest id — struct
        // ordering is field-by-field, so max of (n_chars, -doc_id)
        // realizes (n_chars DESC, doc_id ASC) in one pass.
        expr("max_by(doc_id, struct(n_chars, -doc_id))").as("survivor_id")
      )
      .orderBy("cluster_id")
  }

  /** Unordered kernel over the corpus's cached shingleCorpus frame —
    * pipe03 composes over this and shares the frame with its
    * decontamination stage; the split frame is CORPUS-sized, so the
    * public entry's presentation sort surviving inside the funnel
    * would be a full-corpus range exchange + sort. */
  private[graft] def leakageSplits(
      lake: Lake,
      shingled: DataFrame,
      threshold: Double = 0.5,
      maxIters: Int = 20
  ): DataFrame = {
    val pairs = minhashPairs(shingled, threshold)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(false)
    val labels = connectedComponentsStar(pairs, maxIters)
    lake.documents
      .select(col("doc_id"))
      .join(labels, col("doc_id") === col("u"), "left")
      .select(
        col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn(
        "split",
        when(pmod(col("cluster_id"), lit(10)) < 8, "train")
          .when(pmod(col("cluster_id"), lit(10)) === 8, "val")
          .otherwise("test"))
  }

  /** samp05: LEAKAGE-SAFE train/val/test split — the curation
    * correctness subtlety most pipelines get wrong: splitting by
    * document hash puts near-duplicates of a training doc into the
    * eval set, silently inflating every metric. The unit of
    * assignment must be the NEAR-DUP CLUSTER, not the doc: MinHash
    * pairs → star-CC cluster labels (dedup08's machinery), singletons
    * keep their own id as the label, and the split decision is a
    * deterministic modulo on the CLUSTER id (8/1/1) — so a whole
    * duplicate group lands in exactly one split, reproducibly, with
    * no RNG and no driver-side state. Linear dataflow: the CC labels
    * plus one broadcast-joinable left join against the corpus. */
  def samp05LeakageSafeSplit(
      lake: Lake,
      threshold: Double = 0.5,
      maxIters: Int = 20
  ): DataFrame =
    leakageSplits(lake, shingleCorpus(lake.documents).cache(), threshold, maxIters)
      .orderBy("doc_id")

  /** samp09: cluster-BALANCED diversity sampling — draw up to `m`
    * documents per semantic cell instead of m·(cell share) per cell,
    * so tail topics survive subsampling and head topics stop
    * dominating the mix (the cluster-then-sample selection step a
    * pretraining sampler runs after dedup: cluster, then sample
    * evenly across clusters).
    *
    * Cells are dedup11's k-means machinery verbatim (driver-trained
    * codebook, map-only argmax against its broadcast handle). The
    * per-cell draw is DETERMINISTIC uniform: order by md5(vec_id) — a seeded hash
    * shuffle both engines compute identically — and keep rank <= m.
    * Scale shape: the rank window partitions by cluster over the
    * CORPUS stream (one shuffle), and WindowGroupLimit prunes each
    * map task's slice to its top-m before the exchange, so the sort
    * never materializes a full per-cell ordering; with auto-sqrt(N)
    * cells upstream (dedup11's rule) cell count and cell size both
    * stay ~sqrt(N). Fixed k=10 here keeps the unrolled-Lloyd oracle
    * finite (the dedup11 contract). */
  def samp09ClusterBalanced(
      lake: Lake,
      k: Int = 10,
      iters: Int = 2,
      m: Int = 20
  ): DataFrame = {
    val all = Similarity.vecs(lake).localCheckpoint(false)
    val cents = Similarity.kmeans(all, k, iters)
    val assigned = Similarity.argmaxCell(all, cents, Seq.empty)
    val w = Window
      .partitionBy("cluster")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    assigned
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= m)
      .select(col("cluster").cast("int").as("cluster"), col("vec_id"), col("rnk"))
      .orderBy("cluster", "rnk")
  }

  /** samp07: SOFT dedup — keep every document but assign a sampling
    * weight of 1/|cluster| from its near-dup cluster, so each
    * duplicate group contributes exactly unit mass to the training
    * mixture. The alternative to hard removal (dedup02/08) when
    * near-dup variants carry signal worth keeping at reduced rate —
    * the repetition-aware reweighting move scaling studies recommend
    * over silent duplication. Downstream, `weight` multiplies any
    * sampler's selection probability (samp01-03 compose unchanged).
    *
    * Scale shape: dedup04's linear candidate generation + star-CC
    * labels (dedup08's machinery); cluster sizes via one map-side
    * partial-aggregating groupBy and one equi-join on cluster_id —
    * no window, no sort, both sides hash-partitioned on the same
    * key. */
  def samp07SoftDedup(
      lake: Lake,
      threshold: Double = 0.5,
      maxIters: Int = 20
  ): DataFrame = {
    val pairs = minhashPairs(shingleCorpus(lake.documents).cache(), threshold)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(false)
    val labels = connectedComponentsStar(pairs, maxIters)
    val withCluster = lake.documents
      .select(col("doc_id"))
      .join(labels, col("doc_id") === col("u"), "left")
      .select(
        col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id")
      )
    val sizes = withCluster
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
    withCluster
      .join(sizes, "cluster_id")
      .select(
        col("doc_id"),
        col("cluster_id"),
        col("n_members"),
        round(lit(1.0) / col("n_members"), 4).as("weight")
      )
      .orderBy("doc_id")
  }

  /** dedup12: INCREMENTAL dedup — score a new delta batch against the
    * already-curated corpus without re-pairing the corpus with itself,
    * the production shape for continuous ingestion (daily crawl drops
    * arriving against a 100 TB store). The delta is the newest
    * `deltaFrac` of doc ids; a delta doc is dropped iff some doc with
    * a SMALLER id (corpus or earlier-in-batch) is a near-dup at
    * `threshold`, and `dup_of` reports the smallest such partner —
    * so re-running after a merge never flips earlier verdicts.
    *
    * Scale shape: the MinHash band index covers corpus+delta, but the
    * candidate join PROBES it only with the delta's band rows —
    * corpus×corpus pairs are never enumerated, so per-batch cost is
    * linear in the batch (times the bucket collision rate), not in
    * the store. At 100 TB the corpus band index is a persisted table
    * the daily job appends to; here both sides derive from the lake
    * in one dataflow, but the join topology is the incremental one.
    * Recall: same 64x2 band design as [[dedup04MinhashLsh]] (candidate
    * probability ≈ 1-1e-8 at J=0.5), and the exact-Jaccard verify
    * makes the output equal the exhaustive delta×smaller-id result,
    * which is what the oracle computes. */
  def dedup12Incremental(
      lake: Lake,
      threshold: Double = 0.5,
      deltaFrac: Double = 0.2,
      numPerm: Int = 128,
      bands: Int = 64
  ): DataFrame = {
    deltaCut(lake, deltaFrac) match {
      case None => emptyVerdicts(lake)
      case Some(cut) =>
        val docs = shingleCorpus(lake.documents).cache()
        // bandIndexOf keeps the signature in its own projection (the
        // measured 10.6 s vs 1.2 s recompute trap — see its doc).
        val bandRows = bandIndexOf(docs, numPerm, bands).cache()
        incrementalVerdicts(lake.documents, bandRows, docs, threshold, cut)
    }
  }

  /** Batch boundary for the incremental probe: one metadata scalar
    * (floor in both engines: .toLong truncates toward zero for the
    * positive cut). None on an EMPTY corpus — max(doc_id) aggregates
    * to NULL there, and the primitive getter would NPE (the
    * empty-delta production case, EmptyLakeSpec). */
  private def deltaCut(lake: Lake, deltaFrac: Double): Option[Long] = {
    val r = lake.documents.agg(max("doc_id")).head()
    if (r.isNullAt(0)) None
    else Some(((1.0 - deltaFrac) * (r.getLong(0) + 1)).toLong)
  }

  /** Schema-correct empty verdict frame for the empty-corpus case. */
  private def emptyVerdicts(lake: Lake): DataFrame =
    lake.documents
      .limit(0)
      .select(
        col("doc_id"),
        lit(null).cast("long").as("dup_of"),
        lit("keep").as("verdict")
      )

  /** The dedup12 probe over EXPLICIT index frames — shared by the
    * inline build above and the persisted-index path below.
    * Probe side = delta only; build side = the full index. Every
    * candidate has doc_b in the delta and doc_a strictly older.
    * The shuffle_hash hints pin the 100-TB join shape: the band
    * index's size estimate can read under the broadcast threshold
    * here, and the planner would otherwise BROADCAST the full index
    * (and below, the full shingle-array corpus) — 75 MB+ driver
    * round-trips at this SF, certain death at scale. Building the
    * hash side on the DELTA keeps the build linear in the batch.
    *
    * `deltaBands`/`deltaShingles` optionally supply the PROBE side
    * from outside the stored frames — the persisted-index path
    * computes them fresh from the arriving documents (deterministic
    * hashing keeps them identical to store-filtered rows when the
    * store is uncapped), which is both the production shape (a new
    * batch's signatures are computed, not read back) and what makes
    * a maxBucket-capped store probeable at all (the cap may have
    * dropped the delta's own rows). */
  private def incrementalVerdicts(
      documents: DataFrame,
      bandRows: DataFrame,
      shingles: DataFrame,
      threshold: Double,
      cut: Long,
      deltaBands: Option[DataFrame] = None,
      deltaShingles: Option[DataFrame] = None
  ): DataFrame = {
    val candidates = deltaBands
      .getOrElse(bandRows)
      .filter(col("doc_id") >= cut)
      .select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
      .hint("shuffle_hash")
      .join(
        bandRows.select(col("doc_id").as("doc_a"), col("band"), col("bucket")),
        Seq("band", "bucket")
      )
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val withSets = candidates
      .hint("shuffle_hash")
      .join(shingles.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .hint("shuffle_hash")
      .join(
        deltaShingles
          .getOrElse(shingles)
          .select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b"
      )
    val dupOf = withScore(withSets, Jaccard, "sh_a", "sh_b")
      .filter(col(Jaccard.name) >= threshold)
      .groupBy("doc_b")
      .agg(min(col("doc_a")).as("dup_of"))
    documents
      .filter(col("doc_id") >= cut)
      .select(col("doc_id"))
      .join(dupOf, col("doc_id") === col("doc_b"), "left")
      .select(
        col("doc_id"),
        col("dup_of"),
        when(col("dup_of").isNull, "keep").otherwise("drop").as("verdict")
      )
      .orderBy("doc_id")
  }

  /** MinHash band-index persistence — the dedup analog of
    * writeIvfIndex/writePqIndex/writeSqIndex: a production
    * incremental-dedup job maintains the band index AND the shingle
    * arrays as tables (appending each ingestion batch) instead of
    * re-running 128 permutations over the whole corpus per batch.
    * `bands/` holds (doc_id, band, bucket); `shingles/` holds
    * (doc_id, sh) for the exact-verify fetch.
    *
    * `maxBucket` is the INDEX-OWNER'S degeneration knob (the probe
    * paths' Scaladoc points here): a bucket larger than the cap keeps
    * only its representative row — the min doc_id, exactly the row
    * min(dup_of) semantics would elect — so EVERY downstream probe
    * (dedup12, incrementalFromIndex, dedupProbe, the streaming sink)
    * inherits bounded per-collision candidates with no per-batch
    * stats work. Contract change above the cap, explicit and
    * opted-into here: a probe doc colliding ONLY in capped buckets
    * can match (and name as dup_of) only the representative; a true
    * near-dup below threshold vs the representative is missed unless
    * it also collides in an uncapped bucket — the star-candidate
    * caveat, at index build time (see the heterogeneous-bucket spec).
    * Default Int.MaxValue = uncapped, bit-identical to the historical
    * layout. */
  def writeBandIndex(
      lake: Lake,
      dir: String,
      numPerm: Int = 128,
      bands: Int = 64,
      maxBucket: Int = Int.MaxValue
  ): Unit = persist.releasingNewRdds(lake.spark) {
    val docs = shingleCorpus(lake.documents).cache()
    capBuckets(bandIndexOf(docs, numPerm, bands), maxBucket)
      .write.mode("overwrite").parquet(s"$dir/bands")
    docs.write.mode("overwrite").parquet(s"$dir/shingles")
  }

  /** Representative-only cap over a (doc_id, band, bucket) index: one
    * bounded aggregate (the same size+representative pass
    * minhashPairs' guard runs, paid once at build/compaction time
    * instead of per probe); identity when uncapped. */
  private def capBuckets(idx: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) idx
    else {
      val stats = idx
        .groupBy("band", "bucket")
        .agg(count(lit(1)).as("bsz"), min("doc_id").as("rep"))
      idx
        .join(stats, Seq("band", "bucket"))
        .filter(col("bsz") <= maxBucket || col("doc_id") === col("rep"))
        .select("doc_id", "band", "bucket")
    }

  /** dedup12 over a PERSISTED index: the delta computes its OWN band
    * rows and shingles from the arriving documents (the production
    * shape — a new batch's signatures are computed, never read back)
    * and probes the stored band table for strictly-older candidates,
    * fetching stored shingles for the verify. Verdict-identical to
    * the inline build on an uncapped index (deterministic hashing;
    * spec-asserted), and the only probe shape that works against a
    * maxBucket-capped store (whose cap may have dropped the delta's
    * own rows — see writeBandIndex). numPerm/bands must match the
    * index build. */
  def incrementalFromIndex(
      lake: Lake,
      dir: String,
      threshold: Double = 0.5,
      deltaFrac: Double = 0.2,
      numPerm: Int = 128,
      bands: Int = 64
  ): DataFrame = {
    val spark = lake.spark
    deltaCut(lake, deltaFrac) match {
      case None => emptyVerdicts(lake)
      case Some(cut) =>
        val delta =
          shingleCorpus(lake.documents.filter(col("doc_id") >= cut)).cache()
        incrementalVerdicts(
          lake.documents,
          Lake.readParquet(spark, s"$dir/bands"),
          Lake.readParquet(spark, s"$dir/shingles"),
          threshold,
          cut,
          deltaBands = Some(bandIndexOf(delta, numPerm, bands)),
          deltaShingles = Some(delta)
        )
    }
  }

  /** The MinHash band index of a (doc_id, sh) shingleCorpus frame —
    * (doc_id, carry…, band, bucket) rows: the pair kernel's candidate
    * source, the build side dedup12 probes and the static side of the
    * STREAMING probe below. The signature lands in its OWN projection
    * before bandKeys references it — inlining would splice the
    * 128-perm signature expression into each band-key struct,
    * recomputing it ~bands× per row (dedup12's measured 10.6 s vs
    * 1.2 s). */
  def bandIndexOf(
      shingled: DataFrame,
      numPerm: Int = 128,
      bands: Int = 64,
      carry: Seq[String] = Nil
  ): DataFrame = {
    val rows = numPerm / bands
    val kept = col("doc_id") +: carry.map(col)
    shingled
      .select(kept :+ hashing.minhashSignature(col("sh"), numPerm).as("sig"): _*)
      .select(kept :+ explode(hashing.bandKeys(col("sig"), bands, rows)).as("bk"): _*)
      .select(kept :+ col("bk.band").as("band") :+ col("bk.bucket").as("bucket"): _*)
  }

  /** A `.compact-N` temp dir carrying `_SUCCESS` means a compaction
    * crashed mid-swap: its merged rows may exist ONLY there (the swap
    * deletes source batch dirs after the marker), so a reader that
    * skips hidden dirs would treat stored rows as absent — duplicates
    * would probe as new and enter the store permanently (round-13
    * review). Read paths fail fast and name the fix; only
    * compactBatchStore proceeds past this state, because its recovery
    * preamble completes the swap first. An UNMARKED temp dir is
    * harmless (the write crashed before any delete) and stays
    * ignored here — the next compaction discards it. */
  private def requireNoPendingCompaction(
      fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus],
      p: org.apache.hadoop.fs.Path
  ): Unit =
    entries.foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".compact-") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))) {
        val upTo = st.getPath.getName.stripPrefix(".compact-")
        sys.error(
          s"pending compaction swap at ${st.getPath}: a previous " +
            "compaction committed its merge but crashed before the " +
            s"swap completed — run the store's compaction (upTo=$upTo) " +
            "to finish it before reading or appending to this store"
        )
      }
    }

  /** Guards the sink's batch-keyed store layout (FORMAT BREAK,
    * advisor round 11): before the batch=N subdirs the sink wrote
    * flat part files directly under `bands/`/`shingles/`/`pairs/`.
    * Reading such a store through the batch=-filtered lister would
    * silently treat it as EMPTY — every cross-batch duplicate missed,
    * no error — and writing batch=N dirs next to the flat files makes
    * a mixed layout Spark partition discovery rejects on later reads.
    * So any non-hidden entry that is not a `batch=N` directory fails
    * fast with a migration message: move the legacy files into a
    * `batch=-1` subdir (strictly below every real batch id, so they
    * probe as already-ingested corpus) or rebuild the store. */
  private def requireBatchLayout(
      entries: Seq[org.apache.hadoop.fs.FileStatus],
      p: org.apache.hadoop.fs.Path
  ): Unit = {
    val legacy = entries.filter { st =>
      val n = st.getPath.getName
      !n.startsWith(".") && !n.startsWith("_") &&
      !(st.isDirectory && n.startsWith("batch="))
    }
    require(
      legacy.isEmpty,
      s"legacy flat band-store layout under $p (e.g. ${legacy.head.getPath.getName}): " +
        "this store predates the batch-keyed format — move the flat parquet " +
        "files into a 'batch=-1' subdirectory (they will probe as " +
        "already-ingested corpus) or rebuild the index with writeBandIndex"
    )
  }

  /** The `batch=N` dirs with N <= `upTo` of the batch-keyed store at
    * `root`, as (N, path); none when `root` does not exist. A legacy
    * flat layout fails fast (requireBatchLayout). A `reading` lister —
    * both sinks — also refuses a committed-but-unswapped `.compact-N`
    * dir (requireNoPendingCompaction); compaction lists with
    * `reading = false` because its recovery finishes that swap first. */
  private[operators] def batchDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      upTo: Long,
      reading: Boolean = true
  ): Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(root)) Seq.empty
    else {
      val entries = fs.listStatus(root).toSeq
      requireBatchLayout(entries, root)
      if (reading) requireNoPendingCompaction(fs, entries, root)
      entries
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
        .flatMap(st =>
          st.getPath.getName.stripPrefix("batch=").toLongOption
            .filter(_ <= upTo)
            .map(_ -> st.getPath))
    }

  /** STREAMING twin of the MinHash-LSH pair kernel — the
    * foreachBatch sink for a continuously-ingesting corpus: each
    * micro-batch of (doc_id, text) documents
    *   1. shingles + band-hashes map-side (deterministic hashing, so
    *      stream and batch signatures are identical),
    *   2. generates candidates as intra-batch self-join PLUS a probe
    *      of the PERSISTED band index of everything ingested so far
    *      (dedup12's delta-probes-index discipline — the corpus never
    *      meets itself, only the batch meets the store),
    *   3. verifies exactly on full shingle sets (stored + in-batch),
    *   4. writes verified pairs, band rows and shingles to
    *      batch-keyed subdirectories of the state stores
    *      (`pairs/batch=N`, …) — overwritten on checkpoint replay, so
    *      a retried batch is idempotent (see the replay note in the
    *      body).
    * Every pair is discovered exactly once — when its LATER document
    * arrives (or both arrive together) — so after the stream covers
    * the corpus, `pairs/` equals batch [[dedup04MinhashLsh]] row for
    * row (StreamingSpec pins it on a replayed corpus). Pairs are
    * canonicalized (doc_a < doc_b) independent of arrival order.
    *
    * This is the production near-dup ingestion shape at 100 TB: the
    * band index is the accumulating table a continuously-deduped
    * corpus maintains anyway (writeBandIndex's layout), each batch's
    * work is linear in the batch + its collisions, and the exact
    * verify touches only candidate shingle rows.
    *
    * Degeneration note (the minhashPairs cap, probe-side): a
    * DEGENERATE STORED bucket (mass-duplicated boilerplate already
    * ingested) multiplies every colliding batch doc's candidates by
    * the stored bucket's size. The intra-batch join is bounded by the
    * batch; the store side is not. The production mitigation lives at
    * INDEX-BUILD time, not probe time: cap the persisted band index
    * once (keep a representative row per oversized bucket — its min
    * doc_id, which is exactly the row min(dup_of) semantics would
    * elect), and every probe path (dedup12, incrementalFromIndex,
    * dedupProbe, this sink) inherits bounded candidates without
    * per-batch stats work. That knob exists — writeBandIndex's
    * `maxBucket` — and is deliberately NOT defaulted on, because the
    * verdict contract above the cap changes (dup_of can only name the
    * representative); the index owner turns it explicitly. */
  def minhashPairsBatchSink(
      stateDir: String,
      threshold: Double = 0.5,
      numPerm: Int = 128,
      bands: Int = 64
  ): (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val spark = batch.sparkSession
    // Replay idempotency (advisor round-10): foreachBatch re-delivers
    // a batchId after a failure, and a blind mode-append would
    // permanently duplicate index rows (duplicated shingles then
    // multiply the verify join for every LATER batch). Every store is
    // therefore keyed by batch subdirectory — batch=N is OVERWRITTEN
    // on replay (the checkpoint replays the same data, so the rewrite
    // is a no-op rewrite), and the probe reads only subdirs with id
    // STRICTLY BELOW the current batch, which both excludes a failed
    // attempt's partial batch=N files and keeps "a batch never probes
    // its own rows" true on first delivery and replay alike. Store
    // discovery goes through the dir's own Hadoop FileSystem (the
    // java.io.File probe silently skipped the cross-batch path on
    // HDFS/S3 stateDirs and dropped every cross-batch pair).
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def priorBatchDirs(sub: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$stateDir/$sub")
      batchDirs(p.getFileSystem(hadoopConf), p, batchId - 1).map(_._2.toString)
    }
    val shingled = shingleCorpus(batch.select("doc_id", "text")).cache()
    val bandRows = bandIndexOf(shingled, numPerm, bands).cache()
    val intra = bucketPairs(bandRows)
    val priorBands = priorBatchDirs("bands")
    val (candidates, storedShingles) =
      if (priorBands.nonEmpty) {
        val storedBands = Lake.readParquet(spark, priorBands: _*)
        val cross = bandRows
          .join(
            storedBands.select(col("doc_id").as("doc_s"), col("band"), col("bucket")),
            Seq("band", "bucket"))
          .select(
            least(col("doc_id"), col("doc_s")).as("doc_a"),
            greatest(col("doc_id"), col("doc_s")).as("doc_b"))
        (intra.unionAll(cross).distinct(),
          Some(Lake.readParquet(spark, priorBatchDirs("shingles"): _*)))
      } else (intra.distinct(), None)
    val allShingles = storedShingles.fold(shingled)(shingled.unionAll)
    verified(candidates, allShingles, Jaccard, threshold)
      .write.mode("overwrite").parquet(s"$stateDir/pairs/batch=$batchId")
    bandRows.write.mode("overwrite").parquet(s"$stateDir/bands/batch=$batchId")
    shingled.write.mode("overwrite").parquet(s"$stateDir/shingles/batch=$batchId")
    shingled.unpersist(false)
    bandRows.unpersist(false)
  }

  /** Maintenance compaction for the streaming sink's state stores —
    * the lifecycle step the batch-keyed layout needs at scale: a
    * long-running ingestion accumulates one subdirectory (and its
    * files) per micro-batch, so the probe's listStatus and the
    * per-probe parquet footer reads grow with stream age (the classic
    * streaming small-files problem). Compaction folds every committed
    * `batch=K` (K <= upTo) of `bands/` and `shingles/` into a single
    * `batch=upTo` directory, optionally applying writeBandIndex's
    * `maxBucket` representative-only cap to the merged band table
    * (the degeneration knob, applied where it belongs — at index
    * maintenance time). Shingle rows are NEVER capped: a doc dropped
    * from an oversized bucket can still verify through its other
    * buckets.
    *
    * Safety contract (documented, not enforced): run while the stream
    * is STOPPED (or quiesced past `upTo`), with upTo = the last
    * COMMITTED batch id. The merged dir keeps the `batch=` naming, so
    * a later batch N > upTo probes it through the same strictly-below
    * rule; a replay of a batch <= upTo after compaction would find
    * its subdir merged away, which is exactly why upTo must be
    * committed. Writes land in `batch=upTo` via a temp-dir swap, and
    * a crashed compaction is RECOVERABLE on re-run (advisor round 11):
    * the merge is written to a hidden `.compact-upTo` dir first (the
    * parquet `_SUCCESS` marker records a complete write), sources are
    * deleted only after the marker lands, and on entry a re-run with
    * the same `upTo` completes the interrupted swap — a marked temp
    * dir finishes the delete+rename, an unmarked one (crash mid-write,
    * so no source was deleted yet) is discarded and the merge redone.
    * A crash inside the delete/rename window therefore leaves the
    * visible store empty only until the next `compact` run, never
    * permanently. */
  def compactBandStore(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      upTo: Long,
      maxBucket: Int = Int.MaxValue
  ): Unit = {
    compactBatchStore(spark, s"$stateDir/bands", upTo, capBuckets(_, maxBucket))
    compactBatchStore(spark, s"$stateDir/shingles", upTo)
    // pairs/ is never probed by the sink (no strictly-below rule to
    // preserve), but it accumulates one subdir per micro-batch like
    // the others — fold it too, or the small-files problem just moves
    // to whoever reads the discovered-pair table. The pair SET is the
    // contract; per-batch discovery attribution is traded away at
    // maintenance time exactly like band rows' batch ids.
    compactBatchStore(spark, s"$stateDir/pairs", upTo)
  }

  /** The shared batch-keyed-store fold: merge every committed
    * `batch=K` (K <= upTo) under `root` into a single `batch=upTo`
    * dir via a `_SUCCESS`-marked temp-dir swap with crash recovery —
    * the maintenance half every foreachBatch store in this library
    * shares (the LSH band store's three subdirs, the pretrain
    * prefix's survivor store). Run only while the stream is stopped
    * or quiesced past `upTo`, with upTo = the last COMMITTED batch. */
  private[operators] def compactBatchStore(
      spark: org.apache.spark.sql.SparkSession,
      rootDir: String,
      upTo: Long,
      transform: DataFrame => DataFrame = identity
  ): Unit = {
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirsUpTo(limit: Long) = batchDirs(fs, root, limit, reading = false)
    // Crash recovery for ANY leftover temp dir, whatever upTo it was
    // written under (advisor round 12: checking only the CURRENT upTo
    // let a re-run with a different upTo merge a partial source set —
    // rows living only in the already-deleted batches were silently
    // lost, and the orphan leaked forever). With the _SUCCESS marker
    // the orphan's merge is COMPLETE and some of its sources may
    // already be deleted — finish ITS swap (delete its sources,
    // rename to its own batch slot) before anything reads or merges
    // the store. Without the marker the write crashed BEFORE any
    // delete ran (deletes are strictly ordered after the write), so
    // the full source set is intact: discard the partial merge.
    if (fs.exists(root)) {
      fs.listStatus(root)
        .toSeq
        .filter(st =>
          st.isDirectory && st.getPath.getName.startsWith(".compact-"))
        .foreach { st =>
          val marked =
            fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))
          if (!marked) fs.delete(st.getPath, true)
          else {
            val pending = st.getPath.getName
              .stripPrefix(".compact-")
              .toLongOption
              .getOrElse(
                sys.error(
                  s"completed compaction temp dir ${st.getPath.getName} under " +
                    s"$root has no parseable batch id — resolve manually " +
                    "before compacting"
                )
              )
            batchDirsUpTo(pending).foreach { case (_, d) => fs.delete(d, true) }
            val pDst = new org.apache.hadoop.fs.Path(root, s"batch=$pending")
            require(
              fs.rename(st.getPath, pDst),
              s"compaction rename failed: ${st.getPath} -> $pDst"
            )
          }
        }
    }
    val tmp = new org.apache.hadoop.fs.Path(root, s".compact-$upTo")
    val dst = new org.apache.hadoop.fs.Path(root, s"batch=$upTo")
    val dirs = batchDirsUpTo(upTo)
    if (dirs.isEmpty) return
    // already fully compacted (e.g. this run only finished a
    // recovered swap): nothing to fold
    if (dirs.map(_._2) == Seq(dst)) return
    val merged = transform(Lake.readParquet(spark, dirs.map(_._2.toString): _*))
    merged.write.mode("overwrite").parquet(tmp.toString)
    // swap: drop the source subdirs, then move the merged dir into
    // the batch=upTo slot (rename is atomic per dir on HDFS/local).
    // Hadoop rename reports failure by RETURN VALUE, not exception —
    // fail loudly rather than leave the store with only the hidden
    // temp dir (which every probe ignores).
    dirs.foreach { case (_, d) => fs.delete(d, true) }
    require(fs.rename(tmp, dst), s"compaction rename failed: $tmp -> $dst")
  }

  /** STREAMING-COMPATIBLE incremental dedup probe — dedup12's verdict
    * semantics for a delta frame that may be a STREAM: each arriving
    * (doc_id, text) computes its signature map-side, probes the
    * STATIC band index by stream-static left join, fetches candidate
    * shingles from the static corpus, and folds to one verdict row
    * per doc through a single streaming aggregation (run the sink in
    * update/complete mode; there is no watermark because the state is
    * one row per delta doc, the batch-side contract).
    *
    * Divergences from the batch path, both deliberate streaming
    * constraints: candidates are NOT distinct-ed before the verify
    * (streaming dedup would need its own state store — duplicate band
    * collisions only repeat the exact check and cannot change
    * MIN(dup_of)), and the left joins keep zero-collision docs so
    * 'keep' verdicts surface without a second stream join.
    *
    * The production shape this models: a continuously-ingesting
    * corpus where the band index of everything already accepted is
    * the static (periodically refreshed) side and new documents
    * stream through the probe — the same index dedup12 rebuilds
    * per batch. */
  def dedupProbe(
      delta: DataFrame,
      bandIndex: DataFrame,
      corpusShingles: DataFrame,
      threshold: Double = 0.5,
      numPerm: Int = 128,
      bands: Int = 64
  ): DataFrame = {
    val bk = bandIndexOf(shingleCorpus(delta), numPerm, bands, carry = Seq("sh"))
    val cand = bk
      .join(
        bandIndex.select(
          col("doc_id").as("doc_a"), col("band"), col("bucket")),
        Seq("band", "bucket"),
        "left_outer")
      // Only strictly-older corpus docs count. NULL-ify (don't
      // filter) non-qualifying hits: when the index covers the whole
      // corpus a doc always collides with at least ITSELF, and
      // dropping those rows would drop the doc's only rows — every
      // doc must keep at least one row so 'keep' verdicts surface.
      .withColumn(
        "doc_a", when(col("doc_a") < col("doc_id"), col("doc_a")))
      .join(
        corpusShingles.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"),
        "left_outer")
    withScore(cand, Jaccard, "sh", "sh_a")
      .groupBy("doc_id")
      .agg(
        min(
          when(col("sh_a").isNotNull && col(Jaccard.name) >= threshold, col("doc_a"))
        ).as("dup_of"))
      .select(
        col("doc_id"),
        col("dup_of"),
        when(col("dup_of").isNull, "keep").otherwise("drop").as("verdict"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space with k-means, call two items semantic duplicates
    * when their cosine inside a shared cluster exceeds `tau`, and keep
    * one representative per duplicate group. Unlike MinHash (lexical
    * overlap) this catches paraphrases — same meaning, different
    * words — which is why it's the standard companion pass after
    * exact + MinHash dedup in a pretraining pipeline.
    *
    * Scale design: the quadratic pair check runs only INSIDE k-means
    * cells — k is chosen so |cell| ~ N/k stays bounded (the paper uses
    * k ~ sqrt(N·avg_cell); here k is a parameter and k <= 0 auto-scales
    * to ceil(sqrt(N)), see semanticDedup), and the cell join is
    * a plain shuffle equi-join on the cluster id, so per-task memory
    * holds one cell's vectors, not the corpus. Duplicate groups are
    * resolved with the same O(log n)-round star CC as dedup08 — a
    * chain a-b-c where only adjacent pairs clear `tau` still collapses
    * to one survivor. Deterministic given the k-means seed frame
    * (first k vectors by id): assignment and survivor choice both
    * tie-break on ids. Oracle-checked end to end: the Lloyd
    * iterations unroll as CTEs (the sim06 trick) and — because
    * star-CC labels are component MINIMA — the duplicate groups are a
    * recursive-CTE transitive closure + MIN per node, exact with no
    * iteration-count dependence. The planted-duplicate contract
    * (exact copies always collapse; survivors are component minima;
    * verdict partitions the input) is additionally spec-pinned.
    */
  def dedup11Semantic(
      lake: Lake,
      k: Int = 10,
      iters: Int = 2,
      tau: Double = 0.4
  ): DataFrame =
    semanticDedup(Similarity.vecs(lake), k, iters, tau)

  /** Generic SemDeDup core over a (vec_id, v, nrm) frame. Returns one
    * row per input vector: its cell, its duplicate-group id (own id if
    * unique), whether it survives, and the group's survivor.
    *
    * `k <= 0` requests AUTO-k = ceil(sqrt(N)): cell size is ~N/k, so a
    * fixed k silently re-quadratifies the pair check as the corpus
    * grows (at k=10 and a billion vectors each cell pairs 10^8 rows
    * against itself). sqrt(N) keeps both the cell count and the
    * expected cell size at sqrt(N) — the paper's guidance — at no job
    * of its own: the k-means training collect counts the rows. The
    * explicit-k path stays for the oracle, whose unrolled-Lloyd CTEs
    * need the literal. */
  def semanticDedup(
      all0: DataFrame,
      k: Int,
      iters: Int,
      tau: Double,
      // expected within-cell pairs (n²/k) above which the fused block
      // kernel replaces the row-level self-join; see the pair-kernel
      // comment below. Overridable so the mode-identity spec can force
      // either path at test scale.
      blockedCutover: Double = 1e8
  ): DataFrame = {
    // One materialization feeds the k-means training collect (which
    // also counts the rows), the assignment pass and the pair join —
    // without it the upstream plan re-executes per consumer.
    val all = all0.localCheckpoint(false)
    val cents = Similarity.kmeans(all, k, iters)
    val n = cents.n
    val kEff = if (k > 0) k else Similarity.autoK(n)
    // Map-only per-vector argmax against the broadcast codebook — see
    // Similarity.argmaxCell for the shape and tiebreak argument.
    val assigned = Similarity
      .argmaxCell(all, cents, Seq("v", "nrm"))
      .select(col("vec_id"), col("cluster"), col("v"), col("nrm"))
      .localCheckpoint(false)
    // Per-cell all-pairs kernel, chosen by expected pair volume
    // (round 13). The row-level self-join materializes |cell| joined
    // rows PER VECTOR, each carrying two full vectors through the
    // join — 4G wide rows at sf10 (200k vectors, k=10 cells of 20k)
    // before the cosine filter ever ran; the dedup06/sim02 fused
    // block kernel (BlockThresholdDots) moves each cell's vectors
    // ONCE as packed ~1k-vector lists and runs the all-pairs cosine
    // as one native loop per block pair. But the blocked shape costs
    // two extra stages (collect_list exchange + the kernel stage),
    // which is pure floor when cells are small — measured (BenchOne
    // cleared min-of-3): sf0.1 row 2.46 vs blocked 4.15 (floors
    // dominate 400k pairs); sf10 row 47.9 vs blocked 31.8 (-34%).
    // Cutover at ~1e8 expected pairs: below it the row join's single
    // exchange wins, above it the fused loop does; both admit by the
    // 4dp rounding rule (the oracle's dedup06 discipline) and the
    // result is identical either way (mode-identity spec-pinned).
    val expectedPairs = n.toDouble * (n.toDouble / kEff)
    val rounded4 = (c: org.apache.spark.sql.Column) => round(c, 4)
    val pairs = (if (expectedPairs < blockedCutover) {
      assigned
        .select(col("cluster"), col("vec_id").as("doc_a"),
          col("v").as("va"), col("nrm").as("na"))
        .join(
          assigned.select(col("cluster"), col("vec_id").as("doc_b"),
            col("v").as("vb"), col("nrm").as("nb")),
          Seq("cluster")
        )
        .filter(col("doc_a") < col("doc_b"))
        .filter(
          rounded4(graft.functions.vectors.dot(col("va"), col("vb")) /
            (col("na") * col("nb"))) >= tau
        )
        .select(col("doc_a"), col("doc_b"))
    } else {
      // block count keeps a block ~1k vectors however cells scale;
      // the a-side replicates ×B for the grid, the unreplicated
      // b-side builds the hash relation (the sim11 orientation rule)
      val nBlk = math.max(1, math.ceil(n.toDouble / kEff / 1000.0)).toInt
      Similarity.blockThresholdJoin(tau) { pack =>
        val blk = pack(assigned, "ablk",
          Seq(col("cluster"), pmod(col("vec_id"), lit(nBlk)).cast("int").as("ab")))
        val bSide = blk
          .select(col("cluster"), col("ab").as("bb"), col("ablk").as("bblk"))
        blk
          .withColumn("bb", explode(sequence(lit(0), lit(nBlk - 1))))
          .join(bSide.hint("shuffle_hash"), Seq("cluster", "bb"))
      }
        .filter(col("p.a_id") < col("p.b_id"))
        .select(col("p.a_id").as("doc_a"), col("p.b_id").as("doc_b"))
    }).localCheckpoint(false)
    val labels = connectedComponentsStar(pairs)
    assigned
      .join(labels, col("vec_id") === col("u"), "left")
      .select(
        col("vec_id"),
        col("cluster"),
        coalesce(col("lbl"), col("vec_id")).as("group_id")
      )
      .withColumn("survivor", col("vec_id") === col("group_id"))
      .orderBy("vec_id")
  }

  /** Bit clamp of dedup13's Bloom fallback: 512 MB, 2^32 bits. */
  private val Dedup13BloomMaxBits: Long = 1L << 32

  /** dedup13: EXACT-SUBSTRING dedup (the Lee et al. 2022 "ExactSubstr"
    * stage, arXiv:2107.06499 §4.1) — find maximal runs of >= k
    * consecutive tokens that recur verbatim in >= `minDocs` DISTINCT
    * documents, and report per document how much of it is duplicated
    * text. Line dedup (txt26) catches whole repeated sentences;
    * MinHash (dedup04) catches whole near-identical documents; this
    * catches the in-between — a quoted paragraph, a license block
    * reflowed mid-document — that neither sees.
    *
    * Shape: slide a k-token window over each document (posexplode of
    * the fused ShingleHashSeq kernel — one O(L) pass, positions
    * preserved), count DISTINCT docs per window HASH
    * (partial-aggregating groupBy — this is a frequency index, NOT a
    * pair join, so boilerplate-frequent windows cost df rows, never
    * df²), semi-join each doc's windows against the duplicated set,
    * then merge overlapping/adjacent window positions into maximal
    * spans with the islands idiom (lag + running sum) — the one
    * window function runs PER DOC, a bounded frame at any corpus
    * size.
    *
    * The index keys on the window's 8-byte xxhash64, never the
    * ~50-byte k-token string (the dedup10 move — measured 2.6 s →
    * the string-keyed variant at sf0.1; the shuffle carries 6× fewer
    * bytes). The DuckDB oracle replays the same dup set over gram
    * STRINGS — results are identical absent a 64-bit collision
    * (~1e-8 at a billion windows, and a collision can only ADD a
    * spurious span). Window inflation is (L-k+1) rows per doc, the
    * same factor the shingle operators already carry.
    *
    * The synthetic corpus has natural >= 8-token cross-doc repeats
    * (template runs — e.g. one sf0.01 doc carries an 83-token dup
    * span), and two passages are PLANTED deterministically (a 10-token
    * prefix on doc_id % 5 == 0, a 12-token footer on doc_id % 7 == 0)
    * so the gate exercises multi-span docs (% 35) and span merging on
    * every corpus. */
  def dedup13ExactSubstring(
      lake: Lake,
      k: Int = 8,
      minDocs: Int = 2,
      // Rare-window pre-filter (the round-13 fix for the sf30
      // shuffle-spill boundary). On this corpus 86-88% of window
      // occurrences are globally unique (measured sf1/sf10/sf30: kept
      // fraction 0.122/0.122/0.134), so shuffling one
      // (doc_id, pos, gh) row per corpus token mostly ships rows the
      // df >= minDocs gate will discard. At or above
      // `preFilterMinChars` of corpus text (and minDocs >= 2), pass 1
      // shuffles ONLY the 8-byte hash (projection-pruned scan,
      // repartition-before-aggregate — a ~12x narrower stream than
      // the naive row) into an exact occurrence count; hashes with
      // >= minDocs occurrences — a necessary condition for
      // df >= minDocs — form the candidate set. Pass 2 keeps only
      // candidate occurrences, via a codegen'd broadcast semi-join
      // while the set fits `maxBroadcastKeys`, else via a Bloom probe
      // built FROM the candidate set (memory-clamped; false positives
      // only admit extra rows into the exact aggregate). Exact either
      // way. Below the threshold the plain single-shuffle form runs:
      // the measured crossover on the bench box sits between sf10
      // (155M chars: plain 8.8 s vs filtered 10.6 s) and sf30 (465M
      // chars: plain 53.0 s spilling vs filtered 24.8 s, DuckDB
      // 43.0); below the shuffle-spill boundary the extra pass is
      // pure constant, above it the narrow pass is the difference
      // between winning 0.6x and losing 1.23x. The boundary is a
      // per-executor shuffle-memory property — on a real cluster,
      // size it to executor memory.
      preFilterMinChars: Long = 256L << 20,
      // switch from broadcast semi-join to the Bloom probe above this
      // candidate-set size (16M longs ~= 128 MB raw)
      maxBroadcastKeys: Long = 16L << 20
  ): DataFrame = {
    val spark = lake.spark
    import spark.implicits._
    val prefix =
      "shared prefix banner alpha beta gamma delta epsilon zeta eta "
    val footer =
      " common footer block one two three four five six seven eight nine"
    val planted = when(
      col("doc_id") % 7 === 0,
      concat(col("t1"), lit(footer))
    ).otherwise(col("t1"))
    val gramsRaw = lake.documents
      .select(
        col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(lit(prefix), col("text")))
          .otherwise(col("text"))
          .as("t1")
      )
      .select(
        col("doc_id"),
        posexplode(graft.plans.ShingleHashSeq(planted, k)).as(Seq("pos", "gh"))
      )
    def totalChars: Long = lake.documents
      .agg(coalesce(sum(length(col("text"))), lit(0L)))
      .as[Long]
      .collect()(0)
    val gramsKept =
      if (minDocs < 2 || totalChars < preFilterMinChars) gramsRaw
      else {
        // Exact candidate set: hashes occurring >= minDocs times — a
        // superset of the df >= minDocs winners (df counts DISTINCT
        // docs <= occurrences). The hash column is projection-pruned
        // to an 8-byte stream before its shuffle; per-task window
        // hashes are nearly unique, so repartition-then-aggregate-once
        // (no useless spilling partial agg). 13% of distinct hashes
        // qualify here, so the set stays broadcastable deep into the
        // scale ladder (3.76M keys = ~30 MB at sf30).
        val cand = gramsRaw
          .select("gh")
          .repartition(col("gh"))
          .groupBy("gh")
          .agg(count(lit(1)).as("occ"))
          .filter(col("occ") >= minDocs)
          .select("gh")
          .localCheckpoint(false)
        val nCand = cand.count()
        if (nCand <= maxBroadcastKeys)
          gramsRaw.join(broadcast(cand), Seq("gh"), "left_semi")
        else {
          // Candidate set too large to broadcast as exact rows: probe
          // a Bloom built FROM it (small build — |cand| adds, not a
          // raw-stream pass). Clamped bits; false positives only admit
          // extra rows into the exact df aggregate downstream.
          val bitsWanted = math.max(64L, nCand * 10L)
          val numBits = math.min(bitsWanted, Dedup13BloomMaxBits)
          val bf = cand.stat.bloomFilter("gh", math.max(nCand, 1L), numBits)
          val bcast = spark.sparkContext.broadcast(bf)
          gramsRaw.filter(graft.plans.BloomMightContainLong(col("gh"), bcast))
        }
      }
    val grams = gramsKept
      // both consumers (the df aggregation and the semi-join's stream
      // side) key on gh: partition the window-hash stream once and
      // persist it. Persist keeps hashpartitioning(gh), so the df
      // aggregation runs shuffle-free off the cache and the semi-join
      // probe re-reads the same blocks; neither re-runs scan+hash or
      // pays its own corpus-stream exchange. Relying on ReuseExchange
      // (the round-12 form) broke once the pre-filter landed: the
      // optimizer pushes the dup semi-join below the probe side's
      // repartition, the two exchange subtrees stop canonicalizing
      // equal, and the kernel + corpus shuffle ran TWICE
      // (plan-verified at sf1, ExplainOne).
      .repartition(col("gh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Persist lifecycle (round-13 review): the cached blocks live as
    // long as the returned DataFrame's plan references them — Spark's
    // normal Dataset.persist contract; the ContextCleaner frees them
    // once the result is dereferenced. A session running MANY queries
    // after this one can reclaim earlier with
    // spark.catalog.clearCache() (graft.Bench does exactly that after
    // each timed run stops its clock, so suite sweeps neither reuse
    // nor pin this stream).
    val dup = grams
      .groupBy("gh")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDocs)
      .select("gh")
    val hits = grams.join(dup, Seq("gh"), "left_semi")
    // Span merge as a per-doc ARRAY fold, not a window: collect each
    // doc's qualifying positions (one hash aggregation), sort the
    // bounded per-doc array, and fold gap>k span-splitting in a
    // single higher-order aggregate — where the round-7 shape ran two
    // full-stream window passes (lag + running sum) over a doc_id
    // sort plus two more shuffled aggregations. State: (prev pos,
    // open-span start, closed count, closed length sum, closed max).
    val folded = aggregate(
      col("ps"),
      struct(
        lit(-1).as("prev"),
        lit(-1).as("st"),
        lit(0).as("n"),
        lit(0).as("tot"),
        lit(0).as("mx")
      ),
      (acc, x) => {
        val isNew = acc.getField("st") === lit(-1) ||
          x > acc.getField("prev") + lit(k)
        val closes = isNew && acc.getField("st") =!= lit(-1)
        val len = acc.getField("prev") + lit(k) - acc.getField("st")
        struct(
          x.as("prev"),
          when(isNew, x).otherwise(acc.getField("st")).as("st"),
          when(closes, acc.getField("n") + 1)
            .otherwise(acc.getField("n")).as("n"),
          when(closes, acc.getField("tot") + len)
            .otherwise(acc.getField("tot")).as("tot"),
          when(closes, greatest(acc.getField("mx"), len))
            .otherwise(acc.getField("mx")).as("mx")
        )
      },
      acc => {
        // close the trailing span (groups are non-empty by
        // construction: a doc appears only via qualifying hits)
        val len = acc.getField("prev") + lit(k) - acc.getField("st")
        struct(
          (acc.getField("n") + 1).as("n"),
          (acc.getField("tot") + len).as("tot"),
          greatest(acc.getField("mx"), len).as("mx")
        )
      }
    )
    hits
      .groupBy("doc_id")
      .agg(sort_array(collect_list("pos")).as("ps"))
      .select(col("doc_id"), folded.as("sp"))
      .select(
        col("doc_id"),
        col("sp.n").cast("long").as("n_spans"),
        col("sp.tot").cast("long").as("dup_tokens"),
        col("sp.mx").cast("long").as("max_span")
      )
      .orderBy("doc_id")
  }
}
