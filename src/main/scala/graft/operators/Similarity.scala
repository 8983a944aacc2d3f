package graft.operators

import graft.catalog.Lake
import graft.functions.vectors
import graft.plans.LocalKernels
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

/** Similarity search over the embeddings table — the Spark-native
  * analog of the reference's FAISS flat-IP linkage
  * (build_embedding_linkage.py:246-273).
  *
  * Scale design: brute force is the per-bucket kernel. The query side
  * is always the small side and is broadcast, so the scan side streams
  * once with no shuffle; top-k is a per-query window over the
  * (|queries| x k)-sized aggregate, not the full cross product. The
  * LSH variant buckets the space so each bucket's kernel fits one
  * executor core — the IVF-style scale path for 100 TB corpora.
  */
object Similarity {

  /** Base projection with the L2 norm computed once per vector (not
    * once per compared pair): cos(a,b) = dot(a,b)/(nrm_a*nrm_b) keeps
    * the exact arithmetic of vectors.cosine while cutting the inner
    * loop from 3 dot products to 1. */
  private[graft] def vecs(lake: Lake): DataFrame =
    lake.embeddings.select(
      col("vec_id"),
      col("label"),
      vectors.toDouble(col("embedding")).as("v")
    ).withColumn("nrm", vectors.norm(col("v")))

  /** Per-query top-k over a scored candidate frame — shared tail of
    * the whole ANN family (sim01/03/05/06/07/09/10), via the native
    * bounded-heap aggregate (TopKByScore; sim08's rationale). The
    * row_number-window alternative ORDERS each query's candidate
    * slice before its rank<=k filter — corpus-sized for brute force,
    * ~nprobe/nlist·n for the IVF family — and that sort is the
    * dominant cost at scale (measured 12× the kernel on sim08's sf1
    * stream). Input contract: (query_id, vec_id, cos_raw [+ any]);
    * output matches the window formulation row for row:
    * (query_id, rank, neighbor_id, score-rounded-4) ordered
    * (cos_raw desc, vec_id asc) per query. */
  private[graft] def topkPerQuery(
      scored: DataFrame,
      k: Int,
      scoreName: String = "cos",
      // composed consumers (sim15's candidate stage) pass false: the
      // presentation sort is NOT pruned under downstream operators
      // (the xref02Unified lesson), so an intermediate top-k must not
      // carry one
      ordered: Boolean = true
  ): DataFrame = {
    val out = scored
      .groupBy("query_id")
      .agg(graft.plans.TopKByScore(col("cos_raw"), col("vec_id"), k).as("nb"))
      .select(col("query_id"), posexplode(col("nb")).as(Seq("r", "nbr")))
      .select(
        col("query_id"),
        (col("r") + 1).cast("long").as("rank"),
        col("nbr.id").as("neighbor_id"),
        round(col("nbr.score"), 4).as(scoreName)
      )
    if (ordered) out.orderBy("query_id", "rank") else out
  }

  /** The brute-force kernel shared by sim01 and every audit that
    * replays it over a transformed representation (emb03's prefix
    * legs): queries = vec_id < nQueries from `base` (broadcast),
    * exact cosine against every other vector, bounded-heap top-k.
    * `base` contract: (vec_id, v, nrm [+ any]). */
  private[graft] def bruteForceTopK(
      base: DataFrame,
      k: Int,
      nQueries: Int
  ): DataFrame = {
    val queries = base
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    topkPerQuery(
      base
        .join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .withColumn(
          "cos_raw",
          vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
        ),
      k
    )
  }

  /** Exact cosine top-k for a set of query vectors (vec_id < nQueries),
    * brute force with a broadcast query side. */
  def sim01TopKBruteForce(lake: Lake, k: Int = 10, nQueries: Int = 10): DataFrame =
    bruteForceTopK(vecs(lake), k, nQueries)

  /** Cosine-threshold similarity join: "topics" (label < 2) matched
    * against "terms" (label >= 2) — the embedding-linkage shape
    * (threshold filter instead of top-k).
    *
    * Scale design — 2-D blocked exact kernel (the SUMMA / block-GEMM
    * decomposition), not LSH pruning. An EXACT threshold join at a
    * low cutoff cannot use hyperplane-LSH candidate generation
    * without losing pairs: at cos = 0.25 the per-bit collision
    * probability is 1 - acos(0.25)/pi ~= 0.58, so driving the
    * per-pair miss probability below 1e-6 needs >100 4-bit tables —
    * whose union of candidate buckets exceeds the full cross product.
    * LSH pays off only for high thresholds (the sim03 / dedup04
    * regime) or when recall < 1 is acceptable (the reference's own
    * FAISS linkage, build_embedding_linkage.py:246-273, is top-k
    * bounded, not exhaustive). Here exactness is the contract, so the
    * right scale move is to distribute the unavoidable pairwise
    * ARITHMETIC without paying for |A|·|B| materialized join rows:
    * each side is hash-packed into blocks (collect_list of
    * (id, v, nrm) structs), each side's blocks are replicated across
    * the OTHER side's block axis, and the block grid pairs up through
    * a plain (tb, mb) equi-join — topicBlocks × termBlocks join keys,
    * one task per grid cell, per-task memory = one block pair. The
    * BlockThresholdDots expression then runs the whole cell's pair
    * loop over flat primitive arrays in a single eval. Shuffle volume
    * is termBlocks·|topics| + topicBlocks·|terms| VECTORS (not
    * pairs), and the per-pair cost is a fused multiply-add, not an
    * UnsafeRow copy — the row-level formulation of this same blocked
    * join measured 7.7 s at sf1 on join-row traffic alone; this shape
    * runs it in ~1 s. At cluster scale raise the block counts so the
    * grid covers the core count and each block stays ~10^3-10^4
    * vectors. */
  def sim02ThresholdJoin(
      lake: Lake,
      threshold: Double = 0.25,
      termBlocks: Int = 32,
      topicBlocks: Int = 4
  ): DataFrame = {
    val all = vecs(lake)
    val packed = struct(col("vec_id").as("id"), col("v"), col("nrm"))
    val topics = all
      .filter(col("label") < 2)
      .groupBy(pmod(col("vec_id"), lit(topicBlocks)).cast("int").as("tb"))
      .agg(collect_list(packed).as("tblk"))
      .withColumn("mb", explode(sequence(lit(0), lit(termBlocks - 1))))
    val terms = all
      .filter(col("label") >= 2)
      .groupBy(pmod(col("vec_id"), lit(termBlocks)).cast("int").as("mb"))
      .agg(collect_list(packed).as("mblk"))
      .withColumn("tb", explode(sequence(lit(0), lit(topicBlocks - 1))))
    terms
      .join(topics.hint("shuffle_hash"), Seq("tb", "mb"))
      .select(
        explode(
          graft.plans.BlockThresholdDots(col("tblk"), col("mblk"), threshold)
        ).as("p")
      )
      .select(
        col("p.a_id").as("topic_id"),
        col("p.b_id").as("term_id"),
        round(col("p.cos_raw"), 4).as("cos")
      )
      .orderBy("topic_id", "term_id")
  }

  /** ANN via random-hyperplane LSH: L tables x nBits hyperplanes.
    * Candidates = vectors sharing a (table, signature) bucket with the
    * query; exact cosine re-rank within candidates. Oracle-checked
    * exactly: the plane constants embed as SQL literals (see
    * lshPlanes) so the oracle reproduces the same buckets bit-for-bit;
    * recall vs sim01 is additionally asserted in spec.
    *
    * Parameter note: the synthetic embeddings are near-uniform on the
    * sphere (max pairwise cosine ≈ 0.51), the hardest case for LSH —
    * 16 tables x 4 bits reaches ~0.9 recall here (asserted >= 0.8 in
    * DedupSimilaritySpec). On real clustered embedding spaces the same
    * machinery gives high recall at far smaller candidate fractions;
    * tune (tables, nBits) per corpus.
    *
    * Plan shape: the bucket frame is narrow (vec_id, tbl, sig — no
    * vectors); the corpus signature pass runs exactly once (the query
    * side gets its own pass over <= nQueries rows, see below);
    * candidate dedup is on (query_id, vec_id) ids only; vectors are
    * re-attached by one equi-join against the base scan plus one
    * broadcast join for the bounded query side. */
  /** Deterministic pseudo-random hyperplanes: component (t, b, d) is
    * a splitmix64-derived value in [-1, 1). Precomputed once on the
    * driver and captured by the partition mapper — an expression-tree
    * formulation would be a (tables x nBits x dim)-term codegen unit
    * whose Janino compile alone costs seconds. Public because the
    * oracle embeds the SAME constants as SQL literals (Double.toString
    * round-trips exactly, and both engines fold the dot product
    * sequentially, so signatures match bit-for-bit). */
  def lshPlanes(tables: Int, nBits: Int, dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, nBits, dim) { (t, b, d) =>
      var z = (t.toLong * 1000003L + b.toLong * 10007L + d.toLong + 1L) *
        0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }

  def sim03LshAnn(
      lake: Lake,
      k: Int = 10,
      nQueries: Int = 10,
      tables: Int = 16,
      nBits: Int = 4,
      dim: Int = 64
  ): DataFrame = {
    val all = vecs(lake)

    val planes = lshPlanes(tables, nBits, dim)

    val spark = lake.spark
    import spark.implicits._
    val nb = nBits
    // Narrow signature frame: (vec_id, tbl, sig) only — tables x n
    // 16-byte rows. Signatures are computed as a local function
    // applied to TWO frames (full corpus; the bounded query subset)
    // rather than one cached frame feeding both branches: a filter
    // can't push through the opaque mapPartitions lambda, and a
    // DataFrame cache is never auto-evicted (CacheManager pins it),
    // so the cached formulation leaks storage memory on every call
    // in a long-lived session. The price is one extra signature pass
    // over <= nQueries rows — bounded by contract.
    def signatures(frame: DataFrame): DataFrame =
      frame
        .select(col("vec_id"), col("v"))
        .as[(Long, Array[Double])]
        .mapPartitions { iter =>
          iter.flatMap { case (id, v) =>
            (0 until planes.length).iterator.map { t =>
              var sig = 0
              var b = 0
              while (b < nb) {
                val p = planes(t)(b)
                var proj = 0.0
                var d = 0
                while (d < p.length) { proj += v(d) * p(d); d += 1 }
                if (proj >= 0) sig |= (1 << b)
                b += 1
              }
              (id, t, sig)
            }
          }
        }
        .toDF("vec_id", "tbl", "sig")

    val buckets = signatures(all)
    val querySigs = signatures(all.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("query_id"), col("tbl"), col("sig"))
    // Distinct on ids only — full vectors never ride the
    // candidate-dedup shuffle.
    val candIds = buckets
      .join(broadcast(querySigs), Seq("tbl", "sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .distinct()
    val queries = all
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val candidates = candIds
      .join(all.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
    topkPerQuery(
      candidates.withColumn(
        "cos_raw",
        vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
      ),
      k
    )
  }

  /** Per-label centroids (posexplode + positional mean) and
    * nearest-centroid cohesion stats — the IVF coarse-quantizer
    * building block. */
  /** Per-label centroids (posexplode + positional mean) — the IVF
    * coarse quantizer shared by sim04 (cohesion stats) and sim05
    * (cell-probed ANN). */
  private[operators] def labelCentroids(all: DataFrame): DataFrame =
    all
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(avg("x").as("c"))
      .groupBy("label")
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")
        ).as("centroid")
      )

  def sim04LabelCentroids(lake: Lake): DataFrame = {
    val all = vecs(lake)
    val centroids = labelCentroids(all)
    all
      .join(broadcast(centroids), "label")
      .withColumn("cos", vectors.cosine(col("v"), col("centroid")))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg("cos"), 4).as("avg_cos"),
        round(min("cos"), 4).as("min_cos"),
        round(max("cos"), 4).as("max_cos")
      )
      .orderBy("label")
  }

  /** IVF-style ANN: the label centroids are the coarse quantizer; each
    * query ranks all cells by centroid cosine, probes the `nprobe`
    * nearest, and exhaustively searches only vectors in those cells —
    * the FAISS IVF-flat shape. Oracle-checked end to end (sim04's
    * centroid CTE + probe/re-rank windows — centroid AVG float noise
    * is orders below this corpus's cell-ranking margins, the eval02
    * argument); DedupSimilaritySpec additionally asserts
    * nprobe = nlist reproduces sim01 exactly and logs partial-probe
    * recall.
    *
    * Scale shape: the centroid table is nlist rows (tiny, broadcast
    * twice); candidate generation is an equi-join on the cell id, so
    * the scan side shuffles once on `label` and each cell's exhaustive
    * kernel is the sim01 broadcast brute force at cell granularity.
    * Candidate volume is nprobe/nlist of the corpus per query — the
    * knob trades recall for compute exactly as in the reference's
    * FAISS usage (build_embedding_linkage.py:246-273). */
  /** Per-vector argmax over the k broadcast centroids as ONE
    * partial-aggregating groupBy. The previous row_number-over-
    * (vec_id) formulation shuffled all n×k scored rows and globally
    * sorted them per Lloyd iteration just to keep one row per vector;
    * max_by keyed on (score, -cluster) computes the same winner with
    * map-side combine — k rows fold to 1 BEFORE the exchange, so the
    * shuffle shrinks k× and carries no ordering — and reproduces the
    * window's (score desc, cluster asc) tiebreak exactly. At a
    * billion vectors × k centroids × iters iterations that shuffle
    * was the dominant train-time cost.
    *
    * Physical reality, pinned in PlanAuditSpec: a struct-buffered
    * declarative max_by can't use HashAggregate, so Spark plans
    * SortAggregate with PARTITION-LOCAL sorts (global=false). Those
    * sorts are near-linear here — the broadcast cross join emits the
    * k scored rows of each vector consecutively, so the pre-partial
    * sort sees an already-clustered stream — and nothing re-sorts
    * across the wire: the only Exchange carries the one-row-per-
    * vector partial results. No Window node anywhere. */
  private[graft] def argmaxCell(
      all: DataFrame,
      cents: DataFrame,
      payload: Seq[String],
      // sim16's drift report needs the winning cosine itself; the
      // fold already computes it, so keeping it is free
      keepCos: Boolean = false
  ): DataFrame = {
    // MAP-ONLY argmax: the k centroids fold into one broadcast row and
    // each vector picks its cell in a single transform + array_max
    // pass. The earlier formulation (crossJoin(broadcast(cents)) to
    // n x k rows, then groupBy(vec_id) + max_by) re-SHUFFLED the whole
    // corpus to group an already-unique key — at 100 TB that exchange
    // is the assignment's entire cost; this shape has none. The
    // ordering key struct(ccos, -cluster, cluster) reproduces max_by's
    // tiebreak exactly (best ccos, then smallest cluster; struct
    // comparison is lexicographic, and both formulations rank NaN
    // above any double), and payload columns are constant per vec_id
    // so carrying them on the row is value-identical to carrying them
    // through the aggregate.
    val centRow = cents
      .agg(collect_list(struct(col("cluster"), col("centroid"))).as("cs"))
    all
      .crossJoin(broadcast(centRow))
      .withColumn(
        "w",
        array_max(
          transform(
            col("cs"),
            c =>
              struct(
                vectors.cosine(col("v"), c.getField("centroid")).as("ccos"),
                negate(c.getField("cluster")).as("neg"),
                c.getField("cluster").as("cluster")
              )
          )
        )
      )
      .select(
        col("vec_id") +: col("w.cluster").as("cluster") +:
          ((if (keepCos) Seq(col("w.ccos").as("ccos")) else Nil) ++
            payload.map(col)): _*
      )
  }

  /** Spherical k-means (Lloyd iterations, cosine assignment,
    * arithmetic-mean update — identical assignments to the
    * normalized-mean update since cosine ignores scale, and the
    * spherical objective Σ cos(v, c) is monotone non-decreasing).
    * Deterministic: seeds are the k lowest vec_ids, ties in
    * assignment break to the lowest cluster id, and a cell left empty
    * disappears. This is the FAISS IVF *training* step
    * (build_embedding_linkage.py's index build analog).
    *
    * Training runs on the driver: the training set is collected once
    * as (vec_id, v) — at most `TrainCapBytes` of vectors, see
    * `collectTrainingSet` — and Lloyd runs as one local loop
    * (`LocalKernels.lloyd`, the same arithmetic as the Spark
    * expressions). A distributed Lloyd step costs several jobs for
    * n × k scorings that take microseconds, so the per-job floor was
    * the whole training cost. Returns a k-row local frame
    * (cluster, centroid), so consumers plan it like any small table. */
  def kmeans(all: DataFrame, k: Int = 10, iters: Int = 3): DataFrame = {
    val rows = collectTrainingSet(all, k)
    val (ids, cents) = LocalKernels.lloyd(rows, k, iters, cosine = true)
    all.sparkSession.createDataFrame(
      java.util.Arrays.asList(ids.indices.map(i => Row(ids(i), cents(i))): _*),
      StructType(Seq(
        StructField("cluster", IntegerType),
        StructField("centroid", ArrayType(DoubleType), nullable = false)
      ))
    )
  }

  /** Driver-side training cap: a quantizer trains on at most this many
    * bytes of raw vector doubles, 2^17 vectors at dim 64. The vector
    * count follows from the dimension, so wider embeddings train on
    * fewer vectors and the driver's share stays the same. */
  private[graft] val TrainCapBytes: Long = 64L << 20

  /** trainEvery's deterministic sample: the xxhash64(vec_id) stripe of
    * stride `every` — a pure function of vec_id, no RNG. */
  private def stripe(frame: DataFrame, every: Long): DataFrame =
    frame.filter(pmod(xxhash64(col("vec_id")), lit(every)) === 0)

  /** The training set of a driver-local Lloyd loop: the non-null
    * vectors of `frame` in vec_id order. `capBytes` becomes a vector
    * cap at the widest dimension (never fewer than the `minRows` seeds
    * the codebook needs). At or below the cap the whole set trains.
    * Above it the set is trainEvery's xxhash64 stripe with stride
    * ⌈n/cap⌉ (about `cap` vectors); a stripe too small to seed
    * `minRows` clusters falls back to the first `cap` rows read, so a
    * sampled codebook is never degenerate.
    *
    * One job counts the rows and reads the widest dimension; each
    * partition also ships its rows while they fit its 1/P share of
    * `capBytes`, so a set below the cap usually needs no second job.
    * That job brings the driver at most the cap; the stripe, about the
    * cap; neither is held while the other is collected. */
  private[graft] def collectTrainingSet(
      frame: DataFrame,
      minRows: Int,
      capBytes: Long = TrainCapBytes
  ): Array[Array[Double]] = {
    val vs = frame
      .select(col("vec_id").cast("long"), col("v"))
      .filter(col("v").isNotNull)
    def rowsOf(df: DataFrame): Array[(Long, Array[Double])] =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val rdd = vs.queryExecution.toRdd
    val share = capBytes / math.max(rdd.getNumPartitions, 1)
    // per partition: (row count, widest dim, its rows or null past the share)
    val parts = rdd.mapPartitions { it =>
      val kept = Array.newBuilder[(Long, Array[Double])]
      var n = 0L
      var dim = 0
      var bytes = 0L
      it.foreach { r =>
        val v = r.getArray(1).toDoubleArray()
        n += 1
        dim = math.max(dim, v.length)
        bytes += 8L * v.length
        if (bytes <= share) kept += ((r.getLong(0), v))
      }
      Iterator((n, dim, if (bytes <= share) kept.result() else null))
    }.collect()
    val n = parts.map(_._1).sum
    val dim = parts.map(_._2).foldLeft(1)(math.max)
    val cap = math.max(capBytes / (8L * dim), minRows.toLong)
    val picked =
      if (n <= cap && parts.forall(_._3 != null)) parts.flatMap(_._3)
      else if (n <= cap) rowsOf(vs)
      else {
        val sample = rowsOf(stripe(vs, math.ceil(n.toDouble / cap).toLong))
        if (sample.length >= minRows) sample else rowsOf(vs.limit(cap.toInt))
      }
    picked.sortBy(_._1).map(_._2)
  }

  /** Spherical k-means objective Σ cos(v, centroid of assigned cell)
    * — the training-quality scalar a quantizer build reports. */
  def kmeansObjective(all: DataFrame, cents: DataFrame): Double = {
    // The objective only needs each vector's BEST score — plain max
    // per vec_id, fully map-side partial; tiebreaks are irrelevant to
    // the sum.
    all
      .crossJoin(broadcast(cents))
      .withColumn("cos", vectors.cosine(col("v"), col("centroid")))
      .groupBy("vec_id")
      .agg(max("cos").as("best"))
      .agg(sum("best"))
      .head()
      .getDouble(0)
  }

  /** IVF-flat ANN with a TRAINED coarse quantizer: k-means cells
    * instead of sim05's label cells — the full FAISS IVF shape
    * (train -> assign -> probe). Same probe machinery and the same
    * guarantee: nprobe = nlist degenerates to exhaustive search
    * (asserted == sim01 in spec) regardless of centroid quality;
    * smaller nprobe trades recall for scanning only the probed
    * cells' inverted lists. */
  def sim06IvfTrained(
      lake: Lake,
      k: Int = 10,
      nQueries: Int = 10,
      nlist: Int = 10,
      nprobe: Int = 3,
      iters: Int = 3
  ): DataFrame = {
    val all = vecs(lake).localCheckpoint()
    val cents = kmeans(all, nlist, iters)
    val cells = argmaxCell(all, cents, Seq("v", "nrm"))
      .select(col("vec_id"), col("cluster"), col("v"), col("nrm"))
    val queries = all
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val cellRank = Window
      .partitionBy("query_id")
      .orderBy(col("qcos").desc, col("cluster"))
    val probed = queries
      .crossJoin(broadcast(cents))
      .withColumn("qcos", vectors.cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(cellRank))
      .filter(col("crank") <= nprobe)
      .select("query_id", "qv", "qnrm", "cluster")
    topkPerQuery(
      cells
        .join(broadcast(probed), Seq("cluster"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn(
          "cos_raw",
          vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
        ),
      k
    )
  }

  /** samp14: CLUSTER-BALANCED sampling — the topic-skew flattener a
    * pretraining mixture runs after dedup (the DataComp/DCLM move:
    * cluster the embedding space, then cap how much any one cluster
    * contributes, so an over-crawled topic can't dominate the token
    * budget). Train sim06's deterministic quantizer, assign every
    * vector map-side, rank each cluster's members by centroid
    * affinity (most-representative first, vec_id tiebreak), and keep
    * the top `quota` per cluster — one row per vector with its
    * cluster, rounded affinity, in-cluster rank and keep verdict.
    *
    * Scale shape: training is kmeans' capped driver-local Lloyd;
    * assignment is the map-only argmax (no shuffle). The FULL-AUDIT
    * form (default) then ranks every member through a per-cluster
    * window — the report (and the oracle) audits the dropped tail
    * too, and at test scale that window is bounded by cluster size. At 100 TB the
    * audit form is the anti-pattern twice over: with a fixed small
    * `nlist` the window has only `nlist` partitions (the whole corpus
    * sorts through ~nlist tasks), and the output itself is
    * corpus-sized. `keptOnly = true` is the scale path: the top
    * `quota` per cluster via the k-bounded TopKByScore heap (samp13's
    * discipline — map-side partial heaps, the exchange carries
    * |clusters|·quota pairs, no sort, no window), identical rows to
    * the full form filtered to `kept` (spec-pinned). `nlist <= 0`
    * auto-scales to ceil(sqrt(N)) (dedup11's rule), keeping cluster
    * count and expected cluster size both ~sqrt(N). */
  def samp14ClusterBalance(
      lake: Lake,
      nlist: Int = 10,
      iters: Int = 3,
      quota: Int = 30,
      keptOnly: Boolean = false
  ): DataFrame = {
    val all = vecs(lake).localCheckpoint()
    val k =
      if (nlist > 0) nlist
      else math.ceil(math.sqrt(all.count().toDouble)).toInt.max(1)
    val cents = kmeans(all, k, iters)
    val centRow = cents
      .agg(collect_list(struct(col("cluster"), col("centroid"))).as("cs"))
    // argmaxCell's map-only argmax, keeping the winning cosine too
    val assigned = all
      .crossJoin(broadcast(centRow))
      .withColumn(
        "w",
        array_max(
          transform(
            col("cs"),
            c =>
              struct(
                vectors.cosine(col("v"), c.getField("centroid")).as("ccos"),
                negate(c.getField("cluster")).as("neg"),
                c.getField("cluster").as("cluster")
              )
          )
        )
      )
      .select(
        col("vec_id"),
        col("w.cluster").cast("long").as("cluster"),
        col("w.ccos").as("ccos")
      )
    if (keptOnly) {
      // TopKByScore's contract (score DESC, id ASC ties) is exactly
      // the audit window's ORDER BY ccos DESC, vec_id — so the heap's
      // best-first positions ARE the audit ranks, and the kept set is
      // bit-identical to the full form filtered to `kept`. The output
      // is |clusters|·quota rows, so the closing presentation sort is
      // bounded, not corpus-sized.
      assigned
        .groupBy("cluster")
        .agg(graft.plans.TopKByScore(col("ccos"), col("vec_id"), quota).as("sel"))
        .select(col("cluster"), posexplode(col("sel")).as(Seq("pos", "s")))
        .select(
          col("s.id").as("vec_id"),
          col("cluster"),
          round(col("s.score"), 4).as("cos_centroid"),
          (col("pos") + 1).cast("long").as("rank"),
          lit(true).as("kept")
        )
        .orderBy("vec_id")
    } else
      assigned
        .withColumn(
          "rank",
          row_number().over(
            Window.partitionBy("cluster").orderBy(col("ccos").desc, col("vec_id"))
          )
        )
        .select(
          col("vec_id"),
          col("cluster"),
          round(col("ccos"), 4).as("cos_centroid"),
          col("rank").cast("long").as("rank"),
          (col("rank") <= quota).as("kept")
        )
        .orderBy("vec_id")
  }

  /** Persist a trained IVF index as two parquet tables — the FAISS
    * write_index analog (the reference builds its FAISS index once
    * and reuses it across queries, build_embedding_linkage.py:246):
    * `centroids/` (cluster, centroid) and `cells/` (vec_id, cluster).
    * At 100 TB retraining the quantizer per session is the
    * anti-pattern; the index is a TABLE, rebuilt on the ingestion
    * cadence and read by every query. The assignments stay narrow
    * (two longs per vector) — vectors are re-attached from the
    * embeddings table by id at query time, so the index adds ~16
    * bytes/vector however wide the embeddings are. */
  def writeIvfIndex(
      lake: Lake,
      dir: String,
      nlist: Int = 10,
      iters: Int = 3,
      // index a subset of the corpus (sim16's lifecycle: build over
      // the current corpus, append later batches with
      // appendToIvfIndex instead of retraining)
      subset: Column = lit(true)
  ): Unit = persist.releasingNewRdds(lake.spark) {
    val all = vecs(lake).filter(subset).localCheckpoint()
    val cents = kmeans(all, nlist, iters)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    argmaxCell(all, cents, Seq.empty)
      .select(col("vec_id"), col("cluster"))
      .write.mode("overwrite").parquet(s"$dir/cells")
  }

  /** Append a DELTA batch to a persisted IVF index WITHOUT retraining
    * — the index-maintenance verb between writeIvfIndex rebuilds
    * (FAISS IndexIVF.add on a trained index; the reference rebuilds
    * its FAISS index on every ingest cadence,
    * build_embedding_linkage.py:246 — at 100 TB that rebuild is the
    * anti-pattern and appends amortize it). New vectors are assigned
    * MAP-SIDE to the EXISTING (frozen) centroids — the same broadcast
    * argmax fold as the build, no shuffle — and their (vec_id,
    * cluster) rows append to the cells table; full vectors never move
    * (ivfAnnFromIndex re-attaches them by id at query time).
    *
    * Because assignment is a pure per-row function of the frozen
    * centroids, append-then-search is EXACTLY rebuild-with-the-same-
    * centroids-then-search (spec-pinned) — quantizer staleness, not
    * correctness, is the cost of deferring retrain. The returned
    * per-cell drift report is the retrain trigger: cos_new = mean
    * cosine of the appended members to their centroid; when it sags
    * below the build-time affinity the cells no longer fit the data
    * and the cadence rebuild is due. */
  def appendToIvfIndex(
      lake: Lake,
      dir: String,
      delta: Column
  ): DataFrame = {
    val spark = lake.spark
    val cents = spark.read.parquet(s"$dir/centroids")
    val asg = argmaxCell(vecs(lake).filter(delta), cents, Seq.empty, keepCos = true)
      .localCheckpoint() // one assignment pass feeds both the write and the report
    asg
      .select(col("vec_id"), col("cluster"))
      .write.mode("append").parquet(s"$dir/cells")
    asg
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("n_new"),
        round(avg("ccos"), 4).as("cos_new")
      )
      .orderBy("cluster")
  }

  /** sim16: the incremental-maintenance lifecycle as a self-contained
    * oracle-checked query — train sim06's deterministic quantizer on
    * the BASE corpus (vec_id % `mod` != mod-1), assign the DELTA
    * batch (vec_id % `mod` == mod-1) to the frozen centroids, and
    * report per cell: member counts and mean centroid affinity of
    * both populations, plus `drift` = cos_base − cos_new — positive
    * drift means the appended batch sits farther from the centroids
    * than the data they were trained on, the retrain-trigger signal.
    *
    * Scale shape: the train is kmeans' capped driver-local Lloyd over
    * the base; BOTH assignments are the map-only argmax (zero
    * shuffle); the report aggregates map-side to <= nlist rows per
    * task. The full
    * outer join is over <= nlist-row frames. Oracle: sim06's unrolled
    * 3-iteration Lloyd CTE trained on the base subset, then both
    * assignment replays and the per-cell aggregate in plain SQL
    * (avg-of-cosines follows sim06's centroid-AVG precedent). */
  def sim16IvfAppend(
      lake: Lake,
      nlist: Int = 10,
      iters: Int = 3,
      mod: Int = 5
  ): DataFrame = {
    val all = vecs(lake).localCheckpoint()
    val base = all.filter(col("vec_id") % mod =!= lit(mod - 1L))
    val delta = all.filter(col("vec_id") % mod === lit(mod - 1L))
    val cents = kmeans(base, nlist, iters)
    def cellStats(df: DataFrame, n: String, c: String): DataFrame =
      argmaxCell(df, cents, Seq.empty, keepCos = true)
        .groupBy("cluster")
        .agg(count(lit(1)).as(n), round(avg("ccos"), 4).as(c))
    cellStats(base, "n_base", "cos_base")
      .join(cellStats(delta, "n_new", "cos_new"), Seq("cluster"), "full_outer")
      .select(
        col("cluster").cast("long").as("cluster"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("cos_base"),
        col("cos_new"),
        // difference of the ALREADY-4dp-rounded means: exact at 4dp
        // on both engines (no fresh float hazard)
        round(col("cos_base") - col("cos_new"), 4).as("drift")
      )
      .orderBy("cluster")
  }

  /** IVF ANN over a PERSISTED index (read_index + search): identical
    * results to sim06IvfTrained at the same build parameters — the
    * quantizer is deterministic, so index-then-search and
    * train-then-search are the same function of the data
    * (spec-asserted). The probe path is sim06's: broadcast the
    * centroid table, rank cells per query, scan only the probed
    * cells' inverted lists (the cells table join prunes the corpus
    * BEFORE vectors attach). */
  def ivfAnnFromIndex(
      lake: Lake,
      dir: String,
      k: Int = 10,
      nQueries: Int = 10,
      nprobe: Int = 3
  ): DataFrame = {
    val spark = lake.spark
    val all = vecs(lake)
    val cents = spark.read.parquet(s"$dir/centroids")
    val cells = spark.read.parquet(s"$dir/cells")
    val cellRank = Window
      .partitionBy("query_id")
      .orderBy(col("qcos").desc, col("cluster"))
    val probed = all
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .crossJoin(broadcast(cents))
      .withColumn("qcos", vectors.cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(cellRank))
      .filter(col("crank") <= nprobe)
      .select("query_id", "qv", "qnrm", "cluster")
    topkPerQuery(
      cells
        .join(broadcast(probed), Seq("cluster"))
        .filter(col("vec_id") =!= col("query_id"))
        .join(all.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
        .withColumn(
          "cos_raw",
          vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
        ),
      k
    )
  }

  /** sim07: Product-quantization ANN — the remaining FAISS index
    * family next to flat (sim01) and IVF (sim05/06). Vectors are
    * L2-normalized (the reference's own convention,
    * build_embedding_linkage.py:246-273, so dot == cosine), split
    * into `m` subvectors, and each subspace gets a `ks`-centroid
    * codebook; a database vector is stored as m one-byte codes and
    * queries score by ADC (asymmetric distance computation): a
    * per-query lookup table of partial dots against every codebook
    * entry, summed along the code word.
    *
    * Training: the m subspace codebooks train on the driver over one
    * capped collect of the training vectors (pqTrainCore); encoding
    * every vector stays a map-only pass. The ADC scan is the PQ scale
    * story: scoring joins the m·n code rows against a broadcast
    * q·m·ks lookup table on (sub_id, cluster) — linear in codes,
    * never touching the original vectors.
    * Oracle-checked end to end: the joint-subspace Lloyd iterations
    * unroll as CTE triples and ADC is plain join/agg SQL (the graph06
    * unrolled-recursion trick); recall floor, code-shape and
    * determinism are additionally spec-pinned. */
  def sim07PqAnn(
      lake: Lake,
      m: Int = 8,
      ks: Int = 16,
      k: Int = 10,
      nQueries: Int = 10,
      iters: Int = 2
  ): DataFrame = {
    val (subv, cents, codes) = pqTrain(lake, m, ks, iters)
    pqSearch(
      subv
        .filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("sub_id"), col("sv").as("qsv")),
      cents,
      codes,
      k
    )
  }

  /** sim13: PQ + EXACT REFINE, the production FAISS serving shape
    * (IndexRefineFlat): the compressed-domain ADC scan proposes
    * k·refine candidates per query, then the true vectors of ONLY
    * those candidates are fetched through a narrow id equi-join and
    * re-ranked by exact cosine. This is how a 100 TB embedding store
    * actually serves: the m-byte codes table is the in-memory scan,
    * the full vectors stay in cold storage and are touched
    * |queries|·k·refine times per batch — never scanned. Quantization
    * error then costs recall only when a true neighbor falls outside
    * the candidate ring entirely, so recall@k is monotone in
    * `refine` (spec-pinned against the sim01 truth, alongside the
    * ≥-raw-PQ comparison).
    *
    * Cosine is normalization-invariant, so the refine stage scores
    * raw vectors while the codes were trained on the normalized
    * corpus — same space, one less projection. */
  def sim13PqRefine(
      lake: Lake,
      m: Int = 8,
      ks: Int = 16,
      k: Int = 10,
      refine: Int = 4,
      nQueries: Int = 10,
      iters: Int = 2
  ): DataFrame = {
    val (subv, cents, codes) = pqTrain(lake, m, ks, iters)
    val cand = pqSearch(
      subv
        .filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("sub_id"), col("sv").as("qsv")),
      cents,
      codes,
      k * refine
    ).select(col("query_id"), col("neighbor_id").as("vec_id"))
    val base = vecs(lake).select(col("vec_id"), col("v"), col("nrm"))
    val queries = base
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    topkPerQuery(
      cand
        .join(base, Seq("vec_id")) // narrow id join: candidates only
        .join(broadcast(queries), Seq("query_id"))
        .withColumn(
          "cos_raw",
          vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
        ),
      k
    )
  }

  /** Schema-correct empty ANN result (query_id, rank, neighbor_id,
    * scoreName) — the shared empty-corpus degradation of the IVF-PQ
    * entry points. */
  private def emptyAnnResult(
      all: DataFrame,
      k: Int,
      scoreName: String
  ): DataFrame =
    topkPerQuery(
      all
        .select(
          col("vec_id").as("query_id"),
          col("vec_id"),
          lit(0.0).as("cos_raw")
        )
        .limit(0),
      k,
      scoreName
    )

  /** sim14: IVF + PQ over RESIDUALS — FAISS's IndexIVFPQ, the index
    * a corpus actually ships at 100 TB (IVF alone still stores full
    * vectors per cell; PQ alone still scans every code; composed,
    * the probe visits nprobe/nlist of the corpus and each visited
    * doc costs m LUT adds over its residual codes). Pipeline:
    * sim06's trained coarse quantizer assigns cells; each vector's
    * RESIDUAL v − centroid(cell) is PQ-encoded (residuals are what
    * make the codebooks sharp — their spread is a cell radius, not
    * the whole space); search probes the nprobe best cells and
    * scores candidates by the exact inner-product decomposition
    * q·(c + r) ≈ q·c + Σ_m LUT_m[code_m], where q·c is one dot per
    * probed cell and the LUT is per-(query, subspace, code) — the
    * classic ADC-with-coarse-correction identity.
    *
    * Scale shape: coarse train/assign is sim06's (broadcast
    * centroids, map-only argmax); residual PQ is pqTrainCore on a
    * map-derived frame; search joins candidates to codes by id and
    * to the broadcast LUT by (query, subspace, code) — the corpus
    * enters only through the probed-cell equi-join. */
  def sim14IvfPq(
      lake: Lake,
      k: Int = 10,
      nQueries: Int = 10,
      nlist: Int = 10,
      nprobe: Int = 3,
      coarseIters: Int = 3,
      m: Int = 8,
      ks: Int = 16,
      pqIters: Int = 2,
      trainEvery: Int = 1
  ): DataFrame = {
    val all = vecs(lake).localCheckpoint()
    val headDim = all.select(size(col("v"))).head(1)
    if (headDim.isEmpty) return emptyAnnResult(all, k, "adc_ip")
    val sd = headDim.head.getInt(0) / m
    val nl = resolveNlist(all, nlist)
    val (cents, cellIds, pqCents, codes) =
      ivfPqBuild(all, nl, coarseIters, m, ks, pqIters, trainEvery)
    ivfPqSearch(all, cents, cellIds, pqCents, codes, sd, k, nQueries, nprobe, m)
  }

  /** `nlist <= 0` requests AUTO-nlist = ⌈√N⌉ (dedup11's auto-k rule,
    * shared with sim11/samp14): cell count and expected cell size
    * both ~√N, the FAISS guidance at volume. The literal default (10)
    * stays the oracle form — the DuckDB chains unroll exactly that
    * seeding. */
  private def resolveNlist(all: DataFrame, nlist: Int): Int =
    if (nlist > 0) nlist
    else math.ceil(math.sqrt(all.count().toDouble)).toInt.max(1)

  /** IVF-PQ train: coarse centroids, cell assignments, residual
    * codebooks, residual codes — the four tables the persisted index
    * ships. */
  /** `trainEvery > 1` trains BOTH quantizers (coarse k-means and the
    * per-subspace PQ codebooks) on a deterministic 1/trainEvery
    * hash-sample of the corpus while still assigning and ENCODING
    * every vector — the FAISS production guidance (quantizers train
    * on a bounded sample; training on the full corpus is the
    * anti-pattern at volume). Measured at sf30 (1.5M vectors,
    * trainEvery=16): build+search 55.3 → 15.7 s (3.5×) with recall
    * vs brute force unchanged — 0.34 vs 0.30 at ADC's lossy
    * recall@10 (ProbeRecall; BASELINE round 12). Deterministic — the
    * sample is
    * a pure function of vec_id (xxhash64 stripe), no RNG — and
    * trainEvery=1 is bit-identical to the historical build (the
    * oracle form) as long as the training set fits `TrainCapBytes`;
    * above that cap `collectTrainingSet` stripes it even at
    * trainEvery=1. A sample that misses the corpus entirely (tiny
    * corpus, aggressive stride) falls back to full-corpus training
    * rather than an empty codebook. */
  private def ivfPqBuild(
      all: DataFrame,
      nlist: Int,
      coarseIters: Int,
      m: Int,
      ks: Int,
      pqIters: Int,
      trainEvery: Int = 1
  ): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val trainSet =
      if (trainEvery <= 1) all
      else {
        val sampled = stripe(all, trainEvery).localCheckpoint()
        // A sample SMALLER than the codebooks it must seed (fewer
        // rows than nlist coarse centroids or ks codewords per
        // subspace) silently trains a degenerate quantizer — the
        // seeds are `cluster < ks` over the training set, so missing
        // rows mean missing codewords (advisor round 12). Fall back
        // to full-corpus training, not just on empty.
        if (sampled.count() < math.max(nlist, ks).toLong) all else sampled
      }
    val cents = kmeans(trainSet, nlist, coarseIters)
    val cells = argmaxCell(all, cents, Seq("v"))
      .select(col("vec_id"), col("cluster"), col("v"))
    def residOf(frame: DataFrame): DataFrame = frame
      .join(broadcast(cents), Seq("cluster"))
      .select(
        col("vec_id"),
        zip_with(col("v"), col("centroid"), (x, y) => x - y).as("v")
      )
      // lazy: pqTrainCore's first read materializes this chain and
      // every later consumer reads blocks
      .localCheckpoint(false)
    val resid = residOf(cells)
    val residTrain =
      if (trainEvery <= 1) resid
      else residOf(
        argmaxCell(trainSet, cents, Seq("v"))
          .select(col("vec_id"), col("cluster"), col("v")))
    val (_, pqCents, codes) = pqTrainCore(resid, m, ks, pqIters, residTrain)
    (cents, cells.select(col("vec_id"), col("cluster")), pqCents, codes)
  }

  /** Probed-cell ADC search over the four IVF-PQ tables. */
  private def ivfPqSearch(
      all: DataFrame,
      cents: DataFrame,
      cellIds: DataFrame,
      pqCents: DataFrame,
      codes: DataFrame,
      sd: Int,
      k: Int,
      nQueries: Int,
      nprobe: Int,
      m: Int,
      ordered: Boolean = true
  ): DataFrame = {
    val queries = all
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val cellRank = Window
      .partitionBy("query_id")
      .orderBy(col("qcos").desc, col("cluster"))
    val probed = queries
      .crossJoin(broadcast(cents))
      .withColumn("qcos", vectors.cosine(col("qv"), col("centroid")))
      .withColumn("qcdot", vectors.dot(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(cellRank))
      .filter(col("crank") <= nprobe)
      .select("query_id", "qv", "qcdot", "cluster")
    val qsub = queries
      .withColumn("sub_id", explode(sequence(lit(0), lit(m - 1))))
      .select(
        col("query_id"),
        col("sub_id"),
        slice(col("qv"), col("sub_id") * sd + 1, lit(sd)).as("qsv")
      )
    val lut = qsub
      .join(broadcast(pqCents), Seq("sub_id"))
      .select(
        col("query_id"),
        col("sub_id"),
        col("cluster"),
        vectors.dot(col("qsv"), col("centroid")).as("pdot")
      )
    val cand = cellIds
      .join(broadcast(probed.select("query_id", "qcdot", "cluster")), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id", "qcdot")
    topkPerQuery(
      cand
        .join(codes, Seq("vec_id"))
        .join(broadcast(lut), Seq("query_id", "sub_id", "cluster"))
        .groupBy("query_id", "vec_id")
        .agg((first("qcdot") + sum("pdot")).as("cos_raw")),
      k,
      scoreName = "adc_ip",
      ordered = ordered
    )
  }

  /** sim15: IVF-PQ + EXACT REFINE — the FAISS production serving
    * config (IndexIVFPQ wrapped in IndexRefineFlat), composing sim14's
    * compressed-domain candidate generation with sim13's exact rerank.
    * The ADC-with-coarse-correction scan proposes k·refine candidates
    * per query from the probed cells; the true vectors of ONLY those
    * candidates are fetched through a narrow id equi-join and
    * re-ranked by exact cosine. This closes PQ's documented lossy
    * floor (raw ADC recall@10 ≈ 0.34 on this corpus): quantization
    * error now costs recall only when a true neighbor falls outside
    * the candidate ring entirely, so recall is monotone in `refine`
    * and in `nprobe` (measured at sf10: see BASELINE round 13).
    *
    * Scale shape: identical to sim14 until the rerank — the corpus
    * enters via the probed-cell equi-join, codes are the scan, and
    * the refine stage touches |queries|·k·refine full vectors via the
    * id join (never a corpus scan). Cosine is
    * normalization-invariant, so the rerank scores raw vectors while
    * the index was built on residuals — same space (sim13's rule).
    * The candidate stage runs UNORDERED (topkPerQuery's composed-
    * consumer contract); only the final rerank pays a presentation
    * sort.
    *
    * Sizing guidance (round-14 clustered-corpus measurements,
    * BASELINE "ANN recall on clustered corpora"): size `refine` to
    * the expected SAME-CLUSTER candidate count — on a clustered
    * corpus every in-cluster vector is nearly equidistant from the
    * query, so raw ADC cannot rank them (recall ~0 at any nlist) and
    * the refine ring must be wide enough to contain the true top-k's
    * cluster peers (~cluster_size/10 floor; measured: clusters of
    * ~312 need refine 32 for recall 1.0, clusters of ~1000 need 64+).
    * `nlist` is a cost knob, not a recall knob, wherever ranking is
    * exact (sim06 holds recall 1.0 from nlist 10 to 447 while build
    * time scales with nlist) — keep auto-sqrt(N) for the flat index
    * and let refine, not nlist, carry PQ recall. */
  def sim15IvfPqRefine(
      lake: Lake,
      k: Int = 10,
      refine: Int = 4,
      nQueries: Int = 10,
      nlist: Int = 10,
      nprobe: Int = 3,
      coarseIters: Int = 3,
      m: Int = 8,
      ks: Int = 16,
      pqIters: Int = 2,
      trainEvery: Int = 1
  ): DataFrame = {
    val all = vecs(lake).localCheckpoint()
    val headDim = all.select(size(col("v"))).head(1)
    if (headDim.isEmpty) return emptyAnnResult(all, k, "cos")
    val sd = headDim.head.getInt(0) / m
    val nl = resolveNlist(all, nlist)
    val (cents, cellIds, pqCents, codes) =
      ivfPqBuild(all, nl, coarseIters, m, ks, pqIters, trainEvery)
    val cand = ivfPqSearch(
      all, cents, cellIds, pqCents, codes, sd,
      k * refine, nQueries, nprobe, m, ordered = false
    ).select(col("query_id"), col("neighbor_id").as("vec_id"))
    val base = all.select(col("vec_id"), col("v"), col("nrm"))
    val queries = base
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        col("v").as("qv"),
        col("nrm").as("qnrm")
      )
    topkPerQuery(
      cand
        .join(base, Seq("vec_id")) // narrow id join: candidates only
        .join(broadcast(queries), Seq("query_id"))
        .withColumn(
          "cos_raw",
          vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
        ),
      k
    )
  }

  /** IVF-PQ write_index analog, completing index persistence across
    * every FAISS family graft implements (IVF, PQ, SQ8, MinHash
    * bands, and now their composition): `centroids/`
    * (cluster, centroid), `cells/` (vec_id, cluster), `codebooks/`
    * (sub_id, cluster, centroid), `codes/` (vec_id, sub_id,
    * cluster). cells + codes ARE the compressed corpus — ~(1 + m)
    * small ints per vector; full vectors never ship with the
    * index. */
  def writeIvfPqIndex(
      lake: Lake,
      dir: String,
      nlist: Int = 10,
      coarseIters: Int = 3,
      m: Int = 8,
      ks: Int = 16,
      pqIters: Int = 2
  ): Unit = persist.releasingNewRdds(lake.spark) {
    val all = vecs(lake).localCheckpoint()
    val (cents, cellIds, pqCents, codes) =
      ivfPqBuild(all, nlist, coarseIters, m, ks, pqIters)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    cellIds.write.mode("overwrite").parquet(s"$dir/cells")
    pqCents.write.mode("overwrite").parquet(s"$dir/codebooks")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** IVF-PQ ANN over a PERSISTED index: training is deterministic,
    * so index-then-search equals train-then-search row for row
    * (spec-asserted, the ivfAnnFromIndex contract).
    *
    * The PQ geometry (m subspaces × sd dims) is read FROM the
    * persisted codebooks — (count distinct sub_id, size(centroid)) —
    * never from a caller guess: slicing query subvectors with an m
    * that differs from the one the index was written with would
    * silently score against the wrong codebooks and return wrong
    * neighbors (advisor round-9). The one consistency requirement,
    * m·sd == corpus dim, is checked and named. */
  def ivfPqAnnFromIndex(
      lake: Lake,
      dir: String,
      k: Int = 10,
      nQueries: Int = 10,
      nprobe: Int = 3
  ): DataFrame = {
    val spark = lake.spark
    val all = vecs(lake).localCheckpoint()
    val headDim = all.select(size(col("v"))).head(1)
    if (headDim.isEmpty) return emptyAnnResult(all, k, "adc_ip")
    val dim = headDim.head.getInt(0)
    val codebooks = spark.read.parquet(s"$dir/codebooks")
    val geo = codebooks
      .agg(
        countDistinct(col("sub_id")).cast("int").as("m"),
        max(size(col("centroid"))).as("sd")
      )
      .head()
    require(
      !geo.isNullAt(0) && geo.getInt(0) > 0,
      s"persisted IVF-PQ index at $dir has an empty codebooks table"
    )
    val m = geo.getInt(0)
    val sd = geo.getInt(1)
    require(
      m * sd == dim,
      s"persisted codebooks (m=$m, sd=$sd) do not match corpus dim $dim"
    )
    ivfPqSearch(
      all,
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/cells"),
      codebooks,
      spark.read.parquet(s"$dir/codes"),
      sd,
      k,
      nQueries,
      nprobe,
      m
    )
  }

  /** PQ training shared by sim07PqAnn, sim13/sim14, and the
    * persisted-index path: subvector split, joint per-subspace
    * codebooks, codes. Returns (subv, codebooks, codes). */
  private[graft] def pqTrain(
      lake: Lake,
      m: Int,
      ks: Int,
      iters: Int
  ): (DataFrame, DataFrame, DataFrame) = {
    val all = vecs(lake)
      .select(col("vec_id"), vectors.l2Normalize(col("v")).as("v"))
      .localCheckpoint()
    pqTrainCore(all, m, ks, iters)
  }

  /** The PQ train body over ANY (vec_id, v) frame, un-normalized —
    * sim07/sim13 feed it the l2-normalized corpus, sim14 feeds it
    * coarse-quantizer RESIDUALS (whose magnitudes must survive). */
  private[graft] def pqTrainCore(
      all: DataFrame,
      m: Int,
      ks: Int,
      iters: Int,
      // codebooks train on this frame (default: the full corpus);
      // codes always encode `all` — see ivfPqBuild's trainEvery note
      trainOn: DataFrame = null
  ): (DataFrame, DataFrame, DataFrame) = {
    // Subvector dimension from the schema-carried first row is a
    // driver scalar the planner needs anyway (slice lengths are
    // literals); one tiny action on the checkpointed frame. An empty
    // corpus (empty daily delta, new tenant) degrades to empty
    // schema-correct frames instead of an NPE on the scalar.
    val headDim = all.select(size(col("v"))).head(1)
    if (headDim.isEmpty) {
      return (
        all.select(col("vec_id"), lit(0).as("sub_id"), col("v").as("sv")).limit(0),
        all.select(lit(0).as("sub_id"), lit(0).as("cluster"), col("v").as("centroid")).limit(0),
        all.select(col("vec_id"), lit(0).as("sub_id"), lit(0).as("cluster")).limit(0)
      )
    }
    val dDim = headDim.head.getInt(0)
    require(dDim % m == 0, s"dim $dDim not divisible by m=$m")
    val sd = dDim / m
    val subv = all
      .withColumn("sub_id", explode(sequence(lit(0), lit(m - 1))))
      .select(
        col("vec_id"),
        col("sub_id"),
        slice(col("v"), col("sub_id") * sd + 1, lit(sd)).as("sv")
      )
      .localCheckpoint()
    // Codebooks train on the driver (kmeans' rule): the training set is
    // collected once as full (vec_id, v) rows — at most TrainCapBytes
    // of them — sliced into the m subspaces locally, and each subspace
    // runs LocalKernels.lloyd's L2 argmin from the first ks training
    // vectors as seeds.
    val train = collectTrainingSet(if (trainOn == null) all else trainOn, ks)
    val codebooks = (0 until m).flatMap { sub =>
      val rows = train.map(v =>
        java.util.Arrays.copyOfRange(v, math.min(sub * sd, v.length),
          math.min((sub + 1) * sd, v.length)))
      val (ids, cs) = LocalKernels.lloyd(rows, ks, iters, cosine = false)
      ids.indices.map(i => Row(sub, ids(i), cs(i)))
    }
    val cents = all.sparkSession.createDataFrame(
      java.util.Arrays.asList(codebooks: _*),
      StructType(Seq(
        StructField("sub_id", IntegerType, nullable = false),
        StructField("cluster", IntegerType),
        StructField("centroid", ArrayType(DoubleType), nullable = false)
      ))
    )
    // MAP-ONLY encode (argmaxCell's fold, applied to the PQ argmin):
    // the codebooks fold to ONE row per sub_id carrying all ks
    // (cluster, centroid) entries, and each subvector row picks its
    // code via array_min over a transform — lexicographic struct order
    // (d2 asc, then cluster asc) is the training argmin's tiebreak and
    // the former row_number-over-(vec_id, sub_id) window's (both rank
    // NaN above any double). The window formulation exchanged and
    // globally SORTED all n·m·ks scored rows, sv and centroid payloads
    // included; this shape has NO exchange on the corpus at all.
    // Measured (round 15, interleaved in one JVM, results
    // checksum-identical): fold 1.57/1.41 s vs window 2.04/2.53 s at
    // sf1 (two windows); at sf0.1 fold 1.19 vs window 1.42.
    val folded = cents
      .groupBy("sub_id")
      .agg(collect_list(struct(col("cluster"), col("centroid"))).as("cs"))
    val codes = subv
      .join(broadcast(folded), Seq("sub_id"))
      .select(
        col("vec_id"),
        col("sub_id"),
        array_min(
          transform(
            col("cs"),
            c =>
              struct(
                vectors.dist2(col("sv"), c.getField("centroid")).as("d2"),
                c.getField("cluster").as("cluster")
              )
          )
        ).getField("cluster").as("cluster")
      )
    (subv, cents, codes)
  }

  /** ADC search tail shared by the trained and persisted-index PQ
    * paths: per-query partial-dot lookup table against the
    * codebooks, summed along each code word, heap top-k. */
  private def pqSearch(
      queriesSub: DataFrame,
      cents: DataFrame,
      codes: DataFrame,
      k: Int
  ): DataFrame = {
    val lut = queriesSub
      .join(broadcast(cents), Seq("sub_id"))
      .select(
        col("query_id"),
        col("sub_id"),
        col("cluster"),
        vectors.dot(col("qsv"), col("centroid")).as("pdot")
      )
    topkPerQuery(
      codes
        .join(broadcast(lut), Seq("sub_id", "cluster"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(sum("pdot").as("cos_raw")),
      k,
      scoreName = "adc_score"
    )
  }

  /** PQ write_index analog, completing index persistence across the
    * FAISS families graft implements (IVF already persists via
    * writeIvfIndex): `codebooks/` (sub_id, cluster, centroid) and
    * `codes/` (vec_id, sub_id, cluster). The codes table IS the
    * compressed corpus — m single-byte-range code ids per vector
    * (~m·16 bytes as parquet longs here; a production layout packs
    * them to m bytes), so a 100 TB embedding store searches from a
    * table ~d·4/m/16 times smaller, and re-encoding only happens on
    * the ingestion cadence, never per query session. */
  def writePqIndex(
      lake: Lake,
      dir: String,
      m: Int = 8,
      ks: Int = 16,
      iters: Int = 2
  ): Unit = persist.releasingNewRdds(lake.spark) {
    val (_, cents, codes) = pqTrain(lake, m, ks, iters)
    cents.write.mode("overwrite").parquet(s"$dir/codebooks")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** PQ ANN over a PERSISTED index (read_index + search): identical
    * results to sim07PqAnn at the same build parameters — training is
    * deterministic, so index-then-search equals train-then-search
    * (spec-asserted, the ivfAnnFromIndex contract). Queries re-derive
    * their subvectors from the embeddings table (the index stores
    * CODES, not vectors); scoring is the same broadcast-LUT ADC scan
    * over the codes table. */
  def pqAnnFromIndex(
      lake: Lake,
      dir: String,
      m: Int = 8,
      k: Int = 10,
      nQueries: Int = 10
  ): DataFrame = {
    val spark = lake.spark
    val cents = spark.read.parquet(s"$dir/codebooks")
    val codes = spark.read.parquet(s"$dir/codes")
    val all = vecs(lake)
      .select(col("vec_id"), vectors.l2Normalize(col("v")).as("v"))
      .filter(col("vec_id") < nQueries)
    val dDim = all.select(size(col("v"))).first().getInt(0)
    require(dDim % m == 0, s"dim $dDim not divisible by m=$m")
    val sd = dDim / m
    val queriesSub = all
      .withColumn("sub_id", explode(sequence(lit(0), lit(m - 1))))
      .select(
        col("vec_id").as("query_id"),
        col("sub_id"),
        slice(col("v"), col("sub_id") * sd + 1, lit(sd)).as("qsv")
      )
    pqSearch(queriesSub, cents, codes, k)
  }

  def sim05IvfAnn(
      lake: Lake,
      k: Int = 10,
      nQueries: Int = 10,
      nprobe: Int = 3
  ): DataFrame = {
    val all = vecs(lake)
    val centroids = labelCentroids(all)
    val queries = all
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    // Rank cells per query: |queries| x nlist rows — provably bounded,
    // both sides broadcastable.
    val cellRank = Window
      .partitionBy("query_id")
      .orderBy(col("ccos").desc, col("label"))
    val probed = queries
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", vectors.cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(cellRank))
      .filter(col("crank") <= nprobe)
      .select("query_id", "qv", "qnrm", "label")
    topkPerQuery(
      all
        .join(broadcast(probed), Seq("label"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn(
          "cos_raw",
          vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
        ),
      k
    )
  }

  /** sim08: MUTUAL k-NN graph over the whole embedding corpus — the
    * edge-construction primitive for semantic clustering (each edge
    * (a, b) exists iff b is in a's cosine top-k AND a is in b's):
    * mutuality prunes the asymmetric hub edges that make plain kNN
    * graphs chain unrelated regions together, which is why
    * agglomerative curation pipelines cluster on the mutual graph.
    * Feeds `Dedup.connectedComponentsStar` unchanged (edge schema is
    * the same (src, dst) pair list dedup08 consumes).
    *
    * Scale shape: the exact all-pairs kernel is blocked like sim02 —
    * src side hash-partitioned into `chunks`, dst side replicated
    * once per chunk via an equi-join (no data-dependent broadcast,
    * no BroadcastNestedLoop). Top-k per src is the NATIVE
    * topk_by_score aggregate (graft.plans.TopKByScore), not a
    * row_number window: the window formulation sorts the full n²/
    * chunks candidate slice per map task before discarding rows
    * beyond k — the round-8 sf1 probe measured the sort at 12× the
    * kernel (23 s kernel+sum vs 275 s kernel+window on 4·10^8
    * candidates). The aggregate feeds candidates into a k-bounded
    * heap per src (map-side partial via ObjectHashAggregate), so the
    * exchange carries n·k pairs and nothing is ever sorted.
    * Mutuality is NOT a self-join (that would recompute the
    * quadratic kernel or cache it): orienting each directed edge to
    * (min, max) and counting per undirected pair sees 2 exactly when
    * both directions survived — one map-side-combinable groupBy on
    * an n*k-row frame. At 100 TB the exact kernel swaps for IVF
    * cell-restricted candidates (sim11) with identical downstream
    * top-k/mutuality machinery. */
  def sim08KnnGraph(lake: Lake, k: Int = 5, chunks: Int = 32): DataFrame = {
    val all = vecs(lake)
    val srcs = all
      .select(col("vec_id").as("src"), col("v").as("av"), col("nrm").as("anrm"))
      .withColumn("chunk", pmod(col("src"), lit(chunks)).cast("int"))
    val dsts = all
      .select(col("vec_id").as("dst"), col("v").as("bv"), col("nrm").as("bnrm"))
      .withColumn("chunk", explode(sequence(lit(0), lit(chunks - 1))))
    // Build side = srcs (round 13, the sim11 lesson): each chunk key
    // holds n/chunks src rows but ALL n replicated dst rows — the
    // round-12 hint built the n·chunks replicated frame as the hash
    // relation, which is the memory wall at volume; the partitioned
    // src frame builds in n/chunks-row pieces and the replicated
    // stream probes through without materializing.
    val knn = srcs
      .hint("shuffle_hash")
      .join(dsts, Seq("chunk"))
      .filter(col("src") =!= col("dst"))
      .withColumn(
        "cos_raw",
        vectors.dot(col("av"), col("bv")) / (col("anrm") * col("bnrm"))
      )
      .groupBy("src")
      .agg(graft.plans.TopKByScore(col("cos_raw"), col("dst"), k).as("nb"))
      .select(col("src"), explode(col("nb")).as("nbr"))
      .select(col("src"), col("nbr.id").as("dst"), col("nbr.score").as("cos_raw"))
    knn
      .select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        col("cos_raw")
      )
      .groupBy("src", "dst")
      // cos is symmetric, so max == min across the (at most) two
      // directed copies; count == 2 is the mutuality test.
      .agg(count(lit(1)).as("deg"), round(max("cos_raw"), 4).as("cos"))
      .filter(col("deg") === 2)
      .select("src", "dst", "cos")
      .orderBy("src", "dst")
  }

  /** sim11: ANN-backed mutual k-NN graph — sim08's semantics with the
    * O(n²) kernel replaced by IVF candidate generation (the scale
    * path sim08's Scaladoc names; reference analog:
    * build_embedding_linkage.py:246-273 searching a FAISS index
    * instead of brute force). Every vector probes its `nprobe`
    * nearest coarse cells (sim05's label-centroid quantizer), the
    * candidate set is the vectors whose HOME cell is probed, exact
    * cosine + per-src top-k run within candidates only, and the
    * mutuality fold (orient to (min, max), COUNT == 2) is sim08's
    * verbatim.
    *
    * The quantizer is the TRAINED k-means one (sim06), not sim05's
    * label cells: the documents' class labels have no cosine locality
    * on this corpus (≈9% of top-5 neighbors share a label — measured;
    * labels are semantic, cells must be geometric), while Lloyd cells
    * partition the sphere by construction.
    *
    * Scale shape: the corpus never meets itself — the only
    * corpus×corpus contact is an EQUI-join keyed on the cell id, so
    * per-vector candidate volume is ~nprobe/nlist of the corpus, and
    * total kernel work is nprobe/nlist · n² instead of n² (with
    * nlist grown as √n the kernel is ~n^1.5). Probe ranking is
    * |corpus| × nlist against a BROADCAST k-row centroid frame;
    * top-k stays a partial WindowGroupLimit so the shuffle carries
    * n·k rows. Recall vs the exact sim08 graph is spec-asserted
    * (eval02's machinery); sim08 remains the exact oracle kernel.
    *
    * Recall note (measured, sf0.001): this synthetic corpus is
    * near-uniform on the sphere (sim03's parameter note — max
    * pairwise cosine ≈ 0.51, no cluster structure), so edge recall
    * tracks probe COVERAGE: 0.32/0.40/0.51/0.62/0.73 at nprobe
    * 2/3/4/5/6 of 10 cells — slightly above the nprobe/nlist
    * coverage fraction, which is the information-theoretic limit
    * when there is no locality to exploit. The spec asserts exactly
    * that (recall > coverage, full probe ≡ exact sim08). On real
    * clustered embedding spaces the same machinery reaches high
    * recall at small nprobe/nlist; tune per corpus. */
  /** `nlist <= 0` requests AUTO-nlist = ⌈√N⌉ (dedup11's auto-k rule,
    * and the source of the n^1.5 kernel claim above): a FIXED nlist
    * silently re-quadratifies the kernel as the corpus grows — at
    * nlist=10 and a billion vectors each probe scans nprobe/10 of
    * everything. √N keeps cell count and expected cell size both at
    * √N for one count() over the checkpointed frame. The round-8 sf1
    * sweep measured exactly this failure: the entry originally ran
    * nlist=10, so at 20k vectors each probe scanned 40% of the
    * corpus and the "ANN" ran at 0.4× the exact kernel — the entry
    * now registers with nlist=0 (auto), and the DuckDB oracle
    * computes ⌈√N⌉ with a scalar subquery instead of a literal. The
    * signature default stays 10 for the spec fixtures, whose
    * full-probe/recall assertions pin against a known cell count. */
  def sim11KnnGraphAnn(
      lake: Lake,
      k: Int = 5,
      nprobe: Int = 4,
      nlist: Int = 10,
      iters: Int = 2,
      salts: Int = 32
  ): DataFrame = {
    // all IS checkpointed (one job): the training collect and the
    // scoring pass both read it, and re-decoding the parquet scan per
    // reference measured SLOWER than the one checkpoint job it saves.
    val all = vecs(lake).localCheckpoint()
    val nlistEff = resolveNlist(all, nlist)
    val cents = kmeans(all, nlistEff, iters)
    // ONE centroid-scoring pass serves both roles: rank 1 is the home
    // assignment (argmaxCell's tiebreak — best ccos, then lowest
    // cluster), ranks 1..nprobe are the probe set. Materialized once
    // (narrow: id + cluster + vector) because two consumers read it.
    //
    // MAP-ONLY top-nprobe (round 15, the PQ-fold move extended from
    // argmin to arg-top-n): the former row_number() over
    // (vec_id)(ccos desc, cluster) exchanged and globally sorted all
    // n·nlist scored rows WITH their v payloads — at auto-⌈√N⌉ nlist
    // that exchange is n^1.5 rows of vectors, the single largest
    // shuffle in the query. The centroids fold to one broadcast row;
    // each vector sorts its own nlist-entry score array locally and
    // keeps the top nprobe: reverse(array_sort(struct(ccos, -cluster,
    // cluster))) is exactly the window's (ccos desc, cluster asc)
    // order including the NaN-first-under-desc rule (ascending sort
    // puts NaN last; reversed, first), and posexplode's pos+1 is
    // row_number. The PQ encode's fold-vs-window A/B pinned the trade
    // at two SFs; sim11's standalone min-of-5 read 2.40 s before /
    // 1.98 s after across windows (suite point 2.12), and the
    // exchange the fold deletes grows as n^1.5 · |v| while the fold's
    // cost stays the same n·nlist scorings the window already paid.
    val nprobeEff = math.max(nprobe, 1)
    val centRow = cents
      .agg(collect_list(struct(col("cluster"), col("centroid"))).as("cs"))
    val scored = all
      .crossJoin(broadcast(centRow))
      .withColumn(
        "ranked",
        slice(
          reverse(
            array_sort(
              transform(
                col("cs"),
                c =>
                  struct(
                    vectors.cosine(col("v"), c.getField("centroid")).as("ccos"),
                    negate(c.getField("cluster")).as("negc"),
                    c.getField("cluster").as("cluster")
                  )
              )
            )
          ),
          1,
          nprobeEff
        )
      )
      .select(
        col("vec_id"),
        col("v"),
        col("nrm"),
        posexplode(col("ranked")).as(Seq("pos", "w"))
      )
      .select(
        col("vec_id"),
        col("w.cluster").as("cluster"),
        (col("pos") + 1).as("crank"),
        col("v"),
        col("nrm")
      )
      .localCheckpoint(false)
    // SALTED cell join: `cluster` alone has only nlist distinct
    // values, so an unsalted equi-join caps parallelism at nlist
    // tasks whatever the cluster size. Salt by a hash of the HOME
    // side's id and replicate the probe side once per salt — bounded
    // S× replication of the (nprobe · n)-row probe frame, and the
    // kernel fans out across nlist × salts tasks. The corpus still
    // only ever meets itself through the (cluster, salt) equi-join.
    //
    // ADAPTIVE salt count (round 13): salting exists to fan the key
    // space out past the core count, so it must SHRINK as nlist
    // grows — at auto-nlist (⌈√N⌉, 1.4k cells at sf10) the fixed ×32
    // replication was pure shuffle amplification: 256M wide probe
    // rows ≈ 140 GB through the exchange, and the suite run's hash
    // build could not acquire memory (bench_sf10 round-13 failure).
    // Enough salts for ~4 tasks per core at this nlist, never more
    // than asked; results are salt-invariant (spec: ANN graph equals
    // the exact graph at full probe, any salts).
    val saltsEff = math.max(1, math.min(salts, math.ceil(
      4.0 * all.sparkSession.sparkContext.defaultParallelism / nlistEff
    ).toInt))
    val cells = scored
      .filter(col("crank") === 1)
      .select(
        col("vec_id").as("dst"), col("cluster"),
        col("v").as("bv"), col("nrm").as("bnrm"),
        pmod(col("vec_id"), lit(saltsEff)).cast("int").as("salt"))
    val probed = scored
      .select(col("vec_id").as("src"), col("cluster"),
        col("v").as("av"), col("nrm").as("anrm"))
      .withColumn("salt", explode(sequence(lit(0), lit(saltsEff - 1))))
    // top-k per src via the native bounded-heap aggregate (sim08's
    // rewiring rationale — no candidate-stream sort, n·k exchange).
    // Build side = cells (round 13): the home frame is exactly n rows
    // and (cluster, salt)-partitioned, while the probe frame is the
    // replicated nprobe·n·salts stream — the round-12 hint built the
    // REPLICATED side and hit the memory wall above.
    val knn = cells
      .hint("shuffle_hash")
      .join(probed, Seq("cluster", "salt"))
      .filter(col("src") =!= col("dst"))
      .withColumn(
        "cos_raw",
        vectors.dot(col("av"), col("bv")) / (col("anrm") * col("bnrm"))
      )
      .groupBy("src")
      .agg(graft.plans.TopKByScore(col("cos_raw"), col("dst"), k).as("nb"))
      .select(col("src"), explode(col("nb")).as("nbr"))
      .select(col("src"), col("nbr.id").as("dst"), col("nbr.score").as("cos_raw"))
    knn
      .select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        col("cos_raw")
      )
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("deg"), round(max("cos_raw"), 4).as("cos"))
      .filter(col("deg") === 2)
      .select("src", "dst", "cos")
      .orderBy("src", "dst")
  }

  /** sim09: PREFIX-DIMENSION prefilter + exact rerank — the
    * coarse-then-refine ANN pattern (FAISS's two-stage
    * refine/RFlat idiom; also how Matryoshka-style truncatable
    * embeddings are served): stage 1 ranks by cosine over only the
    * FIRST `prefixDims` dimensions and keeps `overfetch` candidates
    * per query, stage 2 fetches the candidates' FULL vectors by id
    * and reranks exactly, returning top-k.
    *
    * The scale story is bandwidth: the stage-1 scan reads and
    * shuffles d/prefixDims (here 4×) fewer vector bytes — at 100 TB
    * the prefix columns are a separate narrow parquet projection, so
    * the corpus-wide pass touches a quarter of the data, and full
    * 64-dim vectors are fetched for only |queries| × overfetch rows
    * through the id equi-join (never carried through the prefilter
    * window). Recall is governed by overfetch/k and how much mass the
    * leading dims carry — exact on the head by construction when the
    * true neighbor's prefix rank is within overfetch; eval02's
    * recall harness applies unchanged. */
  def sim09PrefixRerank(
      lake: Lake,
      k: Int = 10,
      nQueries: Int = 10,
      prefixDims: Int = 16,
      overfetch: Int = 50
  ): DataFrame = {
    val all = vecs(lake)
    val pre = all
      .select(col("vec_id"), slice(col("v"), 1, prefixDims).as("vp"))
      .withColumn("pnrm", vectors.norm(col("vp")))
    val qPre = pre
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        col("vp").as("qvp"),
        col("pnrm").as("qpnrm")
      )
    // stage-1 prefilter: per-query top-`overfetch` on prefix cosine —
    // the heap aggregate again; candidate ids only, vectors never
    // carried
    val candidates = pre
      .join(broadcast(qPre), col("vec_id") =!= col("query_id"))
      .withColumn(
        "pcos",
        vectors.dot(col("qvp"), col("vp")) / (col("qpnrm") * col("pnrm"))
      )
      .groupBy("query_id")
      .agg(graft.plans.TopKByScore(col("pcos"), col("vec_id"), overfetch).as("nb"))
      .select(col("query_id"), explode(col("nb")).as("nbr"))
      .select(col("query_id"), col("nbr.id").as("vec_id"))
    val qFull = all
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    topkPerQuery(
      candidates
        .join(all.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
        .join(broadcast(qFull), Seq("query_id"))
        .withColumn(
          "cos_raw",
          vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
        ),
      k
    )
  }

  /** sim10: SCALAR-QUANTIZATION ANN — FAISS's IndexScalarQuantizer
    * QT_8bit with asymmetric distance (full-precision query against
    * 8-bit-reconstructed database vectors). Train = one per-dimension
    * (min, max) pass; encode = affine-map each coordinate into 0..255;
    * search ranks by cosine between the raw query and the decoded
    * reconstruction. Completes the quantization spectrum between sim01
    * (no compression) and sim07 (PQ: 8 subspace codes/vector): SQ8
    * keeps one code PER DIMENSION, so it is 4× smaller than float32
    * with far better fidelity than PQ — the FAISS default when memory,
    * not compute, is the binding constraint.
    *
    * Scale shape: training shuffles only per-partition partial
    * (dim, min, max) triples (map-side combine — #partitions × d rows,
    * never the corpus); the d-row stats frame broadcasts back, so
    * encoding is map-only. The scan side streams once against the
    * broadcast query block exactly like sim01's kernel — at 100 TB the
    * stored table is the int8 codes plus one d-row header, quartering
    * scan bandwidth the way sim09 quarters it by truncation. Every
    * step is deterministic arithmetic, so the DuckDB oracle replays it
    * end-to-end (no recall tolerance needed). */
  def sim10SqAnn(lake: Lake, k: Int = 10, nQueries: Int = 10): DataFrame = {
    val (stats, codes) = sqTrain(lake)
    sqSearch(lake, stats, codes, k, nQueries)
  }

  /** SQ8 training core shared by sim10SqAnn and the persisted-index
    * path: per-dimension (lo, hi) ranges as ONE broadcastable row,
    * and the uint8 code arrays. */
  private[graft] def sqTrain(lake: Lake): (DataFrame, DataFrame) = {
    val all = vecs(lake)
    val mm = all
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(min("x").as("lo"), max("x").as("hi"))
    // one broadcastable row: (lo, hi) arrays aligned by dimension
    val stats = mm
      .agg(collect_list(struct(col("i"), col("lo"), col("hi"))).as("s"))
      .select(
        transform(array_sort(col("s")), e => e("lo")).as("lo"),
        transform(array_sort(col("s")), e => e("hi")).as("hi")
      )
    val codes = all
      .crossJoin(broadcast(stats))
      .withColumn("rng", zip_with(col("hi"), col("lo"), (h, l) => h - l))
      // code c_d = round((x_d - lo_d) / rng_d * 255); a constant
      // dimension (rng 0) encodes 0 and reconstructs exactly to lo_d
      .withColumn(
        "code",
        zip_with(
          zip_with(col("v"), col("lo"), (x, l) => x - l),
          col("rng"),
          (y, r) => when(r > 0, round(y / r * 255)).otherwise(0.0).cast("long")
        )
      )
      .select(col("vec_id"), col("code"))
    (stats, codes)
  }

  /** Decode + brute-force tail shared by the trained and
    * persisted-index SQ paths. */
  private def sqSearch(
      lake: Lake,
      stats: DataFrame,
      codes: DataFrame,
      k: Int,
      nQueries: Int
  ): DataFrame = {
    val all = vecs(lake)
    val enc = codes
      .crossJoin(broadcast(stats))
      .withColumn("rng", zip_with(col("hi"), col("lo"), (h, l) => h - l))
      .withColumn(
        "dec",
        zip_with(
          zip_with(col("code"), col("rng"), (c, r) => c / 255.0 * r),
          col("lo"),
          (a, l) => a + l
        )
      )
      .select(col("vec_id"), col("dec"))
      .withColumn("dnrm", vectors.norm(col("dec")))
    val queries = all
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    topkPerQuery(
      enc
        .join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .withColumn(
          "cos_raw",
          vectors.dot(col("qv"), col("dec")) / (col("qnrm") * col("dnrm"))
        ),
      k,
      scoreName = "cos_sq"
    )
  }

  /** SQ8 write_index analog: `params/` (one row of per-dimension lo
    * and hi arrays) and `codes/` (vec_id, uint8-range code array) —
    * the codes table is the 4x-compressed corpus (8 bits/dim vs
    * float32), re-encoded only on the ingestion cadence. Completes
    * parquet index persistence across every quantizing family graft
    * implements: IVF (writeIvfIndex), PQ (writePqIndex), SQ8. */
  def writeSqIndex(lake: Lake, dir: String): Unit =
    persist.releasingNewRdds(lake.spark) {
      val (stats, codes) = sqTrain(lake)
      stats.write.mode("overwrite").parquet(s"$dir/params")
      codes.write.mode("overwrite").parquet(s"$dir/codes")
    }

  /** SQ8 ANN over a PERSISTED index: identical results to sim10SqAnn
    * (deterministic encoding; spec-asserted). */
  def sqAnnFromIndex(
      lake: Lake,
      dir: String,
      k: Int = 10,
      nQueries: Int = 10
  ): DataFrame = {
    val spark = lake.spark
    val stats = spark.read.parquet(s"$dir/params")
    val codes = spark.read.parquet(s"$dir/codes")
    sqSearch(lake, stats, codes, k, nQueries)
  }

  /** sim12: EXACT radius (range) search — FAISS `range_search`
    * (the API sibling of the `search` top-k the rest of the family
    * covers; reference: build_embedding_linkage.py:246-273 uses the
    * top-k form, the range form is the other half of the same index
    * API): for each query, EVERY corpus vector with cosine >= radius,
    * not a fixed k.
    *
    * Scale design — cone pruning on the IVF cells, exactness kept.
    * Top-k pruning arguments don't apply (no candidate budget), but
    * the triangle inequality on the sphere does: for a member x of
    * cell c, angle(q,x) >= angle(q,c) - max_angle(c), where
    * max_angle(c) = acos(min member-centroid cosine) is the cell's
    * cone aperture, recorded at assignment time. A (query, cell) pair
    * whose lower bound exceeds acos(radius) provably contains no
    * result, so the cell is skipped WITHOUT scanning members — unlike
    * the ANN family this prune loses nothing (spec + oracle assert
    * exact equality with brute force). Plan shape: centroids + cell
    * bounds + surviving (query, cell) pairs are all <= nQueries*nlist
    * rows and broadcast; the corpus makes two map-only passes (one
    * for the cone bounds — the index-build half, persistable like
    * writeIvfIndex — one for the probe) with NO corpus-sized shuffle
    * in either. On a clustered real embedding space the
    * apertures are narrow and most of the grid prunes; this
    * near-uniform synthetic sphere is the worst case (apertures
    * ~90 deg, little pruning), which exercises the exactness contract
    * rather than the speedup. The prune test runs in cosine space
    * with a 1e-6 slack and a degeneracy guard (derivation at the
    * filter below) so float noise can only widen the scan, never
    * drop a qualifying cell.
    *
    * Cell provenance is a free knob, exactly as in the IVF family:
    * `nlist = 0` (default) partitions by the existing label column
    * (sim05's cells — zero training cost, one centroid aggregation),
    * `nlist > 0` trains a k-means quantizer (sim06's cells). The
    * result set is IDENTICAL either way (spec-pinned) because the
    * prune is exact for ANY cell layout — measured, the label path
    * cuts the sf0.1 wall time ~2x by deleting the train's checkpoint
    * job floors. */
  def sim12RangeSearch(
      lake: Lake,
      radius: Double = 0.3,
      nQueries: Int = 10,
      nlist: Int = 0,
      iters: Int = 3
  ): DataFrame = {
    val all = vecs(lake)
    // Assignment PARTITIONS only — the cone reference point is always
    // the assigned cell's member-mean centroid (computed below), so
    // the bound is sound for any cell provenance. Label cells:
    // cluster = label, zero assignment cost. Trained cells: the
    // shared map-only argmaxCell (broadcast centroid row, one
    // transform + array_max pass, zero corpus exchange).
    val assigned = (if (nlist <= 0) {
      all.withColumn("cluster", col("label").cast("long"))
    } else {
      argmaxCell(all, kmeans(all, nlist, iters), Seq("v", "nrm"))
    }).select(col("vec_id"), col("v"), col("nrm"), col("cluster"))
    // the cone reference point: each cell's member-mean centroid —
    // one aggregation to k rows, checkpointed for its two consumers
    // (the bound pass and the query grid)
    val cellCents = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cluster", "pos")
      .agg(avg("x").as("c"))
      .groupBy("cluster")
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")
        ).as("centroid")
      )
      .localCheckpoint()
    // per-cell cone aperture: min member cosine to the cell mean.
    // The ccos attach is a broadcast hash join (map-only); the
    // aggregation shuffles only k partial rows.
    val bounds = assigned
      .join(broadcast(cellCents), "cluster")
      .withColumn("ccos", vectors.cosine(col("v"), col("centroid")))
      .groupBy("cluster")
      .agg(min("ccos").as("min_ccos"))
    val queries = all
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    // nQueries x ncells grid, pruned by the cone bound — broadcastable.
    //
    // The bound in COSINE space, not angle space: pruning is sound iff
    // angle(q,c) > maxang(c) + acos(r'), where r' = radius - 5e-5
    // (admission tests the ROUNDED cosine, which can accept a raw
    // value up to half a 4dp ulp below the radius, so the cone must
    // keep any cell that could hold such a pair). Taking cos of both
    // sides (valid while the RHS angle <= pi, i.e. min_ccos > -r'):
    //   prune  <=>  qccos < min_ccos*r' - sqrt(1-min_ccos^2)*sqrt(1-r'^2)
    // The earlier acos-space form compared angles with a 1e-9 slack,
    // but d(acos)/dx = -1/sqrt(1-x^2) amplifies an ~1e-15 cosine
    // error to ~1e-7 as ccos -> 1, overrunning the slack. Here the
    // only nonlinearity is sqrt(1-min_ccos^2), so pruning is simply
    // made ineligible in its degenerate region (min_ccos > 1-1e-6, a
    // near-point cell — cheap to scan, never worth a risky prune);
    // outside it sqrt's derivative is <= ~7e2, worst-case amplified
    // error ~1e-10, and the 1e-6 cosine-space slack dominates it by
    // four orders of magnitude. Float noise can only widen the scan,
    // never drop a qualifying cell — the exactness contract holds.
    val rp = radius - 5e-5
    val sinRp = math.sqrt(1.0 - rp * rp)
    val prune =
      col("min_ccos") > lit(-rp) && col("min_ccos") < lit(1.0 - 1e-6) &&
        col("qccos") <
        col("min_ccos") * lit(rp) -
        sqrt(lit(1.0) - col("min_ccos") * col("min_ccos")) * lit(sinRp) -
        lit(1e-6)
    val qcells = queries
      .crossJoin(broadcast(cellCents.join(bounds, "cluster")))
      .withColumn("qccos", vectors.cosine(col("qv"), col("centroid")))
      .filter(!prune)
      .select(col("cluster"), col("query_id"), col("qv"), col("qnrm"))
    assigned
      .join(broadcast(qcells), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn(
        "cos_raw",
        vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
      )
      // compare on the ROUNDED value (sim02's discipline): the
      // admission test and the emitted column are then the same
      // number in both engines, so a borderline pair can't be
      // admitted by one engine and excluded by the other
      .filter(round(col("cos_raw"), 4) >= radius)
      .select(
        col("query_id"),
        col("vec_id"),
        round(col("cos_raw"), 4).as("cos")
      )
      .orderBy("query_id", "vec_id")
  }
}
