package graft

import graft.catalog.Lake
import graft.operators._
import org.apache.spark.sql.execution.{
  InputAdapter, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{
  AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that make these operators
  * survive a 100x scale-up. A regression here (a lost pushdown, a
  * dim join degrading to shuffle, an accidental cartesian product)
  * is a performance bug even while results stay correct.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val lake = Lake(spark, sfDir)

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** A physical node's children, seen through AQE's wrappers. */
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec        => Seq(q.plan)
    case r: ReusedExchangeExec    => Seq(r.child)
    case _                        => p.children
  }

  private def all(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(all)

  /** The first operator at or under `p` that is not a sort, a
    * projection, an exchange or a codegen/AQE wrapper: what a window
    * over `p` actually reads. */
  private def throughWrappers(p: SparkPlan): SparkPlan = p match {
    case _: SortExec | _: ProjectExec | _: Exchange | _: WholeStageCodegenExec |
        _: InputAdapter | _: AQEShuffleReadExec | _: QueryStageExec |
        _: ReusedExchangeExec =>
      throughWrappers(children(p).head)
    case _ => p
  }

  /** What each WindowExec without a partition key in df's plan reads
    * (one task sorts that whole input). */
  private def globalWindowInputs(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] =
    all(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => throughWrappers(w.child)
    }

  test("q01: range filter is pushed to the parquet scan") {
    val p = plan(Relational.q01PricingSummary(lake))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("q06: all predicates pushed, projection pruned") {
    val p = plan(Relational.q06RevenueForecast(lake))
    assert(p.contains("PushedFilters:") && p.contains("l_discount"), p)
    // projection pruning: untouched wide columns must not be read
    assert(!p.contains("l_returnflag"), p)
  }

  test("q05: dims join as broadcast (hinted or AQE-chosen), no cartesian") {
    // Scaling dims (customer/supplier) carry no forced hint — AQE picks
    // broadcast at this SF. AQE finalizes the physical join choice only
    // on execution, so run the query before inspecting the plan.
    val df = Relational.q05RegionVolume(lake)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim02/dedup06: exact similarity joins are equi-joins, no BNLJ") {
    val p1 = plan(Similarity.sim02ThresholdJoin(lake))
    assert(!p1.contains("BroadcastNestedLoop"), p1)
    assert(!p1.contains("CartesianProduct"), p1)
    val p2 = plan(Dedup.dedup06EmbeddingNearDup(lake))
    assert(!p2.contains("BroadcastNestedLoop"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("salted join equals the plain join and stays an equi-join") {
    val fact = lake.orders
    val dim = lake.customer.withColumnRenamed("c_custkey", "o_custkey")
    val salted = Skew.saltedJoin(fact, dim, "o_custkey", "o_orderkey", salts = 8)
    val plain = fact.join(dim, "o_custkey")
    // full result-set equality, not just cardinality
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("o_orderkey"), r.getAs[String]("c_name"))
    assert(salted.collect().map(key).sorted.toSeq ==
      plain.collect().map(key).sorted.toSeq)
    val p = salted.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("txt13/nst03: scans are column-pruned to the touched columns") {
    val p1 = plan(TextAnalysis.txt13PiiRedaction(lake))
    // documents is (doc_id, text, lang, source, n_chars): only the
    // first two should reach the scan
    assert(p1.contains("ReadSchema") && !p1.contains("n_chars"), p1)
    val p2 = plan(Nested.nst03TypeWordsUnnest(lake))
    assert(!p2.contains("p_retailprice"), p2)
  }

  test("dedup03: no cartesian/nested-loop join anywhere") {
    val p = plan(Dedup.dedup03NgramJaccard(lake))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("dedup04: candidate generation is equi-join based") {
    val p = plan(Dedup.dedup04MinhashLsh(lake))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup10: df-capped containment index joins are all equi-joins") {
    val p = plan(Dedup.dedup10Containment(lake))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("q04/q10: micro-join kernels are sort-free shuffled-hash shapes") {
    // Round-13 kernels (BASELINE round 13, q04/q10 decade closure,
    // sf30): q04 builds the SMALL date-filtered orders side and
    // probes raw
    // lineitem keys (inner SHJ BuildLeft + countDistinct — the only
    // expressible small-side-build semi join; LeftSemi BuildLeft
    // doesn't exist in Spark 4.1); q10 aggregates by the long custkey
    // BEFORE the customer attach and joins sort-free. A SortMergeJoin
    // reappearing in either plan is the regression these pin out —
    // the round-12 SMJ forms sorted 45M-row sides at sf30.
    val p4 = plan(Relational.q04OrderPriority(lake))
    assert(p4.contains("ShuffledHashJoin") && p4.contains("BuildLeft"), p4)
    assert(!p4.contains("SortMergeJoin"), p4)
    val p10 = plan(Relational.q10ReturnedItems(lake))
    assert(!p10.contains("SortMergeJoin"), p10)
    // the customer-level aggregate must run BEFORE the customer join:
    // the aggregate's child subtree may not touch the customer scan
    val agg = Relational
      .q10ReturnedItems(lake)
      .queryExecution
      .optimizedPlan
      .collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      .get
    assert(!agg.toString.contains("c_name"), agg.toString)
  }

  test("sim08/sim11: chunked kernels build the partitioned frame, not the replicated stream") {
    // Round-13 defect class (caught by the first sf10 suite run): a
    // fan-out join whose shuffle-hash hint makes the REPLICATED side
    // the hash relation fails allocation at volume — the build side
    // must be the frame that is partitioned by the join key (n/chunks
    // rows per task), with the replicated stream probing through.
    // Both kernels hint their left (partitioned) side: BuildRight
    // reappearing here means the hint moved back to the big side.
    val p8 = plan(Similarity.sim08KnnGraph(lake))
    assert(p8.contains("ShuffledHashJoin") && p8.contains("BuildLeft"), p8)
    assert(!p8.contains("BuildRight"), p8)
    val p11 = plan(Similarity.sim11KnnGraphAnn(lake))
    assert(p11.contains("ShuffledHashJoin") && p11.contains("BuildLeft"), p11)
  }

  test("q14: the part dim joins as broadcast") {
    val p = plan(Relational.q14PromoRevenue(lake))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mm02: frame sampling reads only doc_id and text") {
    val p = plan(graft.multimodal.Multimodal.mm02FrameSample(lake))
    // documents is (doc_id, text, lang, source, n_chars): the frame
    // slicer must not drag the untouched metadata columns into the scan
    assert(p.contains("ReadSchema") && !p.contains("n_chars"), p)
    assert(!p.contains("source"), p)
  }

  test("mm03: native byte decode — no hex/split/conv chain in the plan") {
    // the decode must be the one-pass AudioWindowFeatures expression
    // over the payload bytes; a hex/regex-split/conv re-materialization
    // (the 3.2x-DuckDB allocation storm) is a regression
    val p = plan(graft.multimodal.Multimodal.mm03AudioFeatures(lake))
    assert(p.contains("audio_window_features"), p)
    assert(!p.contains("split(") && !p.contains("hex(") && !p.contains("conv("), p)
  }

  test("txt23: scoring is one map-only scan — native fold, no stream join, no window") {
    // train happens eagerly (bounded collect, txt15's cap discipline);
    // the returned SCORING plan must be a single documents scan folded
    // through the native BigramModelScore expression — any join,
    // window/lag, or aggregate here means the corpus-pair stream came
    // back. The only legal exchange is the final orderBy's range sort.
    val p = plan(TextAnalysis.txt23BigramLogprob(lake))
    assert(p.contains("bigram_model_score"), p)
    assert(!p.contains("RunningWindowFunction") && !p.contains("lag("), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    // -ln(p) lives in the model build (once per DISTINCT bigram, never
    // per corpus token): no transcendental survives into the scan plan
    assert(!p.contains("ln("), p)
  }

  test("txt20: the quality verdict plans ZERO exchanges") {
    // map-only contract: higher-order functions over the token array,
    // no explode+groupBy — a shuffle appearing here is a regression
    val p = plan(TextAnalysis.gopherVerdict(lake.documents))
    assert(!p.contains("Exchange"), p)
  }

  test("xref02: the unification is one hash aggregate — no joins, one key exchange") {
    // the tagged-union form replaced a spine distinct + three left
    // joins (four shuffles of the same entity key); a Join or a second
    // hashpartitioning exchange reappearing here is the regression
    val p = plan(Linkage.xref02UnifiedEntities(lake))
    assert(!p.contains("Join"), p)
    val keyExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(keyExchanges == 1, s"expected exactly one key exchange:\n$p")
  }

  test("samp14: assignment is map-only — no join; only the cluster window and sort exchange") {
    // the quantizer trains eagerly on the driver; the returned plan must
    // assign through the broadcast codebook handle (codebook_nearest) —
    // no join at all: a hash/merge join against a per-centroid table
    // means the n×k scored stream came back, a nested-loop join means
    // the centroid-list fold did. The corpus shuffles only for the
    // per-cluster rank window and the final orderBy, and no exchange
    // moves centroids (no single-partition fold, no broadcast).
    val p = plan(Similarity.samp14ClusterBalance(lake))
    assert(p.contains("codebook_nearest"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("SinglePartition") && !p.contains("BroadcastExchange"), p)
    val corpusExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))
    assert(corpusExchanges <= 2, s"expected window+sort only:\n$p")
  }

  test("samp14 keptOnly: k-bounded heap aggregate — no window, no full-tail sort") {
    // the 100 TB form must never rank the full corpus: the per-cluster
    // top-quota rides the TopKByScore ObjectHashAggregate (map-side
    // partial heaps; the exchange carries |clusters|·quota pairs), so
    // a WindowExec — whose partition count is `nlist` and whose input
    // is every vector — reappearing here is the scale regression.
    val p = plan(Similarity.samp14ClusterBalance(lake, keptOnly = true))
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate") && p.contains("topk_by_score"), p)
    // assignment stays the map-only broadcast argmax fold
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"), p)
  }

  test("xref11: the reach matrix joins broadcast; no cartesian") {
    // the topic->domain map rides a broadcast hash join and the only
    // nested-loop is xref07's bounded k-row lexicon crossJoin — a
    // CartesianProduct anywhere means a corpus-sized pair space
    val p = plan(Linkage.xref11OntologyReach(lake))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("evt08: per-type stats join broadcasts; no cartesian") {
    val p = plan(Events.evt08DailyAnomalies(lake))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ing01/cat02: merge and diff stay equi-joins end to end") {
    val p1 = plan(CatalogOps.ing01Upsert(lake))
    assert(!p1.contains("CartesianProduct"), p1)
    assert(!p1.contains("BroadcastNestedLoop"), p1)
    val p2 = plan(CatalogOps.cat02SnapshotDiff(lake))
    assert(!p2.contains("CartesianProduct"), p2)
    assert(!p2.contains("BroadcastNestedLoop"), p2)
  }

  test("txt17: gram linkage is equi-join only downstream of the weight table") {
    val p = plan(Linkage.txt17TfidfCosineLinkage(lake))
    assert(!p.contains("CartesianProduct"), p)
    // The scalar-N cross join lives inside the checkpointed weight
    // table; the downstream norm/dot joins must all be equi-joins.
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("graph04: BGP pattern scans prune on predicate constants") {
    val df = Graph.graph04BgpNationCounts(lake)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
  }

  test("graph07: OPTIONAL plans as a broadcast LEFT join, no cartesian") {
    val p = plan(Graph.graph07OptionalFilter(lake))
    // (constant predicates are folded into branch pruning, so the
    // literal predicate strings don't survive into the physical plan)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim01: query side is broadcast, corpus is not shuffled") {
    val p = plan(Similarity.sim01TopKBruteForce(lake))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("rel16: five window functions share one partitioned WindowExec") {
    val p = plan(Relational.rel16WindowSuite(lake))
    // same partition + order for all five -> Catalyst must fuse them
    // into a single sort + single Window operator (string match: the
    // AQE wrapper hides the node from executedPlan.collect)
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    // and the window is keyed (never the global single-partition frame)
    assert(p.contains("windowspecdefinition(o_custkey"), p)
    assert(p.contains("PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey,200)]"), p)
  }

  test("sim12: probe is a broadcast equi-join; corpus is never shuffled") {
    val p = plan(Similarity.sim12RangeSearch(lake))
    assert(!p.contains("CartesianProduct"), p)
    // the probe joins surviving (query, cell) pairs to the corpus by
    // cluster as a broadcast hash join; the only nested loops are the
    // bounded 1-row centroid-list / k-row grid broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
    // map-only assignment: the corpus is never hash-exchanged on its
    // own key (argmaxCell's groupBy(vec_id) shape would show here)
    assert(!p.contains("hashpartitioning(vec_id"), p)
  }

  test("dedup11: cell pair generation is an equi-join on the cluster id") {
    val p = plan(Dedup.dedup11Semantic(lake))
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the bounded broadcast of k centroids
    // during assignment; the vector-pair join itself must be hashed
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("graph27: the BFS runs in the Pregel kernel below Catalyst — no SQL joins at all") {
    // Round 14: the traversal is the co-partitioned RDD kernel; the
    // SQL plan must be just a scan of its output (ExistingRDD) plus
    // the display projection/sort — a Join/Exchange chain appearing
    // here would mean the kernel regressed to the DataFrame loop.
    val p = plan(Graph.graph27BfsDistances(lake, maxDepth = 2))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("Join"), p)
    // the kernel's output enters SQL at an object-RDD boundary
    // (ExternalRDDScan renders as Scan[obj#...] + SerializeFromObject)
    assert(p.contains("SerializeFromObject"), p)
  }

  test("graph06: the rank loop body is equi-join plus aggregate only") {
    // the DataFrame reference GraphSpec keeps (the kernel's reference
    // semantics and the shape a pure-SQL consumer would run)
    val p = plan(GraphSpec.graph06Pagerank(lake, iters = 2))
    // scalar n_nodes rides a broadcast single-row cross join (the
    // legitimate scalar idiom); anything else cartesian is a bug
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph06 kernel: rank table enters SQL at the object boundary; no SQL join") {
    // the registered form since round 15: the loop lives in the
    // primitive kernel, so the SQL side must see only the final rank
    // RDD (ExternalRDDScan + SerializeFromObject) joined to nothing —
    // a Join or aggregate re-appearing above it means the loop leaked
    // back into the plan
    val p = plan(Graph.graph06Pagerank(lake, iters = 2))
    assert(p.contains("SerializeFromObject"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ing02: SCD2 is one shuffle on the key — no join at all") {
    val p = plan(CatalogOps.ing02Scd2History(lake))
    assert(!p.contains("Join"), p)
    // both window functions share one sort+partition pass
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("rel14: the sketch aggregates with map-side partials") {
    val p = plan(Relational.rel14HeavyHitters(lake))
    // partial_frequent_items_sketch before the exchange, final after —
    // the bounded-buffer contract that makes one pass possible
    assert(p.contains("partial_frequent_items_sketch"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rel02: rank-limit pushes into WindowGroupLimit (bounded per-group heap, no full sort-rank)") {
    // Spark 4's InferWindowGroupLimit turns row_number <= k into a
    // partial+final WindowGroupLimit pair: each map task keeps a
    // k-bounded group buffer instead of rank-scoring every row. Losing
    // this (e.g. by filtering on a derived column the optimizer can't
    // see through) silently reverts to the full window sort at scale.
    val p = plan(Relational.rel02TopNPerGroup(lake))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("txt26: reassembly is aggregate-side — no Window, no cartesian") {
    // the in-order rejoin must come from array_sort(collect_list),
    // sorting each doc's bounded line list inside the aggregate — a
    // per-doc Window.orderBy here would sort the whole exploded
    // corpus per partition key at scale
    val p = plan(TextAnalysis.txt26LineDedup(lake))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("sim08: blocked kernel shuffles (no data-dependent broadcast); top-k is the heap aggregate, no candidate sort") {
    val p = plan(Similarity.sim08KnnGraph(lake))
    // the all-pairs kernel must stay a chunk equi-join — never a
    // BroadcastNestedLoop/cartesian, never a broadcast of the corpus
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    // per-src top-k is the k-bounded heap aggregate with a map-side
    // partial pass (round 8: the row_number window SORTED the full
    // n²/chunks candidate slice per task — measured 12× the kernel
    // at sf1); nothing may sort or window the candidate stream
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_topk_by_score"), p)
    assert(!p.contains("WindowGroupLimit") && !p.contains("WindowExec"), p)
  }

  test("eval05: the whole calibration curve is one aggregation pass — no window, no cartesian") {
    val p = plan(Evaluation.eval05ScoreCalibration(lake))
    // every threshold is a conditional sum in ONE partial-aggregating
    // pass; a per-threshold window or a thresholds-cross-corpus
    // cartesian would re-scan the corpus |grid| times at scale
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("cat04: the z-key is map-only over a broadcast stats row; one aggregate exchange") {
    val p = plan(CatalogOps.cat04ZorderLayout(lake))
    // the only join is the 1-row min/max stats broadcast; the Morton
    // fold itself must never shuffle the table
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("mm05: phash candidates come from the band equi-join, never a cross product") {
    val p = plan(graft.multimodal.Multimodal.mm05PhashNeardup(lake))
    // the corpus meets itself ONLY through the (band_idx, band_val)
    // equi-join; an all-pairs Hamming scan is the quadratic trap the
    // banding exists to avoid
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("band_idx"), p)
  }

  test("eval07: the AUC prefix window runs over score bins, never the corpus") {
    val p = plan(Evaluation.eval07RocAuc(lake))
    // the corpus must collapse to per-distinct-score (np, nn) bins
    // BEFORE the single-partition running-negatives window — a
    // doc-level window would globally sort the corpus at scale
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty, p)
    assert(!windows.exists(w => w.contains("doc_id")), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("graph11/13/14: SPARQL union aligns without cartesians; VALUES broadcasts; MINUS anti-joins") {
    // union branches are independent BGP plans — alignment must not
    // introduce a cartesian or nested-loop join
    val p11 = plan(Graph.graph11SparqlUnion(lake))
    assert(p11.contains("Union"), p11)
    assert(!p11.contains("CartesianProduct") && !p11.contains("BroadcastNestedLoop"), p11)
    // the VALUES constant table is the canonical broadcast side
    val p13 = plan(Graph.graph13SparqlValuesBind(lake))
    assert(p13.contains("BroadcastHashJoin"), p13)
    assert(!p13.contains("CartesianProduct"), p13)
    // MINUS is a single anti join, not a subtraction materialization
    val p14 = plan(Graph.graph14SparqlMinus(lake))
    assert(p14.contains("LeftAnti"), p14)
    assert(!p14.contains("CartesianProduct"), p14)
  }

  test("evt09: the interval join is a bin-bucketed equi-join — no BNLJ, no cartesian") {
    val p = plan(Events.evt09IntervalJoin(lake))
    assert(!p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("samp04: the corpus-wide cumsum window partitions by pid, never global") {
    // the one full-data Window must carry the pid partition key; the
    // only partition-less window runs over |partitions| total rows
    // (the deliberately-tiny offsets frame)
    val p = plan(TextAnalysis.samp04TokenBudget(lake))
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty, p)
    assert(windows.exists(_.contains("pid")), p)
  }

  test("dedup12: incremental probe never broadcasts the index or corpus; all equi-joins") {
    // the cached band index's size estimate sits under the broadcast
    // threshold at test SF — without the shuffle_hash pins the planner
    // broadcasts the FULL index and the full shingle-array corpus
    val p = plan(Dedup.dedup12Incremental(lake))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
    // the only broadcast allowed is the tiny dup_of verdict frame on
    // the final left join; the three inner joins must all shuffle
    assert(p.linesIterator.count(_.contains("ShuffledHashJoin")) >= 3, p)
    assert(!p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("Inner")), p)
  }

  test("samp06: the shuffle deal windows per shard, never globally") {
    val p = plan(TextAnalysis.samp06ShuffleShard(lake))
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty, p)
    // every full-data window carries the shard partition key
    assert(windows.filter(_.contains("row_number")).forall(_.contains("shard")), p)
  }

  test("txt24: the full quality panel plans ZERO exchanges") {
    // one scan -> every curation signal; a shuffle appearing here
    // means a signal regressed to an aggregate formulation
    val p = plan(TextAnalysis.qualityPanel(lake.documents))
    assert(!p.contains("Exchange"), p)
  }

  test("kmeans assignment: map-only — no Window, no sort, no corpus exchange") {
    // The Lloyd argmax runs once per vector per iteration. History of
    // this pin: the row_number formulation globally sorted n x k
    // scored rows; max_by folded k rows to 1 before one exchange; a
    // transform + array_max fold deleted that exchange but still moved
    // the driver-held centroids through a single-partition collect_list
    // exchange and a broadcast exchange. Now the assignment is one
    // kernel call against the broadcast codebook handle: no join, no
    // exchange of any kind and no lambda in the plan. The input is
    // checkpointed, as every caller's is (vecs' float-to-double cast
    // is itself a lambda).
    val all = Similarity.vecs(lake).localCheckpoint()
    val p = plan(Similarity.argmaxCell(all, Similarity.kmeans(all, 3, 1), Seq("v", "nrm")))
    assert(p.contains("codebook_nearest"), p)
    assert(!p.contains("Window"), p)
    assert(!p.linesIterator.exists(l => l.contains("Sort ") && l.contains("true, ")),
      s"global sort found:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"), p)
    assert(!p.contains("lambdafunction"), p)
  }

  test("txt16: the packing cumsum window partitions on (source, shard)") {
    // a per-source-only window serializes a 10-TB source through one
    // task at 100 TB; the shard key must reach the physical Window node
    val p = plan(TextAnalysis.txt16SequencePacking(lake))
    val windowLine = p.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(windowLine.contains("source") && windowLine.contains("shard"),
      s"window not keyed by (source, shard): $windowLine")
  }

  test("graph10: SPARQL-text aggregation plans partial count-distinct, no cartesian") {
    val p = plan(Graph.graph10SparqlAgg(lake))
    assert(p.contains("partial_count(distinct") || p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("embedDocuments is map-only: no Exchange anywhere in the plan") {
    // embedding generation at 100 TB is a pure scan stage; a shuffle
    // appearing here means the mapPartitions picked up an accidental
    // repartition or the projection regressed to an aggregate
    val p = plan(graft.operators.Embedding.embedDocuments(lake.documents))
    assert(!p.contains("Exchange"), p)
  }

  test("whole-stage codegen covers the q01 aggregate") {
    // AQE plans materialize codegen stages only once executed
    val df = Relational.q01PricingSummary(lake)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the executed plan
    assert(p.contains("*(1)") && p.contains("*(2) HashAggregate"), p)
  }

  test("dedup13: hash-keyed index, per-doc array fold, no window, no cartesian") {
    val p = plan(graft.operators.Dedup.dedup13ExactSubstring(lake))
    // the frequency index and semi-join key on the 8-byte window hash,
    // never on a gram string column
    assert(p.contains("shingle_hash_seq"), p)
    assert(!p.contains("array_join"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // span merging is a HOF fold over each doc's sorted position
    // array (embedded in the collect_list aggregate's result
    // projection, so only its absence of machinery is visible) — the
    // lag/running-sum window formulation (two full-stream window
    // passes over a doc_id sort) must not reappear
    assert(p.contains("collect_list"), p)
    assert(!p.linesIterator.exists(_.contains("Window")), p)
  }

  test("dedup13: the corpus-size rule takes each pre-filter path") {
    // (LeftSemi lines, Bloom probe present). The df semi-join is the
    // one LeftSemi of the plain form. The candidate-set semi-join sits
    // inside the persisted gram stream, whose plan prints once under
    // each of its two InMemoryTableScans: 1 + 2. The Bloom path swaps
    // that semi-join for the codegen'd probe.
    def paths(df: org.apache.spark.sql.DataFrame) = {
      val p = plan(df)
      (p.linesIterator.count(_.contains("LeftSemi")),
        p.contains("bloom_might_contain_long"))
    }
    // below preFilterMinChars (256 MB) at test scale: the plain form
    assert(paths(Dedup.dedup13ExactSubstring(lake)) == (1, false))
    assert(
      paths(Dedup.dedup13ExactSubstring(lake, preFilterMinChars = 1L)) == (3, false))
    assert(
      paths(Dedup.dedup13ExactSubstring(
        lake, preFilterMinChars = 1L, maxBroadcastKeys = 2)) == (1, true))
  }

  test("txt14: repetition is scan-shaped — native kernel, no aggregation") {
    // every output column is a per-row function of the token array
    // (total bigrams = len-1, max count = the native TopBigramCount
    // one-pass kernel); the explode+double-groupBy formulation
    // shuffled the corpus-token bigram stream twice for the same rows
    val p = plan(graft.operators.TextAnalysis.txt14Repetition(lake))
    assert(p.contains("top_bigram_count"), p)
    assert(!p.contains("HashAggregate") && !p.contains("explode"), p)
  }

  test("samp09: the per-cell draw window group-limits before the exchange") {
    val df = graft.operators.Dedup.samp09ClusterBalanced(lake)
    val p = plan(df)
    // WindowGroupLimit prunes each map task's slice to its top-m per
    // cluster before shuffling — without it the window sorts and
    // ships the whole corpus per cell
    assert(p.contains("WindowGroupLimit"), p)
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.forall(_.contains("cluster")), p)
  }

  test("rel15: grouping sets is ONE scan through a single Expand — not a union of groupBys") {
    val p = plan(graft.operators.Relational.rel15GroupingSets(lake))
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
    assert("Expand".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("Union"), p)
  }

  test("txt29: hashed classifier is one map-side pass — no join, no aggregate, no explode") {
    val p = plan(TextAnalysis.txt29ModelQuality(lake))
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Generate"), p) // features fold inside the row, never explode
    // the only exchange is the final presentation sort's range partition
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), p)
  }

  test("txt27: char entropy is one map-side pass — no join, no aggregate") {
    val p = plan(TextAnalysis.txt27CharEntropy(lake))
    assert(p.contains("char_info"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    // the only exchange is the final presentation sort's range partition
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), p)
  }

  test("samp13: quota selection is the bounded heap, never a per-stratum sort window") {
    val p = plan(TextAnalysis.samp13ExactQuota(lake))
    assert(p.contains("topk_by_score"), p)
    assert(!p.contains("Window"), p) // no row_number-over-sort fallback
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("eval08: drift monitor reads the corpus once; grid work is bounded") {
    val df = Evaluation.eval08DistDrift(lake)
    df.collect() // AQE finalizes join strategies on execution
    val p = df.queryExecution.executedPlan.toString
    // one (source, bucket) aggregation feeds marginals and the grid —
    // the checkpointed counts frame appears as scans, never a second
    // documents read
    assert(!p.contains("CartesianProduct"), p)
    assert("Scan parquet".r.findAllIn(p).isEmpty, // checkpoint-only inputs
      s"corpus re-scanned:\n$p")
  }

  test("evt11: the curve never runs a corpus-wide window (shard discipline holds)") {
    val p = plan(Events.evt11WatermarkCurve(lake))
    // the lateness frame's in-shard window partitions by shard; the
    // only unpartitioned window is the S-row shard-header prefix max
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.exists(_.contains("shard")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("evt10: its one global window reads the per-shard aggregate, never the events") {
    // the high-water mark's prefix max runs in one task by design; its
    // input is one row per arrival shard (6h of arrival time), so the
    // "No Partition Defined" WARN it logs is benign
    val df = Events.evt10LatenessProfile(lake)
    val inputs = globalWindowInputs(df)
    assert(inputs.size == 1, s"expected 1 unpartitioned Window:\n${plan(df)}")
    inputs.head match {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        assert(a.groupingExpressions.map(_.name) == Seq("shard"),
          s"the global window reads an aggregate not keyed on shard:\n${plan(df)}")
      case other => fail(s"the global window reads ${other.nodeName}, not the shard aggregate:\n${plan(df)}")
    }
  }

  test("samp11: its one global window ranks the LIMIT takeN frame, never the corpus") {
    // the rank is numbered in one task over at most takeN rows; the
    // full schedule is never globally windowed
    val takeN = 37
    val df = TextAnalysis.samp11InterleaveSchedule(lake, takeN)
    val inputs = globalWindowInputs(df)
    assert(inputs.size == 1, s"expected 1 unpartitioned Window:\n${plan(df)}")
    val limit = inputs.head match {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t.limit
      case g: org.apache.spark.sql.execution.GlobalLimitExec            => g.limit
      case other => fail(s"the global window reads ${other.nodeName}, not a limit:\n${plan(df)}")
    }
    assert(limit == takeN, plan(df))
  }

  test("cat05: prune audit never crosses the corpus with the predicate table") {
    val df = CatalogOps.cat05PruneAudit(lake)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the only cross/broadcast-NLJ inputs are bounded frames (the
    // 16-row predicate grid, the 1-row total, the 64-row extents);
    // the corpus-sized Morton frame enters aggregations only
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      s"corpus re-scanned past the checkpoint:\n$p")
  }

  test("sim16: delta assignment is the map-only broadcast fold — the corpus never shuffles") {
    // appendToIvfIndex's scale contract: a delta batch assigns to the
    // FROZEN centroids map-side, through the broadcast codebook handle
    // (samp14's pinned pattern). A join means the n×k scored stream or
    // the centroid fold came back; any exchange means the corpus is
    // shuffling for an already-unique key or the driver-held centroids
    // are travelling through Spark again.
    import org.apache.spark.sql.functions.{col, lit}
    val isDelta = col("vec_id") % 5 === lit(4L)
    val all = Similarity.vecs(lake).localCheckpoint()
    val cents = Similarity.kmeans(all.filter(!isDelta), 10, 3)
    val p = plan(Similarity.argmaxCell(all.filter(isDelta), cents, Seq.empty, keepCos = true))
    assert(p.contains("codebook_nearest"), p)
    assert(!p.contains("Join"), s"a join in the map-only assignment:\n$p")
    assert(!p.contains("Exchange"), s"an exchange in the map-only assignment:\n$p")
    assert(!p.contains("lambdafunction"), p)
  }

  test("txt30: training is one corpus-key exchange; counting collapses map-side") {
    // the label+feature pass fuses into the scan projection, the
    // bucket groupBy collapses map-side (partial HashAggregate BEFORE
    // the exchange, so the shuffle carries ≤ P·dim narrow rows at any
    // corpus size), totals ride a one-row broadcast. A second
    // hashpartitioning exchange or a hash/merge join is the
    // 100 TB regression.
    // the totals branch shares the counts subtree — statically the
    // plan prints the bucket exchange twice; what matters at scale is
    // the EXECUTED plan, where exchange reuse must collapse it to one
    // corpus scan. Run it, then audit.
    val df = TextAnalysis.txt30QualityTrainer(lake)
    df.collect()
    // audit the FINAL adaptive plan only (the AQE dump appends the
    // pre-reuse "Initial Plan", which legitimately shows the subtree
    // twice)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"corpus scanned more than once (exchange reuse lost):\n$p")
    assert(p.contains("ReusedExchange"),
      s"totals branch no longer reuses the bucket exchange:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"), p)
  }

  test("sim14/sim15: no Window, no local centroid scan under an Exchange") {
    // Every use of a trained quantizer runs map-side against its
    // broadcast codebook handle: the probe ranking is codebook_top_cells
    // (it was a row_number Window over queries x broadcast centroids),
    // the ADC table is codebook_dots (it was a broadcast join with the
    // codebooks), and the assignment, residual and encode feed the
    // build. So the final plan holds no Window, and no Exchange of any
    // kind reads a LocalTableScan: centroids the driver holds never
    // travel through a Spark stage.
    import org.apache.spark.sql.execution.LocalTableScanExec
    for (
      df <- Seq(
        Similarity.sim14IvfPq(lake),
        Similarity.sim15IvfPqRefine(lake)
      )
    ) {
      df.collect()
      val root = df.queryExecution.executedPlan
      val p = root.toString
      assert(p.contains("codebook_top_cells") && p.contains("codebook_dots"), p)
      assert(!all(root).exists(_.isInstanceOf[WindowExec]), s"a Window came back:\n$p")
      val shipped = all(root).collect { case e: Exchange => e }
        .filter(e => all(e).exists(_.isInstanceOf[LocalTableScanExec]))
      assert(shipped.isEmpty, s"a LocalTableScan under an Exchange:\n$p")
    }
  }

  test("sim03/09/13/15: the rerank is one id equi-join into the corpus under a broadcast query side") {
    // The shared rerank: candidate ids meet the corpus (the side that
    // carries nrm) in exactly one equi-join on vec_id; above it the
    // query side attaches by query_id as a BroadcastHashJoin, and no
    // BroadcastNestedLoopJoin sits between that join and the root. A
    // candidate stage that kept its presentation sort shows up as a
    // second global sort in sim13/sim15.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.joins.{
      BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    def keys(j: BaseJoinExec) = j.leftKeys.collect { case a: Attribute => a.name }
    def pathsTo(p: SparkPlan, target: SparkPlan): Seq[List[SparkPlan]] =
      if (p eq target) Seq(List(p))
      else children(p).flatMap(pathsTo(_, target)).map(p :: _)
    for ((name, df) <- Seq(
      "sim03" -> Similarity.sim03LshAnn(lake),
      "sim09" -> Similarity.sim09PrefixRerank(lake),
      "sim13" -> Similarity.sim13PqRefine(lake),
      "sim15" -> Similarity.sim15IvfPqRefine(lake)
    )) {
      df.collect()
      val root = df.queryExecution.executedPlan
      val corpusJoins = all(root).collect {
        case j: BaseJoinExec if keys(j) == Seq("vec_id") && j.output.exists(_.name == "nrm") => j
      }
      assert(corpusJoins.size == 1, s"$name: ${corpusJoins.size} candidate-corpus joins:\n$root")
      val above = pathsTo(root, corpusJoins.head).flatten
      assert(above.exists {
        case j: BroadcastHashJoinExec => keys(j) == Seq("query_id")
        case _                        => false
      }, s"$name: the query side is not a broadcast hash join:\n$root")
      assert(!above.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"$name: a BroadcastNestedLoopJoin in the rerank:\n$root")
      if (name == "sim13" || name == "sim15") {
        val sorts = all(root).collect { case s: SortExec if s.global => s }
        assert(sorts.size == 1, s"$name: ${sorts.size} global sorts:\n$root")
      }
    }
  }

  test("upsert: a local batch broadcasts into a left-anti join; the base is scanned once, unshuffled") {
    // A commit's batch is small: the base must stream through one
    // left-anti BroadcastHashJoin, with no Window and no hash Exchange
    // anywhere between its scan and the root. The only shuffle left is
    // the batch's own one-row-per-key de-duplication.
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import spark.implicits._
    val base = lake.orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    val batch = Seq((1L, "1-URGENT", 1.0), (7L, "2-HIGH", 2.0), (99999999L, "3-MEDIUM", 3.0))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val df = CatalogOps.upsert(base, batch, "o_orderkey")
    df.collect()
    // every root-to-leaf path that ends at the base's parquet scan
    def scanPaths(p: SparkPlan): Seq[List[SparkPlan]] = p match {
      case _: FileSourceScanExec => Seq(List(p))
      case _                     => children(p).flatMap(scanPaths).map(p :: _)
    }
    val root = df.queryExecution.executedPlan
    val paths = scanPaths(root)
    assert(paths.size == 1, s"base scanned ${paths.size} times:\n$root")
    assert(all(root).exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftAnti
      case _                        => false
    }, s"no left-anti BroadcastHashJoin:\n$root")
    paths.head.foreach {
      case w: WindowExec => fail(s"Window over the base scan:\n$root")
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        fail(s"hash Exchange over the base scan:\n$root")
      case _ => ()
    }
  }
}
