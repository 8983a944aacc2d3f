package graft

import graft.catalog.Lake
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Empty-corpus robustness: every operator must DEGRADE to an empty
  * (or well-defined) result on an empty lake instead of throwing —
  * the production case is an empty daily delta, a filter that matched
  * nothing, or a brand-new tenant. The trap is driver-side scalar
  * extraction: `agg(max(..)).head().getLong(0)` NPEs when the
  * aggregate over zero rows returns NULL.
  */
class EmptyLakeSpec extends AnyFunSuite {
  import TestSpark._

  /** An empty lake: every table rewritten with limit(0) so schemas
    * (and thus every downstream expression) stay identical. */
  private lazy val emptyDir: String = {
    val src = Lake(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("empty_lake").toString
    Seq(
      "region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings"
    ).foreach { t =>
      src.table(t).limit(0).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }
  private lazy val empty = Lake(spark, emptyDir)

  private def assertEmptyOk(name: String, f: Lake => DataFrame): Unit =
    test(s"$name returns an empty result on an empty lake") {
      assert(f(empty).count() == 0L, name)
    }

  // one representative per module family, weighted toward operators
  // with driver-side scalars or iterative loops
  assertEmptyOk("q01_pricing_summary", Relational.q01PricingSummary)
  assertEmptyOk("rel01_running_total", Relational.rel01RunningTotal)
  assertEmptyOk("rel16_window_suite", Relational.rel16WindowSuite(_))
  assertEmptyOk("txt01_stats", TextAnalysis.txt01Stats)
  assertEmptyOk("txt24_quality_panel", TextAnalysis.txt24QualityPanel(_))
  // the capped vocabulary models read their full-vocabulary totals on
  // the driver: an empty count table sums to NULL
  assertEmptyOk("txt15_unigram_logprob", TextAnalysis.txt15UnigramLogprob(_))
  assertEmptyOk("txt21_dsir_importance", TextAnalysis.txt21DsirImportance(_))
  assertEmptyOk("txt23_bigram_logprob", TextAnalysis.txt23BigramLogprob(_))
  assertEmptyOk("txt25_ccnet_buckets", TextAnalysis.txt25CcnetBuckets(_))
  assertEmptyOk("samp04_token_budget", TextAnalysis.samp04TokenBudget(_))
  assertEmptyOk("samp10_epoch_mixture", TextAnalysis.samp10EpochMixture(_))
  assertEmptyOk("dedup01_exact", Dedup.dedup01Exact)
  assertEmptyOk("dedup04_minhash_lsh", Dedup.dedup04MinhashLsh(_))
  assertEmptyOk("dedup12_incremental", Dedup.dedup12Incremental(_))
  assertEmptyOk("sim01_topk_bruteforce", Similarity.sim01TopKBruteForce(_))
  assertEmptyOk("sim12_range_search", Similarity.sim12RangeSearch(_))
  // both samp14 forms, including the auto-ceil(sqrt(N)) nlist rule on
  // N = 0 (the .max(1) floor) and the kept path's heap aggregate
  assertEmptyOk("samp14_cluster_balance (auto nlist)",
    Similarity.samp14ClusterBalance(_, nlist = 0))
  assertEmptyOk("samp14_cluster_balance keptOnly",
    Similarity.samp14ClusterBalance(_, keptOnly = true))
  assertEmptyOk("graph02_transitive_closure", Graph.graph02TransitiveClosure)
  assertEmptyOk("graph06_pagerank", Graph.graph06Pagerank(_))
  assertEmptyOk("graph27_bfs_distances", Graph.graph27BfsDistances(_))
  assertEmptyOk("graph30_shortest_paths", Graph.graph30ShortestPaths(_))
  assertEmptyOk("evt01_windowed_counts", Events.evt01WindowedCounts)
  assertEmptyOk("evt02_sessionization", Events.evt02Sessionization(_))
  assertEmptyOk("evt11_watermark_curve", Events.evt11WatermarkCurve(_))
  assertEmptyOk("emb01_hash_embeddings", Embedding.emb01HashEmbeddings(_))
  assertEmptyOk("emb02_pca_projection", Embedding.emb02PcaProject(_))
  assertEmptyOk("xref02_unified_entities", Linkage.xref02UnifiedEntities)
  // xref10 is excluded deliberately: it rides the spark.sql view
  // surface, and registering the empty lake's views would swap the
  // shared session's catalog under any concurrently-running suite.
  // Its CUBE semantics on empty input are the SQL-standard one
  // grand-total row, not zero rows, in any case.
  assertEmptyOk("xref11_ontology_reach", Linkage.xref11OntologyReach(_))
  assertEmptyOk("eval06_agreement", Evaluation.eval06Agreement(_))
  assertEmptyOk("eval07_roc_auc", Evaluation.eval07RocAuc(_))
  assertEmptyOk("mm05_phash_neardup", graft.multimodal.Multimodal.mm05PhashNeardup(_))
  assertEmptyOk("cat04_zorder_layout", CatalogOps.cat04ZorderLayout(_))
  assertEmptyOk("cat05_prune_audit", CatalogOps.cat05PruneAudit(_))
  assertEmptyOk("samp12_mixture_sample", TextAnalysis.samp12MixtureSample(_))
  assertEmptyOk("emb03_prefix_fidelity", Embedding.emb03PrefixFidelity(_))
  assertEmptyOk("emb04_geometry_audit", Embedding.emb04GeometryAudit)
  assertEmptyOk("samp13_exact_quota", TextAnalysis.samp13ExactQuota(_))
  assertEmptyOk("eval08_dist_drift", Evaluation.eval08DistDrift(_))
  // second batch: the remaining driver-scalar and trained-quantizer
  // call sites (kmeans seeds, PQ/SQ trains, BPE learn, the funnel)
  assertEmptyOk("dedup03_ngram_jaccard", Dedup.dedup03NgramJaccard(_))
  assertEmptyOk("dedup11_semantic", Dedup.dedup11Semantic(_))
  assertEmptyOk("samp09_cluster_balanced", Dedup.samp09ClusterBalanced(_))
  assertEmptyOk("sim05_ivf_ann", Similarity.sim05IvfAnn(_))
  assertEmptyOk("sim06_ivf_trained", Similarity.sim06IvfTrained(_))
  assertEmptyOk("sim07_pq_ann", Similarity.sim07PqAnn(_))
  assertEmptyOk("sim13_pq_refine", Similarity.sim13PqRefine(_))
  assertEmptyOk("sim14_ivf_pq", Similarity.sim14IvfPq(_))
  // the shared query side, exact rerank and exhaustive kernel on zero
  // vectors, and sim16's base/delta assignment of nothing
  assertEmptyOk("sim03_lsh_ann", Similarity.sim03LshAnn(_))
  assertEmptyOk("sim09_prefix_rerank", Similarity.sim09PrefixRerank(_))
  assertEmptyOk("sim10_sq_ann", Similarity.sim10SqAnn(_))
  assertEmptyOk("sim15_ivfpq_refine", Similarity.sim15IvfPqRefine(_))
  assertEmptyOk("sim16_ivf_append", Similarity.sim16IvfAppend(_))
  // the persisted-index readers: an index written from an empty lake
  // reads back as the empty ANN result (a PQ codebooks table with no
  // rows holds no vectors)
  private def fromEmptyIndex(name: String)(write: (Lake, String) => Unit)(
      read: (Lake, String) => DataFrame): Unit =
    assertEmptyOk(name, { lake =>
      val dir = java.nio.file.Files.createTempDirectory(s"${name}_empty").toString
      write(lake, dir)
      read(lake, dir)
    })
  fromEmptyIndex("pqAnnFromIndex")(Similarity.writePqIndex(_, _))(Similarity.pqAnnFromIndex(_, _))
  fromEmptyIndex("ivfAnnFromIndex")(Similarity.writeIvfIndex(_, _))(Similarity.ivfAnnFromIndex(_, _))
  fromEmptyIndex("ivfPqAnnFromIndex")(Similarity.writeIvfPqIndex(_, _))(
    Similarity.ivfPqAnnFromIndex(_, _))
  fromEmptyIndex("sqAnnFromIndex")(Similarity.writeSqIndex(_, _))(Similarity.sqAnnFromIndex(_, _))
  assertEmptyOk("sim08_knn_graph", Similarity.sim08KnnGraph(_))
  assertEmptyOk("sim11_knn_graph_ann", Similarity.sim11KnnGraphAnn(_))
  assertEmptyOk("txt12_bpe_tokens", TextAnalysis.txt12BpeTokens)
  assertEmptyOk("pipe01_pretrain_corpus", Pipeline.pipe01PretrainCorpus(_))
  assertEmptyOk("pipe03_eval_suite", Pipeline.pipe03EvalSuite(_))
  // the shingle-set operators: one shingle projection, the df-capped
  // candidate generator and the MinHash pair kernel on zero documents
  assertEmptyOk("dedup07_decontaminate", Dedup.dedup07Decontaminate(_))
  assertEmptyOk("dedup08_cluster_resolve", Dedup.dedup08ClusterResolve(_))
  assertEmptyOk("dedup10_containment", Dedup.dedup10Containment(_))
  assertEmptyOk("dedup15_contamination_report", Dedup.dedup15ContaminationReport(_))
  // xref09 reports one row per blocking scheme whatever the corpus:
  // no candidates, no gold pairs, and undefined ratios read as NULL
  test("xref09_blocking_quality reports both schemes empty on an empty lake") {
    val rows = Linkage.xref09BlockingQuality(empty).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("content_shingle", "length_band"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_candidates") == 0L && r.getAs[Long]("gold_total") == 0L, r)
      assert(r.isNullAt(r.fieldIndex("reduction_ratio")) &&
        r.isNullAt(r.fieldIndex("completeness")), r)
    }
  }
}
