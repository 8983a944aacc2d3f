package graft

import graft.operators.Graph
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  import TestSpark._

  private def t3(rows: (String, String, String)*) = {
    import spark.implicits._
    rows.toDF("s", "p", "o")
  }

  test("bgpMatch binds variables across patterns and filters constants") {
    val triples = t3(
      ("a", "knows", "b"),
      ("b", "knows", "c"),
      ("a", "type", "person"),
      ("b", "type", "person"),
      ("c", "type", "robot")
    )
    val out = Graph
      .bgpMatch(triples, Seq(("?x", "knows", "?y"), ("?y", "type", "person")))
      .collect()
      .map(r => (r.getAs[String]("x"), r.getAs[String]("y")))
      .toSet
    // (b knows c) drops out: c is not a person.
    assert(out == Set(("a", "b")))
  }

  test("bgpMatch repeated variable within a pattern means equality") {
    val triples = t3(
      ("n1", "links", "n1"),
      ("n1", "links", "n2"),
      ("n2", "links", "n2")
    )
    val selfLinked = Graph
      .bgpMatch(triples, Seq(("?x", "links", "?x")))
      .collect()
      .map(_.getAs[String]("x"))
      .toSet
    assert(selfLinked == Set("n1", "n2"))
  }

  test("bgpMatch with no shared variable is the cartesian of bindings") {
    val triples = t3(
      ("a", "p1", "x"),
      ("b", "p1", "y"),
      ("c", "p2", "z")
    )
    val n = Graph
      .bgpMatch(triples, Seq(("?u", "p1", "?v"), ("?w", "p2", "z")))
      .count()
    assert(n == 2)
  }

  test("bgpMatch OPTIONAL keeps unmatched rows with null bindings; FILTER prunes") {
    import org.apache.spark.sql.functions.col
    val triples = t3(
      ("a", "type", "person"),
      ("b", "type", "person"),
      ("c", "type", "person"),
      ("a", "nick", "ace"),
      ("c", "nick", "champ")
    )
    val out = Graph
      .bgpMatch(
        triples,
        Seq(("?x", "type", "person"), ("?x", "nick", "?nn")),
        optionalIdx = Set(1)
      )
      .collect()
      .map(r => (r.getAs[String]("x"), Option(r.getAs[String]("nn"))))
      .toSet
    // b has no nick and must survive with a null binding
    assert(out == Set(("a", Some("ace")), ("b", None), ("c", Some("champ"))))
    val filtered = Graph
      .bgpMatch(
        triples,
        Seq(("?x", "type", "person"), ("?x", "nick", "?nn")),
        optionalIdx = Set(1),
        filterExpr = Some(col("x") =!= "a")
      )
      .collect()
      .map(_.getAs[String]("x"))
      .toSet
    assert(filtered == Set("b", "c"))
    // an OPTIONAL pattern sharing no variable is a contract error
    intercept[IllegalArgumentException] {
      Graph.bgpMatch(
        triples,
        Seq(("?x", "type", "person"), ("?y", "nick", "?nn")),
        optionalIdx = Set(1)
      )
    }
  }

  test("path patterns compose with plain patterns inside bgpMatch") {
    val triples = t3(
      ("topic", "broader", "subfield"),
      ("subfield", "broader", "field"),
      ("field", "label", "Field F"),
      ("subfield", "label", "Subfield S")
    )
    val out = Graph
      .bgpMatch(triples, Seq(("topic", "broader+", "?a"), ("?a", "label", "?al")))
      .collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("al")))
      .toSet
    // both transitive ancestors of `topic` bind, each joined to its label
    assert(out == Set(("subfield", "Subfield S"), ("field", "Field F")))
  }

  test("property path closure walks the predicate union with min hop counts") {
    val triples = t3(
      ("topic", "broader", "subfield"),
      ("subfield", "broader", "field"),
      ("field", "partof", "domain"),
      ("topic", "label", "T") // non-path predicate must be ignored
    )
    val out = Graph
      .propertyPathClosure(triples, Seq("broader", "partof"), maxHops = 4)
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst"), r.getAs[Long]("min_hops")))
      .toSet
    assert(
      out == Set(
        ("topic", "subfield", 1L), ("topic", "field", 2L), ("topic", "domain", 3L),
        ("subfield", "field", 1L), ("subfield", "domain", 2L),
        ("field", "domain", 1L)
      )
    )
  }

  test("fixed-point pagerank: symmetry, hub dominance, and mass conservation") {
    import spark.implicits._
    def bidirected(pairs: (String, String)*) = {
      val df = pairs.toDF("src", "dst")
      df.unionAll(df.select($"dst".as("src"), $"src".as("dst")))
    }
    // the same three properties for the DataFrame reference on string
    // ids and for graph06's primitive kernel on long ids
    def dataFrame(pairs: (String, String)*): Map[String, Long] = GraphSpec
      .pagerankMicro(bidirected(pairs: _*), iters = 5)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val ids = Map("a" -> 1L, "b" -> 2L, "hub" -> 10L, "l1" -> 11L, "l2" -> 12L,
      "l3" -> 13L, "l4" -> 14L)
    def kernel(pairs: (String, String)*): Map[String, Long] = {
      val longPairs = pairs.map { case (a, b) => (ids(a), ids(b)) }
      val raw = spark.sparkContext.parallelize(longPairs ++ longPairs.map(_.swap), 3)
      val byId = ids.map(_.swap)
      Graph
        .pagerankKernelMicro(spark, raw, iters = 5)
        .collect()
        .map(r => byId(r.getLong(0)) -> r.getLong(1))
        .toMap
    }
    for ((name, pagerank) <- Seq[(String, Seq[(String, String)] => Map[String, Long])](
        "DataFrame" -> (ps => dataFrame(ps: _*)), "kernel" -> (ps => kernel(ps: _*)))) {
      // Symmetric pair: both nodes must hold identical rank at every
      // iteration (integer arithmetic makes this exact, not approximate).
      val pair = pagerank(Seq(("a", "b")))
      assert(pair("a") == pair("b"), s"$name: symmetric pair diverged: $pair")
      // Star: the hub sees every leaf's full rank, each leaf sees 1/k of
      // the hub's — hub must strictly dominate.
      val star = pagerank(Seq(("hub", "l1"), ("hub", "l2"), ("hub", "l3"), ("hub", "l4")))
      assert(star("hub") > star("l1"), s"$name: hub does not dominate: $star")
      assert(Seq("l1", "l2", "l3", "l4").map(star).distinct.size == 1, s"$name: $star")
      // Total mass stays within floor-leakage of the initial 10^12
      // (each division floors away < 1 micro per edge per iteration).
      val total = star.values.sum
      assert(total <= 1000000000000L && total > 999999990000L, s"$name: mass $total")
    }
  }

  test("graph06 kernel equals the DataFrame loop bit-for-bit (full rank table)") {
    // the integer-mass argument: every rank quantity is micro-mass
    // (Long), integer addition is order-independent, so the primitive
    // kernel and the SQL loop are the SAME function of the edge set —
    // compared over the FULL rank table (huge topK), not the top-20,
    // so a low-rank divergence can't hide. The fixture's repeated
    // customer-supplier pairs also exercise LongAdj.build's in-array
    // distinct-pair fold against the SQL repartition().distinct().
    val lake = graft.catalog.Lake(TestSpark.spark, TestSpark.sfDir)
    val df = GraphSpec.graph06Pagerank(lake, iters = 5, topK = Int.MaxValue)
      .collect().map(_.toString).toSeq
    val k = Graph.graph06Pagerank(lake, iters = 5, topK = Int.MaxValue)
      .collect().map(_.toString).toSeq
    assert(df.nonEmpty)
    assert(k == df)
  }

  test("LongAdj: one build keeps each distinct pair once, at its least weight") {
    // unsorted input; the pair (1, 3) arrives at weights 7 and 4
    val adj = Graph.LongAdj.build(Iterator(
      (3L, (1L, 9L)), (1L, (3L, 7L)), (2L, (1L, 6L)), (1L, (2L, 5L)), (1L, (3L, 4L))))
    assert(adj.size == 4)
    assert(adj.nodes.toList == List(1L, 2L, 3L))
    def walk(n: Long) = adj.send(Iterator((n, 0L)))((_, w, _) => w).toList
    assert(walk(1L) == List((2L, 5L), (3L, 4L)))
    assert(walk(3L) == List((1L, 9L)))
    // a node the partition does not hold sends nothing
    assert(walk(42L).isEmpty)
    // one walk over several senders: the sender's value and out-degree
    // reach every message, and a missing sender in between is skipped
    assert(adj.send(Iterator((1L, 10L), (42L, 0L), (3L, 20L)))((x, w, deg) => x + w + 100 * deg)
      .toList == List((2L, 215L), (3L, 214L), (1L, 129L)))
    // an empty partition builds an empty index
    val empty = Graph.LongAdj.build(Iterator.empty)
    assert(empty.size == 0 && empty.nodes.isEmpty)
    assert(empty.send(Iterator((1L, 0L)))((x, _, _) => x).isEmpty)
    // past the insertion-sort cutoff: the quicksort and the fold agree
    // with a plain group-by-min over random pairs with many duplicates
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(5000)((rnd.nextInt(40).toLong, (rnd.nextInt(40).toLong, rnd.nextInt(100).toLong)))
    val big = Graph.LongAdj.build(edges.iterator)
    val expected = edges.groupBy { case (s, (d, _)) => (s, d) }.view
      .mapValues(_.map(_._2._2).min).toMap
    assert(big.size == expected.size)
    val walked = big.nodes.toList.flatMap(s =>
      big.send(Iterator((s, 0L)))((_, w, _) => w).map { case (d, w) => ((s, d), w) })
    assert(walked == expected.toList.sorted)
  }

  test("frontier BFS equals a plain Scala BFS; one row per node") {
    val lake = graft.catalog.Lake(TestSpark.spark, TestSpark.sfDir)
    // independent reference: queue BFS over the collected edge list
    val pairs = lake.lineitem
      .selectExpr("l_orderkey * 2 AS a", "l_partkey * 2 + 1 AS b")
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap))
      .groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    val seed = pairs.map(_._1).min
    val dist = scala.collection.mutable.Map(seed -> 0L)
    var frontier = Seq(seed)
    for (d <- 1L to 4L) {
      frontier = frontier
        .flatMap(n => adj.getOrElse(n, Array.empty[Long]))
        .distinct
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = d)
    }
    def show(n: Long): String =
      if (n % 2 == 0) s"ord:${n / 2}" else s"prt:${(n - 1) / 2}"
    val expected = dist.map { case (n, d) => show(n) -> d }.toMap
    val got = Graph.graph27BfsDistances(lake).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.length == got.map(_._1).distinct.length, "node visited twice")
    assert(got.toMap == expected, s"${got.length} vs ${expected.size}")
  }

  test("graph30: weighted costs dominate hop counts; reach equals BFS; relaxation is monotone") {
    val lake = graft.catalog.Lake(TestSpark.spark, TestSpark.sfDir)
    val sp = Graph.graph30ShortestPaths(lake).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bfs = Graph.graph27BfsDistances(lake).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ≤ k-edge reachability is the same set whether edges are
    // weighted or not
    assert(sp.keySet == bfs.keySet)
    // every edge weighs ≥ 1 quantity unit, so the cheapest ≤ k-edge
    // cost can never undercut the hop distance; the seed is free
    bfs.foreach { case (n, d) =>
      assert(sp(n) >= d, s"$n cost ${sp(n)} < hops $d")
    }
    assert(sp.count(_._2 == 0L) == 1, "exactly the seed at cost 0")
    // one more relaxation round reaches at least as far and never
    // makes any node more expensive (Bellman-Ford monotonicity)
    val sp5 = Graph.graph30ShortestPaths(lake, maxHops = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sp.keySet.subsetOf(sp5.keySet))
    sp.foreach { case (n, c) =>
      assert(sp5(n) <= c, s"$n got dearer with more hops: ${sp5(n)} > $c")
    }
    // and on this graph the extra round actually improves something
    // (a 4-hop low-weight detour beating a 2-hop heavy edge exists)
    assert(sp5.exists { case (n, c) => sp.get(n).exists(c < _) } ||
      sp5.size > sp.size, "degenerate: round 5 changed nothing")
  }
}

/** The DataFrame PageRank: Graph.graph06Pagerank's kernel is pinned
  * bit-for-bit against this join/groupBy loop, the reference semantics
  * a pure-SQL consumer would run (and the loop the DuckDB oracle's
  * unrolled recursion mirrors). */
object GraphSpec {
  import graft.catalog.Lake
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  /** PageRank in fixed-point integer arithmetic: ranks are "micros"
    * (total mass 10^12 split over N nodes), contributions use integer
    * division, and the damping mix is (15·base + 85·Σ) div 100 — every
    * engine computes bit-identical ranks in ANY aggregation order, so
    * an iterative float algorithm becomes oracle-exact. (Float
    * PageRank sums partial contributions in shuffle order; 5 nested
    * iterations can amplify last-bit differences into rank flips —
    * integer micros remove the hazard entirely.) The deliberate cost:
    * each division floors, so up to outdeg-1 micros of mass leak per
    * node per iteration — a ~1e-6 relative perturbation, far below
    * rank gaps of interest, and identically reproduced everywhere.
    *
    * Scale: the canonical distributed PageRank loop — per iteration
    * one equi-join of ranks to the (src-partitioned) edge list and one
    * groupBy(dst) sum; localCheckpoint caps lineage growth exactly as
    * in transitiveClosure. Edges live once; degree is precomputed and
    * carried on the edge row so the loop body never re-joins it.
    *
    * PRECONDITION: the edge list must be SYMMETRIC (every (u,v) paired
    * with (v,u) — graph06 bidirects its pairs before calling). The node
    * universe is derived from `src` alone and each iteration rebuilds
    * ranks from groupBy(dst), so on a general directed graph sinks
    * would never be ranked and in-degree-0 nodes would drop after the
    * first iteration. On a symmetric graph src-set == dst-set == node
    * set and neither case exists. */
  def pagerankMicro(edges0: DataFrame, iters: Int): DataFrame = {
    val totalMass = 1000000000000L
    // Checkpoint the shared frames ONCE, in dependency order: edges0
    // (often an expensive fact join) feeds deg and the edge join; deg
    // feeds the node count, the rank seed and the edge join. Left
    // unmaterialized, each of those references re-executes the whole
    // upstream pipeline — the first cut of this loop recomputed the
    // edge build ~10x and ran 16 s at sf0.1 vs ~2 s with checkpoints.
    // Degree rides the edge row via a window over the SAME partitioning
    // the edge list already needs — one shuffle, no self-join. (An
    // aggregate-then-broadcast-join variant was measured SLOWER here:
    // the blocking broadcast build costs more than the window's reuse
    // of the single src shuffle.)
    val withDeg = edges0
      .withColumn(
        "outdeg",
        count(lit(1)).over(Window.partitionBy("src"))
      )
      .localCheckpoint()
    val nodes = withDeg.select(col("src").as("node")).distinct().localCheckpoint()
    // |V| is ONE scalar reused by every iteration: counting it on the
    // driver (the count is answered from the checkpointed frame) and
    // folding it into literal per-node/teleport constants deletes the
    // crossJoin(broadcast(nRow)) from the seed AND from all `iters`
    // loop bodies — each of those broadcast builds blocked the driver
    // for a scheduling round-trip. Integer-exact vs the oracle: all
    // operands are positive, so Scala Long division == SQL `div`/`//`.
    val n = nodes.count()
    // Empty graph: no nodes means no ranks — return the empty frame
    // with the loop's schema instead of dividing by zero (advisor r5).
    if (n == 0) return nodes.select(col("node"), lit(0L).as("r"))
    val perNode = totalMass / n
    val teleport = (15L * perNode) / 100L
    // Seed is NOT checkpointed: it is a pure projection of the
    // checkpointed `nodes`, referenced exactly once (iteration 1).
    var ranks = nodes.select(col("node"), lit(perNode).as("r"))
    var prevCkpt: Set[Int] = Set.empty
    var i = 0
    while (i < iters) {
      // No forced broadcast on ranks: at this SF AQE broadcasts the
      // |V|-row side (the edge list never re-shuffles), while on a
      // billion-node graph the same plan degrades to a shuffle join
      // instead of OOMing the driver — the q05 scaling-dim discipline.
      // Damping is folded into the aggregate projection so each
      // iteration is exactly one join stage + one aggregate stage.
      //
      // repartition-BEFORE-aggregate (round 14 — the xref02/q18
      // lesson landing here the hard way): fused with the join, the
      // partial aggregate's per-task hash map sees ~|V|-cardinality
      // dst keys while sharing the stage's memory with the join
      // itself, 32 tasks at once — at sf10 (100M contrib rows, 17M
      // nodes) that stage died AGGREGATE_OUT_OF_MEMORY at 8g and
      // even 16g, and crawled at 24g (198 s, spill-bound).
      // Exchanging the RAW (dst, contrib) rows first bounds each
      // task's aggregate to |V|/P keys (~34 MB): sf10 completes at
      // 8g in ~80 s. The traded map-side compression was ~2x shuffle
      // volume — the memory bound is what survives scale.
      ranks = withDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r div outdeg").as("contrib"))
        .repartition(col("dst"))
        .groupBy("dst")
        .agg(expr(s"$teleport + (85 * sum(contrib)) div 100").as("r"))
        .withColumnRenamed("dst", "node")
      // Checkpoint every THIRD iterate (and the last). Measured at
      // sf0.1 (min of 5 sweeps each): every-2nd 3.61 s, every-3rd
      // 2.88 s, none-at-all 2.91 s — each checkpoint is a blocking
      // driver job, and the rank lineage grows LINEARLY (one join +
      // one agg per iteration, unlike the closure loop's join+union
      // doubling), so sparse materialization wins. Not zero, though:
      // the cadence caps plan size for arbitrary iteration counts,
      // at the price of one no-op barrier per 3 iterations. Task
      // retries recompute at most back to the previous iteration's
      // shuffle files either way.
      //
      // Release the SUPERSEDED rank checkpoint as soon as the next
      // one is materialized (localCheckpoint is eager): once iterate
      // i is pinned, iterate i-3's blocks are unreachable from any
      // future step. At iters=5 this is measurably neutral (86 vs
      // 93 s sf10, window noise — only two generations ever exist);
      // the point is BOUNDED storage for real centrality runs
      // (20-50 iterations), where waiting on the async ContextCleaner
      // stacks dead rank generations against the live working set.
      // Release ids come from the checkpointed Dataset's own
      // LogicalRDD leaves (Bridge.checkpointRddIds) — never a global
      // keyset diff.
      if (i % 3 == 2 || i == iters - 1) {
        val sc = ranks.sparkSession.sparkContext
        ranks = ranks.localCheckpoint()
        // ids read off the checkpointed Dataset itself (LogicalRDD
        // leaves) — a global keyset diff could capture a concurrent
        // job's RDD in a shared session (advisor round 12)
        val added =
          org.apache.spark.sql.graftbridge.Bridge.checkpointRddIds(ranks)
        prevCkpt.foreach(id =>
          sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
        prevCkpt = added
      }
      i += 1
    }
    ranks
  }

  /** graph06: rank customers and suppliers by PageRank on the
    * bidirected trading graph (distinct customer-supplier pairs from
    * lineitem x orders — the citation-graph centrality analog on the
    * lake's own fact data). 5 iterations, top 20. */
  def graph06Pagerank(lake: Lake, iters: Int = 5, topK: Int = 20): DataFrame = {
    // The loop runs on LONG node ids (customer -> 2k, supplier -> 2k+1),
    // not the display strings: 5 iterations of join+groupBy each hash,
    // shuffle and compare the node key, and an 8-byte long beats a
    // variable-length "c12345" string in every one of those. The
    // 'c'/'s' labels are re-derived once, on the topK output.
    val pairs = lake.lineitem
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(lake.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        expr("o_custkey * 2L").as("a"),
        expr("l_suppkey * 2L + 1L").as("b")
      )
      // repartition-before-distinct (round 14, same memory bound as
      // the rank loop): the distinct's partial aggregate would
      // otherwise share the fact-join stage's memory with ~unique
      // (a, b) keys across 32 concurrent tasks
      .repartition(col("a"), col("b"))
      .distinct()
      // Materialize before bidirecting: the union below references
      // `pairs` twice, and without the checkpoint the fact join +
      // distinct execute once per branch.
      .localCheckpoint()
    val edges = pairs
      .select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    pagerankMicro(edges, iters)
      .select(
        expr(
          "IF(node % 2 = 0, concat('c', node div 2), concat('s', (node - 1) div 2))"
        ).as("node"),
        col("r")
      )
      .orderBy(col("r").desc, col("node"))
      .limit(topK)
      .select(col("node"), col("r").as("rank_micro"))
  }
}
