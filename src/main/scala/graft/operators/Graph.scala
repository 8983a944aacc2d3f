package graft.operators

import graft.catalog.Lake
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Hierarchy / graph operators — the reference's ontology-hierarchy
  * surface (4-level OpenAlex topic rollups, ontology parent-child
  * traversal in sparql_query.py) re-expressed as joins + iterative
  * kernels.
  *
  * Scale notes: rollups are broadcast-dim joins; the iterative
  * operators (transitive closure, PageRank, BFS, Bellman-Ford) are
  * co-partitioned RDD kernels in the Pregel shape — edges partitioned
  * once, state co-partitioned with them, one or two shuffles per hop
  * and no recursion in the engine (the driver only orchestrates).
  */
object Graph {

  /** Per-partition adjacency index for the long-keyed kernels
    * (graph06's PageRank, graph27's BFS, graph30's Bellman-Ford) —
    * GraphX's EdgePartition idea re-expressed minimally: ONE primitive
    * long array of (src, dst, w) triples sorted by (src, dst), looked
    * up by binary search + a walk along the src's run.
    *
    * It holds each DISTINCT (src, dst) pair once, with the LEAST weight
    * its copies carried. That is what every caller needs: PageRank's
    * outdeg counts distinct edges, graph30's edge cost is the min
    * l_quantity, and graph27's seen set would absorb duplicate
    * messages anyway. All copies of a pair hash to the same src
    * partition, so the per-partition fold is global — no SQL distinct
    * exchange, no per-row allocation.
    *
    * Why not a HashMap: an RDD join walks the FULL edge iterator every
    * superstep (O(|edges| x levels) — 144M row visits for 4 levels at
    * sf3), and a boxed HashMap/HashSet index allocates per-row objects
    * for |edges|/P rows in 32 concurrent tasks, which is an allocation
    * failure at sf10 (120M directed edges). A primitive array costs
    * exactly the data's bytes, the one sort is in-place, and each later
    * level touches only the frontier's rows. */
  private[graft] final class LongAdj private (e: Array[Long]) extends Serializable {
    /** number of (distinct) edges */
    def size: Int = e.length / 3
    private def src(i: Int): Long = e(3 * i)

    /** first edge index whose src is >= `n` */
    private def lower(n: Long): Int = {
      var lo = 0; var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (src(mid) < n) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** the distinct sources, ascending */
    def nodes: Iterator[Long] =
      Iterator.range(0, size).filter(i => i == 0 || src(i) != src(i - 1)).map(src)

    /** The neighbour walk: for each (node, x) of `it`, one
      * (dst, f(x, w, outdeg)) per edge (node, dst, w) — a binary search
      * to node's run, then a walk along it. A node this partition does
      * not hold sends nothing. */
    def send(it: Iterator[(Long, Long)])(f: LongAdj.Msg): Iterator[(Long, Long)] = {
      val edges = size
      new Iterator[(Long, Long)] {
        private var i = 0; private var end = 0; private var deg = 0
        private var x = 0L
        def hasNext: Boolean = {
          while (i == end && it.hasNext) {
            val (n, v) = it.next()
            i = lower(n); end = i; x = v
            while (end < edges && src(end) == n) end += 1
            deg = end - i
          }
          i < end
        }
        def next(): (Long, Long) = {
          val r = (e(3 * i + 1), f(x, e(3 * i + 2), deg)); i += 1; r
        }
      }
    }
  }

  private[graft] object LongAdj {
    /** A message value from the sender's value, the edge weight and the
      * sender's out-degree (a SAM, so the walk calls it unboxed). */
    trait Msg { def apply(x: Long, w: Long, deg: Int): Long }

    /** The one build: (src, (dst, w)) edges into one growable buffer,
      * one in-place (src, dst) sort, and each run of equal pairs folded
      * into its first edge with the least weight. */
    def build(it: Iterator[(Long, (Long, Long))]): LongAdj = {
      var e = new Array[Long](3 << 10)
      var n = 0
      while (it.hasNext) {
        if (3 * n == e.length) e = java.util.Arrays.copyOf(e, 2 * e.length)
        val (s, (d, w)) = it.next()
        e(3 * n) = s; e(3 * n + 1) = d; e(3 * n + 2) = w
        n += 1
      }
      sort(e, n)
      var m = 0
      var i = 0
      while (i < n) {
        val k = 3 * (m - 1)
        if (m > 0 && e(3 * i) == e(k) && e(3 * i + 1) == e(k + 1))
          e(k + 2) = math.min(e(k + 2), e(3 * i + 2))
        else {
          System.arraycopy(e, 3 * i, e, 3 * m, 3)
          m += 1
        }
        i += 1
      }
      new LongAdj(java.util.Arrays.copyOf(e, 3 * m))
    }

    /** In-place quicksort of the first `n` triples of `e` by (src, dst)
      * (median-of-3, insertion sort below 16) — no boxing, no
      * permutation array. */
    private def sort(e: Array[Long], n: Int): Unit = {
      // triple i's (src, dst) against (s, d)
      @inline def cmp(i: Int, s: Long, d: Long): Int = {
        val c = java.lang.Long.compare(e(3 * i), s)
        if (c != 0) c else java.lang.Long.compare(e(3 * i + 1), d)
      }
      @inline def gt(i: Int, j: Int): Boolean = cmp(i, e(3 * j), e(3 * j + 1)) > 0
      @inline def swap(i: Int, j: Int): Unit = {
        var k = 0
        while (k < 3) {
          val t = e(3 * i + k); e(3 * i + k) = e(3 * j + k); e(3 * j + k) = t
          k += 1
        }
      }
      def qs(lo0: Int, hi0: Int): Unit = {
        var lo = lo0; var hi = hi0
        while (hi - lo > 15) {
          val mid = (lo + hi) >>> 1
          if (gt(lo, mid)) swap(lo, mid)
          if (gt(lo, hi)) swap(lo, hi)
          if (gt(mid, hi)) swap(mid, hi)
          val ps = e(3 * mid); val pd = e(3 * mid + 1)
          var i = lo; var j = hi
          while (i <= j) {
            while (cmp(i, ps, pd) < 0) i += 1
            while (cmp(j, ps, pd) > 0) j -= 1
            if (i <= j) { swap(i, j); i += 1; j -= 1 }
          }
          // recurse into the smaller side, loop on the larger
          if (j - lo < hi - i) { qs(lo, j); lo = i }
          else { qs(i, hi); hi = j }
        }
        var i = lo + 1
        while (i <= hi) {
          var j = i
          while (j > lo && gt(j - 1, j)) { swap(j - 1, j); j -= 1 }
          i += 1
        }
      }
      if (n > 1) qs(0, n - 1)
    }
  }

  /** Child -> parent -> grandparent rollup with a path label
    * (topic -> subfield -> field style). */
  def graph01HierarchyRollup(lake: Lake): DataFrame =
    lake.customer
      .join(broadcast(lake.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(lake.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(
        concat(col("r_name"), lit(" > "), col("n_name")).as("path"),
        col("r_name"),
        col("n_name")
      )
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 4).as("total_acctbal")
      )
      .orderBy("path")

  /** Generic hop-bounded transitive closure: (src, dst, min_hops)
    * pairs reachable in <= maxHops — FRONTIER form, not path
    * enumeration: each hop expands only the pairs FIRST reached at
    * the previous hop, so every (src, dst) pair is expanded exactly
    * once and carries its min hop count by construction (the
    * recursive-CTE replay enumerates paths, whose count compounds per
    * level; BFS per source is what survives big graphs).
    * Shortest-path prefix optimality makes the visited check exact: a
    * min-hop path to `next` extends a min-hop path to `dst`.
    *
    * Pregel-shape kernel (round 14 — graph27's measured lesson
    * applied to the whole closure family: the DataFrame loop paid ~4
    * AQE query-stage materializations per hop for milliseconds of
    * kernel work). Co-partitioned state, two shuffles per hop:
    *   - edges hash-partitioned ONCE by src and deduped narrowly;
    *   - the reached-pair set `all` lives partitioned by (src, dst),
    *     so each hop's candidate pairs shuffle once to the pair
    *     partitioner and the dedupe + visited check run NARROW via
    *     zipPartitions (a per-partition hash set over the slice);
    *   - the next frontier re-keys by dst (the second shuffle) to
    *     meet the edge partitioner for a narrow join.
    * At 100 TB this is GraphX's model: per-partition state slices are
    * |pairs|/P and messages shuffle once per superstep. RDD layer by
    * measurement, not taste — the same queries' DataFrame form was
    * measurably slower at sf0.1 with identical rows (BASELINE round
    * 14 pairs).
    *
    * Null edges (never produced by current callers, but the old
    * DataFrame form tolerated them) pass through as hop-1 rows and
    * never propagate — SQL equi-join semantics preserved. */
  def transitiveClosure(edges0: DataFrame, maxHops: Int): DataFrame = {
    val spark = edges0.sparkSession
    import org.apache.spark.sql.types.{LongType, StringType}
    val sel = edges0.select(col("src"), col("dst"))
    val clean = sel.filter(col("src").isNotNull && col("dst").isNotNull)
    val nullRows = sel
      .filter(col("src").isNull || col("dst").isNull)
      .distinct()
      .withColumn("min_hops", lit(1L))
    import spark.implicits._
    val closed = sel.schema("src").dataType match {
      case LongType =>
        closureKernel[Long](
          clean.queryExecution.toRdd
            .mapPartitions(it => it.map(r => (r.getLong(0), r.getLong(1)))),
          maxHops
        ).map { case ((s, d), h) => (s, d, h) }
          .toDF("src", "dst", "min_hops")
      case StringType =>
        closureKernel[String](
          clean.queryExecution.toRdd
            .mapPartitions(it =>
              // toString copies out of the scan's reused buffer
              it.map(r =>
                (r.getUTF8String(0).toString, r.getUTF8String(1).toString))),
          maxHops
        ).map { case ((s, d), h) => (s, d, h) }
          .toDF("src", "dst", "min_hops")
      case other =>
        sys.error(s"transitiveClosure: unsupported key type $other")
    }
    closed.unionAll(nullRows)
  }

  /** The typed closure kernel: returns ((src, dst), min_hops), with
    * the result co-partitioned by pair. Bounded-depth persists per
    * level (recompute protection; RDD lineage grows LINEARLY here —
    * union chains, no plan-doubling — so no checkpoint cadence is
    * needed at the <= 6 hops every caller uses; a deep-loop caller on
    * a real cluster should swap persist for reliable checkpoints).
    *
    * Sizing contract: every caller feeds DIMENSION-SIZED edge sets
    * (ontology is-a stores, supplier-nation hierarchies — thousands
    * to low millions of edges), and the per-partition dedupe below
    * keeps a boxed (K, K) HashSet over |edges|/P rows on that
    * assumption. A FACT-scale closure (120M+ edges — the allocation
    * regime that killed graph27's boxed frontier at sf10) does not
    * belong here: it needs the primitive LongAdj index path the BFS
    * kernels use (graph27/graph30 below), which this
    * generic-K kernel deliberately does not reimplement. */
  private def closureKernel[K](
      raw: org.apache.spark.rdd.RDD[(K, K)],
      maxHops: Int
  )(implicit
      kt: scala.reflect.ClassTag[K]
  ): org.apache.spark.rdd.RDD[((K, K), Long)] = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val n = raw.sparkContext.defaultParallelism
    val nodePart = new HashPartitioner(n)
    val pairPart = new HashPartitioner(n)
    val edges: RDD[(K, K)] = raw
      .partitionBy(nodePart)
      .mapPartitions(
        { it =>
          val seen = new java.util.HashSet[(K, K)]()
          it.filter(seen.add)
        },
        preservesPartitioning = true
      )
      .persist(StorageLevel.MEMORY_AND_DISK)
    var all: RDD[((K, K), Long)] = edges
      .map { case (s, d) => ((s, d), 1L) }
      .partitionBy(pairPart)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // frontier keyed by dst (the node partitioner) for the edge join
    var frontier: RDD[(K, K)] =
      all.map { case ((s, d), _) => (d, s) }.partitionBy(nodePart)
    for (h <- 2 to maxHops) {
      val msgs = edges
        .join(frontier) // narrow: both sides on nodePart
        .map { case (_, (next, src)) => ((src, next), h.toLong) }
        .partitionBy(pairPart) // hop shuffle 1: candidates to pair space
      val fresh = msgs
        .zipPartitions(all, preservesPartitioning = true) { (m, a) =>
          val seen = new java.util.HashSet[(K, K)]()
          a.foreach(kv => seen.add(kv._1))
          m.filter(kv => seen.add(kv._1)) // visited check + dedupe
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      all = all.union(fresh) // PartitionerAwareUnionRDD keeps pairPart
      frontier = fresh
        .map { case ((s, d), _) => (d, s) }
        .partitionBy(nodePart) // hop shuffle 2: frontier to node space
    }
    all
  }

  /** SPO triple table derived from the star schema — the relational
    * form of the reference's oxigraph store (sparql_query.py). Every
    * row is (subject, predicate, object) with typed-prefix IRIs. */
  def triples(lake: Lake): DataFrame = {
    val custNation = lake.customer.select(
      concat(lit("cust:"), col("c_custkey")).as("s"),
      lit("in_nation").as("p"),
      concat(lit("nat:"), col("c_nationkey")).as("o")
    )
    val nationRegion = lake.nation.select(
      concat(lit("nat:"), col("n_nationkey")).as("s"),
      lit("in_region").as("p"),
      concat(lit("reg:"), col("n_regionkey")).as("o")
    )
    val nationLabel = lake.nation.select(
      concat(lit("nat:"), col("n_nationkey")).as("s"),
      lit("label").as("p"),
      col("n_name").as("o")
    )
    val regionLabel = lake.region.select(
      concat(lit("reg:"), col("r_regionkey")).as("s"),
      lit("label").as("p"),
      col("r_name").as("o")
    )
    // A deliberately PARTIAL predicate (only every third nation) so
    // OPTIONAL has something to be optional about — the analog of the
    // reference ontologies' sparsely-populated annotation properties.
    val nationFlag = lake.nation
      .filter(col("n_nationkey") % 3 === 0)
      .select(
        concat(lit("nat:"), col("n_nationkey")).as("s"),
        lit("flagged").as("p"),
        lit("true").as("o")
      )
    custNation
      .unionAll(nationRegion)
      .unionAll(nationLabel)
      .unionAll(regionLabel)
      .unionAll(nationFlag)
  }

  /** Binds one pattern over a scan: filters each column whose term is
    * a constant, turns a variable repeated within the pattern into an
    * equality filter, and projects each variable once under its name
    * without the `?`. `terms` maps scan columns to pattern terms; plain
    * triple scans, path-closure frames and SPARQL `GRAPH` quads all
    * bind through it. */
  private[graft] def bind(df0: DataFrame, terms: Seq[(String, String)]): DataFrame = {
    var df = terms.foldLeft(df0) { case (acc, (c, t)) =>
      if (t.startsWith("?")) acc else acc.filter(col(c) === t)
    }
    val varTerms = terms.filter(_._2.startsWith("?"))
    varTerms.groupBy(_._2).values.foreach { occ =>
      occ.tail.foreach(o2 => df = df.filter(col(occ.head._1) === col(o2._1)))
    }
    val proj = varTerms
      .map(_._2)
      .distinct
      .map(v => col(varTerms.find(_._2 == v).get._1).as(v.drop(1)))
    df.select(proj: _*)
  }

  /** Generic SPARQL basic-graph-pattern matcher — patterns as DATA,
    * not code (the sparql_query.py:89 `run_query` surface: arbitrary
    * (s, p, o) patterns with named variables). Terms starting with
    * `?` are variables; anything else is a constant. Each pattern
    * compiles to one constant-filtered scan of the triple table
    * projected to its variable bindings; patterns then join on their
    * shared variables (a cross join only when a pattern shares no
    * variable — the SPARQL cartesian semantics). A variable repeated
    * WITHIN one pattern becomes an equality filter on that scan.
    *
    * Scale notes: a 100 TB triple store is partitioned by predicate,
    * so a constant-predicate pattern prunes to one partition;
    * `broadcastIdx` marks the patterns known small (label lookups,
    * schema-level predicates) for broadcast joins — the caller-side
    * analog of a SPARQL engine's selectivity-ordered BGP plan. Join
    * order is the caller's pattern order. */
  def bgpMatch(
      triples: DataFrame,
      patterns: Seq[(String, String, String)],
      broadcastIdx: Set[Int] = Set.empty,
      optionalIdx: Set[Int] = Set.empty,
      filterExpr: Option[org.apache.spark.sql.Column] = None,
      maxPathHops: Int = 8
  ): DataFrame = {
    require(patterns.nonEmpty, "BGP needs at least one pattern")
    require(
      !optionalIdx.contains(0),
      "the first pattern anchors the binding set and cannot be OPTIONAL"
    )
    def scan(pat: (String, String, String)): DataFrame = pat._2 match {
      // SPARQL property paths as pattern predicates: `p+`/`(p1|p2)+`
      // solutions are the transitive closure over the predicate union
      // (hop bound `maxPathHops`, cycle-safe, same as graph02/08);
      // `p*` unions in SPARQL's ZeroLengthPath (a ground endpoint
      // contributes itself; two variables range over the graph's
      // nodes — subjects ∪ objects); `p?` is the single-hop edge set
      // plus the same zero-length solutions. All bind on (s, o) like
      // any other pattern; path solutions are SETS per the spec,
      // hence the distinct after the zero union.
      // Negated property set `!p` / `!(p1|p2)`: every triple whose
      // predicate is NOT in the set — one NOT IN filter on the scan
      // (bag semantics like a plain pattern; on a predicate-
      // partitioned store this is partition-pruning's complement).
      case p if p.startsWith("!") =>
        val preds = p.drop(1).stripPrefix("(").stripSuffix(")")
          .split('|').toSeq
        bind(
          triples.filter(!col("p").isin(preds: _*)).select(col("s"), col("o")),
          Seq("s" -> pat._1, "o" -> pat._3)
        )
      case p if !p.startsWith("?") &&
          (p.endsWith("+") || p.endsWith("*") || p.endsWith("?")) =>
        val mod = p.last
        val preds = p.dropRight(1).stripPrefix("(").stripSuffix(")")
          .split('|').toSeq
        val step =
          if (mod == '?')
            triples.filter(col("p").isin(preds: _*)).select(col("s"), col("o"))
          else
            propertyPathClosure(triples, preds, maxPathHops)
              .select(col("src").as("s"), col("dst").as("o"))
        val reach =
          if (mod == '+') step
          else {
            val zero =
              if (!pat._1.startsWith("?"))
                triples.sparkSession
                  .range(1)
                  .select(lit(pat._1).as("s"), lit(pat._1).as("o"))
              else if (!pat._3.startsWith("?"))
                triples.sparkSession
                  .range(1)
                  .select(lit(pat._3).as("s"), lit(pat._3).as("o"))
              else {
                val nodes = triples
                  .select(col("s").as("n"))
                  .unionAll(triples.select(col("o").as("n")))
                  .distinct()
                nodes.select(col("n").as("s"), col("n").as("o"))
              }
            zero.unionAll(step).distinct()
          }
        bind(reach, Seq("s" -> pat._1, "o" -> pat._3))
      case _ =>
        bind(triples, Seq("s" -> pat._1, "p" -> pat._2, "o" -> pat._3))
    }
    val matched = patterns.zipWithIndex.tail.foldLeft(scan(patterns.head)) {
      case (acc, (pat, i)) =>
        val f = scan(pat)
        val fb = if (broadcastIdx.contains(i)) broadcast(f) else f
        val shared = acc.columns.intersect(f.columns).toSeq
        if (optionalIdx.contains(i)) {
          // SPARQL OPTIONAL == left outer join of the pattern's
          // bindings: rows keep their solution, unmatched optional
          // variables stay null (sparql_query.py:89 executes the same
          // semantics through oxigraph).
          require(
            shared.nonEmpty,
            s"OPTIONAL pattern $i shares no variable with the preceding group"
          )
          acc.join(fb, shared, "left")
        } else if (shared.nonEmpty) acc.join(fb, shared)
        else acc.crossJoin(fb)
    }
    // SPARQL FILTER over the bound variables (columns named without
    // '?'), applied to the completed group like a HAVING-less WHERE.
    filterExpr.fold(matched)(matched.filter)
  }

  /** SPARQL property path `(p1|p2|…)+` (one-or-more) over a predicate
    * union: every (start, ancestor, min_hops) pair reachable through
    * edges whose predicate is in `preds` — the hierarchy-traversal
    * idiom of the reference's ontology queries (skos:broader+ /
    * rdfs:subClassOf+ in sparql_query.py's query surface). Compiles
    * to the hop-bounded distributed closure (one equi-join per hop,
    * cycle-safe), so the same SPARQL construct that oxigraph walks
    * in-process scales out as joins. */
  def propertyPathClosure(
      triples: DataFrame,
      preds: Seq[String],
      maxHops: Int
  ): DataFrame = {
    val edges = triples
      .filter(col("p").isin(preds: _*))
      .select(col("s").as("src"), col("o").as("dst"))
    transitiveClosure(edges, maxHops)
  }

  /** graph08: `?x (in_nation|in_region)+ ?a` — every node's ancestor
    * set at any depth with the shortest hop count: customers reach
    * their nation (1 hop) and region (2 hops), nations their region
    * (1 hop). The 4-level OpenAlex rollup run as a SPARQL path rather
    * than a fixed join chain. */
  def graph08AncestorPaths(lake: Lake, maxHops: Int = 3): DataFrame =
    propertyPathClosure(triples(lake), Seq("in_nation", "in_region"), maxHops)
      .select(
        col("src").as("start"),
        col("dst").as("ancestor"),
        col("min_hops")
      )
      .orderBy("start", "ancestor")

  /** graph09: the SPARQL surface as TEXT — the reference's actual
    * interface is a query string handed to `run_query(store, query)`
    * (reference: scripts/sparql_query.py:89, prefix injection :52).
    * One string exercises the full supported fragment — PREFIX, a
    * property path `(p1|p2)+`, a plain BGP pattern, OPTIONAL, FILTER,
    * ORDER BY — compiled by [[graft.sparql.Sparql]] into the same
    * bgpMatch plan the hand-built graph07/08 queries use: every
    * (start, ancestor) pair at any depth, the ancestor's label, its
    * sparse `flagged` annotation when present, ASIA pruned. */
  def graph09SparqlText(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """PREFIX p: <in_>
        |SELECT ?c ?anc ?l ?fl
        |WHERE {
        |  ?c (p:nation|p:region)+ ?anc .
        |  ?anc <label> ?l .
        |  OPTIONAL { ?anc <flagged> ?fl } .
        |  FILTER(?l != "ASIA")
        |}
        |ORDER BY ?c ?anc""".stripMargin,
      // The caller picks the hop bound for its hierarchy, like
      // graph08's default: this one is 2 deep (cust→nation→region),
      // and every bound ≥ depth returns identical rows while each
      // excess hop costs a full (empty) join+distinct stage.
      maxPathHops = 3
    )

  /** graph11: SPARQL UNION as TEXT — `{ … } UNION { … }` branches,
    * each compiled to its own bgpMatch plan and combined with BAG
    * semantics (duplicates kept, like real SPARQL union) and
    * null-aligned bindings: `?r` binds only in the first branch, so
    * union rows from the second carry null — the same alignment
    * oxigraph applies. Nations that are in ASIA, together with
    * nations carrying the sparse `flagged` annotation; a flagged
    * ASIA nation appears once per branch. */
  def graph11SparqlUnion(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?x ?l ?r
        |WHERE {
        |  { ?x <in_region> ?r . ?r <label> "ASIA" . ?x <label> ?l }
        |  UNION
        |  { ?x <flagged> "true" . ?x <label> ?l }
        |}
        |ORDER BY ?x ?r""".stripMargin
    )

  /** graph12: SPARQL sequence + inverse property paths as TEXT —
    * `<in_nation>/<in_region>/<label>` walks customer→nation→region→
    * label in ONE predicate position (desugared at parse time into a
    * pattern chain through hidden fresh variables — ordinary joins,
    * no closure needed for a fixed-length path), and `?n ^<in_nation>
    * ?c` binds the same rows as `?c <in_nation> ?n` (endpoint swap).
    * The two idioms a real SKOS/ontology user writes constantly
    * (`skos:broader/skos:prefLabel`, `^skos:narrower`). Per customer:
    * its nation label and region label. */
  def graph12SparqlPathOps(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?c ?nl ?rl
        |WHERE {
        |  ?c <in_nation>/<in_region>/<label> ?rl .
        |  ?n ^<in_nation> ?c .
        |  ?n <label> ?nl
        |}
        |ORDER BY ?c""".stripMargin
    )

  /** graph13: SPARQL VALUES + BIND as TEXT — inline bindings join in
    * as a BROADCAST literal frame (shared var ?l constrains the label
    * scan; at 100 TB the constant table is the canonical broadcast
    * side), and BIND adds a computed column through the FILTER
    * expression language. The reference's oxigraph surface accepts
    * both (arbitrary SPARQL strings, sparql_query.py:89). */
  def graph13SparqlValuesBind(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?n ?l ?ll
        |WHERE {
        |  ?n <label> ?l .
        |  ?n <in_region> ?r .
        |  VALUES ?l { "NATION_2" "NATION_7" "NATION_11" } .
        |  BIND(LCASE(?l) AS ?ll)
        |}
        |ORDER BY ?ll""".stripMargin
    )

  /** graph14: SPARQL MINUS as TEXT — `{ … } MINUS { … }` compiles to
    * a LEFT ANTI join on the branches' shared variables (?n): ASIA
    * nations that do NOT carry the sparse `flagged` annotation. The
    * negation idiom of real ontology queries ("concepts without an
    * exact match"); as an anti join it stays a single shuffle with no
    * subtraction materialization. */
  def graph14SparqlMinus(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?n ?l
        |WHERE {
        |  { ?n <in_region> ?r . ?r <label> "ASIA" . ?n <label> ?l }
        |  MINUS
        |  { ?n <flagged> "true" }
        |}
        |ORDER BY ?n""".stripMargin
    )

  /** graph16: SPARQL CONSTRUCT as TEXT — the third result shape the
    * reference's run_query surface returns (a graph, i.e. a triple
    * set). The template derives a materialized 2-hop shortcut edge
    * and its inverse from the customer→nation→region BGP — the
    * ontology-closure materialization move (build the inferred edge
    * once, query it forever after). Template instantiation is one
    * projection per template triple over the solution frame, a
    * unionAll, and the set-semantics distinct — no extra joins. */
  def graph16SparqlConstruct(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """CONSTRUCT { ?c <in_region> ?r . ?r <has_member> ?c }
        |WHERE { ?c <in_nation> ?n . ?n <in_region> ?r }""".stripMargin
    )

  /** graph17: SPARQL DESCRIBE as TEXT — the node-lookup query form
    * (the reference CLI's obvious exploration verb: every triple a
    * resource participates in, either side). Compiles to one
    * predicate-pushed scan with an isin filter — no join; set
    * semantics like CONSTRUCT. */
  def graph17SparqlDescribe(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(triples(lake), "DESCRIBE <nat:4> <reg:1>")

  /** The triple store as an RDF DATASET: the same synthesized triples
    * tagged with a named graph per predicate family — the reference
    * loads its 13 ontologies into one store as one named graph each
    * and wraps queries in GRAPH clauses (sparql_query.py:52,:60); here
    * the graph boundary falls on predicate families, which is where a
    * graph-partitioned store would shard anyway. A real ingestion tags
    * `g` at load time (one graph per source file). */
  def quads(lake: Lake): DataFrame =
    triples(lake).withColumn(
      "g",
      when(col("p") === "in_nation", lit("graph:people"))
        .when(col("p") === "in_region", lit("graph:topology"))
        .when(col("p") === "label", lit("graph:labels"))
        .otherwise(lit("graph:flags"))
    )

  /** graph18: the SPARQL DATASET surface as TEXT — one query string
    * exercising all three named-graph constructs: a FROM dataset
    * clause scoping the default graph to the topology, a ground
    * `GRAPH <iri>` group pulling labels from the labels graph, and a
    * `GRAPH ?g` group binding the graph that holds each nation's
    * sparse `flagged` annotation. Each GRAPH clause prunes the quad
    * frame to one graph BEFORE matching — on a graph-partitioned
    * store that's partition pruning, not a scan-then-filter. */
  def graph18SparqlGraphs(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      quads(lake),
      // A dataset clause pins the WHOLE dataset (spec §13.2), so the
      // graphs the GRAPH groups touch must be declared FROM NAMED
      // alongside the FROM default graph.
      """SELECT ?n ?name ?g
        |FROM <graph:topology>
        |FROM NAMED <graph:labels>
        |FROM NAMED <graph:flags>
        |WHERE {
        |  ?n <in_region> ?reg .
        |  GRAPH <graph:labels> { ?n <label> ?name } .
        |  GRAPH ?g { ?n <flagged> "true" }
        |}
        |ORDER BY ?n""".stripMargin
    )

  /** graph25: SPARQL FROM NAMED as TEXT — the dataset clause that
    * completes the §13.2 surface: declaring it pins which graphs
    * `GRAPH ?g` may range over, so the any-predicate group below
    * binds solutions from the labels and flags graphs ONLY (people
    * and topology exist in the store but are not named). On a
    * graph-partitioned 100 TB store the named list compiles to an
    * `isin` partition prune, identical to a ground GRAPH IRI. The
    * per-graph counts depend only on the fixed 25-nation/5-region
    * tables, so the result is scale-stable. */
  def graph25SparqlFromNamed(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      quads(lake),
      """SELECT ?g (COUNT(*) AS ?n_triples)
        |FROM NAMED <graph:labels>
        |FROM NAMED <graph:flags>
        |WHERE { GRAPH ?g { ?s ?p2 ?o } }
        |GROUP BY ?g
        |ORDER BY ?g""".stripMargin
    )

  /** graph19: SPARQL FILTER EXISTS / NOT EXISTS as TEXT — the
    * spec's existence test, the OTHER negation idiom next to MINUS
    * (and the one real ontology queries reach for first: "concepts
    * with at least one member", "terms lacking an annotation"). Each
    * group compiles to a LEFT SEMI (anti when negated) join on the
    * shared variable — one shuffle, no per-solution probing, the
    * 100 TB shape of an existence gate. Here: nations outside EUROPE
    * that have at least one customer (EXISTS — semi join against the
    * in_nation scan) and do NOT carry the sparse `flagged`
    * annotation (NOT EXISTS — anti join), with a plain FILTER
    * composing alongside. */
  def graph19SparqlExists(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?n ?l
        |WHERE {
        |  ?n <in_region> ?r .
        |  ?r <label> ?rl .
        |  ?n <label> ?l .
        |  FILTER(?rl != "EUROPE")
        |  FILTER EXISTS { ?c <in_nation> ?n }
        |  FILTER NOT EXISTS { ?n <flagged> "true" }
        |}
        |ORDER BY ?n""".stripMargin
    )

  /** graph20: SPARQL zero-or-more property path as TEXT — `p*` is
    * `p+` unioned with the spec's ZeroLengthPath (every graph node
    * reaches itself), the reflexive-transitive idiom ontology
    * hierarchies actually use (`skos:broader*` = "the concept AND its
    * ancestors" — rdfs/SKOS closures are reflexive). Two-variable
    * zero-length solutions range over the graph's nodes (subjects ∪
    * objects — one linear distinct, no quadratic work); the label
    * join then prunes to labeled nodes, so every nation/region pairs
    * with itself AND nations pair with their region. */
  def graph20SparqlPathStar(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?start ?anc ?l
        |WHERE {
        |  ?start <in_region>* ?anc .
        |  ?anc <label> ?l .
        |}
        |ORDER BY ?start ?anc""".stripMargin
    )

  /** graph21: SPARQL subquery as TEXT — `{ SELECT … GROUP BY … }`
    * inside WHERE, the spec's aggregate-in-pattern construct (§12)
    * and the idiom behind "concepts with more than N members". The
    * subquery evaluates bottom-up against the same store, joins into
    * the outer group on its shared variable, and the outer FILTER
    * reads the aggregate alias — the HAVING idiom without HAVING. At
    * scale this is the pre-aggregate-then-join plan one writes by
    * hand: the count partial-aggregates map-side before the join,
    * never shipping per-customer rows through the label join. */
  def graph21SparqlSubquery(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?nl ?n_customers
        |WHERE {
        |  { SELECT ?n (COUNT(?c) AS ?n_customers)
        |    WHERE { ?c <in_nation> ?n } GROUP BY ?n }
        |  ?n <label> ?nl .
        |  FILTER(?n_customers >= 5)
        |}
        |ORDER BY ?nl""".stripMargin
    )

  /** graph22: SPARQL negated property set as TEXT — `!(p1|p2|…)`
    * matches every triple whose predicate is OUTSIDE the set (SPARQL
    * PathNegatedPropertySet), the "any edge except the boring ones"
    * exploration idiom (e.g. skip rdfs:label/rdf:type when walking an
    * unknown ontology). Compiles to one NOT IN filter on the scan —
    * the complement of predicate partition pruning. Excluding the
    * three annotation predicates leaves exactly the topology edges,
    * which then join to their endpoint labels. */
  def graph22SparqlNegatedProps(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?s ?o ?l
        |WHERE {
        |  ?s !(<in_nation>|<label>|<flagged>) ?o .
        |  ?o <label> ?l .
        |}
        |ORDER BY ?s""".stripMargin
    )

  /** graph23: multi-triple OPTIONAL as TEXT — `OPTIONAL { A . B }`
    * left-joins the A⋈B SOLUTIONS as one unit (SPARQL leftjoin), so
    * the group's bindings are both-or-nothing: a nation that has a
    * label but no `flagged` annotation binds NEITHER here, where two
    * separate OPTIONALs would bind the label alone. That distinction
    * is the whole construct; the plan is the group's inner join
    * feeding one left join — no per-row probing. */
  def graph23SparqlOptionalGroup(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?c ?n ?f ?fl
        |WHERE {
        |  ?c <in_nation> ?n .
        |  OPTIONAL { ?n <flagged> ?f . ?n <label> ?fl }
        |}
        |ORDER BY ?c""".stripMargin
    )

  /** graph28: NESTED OPTIONAL through the text front-end — the
    * recursive LeftJoin tree (round-9 engine addition): every labeled
    * subject, optionally its region hierarchy, and — only inside a
    * successful hierarchy match — optionally the sparse `flagged`
    * annotation. The data exercises all three regimes: region
    * subjects miss the outer group entirely (rl AND fl null,
    * both-or-nothing), unflagged nations bind the outer group but
    * miss the inner one, every-third nations bind both. */
  def graph28SparqlNestedOptional(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?n ?nl ?rl ?fl
        |WHERE {
        |  ?n <label> ?nl .
        |  OPTIONAL { ?n <in_region> ?r . ?r <label> ?rl .
        |             OPTIONAL { ?n <flagged> ?fl } }
        |}
        |ORDER BY ?n""".stripMargin
    )

  /** graph29: VALUES with UNDEF through the text front-end (18.5
    * mapping compatibility, the other round-9 engine addition): one
    * row pins the subject and leaves the label unconstrained, the
    * other pins the label across all subjects — each solution joins
    * every row it is compatible with. */
  def graph29SparqlValuesUndef(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?n ?nl
        |WHERE {
        |  ?n <label> ?nl .
        |  VALUES (?n ?nl) { (<nat:0> UNDEF) (UNDEF "NATION_18") }
        |}
        |ORDER BY ?n ?nl""".stripMargin
    )

  /** graph24: SPARQL HAVING + GROUP_CONCAT through the text
    * front-end — the last two grouped-query constructs the fragment
    * lacked. HAVING's aggregate call is computed as an internal column
    * in the SAME partial-aggregating groupBy (rewritten to a
    * `_having0` reference, filtered, dropped at projection — never a
    * second pass over the store); GROUP_CONCAT sorts each group's
    * values before joining so the string is deterministic under any
    * partitioning (the engine's SAMPLE→min rule). The MIN(?nl)
    * predicate is scale-stable: region→nation labels are fixed at
    * every SF, so the same two regions survive at sf0.001 and sf100. */
  def graph24SparqlHaving(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?rl (COUNT(DISTINCT ?n) AS ?n_nations)
        |       (GROUP_CONCAT(DISTINCT ?nl; SEPARATOR=", ") AS ?nations)
        |WHERE {
        |  ?n <in_region> ?r .
        |  ?r <label> ?rl .
        |  ?n <label> ?nl
        |}
        |GROUP BY ?rl
        |HAVING(MIN(?nl) < "NATION_12")
        |ORDER BY ?rl""".stripMargin
    )

  /** graph15: SPARQL ASK as TEXT — the reference surface's other
    * query form (sparql_query.py's run_query prints `Result: bool`
    * when oxigraph returns one). Two probes in one frame: the sparse
    * `flagged` annotation exists somewhere (true), and a label the
    * store cannot contain (false); limit(1) short-circuits each
    * scan. */
  def graph15SparqlAsk(lake: Lake): DataFrame = {
    val t = triples(lake)
    graft.sparql.Sparql.run(t, """ASK { ?n <flagged> "true" }""")
      .withColumn("probe", lit("has_flagged"))
      .unionAll(
        graft.sparql.Sparql.run(t, """ASK { ?x <label> "NO_SUCH_LABEL" }""")
          .withColumn("probe", lit("impossible_label")))
      .select(col("probe"), col("ask"))
      .orderBy("probe")
  }

  /** graph10: SPARQL aggregation as TEXT — graph04's hand-built
    * count-per-nation expressed as a query string: `GROUP BY` +
    * `(COUNT(DISTINCT ?c) AS ?n_customers)` compile to a plain
    * partial-aggregating groupBy over the BGP join, so the same
    * oracle family checks the aggregate path of the parser. */
  def graph10SparqlAgg(lake: Lake): DataFrame =
    graft.sparql.Sparql.run(
      triples(lake),
      """SELECT ?nl (COUNT(DISTINCT ?c) AS ?n_customers)
        |WHERE {
        |  ?c <in_nation> ?n .
        |  ?n <in_region> ?r .
        |  ?r <label> "ASIA" .
        |  ?n <label> ?nl
        |}
        |GROUP BY ?nl
        |ORDER BY ?nl""".stripMargin
    )

  /** graph26: NUMERIC aggregates over TYPED literals — the one
    * SPARQL-fragment reject a reference corpus could plausibly hit
    * (ontology annotation values like counts and scores are
    * `"5"^^xsd:integer` literals; VERDICT r6 #8). The store gains a
    * `balance` predicate whose objects are `"lex"^^xsd:decimal`
    * typed literals built from customer balances; the query SUMs and
    * AVGs them per nation through the text front-end — the engine
    * strips the literal syntax, numeric-guards the cast, and
    * propagates any non-numeric binding as an UNBOUND aggregate (the
    * spec's error semantics, exercised in SparqlSpec). Post-rounds to
    * 4dp for cross-engine float stability. */
  def graph26SparqlNumericAgg(lake: Lake): DataFrame = {
    val bal = lake.customer.select(
      concat(lit("cust:"), col("c_custkey")).as("s"),
      lit("balance").as("p"),
      concat(
        lit("\""), col("c_acctbal").cast("string"),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#decimal>")).as("o")
    )
    graft.sparql.Sparql
      .run(
        triples(lake).unionAll(bal),
        """SELECT ?nl (SUM(?b) AS ?total_bal) (AVG(?b) AS ?avg_bal)
          |       (COUNT(?b) AS ?n_cust)
          |WHERE {
          |  ?c <balance> ?b .
          |  ?c <in_nation> ?n .
          |  ?n <label> ?nl
          |}
          |GROUP BY ?nl
          |ORDER BY ?nl""".stripMargin
      )
      .select(
        col("nl").as("nation"),
        round(col("total_bal"), 4).as("total_bal"),
        round(col("avg_bal"), 4).as("avg_bal"),
        col("n_cust")
      )
  }

  /** graph07: OPTIONAL + FILTER over the triple store — `?n in_region
    * ?r . ?r label ?rl . OPTIONAL { ?n flagged ?fl } . FILTER(?rl !=
    * "ASIA")`. Nations keep their row whether or not the sparse
    * `flagged` annotation exists (left join), and the filter prunes
    * one region's solutions — the two SPARQL constructs the
    * reference's ontology queries use beyond plain BGP. */
  def graph07OptionalFilter(lake: Lake): DataFrame =
    bgpMatch(
      triples(lake),
      Seq(
        ("?n", "in_region", "?r"),
        ("?r", "label", "?rl"),
        ("?n", "flagged", "?fl")
      ),
      broadcastIdx = Set(1, 2),
      optionalIdx = Set(2),
      filterExpr = Some(col("rl") =!= "ASIA")
    )
      .select(col("n").as("nation_iri"), col("rl").as("region_label"), col("fl").as("flagged"))
      .orderBy("nation_iri")

  /** `?c in_nation ?n . ?n in_region ?r . ?r label ?rl` — the original
    * hard-coded 3-pattern query, now expressed through bgpMatch (label
    * and hierarchy patterns broadcast, as before). */
  def graph03TriplePatterns(lake: Lake): DataFrame =
    bgpMatch(
      triples(lake),
      Seq(
        ("?c", "in_nation", "?n"),
        ("?n", "in_region", "?r"),
        ("?r", "label", "?rl")
      ),
      broadcastIdx = Set(1, 2)
    )
      .groupBy(col("rl").as("region_label"))
      .agg(countDistinct(col("c")).as("n_customers"))
      .orderBy("region_label")

  /** Multi-variable BGP with a constant object binding — `?c
    * in_nation ?n . ?n in_region ?r . ?r label "ASIA" . ?n label ?nl`:
    * customers per nation label within one named region. Exercises
    * constant filtering on the OBJECT position and two label patterns
    * over the same variable graph. */
  def graph04BgpNationCounts(lake: Lake): DataFrame =
    bgpMatch(
      triples(lake),
      Seq(
        ("?c", "in_nation", "?n"),
        ("?n", "in_region", "?r"),
        ("?r", "label", "ASIA"),
        ("?n", "label", "?nl")
      ),
      broadcastIdx = Set(1, 2, 3)
    )
      .groupBy(col("nl").as("nation_label"))
      .agg(countDistinct(col("c")).as("n_customers"))
      .orderBy("nation_label")

  /** 4-level hierarchy rollup with per-level subtotals — the
    * reference's actual ontology rollup depth (OpenAlex
    * domain > field > subfield > topic): here the chain is
    * ALL > region > nation > order-priority over the order fact
    * table, with one subtotal row per node at EVERY level (SQL
    * ROLLUP — grouping-set expansion happens map-side as partial
    * aggregates; no extra pass per level). `level` is derived from
    * GROUPING() flags: 0 = grand total ... 3 = leaf.
    *
    * Via the spark.sql surface: the DataFrame rollup + orderBy
    * formulation trips the analyzer's ambiguous-self-join heuristic
    * on the nullable grouping output (same as rel09). */
  def graph05HierarchyRollup4(lake: Lake): DataFrame = {
    lake.registerViews()
    lake.spark.sql(
      """SELECT
        |  CAST(3 - GROUPING(r_name) - GROUPING(n_name)
        |         - GROUPING(o_orderpriority) AS BIGINT) AS level,
        |  COALESCE(r_name, 'ALL') AS region,
        |  COALESCE(n_name, 'ALL') AS nation,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice), 4) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name, o_orderpriority)
        |ORDER BY level, region, nation, priority""".stripMargin
    )
  }

  /** Closure demo over a deterministic synthetic edge list derived
    * from nation keys (src -> (2*src+7) mod 25) — the recursive-CTE
    * analog, hop-bounded at 4. */
  def graph02TransitiveClosure(lake: Lake): DataFrame = {
    val edges = lake.nation.select(
      col("n_nationkey").cast("long").as("src"),
      pmod(col("n_nationkey") * 2 + 7, lit(25)).cast("long").as("dst")
    )
    transitiveClosure(edges, 4).orderBy("src", "dst")
  }

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
    * PRECONDITION: the edge list must be SYMMETRIC (every (u,v) paired
    * with (v,u) — graph06 bidirects its pairs before calling). The
    * node universe is the index's sources and each iteration rebuilds
    * ranks from the messages' targets, so on a general directed graph
    * sinks would never be ranked and in-degree-0 nodes would drop
    * after the first iteration. On a symmetric graph neither case
    * exists.
    *
    * The loop is the co-partitioned primitive kernel (graph27's
    * pattern). Integer addition is order-independent, so it is the
    * SAME function as the DataFrame join/groupBy loop GraphSpec keeps
    * as its reference — spec-pinned bit-for-bit over the full rank
    * table. Why it beats that loop at scale (measured in BASELINE
    * round 15, "graph06's loop re-kerneled"):
    *  - the edge side is ONE shuffle total: raw pairs hash-partition
    *    by src into a LongAdj index, whose distinct-pair fold replaces
    *    the SQL `repartition(a,b).distinct()` exchange, and whose run
    *    length is outdeg — the outdeg window shuffle is gone too.
    *  - each iteration is exactly ONE shuffle (reduceByKey on dst):
    *    ranks stay co-partitioned with the index, the contribution
    *    expansion is the index's narrow neighbour walk, and the
    *    map-side combiner both halves the shuffle volume and bounds
    *    task memory by spilling (ExternalAppendOnlyMap) — the
    *    AGGREGATE_OUT_OF_MEMORY failure mode of the fused SQL
    *    aggregate at sf10 cannot occur here.
    *  - no per-iteration AQE stage materializations, no broadcast
    *    builds, no join: the 10-stage SQL loop becomes iters+1
    *    stages.
    * Rank generations are each consumed exactly once (by the next
    * iteration), so none is persisted — every reduceByKey leaves
    * shuffle files that bound task-retry recompute to one iteration,
    * so no checkpoint cadence is needed at any iters. Only the index
    * persists (it is read every iteration). */
  private[graft] def pagerankKernelMicro(
      spark: org.apache.spark.sql.SparkSession,
      raw: RDD[(Long, Long)],
      iters: Int
  ): DataFrame = {
    val p = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    )
    val adj = raw
      .partitionBy(p)
      .mapValues((_, 0L))
      .mapPartitions(it => Iterator.single(LongAdj.build(it)), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // |V| = Σ per-partition distinct srcs (each src lives in exactly
    // one partition) — one small job
    val n = adj.map(_.nodes.size.toLong).fold(0L)(_ + _)
    import spark.implicits._
    if (n == 0)
      return spark.emptyDataset[(Long, Long)].toDF("node", "r")
    val totalMass = 1000000000000L
    val perNode = totalMass / n
    val teleport = (15L * perNode) / 100L
    // seed narrowly off the index's own sources — already partitioned
    // by p, no separate nodes frame, no extra shuffle
    var ranks: RDD[(Long, Long)] = adj.mapPartitions(
      _.next().nodes.map(node => (node, perNode)),
      preservesPartitioning = true
    )
    for (_ <- 1 to iters) {
      ranks = ranks
        .zipPartitions(adj, preservesPartitioning = false) { (rit, ait) =>
          ait.next().send(rit)((r, _, deg) => r / deg) // exact: r div outdeg
        }
        .reduceByKey(p, _ + _) // the iteration's ONE shuffle
        .mapValues(s => teleport + (85L * s) / 100L)
    }
    spark.createDataFrame(ranks).toDF("node", "r")
  }

  /** graph06: rank customers and suppliers by PageRank on the
    * bidirected trading graph (distinct customer-supplier pairs from
    * lineitem x orders — the citation-graph centrality analog on the
    * lake's own fact data). 5 iterations, top 20.
    *
    * The loop runs on LONG node ids (customer -> 2k, supplier ->
    * 2k+1): an 8-byte long beats a variable-length "c12345" string in
    * every hash, shuffle and compare, and the 'c'/'s' labels are
    * re-derived once, on the topK output. The raw bidirected stream
    * feeds the index UN-deduped: the index keeps distinct pairs, and
    * bidirect-then-distinct ≡ distinct-then-bidirect (the two
    * orientations are distinct elements either way). */
  def graph06Pagerank(
      lake: Lake,
      iters: Int = 5,
      topK: Int = 20
  ): DataFrame = {
    val raw = lake.lineitem
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(
        lake.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey")
      )
      .select(
        expr("o_custkey * 2L").as("a"),
        expr("l_suppkey * 2L + 1L").as("b")
      )
      .queryExecution
      .toRdd // InternalRow: no Row boxing on the hot scan
      .mapPartitions(it => it.map(r => (r.getLong(0), r.getLong(1))))
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    pagerankKernelMicro(lake.spark, raw, iters)
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

  /** graph27 and graph30's shared frame. `loop` gets:
    *  - `p`, the shuffle-partitions HashPartitioner;
    *  - the bidirected order↔part co-purchase graph of lineitem on
    *    long node ids (order → 2k, part → 2k+1; graph06's rationale),
    *    weighted by `w` (unit hops when None), as one LongAdj per
    *    partition of `p`. Raw edges go through ONE shuffle into the
    *    index, whose in-array fold replaces both a SQL distinct (an
    *    extra exchange, measured 2.4 vs 1.9 s at sf0.1) and a boxed
    *    per-partition dedupe map (an allocation failure at sf10, 120M
    *    directed edges). An unweighted graph shuffles bare (src, dst)
    *    pairs: Java serialization writes a two-long tuple as one
    *    object but a (src, (dst, w)) edge as three, which doubled
    *    graph27's task time at sf0.1 when it shipped unit weights;
    *  - the seed: the smallest order key at value 0, partitioned by
    *    `p`. A driver-side 1-row scalar (bounded collect) — parquet
    *    aggregate pushdown answers it from footer stats; an empty lake
    *    gives an empty seed, so the kernel degrades to zero rows
    *    instead of a null seed (EmptyLakeSpec).
    * Its (node, value) result is displayed once as ord:/prt: strings. */
  private def orderPartGraph(
      lake: Lake,
      w: Option[Column],
      value: String
  )(
      loop: (HashPartitioner, RDD[LongAdj], RDD[(Long, Long)]) => RDD[(Long, Long)]
  ): DataFrame = {
    val spark = lake.spark
    val p = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    )
    val rows = lake.lineitem
      .select(Seq(expr("l_orderkey * 2L"), expr("l_partkey * 2L + 1L")) ++
        w.map(_.cast("long")): _*)
      .queryExecution
      .toRdd // InternalRow: no Row boxing on the hot scan
    val edges = w match {
      case None =>
        rows
          .mapPartitions(_.flatMap { r =>
            val (a, b) = (r.getLong(0), r.getLong(1)); Iterator((a, b), (b, a))
          })
          .partitionBy(p)
          .mapValues((_, 1L))
      case Some(_) =>
        rows
          .mapPartitions(_.flatMap { r =>
            val (a, b, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
            Iterator((a, (b, c)), (b, (a, c)))
          })
          .partitionBy(p)
    }
    val adj = edges
      .mapPartitions(it => Iterator.single(LongAdj.build(it)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seed = lake.lineitem
      .agg((min("l_orderkey") * lit(2L)).cast("long").as("node"))
      .filter(col("node").isNotNull)
      .collect()
      .map(r => (r.getLong(0), 0L))
    import spark.implicits._
    loop(
      p,
      adj,
      spark.sparkContext
        .parallelize(seed.toSeq, 1)
        .partitionBy(p)
        .persist(StorageLevel.MEMORY_AND_DISK)
    ).toDF("node", value)
      .select(
        expr(
          "IF(node % 2 = 0, concat('ord:', node div 2), concat('prt:', (node - 1) div 2))"
        ).as("node"),
        col(value)
      )
  }

  /** graph27: multi-source-capable frontier BFS — hop distances from
    * a seed over the bidirected order↔part co-purchase graph (the
    * "how far is everything from X" traversal the closure can't
    * serve at scale: transitiveClosure materializes ALL-PAIRS
    * reachability — quadratic output — while BFS from a seed set is
    * linear in the visited nodes). Every node is EXPANDED EXACTLY
    * ONCE no matter how many paths reach it (the recursive-CTE replay
    * enumerates paths — their count grows ~30x per level on this
    * graph — which is exactly why the frontier form is the one that
    * survives big graphs).
    *
    * Pregel-shape kernel (round 14, VERDICT r13 #2). The DataFrame
    * loop paid ~9 physical stages PER LEVEL (each level's join /
    * distinct / anti-join exchanges plus AQE's per-cache stage
    * materializations: 37 jobs / 37 stages / 1300 tasks at sf0.1 for
    * milliseconds of kernel work, BASELINE round 14), and no
    * DataFrame shape tried got below ~4 materializations per level.
    * The co-partitioned form is GraphX's execution model (public
    * Pregel/GraphX design) re-expressed minimally:
    *   - edges hash-partitioned ONCE into the LongAdj index;
    *   - each level = exactly ONE shuffle (the frontier's neighbour
    *     walk, repartitioned by node), then a NARROW zipPartitions
    *     against the co-partitioned visited set does dedupe +
    *     anti-join in one per-partition hash set;
    *   - visited stays co-partitioned via PartitionerAwareUnionRDD,
    *     so no level ever re-exchanges state.
    * Measured: 5.9 -> 1.9 s at sf0.1 (3x, identical rows). At 100 TB
    * per-partition visited slices are |visited|/P and messages
    * shuffle once per superstep — the one operator family where the
    * declarative form is structurally worse, which is why it drops to
    * the RDD layer (the documented last resort, taken on
    * measurement). */
  def graph27BfsDistances(lake: Lake, maxDepth: Int = 4): DataFrame =
    orderPartGraph(lake, None, "dist") { (p, adj, seed) =>
      var visited = seed
      var frontier = seed
      for (_ <- 1 to maxDepth) {
        val next = frontier
          // narrow: frontier and the index share partitioner p, so the
          // expansion touches ONLY the frontier's adjacency rows
          .zipPartitions(adj, preservesPartitioning = false) { (fit, ait) =>
            ait.next().send(fit)((d, w, _) => d + w) // unit hop weights
          }
          .partitionBy(p) // the level's ONE shuffle
          .zipPartitions(visited, preservesPartitioning = true) { (m, vis) =>
            val seen = new java.util.HashSet[Long]()
            vis.foreach(kv => seen.add(kv._1))
            m.filter(kv => seen.add(kv._1)) // anti-join + dedupe in one
          }
          .persist(StorageLevel.MEMORY_AND_DISK)
        visited = visited.union(next) // PartitionerAwareUnionRDD keeps p
        frontier = next
      }
      visited
    }.orderBy("dist", "node")

  /** graph30: bounded-hop WEIGHTED shortest paths — graph27's BFS
    * with edge costs (min l_quantity over duplicate order-part
    * edges, the index's least-weight fold), i.e. Bellman-Ford
    * relaxation: after k rounds every node holds the cheapest cost
    * over paths of ≤ k edges. Unlike BFS, a node already reached can
    * get CHEAPER on a later round (a long low-weight path beats a
    * short heavy one). Hop-bounded like graph02/27: the round count is
    * the contract (k-edge-bounded costs), not a convergence loop.
    *
    * Oracle: the ≤ maxHops-edge paths enumerate exactly as a
    * recursive CTE (hops < maxHops guard, cycles allowed — the hop
    * bound keeps the enumeration finite) folded by MIN per node,
    * which is term-for-term the Bellman-Ford recurrence.
    *
    * Pregel-shape kernel, graph27's sibling (the DataFrame relaxation
    * loop paid the same per-round AQE stage floors: 26 jobs / 26
    * stages at sf0.1), with DELTA relaxation: only nodes whose cost
    * CHANGED last round send messages — an unchanged node would
    * re-send exactly what it sent when it last changed and min()
    * already took it, so the pruning is exact (round 1's "changed"
    * set is the seed; a cost that would improve at round k comes from
    * a neighbour that changed at round k-1). Measured: 4.6 -> 2.7 s
    * at sf0.1, identical rows. */
  def graph30ShortestPaths(lake: Lake, maxHops: Int = 4): DataFrame =
    orderPartGraph(lake, Some(col("l_quantity")), "cost") { (p, adj, seed) =>
      var dist = seed
      var changed = seed
      for (_ <- 1 to maxHops) {
        val relaxed = changed
          // narrow: only the changed nodes' adjacency rows are touched
          .zipPartitions(adj, preservesPartitioning = false) { (cit, ait) =>
            ait.next().send(cit)((cost, w, _) => cost + w)
          }
          .partitionBy(p) // the round's ONE shuffle
        val merged = dist
          .zipPartitions(relaxed, preservesPartitioning = true) { (dv, rv) =>
            val m = new java.util.HashMap[Long, Long]()
            dv.foreach { case (n, c) => m.put(n, c) }
            val ch = new java.util.HashMap[Long, Long]()
            rv.foreach { case (n, c) =>
              // getOrDefault, not get: a boxed-null get would silently
              // unbox to 0L under Scala's Long auto-unboxing
              val old = m.getOrDefault(n, Long.MaxValue)
              if (c < old) { m.put(n, c); ch.put(n, c) }
            }
            import scala.jdk.CollectionConverters._
            m.entrySet()
              .iterator()
              .asScala
              .map(e => (e.getKey, (e.getValue, ch.containsKey(e.getKey))))
          }
          .persist(StorageLevel.MEMORY_AND_DISK)
        dist = merged.mapValues(_._1)
        changed = merged.filter(_._2._2).mapValues(_._1)
      }
      dist
    }.orderBy("node")
}
