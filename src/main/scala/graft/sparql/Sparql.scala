package graft.sparql

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, array_join, array_sort, avg, broadcast, coalesce, col, collect_list, collect_set, count, countDistinct, expr, lit, max, min, regexp_replace, size, sum, sum_distinct, when}

/** SPARQL *text* front-end — the reference's actual graph interface is
  * a string (reference: scripts/sparql_query.py:89 `run_query(store,
  * query)` executes arbitrary SPARQL SELECT text, with prefix
  * injection at :52 and named-graph wrapping at :60). graft has had
  * the semantics (BGP, OPTIONAL, FILTER, property paths) behind
  * `Graph.bgpMatch` since round 4; this parser closes the UX gap by
  * compiling the already-supported fragment from SPARQL text:
  *
  * {{{
  *   PREFIX pre: <iri>            -- any number; common W3C set
  *                                --   auto-injects when none declared
  *   SELECT [DISTINCT] ?v1 ?v2 | * | (COUNT([DISTINCT] ?v|*) AS ?n)
  *   | ASK [WHERE] { … }          -- one boolean `ask` row (the
  *                                --   reference prints Result: bool)
  *   WHERE {                      --   aggregates: COUNT/MIN/MAX
  *     s p o .                    -- terms: ?var | <iri> | pre:local | "lit"
  *     OPTIONAL { s p o . … } .   -- multi-triple groups left-join as
  *                                --   a unit (both-or-nothing)
  *     FILTER(expr) .             -- ?v comparisons, && || !, REGEX/
  *     FILTER EXISTS { … } .      -- existence gate (semi join); NOT
  *                                --   EXISTS anti-joins; full
  *                                --   fragment inside (recursive)
  *     { SELECT … } .             -- subquery: full recursion, joins
  *                                --   on shared vars (SPARQL §12)
  *     VALUES ?v { "a" <i> } .    -- inline bindings; also (?a ?b) rows
  *     BIND(expr AS ?v) .         -- computed binding, FILTER's language
  *   }                            --   CONTAINS/STRSTARTS/STRENDS/
  *   GROUP BY ?v1                 --   STRLEN/LCASE/UCASE/BOUND
  *   ORDER BY ?v1 DESC(?v2)
  *   LIMIT n OFFSET m             -- either order (SPARQL grammar)
  * }}}
  *
  * or a WHERE body of braced groups joined by `UNION` — `{ … } UNION
  * { … }` with any number of branches, each branch its own
  * BGP/OPTIONAL group — or a `{ … } MINUS { … }` pair (left anti join
  * on the shared variables) — plus property paths in the predicate
  * position: `<p>+` / `(<p1>|<p2>)+` (one-or-more over a predicate
  * union) compiled to the hop-bounded distributed closure, `<p>*`
  * (zero-or-more: the closure unioned with SPARQL's ZeroLengthPath —
  * a ground endpoint contributes itself, two variables range over
  * the graph's nodes) and `<p>?` (zero-or-one), sequence paths
  * `seg1/seg2/…` desugared into pattern chains through hidden
  * fresh variables, inverse segments `^p` (endpoint swap, `^p+` =
  * `^(p+)` per the SPARQL grammar), and the `a` keyword for rdf:type.
  * Against a QUAD frame (s, p, o, g) the dataset surface also works:
  * `FROM <iri>` (default graph = merge of the listed graphs),
  * `GRAPH <iri> { … }` (full fragment inside, over one pruned graph),
  * and `GRAPH ?g { … }` (plain patterns; g binds per solution).
  * Subqueries `{ SELECT … }` evaluate bottom-up against the outer
  * default graph and join into their group on shared variables —
  * aggregates, DISTINCT, ORDER/LIMIT all work inside via the same
  * recursive parse (only the subquery's projected variables are
  * visible outside, per SPARQL 1.1 §12).
  * Anything outside the fragment (`?p` predicate variables with
  * paths, bare alternation without a modifier, UNION/MINUS mixes
  * with each other or with subqueries, GRAPH against a 3-column
  * frame, nested GRAPH, …) is rejected with a message
  * naming the construct — never silently misparsed.
  *
  * The compiled query runs as ordinary Catalyst plans: each pattern is
  * a constant-filtered scan of the (s, p, o) triple frame, patterns
  * join on shared variables, OPTIONAL is a left join, UNION a
  * null-aligning bag union of per-branch plans, FILTER a post-group
  * predicate — so the same text that oxigraph walks in-process scales
  * out as joins.
  */
object Sparql {

  /** One `(FN(?v) AS ?alias)` projection: fn ∈ COUNT/MIN/MAX/SAMPLE/
    * GROUP_CONCAT, `variable` is None for COUNT(*). `sep` is
    * GROUP_CONCAT's SEPARATOR (default single space, per SPARQL). */
  final case class Aggregate(
      fn: String,
      isDistinct: Boolean,
      variable: Option[String],
      alias: String,
      sep: String = " "
  )

  final case class ParsedQuery(
      selectVars: Seq[String], // without '?'; empty => SELECT *
      patterns: Seq[(String, String, String)],
      optionalIdx: Set[Int],
      filterSql: Option[String], // translated to Spark SQL text
      orderBy: Seq[(String, Boolean)], // (var, descending)
      limit: Option[Int],
      distinct: Boolean = false,
      aggregates: Seq[Aggregate] = Seq.empty,
      groupBy: Seq[String] = Seq.empty,
      // SELECT-clause order across plain vars and agg aliases
      projection: Seq[String] = Seq.empty,
      // UNION branches beyond the first (patterns/optionalIdx above
      // are branch 0); empty for plain single-group queries
      moreBranches: Seq[(Seq[(String, String, String)], Set[Int])] = Seq.empty,
      // fresh variables minted by sequence-path desugaring — real
      // bindings during matching, hidden from SELECT * output
      internalVars: Seq[String] = Seq.empty,
      offset: Option[Int] = None,
      // VALUES blocks: (vars without '?', rows of term values)
      values: Seq[(Seq[String], Seq[Seq[String]])] = Seq.empty,
      // BIND(expr AS ?v) blocks: (var without '?', Spark SQL text)
      binds: Seq[(String, String)] = Seq.empty,
      // `{ … } MINUS { … }`: the right-hand group, anti-joined
      minusBranch: Option[(Seq[(String, String, String)], Set[Int])] = None,
      // ASK query: result is one boolean `ask` row
      isAsk: Boolean = false,
      // CONSTRUCT query: instantiate `template` per solution (s, p, o)
      isConstruct: Boolean = false,
      template: Seq[(String, String, String)] = Seq.empty,
      // DESCRIBE query: ground IRIs whose triples to return
      describeIris: Seq[String] = Seq.empty,
      // FROM <iri> dataset clauses: the default graph is the RDF merge
      // (set union) of the named graphs listed
      fromGraphs: Seq[String] = Seq.empty,
      // FROM NAMED <iri> dataset clauses: the graphs GRAPH may range
      // over (when either clause kind is present, the dataset is
      // exactly what is declared)
      fromNamedGraphs: Seq[String] = Seq.empty,
      // GRAPH groups: (graph term — "?var" or ground IRI, patterns,
      // OPTIONAL indices within the group)
      graphGroups: Seq[(String, Seq[(String, String, String)], Set[Int])] =
        Seq.empty,
      // FILTER [NOT] EXISTS groups: (negated, synthetic SELECT *
      // query text the group re-parses as — outer PREFIX/FROM
      // serialized back in, so the full fragment works inside)
      existsGroups: Seq[(Boolean, String)] = Seq.empty,
      // `{ SELECT … }` subqueries: complete query texts (outer PREFIX
      // prepended) run recursively against the outer default graph
      // and joined into the group on their shared variables
      subSelects: Seq[String] = Seq.empty,
      // multi-triple OPTIONAL groups: each inner-joins its own
      // patterns, then LEFT-joins the group on the shared variables
      // (SPARQL leftjoin — bindings are both-or-nothing per group);
      // groups NEST (OPTIONAL inside OPTIONAL) as the recursive
      // leftjoin the algebra prescribes
      optionalGroups: Seq[OptGroup] = Seq.empty,
      // HAVING: Spark SQL text over group keys + the internal
      // aggregates below (aggregate calls in the body are rewritten
      // to _having{i} references; computed, filtered on, then dropped)
      havingSql: Option[String] = None,
      havingAggs: Seq[Aggregate] = Seq.empty
  )

  /** One OPTIONAL group: its own required patterns (with in-chain
    * single-triple OPTIONAL indices) plus recursively nested OPTIONAL
    * groups — SPARQL's LeftJoin(P1, LeftJoin(P2, …)) tree. */
  final case class OptGroup(
      patterns: Seq[(String, String, String)],
      optionalIdx: Set[Int],
      nested: Seq[OptGroup])

  final case class SparqlParseError(msg: String)
      extends IllegalArgumentException(s"SPARQL parse error: $msg")

  /** The reference auto-injects these when a query declares no PREFIX
    * of its own (sparql_query.py:33 COMMON_PREFIXES, injected at :52
    * under the same only-if-absent rule). W3C-standard namespaces
    * only. */
  val CommonPrefixes: Map[String, String] = Map(
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "owl" -> "http://www.w3.org/2002/07/owl#",
    "skos" -> "http://www.w3.org/2004/02/skos/core#",
    "xsd" -> "http://www.w3.org/2001/XMLSchema#",
    "obo" -> "http://purl.obolibrary.org/obo/"
  )

  /** Execute a SPARQL SELECT/ASK/CONSTRUCT string against an
    * (s, p, o) triple frame — or an (s, p, o, g) QUAD frame, which
    * additionally enables the dataset surface: `FROM <iri>` restricts
    * the default graph to the RDF merge (set union) of the listed
    * graphs, `FROM NAMED <iri>` restricts which graphs GRAPH ranges
    * over, `GRAPH <iri> { … }` matches a group against one named
    * graph (the full fragment works inside — OPTIONAL, paths), and
    * `GRAPH ?g { … }` binds the graph name per solution (plain
    * patterns inside). With no dataset clause, a quad frame's default
    * graph is the union of all graphs (the union-default-graph
    * convention the reference's store uses; set semantics, hence the
    * distinct) and GRAPH ranges over every graph; with one, the
    * dataset is exactly what is declared (spec §13.2). */
  def run(triples: DataFrame, query: String, maxPathHops: Int = 8): DataFrame = {
    val p = parse(query)
    val hasG = triples.columns.contains("g")
    def needQuads(what: String): Unit =
      if (!hasG)
        throw SparqlParseError(
          s"$what needs a named-graph (s, p, o, g) quad frame")
    // A dataset clause of either kind pins the WHOLE dataset (spec
    // §13.2): FROM NAMED alone leaves the default graph empty, FROM
    // alone leaves GRAPH nothing to range over.
    val datasetDeclared = p.fromGraphs.nonEmpty || p.fromNamedGraphs.nonEmpty
    // Name whichever clause kind is actually present: a FROM NAMED-only
    // query must not be told "FROM needs a quad frame".
    if (datasetDeclared)
      needQuads(if (p.fromGraphs.nonEmpty) "FROM" else "FROM NAMED")
    // The default graph every non-GRAPH pattern matches against.
    val defaultGraph =
      if (datasetDeclared) {
        if (p.fromGraphs.isEmpty) triples.filter(lit(false)).select("s", "p", "o")
        else {
          val f = triples
            .filter(col("g").isin(p.fromGraphs: _*))
            .select("s", "p", "o")
          // one graph is already a set; a merge of several must dedupe
          if (p.fromGraphs.lengthCompare(1) > 0) f.distinct() else f
        }
      } else if (hasG) triples.select("s", "p", "o").distinct()
      else triples
    // The quad frame GRAPH clauses range over: every graph by
    // default; exactly the FROM NAMED list once a dataset is
    // declared. On a graph-partitioned store the isin is partition
    // pruning, same as a ground GRAPH IRI.
    val namedScope =
      if (!datasetDeclared) triples
      else if (p.fromNamedGraphs.isEmpty) triples.filter(lit(false))
      else triples.filter(col("g").isin(p.fromNamedGraphs: _*))
    // DESCRIBE: every triple the resource participates in, either
    // side — one predicate-pushed scan, set semantics. The isin
    // filters push to the parquet scan; no join, no shuffle beyond
    // the distinct.
    if (p.describeIris.nonEmpty) {
      val iris = p.describeIris
      return defaultGraph
        .filter(col("s").isin(iris: _*) || col("o").isin(iris: _*))
        .select("s", "p", "o")
        .distinct()
        .orderBy("s", "p", "o")
    }
    // FILTER pushes into the BGP plan only when nothing later in the
    // chain (VALUES / BIND / union alignment / GRAPH groups) can bind
    // a variable it reads; otherwise it applies group-level over the
    // final bindings (the fragment's documented contract — all bodies
    // AND together).
    val pushFilter =
      p.moreBranches.isEmpty && p.values.isEmpty && p.binds.isEmpty &&
        p.minusBranch.isEmpty && p.graphGroups.isEmpty &&
        p.subSelects.isEmpty && p.optionalGroups.isEmpty
    // GRAPH groups compile separately: a ground IRI prunes the quad
    // frame to one graph and runs the ordinary BGP plan over it (at a
    // graph-partitioned 100 TB store that filter is partition
    // pruning); `GRAPH ?g` runs the quad-bind join with g as one more
    // variable column.
    val graphFrames = p.graphGroups.map { case (gTerm, pats, optIdx) =>
      needQuads("GRAPH")
      if (gTerm.startsWith("?")) quadGroup(namedScope, gTerm.drop(1), pats)
      else
        Graph.bgpMatch(
          namedScope.filter(col("g") === gTerm).select("s", "p", "o"),
          pats,
          optionalIdx = optIdx,
          maxPathHops = maxPathHops
        )
    }
    val mainFrame: Option[DataFrame] =
      if (p.patterns.isEmpty) None
      else if (p.moreBranches.isEmpty)
        Some(
          Graph.bgpMatch(
            defaultGraph,
            p.patterns,
            optionalIdx = p.optionalIdx,
            filterExpr = if (pushFilter) p.filterSql.map(expr) else None,
            maxPathHops = maxPathHops
          )
        )
      else {
        // UNION: each branch is its own BGP plan; solutions combine
        // with BAG semantics (SPARQL union keeps duplicates — DISTINCT
        // is the caller's explicit choice), variables bound in only
        // some branches null-pad in the others (unionByName's
        // allowMissingColumns is exactly SPARQL's binding alignment).
        Some(
          ((p.patterns, p.optionalIdx) +: p.moreBranches)
            .map { case (pats, optIdx) =>
              Graph.bgpMatch(defaultGraph, pats, optionalIdx = optIdx,
                maxPathHops = maxPathHops)
            }
            .reduce(_.unionByName(_, allowMissingColumns = true))
        )
      }
    // Subqueries evaluate bottom-up against the outer default graph
    // (SPARQL 1.1 §12) and join into the group like any other pattern
    // frame — only their projected variables are visible. Aggregating
    // subqueries partial-aggregate before the join, the
    // pre-aggregate-then-join shape one writes by hand at scale.
    val subFrames = p.subSelects.map(run(defaultGraph, _, maxPathHops))
    // GRAPH groups and subqueries AND with the surrounding group: join
    // on shared variables (cross join when disjoint — SPARQL's
    // cartesian rule).
    val matchedInner =
      (mainFrame.toSeq ++ graphFrames ++ subFrames).reduceLeft { (a, f) =>
        val shared = a.columns.intersect(f.columns).toSeq
        if (shared.nonEmpty) a.join(f, shared) else a.crossJoin(f)
      }
    // Multi-triple OPTIONAL groups: the group's patterns inner-join
    // among themselves (via bgpMatch), then the WHOLE group left-joins
    // on the shared variables — SPARQL's leftjoin, so the group's
    // bindings appear both-or-nothing (two separate single-triple
    // OPTIONALs would bind independently; this is the difference).
    // Nested groups recurse the same leftjoin: the group's frame is
    // LeftJoin(bgp(P1), frame(P2)) before the outer join — a var an
    // outer pattern shares with the group should come from the
    // group's REQUIRED patterns (a nested-only binding can be null
    // on a miss, and null keys never match — the MINUS fragment's
    // disjoint-domain caveat applies).
    def optFrame(g: OptGroup): DataFrame = {
      val base = Graph.bgpMatch(
        defaultGraph, g.patterns,
        optionalIdx = g.optionalIdx, maxPathHops = maxPathHops)
      g.nested.foldLeft(base) { (acc, ng) =>
        val f = optFrame(ng)
        val shared = acc.columns.intersect(f.columns).toSeq
        if (shared.isEmpty)
          throw SparqlParseError(
            "nested OPTIONAL shares no variable with its enclosing group")
        acc.join(f, shared, "left")
      }
    }
    val matchedRaw = p.optionalGroups.foldLeft(matchedInner) { (acc, g) =>
      val f = optFrame(g)
      val shared = acc.columns.intersect(f.columns).toSeq
      if (shared.isEmpty)
        throw SparqlParseError(
          "OPTIONAL group shares no variable with the surrounding group")
      acc.join(f, shared, "left")
    }
    // MINUS: a LEFT ANTI join on the branches' shared variables —
    // solutions drop when the right group binds the same values.
    // Exact-equality semantics: a left row with a NULL shared binding
    // (from OPTIONAL) never matches, which is SPARQL's disjoint-domain
    // rule for the single-shared-var case; rows partially bound across
    // SEVERAL shared vars diverge from the spec's bound-vars-only
    // compatibility and are out of this fragment's scope.
    val afterMinus = p.minusBranch.fold(matchedRaw) { case (pats, optIdx) =>
      val right = Graph.bgpMatch(triples, pats, optionalIdx = optIdx,
        maxPathHops = maxPathHops)
      val shared = matchedRaw.columns.intersect(right.columns).toSeq
      if (shared.isEmpty)
        throw SparqlParseError("MINUS branches share no variable (removes nothing)")
      matchedRaw.join(right.select(shared.map(col): _*), shared, "left_anti")
    }
    // VALUES: inline bindings join in as a BROADCAST literal frame
    // under SPARQL's mapping-COMPATIBILITY rule (18.5): a solution
    // and a VALUES row join when every shared var either matches or
    // is unbound on one side — an UNDEF cell (null in the frame)
    // constrains nothing, and an OPTIONAL-unbound solution var picks
    // its binding up FROM the row (coalesce after the join). The
    // per-var `null-or-equal` condition makes this a broadcast
    // nested-loop join of a tiny inline table — bounded by the query
    // text, the legitimate BNLJ class. New vars bind (cross join).
    // BINDs add computed columns over the result. Group-level FILTER
    // closes the chain; a var unbound in a union branch compares as
    // null => row dropped, SPARQL's error-is-false.
    val withValues = p.values.foldLeft(afterMinus) { case (acc, (vars, rows)) =>
      val schema = org.apache.spark.sql.types.StructType(vars.map(v =>
        org.apache.spark.sql.types.StructField(
          v, org.apache.spark.sql.types.StringType, nullable = true)))
      val litDf = triples.sparkSession.createDataFrame(
        java.util.Arrays.asList(
          rows.map(r => org.apache.spark.sql.Row(r: _*)): _*),
        schema)
      val shared = acc.columns.intersect(vars).toSeq
      if (shared.isEmpty) acc.crossJoin(broadcast(litDf))
      else {
        val pfx = "__values_"
        val renamed = vars.foldLeft(litDf)((d, v) =>
          d.withColumnRenamed(v, pfx + v))
        val compat = shared
          .map(v =>
            col(pfx + v).isNull || col(v).isNull || (col(pfx + v) === col(v)))
          .reduce(_ && _)
        val joined = acc.join(broadcast(renamed), compat)
        val mergedShared = shared.foldLeft(joined)((d, v) =>
          d.withColumn(v, coalesce(col(v), col(pfx + v))))
        val withNew = vars
          .filterNot(shared.contains)
          .foldLeft(mergedShared)((d, v) => d.withColumn(v, col(pfx + v)))
        withNew.drop(vars.map(pfx + _): _*)
      }
    }
    val withBinds = p.binds.foldLeft(withValues) { case (acc, (v, sql)) =>
      acc.withColumn(v, expr(sql))
    }
    val withFilter =
      if (pushFilter) withBinds
      else p.filterSql.map(expr).fold(withBinds)(withBinds.filter)
    // FILTER [NOT] EXISTS: each group re-enters run() on the same
    // dataset and gates the solutions with a LEFT SEMI join (anti
    // when negated) on the shared variables — SPARQL's existence test
    // as the one-shuffle semi-join idiom, never materializing the
    // inner solutions per outer row. A group sharing NO variable
    // degenerates to an any-solution-at-all gate: a broadcast
    // limit(1) probe of the inner plan, so the scan short-circuits.
    // Null shared bindings (OPTIONAL misses) never match — the same
    // single-shared-var exactness contract MINUS documents above;
    // partially-bound multi-var rows are out of this fragment.
    val matched = p.existsGroups.foldLeft(withFilter) { case (acc, (neg, sub)) =>
      val inner = run(triples, sub, maxPathHops)
      val shared = acc.columns.intersect(inner.columns).toSeq
      val joinType = if (neg) "left_anti" else "left_semi"
      if (shared.nonEmpty)
        acc.join(inner.select(shared.map(col): _*), shared, joinType)
      else acc.join(broadcast(inner.limit(1)), lit(true), joinType)
    }
    // ASK: does at least one solution survive the chain? limit(1)
    // short-circuits the scan; the result is one boolean row.
    if (p.isAsk)
      return matched
        .limit(1)
        .select(lit(1).as("one"))
        .agg((count("one") > 0).as("ask"))
    // CONSTRUCT: instantiate each template triple per solution, union
    // the instantiations, and dedupe — a graph is a SET of triples.
    // Solutions leaving a template variable unbound (OPTIONAL misses)
    // emit no triple, per the SPARQL template-instantiation rule.
    if (p.isConstruct) {
      def termCol(t: String) =
        if (t.startsWith("?")) {
          val v = t.drop(1)
          if (!matched.columns.contains(v))
            throw SparqlParseError(
              s"CONSTRUCT template variable ?$v is not bound in WHERE")
          col(v)
        } else lit(t)
      return p.template
        .map { case (s, pr, o) =>
          matched.select(termCol(s).as("s"), termCol(pr).as("p"), termCol(o).as("o"))
        }
        .reduce(_.unionAll(_))
        .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
        .distinct()
        .orderBy("s", "p", "o")
    }
    val referenced =
      p.selectVars ++ p.groupBy ++ p.aggregates.flatMap(_.variable) ++
        p.havingAggs.flatMap(_.variable)
    referenced.distinct.filterNot(matched.columns.contains) match {
      case missing if missing.nonEmpty =>
        throw SparqlParseError(
          s"SELECT variable(s) ${missing.mkString(", ")} not bound by any pattern")
      case _ =>
    }
    val selected =
      // The grouped branch must also fire for GROUP BY with a
      // no-aggregate HAVING (legal SPARQL: SELECT ?n … GROUP BY ?n
      // HAVING(?n != "a")) — gating on aggregates alone silently
      // dropped both the grouping and the HAVING filter.
      if (p.aggregates.nonEmpty || p.havingAggs.nonEmpty ||
          p.groupBy.nonEmpty || p.havingSql.nonEmpty) {
        // GROUP BY + aggregates — a plain partial-aggregating groupBy
        // (COUNT DISTINCT expands to Spark's two-stage distinct agg).
        // HAVING's internal aggregates compute alongside, filter, and
        // drop at the projection.
        val aggCols = (p.aggregates ++ p.havingAggs).map { a =>
          val arg = a.variable.map(col).getOrElse(lit(1))
          // SUM/AVG read the NUMERIC value of each binding: the
          // lexical form of a typed/plain literal ("5"^^xsd:integer,
          // "5.2", bare 5), cast only when it looks numeric (the
          // regex guard keeps ANSI cast from throwing). A group
          // holding any non-numeric binding aggregates to UNBOUND
          // (null) — the spec's error propagation, not SQL's
          // ignore-NULLs.
          lazy val nv = numericLiteral(arg)
          lazy val bad = count(when(arg.isNotNull && nv.isNull, 1))
          def strict(agg: Column): Column =
            when(bad > 0, lit(null).cast("double")).otherwise(agg)
          // DISTINCT applies at the RDF-TERM level, not the parsed
          // numeric value: "2"^^xsd:integer and "2.00"^^xsd:decimal
          // are distinct terms that BOTH contribute, even though they
          // parse to the same 2.0 (sum_distinct over the numeric
          // column would collapse them). collect_set gathers the
          // distinct terms; the numeric parse happens per element.
          lazy val distinctTerms = collect_set(arg)
          lazy val sumOfDistinctTerms =
            aggregate(distinctTerms, lit(0.0), (acc, x) => acc + numericLiteral(x))
          val c = (a.fn, a.isDistinct) match {
            case ("COUNT", true)  => countDistinct(arg)
            case ("COUNT", false) => count(arg)
            case ("MIN", _)       => min(arg)
            case ("MAX", _)       => max(arg)
            // Sum of the empty multiset is 0 by definition (SPARQL
            // 18.5.1.5), not unbound — hence the coalesce; AVG over
            // empty stays unbound (its definition divides by COUNT=0).
            case ("SUM", false)   => strict(coalesce(sum(nv), lit(0.0)))
            case ("SUM", true)    => strict(sumOfDistinctTerms)
            case ("AVG", false)   => strict(avg(nv))
            case ("AVG", true) =>
              strict(sumOfDistinctTerms / size(distinctTerms))
            // SPARQL SAMPLE may return ANY value of the group; this
            // engine picks the minimum so results are deterministic
            // under any partitioning (first/any_value are not).
            case ("SAMPLE", _)    => min(arg)
            // SPARQL leaves GROUP_CONCAT order implementation-defined;
            // this engine sorts the group's values so the result is
            // deterministic under any partitioning (SAMPLE's rule).
            case ("GROUP_CONCAT", false) =>
              array_join(array_sort(collect_list(arg)), a.sep)
            case ("GROUP_CONCAT", true) =>
              array_join(array_sort(collect_set(arg)), a.sep)
            case other            => throw SparqlParseError(s"unreachable aggregate $other")
          }
          c.as(a.alias)
        }
        val grouped =
          if (p.groupBy.isEmpty) matched.groupBy()
          else matched.groupBy(p.groupBy.map(col): _*)
        // Zero aggregate columns (GROUP BY + HAVING on group keys
        // only): the group frame is just the distinct key tuples —
        // same shuffle as the agg, no aggregation buffer.
        val agged =
          if (aggCols.isEmpty) matched.select(p.groupBy.map(col): _*).distinct()
          else grouped.agg(aggCols.head, aggCols.tail: _*)
        val havinged = p.havingSql.fold(agged)(h => agged.where(expr(h)))
        havinged.select(p.projection.map(col): _*) // SELECT-clause order
      } else if (p.selectVars.isEmpty)
        // SELECT *: the path-desugar's fresh variables are plumbing,
        // not user bindings
        p.internalVars.foldLeft(matched)(_.drop(_))
      else matched.select(p.selectVars.map(col): _*)
    // DISTINCT after projection (SPARQL semantics: over the selected
    // bindings), before ORDER BY — the dedup shuffle keys the
    // projected columns only.
    val dedup = if (p.distinct) selected.distinct() else selected
    val ordered =
      if (p.orderBy.isEmpty) dedup
      else dedup.orderBy(p.orderBy.map {
        case (v, true)  => col(v).desc
        case (v, false) => col(v)
      }: _*)
    val skipped = p.offset.fold(ordered)(ordered.offset)
    p.limit.fold(skipped)(skipped.limit)
  }

  /** `GRAPH ?g { … }` matcher: the bgpMatch bind/join chain extended
    * with the graph column as a fourth bound term — every pattern in
    * the group carries the SAME graph variable, so the per-pattern
    * scans join on g exactly like any shared variable and the group
    * binds one graph name per solution. */
  private def quadGroup(
      quads: DataFrame,
      gVar: String,
      pats: Seq[(String, String, String)]
  ): DataFrame = {
    def scan(pat: (String, String, String)): DataFrame = Graph.bind(
      quads,
      Seq("s" -> pat._1, "p" -> pat._2, "o" -> pat._3, "g" -> ("?" + gVar)))
    pats.map(scan).reduceLeft { (a, b) =>
      val shared = a.columns.intersect(b.columns).toSeq
      if (shared.nonEmpty) a.join(b, shared) else a.crossJoin(b)
    }
  }

  // ---------------------------------------------------------------- parse

  def parse(query: String): ParsedQuery = {
    val noComments = stripComments(query)
    // EXISTS + subquery extraction runs FIRST: `FILTER [NOT] EXISTS
    // { … }` carries a braced group (plain-FILTER extraction would
    // reject it as "not parenthesized"), and a subquery's inner
    // FILTERs must stay its own.
    val (noGroups, existsRaw, subSelectsRaw) = extractGroups(noComments)
    val (noFilters, filterBodies) = extractFilters(noGroups)
    val (noBinds, bindBodies) = extractBinds(noFilters)
    // HAVING bodies carry comparison operators ('<' would lex as an
    // IRI opener), so they splice out of the raw text like FILTERs.
    val (noHaving, havingBodies) = extractHaving(noBinds)
    val toks = tokenize(noHaving)
    val st = new TokenStream(toks)

    // PREFIX decls. A query that declares NONE gets the common W3C
    // set injected (the reference's only-if-absent rule) — an
    // explicit PREFIX anywhere switches injection off entirely, so a
    // query's own declarations are never silently shadowed.
    var prefixes =
      if (toks.exists(_.equalsIgnoreCase("PREFIX"))) Map.empty[String, String]
      else CommonPrefixes
    while (st.peekKeyword("PREFIX")) {
      st.next() // PREFIX
      val name = st.next()
      if (!name.endsWith(":"))
        throw SparqlParseError(s"PREFIX name must end with ':' (got '$name')")
      val iri = st.next()
      if (!(iri.startsWith("<") && iri.endsWith(">")))
        throw SparqlParseError(s"PREFIX IRI must be <...> (got '$iri')")
      prefixes += (name.dropRight(1) -> iri.substring(1, iri.length - 1))
    }

    // ASK is the reference surface's other query form (sparql_query.py
    // prints `Result: true/false` when oxigraph returns a bool);
    // CONSTRUCT is the third, returning a graph (triple set).
    val isAsk = st.peekKeyword("ASK")
    val isConstruct = st.peekKeyword("CONSTRUCT")
    val isDescribe = st.peekKeyword("DESCRIBE")
    if (!isAsk && !isConstruct && !isDescribe && !st.peekKeyword("SELECT"))
      throw SparqlParseError(
        s"only SELECT, ASK, CONSTRUCT, and DESCRIBE queries are supported (got '${st.peekOr("<end>")}')")
    st.next()
    // ASK, CONSTRUCT, and DESCRIBE have no SELECT projection clause
    val noProjection = isAsk || isConstruct || isDescribe

    var distinct = false
    if (!noProjection) {
      if (st.peekKeyword("DISTINCT")) { st.next(); distinct = true }
      else if (st.peekKeyword("REDUCED")) st.next() // REDUCED may legally no-op
    }

    // SELECT items: plain ?vars and (FN([DISTINCT] ?v|*) AS ?alias)
    // aggregate projections, in clause order.
    var selectVars = Vector.empty[String]
    var aggregates = Vector.empty[Aggregate]
    var projection = Vector.empty[String]
    if (noProjection) () // ASK/CONSTRUCT — straight to the template/group
    else if (st.peek == Some("*")) st.next()
    else {
      var more = true
      while (more) {
        st.peek match {
          case Some(v) if v.startsWith("?") =>
            st.next(); selectVars :+= v.drop(1); projection :+= v.drop(1)
          case Some("(") =>
            st.next()
            val fn = st.next().toUpperCase(java.util.Locale.ROOT)
            if (!Set("COUNT", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT", "SUM", "AVG")(fn))
              throw SparqlParseError(
                s"aggregate $fn is not supported (COUNT/MIN/MAX/SUM/AVG/SAMPLE/GROUP_CONCAT)")
            st.expect("(")
            var isDistinct = false
            if (st.peekKeyword("DISTINCT")) { st.next(); isDistinct = true }
            val arg = st.next() match {
              case "*" =>
                if (fn != "COUNT")
                  throw SparqlParseError(s"$fn(*) is not valid SPARQL")
                None
              case v if v.startsWith("?") => Some(v.drop(1))
              case other =>
                throw SparqlParseError(s"aggregate argument must be ?var or * (got '$other')")
            }
            // GROUP_CONCAT(?v; SEPARATOR="…") — the one aggregate with
            // a scalar argument in the SPARQL grammar.
            var sep = " "
            if (st.peek == Some(";")) {
              if (fn != "GROUP_CONCAT")
                throw SparqlParseError(s"only GROUP_CONCAT takes a ';' argument (got $fn)")
              st.next()
              if (!st.peekKeyword("SEPARATOR"))
                throw SparqlParseError("expected SEPARATOR after ';' in GROUP_CONCAT")
              st.next()
              st.expect("=")
              val lit = st.next()
              if (!(lit.length >= 2 && lit.startsWith("\"") && lit.endsWith("\"")))
                throw SparqlParseError(s"SEPARATOR must be a \"string\" (got '$lit')")
              sep = lit.substring(1, lit.length - 1)
            }
            st.expect(")")
            if (!st.peekKeyword("AS"))
              throw SparqlParseError("aggregates need an (… AS ?alias) binding")
            st.next()
            val alias = st.next()
            if (!alias.startsWith("?"))
              throw SparqlParseError(s"AS must bind a ?alias (got '$alias')")
            st.expect(")")
            aggregates :+= Aggregate(fn, isDistinct, arg, alias.drop(1), sep)
            projection :+= alias.drop(1)
          case _ => more = false
        }
      }
      if (projection.isEmpty)
        throw SparqlParseError("SELECT needs at least one ?var, aggregate, or *")
    }

    def term(t: String): String =
      if (t.startsWith("?")) t
      else if (t.startsWith("<") && t.endsWith(">")) t.substring(1, t.length - 1)
      else if (t.startsWith("\"") && t.endsWith("\"")) t.substring(1, t.length - 1)
      else if (t.contains(":")) {
        val Array(p, local) = t.split(":", 2)
        prefixes.getOrElse(
          p,
          throw SparqlParseError(s"unknown prefix '$p:' in '$t'")
        ) + local
      } else
        throw SparqlParseError(
          s"unsupported term '$t' (expected ?var, <iri>, prefix:local, or \"literal\")")

    // DESCRIBE: ground IRIs only, no WHERE group — the node-lookup
    // form (`DESCRIBE obo:GO_0008150`): every triple the resource
    // participates in, either side. Fully handled here.
    if (isDescribe) {
      if (filterBodies.nonEmpty || bindBodies.nonEmpty || havingBodies.nonEmpty)
        throw SparqlParseError("DESCRIBE takes no FILTER, BIND, or HAVING")
      var iris = Vector.empty[String]
      while (st.peek.isDefined) {
        val t = st.next()
        if (t.startsWith("?"))
          throw SparqlParseError(
            "DESCRIBE ?var is not supported (ground IRIs only)")
        if (t.equalsIgnoreCase("WHERE") || t == "{")
          throw SparqlParseError("DESCRIBE takes no WHERE group in this fragment")
        iris :+= term(t)
      }
      if (iris.isEmpty)
        throw SparqlParseError("DESCRIBE needs at least one IRI")
      return ParsedQuery(Seq.empty, Seq.empty, Set.empty, None, Seq.empty,
        None, describeIris = iris)
    }

    // CONSTRUCT template: plain var-or-ground triples only — property
    // paths describe how to MATCH, not what to BUILD, so they have no
    // meaning in a template.
    var template = Vector.empty[(String, String, String)]
    if (isConstruct) {
      st.expect("{")
      while (st.peek != Some("}")) {
        val s = term(st.next())
        val pt = st.next()
        val p2 =
          if (pt == "a") "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
          else term(pt)
        if (Seq("+", "*", "/").exists(x => st.peek.contains(x)))
          throw SparqlParseError(
            "property paths are not allowed in a CONSTRUCT template")
        val o = term(st.next())
        template :+= ((s, p2, o))
        if (st.peek == Some(".")) st.next()
      }
      st.next() // }
      if (template.isEmpty)
        throw SparqlParseError("CONSTRUCT template has no triples")
    }

    // Dataset clause (SPARQL grammar: DatasetClause* before WHERE for
    // every query form): any mix of `FROM <iri>` (the default graph
    // becomes the merge of the listed graphs) and `FROM NAMED <iri>`
    // (the named graphs GRAPH may range over). Declaring EITHER kind
    // pins the whole dataset, per the spec: FROM NAMED alone leaves
    // the default graph EMPTY, FROM alone leaves GRAPH nothing to
    // match.
    var fromGraphs = Vector.empty[String]
    var fromNamedGraphs = Vector.empty[String]
    while (st.peekKeyword("FROM")) {
      st.next()
      val named = st.peekKeyword("NAMED")
      if (named) st.next()
      val iri = term(st.next())
      if (iri.startsWith("?"))
        throw SparqlParseError("FROM needs a ground IRI, not a variable")
      if (named) fromNamedGraphs :+= iri else fromGraphs :+= iri
    }

    // ASK's WHERE keyword is optional in the SPARQL grammar
    if (st.peekKeyword("WHERE")) st.next()
    else if (!isAsk) throw SparqlParseError("expected WHERE")
    // `WHERE { SELECT … }` is legal SPARQL (the grammar lets the
    // group's braces wrap a bare SubSelect); the subquery splice then
    // removed the braces along with the block, so a WHERE whose
    // entire group was one subquery has no '{' left to consume.
    val soleSubquery = st.peek != Some("{") && subSelectsRaw.nonEmpty
    if (!soleSubquery) st.expect("{")

    // One path segment in the predicate position: plain term, term+,
    // (t1|t2|...)+, each optionally '^'-inverted (SPARQL grammar:
    // PathEltOrInverse, so `^p+` is `^(p+)`). Returns (pred, inverted).
    def pathSegment(): (String, Boolean) = {
      var inverted = false
      if (st.peek == Some("^")) { st.next(); inverted = true }
      // Optional trailing modifier: `+` (one-or-more), `*` (zero-or-
      // more), `?` (zero-or-one). The `?` here is a LONE punctuation
      // token — a `?var` object lexes as one token and never matches.
      def modifier(): String = st.peek match {
        case Some("+") => st.next(); "+"
        case Some("*") => st.next(); "*"
        case Some("?") => st.next(); "?"
        case _         => ""
      }
      val pred =
        if (st.peek.exists(_.startsWith("!"))) {
          // Negated property set `!<p>` / `!(p1|p2)`: forward
          // predicates only (the spec's `!^p` inverse members are out
          // of fragment), no closure modifiers on the set.
          val t0 = st.next()
          var alts = Vector.empty[String]
          if (t0 == "!") {
            if (st.peek == Some("(")) {
              st.next()
              alts :+= term(st.next())
              while (st.peek == Some("|")) { st.next(); alts :+= term(st.next()) }
              st.expect(")")
            } else alts :+= term(st.next())
          } else alts :+= term(t0.drop(1)) // combined token: !pre:local
          if (alts.exists(_.startsWith("?")))
            throw SparqlParseError(
              "negated property sets take ground predicates, not ?variables")
          if (Seq("+", "*", "?").exists(x => st.peek.contains(x)))
            throw SparqlParseError(
              "path modifiers on a negated property set are not supported")
          if (alts.length == 1) "!" + alts.head
          else s"!(${alts.mkString("|")})"
        } else if (st.peek == Some("(")) {
          st.next()
          var alts = Vector(term(st.next()))
          while (st.peek == Some("|")) { st.next(); alts :+= term(st.next()) }
          // name the rejection instead of failing on the ')' expect:
          // closing over a COMPOSED step needs a joined edge frame,
          // which this fragment doesn't build
          if (st.peek == Some("/"))
            throw SparqlParseError(
              "sequence paths inside a closure group are not supported (only (p1|p2) alternation)")
          st.expect(")")
          val m = modifier()
          if (m.isEmpty)
            throw SparqlParseError(
              "bare alternation without a path modifier is not supported (use (p1|p2)+ / * / ?)")
          s"(${alts.mkString("|")})$m"
        } else {
          val t = st.next()
          // SPARQL's `a` keyword == rdf:type, predicate position only
          val base =
            if (t == "a") "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
            else term(t)
          val m = modifier()
          if (m.nonEmpty && base.startsWith("?"))
            throw SparqlParseError("property paths over a ?variable are not supported")
          base + m
        }
      (pred, inverted)
    }

    // Sequence paths `seg1/seg2/…` desugar at parse time into a chain
    // of ordinary patterns through fresh internal variables (dropped
    // from SELECT * output); an inverted segment swaps its endpoints.
    var freshCounter = 0
    var internalVars = Vector.empty[String]
    // VALUES blocks are group-level in this fragment, like FILTER:
    // wherever they appear, they constrain the final bindings.
    var valuesBlocks = Vector.empty[(Seq[String], Seq[Seq[String]])]
    // GRAPH groups, collected like VALUES (group-level AND semantics).
    var graphGroups =
      Vector.empty[(String, Seq[(String, String, String)], Set[Int])]
    // Multi-triple OPTIONAL groups: each left-joins as a unit.
    var optionalGroups = Vector.empty[OptGroup]
    def triple(): Seq[(String, String, String)] = {
      val s = term(st.next())
      var segs = Vector(pathSegment())
      while (st.peek == Some("/")) { st.next(); segs :+= pathSegment() }
      val o = term(st.next())
      val hops = segs.indices.tail.map { _ =>
        freshCounter += 1
        internalVars :+= s"__path$freshCounter"
        s"?__path$freshCounter"
      }
      val ends = (s +: hops) :+ o
      segs.zipWithIndex.map { case ((pred, inverted), i) =>
        if (inverted) (ends(i + 1), pred, ends(i))
        else (ends(i), pred, ends(i + 1))
      }
    }

    // One group body: triples/OPTIONALs up to and including its '}'.
    def parseGroupBody(
        inGraph: Boolean = false
    ): (Vector[(String, String, String)], Set[Int]) = {
      val graphsBefore = graphGroups.length
      var patterns = Vector.empty[(String, String, String)]
      var optionalIdx = Set.empty[Int]
      while (st.peek != Some("}")) {
        st.peek match {
          case None => throw SparqlParseError("unterminated group (missing '}')")
          case Some(t) if t.equalsIgnoreCase("OPTIONAL") =>
            st.next()
            st.expect("{")
            // A single-triple OPTIONAL stays on the in-chain left-join
            // path (optionalIdx); a multi-triple group — including a
            // sequence path, which desugars to several patterns —
            // becomes an optionalGroup: its patterns inner-join among
            // THEMSELVES first, then the whole group left-joins, so
            // the bindings are both-or-nothing per SPARQL's leftjoin.
            // OPTIONAL inside the body recurses: a trivial inner
            // group (one triple, nothing nested) collapses onto the
            // group's own in-chain path, anything else becomes a
            // nested OptGroup — LeftJoin(P1, LeftJoin(P2, …)).
            def parseOptGroup(): OptGroup = {
              var pats = Vector.empty[(String, String, String)]
              var optIdx = Set.empty[Int]
              var nested = Vector.empty[OptGroup]
              while (st.peek != Some("}")) {
                if (st.peek.exists(_.equalsIgnoreCase("OPTIONAL"))) {
                  st.next()
                  st.expect("{")
                  // SPARQL's LeftJoin fold is POSITION-SENSITIVE: an
                  // OPTIONAL that precedes the group's required
                  // triples left-joins against the empty-so-far
                  // group, which this engine's inner-join-required-
                  // first plan cannot express — reject by name
                  // instead of silently reordering (the engine's
                  // named-rejection discipline).
                  if (pats.isEmpty)
                    throw SparqlParseError(
                      "OPTIONAL precedes the group's required triple " +
                        "patterns — position-sensitive LeftJoin is not " +
                        "supported; put required triples first")
                  val g = parseOptGroup()
                  // collapse a trivial inner group onto the in-chain
                  // path only when a REQUIRED pattern precedes it —
                  // bgpMatch's left-join chain starts from the first
                  // pattern, which must not itself be optional
                  if (g.patterns.length == 1 &&
                    g.optionalIdx.isEmpty && g.nested.isEmpty) {
                    pats :+= g.patterns.head
                    optIdx += (pats.length - 1)
                  } else nested :+= g
                } else {
                  // A required triple AFTER a nested OPTIONAL group is
                  // the same positional divergence in the other
                  // direction (the plan would inner-join it BEFORE the
                  // recorded LeftJoin) — reject rather than reorder.
                  if (nested.nonEmpty)
                    throw SparqlParseError(
                      "required triple pattern follows a nested " +
                        "OPTIONAL group — position-sensitive LeftJoin " +
                        "is not supported; put required triples first")
                  pats ++= triple()
                  if (st.peek == Some(".")) st.next()
                }
              }
              st.next() // }
              if (st.peek == Some(".")) st.next()
              if (pats.isEmpty)
                throw SparqlParseError(
                  "OPTIONAL group has no required triple patterns")
              OptGroup(pats, optIdx, nested)
            }
            val g = parseOptGroup()
            if (g.patterns.length == 1 && g.optionalIdx.isEmpty &&
              g.nested.isEmpty) {
              patterns :+= g.patterns.head
              optionalIdx += (patterns.length - 1)
            } else if (inGraph)
              throw SparqlParseError(
                "multi-triple OPTIONAL inside GRAPH is not supported")
            else optionalGroups :+= g
          case Some(t) if t.equalsIgnoreCase("UNION") =>
            throw SparqlParseError(
              "UNION branches must each be a braced group: { … } UNION { … }")
          case Some(t) if t.equalsIgnoreCase("VALUES") =>
            st.next()
            // `VALUES ?v { t1 t2 … }` or `VALUES (?a ?b) { (ta tb) … }`
            val vars: Seq[String] =
              if (st.peek == Some("(")) {
                st.next()
                var vs = Vector.empty[String]
                while (st.peek != Some(")")) {
                  val v = st.next()
                  if (!v.startsWith("?"))
                    throw SparqlParseError(s"VALUES expects ?vars (got '$v')")
                  vs :+= v.drop(1)
                }
                st.next() // )
                if (vs.isEmpty) throw SparqlParseError("VALUES needs at least one ?var")
                vs
              } else {
                val v = st.next()
                if (!v.startsWith("?"))
                  throw SparqlParseError(s"VALUES expects a ?var (got '$v')")
                Seq(v.drop(1))
              }
            def valueTerm(): String = {
              val t0 = st.next()
              // UNDEF = an unbound cell in this row's mapping: it
              // constrains nothing and binds nothing (SPARQL 18.5 —
              // mapping compatibility ignores unbound vars). Carried
              // as null through the literal frame.
              if (t0.equalsIgnoreCase("UNDEF")) return null
              val v = term(t0)
              if (v.startsWith("?"))
                throw SparqlParseError(s"VALUES data must be constants (got '$t0')")
              v
            }
            st.expect("{")
            var rows = Vector.empty[Seq[String]]
            while (st.peek != Some("}")) {
              if (vars.length == 1 && st.peek != Some("(")) rows :+= Seq(valueTerm())
              else {
                st.expect("(")
                var row = Vector.empty[String]
                while (st.peek != Some(")")) row :+= valueTerm()
                st.next() // )
                if (row.length != vars.length)
                  throw SparqlParseError(
                    s"VALUES row has ${row.length} terms for ${vars.length} vars")
                rows :+= row
              }
            }
            st.next() // }
            if (rows.isEmpty) throw SparqlParseError("VALUES block has no rows")
            valuesBlocks :+= ((vars, rows))
            if (st.peek == Some(".")) st.next()
          case Some(t) if t.equalsIgnoreCase("GRAPH") =>
            // `GRAPH <iri> { … }` (full fragment inside — the group
            // runs over one pruned graph) or `GRAPH ?g { … }` (plain
            // patterns; g binds per solution). Group-level AND.
            if (inGraph)
              throw SparqlParseError("nested GRAPH groups are not supported")
            st.next()
            val gTok = st.next()
            val gTerm = if (gTok.startsWith("?")) gTok else term(gTok)
            st.expect("{")
            val (gPats, gOpt) = parseGroupBody(inGraph = true)
            if (gTerm.startsWith("?")) {
              if (gOpt.nonEmpty)
                throw SparqlParseError(
                  "OPTIONAL inside GRAPH ?var is not supported (ground GRAPH IRIs take the full fragment)")
              if (gPats.exists(p =>
                  Seq("+", "*", "?").exists(p._2.endsWith) ||
                    p._2.startsWith("!")))
                throw SparqlParseError(
                  "property paths inside GRAPH ?var are not supported (ground GRAPH IRIs take the full fragment)")
            }
            graphGroups :+= ((gTerm, gPats, gOpt))
            if (st.peek == Some(".")) st.next()
          case Some(t) if t.equalsIgnoreCase("MINUS") || t.equalsIgnoreCase("SERVICE") =>
            throw SparqlParseError(s"${t.toUpperCase} is not supported by this fragment")
          case _ =>
            patterns ++= triple()
            if (st.peek == Some(".")) st.next()
        }
      }
      st.next() // }
      if (patterns.isEmpty && graphGroups.length == graphsBefore &&
        subSelectsRaw.isEmpty)
        throw SparqlParseError("group has no triple patterns")
      (patterns, optionalIdx)
    }

    // WHERE body: one plain group, braced branches joined by UNION —
    // `{ … } UNION { … } [UNION { … }]*` — or a single MINUS pair
    // `{ … } MINUS { … }` (a lone braced group is legal SPARQL and
    // means the same as an unbraced one). UNION/MINUS chains don't
    // mix in this fragment.
    var branches = Vector.empty[(Vector[(String, String, String)], Set[Int])]
    var minusBranch = Option.empty[(Vector[(String, String, String)], Set[Int])]
    if (soleSubquery) branches :+= ((Vector.empty, Set.empty[Int]))
    else if (st.peek == Some("{")) {
      var more = true
      while (more) {
        st.expect("{")
        branches :+= parseGroupBody()
        if (st.peekKeyword("UNION")) st.next() else more = false
      }
      if (st.peekKeyword("MINUS")) {
        if (branches.length > 1)
          throw SparqlParseError("UNION and MINUS don't mix in this fragment")
        st.next()
        st.expect("{")
        minusBranch = Some(parseGroupBody())
        Seq("MINUS", "UNION").foreach { kw =>
          if (st.peekKeyword(kw))
            throw SparqlParseError(s"only one MINUS group is supported (got a second $kw)")
        }
      }
      Seq("GRAPH", "OPTIONAL").foreach { kw =>
        if (st.peekKeyword(kw))
          throw SparqlParseError(
            s"$kw between braced groups is not supported by this fragment")
      }
      if (st.peek != Some("}"))
        throw SparqlParseError(
          "expected '}' closing WHERE after the last UNION branch")
      st.next()
    } else branches :+= parseGroupBody()
    val (patterns, optionalIdx) = branches.head
    if (graphGroups.nonEmpty && (branches.length > 1 || minusBranch.nonEmpty))
      throw SparqlParseError("GRAPH doesn't mix with UNION/MINUS in this fragment")
    // A subquery splice loses its branch position, so its group-level
    // AND semantics can't attribute it to one UNION/MINUS branch.
    if (subSelectsRaw.nonEmpty && (branches.length > 1 || minusBranch.nonEmpty))
      throw SparqlParseError(
        "subqueries don't mix with UNION/MINUS in this fragment")
    // Multi-triple OPTIONAL groups apply group-level (after the basic
    // patterns), so they can't attribute to one UNION/MINUS branch.
    if (optionalGroups.nonEmpty &&
      (branches.length > 1 || minusBranch.nonEmpty))
      throw SparqlParseError(
        "multi-triple OPTIONAL doesn't mix with UNION/MINUS in this fragment")

    if (noProjection)
      Seq("GROUP", "ORDER", "LIMIT", "OFFSET", "HAVING").foreach { kw =>
        if (st.peekKeyword(kw))
          throw SparqlParseError(
            s"${if (isAsk) "ASK" else "CONSTRUCT"} takes no $kw clause in this fragment")
      }

    var groupBy = Vector.empty[String]
    if (st.peekKeyword("GROUP")) {
      st.next()
      if (!st.peekKeyword("BY")) throw SparqlParseError("expected BY after GROUP")
      st.next()
      while (st.peek.exists(_.startsWith("?"))) groupBy :+= st.next().drop(1)
      if (groupBy.isEmpty) throw SparqlParseError("GROUP BY needs at least one ?var")
    }
    // SPARQL: with aggregates, every plain selected var must be grouped.
    if (aggregates.nonEmpty || groupBy.nonEmpty) {
      if (aggregates.isEmpty && havingBodies.isEmpty)
        throw SparqlParseError("GROUP BY without an aggregate in SELECT or HAVING")
      selectVars.filterNot(groupBy.contains) match {
        case bad if bad.nonEmpty =>
          throw SparqlParseError(
            s"non-aggregated SELECT variable(s) ${bad.mkString(", ")} must appear in GROUP BY")
        case _ =>
      }
    }

    var orderBy = Vector.empty[(String, Boolean)]
    if (st.peekKeyword("ORDER")) {
      st.next()
      if (!st.peekKeyword("BY")) throw SparqlParseError("expected BY after ORDER")
      st.next()
      var more = true
      while (more) {
        st.peek match {
          case Some(v) if v.startsWith("?") =>
            st.next(); orderBy :+= (v.drop(1), false)
          case Some(kw) if kw.equalsIgnoreCase("ASC") || kw.equalsIgnoreCase("DESC") =>
            st.next()
            st.expect("(")
            val v = st.next()
            if (!v.startsWith("?"))
              throw SparqlParseError(s"${kw.toUpperCase}() expects a ?var (got '$v')")
            st.expect(")")
            orderBy :+= (v.drop(1), kw.equalsIgnoreCase("DESC"))
          case _ => more = false
        }
      }
      if (orderBy.isEmpty) throw SparqlParseError("ORDER BY needs at least one ?var")
    }

    // LIMIT / OFFSET accept either order, per the SPARQL grammar
    // (LimitOffsetClauses), and mean the same thing: OFFSET skips
    // first, LIMIT caps what remains.
    var limit = Option.empty[Int]
    var offset = Option.empty[Int]
    def intAfter(kw: String): Int = {
      val n = st.next()
      try n.toInt
      catch {
        case _: NumberFormatException =>
          throw SparqlParseError(s"$kw expects an integer (got '$n')")
      }
    }
    var moreMods = true
    while (moreMods) {
      if (st.peekKeyword("LIMIT") && limit.isEmpty) { st.next(); limit = Some(intAfter("LIMIT")) }
      else if (st.peekKeyword("OFFSET") && offset.isEmpty) { st.next(); offset = Some(intAfter("OFFSET")) }
      else moreMods = false
    }

    st.peek.foreach(t => throw SparqlParseError(s"unexpected trailing token '$t'"))

    val filterSql = filterBodies.map(translateFilter) match {
      case Seq()  => None
      case exprs  => Some(exprs.map(e => s"($e)").mkString(" AND "))
    }
    // HAVING: rewrite each aggregate call in the body to an internal
    // `_having{i}` aggregate (computed in the same groupBy, filtered
    // on, dropped at projection); the rest of the body translates
    // exactly like a FILTER. Multiple HAVING clauses AND together.
    var havingAggs = Vector.empty[Aggregate]
    val havingSqlOpt = havingBodies match {
      case Seq() => None
      case bodies =>
        if (noProjection)
          throw SparqlParseError(
            s"${if (isAsk) "ASK" else "CONSTRUCT"} takes no HAVING clause in this fragment")
        val aggCall =
          "(?i)\\b(COUNT|MIN|MAX|SAMPLE|SUM|AVG|GROUP_CONCAT)\\s*\\(\\s*(DISTINCT\\s+)?(\\*|\\?[A-Za-z_]\\w*)\\s*\\)".r
        val parts = bodies.map { b =>
          // The rewrite runs only on non-string segments (like
          // translateFilter's operator rewrites): aggregate-looking
          // text inside a "…" literal is data, not a call.
          val rewritten = mapOutsideStrings(b, "HAVING") { code =>
            aggCall.replaceAllIn(code, m => {
              val fn = m.group(1).toUpperCase(java.util.Locale.ROOT)
              if (!Set("COUNT", "MIN", "MAX", "SAMPLE", "SUM", "AVG")(fn))
                throw SparqlParseError(
                  s"$fn in HAVING is not supported (COUNT/MIN/MAX/SUM/AVG/SAMPLE)")
              val arg = m.group(3) match {
                case "*" =>
                  if (fn != "COUNT")
                    throw SparqlParseError(s"$fn(*) is not valid SPARQL")
                  None
                case v => Some(v.drop(1))
              }
              val alias = s"_having${havingAggs.length}"
              havingAggs :+= Aggregate(fn, m.group(2) != null, arg, alias)
              alias
            })
          }
          s"(${translateFilter(rewritten)})"
        }
        Some(parts.mkString(" AND "))
    }
    // HAVING with no GROUP BY, no SELECT aggregate, and no aggregate
    // call of its own has no group to filter — reject rather than
    // guess (with GROUP BY it is legal and runs the grouped branch).
    if (havingSqlOpt.nonEmpty && groupBy.isEmpty &&
        aggregates.isEmpty && havingAggs.isEmpty)
      throw SparqlParseError(
        "HAVING without GROUP BY needs an aggregate in SELECT or HAVING")
    // Each EXISTS group becomes a standalone SELECT * query (outer
    // PREFIX declarations and FROM dataset serialized back into the
    // text) and re-enters this parser — so property paths, OPTIONAL,
    // inner FILTER, even nested EXISTS all work inside, and a
    // malformed body rejects NOW with the construct named rather than
    // at run time.
    val existsGroups = existsRaw.map { case (neg, body) =>
      val prefixText =
        prefixes.map { case (k, v) => s"PREFIX $k: <$v> " }.mkString
      val fromText = (fromGraphs.map(g => s"FROM <$g> ") ++
        fromNamedGraphs.map(g => s"FROM NAMED <$g> ")).mkString
      val sub = s"${prefixText}SELECT * ${fromText}WHERE { $body }"
      parse(sub)
      (neg, sub)
    }
    // Subquery bodies are already complete SELECT queries (the splice
    // matched `{ SELECT`); prepend the outer PREFIX set and validate
    // by recursion. They run against the outer query's default graph,
    // so FROM needs no serialization here.
    val subSelects = subSelectsRaw.map { body =>
      val prefixText =
        prefixes.map { case (k, v) => s"PREFIX $k: <$v> " }.mkString
      val sub = prefixText + body
      parse(sub)
      sub
    }
    ParsedQuery(selectVars, patterns, optionalIdx, filterSql, orderBy, limit,
      distinct, aggregates, groupBy, projection, branches.tail, internalVars,
      offset, valuesBlocks,
      bindBodies.map { case (v, body) => (v, translateFilter(body)) },
      minusBranch, isAsk, isConstruct, template,
      fromGraphs = fromGraphs, fromNamedGraphs = fromNamedGraphs,
      graphGroups = graphGroups,
      existsGroups = existsGroups, subSelects = subSelects,
      optionalGroups = optionalGroups,
      havingSql = havingSqlOpt, havingAggs = havingAggs)
  }

  // ------------------------------------------------------------- lexing

  /** `#` comments run to end-of-line, except inside "…" or <…>. */
  private def stripComments(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    var inStr = false
    var inIri = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"' && !inIri) inStr = !inStr
      else if (c == '<' && !inStr) inIri = true
      else if (c == '>' && !inStr) inIri = false
      if (c == '#' && !inStr && !inIri) {
        while (i < s.length && s.charAt(i) != '\n') i += 1
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Splice every FILTER(...) out of the text (balanced parens,
    * quote-aware) and return the remaining text plus the raw bodies.
    * FILTER is group-level in this fragment, so position is
    * irrelevant — all bodies AND together over the final bindings. */
  private def extractFilters(s: String): (String, Seq[String]) =
    extractParenBodies(s, "FILTER")

  /** HAVING(...) splices out exactly like FILTER: its body carries
    * comparison operators the lexer would mis-tokenize ('<' opens an
    * IRI). Solution-modifier position is enforced loosely (the bodies
    * AND together; a HAVING in an EXISTS/subquery body travels with
    * that group's recursive re-parse). */
  private def extractHaving(s: String): (String, Seq[String]) =
    extractParenBodies(s, "HAVING")

  /** True when `pos` falls inside a "…" literal of `s` — the scan
    * honors the ECHAR rule (`\"` does not close the literal), matching
    * mapOutsideStrings/translateFilter. */
  private def inLiteralAt(s: String, pos: Int): Boolean = {
    var inStr = false
    var i = 0
    while (i < pos) {
      if (inStr && s.charAt(i) == '\\') i += 2
      else { if (s.charAt(i) == '"') inStr = !inStr; i += 1 }
    }
    inStr
  }

  private def extractParenBodies(s: String, kwWord: String): (String, Seq[String]) = {
    val bodies = Vector.newBuilder[String]
    val out = new StringBuilder(s.length)
    val kw = s"(?i)\\b$kwWord\\b".r
    var rest = s
    var done = false
    while (!done) {
      // Ignore the keyword spelled inside a string literal.
      kw.findAllMatchIn(rest)
        .find(m => !inLiteralAt(rest, m.start)) match {
        case None => out.append(rest); done = true
        case Some(m) =>
          out.append(rest.substring(0, m.start))
          var i = m.end
          while (i < rest.length && rest.charAt(i).isWhitespace) i += 1
          if (i >= rest.length || rest.charAt(i) != '(')
            throw SparqlParseError(s"$kwWord must be followed by a parenthesized expression")
          var depth = 0
          var inStr = false
          val start = i
          var end = -1
          while (i < rest.length && end < 0) {
            val c = rest.charAt(i)
            if (inStr && c == '\\') i += 1 // ECHAR: skip the escaped char
            else if (c == '"') inStr = !inStr
            else if (!inStr && c == '(') depth += 1
            else if (!inStr && c == ')') { depth -= 1; if (depth == 0) end = i }
            i += 1
          }
          if (end < 0) throw SparqlParseError(s"unbalanced parentheses in $kwWord")
          bodies += rest.substring(start + 1, end)
          rest = rest.substring(end + 1)
          // A '.' terminator after the clause is legal noise.
          val trimmed = rest.dropWhile(_.isWhitespace)
          if (trimmed.startsWith(".")) rest = trimmed.drop(1)
      }
    }
    (out.toString, bodies.result())
  }

  /** Splice every `FILTER [NOT] EXISTS { … }` and every subquery
    * `{ SELECT … }` out of the text (balanced braces, quote-aware,
    * '.' terminator tolerated) and return the remaining text plus
    * (negated, body) pairs for EXISTS and the subquery bodies. ONE
    * left-to-right pass taking the EARLIEST match each step, so the
    * constructs nest correctly in either direction: a subquery inside
    * an EXISTS body travels WITH the EXISTS body (and vice versa) and
    * is handled by the recursive re-parse, never double-extracted.
    * Runs BEFORE plain-FILTER extraction — an EXISTS filter carries a
    * braced group, not a parenthesized expression, and a subquery's
    * inner FILTERs must stay its own. Both constructs are group-level
    * in this fragment, like FILTER. */
  private def extractGroups(
      s: String
  ): (String, Seq[(Boolean, String)], Seq[String]) = {
    val exists = Vector.newBuilder[(Boolean, String)]
    val subs = Vector.newBuilder[String]
    val out = new StringBuilder(s.length)
    val exKw = "(?i)\\bFILTER(\\s+NOT)?\\s+EXISTS\\b".r
    val subKw = "(?i)\\{\\s*SELECT\\b".r
    var rest = s
    var done = false
    // Balanced-brace scan from index `from` (which must sit on '{');
    // returns the index of the matching '}'.
    def braceEnd(from: Int): Int = {
      var i = from
      var depth = 0
      var inStr = false
      var end = -1
      while (i < rest.length && end < 0) {
        val c = rest.charAt(i)
        if (c == '"') inStr = !inStr
        else if (!inStr && c == '{') depth += 1
        else if (!inStr && c == '}') { depth -= 1; if (depth == 0) end = i }
        i += 1
      }
      end
    }
    def dropTerminator(): Unit = {
      val trimmed = rest.dropWhile(_.isWhitespace)
      if (trimmed.startsWith(".")) rest = trimmed.drop(1)
    }
    while (!done) {
      def outsideString(start: Int) =
        rest.substring(0, start).count(_ == '"') % 2 == 0
      val em = exKw.findAllMatchIn(rest).find(m => outsideString(m.start))
      val sm = subKw.findAllMatchIn(rest).find(m => outsideString(m.start))
      (em, sm) match {
        case (None, None) => out.append(rest); done = true
        case _ if em.isDefined && sm.forall(_.start > em.get.start) =>
          val m = em.get
          out.append(rest.substring(0, m.start))
          val negated = m.group(1) != null
          var i = m.end
          while (i < rest.length && rest.charAt(i).isWhitespace) i += 1
          if (i >= rest.length || rest.charAt(i) != '{')
            throw SparqlParseError(
              "FILTER EXISTS must be followed by a braced group")
          val end = braceEnd(i)
          if (end < 0)
            throw SparqlParseError("unbalanced braces in FILTER EXISTS")
          exists += ((negated, rest.substring(i + 1, end)))
          rest = rest.substring(end + 1)
          dropTerminator()
        case _ =>
          val m = sm.get
          out.append(rest.substring(0, m.start))
          val end = braceEnd(m.start)
          if (end < 0)
            throw SparqlParseError("unbalanced braces in subquery")
          subs += rest.substring(m.start + 1, end)
          rest = rest.substring(end + 1)
          dropTerminator()
      }
    }
    (out.toString, exists.result(), subs.result())
  }

  // '/' and '^' are path operators; FILTER bodies are spliced out
  // before tokenization, so arithmetic '/' never reaches this set.
  /** Splice every BIND(...) out of the text, exactly like
    * extractFilters (balanced parens, quote-aware, '.' terminator
    * tolerated), and split each body at its LAST top-level `AS` into
    * (expression, ?var). BIND is group-level in this fragment, like
    * FILTER: the computed column is added over the final bindings. */
  private def extractBinds(s: String): (String, Seq[(String, String)]) = {
    val bodies = Vector.newBuilder[(String, String)]
    val out = new StringBuilder(s.length)
    val kw = "(?i)\\bBIND\\b".r
    var rest = s
    var done = false
    while (!done) {
      kw.findAllMatchIn(rest)
        .find(m => rest.substring(0, m.start).count(_ == '"') % 2 == 0) match {
        case None => out.append(rest); done = true
        case Some(m) =>
          out.append(rest.substring(0, m.start))
          var i = m.end
          while (i < rest.length && rest.charAt(i).isWhitespace) i += 1
          if (i >= rest.length || rest.charAt(i) != '(')
            throw SparqlParseError("BIND must be followed by a parenthesized expression")
          var depth = 0
          var inStr = false
          val start = i
          var end = -1
          while (i < rest.length && end < 0) {
            val c = rest.charAt(i)
            if (c == '"') inStr = !inStr
            else if (!inStr && c == '(') depth += 1
            else if (!inStr && c == ')') { depth -= 1; if (depth == 0) end = i }
            i += 1
          }
          if (end < 0) throw SparqlParseError("unbalanced parentheses in BIND")
          val body = rest.substring(start + 1, end)
          // last top-level AS, outside quotes and parens
          var asAt = -1
          var d = 0
          var q = false
          var j = 0
          while (j < body.length - 1) {
            val c = body.charAt(j)
            if (c == '"') q = !q
            else if (!q && c == '(') d += 1
            else if (!q && c == ')') d -= 1
            else if (!q && d == 0 && (c == 'A' || c == 'a') &&
              (body.charAt(j + 1) == 'S' || body.charAt(j + 1) == 's') &&
              (j == 0 || !body.charAt(j - 1).isLetterOrDigit) &&
              (j + 2 >= body.length || !body.charAt(j + 2).isLetterOrDigit))
              asAt = j
            j += 1
          }
          if (asAt < 0)
            throw SparqlParseError("BIND needs an (expr AS ?var) binding")
          val v = body.substring(asAt + 2).trim
          if (!v.startsWith("?") || v.length < 2)
            throw SparqlParseError(s"BIND AS must name a ?var (got '$v')")
          bodies += ((v.drop(1), body.substring(0, asAt).trim))
          rest = rest.substring(end + 1)
          val trimmed = rest.dropWhile(_.isWhitespace)
          if (trimmed.startsWith(".")) rest = trimmed.drop(1)
      }
    }
    (out.toString, bodies.result())
  }

  // ';' and '=' exist for GROUP_CONCAT's `; SEPARATOR="…"` argument;
  // comparison operators never reach the lexer (FILTER/BIND/HAVING
  // bodies splice out of the raw text first).
  private val Punct = Set('{', '}', '(', ')', '.', '|', '+', '*', '/', '^', ';', '=')

  private def tokenize(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (Punct(c)) { out += c.toString; i += 1 }
      else if (c == '<') {
        val j = s.indexOf('>', i)
        if (j < 0) throw SparqlParseError("unterminated <IRI>")
        out += s.substring(i, j + 1); i = j + 1
      } else if (c == '"') {
        val j = s.indexOf('"', i + 1)
        if (j < 0) throw SparqlParseError("unterminated string literal")
        out += s.substring(i, j + 1); i = j + 1
      } else {
        val start = i
        while (i < s.length && !s.charAt(i).isWhitespace && !Punct(s.charAt(i)) &&
          s.charAt(i) != '<' && s.charAt(i) != '"') i += 1
        out += s.substring(start, i)
      }
    }
    out.result()
  }

  private final class TokenStream(toks: Vector[String]) {
    private var pos = 0
    def peek: Option[String] = if (pos < toks.length) Some(toks(pos)) else None
    def peekOr(alt: String): String = peek.getOrElse(alt)
    def peekKeyword(kw: String): Boolean = peek.exists(_.equalsIgnoreCase(kw))
    def next(): String = {
      if (pos >= toks.length) throw SparqlParseError("unexpected end of query")
      val t = toks(pos); pos += 1; t
    }
    def expect(t: String): Unit = {
      val got = next()
      if (got != t) throw SparqlParseError(s"expected '$t', got '$got'")
    }
  }

  // ---------------------------------------------------- FILTER translation

  /** SPARQL builtins with a direct Spark SQL spelling. REGEX maps to
    * regexp_like (same (str, pattern) argument order). */
  private val FnMap = Map(
    "REGEX" -> "regexp_like", "CONTAINS" -> "contains",
    "STRSTARTS" -> "startswith", "STRENDS" -> "endswith",
    "STRLEN" -> "length", "LCASE" -> "lower", "UCASE" -> "upper"
  )

  /** The numeric value of a stored term, for SUM/AVG: strip one level
    * of literal syntax (`"lex"^^<datatype>` / `"lex"@lang` / `"lex"`
    * → lex; anything else passes through as its own lexical form),
    * then cast — guarded by a numeric-shape regex so a non-numeric
    * lexical form becomes NULL instead of an ANSI cast error. */
  private def numericLiteral(c: Column): Column = {
    val lex = regexp_replace(
      c, "^\"(.*)\"(\\^\\^<[^>]*>|@[A-Za-z0-9-]+)?$", "$1")
    when(
      lex.rlike("^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"),
      lex.cast("double"))
  }

  /** Apply `f` to the non-string segments of `body`, leaving "…"
    * literals byte-for-byte intact (quotes re-emitted, so the result
    * can feed translateFilter, which re-splits the same way —
    * including the escape rule below). A backslash inside a string
    * skips the next character, so `"a\"b"` is ONE literal containing
    * a quote, not two code/data segment flips (SPARQL's ECHAR rule). */
  private def mapOutsideStrings(body: String, where: String)(
      f: String => String): String = {
    val out = new StringBuilder(body.length)
    var segStart = 0
    var inStr = false
    var i = 0
    while (i < body.length) {
      if (inStr && body.charAt(i) == '\\') i += 2
      else {
        if (body.charAt(i) == '"') {
          val seg = body.substring(segStart, i)
          out ++= (if (inStr) "\"" + seg + "\"" else f(seg))
          segStart = i + 1
          inStr = !inStr
        }
        i += 1
      }
    }
    if (inStr) throw SparqlParseError(s"unterminated string literal in $where")
    out ++= f(body.substring(segStart))
    out.result()
  }

  /** Translate a SPARQL FILTER body to Spark SQL: `?v` → column name,
    * `"lit"` → `'lit'`, `&&`/`||`/`!` → AND/OR/NOT, `BOUND(x)` →
    * `x IS NOT NULL`, builtins per FnMap. Operator/keyword rewrites
    * are quote-aware — a `!` or `&&` inside a string literal is data. */
  private[graft] def translateFilter(body: String): String = {
    // Split into alternating code / "string" segments.
    val segs = Vector.newBuilder[(String, Boolean)] // (text, isString)
    var i = 0
    var segStart = 0
    var inStr = false
    while (i < body.length) {
      // same ECHAR rule as mapOutsideStrings: `\"` inside a string is
      // an escaped quote, not a segment flip
      if (inStr && body.charAt(i) == '\\') i += 2
      else {
        if (body.charAt(i) == '"') {
          if (!inStr) {
            segs += ((body.substring(segStart, i), false)); segStart = i + 1
          } else {
            segs += ((body.substring(segStart, i), true)); segStart = i + 1
          }
          inStr = !inStr
        }
        i += 1
      }
    }
    if (inStr) throw SparqlParseError("unterminated string literal in FILTER")
    segs += ((body.substring(segStart), false))

    segs.result().map {
      case (txt, true) => "'" + txt.replace("'", "''") + "'"
      case (txt, false) =>
        if ("(?i)\\bEXISTS\\b".r.findFirstIn(txt).isDefined)
          throw SparqlParseError(
            "EXISTS inside a parenthesized FILTER is not supported " +
              "(write FILTER [NOT] EXISTS { … })")
        var t = txt
        t = t.replaceAll("\\?([A-Za-z_]\\w*)", "$1")
        t = "(?i)\\bBOUND\\s*\\(\\s*(\\w+)\\s*\\)".r
          .replaceAllIn(t, mm => s"(${mm.group(1)} IS NOT NULL)")
        FnMap.foreach { case (sp, sql) =>
          t = t.replaceAll(s"(?i)\\b$sp\\s*\\(", sql + "(")
        }
        t = t.replace("&&", " AND ").replace("||", " OR ")
        t = t.replaceAll("!(?![=])", " NOT ")
        t
    }.mkString
  }
}
