"""The workloads: what each pass runs, generated from the seed.

Every workload runs in passes: warm-up passes off the clock (the first
is also the pass whose outputs are checked in full), then measured
ones. Every pass runs each op once.

* ``lake_sql``: an analyst session. A pass is one read of every read
  template below (seeded order and literals) and one commit of a
  seeded ``orders`` batch into the run's private copy of the sf0.1
  lake.
* ``pipeline_sf0.1``: driver-loop training-data operators at sf0.1 in
  seeded order. It has no commits: its writes are the operators'
  output writes.
"""
import json
import os

import numpy as np
import pyarrow.parquet as pq

from gen import PRIORITIES, REGIONS, SEGMENTS

WORKLOADS = ("lake_sql", "pipeline_sf0.1")

PIPELINE_OPS = ["sim14_ivf_pq", "dedup11_semantic"]

N_PASSES = 16          # more than any run can finish
UPDATES, INSERTS = 200, 50

# The read mix follows the example-query set of the reference's
# interactive console (app.py EXAMPLE_QUERIES, replayed in the project's
# CliSpec): seven shapes, each shown once. Every shape here has two
# templates, and a pass runs every template once, so a pass is two
# sessions through the example set: 14 reads, two of them lookups.
SHAPES = {
    "overview": ["overview_counts", "agg_filter"],
    "top_n": ["join4_topn", "window_topn"],
    "per_year": ["year_trend", "corr_by_year"],
    "cross_source": ["xref_id_map", "corpus_sources"],
    "coverage_flags": ["xref_unified", "case_buckets"],
    "join_distribution": ["join_topic", "sparql_region"],
    "term_lookup": ["point_lookup", "sparql_flagged"],
}
TEMPLATES = [t for ts in SHAPES.values() for t in ts]


def _read(rng, name, n_orders):
    """One read: (kind, spark text, oracle SQL for DuckDB)."""
    r = lambda lo, hi: int(rng.integers(lo, hi))
    pick = lambda xs: xs[r(0, len(xs))]
    if name == "point_lookup":
        q = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
             f"FROM trade.orders WHERE o_orderkey = {r(0, n_orders)}")
    elif name == "agg_filter":
        q = ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
             "avg(l_extendedprice) AS avg_price, "
             f"count(*) FILTER (WHERE l_discount > {r(1, 9) / 100}) AS n_disc, "
             f"sum(l_extendedprice) FILTER (WHERE year(l_shipdate) >= {r(1996, 2001)}) AS late_rev "
             f"FROM trade.lineitem WHERE l_quantity <= {r(10, 51)} "
             "GROUP BY l_returnflag, l_linestatus")
    elif name == "case_buckets":
        a = r(50, 200) * 1000
        q = (f"SELECT CASE WHEN o_totalprice < {a} THEN 'low' "
             f"WHEN o_totalprice < {a + r(50, 250) * 1000} THEN 'mid' ELSE 'high' END AS bucket, "
             "count(*) AS n, avg(o_totalprice) AS avg_price FROM trade.orders "
             f"WHERE o_orderpriority = '{pick(PRIORITIES)}' GROUP BY 1")
    elif name == "overview_counts":
        q = ("SELECT 'orders' AS dataset, count(*) AS n_rows FROM trade.orders "
             f"WHERE o_orderstatus = '{pick(['F', 'O', 'P'])}' "
             "UNION ALL SELECT 'events', count(*) FROM activity.events "
             f"WHERE user_id < {r(100, 1500)} "
             "UNION ALL SELECT 'documents', count(*) FROM corpus.documents "
             f"WHERE n_chars > {r(50, 400)} "
             "UNION ALL SELECT 'entities', count(*) FROM xref.id_map "
             f"WHERE source_id LIKE '{r(1, 10)}%'")
    elif name == "corr_by_year":
        q = ("SELECT year(l_shipdate) AS y, corr(l_quantity, l_extendedprice) AS r, "
             "stddev_samp(l_discount) AS sd, count(*) AS n FROM trade.lineitem "
             f"WHERE l_tax <= {r(2, 9) / 100} AND l_linenumber = {r(1, 8)} "
             "GROUP BY year(l_shipdate)")
    elif name == "year_trend":
        q = ("SELECT year(o_orderdate) AS y, count(*) AS n, "
             "100.0 * count(*) / sum(count(*)) OVER () AS pct FROM trade.orders "
             f"WHERE o_orderstatus = '{pick(['F', 'O', 'P'])}' GROUP BY year(o_orderdate)")
    elif name == "join4_topn":
        q = ("SELECT n.n_name, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
             "FROM trade.customer c JOIN trade.orders o ON c.c_custkey = o.o_custkey "
             "JOIN trade.lineitem l ON l.l_orderkey = o.o_orderkey "
             "JOIN trade.nation n ON c.c_nationkey = n.n_nationkey "
             f"WHERE year(o.o_orderdate) = {r(1995, 2002)} AND c.c_mktsegment = '{pick(SEGMENTS)}' "
             "GROUP BY n.n_name ORDER BY revenue DESC LIMIT 5")
    elif name == "window_topn":
        q = ("SELECT o_orderpriority, o_orderkey, o_totalprice FROM ("
             "SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER ("
             "PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk "
             f"FROM trade.orders WHERE year(o_orderdate) = {r(1995, 2002)}) t WHERE rk <= 3")
    elif name == "xref_id_map":
        q = ("SELECT source, count(*) AS n, count(DISTINCT key) AS keys FROM xref.id_map "
             f"WHERE source_id LIKE '{r(1, 10)}%' GROUP BY source")
    elif name == "xref_unified":
        m = r(5, 20)
        q = ("SELECT has_profile, has_orders, has_events, count(*) AS n, "
             "sum(n_orders) AS orders, sum(total_spent) AS spent, sum(n_events) AS events "
             f"FROM xref.unified_entities WHERE entity_id % {m} = {r(0, m)} "
             "GROUP BY has_profile, has_orders, has_events")
    elif name == "corpus_sources":
        q = ("SELECT source, count(*) AS n_docs, avg(n_chars) AS avg_chars FROM corpus.documents "
             f"WHERE lang = '{pick(['en', 'fr', 'es', 'zh', 'de'])}' GROUP BY source")
    elif name == "join_topic":
        q = ("SELECT n.n_name, r.r_name, count(*) AS n_customers FROM trade.customer c "
             "JOIN trade.nation n ON c.c_nationkey = n.n_nationkey "
             "JOIN trade.region r ON n.n_regionkey = r.r_regionkey "
             f"WHERE c.c_mktsegment = '{pick(SEGMENTS)}' GROUP BY n.n_name, r.r_name "
             "ORDER BY n_customers DESC, n.n_name LIMIT 20")
    elif name == "sparql_region":
        reg = pick(REGIONS)
        sparql = ("SELECT ?nl (COUNT(DISTINCT ?c) AS ?n_customers) WHERE { "
                  "?c <in_nation> ?n . ?n <in_region> ?r . "
                  f'?r <label> "{reg}" . ?n <label> ?nl }} GROUP BY ?nl ORDER BY ?nl')
        oracle = ("SELECT n.n_name, count(DISTINCT c.c_custkey) FROM trade.customer c "
                  "JOIN trade.nation n ON c.c_nationkey = n.n_nationkey "
                  "JOIN trade.region r ON n.n_regionkey = r.r_regionkey "
                  f"WHERE r.r_name = '{reg}' GROUP BY n.n_name")
        return "sparql", sparql, oracle
    elif name == "sparql_flagged":
        reg = pick(REGIONS)
        sparql = ('SELECT ?nl WHERE { ?n <flagged> "true" . ?n <in_region> ?r . '
                  f'?r <label> "{reg}" . ?n <label> ?nl }}')
        oracle = ("SELECT n.n_name FROM trade.nation n "
                  "JOIN trade.region r ON n.n_regionkey = r.r_regionkey "
                  f"WHERE n.n_nationkey % 3 = 0 AND r.r_name = '{reg}'")
        return "sparql", sparql, oracle
    else:
        raise KeyError(name)
    return "sql", q, q


class OrdersState:
    """The ``orders`` table as the commits leave it, for expectations.

    Base rows stay in the parquet columns; a row a batch touched lives
    in ``changed``."""

    COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]

    def __init__(self, base_dir):
        t = pq.read_table(os.path.join(base_dir, "orders.parquet"), columns=self.COLS)
        self.base = {c: t.column(c).to_numpy() for c in self.COLS}
        assert (self.base["o_orderkey"] == np.arange(t.num_rows)).all()
        self.changed = {}
        self.next_key = t.num_rows
        self.n_cust = int(self.base["o_custkey"].max()) + 1
        self.count = t.num_rows
        self.cents = int(np.round(self.base["o_totalprice"] * 100).astype(np.int64).sum())

    def row(self, k):
        if k in self.changed:
            return dict(self.changed[k])
        return {c: self.base[c][k] for c in self.COLS}

    def batch(self, rng):
        """A seeded batch of updates to live keys and inserts of new ones."""
        out = []
        for k in rng.choice(self.next_key, UPDATES, replace=False):
            row = self.row(int(k))
            row["o_totalprice"] = int(rng.integers(100_000, 50_000_001)) / 100
            row["o_orderstatus"] = ["F", "O", "P"][int(rng.integers(0, 3))]
            out.append(row)
        for _ in range(INSERTS):
            day = int(rng.integers(0, 2404))
            out.append(dict(
                o_orderkey=self.next_key, o_custkey=int(rng.integers(0, self.n_cust)),
                o_orderstatus="O",
                o_totalprice=int(rng.integers(100_000, 50_000_001)) / 100,
                o_orderdate=np.datetime64("1995-01-01") + np.timedelta64(day, "D"),
                o_orderpriority=PRIORITIES[int(rng.integers(0, 5))]))
            self.next_key += 1
            self.count += 1
        for row in out:
            k = int(row["o_orderkey"])
            if k < self.next_key - INSERTS:
                self.cents -= int(round(float(self.row(k)["o_totalprice"]) * 100))
            self.cents += int(round(row["o_totalprice"] * 100))
            self.changed[k] = row
        return out

    def expect(self):
        """(row count, sum of o_totalprice in cents) of the live table."""
        return [self.count, self.cents]


def _jsonl(rows, path):
    with open(path, "w") as f:
        for r in rows:
            d = {c: (v.item() if isinstance(v, np.generic) else v) for c, v in r.items()}
            d["o_orderdate"] = str(np.datetime64(r["o_orderdate"], "s"))
            f.write(json.dumps(d) + "\n")


def make_passes(workload, seed, base_dir, batch_dir):
    """The seeded op list of every pass. Batch files land in batch_dir."""
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    state = OrdersState(base_dir)
    os.makedirs(batch_dir, exist_ok=True)
    n_batch = 0

    def commit():
        nonlocal n_batch
        rows = state.batch(rng)
        path = os.path.join(batch_dir, f"batch_{n_batch:03d}.jsonl")
        n_batch += 1
        _jsonl(rows, path)
        return {"kind": "commit", "name": "orders_upsert", "batch": path,
                "expect": state.expect()}

    passes = []
    for _ in range(N_PASSES + 1):
        if workload != "lake_sql":
            passes.append([{"kind": "query", "name": str(n)}
                           for n in rng.permutation(PIPELINE_OPS)])
            continue
        slot = int(rng.integers(0, len(TEMPLATES) + 1))
        ops = []
        for n in rng.permutation(TEMPLATES):
            kind, text, oracle = _read(rng, str(n), state.next_key)
            ops.append({"kind": kind, "name": str(n), "text": text, "oracle": oracle})
        ops.insert(slot, commit())
        passes.append(ops)
    return passes
