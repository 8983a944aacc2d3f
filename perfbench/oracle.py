"""DuckDB oracles for the benchmark's correctness gate.

* Operator outputs (the pipeline workload) are compared with the
  answer of the operator's oracle SQL from ``graft.SparkEntry.oracleSql``,
  the way the project's ``tools/check.py`` compares them: columns sorted
  by name, rows sorted by every column, exact dtype and value equality.
  Oracle answers are cached per input digest, because the heavier ones
  take seconds to minutes.
* Analyst reads (``lake_sql``) are replayed against DuckDB over the same
  parquet, with every commit batch applied to a DuckDB copy of
  ``orders`` in the order the run applied it.
"""
import glob
import math
import os
import pickle

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SCHEMA_OF = {"events": "activity", "documents": "corpus", "embeddings": "corpus"}

ORDERS_COLUMNS = ("{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', 'o_orderstatus': 'VARCHAR', "
                  "'o_totalprice': 'DOUBLE', 'o_orderdate': 'TIMESTAMP', "
                  "'o_orderpriority': 'VARCHAR'}")

# The catalog's derived views (graft.catalog.Lake.derivedViews) restated
# for DuckDB: the oracle is an independent statement of what they mean.
XREF_VIEWS = {
    "id_map": """
        SELECT 'customer' AS source,
          lower(regexp_replace(c_name, '^Customer#', '')) AS key,
          CAST(c_custkey AS VARCHAR) AS source_id FROM trade.customer
        UNION ALL
        SELECT 'supplier', lower(regexp_replace(s_name, '^Supplier#', '')),
          CAST(s_suppkey AS VARCHAR) FROM trade.supplier
        UNION ALL
        SELECT 'part', lower(p_name), CAST(p_partkey AS VARCHAR) FROM trade.part""",
    "unified_entities": """
        WITH spine AS (
          SELECT DISTINCT entity_id FROM (
            SELECT c_custkey AS entity_id FROM trade.customer
            UNION ALL SELECT o_custkey FROM trade.orders
            UNION ALL SELECT user_id FROM activity.events)),
        profile AS (SELECT c_custkey AS p_id, c_name, c_acctbal FROM trade.customer),
        orderagg AS (SELECT o_custkey AS o_id, COUNT(1) AS n_orders,
            ROUND(SUM(o_totalprice), 4) AS total_spent FROM trade.orders GROUP BY 1),
        eventagg AS (SELECT user_id AS e_id, COUNT(1) AS n_events
          FROM activity.events GROUP BY 1)
        SELECT s.entity_id,
          COALESCE(p.c_name, 'unknown') AS entity_name,
          p.p_id IS NOT NULL AS has_profile,
          o.o_id IS NOT NULL AS has_orders,
          e.e_id IS NOT NULL AS has_events,
          COALESCE(o.n_orders, 0) AS n_orders,
          COALESCE(o.total_spent, 0.0) AS total_spent,
          COALESCE(e.n_events, 0) AS n_events
        FROM spine s
        LEFT JOIN profile p ON s.entity_id = p.p_id
        LEFT JOIN orderagg o ON s.entity_id = o.o_id
        LEFT JOIN eventagg e ON s.entity_id = e.e_id""",
}


def _source(data_dir, table):
    return os.path.join(data_dir, f"{table}.parquet")


def _connect(threads=4):
    return duckdb.connect(config={"threads": threads})


# ---- operator outputs -------------------------------------------------

def op_answer(sql, data_dir, cache_file):
    """The oracle's answer for one operator, computed once per input."""
    if os.path.exists(cache_file):
        with open(cache_file, "rb") as f:
            return pickle.load(f)
    con = _connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_source(data_dir, t)}')")
    df = con.sql(sql).df()
    os.makedirs(os.path.dirname(cache_file), exist_ok=True)
    tmp = cache_file + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(df, f)
    os.replace(tmp, cache_file)
    return df


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(spark_df, oracle_df):
    """(ok, reason), by the rules of the project's check tool."""
    s, o = _canon(spark_df), _canon(oracle_df)
    if list(s.columns) != list(o.columns):
        return False, f"columns {list(s.columns)} != {list(o.columns)}"
    if [str(d) for d in s.dtypes] != [str(d) for d in o.dtypes]:
        return False, f"dtypes {list(map(str, s.dtypes))} != {list(map(str, o.dtypes))}"
    if len(s) != len(o):
        return False, f"rows {len(s)} != {len(o)}"
    if not s.equals(o):
        bad = ((s != o) & ~(s.isna() & o.isna())).any(axis=1)
        return False, f"{int(bad.sum())}/{len(s)} rows differ"
    return True, ""


def read_output(out_dir):
    """A Spark parquet output directory as one pandas frame."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {out_dir}")
    con = _connect(1)
    return con.sql(f"SELECT * FROM read_parquet({files!r})").df()


# ---- analyst reads ----------------------------------------------------

class LakeReplay:
    """DuckDB over the sf0.1 lake, with ``trade.orders`` as a table the
    run's commit batches are applied to in order."""

    def __init__(self, base_dir):
        self.con = _connect()
        for schema in ("trade", "activity", "corpus", "xref"):
            self.con.execute(f"CREATE SCHEMA {schema}")
        for t in TABLES:
            qn = f"{SCHEMA_OF.get(t, 'trade')}.{t}"
            src = f"read_parquet('{_source(base_dir, t)}')"
            kind = "TABLE" if t == "orders" else "VIEW"
            self.con.execute(f"CREATE {kind} {qn} AS SELECT * FROM {src}")
        for name, sql in XREF_VIEWS.items():
            self.con.execute(f"CREATE VIEW xref.{name} AS {sql}")

    def apply_batch(self, path):
        batch = f"read_json('{path}', format='newline_delimited', columns={ORDERS_COLUMNS})"
        self.con.execute(f"DELETE FROM trade.orders WHERE o_orderkey IN "
                         f"(SELECT o_orderkey FROM {batch})")
        self.con.execute(f"INSERT INTO trade.orders BY NAME SELECT * FROM {batch}")

    def rows(self, sql):
        return [list(r) for r in self.con.execute(sql).fetchall()]


def _cell(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (int, float)) or hasattr(v, "is_finite"):
        return float(v)
    return str(v)


def _key(row):
    return [(0, "") if v is None else (1, round(v, 4)) if isinstance(v, float)
            else (2, str(v)) for v in row]


def same_rows(got, want):
    """Equal as multisets of rows; numbers within 1e-9 relative."""
    g = sorted(([_cell(v) for v in r] for r in got), key=_key)
    w = sorted(([_cell(v) for v in r] for r in want), key=_key)
    if len(g) != len(w):
        return False
    for a, b in zip(g, w):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True
