"""Seeded input generation for the graft benchmark.

Two kinds of input, deterministic in their seed:

* ``base_tables`` writes an sf0.1-sized lake (the ten tables graft's
  ``catalog.Lake`` knows) with the column types, key domains and value
  distributions of the project's TPC-H-ish test data: a star schema, an
  ``events`` stream, a 5,000-document corpus with planted exact and
  near duplicates, and 2,000 unit-norm 64-d embeddings.
* ``digest`` fingerprints a generated directory so every result can
  name the exact input it measured.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01 = dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
            lineitem=600_000, events=100_000, users=1_500, documents=5_000,
            embeddings=2_000)

VOCAB = ("a the spark line small fast group customer query row stream batch "
         "sort value hash filter big data part column order scan slow agg "
         "key window table merge vector join").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

TS_US = pa.timestamp("us")
DAY_US = 86_400 * 1_000_000


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(values_us):
    return pa.array(np.asarray(values_us, dtype=np.int64), type=pa.int64()).cast(TS_US)


def _cents(rng, lo, hi, n):
    """Uniform money amounts with two decimals, as doubles."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _documents(rng, n):
    ids = np.arange(n, dtype=np.int64)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k))
             for k in lengths]
    # Planted duplicates: 250 near-dups (an earlier doc plus " dup") and
    # 8 exact copies, so dedup operators have real groups to find.
    slots = rng.permutation(np.arange(n // 10, n))
    for i in slots[:n // 20]:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in slots[n // 20:n // 20 + 8]:
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def base_tables(out_dir, seed):
    """Write the sf0.1 lake for ``seed`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    n = SF01
    os.makedirs(out_dir, exist_ok=True)
    w = lambda name, cols: pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    w("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                 "r_name": pa.array(REGIONS)})
    w("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                 "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                 "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    nc = n["customer"]
    w("customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })
    ns = n["supplier"]
    w("supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    w("part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)),
    })
    no = n["orders"]
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    w("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_cents(rng, 1000, 500000, no)),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, no) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })
    nl = n["lineitem"]
    s0, s1 = _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4)
    w("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900, 105000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts(s0 + rng.integers(0, (s1 - s0) // DAY_US + 1, nl) * DAY_US),
    })
    ne = n["events"]
    e0 = _epoch_us(2024, 1, 1)
    w("events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(np.sort(e0 + rng.integers(0, 30 * DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, n["users"], ne).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    pq.write_table(_documents(rng, n["documents"]), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_embeddings(rng, n["embeddings"]), os.path.join(out_dir, "embeddings.parquet"))


def digest(path):
    """sha256 over every file's relative name and bytes under ``path``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                for block in iter(lambda: fh.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()[:16]
