"""Seeded input generation for the benchmark.

Writes the ten fixture tables the engine reads (`<dir>/<table>.parquet`, one
file each) with the schemas, key domains and value domains of the engine's
sf0.1 test fixtures: TPC-H-like star schema, an `events` stream, a
`documents` corpus with planted near-duplicates, and unit-norm `embeddings`.
The five large TPC-H tables have TPCH_SCALE times their sf0.1 row counts;
the other tables have their sf0.1 counts. Every draw comes from the seed, so one seed always gives the
same bytes; `fingerprint` hashes them. Foreign keys are drawn from the
referenced table's key range, so every join and oracle holds.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# A fifth of sf0.1 keeps the 22 TPC-H plans and their job count, and lets a
# warm-up pass and a timed pass fit one benchmark run.
TPCH_SCALE = 0.2
N_CUST, N_SUPP, N_PART, N_ORD, N_LINE = (int(n * TPCH_SCALE) for n in
                                          (15_000, 1_000, 20_000, 150_000, 600_000))
N_EVENTS, N_USERS, N_DOCS, N_DUP_DOCS, N_VECS, DIM = 100_000, 1_500, 5_000, 250, 2_000, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _days(rng, n, lo_days, hi_days):
    return pa.array(EPOCH_1995 + rng.integers(lo_days, hi_days, n) * US_PER_DAY,
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _tables(seed):
    streams = np.random.SeedSequence(seed).spawn(len(TABLES))
    rng = {t: np.random.default_rng(s) for t, s in zip(TABLES, streams)}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = rng["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)]),
        "c_nationkey": pa.array(r.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": _money(r, N_CUST, -999.99, 9999.99),
        "c_mktsegment": _pick(r, SEGMENTS, N_CUST)})
    r = rng["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)]),
        "s_nationkey": pa.array(r.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": _money(r, N_SUPP, -999.99, 9999.99)})
    r = rng["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": _pick(r, names, N_PART),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], N_PART),
        "p_type": _pick(r, PART_TYPES, N_PART),
        "p_size": pa.array(r.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + r.integers(0, 1000, N_PART) * 0.1, 1)})
    r = rng["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORD), pa.int64()),
        "o_custkey": pa.array(r.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], N_ORD),
        "o_totalprice": _money(r, N_ORD, 1000.0, 500000.0),
        "o_orderdate": _days(r, N_ORD, 0, 2405),
        "o_orderpriority": _pick(r, PRIORITIES, N_ORD)})
    r = rng["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, N_ORD, N_LINE), pa.int64()),
        "l_partkey": pa.array(r.integers(0, N_PART, N_LINE), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, N_SUPP, N_LINE), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, N_LINE), pa.int32()),
        "l_quantity": r.integers(1, 51, N_LINE).astype(np.float64),
        "l_extendedprice": _money(r, N_LINE, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, N_LINE) / 100.0,
        "l_tax": r.integers(0, 9, N_LINE) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], N_LINE),
        "l_linestatus": _pick(r, ["F", "O"], N_LINE),
        "l_shipdate": _days(r, N_LINE, 1, 2500)})
    r = rng["events"]
    gaps = np.maximum(r.exponential(25.9e6, N_EVENTS).astype(np.int64), 1)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, N_EVENTS),
        "value": np.round(r.exponential(50.0, N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, N_EVENTS)])})
    r = rng["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[r.integers(0, len(VOCAB), r.integers(10, 101))])
             for _ in range(N_DOCS)]
    # near-duplicates: a later doc becomes an earlier doc plus one token
    dup_at = r.choice(np.arange(N_DOCS // 2, N_DOCS), N_DUP_DOCS, replace=False)
    for j, i in zip(dup_at, r.integers(0, N_DOCS // 2, N_DUP_DOCS)):
        texts[j] = texts[i] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, N_DOCS, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    r = rng["embeddings"]
    v = r.standard_normal((N_VECS, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, N_VECS), pa.int32())})
    return out


def fingerprint(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode() + b"\0" + f.read())
    return h.hexdigest()


def generate(seed, data_dir):
    """Write the tables for `seed` into `data_dir`; return
    {table: {"rows", "bytes"}} and the fingerprint of the bytes written."""
    os.makedirs(data_dir, exist_ok=True)
    manifest = {}
    for name, table in _tables(seed).items():
        path = os.path.join(data_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        manifest[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return manifest, fingerprint(data_dir)
