"""Seeded input generator for the benchmark.

Writes the ten base tables the registered queries read (same names,
columns, Arrow types and value domains as the repository's reference
test data: TPC-H-like star tables over 1995-01..2001-08 order dates,
an events stream over 2024-01, a word-salad document corpus with planted
near-duplicates and 64-d unit embeddings in ten clusters) plus the
workload-specific inputs:

* ``ods/day_0`` (the ODS as it stands before the loop, surrogate ids
  1..N in key order) and ``ods/stg_<d>`` (one staging batch per day:
  updates of existing keys plus new keys);
* ``graph/edges`` (a directed link graph) and ``graph/shares`` (the
  apportion input: key, weight, cap).

Every value is drawn from ``numpy.random.default_rng(seed)``, so the same
seed always gives byte-identical inputs.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 1; the reference data holds sf 0.001..0.1.
ROWS_SF1 = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
            "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "hot", "cold", "old", "large", "small", "red", "new"]
NOUNS = ["anvil", "bolt", "plate", "ring", "widget", "gear", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
ORDER_DAYS = (np.datetime64("1995-01-01"), np.datetime64("2001-08-01"))
SHIP_DAYS = (np.datetime64("1995-01-02"), np.datetime64("2001-11-04"))
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _days(rng, lo, hi, n):
    span = int((hi - lo).astype(int))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def star_tables(rng, sf):
    n = {k: max(1, int(v * sf)) for k, v in ROWS_SF1.items()}
    i64 = lambda a: pa.array(a, pa.int64())
    i32 = lambda a: pa.array(a, pa.int32())
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)),
                            "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": i64(np.arange(nc)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(ns)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": i64(np.arange(npart)),
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": i64(np.arange(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, *ORDER_DAYS, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, npart, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, *SHIP_DAYS, nl)})
    ne = n["events"]
    ts = EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, ne)).astype(
        "timedelta64[us]")
    t["events"] = pa.table({
        "event_id": i64(np.arange(ne)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(1, ne * 15 // 1000), ne)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    return t


def corpus_tables(rng, n_docs, n_vecs):
    texts = []
    for i in range(n_docs):
        # ~5% near-duplicates: an earlier document plus trailing "dup" words
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    v = centers[labels] + rng.normal(0.0, 0.6, (n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"documents": docs, "embeddings": emb}


def ods_batches(rng, out, n_keys, n_days, per_day, n_users):
    """Day-0 ODS (ids 1..n_keys in key order) and `n_days` staging
    batches: half updates of keys loaded so far, half brand-new keys.
    Prices are whole numbers so window sums stay exact in doubles."""
    day0 = np.datetime64("2016-01-01")
    def batch(keys, dts):
        m = len(keys)
        return {"okey": pa.array(keys, pa.int64()),
                "custkey": pa.array(rng.integers(0, n_users, m), pa.int64()),
                "status": _pick(rng, ["F", "O", "P"], m),
                "price": pa.array([str(p) for p in rng.integers(100, 100000, m)]),
                "dt": pa.array([str(d) for d in dts], pa.string())}
    keys = np.arange(n_keys)
    cols = batch(keys, day0 - rng.integers(1, 365, n_keys).astype("timedelta64[D]"))
    cols["dw_id"] = pa.array(keys + 1, pa.int64())
    _write(pa.table(cols), f"{out}/ods/day_0/part-0.parquet")
    next_key = n_keys
    for d in range(1, n_days + 1):
        upd = rng.choice(next_key, per_day // 2, replace=False)
        new = np.arange(next_key, next_key + per_day - per_day // 2)
        next_key += len(new)
        ks = np.concatenate([upd, new])
        rng.shuffle(ks)
        dts = np.full(len(ks), day0 + np.timedelta64(d - 1, "D"))
        _write(pa.table(batch(ks, dts)), f"{out}/ods/stg_{d}/part-0.parquet")


def graph_inputs(rng, out, n_edges, n_nodes, n_shares):
    """A crawl-shaped link graph: half the edges point into a small hub
    set (short diameter, one giant component), the rest are uniform."""
    src = rng.integers(0, n_nodes, n_edges)
    hub = rng.random(n_edges) < 0.5
    dst = np.where(hub, rng.integers(0, 64, n_edges),
                   rng.integers(0, n_nodes, n_edges))
    _write(pa.table({"src": pa.array(src, pa.int64()),
                     "dst": pa.array(dst, pa.int64())}),
           f"{out}/graph/edges/part-0.parquet")
    _write(pa.table({
        "k": pa.array(np.arange(n_shares), pa.int64()),
        "w": pa.array(rng.integers(1, 1000, n_shares), pa.int64()),
        "cap": pa.array(rng.integers(0, 50, n_shares), pa.int64())}),
        f"{out}/graph/shares/part-0.parquet")


def generate(out, seed, sf, ods, graph):
    """Write every input under `out` (replacing what was there)."""
    shutil.rmtree(out, ignore_errors=True)
    rng = np.random.default_rng(seed)
    tables = star_tables(rng, sf)
    tables.update(corpus_tables(rng, max(500, int(50_000 * sf)),
                                max(500, int(20_000 * sf))))
    for name, tbl in tables.items():
        _write(tbl, f"{out}/{name}.parquet")
    ods_batches(rng, out, **ods)
    graph_inputs(rng, out, **graph)
