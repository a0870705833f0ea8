"""Seeded input generator for the lakehouse benchmark.

Writes the TPC-H-ish star schema plus the documents / embeddings / events
tables the ext operators read, in the column layout FIXTURES.md describes,
and the incremental workload's base and delta batches. The same seed gives
byte-identical inputs; nothing here reads outside the output directory.
The star schema and the deltas follow the seed; the ext corpus (documents,
embeddings, events) is one fixed fixture, so its oracle results repeat
across seeds. `run.py` calls `generate(out_dir, seed)`.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data row column table key value part line order customer "
         "query scan join filter group agg sort hash merge window stream "
         "batch spark vector big small fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = "small red blue hot cold old new big".split()
NOUN = "ring widget bolt gear rod plate anvil nut".split()
DAY0 = dt.date(1995, 1, 1)
SF = 0.005  # TPC-H scale factor of the star schema
BATCHES = 2  # incremental deltas after the half-history base
LATE_SHARE = 0.05  # share of each delta's orders that arrive one batch late
CORPUS_SEED = 20240101  # seed of the fixed ext corpus


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _days(rng, n, lo, hi):
    return rng.integers(0, (hi - lo).days + 1, n)


def _ts_ms(days):
    base = np.datetime64(DAY0, "ms")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("ms"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(rng):
    """The seven TPC-H tables as {name: {column: array}}."""
    n_cust, n_supp, n_part = int(150_000 * SF), max(10, int(10_000 * SF)), int(200_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _ts_ms(_days(rng, n_ord, DAY0, dt.date(2001, 8, 1))),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts_ms(1 + _days(rng, n_line, DAY0, dt.date(2001, 11, 3)))}
    return t


def corpus(rng):
    """The ext operators' events, documents and embeddings tables."""
    n_docs, n_vecs, n_events = max(500, int(50_000 * SF)), max(500, int(20_000 * SF)), int(1_000_000 * SF)
    t = {}
    secs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    t["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, n_events // 67), n_events).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_events),
        "value": _money(rng, n_events, 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}
    texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(10, 100, n_docs)]
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}
    return t


def _take(cols, idx):
    return {k: (v.take(pa.array(idx)) if isinstance(v, pa.Array)
                else np.asarray(v)[idx]) for k, v in cols.items()}


def deltas(rng, t):
    """Orders in o_orderdate order: the first half is the base, the second
    half is cut into BATCHES equal deltas. A seeded LATE_SHARE of each
    delta's orders arrives one batch late (the last batch's late orders
    arrive in it). Each delta carries the lineitems of its orders."""
    o = t["orders"]
    order = np.lexsort((o["o_orderkey"], o["o_orderdate"].to_numpy(zero_copy_only=False)))
    half = len(order) // 2
    base, rest = order[:half], order[half:]
    cuts = np.array_split(rest, BATCHES)
    late = [c[rng.random(len(c)) < LATE_SHARE] for c in cuts]
    slices = []
    for b, c in enumerate(cuts):
        keep = np.setdiff1d(c, late[b], assume_unique=True)
        arriving = late[b - 1] if b > 0 else np.array([], dtype=c.dtype)
        if b == BATCHES - 1:
            arriving = np.concatenate([arriving, late[b]])
        slices.append(np.concatenate([keep, arriving]))
    li_key = t["lineitem"]["l_orderkey"]
    out = []
    for s in [base] + slices:
        keys = o["o_orderkey"][s]
        out.append((_take(o, s), _take(t["lineitem"], np.flatnonzero(np.isin(li_key, keys)))))
    return out


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    t = {**star_schema(rng), **corpus(np.random.default_rng(CORPUS_SEED))}
    for name, cols in t.items():
        _write(f"{out_dir}/{name}.parquet", cols)
    parts = deltas(rng, t)
    for i, (o, li) in enumerate(parts):
        d = f"{out_dir}/{'base' if i == 0 else f'delta_{i - 1:03d}'}"
        os.makedirs(d, exist_ok=True)
        _write(f"{d}/orders.parquet", o)
        _write(f"{d}/lineitem.parquet", li)
    meta = {"seed": seed, "sf": SF, "batches": BATCHES,
            "rows": {k: len(next(iter(v.values()))) for k, v in t.items()}}
    with open(f"{out_dir}/inputs.json", "w") as fh:
        json.dump(meta, fh)
    return meta

