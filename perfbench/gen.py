"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the graft queries read (one parquet file each, the
layout `graft.operators.Tables` expects) at a given scale factor. The
shapes follow the repository's sf fixtures: a TPC-H-style star schema,
an `events` table ordered by time, a `documents` corpus over a 30-word
vocabulary with exact and near (" dup"-suffixed) duplicates, and unit
`embeddings` with a weak per-label direction.

The tables are a fixed function of (scale, GEN_SEED): the benchmark's
own seed varies query order and the training blobs, never these tables,
so every seed runs the same query work.

Usage: python3 perfbench/gen.py <out_dir> [scale] [stream_files]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
WORDS = ("a the data row column table key value hash join merge sort filter "
         "group agg scan window stream batch query spark line part order "
         "customer vector big small fast slow").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(start, n_days, rng, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale):
    rng = np.random.default_rng(GEN_SEED)
    n_cust = max(int(150_000 * scale), 150)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 200)
    n_ord = max(int(1_500_000 * scale), 1500)
    n_line = max(int(6_000_000 * scale), 6000)
    n_ev = max(int(1_000_000 * scale), 1000)
    n_docs = max(int(50_000 * scale), 500)
    n_emb = max(int(20_000 * scale), 500)
    n_users = max(n_ev // 67, 10)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            np.array(COLORS)[rng.integers(0, 8, n_part)], " "),
            np.array(NOUNS)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2405, rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", 2499, rng, n_line)})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # 5% near-duplicates (an earlier document plus " dup") and a few exact
    # copies, the duplicate structure the dedup operators look for
    n_near = n // 20
    for i in rng.choice(np.arange(n // 2, n), n_near, replace=False):
        src = texts[rng.integers(0, n // 2)]
        texts[i] = src + " dup"
    for _ in range(max(n // 600, 1)):
        a, b = rng.integers(0, n, 2)
        texts[b] = texts[a]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    v = rng.normal(0.0, 1.0, (n, 64)) + 0.6 * centers[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array(list(v.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": emb, "label": labels})


def write(out_dir, scale, stream_files=0):
    """Write the tables, and with `stream_files` > 0 the stream backlogs."""
    os.makedirs(out_dir, exist_ok=True)
    ts = tables(scale)
    for name, t in ts.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    if stream_files:
        cols = ["event_id", "ts", "user_id", "event_type", "value"]
        # events are in time order, so equal slices are time slices
        _backlog(ts["events"].select(cols), stream_files,
                 os.path.join(out_dir, "stream", "events"))
        _backlog(ts["documents"], stream_files,
                 os.path.join(out_dir, "stream", "docs"))


def _backlog(t, files, out_dir):
    """`files` slices of `t` in row order, plus a one-file warm-up copy.
    The file source replays a backlog in modification-time order, so the
    slices get increasing, widely spaced modification times."""
    bounds = np.linspace(0, t.num_rows, files + 1).astype(int)
    warm = out_dir + "_warm"
    for d in (out_dir, warm):
        os.makedirs(d, exist_ok=True)
    for i in range(files):
        part = t.slice(bounds[i], bounds[i + 1] - bounds[i])
        for d in ([out_dir, warm] if i == 0 else [out_dir]):
            path = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(part, path)
            os.utime(path, (1_600_000_000 + 2 * i,) * 2)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1,
          int(sys.argv[3]) if len(sys.argv) > 3 else 0)
