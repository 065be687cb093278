"""Seeded input generators for the three benchmark workloads.

Every table is written with pyarrow in the same physical types as the
engine's reference corpus (events.ts as Parquet TIMESTAMP(MICROS,
isAdjustedToUTC=false), embeddings as list<float>), so the program sees
the same schemas it is tested against. The same seed always gives the same
files, and the generator records what it planted (duplicate and
near-neighbour pairs, the events time window) in a manifest the checkers
read.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. On shapes_small the events table stays as 100 small
# part files and lineitem/orders arrive as many small files that set-up
# compacts; pipeline is sized so that one pass of its six operators takes
# several seconds on four cores.
SIZES = {
    "shapes_small": dict(events=100_000, event_files=100, orders=30_000, lineitem_files=40,
                         customers=1_500),
    "pipeline": dict(orders=5_000, lineitem_files=1, customers=500, documents=800,
                     embeddings=800),
}
# tables set-up compacts with Prep.compact (generated under raw_dir)
COMPACTED = {"shapes_small": ("lineitem", "orders"), "pipeline": ()}

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WINDOW_START = np.datetime64("2024-01-01T00:00:00", "us")
WINDOW_DAYS = 30
N_USERS = 200

VOCAB = (
    "key agg row scan slow fast table value part hash window merge batch spark line sort "
    "order data column join small customer query big filter group stream vector dup index "
    "shard page cache block file node task stage plan codegen shuffle spill heap probe "
    "bloom range point count rank score token text the a of is end. x,y (note) 42 v2 q?"
).split()
SOURCES = [f"src{i}" for i in range(20)]
LANGS = ["en", "de", "fr", "es", "zh"]
DIM = 64


def _write(table, path, n_files):
    """Write `table` as `n_files` contiguous part files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), compression="snappy")


def _events(rng, n):
    span_us = WINDOW_DAYS * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    ts = WINDOW_START + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0, 20, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _tpch(rng, orders, customers):
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, customers).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, customers), 2)),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                                          dtype=object)[rng.integers(0, 5, customers)]),
    })
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    odays = rng.integers(0, 2400, orders)
    orders_t = pa.table({
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, orders), 2)),
        "o_orderdate": pa.array(day0 + (odays * 86_400_000_000).astype("timedelta64[us]"),
                                type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                             dtype=object)[rng.integers(0, 5, orders)]),
    })
    per = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders, dtype=np.int64), per)
    n = len(okey)
    starts = np.cumsum(per) - per
    lineno = (np.arange(n) - np.repeat(starts, per) + 1).astype(np.int32)
    ship = np.repeat(odays, per) + rng.integers(1, 122, n)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n, dtype=np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(day0 + (ship * 86_400_000_000).astype("timedelta64[us]"),
                               type=pa.timestamp("us")),
    })
    return nation, customer, orders_t, lineitem


def _documents(rng, n):
    """Word-soup documents with planted near-duplicates, exact duplicates and
    contained (subset) duplicates. Returns the table and the planted pairs."""
    vocab = np.array(VOCAB, dtype=object)
    words = [list(vocab[rng.integers(0, len(vocab), rng.integers(20, 100))]) for _ in range(n)]
    ids = rng.permutation(n)
    # base documents for plants are long (>= 50 words) so that a one-word edit
    # keeps 3-shingle Jaccard above 0.8
    long_ids = [int(i) for i in ids if len(words[i]) >= 50]
    plants = {"near": [], "exact": [], "subset": []}
    used = set()
    pool = iter(long_ids)

    def take():
        for i in pool:
            if i not in used:
                used.add(i)
                return i
        raise RuntimeError("document pool exhausted")

    for kind, count in (("near", 30), ("exact", 6), ("subset", 10)):
        for _ in range(count):
            a, b = take(), take()
            src = words[a]
            if kind == "near":
                w = list(src)
                pos = int(rng.integers(3, len(w) - 3))
                w[pos] = "dup" if w[pos] != "dup" else "merge"
            elif kind == "exact":
                w = list(src)
            else:
                start = int(rng.integers(0, len(src) - 30))
                w = list(src[start:start + 30])
            words[b] = w
            plants[kind].append([min(a, b), max(a, b)])
    texts = [" ".join(w) for w in words]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array(np.array(SOURCES, dtype=object)[rng.integers(0, len(SOURCES), n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, plants


def _embeddings(rng, n):
    """Gaussian 64-d vectors with planted near-neighbours: a group of four
    (vectors 0-3) and 20 disjoint pairs elsewhere."""
    v = rng.normal(0, 1, (n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    groups = [[0, 1, 2, 3]]
    for j in (1, 2, 3):
        v[j] = v[0] + rng.normal(0, 0.01, DIM).astype(np.float32)
    rest = rng.permutation(np.arange(4, n))[:40]
    for a, b in zip(rest[0::2], rest[1::2]):
        v[b] = v[a] + rng.normal(0, 0.01, DIM).astype(np.float32)
        groups.append(sorted([int(a), int(b)]))
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array([row for row in v.tolist()], type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })
    return table, groups


def generate(workload, seed, data_dir, raw_dir):
    """Write the workload's inputs. Tables the program reads directly go to
    `data_dir/<table>.parquet/`; tables set-up must compact first go to
    `raw_dir/<table>/`. Returns the manifest dict (also written as
    `manifest.json` beside the data)."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    manifest = {"workload": workload, "seed": seed, "size": size,
                "window": [str(WINDOW_START), str(WINDOW_START + np.timedelta64(WINDOW_DAYS, "D"))]}
    def put(name, table, n_files):
        raw = name in COMPACTED[workload]
        path = os.path.join(raw_dir, name) if raw else os.path.join(data_dir, name + ".parquet")
        _write(table, path, n_files)
        manifest.setdefault("rows", {})[name] = table.num_rows

    nation, customer, orders, lineitem = _tpch(rng, size["orders"], size["customers"])
    put("nation", nation, 1)
    put("customer", customer, 1)
    put("orders", orders, max(1, size["lineitem_files"] // 4))
    put("lineitem", lineitem, size["lineitem_files"])
    if workload == "shapes_small":
        put("events", _events(rng, size["events"]), size["event_files"])
    else:
        docs, plants = _documents(rng, size["documents"])
        put("documents", docs, 1)
        emb, groups = _embeddings(rng, size["embeddings"])
        put("embeddings", emb, 1)
        manifest["doc_plants"] = plants
        manifest["vec_groups"] = groups
    with open(os.path.join(os.path.dirname(data_dir.rstrip("/")), "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
