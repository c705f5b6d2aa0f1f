#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Writes the harness tables (TESTDATA/FIXTURES layout, `<dir>/<name>.parquet`,
one row group each, like the sf0.1 fixtures) at the sf0.1 sizes, drawn from
the same value distributions as the sf0.1 fixtures. The same seed gives
byte-identical files.

The `relational` and `labelprop` tables stand in for the read-only sf0.1
fixtures: they are drawn from FIXED_SEED whatever the run's seed, so their
oracle results can be pinned (oracle_pins.json). Only the `text` corpus
follows the run's seed.

    python3 perfbench/gen.py --workload text --seed 7 --out DIR

The `text` workload's `documents` table is a base corpus shaped like sf0.1
`documents` (5,000 docs of 10-99 words over the fixture's 30-word
vocabulary) plus planted near-duplicate clusters, so q17's LSH candidate,
semi-join and verify path has real work:
  - PLANT_COPIES copies in seeded clusters, one of them a hot cluster of
    HOT_CLUSTER copies of one HOT_WORDS-word document;
  - each copy is an exact copy with probability EXACT_SHARE, otherwise the
    source with 1-3 single-word edits (substitute, insert or delete).
The planted map (copy id -> source id, edit count) goes to
`documents.plant.json` beside the table.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 fixtures.
N_LINEITEM = 600_000
N_ORDERS = 150_000
N_CUSTOMER = 15_000
N_PART = 20_000
N_SUPPLIER = 1_000
N_EVENTS = 100_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64
N_LABELS = 10
N_BASE_DOCS = 5_000

# Planted near-duplicate structure of the text corpus.
PLANT_COPIES = 2_000
HOT_CLUSTER = 80
HOT_WORDS = 55
CLUSTER_MIN, CLUSTER_MAX = 2, 5
EXACT_SHARE = 0.4

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

FIXED_SEED = 42
FIXED_WORKLOADS = ("relational", "labelprop")

WORKLOAD_TABLES = {
    "relational": ["lineitem", "orders", "customer", "nation", "region", "part", "events"],
    "labelprop": ["embeddings"],
    "text": ["documents"],
}

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days_us(start, n_days, rng, size):
    """Midnight timestamps (micros) uniform over `n_days` from `start`."""
    base = (np.datetime64(start, "us") - EPOCH).astype(np.int64)
    return base + rng.integers(0, n_days, size).astype(np.int64) * 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _pick(values, rng, size, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)],
                    type=pa.string())


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def region(rng):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})


def nation(rng):
    k = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(k),
        "n_name": pa.array([f"NATION_{i}" for i in k]),
        "n_regionkey": pa.array(k % 5)})


def customer(rng):
    k = np.arange(N_CUSTOMER, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(k),
        "c_name": pa.array([f"Customer#{i:09d}" for i in k]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": _pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                               "MACHINERY"], rng, N_CUSTOMER)})


def part(rng):
    k = np.arange(N_PART, dtype=np.int64)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{adj[a]} {noun[b]}" for a, b in
             zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))]
    return pa.table({
        "p_partkey": pa.array(k),
        "p_name": pa.array(names),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], rng, N_PART),
        "p_type": _pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                        rng, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (k % 1000) / 10.0, 1))})


def orders(rng):
    k = np.arange(N_ORDERS, dtype=np.int64)
    return pa.table({
        "o_orderkey": pa.array(k),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64)),
        "o_orderstatus": _pick(["F", "O", "P"], rng, N_ORDERS),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _ts(_days_us("1995-01-01", 2405, rng, N_ORDERS)),
        "o_orderpriority": _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                  "5-LOW"], rng, N_ORDERS)})


def lineitem(rng):
    n = N_LINEITEM
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(["A", "N", "R"], rng, n),
        "l_linestatus": _pick(["F", "O"], rng, n),
        "l_shipdate": _ts(_days_us("1995-01-02", 2499, rng, n))})


def events(rng):
    n = N_EVENTS
    base = (np.datetime64("2024-01-01T00:00:00", "us") - EPOCH).astype(np.int64)
    ts = base + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": _pick(["click", "error", "purchase", "signup", "view"], rng, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def embeddings(rng):
    v = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, N_EMBEDDINGS).astype(np.int32))})


def _edit(words, n_edits, rng):
    """Apply `n_edits` single-word substitutions, insertions or deletions,
    drawing again in the rare case that the edits cancel out."""
    w = list(words)
    while w == list(words):
        w = _draw_edits(words, n_edits, rng)
    return w


def _draw_edits(words, n_edits, rng):
    w = list(words)
    for _ in range(n_edits):
        op = rng.integers(0, 3) if len(w) > 3 else 1
        i = int(rng.integers(0, len(w)))
        new = VOCAB[rng.integers(0, len(VOCAB))]
        if op == 0:
            w[i] = new if new != w[i] else VOCAB[(VOCAB.index(new) + 1) % len(VOCAB)]
        elif op == 1:
            w.insert(i, new)
        else:
            del w[i]
    return w


def cluster_sizes(rng):
    """Copy counts per planted cluster: one hot cluster, then seeded sizes
    in [CLUSTER_MIN, CLUSTER_MAX] until PLANT_COPIES copies are placed."""
    sizes, left = [HOT_CLUSTER], PLANT_COPIES - HOT_CLUSTER
    while left > 0:
        s = min(left, int(rng.integers(CLUSTER_MIN, CLUSTER_MAX + 1)))
        sizes.append(s)
        left -= s
    return sizes


def documents(rng):
    """Base corpus plus planted clusters; returns (table, plant map)."""
    # Lengths 10..99 in equal shares, shuffled: the same total text per seed.
    n_words = rng.permutation(np.resize(np.arange(10, 100), N_BASE_DOCS))
    texts = [[VOCAB[j] for j in rng.integers(0, len(VOCAB), n)] for n in n_words]
    lang = list(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), N_BASE_DOCS, p=LANG_P)])
    source = [f"src{i % 20}" for i in range(N_BASE_DOCS)]
    sizes = cluster_sizes(rng)
    # The hot cluster's source has the median length, so the verify work
    # it plants (HOT_CLUSTER^2/2 pairs of these texts) is the same for
    # every seed.
    hot = int(rng.choice(np.flatnonzero(n_words == HOT_WORDS)))
    rest = rng.choice(np.flatnonzero(np.arange(N_BASE_DOCS) != hot), len(sizes) - 1, replace=False)
    sources = [hot] + list(rest)
    plant = []
    for ci, (size, src) in enumerate(zip(sizes, sources)):
        src = int(src)
        for _ in range(size):
            n_edits = 0 if rng.random() < EXACT_SHARE else int(rng.integers(1, 4))
            plant.append({"doc_id": len(texts), "source": src, "edits": n_edits,
                          "hot": ci == 0})
            texts.append(_edit(texts[src], n_edits, rng) if n_edits else list(texts[src]))
            lang.append(lang[src])
            source.append(source[src])
    body = [" ".join(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(body), dtype=np.int64)),
        "text": pa.array(body, type=pa.string()),
        "lang": pa.array(lang, type=pa.string()),
        "source": pa.array(source, type=pa.string()),
        "n_chars": pa.array(np.array([len(b) for b in body], dtype=np.int64))})
    return table, plant


BUILDERS = {f.__name__: f for f in (region, nation, customer, part, orders, lineitem,
                                    events, embeddings)}


def table_seed(seed, name):
    """Each table draws from its own stream, so adding a table to a workload
    never changes another table's bytes."""
    return [seed, sum(name.encode())]


def generate(workload, seed, out):
    """Write the workload's tables under `out`; return {table: row count}."""
    os.makedirs(out, exist_ok=True)
    rows = {}
    for name in WORKLOAD_TABLES[workload]:
        rng = np.random.default_rng(
            table_seed(FIXED_SEED if workload in FIXED_WORKLOADS else seed, name))
        if name == "documents":
            table, plant = documents(rng)
            with open(os.path.join(out, "documents.plant.json"), "w") as f:
                json.dump(plant, f, separators=(",", ":"))
        else:
            table = BUILDERS[name](rng)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows), compression="snappy")
        rows[name] = table.num_rows
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))


if __name__ == "__main__":
    main()
