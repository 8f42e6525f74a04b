"""Seeded generator for the batch workloads' input tables.

Writes the eight TPC-H-ish tables plus `events`, `documents` and
`embeddings` as one Parquet file each, with the same names, column types
and value shapes the engine's queries are written against (timestamps are
naive microseconds, strings are plain UTF-8, embeddings are unit-length
float32 vectors). Row counts scale with `sf` the usual way: lineitem has
6M * sf rows. `documents` and `embeddings` scale with `corpus_sf` instead
(50k and 20k rows at 1), so the corpus can be sized apart from the rest.

The same (sf, seed) always gives byte-identical files, so result digests
computed once over them can be committed and checked on every run.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order column data join small customer query "
         "big group filter stream vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
EMBED_CLASSES = 10

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _days(start, n_days, idx):
    base = np.datetime64(start, "us")
    return base + (idx.astype("int64") * 86_400_000_000).astype("timedelta64[us]")


def _write(out_dir, name, cols):
    table = pa.table(cols)
    # one row group, snappy, parquet 2.6: the layout the queries were tuned on
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=max(1, table.num_rows))


def generate(out_dir, sf, seed, corpus_sf=None):
    """Write every table for scale factor `sf` (the corpus tables for
    `corpus_sf`, default `sf`) under `out_dir`."""
    corpus_sf = sf if corpus_sf is None else corpus_sf
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * corpus_sf))
    n_emb = max(500, int(20_000 * corpus_sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_cust) / 100.0),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_supp) / 100.0)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))})

    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(rng.integers(100_191, 49_999_319, n_ord) / 100.0),
        "o_orderdate": pa.array(_days("1995-01-01", 2405, rng.integers(0, 2405, n_ord))),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90_068, 10_499_992, n_line) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days("1995-01-02", 2499, rng.integers(0, 2499, n_line)))})

    # events: a Poisson-like stream over 30 days, sorted by id = time order
    span_us = 30 * 86_400_000_000
    offs = np.sort(rng.integers(0, span_us, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})

    # documents: uniform 10-100 word bags over a 30-word vocabulary; 5% are
    # an earlier document plus " dup" (near duplicates) and a handful are
    # exact copies, so the dedup and near-dup queries have work to find
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    # embeddings: ten Gaussian clusters, unit length, float32
    centers = rng.normal(0.0, 1.0, (EMBED_CLASSES, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLASSES, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
