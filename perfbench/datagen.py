"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table, with the column names and types the
graft query catalog reads (a TPC-H-like star schema, an `events` stream,
a `documents` corpus and an `embeddings` table). Value distributions
follow the repository's sf0.1 test tables, measured column by column (the
figures are in perfbench/README.md); only the row counts are chosen per
workload. The same seed and sizes always give byte-identical tables.

    python3 perfbench/datagen.py <out_dir> <seed> <table>=<rows> ...

Sizes are per-table row counts; tables a workload does not read are not
written. `documents` and `embeddings` share their id space (doc_id == vec_id),
which the hybrid retrieval paths join on.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
# the sf0.1 corpus draws its words uniformly from these 30
WORDS = np.array(("a agg batch big column customer data fast filter group hash join "
                  "key line merge order part query row scan slow small sort spark "
                  "stream table the value vector window").split(), dtype=object)
DOC_WORDS = (10, 100)
EMBED_DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys]



def gen_region(rng, n):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": names})


def gen_nation(rng, n):
    keys = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": keys,
                     "n_name": [f"NATION_{k}" for k in keys],
                     "n_regionkey": (keys % 5).astype(np.int32)})


def gen_customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": _names("Customer", keys),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n)]})


def gen_supplier(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": keys,
        "s_name": _names("Supplier", keys),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def gen_part(rng, n):
    keys = np.arange(n, dtype=np.int64)
    adj = np.array(PART_ADJ, dtype=object)[rng.integers(0, 8, n)]
    noun = np.array(PART_NOUN, dtype=object)[rng.integers(0, 8, n)]
    return pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES, dtype=object)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})


def gen_orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(n_cust, 1), n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n)]})


def gen_lineitem(rng, n, n_orders, n_part, n_supp):
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, max(n_orders, 1), n).astype(np.int64),
        "l_partkey": rng.integers(0, max(n_part, 1), n).astype(np.int64),
        "l_suppkey": rng.integers(0, max(n_supp, 1), n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2499, n) * DAY_US)})


def gen_events(rng, n):
    gaps = rng.exponential(26.0, n) * 1_000_000
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(EPOCH_2024_US + np.cumsum(gaps).astype(np.int64)),
        "user_id": rng.integers(0, max(n // 66, 10), n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 560.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def gen_documents(rng, n):
    """10-100 words per document, uniform in length and over the 30 words;
    5% of documents are a near duplicate of an earlier one (its text plus
    the token `dup`)."""
    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    words = WORDS[rng.integers(0, len(WORDS), int(lengths.sum()))]
    offs = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n)]
    for i in range(n // 20, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def gen_embeddings(rng, n):
    """Unit vectors in uniformly random directions, with a label 0-9 drawn
    independently of the vector: the sf0.1 embeddings have no cluster
    structure (k-means fits them no better than isotropic noise)."""
    v = rng.standard_normal((n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    label = rng.integers(0, 10, n)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def generate(out_dir, seed, sizes):
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(sizes):
        # one independent stream per table: a table's content depends only
        # on the seed, its own size and the sizes of the tables it keys into
        rng = np.random.default_rng([seed, sum(map(ord, name))])
        n = sizes[name]
        if name == "orders":
            tbl = gen_orders(rng, n, sizes.get("customer", n // 10))
        elif name == "lineitem":
            tbl = gen_lineitem(rng, n, sizes.get("orders", n // 4),
                               sizes.get("part", n // 30),
                               sizes.get("supplier", n // 600))
        else:
            tbl = globals()[f"gen_{name}"](rng, n)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    sizes = dict(a.split("=") for a in argv[2:])
    generate(argv[0], int(argv[1]), {k: int(v) for k, v in sizes.items()})


if __name__ == "__main__":
    main(sys.argv[1:])
