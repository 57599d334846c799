"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine's registry reads (`region` … `embeddings`,
one parquet file each, the column types of the engine's test corpus) into a
directory. The same (seed, scale) always gives byte-identical values, so
digests of query results can be recorded once and checked on every run.

Scale follows the TPC-H convention of the corpus: at `sf=0.1` lineitem has
600,000 rows, orders 150,000, events 100,000, documents 5,000 and
embeddings 2,000.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The value domains mirror the engine's test corpus (FIXTURES.md §B).
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMB_DIM = 64

US_PER_DAY = 86_400_000_000


def _days(rng, n, start, end):
    """n midnight timestamps (µs) uniform over [start, end] (ISO dates)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, size=n)
    return pa.array(d * US_PER_DAY, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0, 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)],
                    type=pa.string())


def counts(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": max(500, int(20_000 * sf)),
    }


def documents(rng, n):
    """Word-salad documents over a 30-word vocabulary, with near-duplicate
    (about 12 %) and exact-duplicate (about 3 %) copies of earlier ones,
    so the dedup and retrieval operators have real work to do."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.15:
            src = texts[int(rng.integers(0, i))].split(" ")
            if r >= 0.03:
                for j in rng.choice(len(src), size=max(1, len(src) // 10), replace=False):
                    src[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                if rng.random() < 0.5:
                    src.append("dup")
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n):
    """Unit-norm float32 vectors clustered around ten label centroids."""
    labels = rng.integers(0, 10, size=n)
    centers = rng.normal(size=(10, EMB_DIM))
    v = centers[labels] + 1.5 * rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
        pa.array(v.reshape(-1), type=pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    })


def _star(rng, name, c):
    """One table of the star schema (plus `events`) at row counts `c`."""
    if name == "region":
        return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                         "r_name": pa.array(REGIONS)})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                         "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                         "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    n = c[name]
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, SEGMENTS, n)})
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99))})
    if name == "part":
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return pa.table({
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": _pick(rng, names, n),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n)]),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, size=n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1))})
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, c["customer"], size=n)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, n, 1000.0, 500000.0)),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n)})
    if name == "lineitem":
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, c["orders"], size=n)),
            "l_partkey": pa.array(rng.integers(0, c["part"], size=n)),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], size=n)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n, 900.0, 105000.0)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, size=n) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, size=n) / 100.0, 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})
    if name == "events":
        lo = np.datetime64("2024-01-01", "us").astype(np.int64)
        ts = np.sort(rng.choice(30 * US_PER_DAY, size=n, replace=False)) + lo
        return pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, size=n)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)])})
    raise ValueError(name)


NAMES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
         "events", "documents", "embeddings"]


def table(seed, name, sf):
    """Table `name` at scale `sf`. Each table draws from its own random
    stream, so a table does not depend on which others are generated or
    on their scales (foreign keys follow the scale given here)."""
    rng = np.random.default_rng([seed, NAMES.index(name)])
    c = counts(sf)
    if name == "documents":
        return documents(rng, c["documents"])
    if name == "embeddings":
        return embeddings(rng, c["embeddings"])
    return _star(rng, name, c)


def write(out_dir, seed, scales):
    """Write each table of `scales` (name → scale factor) as
    `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, sf in scales.items():
        pq.write_table(table(seed, name, sf), os.path.join(out_dir, f"{name}.parquet"))


def write_split(out_dir, seed, names, share=0.8):
    """Write a seeded `share` of the rows of each already written table in
    `names` to `<out_dir>/base/<name>.parquet` (the rest is held out)."""
    rng = np.random.default_rng([seed, 99])
    os.makedirs(os.path.join(out_dir, "base"), exist_ok=True)
    for name in names:
        t = pq.read_table(os.path.join(out_dir, f"{name}.parquet"))
        keep = rng.random(t.num_rows) < share
        pq.write_table(t.filter(pa.array(keep)), os.path.join(out_dir, "base", f"{name}.parquet"))
