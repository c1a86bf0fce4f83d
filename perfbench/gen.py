"""Input generators for the query_board and table_ingest workloads.

`tables` writes the star-schema and corpus tables the registry queries
read (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), shaped like the repo's testdata: same
schemas, value domains and ratios. Content depends only on the scale
factor, never on the workload seed.

`ingest_log` writes table_ingest's seeded op log and the event files its
streamed appends read.
"""
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
NOUNS = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "a", "spark", "part",
         "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.42, 0.15, 0.15, 0.14, 0.14]


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(start: str, days: np.ndarray) -> pa.Array:
    return _ts(start, days.astype(np.int64) * 86400)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: Path, name: str, cols: dict):
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def events_table(rng, first_id: int, n: int, users: int, start: str = "2024-01-01",
                 span_s: float = 30 * 86400) -> dict:
    offsets = np.sort(rng.uniform(0, span_s, n))
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(start, offsets),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def tables(out: Path, sf: float) -> None:
    """Write the ten query tables at scale factor `sf` into `out`."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_events = int(1500000 * sf), int(1000000 * sf)
    n_docs, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                                        rng.choice(NOUNS, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    n_line = n_ord * 4
    _write(out, "lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line, dtype=np.int64))),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_line))})
    _write(out, "events", events_table(rng, 0, n_events, max(15, n_cust // 10)))

    texts = []
    for i in range(n_docs):
        if i % 50 == 49:  # exact and near duplicates of earlier documents
            words = texts[i - 17].split()
            if i % 100 == 99:
                words = words + ["dup"]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_WEIGHTS)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# --- table_ingest ---------------------------------------------------------
KEYS = 16
APPEND_ROWS = 2000
STREAM_FILES, STREAM_ROWS = 2, 500
PASS = ("append", "read_full", "merge", "append", "read_range", "stream", "read_tt",
        "update", "append", "read_range", "delete", "compact", "read_full")
OFFSET_SHIFT = 24  # every v is id + a sum of (log index + 1) << 24; ids stay below 2**24


def key_of(i: int) -> int:
    return i * 7919 % KEYS


def ingest_log(out: Path, seed: int, passes: int) -> None:
    """Write `log.tsv` (log pass, kind, args) and the streamed event files.

    Every log pass runs the same operations in the same order (PASS):
    three appends, a MERGE, an UPDATE, a DELETE and a streamed append
    interleaved with two full-scan, two key-range and one time-travel
    read, and a compaction after the last commit. The seed draws the arguments:
    the UPDATE's key residue, the DELETE's and the reads' key ranges, the
    time-travel target and the streamed events. A fixed order keeps the
    state each op sees the same from seed to seed."""
    out.mkdir(parents=True, exist_ok=True)
    rnd = random.Random(seed)
    rng = np.random.default_rng(seed)
    # Every rewriting commit (MERGE, UPDATE, DELETE, compact) deletes the
    # files it replaced, so VERSION AS OF reaches back only to the latest
    # rewrite: time-travel reads pick among the commits since then.
    lines, next_id, readable = [], 0, []
    for p in range(passes):
        for kind in PASS:
            idx = len(lines)
            off = (idx + 1) << OFFSET_SHIFT
            if kind == "append":
                args = [next_id, next_id + APPEND_ROWS]
                next_id += APPEND_ROWS
            elif kind == "merge":
                args = [max(0, next_id - 1000), next_id + 500, off]
                next_id += 500
            elif kind == "update":
                args = [4, rnd.randrange(4), off]
            elif kind == "delete":
                lo = rnd.randrange(KEYS - 1)
                args = [lo, lo + 2]
            elif kind == "stream":
                sub = f"stream_{idx}"
                d = out / sub
                d.mkdir()
                for f in range(STREAM_FILES):
                    pq.write_table(pa.table(events_table(rng, next_id, STREAM_ROWS, 100)),
                                   d / f"part{f}.parquet")
                    next_id += STREAM_ROWS
                args = [sub, next_id - STREAM_FILES * STREAM_ROWS, next_id]
            elif kind == "read_range":
                lo = rnd.randrange(KEYS - 4)
                args = [lo, lo + 4]
            elif kind == "read_tt":
                args = [rnd.choice(readable)]
            else:
                args = []
            lines.append([p, kind] + args)
            if kind in ("append", "stream"):
                readable.append(idx)
            elif kind in ("merge", "update", "delete", "compact"):
                readable = [idx]
    assert next_id < 1 << OFFSET_SHIFT
    (out / "log.tsv").write_text("".join("\t".join(map(str, l)) + "\n" for l in lines))
