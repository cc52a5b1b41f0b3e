"""Seeded input generators for the benchmark workloads.

Everything the engine reads is made here from ``--seed``: the same seed
gives byte-identical event files and tables. Files are written with pyarrow,
so generation needs no SparkSession and is never timed.

The stream_drain backlog has the shape ``EVENT_SCHEMA``: ``ts`` is the
event time in epoch milliseconds, unique per event; ``user_id`` is the
partition key.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "error", "purchase", "signup")

# Where the traffic parameters come from (perfbench/README.md has the table):
# - the testdata ``events`` tables (TESTDATA.md; sf0.001, sf0.01 and sf0.1
#   alike): 66.7 events per user (100 000 events over 1 500 users at sf0.1),
#   users uniform, the five event types 20 % each, event times uniform over
#   30 days and in order;
# - the streaming scale probes (scripts/probe_streaming_100x.py,
#   scripts/probe_chain3_r9.py, SCALE.md "Streaming at 100x"): one hot key
#   with 10 % of the stream, the rest spread uniformly over the users.
# Neither source has late events: the out-of-order share is a benchmark
# choice, kept inside the engine's 10 s watermark delay.
EVENTS_PER_KEY = 100_000 / 1_500
SPAN_MS = 30 * 86_400_000
HOT_KEY_SHARE = 0.10
TYPE_MIX = dict.fromkeys(EVENT_TYPES, 0.20)
DRAIN_EVENTS = 12_000

# Traffic parameters per workload.
TRAFFIC = {
    "stream_drain": {
        "events": DRAIN_EVENTS,
        "keys": round(DRAIN_EVENTS * (1 - HOT_KEY_SHARE) / EVENTS_PER_KEY),
        "hot_key_share": HOT_KEY_SHARE,
        "type_mix": TYPE_MIX,
        # uniform event times over SPAN_MS: exponential gaps of this mean
        "mean_gap_ms": SPAN_MS // DRAIN_EVENTS,
        "out_of_order_share": 0.03,
        "out_of_order_max_ms": 9_000,
    },
    # half the sf0.01 row counts (documents and embeddings: as at every
    # scale), events at 66.7 per user
    "batch_queries": {
        "lineitem_rows": 30_000,
        "orders_rows": 7_500,
        "customer_rows": 750,
        "events": 5_000,
        "event_keys": round(5_000 / EVENTS_PER_KEY),
        "documents": 500,
        "embeddings": 500,
        "embedding_dim": 64,
    },
}

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("ts", pa.int64()),
])

# 2024-01-01T00:00:00Z: event times start here
T0_MS = 1_704_067_200_000


def event_values(rng, n: int) -> np.ndarray:
    """Event values as in the testdata events: exponential with mean 50
    (sf0.01: median 34.6, mean 49.6, 14.6 % above 95), two decimals."""
    return np.maximum(np.round(rng.exponential(50.0, size=n), 2), 0.01)


def drain_backlog(seed: int, out_dir: str) -> dict[str, np.ndarray]:
    """Write the stream_drain backlog as one parquet file, in arrival order,
    and return its events (sentinel excluded).

    One hot user takes ``hot_key_share`` of the events, the rest are spread
    uniformly over ``keys`` users; event types follow ``type_mix``; event
    times advance by exponential gaps of mean ``mean_gap_ms``, at least 1 ms,
    so every ``ts`` is unique and ties never decide a pattern match. A share
    ``out_of_order_share`` of the events arrives up to
    ``out_of_order_max_ms`` of event time late, inside the engine's 10 s
    watermark delay.

    The file ends in one ``flush`` sentinel on user 0, a day of event time
    after the backlog. It matches no plan's filter; it only moves the final
    watermark past every absence deadline and window end, so the last
    no-data micro-batch emits what batch mode emits at end of input."""
    p = TRAFFIC["stream_drain"]
    rng = np.random.default_rng(seed)
    n = p["events"]
    # user ids are scattered, not 0..n; the first one is the hot user
    key_ids = rng.permutation(p["keys"] + 1).astype(np.int64) + 1
    types = np.array(list(p["type_mix"]), dtype=object)
    gaps = 1 + np.floor(rng.exponential(p["mean_gap_ms"] - 1, size=n)).astype(np.int64)
    ts = T0_MS + np.cumsum(gaps)
    hot = rng.random(n) < p["hot_key_share"]
    users = np.where(hot, 0, rng.integers(1, len(key_ids), size=n))
    ev = {
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": key_ids[users],
        "event_type": types[rng.choice(len(types), size=n, p=list(p["type_mix"].values()))],
        "value": event_values(rng, n),
        "ts": ts,
    }
    late = rng.random(n) < p["out_of_order_share"]
    arrive = ts + np.where(late, rng.integers(1, p["out_of_order_max_ms"], size=n), 0)
    order = np.argsort(arrive, kind="stable")
    ev = {c: v[order] for c, v in ev.items()}
    last = {"event_id": [10**12], "user_id": [0], "event_type": ["flush"], "value": [0.0],
            "ts": [int(ts[-1]) + 86_400_000]}
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pydict(
        {c: np.concatenate([ev[c], np.array(last[c], dtype=ev[c].dtype)])
         for c in EVENT_SCHEMA.names}, schema=EVENT_SCHEMA),
        os.path.join(out_dir, "part-000.parquet"))
    return ev


# ---------------------------------------------------------------- batch tables
WORDS = ("a the data query stream window join agg scan filter sort merge hash "
         "key value row column table part line order customer group batch "
         "spark vector big small fast slow").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.15, 0.13, 0.14)
SEGMENTS = ("BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((b - a).astype(int)) + 1, size=n)
    return (a + d).astype("datetime64[us]")


def batch_tables(seed: int, out_dir: str) -> None:
    """Tables in the TESTDATA.md schema (region, nation, customer,
    orders, lineitem, events, documents, embeddings), one parquet file each,
    so ``__spark_entry__`` entries and their ``oracle_sql()`` twins run
    unchanged against ``out_dir``."""
    p = TRAFFIC["batch_queries"]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols, schema):
        pq.write_table(pa.Table.from_pydict(cols, schema=schema),
                       os.path.join(out_dir, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": regions},
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    put("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))

    nc = p["customer_rows"]
    put("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, size=nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, size=nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, size=nc),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))

    no = p["orders_rows"]
    put("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, size=no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, size=no), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(PRIORITIES, size=no),
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")),
                  ("o_orderpriority", pa.string())]))

    nl = p["lineitem_rows"]
    qty = rng.integers(1, 51, size=nl).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, no, size=nl).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, size=nl).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, size=nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, size=nl), 2),
        "l_discount": rng.integers(0, 11, size=nl) / 100.0,
        "l_tax": rng.integers(0, 9, size=nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=nl),
        "l_linestatus": rng.choice(["F", "O"], size=nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                  ("l_shipdate", pa.timestamp("us"))]))

    ne = p["events"]
    # as in the testdata events: users and types uniform, times uniform over
    # 30 days (distinct microseconds)
    span_us = SPAN_MS * 1000
    ts_us = np.sort(rng.choice(span_us, size=ne, replace=False)) + T0_MS * 1000
    put("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts_us.astype("datetime64[us]"),
        "user_id": rng.integers(0, p["event_keys"], size=ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=ne),
        "value": event_values(rng, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ne)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                  ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))

    nd = p["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.06:
            # near-duplicate of an earlier document: one word swapped, "dup" tag
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, size=int(rng.integers(20, 80)))))
    put("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=nd, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, size=nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())]))

    nv, dim = p["embeddings"], p["embedding_dim"]
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, size=nv)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(nv, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels.astype(np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))
