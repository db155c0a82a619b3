"""Seeded input generators.

Every input the benchmark feeds the engine is built here, from the
seed alone, with NumPy and PyArrow: the engine under test only ever
sees the parquet files these functions write.  The same seed gives
byte-identical tables (see ``test_helpers.py``).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --- skew_replay: the paper's two skewed pageview sources ------------------

# 2016-02-01 -> 03 and 2016-02-02 -> 04, one event per second, 10 urls
# (the reference experiment's Main.scala:13-16 fixture).
SKEW_INTERVALS = (
    (datetime(2016, 2, 1, tzinfo=timezone.utc), datetime(2016, 2, 3, tzinfo=timezone.utc)),
    (datetime(2016, 2, 2, tzinfo=timezone.utc), datetime(2016, 2, 4, tzinfo=timezone.utc)),
)
URL_COUNT = 10
# Event time covered by one staged file; one file per source per trigger.
HOURS_PER_FILE = 12


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed & 0xFFFFFFFF, tag])


def _write(table: pa.Table, path: str, mtime: float | None = None) -> int:
    """Write one parquet file; pin its mtime (file-stream sources replay
    in mtime order).  Returns the file size in bytes."""
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return os.path.getsize(path)


def _labels(prefix: str, idx: np.ndarray) -> pa.Array:
    """``prefix + str(i)`` for each index, built column-wise in Arrow."""
    return pc.binary_join_element_wise(prefix, pc.cast(pa.array(idx), pa.string()), "")


def skew_source_tables(seed: int) -> list[list[pa.Table]]:
    """Per source, the list of event-time-ordered file tables
    (``url`` string, ``ts`` timestamp UTC, ``event_id`` string)."""
    out = []
    for i, (start, end) in enumerate(SKEW_INTERVALS):
        rng = _rng(seed, f"skew{i}")
        n = int((end - start).total_seconds())
        start_s = int(start.timestamp())
        urls = rng.integers(0, URL_COUNT, n)
        per_file = HOURS_PER_FILE * 3600
        files = []
        for lo in range(0, n, per_file):
            hi = min(n, lo + per_file)
            secs = np.arange(lo, hi, dtype=np.int64) + start_s
            files.append(
                pa.table(
                    {
                        "url": _labels("http://site.com/", urls[lo:hi]),
                        "ts": pa.array(secs * 1_000_000, pa.timestamp("us", tz="UTC")),
                        "event_id": _labels(f"{seed}-{i}-", np.arange(lo, hi)),
                    }
                )
            )
        out.append(files)
    return out


def stage_files(root: str, sources: list[list[pa.Table]], base_mtime: float) -> tuple[list[str], int]:
    """Write each source's files into ``root/src{i}`` with strictly
    increasing mtimes in event-time order.  Returns the source dirs and
    the total bytes staged."""
    dirs, total = [], 0
    for i, files in enumerate(sources):
        d = os.path.join(root, f"src{i}")
        os.makedirs(d)
        for k, t in enumerate(files):
            total += _write(t, os.path.join(d, f"part-{k:04d}.parquet"), base_mtime + k)
        dirs.append(d)
    return dirs, total


# --- index_replay (a): Zipf-keyed pageviews --------------------------------

ZIPF_USERS = 5000
ZIPF_A = 1.3


def zipf_pageview_batches(seed: int, batches: int, rows_per_batch: int) -> list[pa.Table]:
    """Pageview micro-batches whose ``user`` key is Zipf-skewed (a few
    heavy users, a long tail); ``url`` uniform over 10, ``ts`` one hour
    of event time per batch."""
    rng = _rng(seed, "zipf")
    t0 = int(datetime(2016, 2, 1, tzinfo=timezone.utc).timestamp())
    out = []
    for b in range(batches):
        users = np.minimum(rng.zipf(ZIPF_A, rows_per_batch), ZIPF_USERS)
        urls = rng.integers(0, URL_COUNT, rows_per_batch)
        secs = t0 + b * 3600 + np.sort(rng.integers(0, 3600, rows_per_batch))
        out.append(
            pa.table(
                {
                    "user": pa.array([f"u{u}" for u in users]),
                    "url": pa.array([f"http://site.com/{u}" for u in urls]),
                    "ts": pa.array(secs.astype(np.int64) * 1_000_000, pa.timestamp("us", tz="UTC")),
                }
            )
        )
    return out


# --- index_replay (b): near-duplicate document stream ----------------------

DOC_VOCAB = 20000
DOC_TOKENS = 40


def cluster_doc_batches(seed: int, batches: int, docs_per_batch: int) -> list[pa.Table]:
    """Document micro-batches (``doc_id``, ``text``) built as small
    near-duplicate families: a random base text over a 20k-word
    vocabulary plus variants with one word swapped, so the simhash
    pairs form real connected components.  Family members are spread
    over batches, so later batches merge earlier clusters.  With random
    60-bit simhashes over a large vocabulary every (band, key) bucket
    holds a handful of docs — far under the writer's bucket cap — which
    is what makes the capped stream equal the uncapped batch split."""
    rng = _rng(seed, "docs")
    n = batches * docs_per_batch
    texts: list[str] = []
    while len(texts) < n:
        base = rng.integers(0, DOC_VOCAB, DOC_TOKENS)
        for _ in range(int(rng.integers(1, 5))):
            v = base.copy()
            v[int(rng.integers(0, DOC_TOKENS))] = rng.integers(0, DOC_VOCAB)
            texts.append(" ".join(f"w{w}" for w in v))
    texts = texts[:n]
    order = rng.permutation(n)  # scatter families across batches
    ids = np.arange(n, dtype=np.int64)
    return [
        pa.table(
            {
                "doc_id": pa.array(ids[order[b::batches]]),
                "text": pa.array([texts[k] for k in order[b::batches]]),
            }
        )
        for b in range(batches)
    ]


# --- batch_mix: the engine's test tables (FIXTURES.md §B shapes) ----------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "hot", "big", "cold"], ["ring", "widget", "bolt", "gear", "gizmo", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
TEXT_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter"
).split()

TABLE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}


def _dates(rng, n, lo: datetime, days: int) -> pa.Array:
    base = int(lo.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000
    d = rng.integers(0, days, n).astype(np.int64) * 86_400_000_000
    return pa.array(base + d, pa.timestamp("us"))


def engine_tables(seed: int) -> dict[str, pa.Table]:
    """The ten engine tables, schema-identical to the engine's test
    data (TPC-H-ish star + events + documents + embeddings)."""
    rng = _rng(seed, "tables")
    r = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = r["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n)],
        }
    )
    n = r["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
        }
    )
    n = r["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": [
                f"{PART_WORDS[0][a]} {PART_WORDS[1][b]}"
                for a, b in zip(rng.integers(0, 6, n), rng.integers(0, 6, n))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2),
        }
    )
    n = r["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
            "o_orderdate": _dates(rng, n, datetime(1995, 1, 1), 2400),
            "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n)],
        }
    )
    n = r["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n)],
            "l_shipdate": _dates(rng, n, datetime(1995, 1, 2), 2500),
        }
    )
    n = r["events"]
    t0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n)), pa.timestamp("us")
            ),
            "user_id": pa.array(rng.integers(0, 15, n), pa.int64()),
            "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = r["documents"]
    texts = [
        " ".join(TEXT_WORDS[w] for w in rng.integers(0, len(TEXT_WORDS), rng.integers(20, 80)))
        for _ in range(n)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    n = r["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(root: str, tables: dict[str, pa.Table]) -> int:
    """Write ``root/<name>.parquet`` per table; returns bytes written."""
    os.makedirs(root, exist_ok=True)
    return sum(_write(t, os.path.join(root, f"{name}.parquet")) for name, t in tables.items())
