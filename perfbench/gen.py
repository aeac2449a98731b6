"""Seeded input generation for both workloads.

Everything here is a pure function of the seed: the engine only ever
receives what these functions return. Nothing in this module imports
Spark or the engine, so the generators and their determinism can be
tested without a session.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
from dataclasses import dataclass

EVENT_NAMES = ("OrderPlaced", "OrderPaid", "ItemAdded", "UserCreated", "Shipped")

# The engine's driver-side heads fold is capped at 1,024 streams. An
# ingest run starts below it and ends well above it, so both
# heads-resolution paths of the append path run in every run.
HEADS_FOLD_CAP = 1024


def _payload(rng: random.Random, n: int) -> bytes:
    return json.dumps(
        {"n": n, "qty": rng.randint(1, 50), "sku": f"sku-{rng.randint(0, 9999):04d}"},
        separators=(",", ":"),
    ).encode()


# --- ingest_live --------------------------------------------------------------

# One large batch, then one small batch followed by compaction: the
# per-event cost shows on the large one, the fixed per-batch cost on the
# small one. The store holds only the set-up append's few streams before
# the large batch, so it resolves heads through the driver-side fold; the
# large batch spreads over a universe well above the fold cap, so the
# small one takes the Spark scan path.
LARGE_BATCH = (2000, 2400)
SMALL_BATCH = (8, 64)
STREAM_UNIVERSE = 3000
INGEST_BATCHES = 2


@dataclass(frozen=True)
class IngestBatch:
    index: int
    rows: tuple[tuple[str, str, bytes], ...]  # (stream_id, event_name, payload)
    compact_after: bool


@dataclass(frozen=True)
class IngestPlan:
    seed: int

    def batch(self, index: int) -> IngestBatch:
        """Batch 0 is the large one, batch 1 the small one."""
        rng = random.Random(f"ingest:{self.seed}:{index}")
        lo, hi = (LARGE_BATCH, SMALL_BATCH)[index]
        rows = tuple(
            (
                f"st-{rng.randrange(STREAM_UNIVERSE):05d}",
                rng.choice(EVENT_NAMES),
                _payload(rng, index * 10_000 + i),
            )
            for i in range(rng.randint(lo, hi))
        )
        return IngestBatch(index, rows, compact_after=index == 1)

    def versions(self, batches: int, extra: tuple[str, ...] = ()) -> dict[str, int]:
        """Latest version per stream after the set-up rows, ``extra``
        single events, and the first ``batches`` batches."""
        out: dict[str, int] = {}
        sids = [r[0] for r in self.warmup_rows()] + list(extra)
        for i in range(batches):
            sids += [r[0] for r in self.batch(i).rows]
        for sid in sids:
            out[sid] = out.get(sid, -1) + 1
        return out

    def warmup_rows(self) -> tuple[tuple[str, str, bytes], ...]:
        """The untimed first append of the set-up phase (own streams, so
        the measured batches see the same stream growth on every seed)."""
        rng = random.Random(f"ingest-warm:{self.seed}")
        return tuple(
            (f"warm-{i % 4}", rng.choice(EVENT_NAMES), _payload(rng, i))
            for i in range(16)
        )


# --- point_ops ----------------------------------------------------------------

# In every group of three blocks, the second append of one seeded block
# is deliberately stale: a sixth of all appends, the same share in every
# run of whole groups.
STALE_EVERY = 3
ZIPF_S = 1.1

# Every block of calls opens with an append at the current version, so
# every read in the phase sees the file that append adds to the compacted
# store (reads list files through a Spark job once a store holds more than
# 32, so a read before and a read after the first accepted append differ
# by about 2x). The rest of the block is a seeded shuffle of BLOCK_REST:
# about a quarter of all calls are appends, the block has an odd length
# and scans are the plurality, so the median call of a run is a scan or
# the pscan (reads of about the same cost) on every seed, never an append
# or a stream_version.
BLOCK_REST = ("append", "get", "scan", "scan", "scan", "scan", "pscan", "stream_version")
BLOCK_LEN = 1 + len(BLOCK_REST)


@dataclass(frozen=True)
class PointOp:
    """One client call. ``target`` is a stream id (scan, stream_version,
    append), a partition id (pscan) or an index into the preloaded events
    sorted by (stream_id, stream_version) (get). ``expected`` is the
    integer expected version an append carries and ``stale`` marks the
    deliberately out-of-date ones."""

    kind: str
    target: object
    count: int = 0
    start_frac: float = 0.0
    expected: int = -1
    stale: bool = False
    payload: bytes = b""


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc = list(itertools.accumulate(1.0 / (k**s) for k in range(1, n + 1)))
    return [a / acc[-1] for a in acc]


def point_ops(seed: int, n: int, versions: dict[str, int], n_known: int,
              partitions: int) -> list[PointOp]:
    """The first ``n`` calls of the point-call phase, over the store the
    ingest phase of the same seed leaves behind. ``versions``: latest
    version per stream in the store; ``n_known``: how many stored events
    ``get`` may name; ``partitions``: the store's partition count. Appends
    carry expected versions from a private copy of the version model, so
    the whole call sequence is fixed by the seed before any call reaches
    the engine."""
    rng = random.Random(f"point-ops:{seed}")
    versions = dict(versions)
    # Zipf ranks are shuffled onto stream ids so the hot streams differ
    # between seeds.
    ranked = sorted(versions)
    rng.shuffle(ranked)
    cdf = _zipf_cdf(len(ranked), ZIPF_S)

    def zipf_stream(min_version: int = 0) -> str:
        for _ in range(10_000):
            sid = ranked[min(bisect.bisect_left(cdf, rng.random()), len(ranked) - 1)]
            if versions[sid] >= min_version:
                return sid
        raise ValueError(f"no stream has reached version {min_version}")

    out: list[PointOp] = []
    block: list[str] = []
    blocks = stale_block = 0
    for i in range(n):
        if not block:
            block = list(BLOCK_REST)
            rng.shuffle(block)
            block.append("opening-append")
            if blocks % STALE_EVERY == 0:
                stale_block = blocks + rng.randrange(STALE_EVERY)
            stale_now = blocks == stale_block
            blocks += 1
        kind = block.pop()
        if kind in ("append", "opening-append"):
            stale = kind == "append" and stale_now
            # A stale expected version needs a stream past version 0.
            sid = zipf_stream(1 if stale else 0)
            cur = versions[sid]
            expected = rng.randint(0, cur - 1) if stale else cur
            if not stale:
                versions[sid] = cur + 1
            out.append(PointOp("append", sid, expected=expected, stale=stale,
                               payload=_payload(rng, i)))
        elif kind == "get":
            out.append(PointOp("get", rng.randrange(n_known)))
        elif kind == "scan":
            out.append(PointOp("scan", zipf_stream(), count=rng.randint(1, 10)))
        elif kind == "pscan":
            out.append(PointOp("pscan", rng.randrange(partitions),
                               count=rng.randint(20, 50), start_frac=rng.random()))
        else:
            out.append(PointOp("stream_version", zipf_stream()))
    return out


# --- analytics ----------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = ("red", "new", "hot", "small", "cold", "large", "old", "blue")
_PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write the ten registry tables at scale factor ``sf`` as parquet.

    Shapes follow the registry's table contract (TPC-H-like star schema
    plus events, documents and embeddings). Money columns are whole
    cents, so every rounded sum in the oracle queries is exact."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, df: pd.DataFrame, schema: pa.Schema | None = None) -> None:
        table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    def cents(lo: float, hi: float, n: int) -> np.ndarray:
        return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0

    def days(start: str, span: int, n: int) -> np.ndarray:
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]")

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(50, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(200, int(20_000 * sf))

    put("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    put("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    }))
    put("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }))
    put("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": cents(-999.99, 9999.99, n_supp),
    }))
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    put("part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"), n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }))
    put("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("O", "F", "P"), n_ord),
        "o_totalprice": cents(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }))
    put("lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": cents(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("N", "R", "A"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": days("1995-01-02", 2498, n_line),
    }))
    # Event timestamps are whole microseconds, increasing with event_id.
    gaps = rng.integers(1, int(2.6e12 / max(1, n_events)), n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    put("events", pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }))
    texts = []
    for i in range(n_docs):
        if i % 20 == 19 and texts:  # near-duplicates feed the contamination query
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    put("documents", pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(("en", "en", "zh", "es", "fr", "de"), n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }))
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put(
        "embeddings",
        pd.DataFrame({
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": list(vecs.astype("float32")),
            "label": labels.astype("int32"),
        }),
        schema=pa.schema([
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
    )
