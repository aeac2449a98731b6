"""Output checks and summary statistics.

The checks compare only deterministic fields (sequences, versions,
counts, query-result hashes), never generated event ids or timestamps,
and run outside the timed region. Each returns a list of problems; an
empty list means the output matched the benchmark's own model.
"""

from __future__ import annotations

import statistics
from collections import Counter, defaultdict
from typing import Iterable, Sequence


# --- statistics ----------------------------------------------------------------


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: Sequence[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at least
    ten samples beyond it. Below 20 samples that percentile would sit at
    or under the median, so the maximum is reported instead (percentile
    100)."""
    s = sorted(xs)
    n = len(s)
    k = n - 10  # 1-based rank with exactly ten samples above it
    if n >= 20:
        return float(s[k - 1]), 100.0 * k / n, n
    return float(s[-1]), 100.0, n


# --- ingest_live ---------------------------------------------------------------


def check_gapless(pairs: Iterable[tuple[object, int]], what: str,
                  expected_last: dict | None = None) -> list[str]:
    """Per key, the numbers must be exactly 0..last with no gap and no
    duplicate; ``expected_last`` (if given) pins last per key, and keys
    missing from the output count as problems too."""
    by_key: dict[object, list[int]] = defaultdict(list)
    for key, n in pairs:
        by_key[key].append(int(n))
    problems = []
    for key, ns in by_key.items():
        ns.sort()
        if ns != list(range(len(ns))):
            problems.append(f"{what} {key}: not gapless from 0 ({_describe(ns)})")
        elif expected_last is not None and ns[-1] != expected_last.get(key):
            problems.append(
                f"{what} {key}: last {ns[-1]}, expected {expected_last.get(key)}"
            )
    if expected_last is not None:
        for key in set(expected_last) - set(by_key):
            problems.append(f"{what} {key}: missing (expected last {expected_last[key]})")
    return problems


def _describe(ns: list[int]) -> str:
    seen = set(ns)
    missing = [i for i in range(ns[-1] + 1) if i not in seen][:3] if ns else []
    dups = [n for n, c in Counter(ns).items() if c > 1][:3]
    return f"n={len(ns)} max={ns[-1] if ns else None} missing={missing} dup={dups}"


def check_deliveries(deliveries: Sequence[Sequence[tuple[int, int]]],
                     committed: set[tuple[int, int]]) -> list[str]:
    """Live delivery: every committed (partition_id, partition_sequence)
    exactly once, nothing else, and each delivery ordered."""
    problems = []
    seen: Counter = Counter()
    for i, rows in enumerate(deliveries):
        if list(rows) != sorted(rows):
            problems.append(f"delivery {i}: not ordered by (partition_id, partition_sequence)")
        seen.update(rows)
    dups = [k for k, c in seen.items() if c > 1]
    if dups:
        problems.append(f"{len(dups)} events delivered more than once, e.g. {dups[:3]}")
    missing = committed - set(seen)
    if missing:
        problems.append(f"{len(missing)} committed events never delivered, e.g. {sorted(missing)[:3]}")
    extra = set(seen) - committed
    if extra:
        problems.append(f"{len(extra)} delivered events not committed, e.g. {sorted(extra)[:3]}")
    return problems


def check_sink(pairs: Sequence[tuple[int, int]], stored: set[tuple[int, int]],
               total_events: int) -> list[str]:
    """Catch-up sink: exactly the stored (partition_id,
    partition_sequence) pairs, each once, and ``total_events`` of them."""
    problems = []
    dups = [k for k, c in Counter(pairs).items() if c > 1]
    if dups:
        problems.append(f"catch-up sink holds {len(dups)} events more than once, e.g. {dups[:3]}")
    got = set(pairs)
    if got != stored:
        problems.append(f"catch-up sink misses {len(stored - got)} stored events and holds "
                        f"{len(got - stored)} that are not stored")
    if len(got) != total_events:
        problems.append(f"catch-up sink holds {len(got)} distinct events, "
                        f"stats() says {total_events}")
    return problems


# --- point_ops -----------------------------------------------------------------


def check_append(accepted: bool, version: int | None, expected: int, stale: bool) -> list[str]:
    if stale:
        return [] if not accepted else [f"stale expected version {expected} was accepted"]
    if not accepted:
        return [f"current expected version {expected} was rejected"]
    if version != expected + 1:
        return [f"accepted at version {version}, model says {expected + 1}"]
    return []


def check_scan(versions: Sequence[int], last: int, count: int) -> list[str]:
    want = list(range(min(count, last + 1)))
    return [] if list(versions) == want else [f"scan versions {list(versions)[:12]} != {want[:12]}"]


def check_get(rows: Sequence[tuple[str, str]], event_id: str, txn_id: str) -> list[str]:
    """rows: (event_id, transaction_id) of every returned event."""
    if event_id not in {r[0] for r in rows}:
        return [f"get {event_id}: requested event missing"]
    if any(r[1] != txn_id for r in rows):
        return [f"get {event_id}: rows outside transaction {txn_id}"]
    return []


def check_pscan(seqs: Sequence[int], start: int, count: int, last: int) -> list[str]:
    want = list(range(start, min(start + count, last + 1)))
    return [] if list(seqs) == want else [f"pscan sequences {list(seqs)[:5]}.. != {want[:5]}.."]


def check_stream_version(got: int | None, want: int) -> list[str]:
    return [] if got == want else [f"stream_version {got} != model {want}"]


# --- analytics -----------------------------------------------------------------


def check_hash(name: str, got: str, want: str) -> list[str]:
    return [] if got == want else [f"{name}: hash {got} != oracle {want}"]
