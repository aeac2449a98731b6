"""The two workloads. Each drives the engine's public API from one
process, times every call with tracing off or on, checks the outputs
outside the timed region, and returns an :class:`Outcome`.

Closed loops only: every client waits for its reply before sending the
next request. The store workload has at most two clients at a time (the
writer and the live subscription, then the point-call client);
analytics has one.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from datetime import datetime

from perfbench import check, gen
from perfbench.trace import Tracer

LIVE_TRIGGER = "250 milliseconds"
DRAIN_TIMEOUT_S = 60.0
ANALYTICS_SF = 0.01
# The measured work of a run is fixed, the same on every host and commit,
# so every tail has the same rank and the same call or query mix in every
# run: the point-call phase is three blocks of nine calls (27 samples,
# tail at rank 17; one group of gen.STALE_EVERY blocks, so one of its six
# appends is stale) and analytics two warm passes after its cold pass
# (14 samples, tail the maximum). If that work ends before ``--seconds``,
# further whole blocks or passes run, checked but not in the metrics.
POINT_BLOCKS = 3
WARM_PASSES = 2
# Seven of the sixteen headline queries, one or two per kind of plan:
# aggregate, multi-way join, ranking and session windows, as-of join,
# text signatures, vector top-k. All sixteen do not fit the benchmark's
# run budget on a 4-core host (a cold pass of all sixteen takes about
# 20 s there). An odd count makes the median query a single query.
ANALYTICS_QUERIES = (
    "asof_join_last_signup",
    "minhash_signatures",
    "q1_pricing_summary",
    "q5_nation_revenue",
    "sessionize_streams",
    "similarity_topk_cosine",
    "top3_orders_per_customer",
)
# The stream of the set-up's precondition append, outside every plan.
WARM_STREAM = "pw-warm"
READS = ("get", "scan", "pscan", "stream_version")


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work_dir: str
    setup_done: "callable"  # marks the end of set-up
    phases: dict[str, float] = field(default_factory=dict)  # set-up steps, s

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0


@dataclass
class Outcome:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)  # name -> (value, unit)
    generic: dict[str, float] = field(default_factory=dict)  # work_per_s, op_p50_ms, op_tail_ms
    tails: dict[str, tuple[float, int]] = field(default_factory=dict)  # percentile, n
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    ratio_bases: dict[str, tuple[float, float]] = field(default_factory=dict)


class Failures:
    """Failed operations by id (a call, a batch, or a named check such as
    "store"), with the first problems each one showed."""

    def __init__(self) -> None:
        self.ops: set[object] = set()
        self.problems: list[str] = []

    def add(self, op: object, problems: list[str]) -> None:
        if problems:
            self.ops.add(op)
            self.problems.extend(f"[{op}] {p}" for p in problems[:5])


def _requests_df(spark, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["stream_id", "event_name", "payload"])
    return spark.createDataFrame(
        pdf, "stream_id string, event_name string, payload binary"
    )


def _timing(name: str, xs: list[float], unit: str, scale: float, out: Outcome,
            tail_name: str | None) -> None:
    out.metrics[f"{name}_p50_{unit}"] = (check.median(xs) * scale, unit)
    if tail_name:
        v, pct, n = check.tail(xs)
        out.metrics[tail_name] = (v * scale, unit)
        out.tails[tail_name] = (pct, n)


def _wait_for(cond, timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while not cond():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.02)
    return True


# --- store -----------------------------------------------------------------------


class PointClient:
    """The point-call client. ``versions`` and ``last_seq`` are the
    benchmark's model of the store (latest version per stream, latest
    sequence per partition); ``known`` lists stored events as
    (stream_id, stream_version, event_id, transaction_id), sorted."""

    def __init__(self, store, tracer: Tracer, versions: dict[str, int],
                 last_seq: dict[int, int], known: list[tuple]) -> None:
        self.store, self.tr = store, tracer
        self.versions, self.last_seq, self.known = versions, last_seq, known
        self.times: dict[str, list[float]] = {k: [] for k in ("append", *READS)}

    def call(self, op: gen.PointOp, timed: bool = True) -> list[str]:
        """One call; returns the problems its reply shows. Untimed calls
        (set-up, and calls past the measured blocks) are not traced
        either."""
        from sierradb_spark.eventstore import AppendRequest

        store = self.store

        def span(kind: str, request: object):
            return self.tr.span(kind, request=request) if timed else nullcontext()
        if op.kind == "append":
            expected = "empty" if op.expected < 0 else str(op.expected)
            req = AppendRequest(op.target, "ItemAdded", op.payload,
                                expected_version=expected)
            t0 = time.perf_counter()
            with span("append", op.target):
                res = store.append([req])[0]
            dt = time.perf_counter() - t0
            if res.accepted:
                self.versions[op.target] = res.stream_version
                self.last_seq[res.partition_id] = res.partition_sequence
            probs = check.check_append(res.accepted, res.stream_version, op.expected,
                                       op.stale)
        elif op.kind == "stream_version":
            t0 = time.perf_counter()
            with span("stream_version", op.target):
                got = store.stream_version(op.target)
            dt = time.perf_counter() - t0
            probs = check.check_stream_version(got, self.versions.get(op.target, -1))
        else:
            if op.kind == "get":
                if op.target >= len(self.known):
                    return [f"get #{op.target}: only {len(self.known)} events stored"]
                _, _, eid, txn = self.known[op.target]
                make = lambda: store.get(eid)  # noqa: E731
            elif op.kind == "scan":
                make = lambda: store.scan(op.target, count=op.count)  # noqa: E731
            else:
                start = int(op.start_frac * (self.last_seq.get(op.target, -1) + 1))
                make = lambda: store.pscan(op.target, start=start, count=op.count)  # noqa: E731
            t0 = time.perf_counter()
            with span(op.kind, str(op.target)) as rec:
                df = make()
                rows = df.collect()
            dt = time.perf_counter() - t0
            if rec is not None:
                rec["results"] = len(rows)
                self.tr.catalyst(rec, df)
            if op.kind == "get":
                probs = check.check_get(
                    [(r["event_id"], r["transaction_id"]) for r in rows], eid, txn)
            elif op.kind == "scan":
                probs = check.check_scan([r["stream_version"] for r in rows],
                                         self.versions.get(op.target, -1), op.count)
            else:
                probs = check.check_pscan([r["partition_sequence"] for r in rows], start,
                                          op.count, self.last_seq.get(op.target, -1))
        if timed:
            self.times[op.kind].append(dt)
        return probs


def _stored(store) -> list[tuple]:
    """Every stored event as (stream_id, stream_version, event_id,
    transaction_id, partition_id, partition_sequence)."""
    return [tuple(r) for r in store.events().select(
        "stream_id", "stream_version", "event_id", "transaction_id",
        "partition_id", "partition_sequence",
    ).collect()]


def _check_store(stored: list[tuple], versions: dict[str, int],
                 last_seq: dict[int, int]) -> list[str]:
    return (check.check_gapless(((r[4], r[5]) for r in stored), "partition", last_seq)
            + check.check_gapless(((r[0], r[1]) for r in stored), "stream", versions))


def store(ctx: Context) -> Outcome:
    """Two timed phases over one store: ``ingest_live`` (bulk appends
    while a live subscription follows, then a catch-up) and
    ``point_ops`` (one client's reads and expected-version appends)."""
    from sierradb_spark.eventstore import EventStore
    from sierradb_spark.streaming.subscribe import PartitionMatcher, Subscription

    spark, tr = ctx.spark, ctx.tracer
    plan = gen.IngestPlan(ctx.seed)
    root = os.path.join(ctx.work_dir, "store")
    st = EventStore(spark, os.path.join(root, "store"))
    fails = Failures()
    out = Outcome()

    # --- set-up: one precondition append (the store's first append, on its
    # own stream), one bulk append, one call of each read kind, and the
    # live subscription's first delivery. All of it is untimed.
    client = PointClient(st, tr, plan.versions(0), {}, [])
    with ctx.phase("warm_append"):
        fails.add("warm-append", client.call(
            gen.PointOp("append", WARM_STREAM, expected=-1, payload=b"{}"), timed=False))
    warm = plan.warmup_rows()
    submitted = [(WARM_STREAM, "ItemAdded", b"{}"), *warm]
    with ctx.phase("warm_append_df"):
        results = [st.append_df(_requests_df(spark, warm))]
    with ctx.phase("warm_reads"):
        stored = _stored(st)
        client.known = sorted(r[:4] for r in stored)
        for r in stored:
            client.last_seq[r[4]] = max(client.last_seq.get(r[4], -1), r[5])
        first = client.known[0][0]
        for op in (gen.PointOp("get", 0), gen.PointOp("scan", first, count=5),
                   gen.PointOp("pscan", next(r[4] for r in stored if r[0] == first),
                               count=10),
                   gen.PointOp("stream_version", first)):
            fails.add(f"warm-{op.kind}", client.call(op, timed=False))

    lock = threading.Lock()
    deliveries: list[tuple[float, list[tuple[int, int]]]] = []

    def deliver(rows) -> None:
        t = time.time()
        got = [(r["partition_id"], r["partition_sequence"]) for r in rows]
        with lock:
            deliveries.append((t, got))

    def delivered() -> int:
        with lock:
            return sum(len(d[1]) for d in deliveries)

    live = Subscription(st, PartitionMatcher()).start(
        deliver, checkpoint=os.path.join(root, "live-ckpt"),
        available_now=False, trigger_interval=LIVE_TRIGGER,
    )
    tr.aliases[str(live.runId)] = "subscribe.live"
    try:
        with ctx.phase("live_first_delivery"):
            _wait_for(lambda: delivered() >= len(submitted), DRAIN_TIMEOUT_S)
        ctx.setup_done()

        # --- ingest_live: one large/small pair, the small batch followed by
        # compaction.
        batch_s: list[float] = []
        manifest_mtime: list[float] = []
        backlog: list[int] = []  # sampled at each writer commit
        cum_events: list[int] = [len(submitted)]
        n_events = 0
        for i in range(gen.INGEST_BATCHES):
            b = plan.batch(i)
            df = _requests_df(spark, b.rows)
            t0 = time.perf_counter()
            with tr.span("append_df", request=i):
                res = st.append_df(df)
            dt = time.perf_counter() - t0
            # The manifest's mtime is read now: compaction deletes it.
            commit = st.stats()["commit"]
            manifest_mtime.append(
                os.stat(os.path.join(st.commits_path, f"{commit:020d}.json")).st_mtime
            )
            if b.compact_after:
                t0 = time.perf_counter()
                with tr.span("compact", request=i):
                    st.compact()
                dt += time.perf_counter() - t0
            batch_s.append(dt)
            results.append(res)
            submitted.extend(b.rows)
            n_events += len(b.rows)
            cum_events.append(len(submitted))
            backlog.append(_backlog(cum_events, delivered()))
        if not _wait_for(lambda: delivered() >= len(submitted), DRAIN_TIMEOUT_S):
            fails.add("live", [f"live subscription delivered {delivered()} of "
                               f"{len(submitted)} events within {DRAIN_TIMEOUT_S}s"])
    finally:
        live.stop()
    if tr.enabled:
        _live_progress(tr, live)

    # Catch-up from the start into a sink, by a new subscription.
    sink = os.path.join(root, "sink")
    total = st.stats()["total_events"]
    t0 = time.perf_counter()
    with tr.span("subscribe.catchup", claims_foreign=True):
        Subscription(st, PartitionMatcher()).catchup_to_sink(
            sink, os.path.join(root, "catchup-ckpt"))
    catchup_s = time.perf_counter() - t0

    # Ingest checks (untimed): acceptance, gapless sequences and versions
    # against the generator's own counts, exactly-once ordered delivery,
    # the catch-up sink, and the live lag of each batch.
    per_batch = [_result_rows(r) for r in results]
    for b, rows in enumerate(per_batch):
        bad = [r for r in rows if not r[0]]
        fails.add(f"batch{b}", [f"{len(bad)} of {len(rows)} events rejected: {bad[:2]}"]
                  if bad else [])
    model = plan.versions(gen.INGEST_BATCHES, extra=(WARM_STREAM,))
    stored = _stored(st)
    stats = st.stats()
    watermarks = {int(k): v for k, v in stats["confirmed_sequences"].items()}
    fails.add("ingest-store", _check_store(stored, model, watermarks))
    with lock:
        delivery_times = list(deliveries)
    fails.add("live", check.check_deliveries([d[1] for d in delivery_times],
                                             {(r[4], r[5]) for r in stored}))
    fails.add("catchup", check.check_sink(_sink_pairs(sink), {(r[4], r[5]) for r in stored},
                                          stats["total_events"]))
    got_at: dict[tuple[int, int], float] = {}
    for t, rows in delivery_times:
        for key in rows:
            got_at.setdefault(key, t)
    lags = []
    for b, mtime in enumerate(manifest_mtime, start=1):
        keys = [(r[1], r[2]) for r in per_batch[b]]
        if not keys or any(k not in got_at for k in keys):
            continue  # already reported by the delivery check
        lag = max(got_at[k] for k in keys) - mtime
        if lag < 0:
            fails.add(f"batch{b}", [f"negative live lag {lag:.4f}s"])
        lags.append(lag)

    # --- point_ops: POINT_BLOCKS blocks of calls, then whole untimed blocks
    # while the run's seconds last.
    client.versions = dict(model)
    client.last_seq = watermarks
    client.known = sorted(r[:4] for r in stored)
    ops = gen.point_ops(ctx.seed, 2_000, model, sum(v + 1 for v in model.values()),
                        st.config.num_partitions)
    measured = POINT_BLOCKS * gen.BLOCK_LEN
    t_end = time.monotonic() + ctx.seconds
    n = 0
    while n < len(ops) and (n < measured or n % gen.BLOCK_LEN or time.monotonic() < t_end):
        fails.add(f"op{n}", client.call(ops[n], timed=n < measured))
        n += 1
    # Final state: every stream and partition exactly as the model says,
    # so rejected appends wrote nothing.
    fails.add("point-store", _check_store(_stored(st), client.versions, client.last_seq))

    out.metrics["ingest_events_per_s"] = (n_events / sum(batch_s), "events/s")
    _timing("append_batch", batch_s, "s", 1.0, out, "append_batch_tail_s")
    if lags:
        _timing("live_lag", lags, "s", 1.0, out, "live_lag_tail_s")
    out.metrics["catchup_events_per_s"] = (total / catchup_s, "events/s")
    times = client.times
    if times["append"]:
        _timing("eappend", times["append"], "ms", 1000.0, out, "eappend_tail_ms")
    for k, name in (("get", "eget"), ("scan", "escan"), ("pscan", "epscan")):
        if times[k]:
            _timing(name, times[k], "ms", 1000.0, out, None)
    reads = [x for k in READS for x in times[k]]
    v, pct, cnt = check.tail(reads)
    out.metrics["read_tail_ms"] = (v * 1000.0, "ms")
    out.tails["read_tail_ms"] = (pct, cnt)
    calls = reads + times["append"]
    out.generic = {
        "work_per_s": n_events / sum(batch_s),
        "op_p50_ms": check.median(calls) * 1000.0,
        "op_tail_ms": check.tail(calls)[0] * 1000.0,
    }
    # Operations: the batches, the live delivery, the catch-up, the store
    # read after ingest, every call, and the final store read.
    out.attempted = len(batch_s) + 3 + n + 1
    out.failed = len(fails.ops)
    out.problems = fails.problems
    stale = sum(o.stale for o in ops[:measured] if o.kind == "append")
    appends = sum(o.kind == "append" for o in ops[:measured])
    tr.extras["append.rejected_ratio"] = stale / appends if appends else 0.0
    out.ratio_bases["append.rejected_ratio"] = (stale, appends)
    tr.extras["subscribe.live.backlog_commits"] = sum(backlog) / len(backlog)
    out.ratio_bases["subscribe.live.backlog_commits"] = (sum(backlog), len(backlog))
    payload_bytes = sum(len(p) for _, _, p in submitted) + sum(
        len(o.payload) for o in ops[:n] if o.kind == "append" and not o.stale)
    final = st.stats()
    tr.extras.update({
        "store.events_files": final["events_files"],
        "store.heads_files": final["heads_files"],
        "store.bytes_per_payload_byte": final["events_bytes"] / payload_bytes,
    })
    return out


def _result_rows(res) -> list[tuple]:
    return [
        (r[0], r[1], r[2])
        for r in res.select("accepted", "partition_id", "partition_sequence").collect()
    ]


def _backlog(cum_events: list[int], delivered: int) -> int:
    """Committed batches whose events are not all delivered yet. Commits
    are delivered in order, so a count of delivered events tells how many
    leading commits are complete."""
    done = sum(1 for c in cum_events if c <= delivered)
    return len(cum_events) - done


def _sink_pairs(sink: str) -> list[tuple[int, int]]:
    import pyarrow.dataset as ds

    if not os.path.isdir(sink):
        return []
    t = ds.dataset(sink, format="parquet", partitioning="hive").to_table(
        columns=["partition_id", "partition_sequence"]
    )
    return list(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))


def _live_progress(tr: Tracer, q) -> None:
    """Per-trigger spans and duration medians from recentProgress."""
    keys = {"triggerExecution": "trigger_ms", "addBatch": "add_batch_ms",
            "latestOffset": "latest_offset_ms", "walCommit": "wal_commit_ms"}
    samples: dict[str, list[float]] = {v: [] for v in keys.values()}
    group = str(q.runId)
    for p in q.recentProgress:
        d = p.durationMs or {}
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        tr.add_span("subscribe.live", start, start + d.get("triggerExecution", 0) / 1000.0,
                    group, request=p.batchId)
        if p.numInputRows:
            for k, name in keys.items():
                if k in d:
                    samples[name].append(float(d[k]))
    for name, xs in samples.items():
        tr.extras[f"subscribe.live.{name}"] = check.median(xs) if xs else 0.0


# --- analytics -----------------------------------------------------------------


def prepare_tables(seed: int, data_root: str) -> tuple[str, dict[str, str]]:
    """Generate the seed's tables once per checkout and hash every
    measured query's DuckDB oracle over them (both untimed, before the
    session starts)."""
    data = os.path.join(data_root, f"sf{ANALYTICS_SF}-seed{seed}")
    hashes_path = os.path.join(data, "oracle_hashes.json")
    if os.path.exists(hashes_path):
        with open(hashes_path) as f:
            hashes = json.load(f)
        if set(ANALYTICS_QUERIES) <= set(hashes):
            return data, hashes
    else:
        gen.write_tables(seed, ANALYTICS_SF, data)
    hashes = oracle_hashes(data)
    with open(hashes_path + ".tmp", "w") as f:
        json.dump(hashes, f)
    os.replace(hashes_path + ".tmp", hashes_path)
    return data, hashes


def headline_queries() -> dict:
    """The measured queries, in sorted name order."""
    from sierradb_spark.operators import REGISTRY

    queries = {n: REGISTRY.queries[n] for n in sorted(ANALYTICS_QUERIES)}
    not_headline = [n for n, q in queries.items() if not q.headline]
    if not_headline:
        raise ValueError(f"not headline queries: {not_headline}")
    return queries


def oracle_hashes(data: str) -> dict[str, str]:
    import duckdb

    from sierradb_spark.registry import TABLES
    from tests.run_parity import table_hash

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        out = {}
        for name, q in headline_queries().items():
            res = con.execute(q.oracle)
            out[name] = table_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def analytics(ctx: Context, data: str, oracle: dict[str, str]) -> Outcome:
    from tests.run_parity import table_hash

    spark, tr = ctx.spark, ctx.tracer
    queries = headline_queries()
    fails = Failures()
    # Set-up is the session start alone: the first pass pays the first
    # reads of every table, and query_first_pass_s reports it.
    ctx.setup_done()

    def one_pass(p: int) -> list[float]:
        """Pass ``p`` (0 is the cold one); passes past WARM_PASSES are
        not traced."""
        times = []
        for name, q in queries.items():
            t0 = time.perf_counter()
            with (tr.span("query", request=name) if p <= WARM_PASSES
                  else nullcontext()) as rec:
                df = q.spark(spark, data)
                rows = df.collect()
            times.append(time.perf_counter() - t0)
            if rec is not None:
                rec["results"] = len(rows)
                rec["warm"] = p > 0
                tr.catalyst(rec, df)
            got = table_hash(df.columns, [tuple(r) for r in rows])
            fails.add(f"pass{p}:{name}", check.check_hash(name, got, oracle[name]))
        return times

    first = one_pass(0)
    t_end = time.monotonic() + ctx.seconds
    warm = [one_pass(p) for p in range(1, WARM_PASSES + 1)]
    passes = WARM_PASSES
    while time.monotonic() < t_end:
        passes += 1
        one_pass(passes)

    per_query = [x for p in warm for x in p]
    out = Outcome()
    out.metrics["query_suite_s"] = (check.median([sum(p) for p in warm]), "s")
    out.metrics["query_first_pass_s"] = (sum(first), "s")
    # The median query: each query's median over the warm passes, then the
    # median over the queries.
    each = [check.median(list(ts)) for ts in zip(*warm)]
    out.generic = {
        "work_per_s": len(per_query) / sum(per_query),
        "op_p50_ms": check.median(each) * 1000.0,
        "op_tail_ms": check.tail(per_query)[0] * 1000.0,
    }
    out.attempted = len(queries) * (1 + passes)
    out.failed = len(fails.ops)
    out.problems = fails.problems
    return out
