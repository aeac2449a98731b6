"""The benchmark's own tests: seeded generation is deterministic, and the
output checks report corrupted results. No Spark session is needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pyarrow.parquet as pq
import pytest

from perfbench import check, gen, trace
from tests.run_parity import table_hash


def _requests(seed: int):
    """Every request a store run sends: set-up rows, the batch pair, and
    the point calls."""
    plan = gen.IngestPlan(seed)
    versions = plan.versions(gen.INGEST_BATCHES, extra=("pw-warm",))
    ops = gen.point_ops(seed, 400, versions, sum(v + 1 for v in versions.values()), 32)
    return [plan.warmup_rows(), plan.batch(0), plan.batch(1), ops]


def test_same_seed_same_requests():
    assert _requests(3) == _requests(3)


def test_different_seeds_differ():
    a, b = _requests(3), _requests(4)
    assert all(x != y for x, y in zip(a, b))


def test_analytics_tables_follow_the_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_tables(seed, 0.001, str(tmp_path / name))
    for t in ("lineitem", "events", "documents", "embeddings"):
        a, b, c = (pq.read_table(tmp_path / d / f"{t}.parquet") for d in "abc")
        assert a.equals(b), t
        assert not a.equals(c), t


def test_ingest_plan_shape():
    plan = gen.IngestPlan(9)
    large, small = (plan.batch(i) for i in range(gen.INGEST_BATCHES))
    assert gen.LARGE_BATCH[0] <= len(large.rows) <= gen.LARGE_BATCH[1]
    assert gen.SMALL_BATCH[0] <= len(small.rows) <= gen.SMALL_BATCH[1]
    assert (large.compact_after, small.compact_after) == (False, True)
    # The set-up append leaves the store below the heads fold cap; the
    # large batch alone takes it well above.
    assert len({r[0] for r in plan.warmup_rows()}) < gen.HEADS_FOLD_CAP
    assert len({r[0] for r in large.rows}) > gen.HEADS_FOLD_CAP


def test_ingest_plan_version_model():
    plan = gen.IngestPlan(9)
    versions = plan.versions(2, extra=("pw-warm",))
    rows = list(plan.warmup_rows()) + list(plan.batch(0).rows) + list(plan.batch(1).rows)
    assert sum(v + 1 for v in versions.values()) == len(rows) + 1
    assert versions["pw-warm"] == 0
    assert versions[rows[0][0]] == sum(r[0] == rows[0][0] for r in rows) - 1


def test_point_plan_mix_and_expected_versions():
    versions = gen.IngestPlan(9).versions(gen.INGEST_BATCHES)
    blocks = 16 * gen.STALE_EVERY
    ops = gen.point_ops(9, gen.BLOCK_LEN * blocks, versions, 100, 32)
    assert {o.target for o in ops if o.kind == "pscan"} <= set(range(32))
    for b in range(blocks):
        opening = ops[b * gen.BLOCK_LEN]
        assert opening.kind == "append" and not opening.stale
    assert sum(o.kind == "append" for o in ops) == 2 * blocks
    group = gen.BLOCK_LEN * gen.STALE_EVERY
    for g in range(16):
        assert sum(o.stale for o in ops[g * group:(g + 1) * group]) == 1
    stale = 0
    for o in ops:
        if o.kind != "append":
            continue
        if o.stale:
            stale += 1
            assert o.expected < versions[o.target]
        else:
            assert o.expected == versions[o.target]
            versions[o.target] += 1
    assert stale == 16


def test_skipped_version_is_reported():
    good = [("s", 0), ("s", 1), ("s", 2)]
    assert check.check_gapless(good, "stream", {"s": 2}) == []
    assert check.check_gapless([("s", 0), ("s", 2)], "stream", {"s": 2})
    assert check.check_gapless(good, "stream", {"s": 3})  # model has one more
    assert check.check_gapless(good, "stream", {"s": 2, "t": 0})  # stream missing


def test_duplicate_or_unordered_delivery_is_reported():
    committed = {(0, 0), (0, 1), (1, 0)}
    assert check.check_deliveries([[(0, 0), (0, 1)], [(1, 0)]], committed) == []
    assert check.check_deliveries([[(0, 0), (0, 1)], [(0, 1), (1, 0)]], committed)
    assert check.check_deliveries([[(0, 1), (0, 0)], [(1, 0)]], committed)
    assert check.check_deliveries([[(0, 0)], [(1, 0)]], committed)
    assert check.check_sink([(0, 0), (0, 1), (1, 0)], committed, 3) == []
    assert check.check_sink([(0, 0), (0, 1), (0, 1)], committed, 3)  # one missing
    assert check.check_sink([(0, 0), (0, 1), (1, 0), (1, 0)], committed, 3)  # duplicate row
    assert check.check_sink([(0, 0), (0, 1), (2, 0)], committed, 3)  # not stored
    assert check.check_sink([(0, 0), (0, 1), (1, 0)], committed, 4)  # stats() disagrees


def test_wrong_hash_is_reported():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25)]
    want = table_hash(cols, rows)
    assert check.check_hash("q", table_hash(cols, list(reversed(rows))), want) == []
    assert check.check_hash("q", table_hash(cols, [(1, 0.5), (2, 1.26)]), want)


def test_point_checks():
    assert check.check_append(True, 5, 4, stale=False) == []
    assert check.check_append(True, 5, 3, stale=True)  # stale accepted
    assert check.check_append(False, None, 4, stale=False)  # current rejected
    assert check.check_append(True, 6, 4, stale=False)  # wrong version
    assert check.check_scan([0, 1, 2], last=7, count=3) == []
    assert check.check_scan([0, 2, 3], last=7, count=3)
    assert check.check_pscan([5, 6, 7], start=5, count=10, last=7) == []
    assert check.check_pscan([5, 7], start=5, count=10, last=7)
    assert check.check_get([("e", "t"), ("f", "t")], "e", "t") == []
    assert check.check_get([("f", "t")], "e", "t")
    assert check.check_stream_version(3, 4)


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 101))
    assert check.tail(xs) == (90.0, 90.0, 100)
    assert check.tail(list(range(1, 21))) == (10.0, 50.0, 20)
    assert check.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)  # too few: the maximum


def test_layer_table_self_and_driver_time():
    spans = [
        {"id": 1, "name": "run", "group": "g1", "parent": None, "start": 0.0, "end": 10.0,
         "claims_foreign": False},
        {"id": 2, "name": "scan", "group": "g2", "parent": 1, "start": 1.0, "end": 3.0,
         "claims_foreign": False, "results": 4, "analysis_ms": 2.0},
        {"id": 3, "name": "subscribe.catchup", "group": "g3", "parent": 1, "start": 5.0,
         "end": 9.0, "claims_foreign": True},
    ]
    job = {"tasks": 2, "task_cpu_s": 0.5, "task_wait_s": 0.1, "shuffle_bytes": 0,
           "records_read": 40}
    jobs = [
        {"job": 0, "group": "g2", "submit": 1.5, "end": 2.5, **job},
        {"job": 1, "group": "stream-run-id", "submit": 6.0, "end": 8.0, **job},
    ]
    trace.attribute_jobs(spans, jobs, {})
    table = trace.layer_table(spans, jobs)
    assert table["run"]["self_s"] == pytest.approx(4.0)  # 10 - 2 - 4
    assert table["scan"]["driver_s"] == pytest.approx(1.0)
    assert table["subscribe.catchup"]["jobs"] == 1  # the streaming job, by time
    metrics = trace.per_layer_metrics(table, spans, {}, ["q1"])
    assert metrics["scan.records_read_per_result"] == 10.0
    assert metrics["scan.analysis_ms"] == 2.0
    assert set(metrics) == set(trace.per_layer_names(["q1"]))


def test_event_log_reader(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1250},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Input Metrics": {"Records Read": 3}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    [job] = trace.read_event_log(str(tmp_path))
    assert (job["group"], job["submit"], job["end"]) == ("g", 1.0, 3.0)
    assert (job["tasks"], job["task_cpu_s"], job["shuffle_bytes"]) == (1, 2.0, 7)
    assert job["task_wait_s"] == pytest.approx(0.25)
    assert job["records_read"] == 3
