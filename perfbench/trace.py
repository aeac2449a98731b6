"""Spans around calls into the engine, Spark counts from the event log,
and the per-layer table built from both.

A traced run records one span per call into a layer (name, start, end,
parent, request id) and sets a Spark job group for it, so every job the
call runs is attributed to its span. Spans stay in memory; at the end of
the run they are joined with the Spark event log (turned on for traced
runs only) and written to one JSON file. Run this module on that file to
print the per-layer table:

    python3 perfbench/trace.py perfbench/.work/runs/<run>-trace.json
    python3 perfbench/trace.py <trace.json> --untraced <run.json>
"""

from __future__ import annotations

import argparse
import glob
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Span types and the module (layer) each belongs to.
LAYERS = {
    "append_df": "eventstore (write)",
    "compact": "eventstore (write)",
    "append": "eventstore (write)",
    "get": "eventstore (read)",
    "scan": "eventstore (read)",
    "pscan": "eventstore (read)",
    "stream_version": "eventstore (read)",
    "subscribe.live": "streaming.subscribe",
    "subscribe.catchup": "streaming.subscribe",
    "query": "operators/functions",
}
COUNTERS = ("calls", "busy_s", "driver_s", "jobs", "tasks", "task_cpu_s",
            "task_wait_s", "shuffle_bytes")
CATALYST_SPANS = ("get", "scan", "pscan", "query")
CATALYST_PHASES = ("analysis", "optimization", "planning")
RECORDS_SPANS = ("get", "scan", "pscan")
EXTRAS = (
    "session.start_s", "session.warm_s", "memo.live_entries",
    "store.events_files", "store.heads_files", "store.bytes_per_payload_byte",
    "append.rejected_ratio", "subscribe.live.backlog_commits",
    "subscribe.live.trigger_ms", "subscribe.live.add_batch_ms",
    "subscribe.live.latest_offset_ms", "subscribe.live.wal_commit_ms",
    "trace.tracer_self_ratio",
)


def per_layer_names(query_names: list[str]) -> list[str]:
    """Every per-layer metric name, in a fixed order."""
    names = [f"{s}.{c}" for s in LAYERS for c in COUNTERS]
    names += [f"{s}.{p}_ms" for s in CATALYST_SPANS for p in CATALYST_PHASES]
    names += [f"{s}.records_read_per_result" for s in RECORDS_SPANS]
    names += [f"query.{q}.warm_s" for q in sorted(query_names)]
    return names + list(EXTRAS)


class Tracer:
    """In-memory span recorder. Disabled, every method is a no-op, so the
    untraced runs execute the same benchmark code without the spans."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.aliases: dict[str, str] = {}  # foreign job group -> span type
        self.extras: dict[str, float] = {}
        self.own_s = 0.0  # time spent inside the tracer itself
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, rec: dict | None) -> None:
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str, request: object = None, claims_foreign: bool = False):
        """One call into a layer. ``claims_foreign``: Spark jobs whose
        group this tracer does not know (a streaming query's own run id)
        and that start inside this span are attributed to it."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "group": f"perfbench-{sid}",
            "parent": stack[-1]["id"] if stack else None,
            "request": request, "claims_foreign": claims_foreign,
            "start": time.time(), "end": None,
        }
        stack.append(rec)
        self._set_group(rec)
        self.own_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(rec)
            self.own_s += time.perf_counter() - t_out

    def add_span(self, name: str, start: float, end: float, group: str,
                 request: object = None) -> None:
        """A span reconstructed after the fact (a streaming trigger)."""
        if self.enabled:
            with self._lock:
                self.spans.append({
                    "id": next(self._ids), "name": name, "group": group,
                    "parent": None, "request": request, "claims_foreign": False,
                    "start": start, "end": end,
                })

    def catalyst(self, rec: dict | None, df) -> None:
        """Catalyst phase times of an executed DataFrame, onto its span."""
        if rec is None:
            return
        t0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        for p in CATALYST_PHASES:
            opt = phases.get(p)
            rec[f"{p}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        self.own_s += time.perf_counter() - t0


# --- Spark event log -------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the (finished) event log: group, submit/end times, and
    task counts, CPU, launch wait, shuffle bytes and records read."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "job": jid, "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0, "end": None,
                    "tasks": 0, "task_cpu_s": 0.0, "task_wait_s": 0.0,
                    "shuffle_bytes": 0, "records_read": 0,
                }
                for s in ev.get("Stage IDs", []):
                    stage_job[s] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                job["tasks"] += 1
                job["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sub = stage_submit.get(ev["Stage ID"])
                if sub is not None:
                    job["task_wait_s"] += max(0.0, info["Launch Time"] / 1000.0 - sub)
                job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return sorted(jobs.values(), key=lambda j: j["job"])


def attribute_jobs(spans: list[dict], jobs: list[dict], aliases: dict[str, str]) -> None:
    """Give each job a ``span`` id (or span type via an alias group)."""
    by_group = {s["group"]: s for s in spans}
    claimers = [s for s in spans if s["claims_foreign"]]
    alias_spans: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["group"] in aliases:
            alias_spans[s["group"]].append(s)
    for j in jobs:
        j["span"] = None
        s = by_group.get(j["group"])
        if s is not None and j["group"] not in aliases:
            j["span"] = s["id"]
            continue
        if j["group"] in aliases:
            # A streaming query's jobs: the trigger span that contains them.
            for s in alias_spans[j["group"]]:
                if s["start"] - 0.005 <= j["submit"] <= s["end"] + 0.005:
                    j["span"] = s["id"]
                    break
            continue
        for s in claimers:
            if s["start"] <= j["submit"] <= (s["end"] or j["submit"]):
                j["span"] = s["id"]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_table(spans: list[dict], jobs: list[dict]) -> dict[str, dict]:
    """Per span type: the counters, self time (span minus child spans),
    Catalyst phase sums, and records read with the results returned."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    jobs_of: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        if j.get("span") is not None:
            jobs_of[j["span"]].append(j)
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s["name"], {
            "calls": 0, "busy_s": 0.0, "self_s": 0.0, "driver_s": 0.0, "jobs": 0,
            "tasks": 0, "task_cpu_s": 0.0, "task_wait_s": 0.0, "shuffle_bytes": 0,
            "records_read": 0, "results": 0,
            **{f"{p}_ms": 0.0 for p in CATALYST_PHASES},
        })
        start, end = s["start"], s["end"]
        dur = end - start
        kids = [(max(start, c["start"]), min(end, c["end"])) for c in children[s["id"]]]
        row["calls"] += 1
        row["busy_s"] += dur
        row["self_s"] += dur - _union([k for k in kids if k[1] > k[0]])
        mine = jobs_of[s["id"]]
        covered = _union([
            (max(start, j["submit"]), min(end, j["end"] or end)) for j in mine
        ] + [k for k in kids if k[1] > k[0]])
        row["driver_s"] += max(0.0, dur - covered)
        row["jobs"] += len(mine)
        for key in ("tasks", "task_cpu_s", "task_wait_s", "shuffle_bytes", "records_read"):
            row[key] += sum(j[key] for j in mine)
        row["results"] += int(s.get("results", 0))
        for p in CATALYST_PHASES:
            row[f"{p}_ms"] += float(s.get(f"{p}_ms", 0.0))
    return table


def per_layer_metrics(table: dict[str, dict], spans: list[dict],
                      extras: dict[str, float], query_names: list[str]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in LAYERS:
        row = table.get(s, {})
        for c in COUNTERS:
            out[f"{s}.{c}"] = row.get(c, 0)
    for s in CATALYST_SPANS:
        row = table.get(s, {})
        calls = max(1, row.get("calls", 0))
        for p in CATALYST_PHASES:
            out[f"{s}.{p}_ms"] = row.get(f"{p}_ms", 0.0) / calls  # per call
    for s in RECORDS_SPANS:
        row = table.get(s, {})
        res = row.get("results", 0)
        out[f"{s}.records_read_per_result"] = row.get("records_read", 0) / res if res else 0.0
    warm: dict[str, list[float]] = defaultdict(list)
    for s in spans:
        if s["name"] == "query" and s.get("warm"):
            warm[s["request"]].append(s["end"] - s["start"])
    for q in sorted(query_names):
        xs = sorted(warm.get(q, []))
        out[f"query.{q}.warm_s"] = xs[len(xs) // 2] if xs else 0.0
    for k in EXTRAS:
        out[k] = extras.get(k, 0.0)
    return out


# --- reader ------------------------------------------------------------------------


def _fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def print_report(trace: dict, untraced: dict | None = None, out=sys.stdout) -> None:
    table = trace["table"]
    cols = ("calls", "busy_s", "self_s", "driver_s", "jobs", "tasks", "task_cpu_s",
            "task_wait_s", "shuffle_bytes")
    print(f"# workload {trace['workload']} seed {trace['seed']}", file=out)
    print("span".ljust(20) + "layer".ljust(22) + "".join(c.rjust(13) for c in cols), file=out)
    for name in sorted(table, key=lambda n: -table[n]["busy_s"]):
        row = table[name]
        print(name.ljust(20) + LAYERS.get(name, "benchmark").ljust(22)
              + "".join(_fmt(row[c]).rjust(13) for c in cols), file=out)
    print("\nratios (numerator / base):", file=out)
    for name in RECORDS_SPANS:
        row = table.get(name)
        if row and row["results"]:
            print(f"  {name}.records_read_per_result = {row['records_read']} records read"
                  f" / {row['results']} results = {row['records_read'] / row['results']:.4g}",
                  file=out)
    for k, v in sorted(trace.get("ratio_bases", {}).items()):
        print(f"  {k} = {v[0]} / {v[1]}", file=out)
    for name in CATALYST_SPANS:
        row = table.get(name)
        if row:
            print(f"  {name} catalyst per call: " + ", ".join(
                f"{p} {row[f'{p}_ms'] / row['calls']:.4g} ms" for p in CATALYST_PHASES
            ) + f" (over {row['calls']} calls)", file=out)
    print("\nextras:", file=out)
    for k in EXTRAS:
        print(f"  {k} = {_fmt(trace['per_layer'].get(k, 0.0))}", file=out)
    print(f"\ntracer self time {trace['tracer_s']:.4g} s over "
          f"{trace['traced_busy_s']:.4g} s of traced spans", file=out)
    if untraced is not None:
        print("\ntraced minus untraced (end-to-end):", file=out)
        for k, v in trace["end_to_end"].items():
            base = untraced["metrics"].get(k, {}).get("value")
            if base:
                print(f"  {k}: {v:.4g} - {base:.4g} = {v - base:+.4g} "
                      f"({100.0 * (v - base) / base:+.1f}%)", file=out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Print the per-layer table of a traced run.")
    ap.add_argument("trace", help="a *-trace.json file written by a --trace 1 run")
    ap.add_argument("--untraced", help="a run record (*.json) of an untraced run of the "
                    "same workload, to print the tracing overhead")
    args = ap.parse_args(argv)
    with open(args.trace) as f:
        trace = json.load(f)
    untraced = None
    if args.untraced:
        with open(args.untraced) as f:
            untraced = json.load(f)
    print_report(trace, untraced)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
