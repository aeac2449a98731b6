"""Run one benchmark workload against sierradb_spark and print its metrics.

    python3 perfbench/run.py --workload store --seed 7 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it, prefixed ``#``, give the host record and every
workload metric by name with its unit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("store", "analytics")

# End-to-end metrics every workload reports; what each means per workload
# is in README.md.
END_TO_END_UNITS = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
}


def per_layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("shuffle_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_per_result", "_per_payload_byte")):
        return "ratio"
    return "count"


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while os.path.exists(f"/proc/{jvm_pid}") and time.monotonic() < deadline:
        time.sleep(0.1)
    if os.path.exists(f"/proc/{jvm_pid}"):
        os.kill(jvm_pid, 9)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import sierradb_spark  # noqa: F401
        import tests.run_parity  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {REPO}: {e}", file=sys.stderr)
        return 2

    from perfbench import host
    from perfbench import trace as tracing
    from perfbench import workloads as wl

    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    run_name = f"{stamp}-{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "tmp", run_name)
    os.makedirs(run_dir)
    try:
        return _run(args, run_name, run_dir, host, tracing, wl)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_name, run_dir, host, tracing, wl) -> int:
    host.pin_environment(run_dir, REPO)
    stale = host.wait_no_spark_jvm()
    if stale:
        print(f"perfbench: refusing to start, Spark JVMs still running: {stale}",
              file=sys.stderr)
        return 3
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host.host_record()}

    data = oracle = None
    if args.workload == "analytics":
        data, oracle = wl.prepare_tables(args.seed, os.path.join(WORK, "data"))

    from sierradb_spark import get_spark

    log_dir = os.path.join(run_dir, "eventlog")
    t_setup = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf=tracing.event_log_conf(log_dir) if args.trace else None,
    )
    session_start_s = time.perf_counter() - t_setup
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    tracer = tracing.Tracer(spark, enabled=bool(args.trace))
    setup: dict[str, float] = {}

    def setup_done() -> None:
        setup["s"] = time.perf_counter() - t_setup

    ctx = wl.Context(spark, tracer, args.seed, args.seconds, run_dir, setup_done)
    try:
        with tracer.span("run", request=args.workload):
            if args.workload == "analytics":
                out = wl.analytics(ctx, data, oracle)
            else:
                out = getattr(wl, args.workload)(ctx)
        from sierradb_spark.functions.memo import memo_families

        tracer.extras["memo.live_entries"] = sum(memo_families().values())
        peak_rss_mb = host.vm_hwm_mb(jvm_pid) + host.vm_hwm_mb()
    finally:
        stop_spark(spark, jvm_pid)
    record["host"]["loadavg_after"] = list(os.getloadavg())

    end_to_end = {"setup_s": setup["s"], **out.generic}
    out.metrics["peak_rss_mb"] = (peak_rss_mb, "MiB")
    tracer.extras["session.start_s"] = session_start_s
    tracer.extras["session.warm_s"] = setup["s"] - session_start_s
    record.update({
        "end_to_end": end_to_end,
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.metrics.items()},
        "tails": {k: {"percentile": p, "samples": n} for k, (p, n) in out.tails.items()},
        "attempted": out.attempted, "failed": out.failed, "problems": out.problems,
        "setup_phases": {"session_start": session_start_s, **ctx.phases},
    })

    if args.trace:
        spans = tracer.spans
        jobs = tracing.read_event_log(log_dir)
        tracing.attribute_jobs(spans, jobs, tracer.aliases)
        table = tracing.layer_table(spans, jobs)
        busy = sum(s["end"] - s["start"] for s in spans if s["name"] != "run")
        tracer.extras["trace.tracer_self_ratio"] = tracer.own_s / busy if busy else 0.0
        names = sorted(wl.headline_queries())
        per_layer = tracing.per_layer_metrics(table, spans, tracer.extras, names)
        trace_doc = {
            "workload": args.workload, "seed": args.seed, "table": table,
            "per_layer": per_layer, "end_to_end": end_to_end, "spans": spans,
            "jobs": jobs, "tracer_s": tracer.own_s, "traced_busy_s": busy,
            "ratio_bases": {**out.ratio_bases,
                            "trace.tracer_self_ratio": (tracer.own_s, busy)},
        }
        record["trace_file"] = _save(f"{run_name}-trace.json", trace_doc)
        tracing.print_report(trace_doc)
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end.items()}
    record["metrics"] = metrics
    record["file"] = _save(f"{run_name}.json", record)

    _print_human(record, out)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


def _save(name: str, doc: dict) -> str:
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(runs, name)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    return os.path.relpath(path, REPO)


def _print_human(record: dict, out) -> None:
    h = record["host"]
    print(f"# host nproc={h['nproc']} ram_mb={h['ram_mb']} pyspark={h['pyspark']} "
          f"duckdb={h['duckdb']} loadavg_before={h['loadavg_before']} "
          f"loadavg_after={h['loadavg_after']}")
    print(f"# {record['workload']} seed={record['seed']} seconds={record['seconds']} "
          f"trace={record['trace']} record={record['file']}")
    for k, m in record["workload_metrics"].items():
        t = record["tails"].get(k)
        note = ""
        if t:
            note = (f" (max of {t['samples']} samples)" if t["percentile"] >= 100
                    else f" (p{t['percentile']:.1f} of {t['samples']} samples)")
        print(f"# {k} = {m['value']:.6g} {m['unit']}{note}")
    for k, v in record["end_to_end"].items():
        print(f"# {k} = {v:.6g} {END_TO_END_UNITS[k]}")
    print("# setup phases: " + ", ".join(
        f"{k} {v:.3f} s" for k, v in record["setup_phases"].items()))
    print(f"# attempted={out.attempted} failed={out.failed}")
    for p in out.problems[:20]:
        print(f"# FAILED {p}")


if __name__ == "__main__":
    sys.exit(main())
