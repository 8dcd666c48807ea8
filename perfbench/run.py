"""Benchmark of the layered ODS→DWD→DWM→DWS engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see ``BENCHMARK.json``):
``live_log_chain`` (chain.py) and ``batch_heads`` (heads.py). Every input is generated from ``--seed``; every
output is checked against a batch or DuckDB reference, untimed. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``, where a Spark event log is enabled through the submit
arguments and spans are recorded around every call into the engine).
The full result, host stamp and spans land in ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DRIVER_MEM = "2g"
WORKLOADS = {"live_log_chain": "chain", "batch_heads": "heads"}
STAGES_PLAIN = ("log_split_job", "routing_job", "dau_hll_job")
STAGES_PY = ("uv_dedup_stream", "bounce_stats_store_job")
E2E = {
    "setup_s": "s",
    "freshness_p50_ms": "ms",
    "freshness_tail_ms": "ms",
    "rows_per_s": "rows/s",
    "heads_total_s": "s",
    "peak_rss_mb": "MB",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in a fixed order."""
    from heads import HEADS
    from tracing import PHASES

    u: dict[str, str] = {}
    for s in STAGES_PLAIN + STAGES_PY:
        u[f"{s}.round_ms"] = "ms"
        u[f"{s}.start_stop_ms"] = "ms"
        for ph in PHASES:
            u[f"{s}.{ph}_ms"] = "ms"
        u[f"{s}.tasks"] = "count"
    for s in STAGES_PY:
        u[f"{s}.state_rows"] = "count"
        u[f"{s}.state_bytes"] = "bytes"
        u[f"{s}.state_commit_ms"] = "ms"
        u[f"{s}.rows_dropped_by_watermark"] = "count"
    for s in STAGES_PY:
        u[f"{s}.python_start_init_ms"] = "ms"
        u[f"{s}.python_run_ms"] = "ms"
        u[f"{s}.python_bytes"] = "bytes"
    for h in HEADS:
        u[f"{h}.construct_s"] = "s"
        u[f"{h}.execute_s"] = "s"
        u[f"{h}.executor_cpu_s"] = "s"
        u[f"{h}.shuffle_bytes"] = "bytes"
    u["heads.spill_bytes"] = "bytes"
    u["heads.python_start_init_ms"] = "ms"
    u["heads.python_run_ms"] = "ms"
    u["heads.python_bytes"] = "bytes"
    u["sources.input_rows"] = "count"
    u["sources.gated_broadcast_ms"] = "ms"
    u["store.dim_bytes_written"] = "bytes"
    u["store.write_amp"] = "ratio"
    u["store.files_total"] = "count"
    u["session.start_s"] = "s"
    u["failed_frac"] = "ratio"
    for k, unit in E2E.items():
        u[f"traced.{k}"] = unit
    return u


def _env(work: str, trace: bool) -> None:
    """Session settings passed from outside the program: core count, a
    driver heap cap, scratch dirs inside the checkout and, for a traced
    run, an uncompressed event log."""
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # The program's default heap (16g) is more than a small shared host
    # has. Under this cap the driver JVM stays at 1.0-1.7 GB resident, heap
    # and all, so the cap bounds how far G1 grows the heap without being
    # reached; under 16g it ended at 2.0-2.8 GB, differently in every run.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM started here, the spark-submit launcher included, keeps its
    # temporary and perf-data files out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    args = " ".join(f'--conf "{k}={v}"' for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _fingerprint(root: str) -> str:
    import gen

    return gen.fingerprint([os.path.join(dp, f) for dp, _, fs in os.walk(root)
                            for f in fs if f.endswith(".parquet")])


def _event_log_layers(ctx, workload: str, log_dir: str) -> None:
    """Task metrics per stage (by query runId) and per head (by job group)."""
    from tracing import find_event_log, parse_event_log

    paths = find_event_log(log_dir)
    if not paths:
        ctx.errors.append("traced run: no event log found")
        return
    groups = parse_event_log(paths)
    per: dict[str, dict] = {}
    for group, m in groups.items():
        name = ctx.groups.get(group)
        if name is None:
            continue
        acc = per.setdefault(name, {})
        for k, v in m.items():
            acc[k] = acc.get(k, 0.0) + v
    ctx.detail["event_log_groups"] = per
    L = ctx.layer
    if workload == "batch_heads":
        n = ctx.detail.get("passes_for_layer_means", 1)
        for h, m in per.items():
            L[f"{h}.executor_cpu_s"] = m.get("executor_cpu_ns", 0.0) / 1e9 / n
            L[f"{h}.shuffle_bytes"] = m.get("shuffle_bytes", 0.0) / n
        agg = lambda k: sum(m.get(k, 0.0) for m in per.values()) / n  # noqa: E731
        L["heads.spill_bytes"] = agg("spill_bytes")
        L["heads.python_start_init_ms"] = agg("py_start_ms") + agg("py_init_ms")
        L["heads.python_run_ms"] = agg("py_run_ms")
        L["heads.python_bytes"] = agg("py_sent_bytes") + agg("py_returned_bytes")
        return
    for s, m in per.items():
        L[f"{s}.tasks"] = m.get("tasks", 0.0)
        if s in STAGES_PY:
            L[f"{s}.python_start_init_ms"] = m.get("py_start_ms", 0.0) + m.get("py_init_ms", 0.0)
            L[f"{s}.python_run_ms"] = m.get("py_run_ms", 0.0)
            L[f"{s}.python_bytes"] = m.get("py_sent_bytes", 0.0) + m.get("py_returned_bytes", 0.0)


def _finite(v) -> float:
    v = float(v or 0.0)
    return v if math.isfinite(v) else 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — a JVM that ignores its closed stdin is killed
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gmall_flink_parent_spark")):
        print("run from the repository root: package gmall_flink_parent_spark not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import tracing
    from common import Ctx

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{run_id}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    trace = bool(args.trace)
    _env(work, trace)
    stamp = tracing.host_stamp()
    stamp["loadavg_before"] = tracing.loadavg()
    ticks = tracing.cpu_ticks()
    rss = tracing.RssSampler().start()
    spans = tracing.Spans(run_id, enabled=trace)
    spark = None
    try:
        t_setup = time.monotonic()
        with spans.span("session.start") as ss:
            from gmall_flink_parent_spark.session import get_spark

            spark = get_spark(f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(spark, work, args.seed, args.seconds, trace, spans, rss)
        workload = __import__(WORKLOADS[args.workload])
        with spans.span("setup"):
            st = workload.setup(ctx)
        fp = _fingerprint(ctx.path("input"))
        ctx.e2e["setup_s"] = time.monotonic() - t_setup
        ctx.layer["session.start_s"] = ss.elapsed
        with spans.span("run"):
            try:
                workload.run(ctx, st)
            except Exception as ex:  # noqa: BLE001 — reported as a failed run, not a crash
                ctx.check(False, f"run raised {type(ex).__name__}: {str(ex)[:300]}")
        workload.generate(args.seed, ctx.path("regen"))
        ctx.check(_fingerprint(ctx.path("regen")) == fp, "same seed gives the same files")
    finally:
        rss.stop()
        if spark is not None:
            _stop_spark(spark)
    stamp["loadavg_after"] = tracing.loadavg()
    stamp["steal_share"] = tracing.steal_share(ticks, tracing.cpu_ticks())
    stamp["loaded_host"] = max(stamp["loadavg_before"], stamp["loadavg_after"]) > (os.cpu_count() or 1)
    if trace:
        _event_log_layers(ctx, args.workload, os.path.join(work, "eventlog"))

    failed = ctx.attempted if not ctx.correct else ctx.failed
    attempted = max(1, ctx.attempted)
    ctx.layer["failed_frac"] = failed / attempted
    for k in E2E:
        ctx.layer[f"traced.{k}"] = ctx.e2e.get(k, float("nan"))
    values, units = (ctx.layer, layer_units()) if trace else (ctx.e2e, E2E)
    # a metric a failed run could not measure reads 0 (the run is not correct)
    metrics = {k: {"value": _finite(values.get(k)), "unit": u} for k, u in units.items()}
    result = {"correct": ctx.correct and failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    full = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": trace,
            "run_id": run_id, "stamp": stamp, "errors": ctx.errors, "detail": ctx.detail,
            "end_to_end": ctx.e2e, "per_layer": ctx.layer, "result": result}
    if trace:
        full["self_time_s"] = spans.self_time_s()
        spans.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}-{run_id}.json"))
    with open(os.path.join(out_dir, f"result-{args.workload}-{args.seed}-t{int(trace)}-{run_id}.json"),
              "w") as f:
        json.dump(full, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for e in ctx.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"stamp": stamp, "errors": len(ctx.errors)}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
