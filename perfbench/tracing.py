"""Measurement plumbing that sits outside the program under test: spans,
an RSS sampler over the Spark process tree, host stamps, and reducers over
what Spark exposes (``StreamingQuery.recentProgress`` and the event log)."""

from __future__ import annotations

import json
import os
import platform
import statistics
import threading
import time
from collections import defaultdict


class Spans:
    """In-memory span recorder: one record per call into a layer (name,
    start, end, parent, run id), written out once at exit."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.records}, f)

    def self_time_s(self) -> dict[str, float]:
        """Per span name: duration minus the part its child spans cover."""
        child: dict[int, float] = defaultdict(float)
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = defaultdict(float)
        for i, r in enumerate(self.records):
            out[r["name"]] += r["end"] - r["start"] - child[i]
        return dict(out)


class _Span:
    def __init__(self, spans: Spans, name: str, attrs: dict):
        self.spans, self.name, self.attrs = spans, name, attrs
        self.elapsed = 0.0

    def __enter__(self):
        self.t0 = time.monotonic()
        s = self.spans
        if s.enabled:
            self.idx = len(s.records)
            s.records.append(
                {"name": self.name, "start": self.t0, "end": None,
                 "parent": s._stack[-1] if s._stack else None,
                 "run_id": s.run_id, **self.attrs}
            )
            s._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t1 = time.monotonic()
        self.elapsed = t1 - self.t0
        s = self.spans
        if s.enabled:
            s.records[self.idx]["end"] = t1
            s._stack.pop()
        return False


def _tree_rss_kb(root: int) -> dict[str, int]:
    """VmRSS of the descendants of ``root`` (not ``root`` itself) that are
    the Spark driver JVM or its Python workers, summed per command name.
    Other names are short-lived forks of a JVM thread on their way to
    ``exec``, which still map the JVM's pages and would count them twice."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out: dict[str, int] = defaultdict(int)
    todo = list(children[root])
    while todo:
        pid = todo.pop()
        todo.extend(children[pid])
        try:
            with open(f"/proc/{pid}/status") as f:
                name = f.readline().split()[1]
                if name != "java" and not name.startswith("python"):
                    continue
                for line in f:
                    if line.startswith("VmRSS:"):
                        out[name] += int(line.split()[1])
                        break
        except (OSError, IndexError):
            pass
    return out


class RssSampler:
    """Background sampler of the process tree's resident memory; keeps the
    peak of the total and, at that peak, the split by command name."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        split = _tree_rss_kb(os.getpid())
        total = sum(split.values())
        if total >= self.peak_kb:
            self.peak_kb, self.peak_split = total, dict(split)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def reset(self):
        self.peak_kb = 0
        self._sample()

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join()


def host_stamp() -> dict:
    """Versions and host facts every result carries."""
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }


def loadavg() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat. Steal is time
    the host ran something else while this machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of CPU time stolen by the host between two ``cpu_ticks()``."""
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def median(xs):
    return statistics.median(xs) if xs else None


# --- StreamingQuery.recentProgress -------------------------------------

PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def progress_totals(progress: list) -> dict:
    """Sum one query run's progress records into the per-stage numbers:
    trigger time, the named ``durationMs`` phases, input rows, and the
    stateful operators' state size, commit time and watermark drops."""
    out = {"trigger_ms": 0.0, "input_rows": 0, "batches": 0, "watermark": None,
           "state_rows": 0, "state_bytes": 0, "state_commit_ms": 0.0,
           "rows_dropped_by_watermark": 0}
    for ph in PHASES:
        out[f"{ph}_ms"] = 0.0
    for p in progress:
        p = p if isinstance(p, dict) else json.loads(str(p))
        d = p.get("durationMs") or {}
        out["trigger_ms"] += d.get("triggerExecution", 0)
        for ph in PHASES:
            out[f"{ph}_ms"] += d.get(ph, 0)
        out["input_rows"] += p.get("numInputRows", 0)
        out["batches"] += 1
        wm = (p.get("eventTime") or {}).get("watermark")
        if wm:
            out["watermark"] = wm
        ops = p.get("stateOperators") or []
        if ops:
            # state size is a level, not a flow: keep the last batch's
            out["state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
            out["state_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops)
        for o in ops:
            out["state_commit_ms"] += o.get("commitTimeMs", 0)
            out["rows_dropped_by_watermark"] += o.get("numRowsDroppedByWatermark", 0)
    return out


# --- Spark event log ---------------------------------------------------


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from f


PY_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}


def parse_event_log(paths: list[str]) -> dict[str, dict]:
    """Per job group: tasks, executor CPU, shuffle and spill bytes, and the
    Python-worker accumulators, summed from ``SparkListenerTaskEnd``.
    Heads run under a job group named after the head; a stream's micro-batch
    jobs run under its query ``runId``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = out[group]
            g["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0)
            )
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    try:
                        g[key] += float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
    return {k: dict(v) for k, v in out.items()}


def find_event_log(log_dir: str) -> list[str]:
    """Event files of the single application logged under ``log_dir``, in
    order (Spark 4 writes rolling ``events_<n>_<app>`` files)."""
    files = []
    for dp, _, fs in os.walk(log_dir):
        files += [os.path.join(dp, f) for f in fs if not f.startswith((".", "appstatus"))]

    def index(p):
        b = os.path.basename(p)
        return int(b.split("_")[1]) if b.startswith("events_") else 0

    return sorted(files, key=index)
