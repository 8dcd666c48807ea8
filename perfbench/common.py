"""Run context shared by the workloads."""

from __future__ import annotations

import os

from tracing import RssSampler, Spans


class Ctx:
    """One benchmark run: its Spark session, work directory, seed, span
    recorder, RSS sampler and the numbers the workload reports."""

    def __init__(self, spark, work: str, seed: int, seconds: int, trace: bool,
                 spans: Spans, rss: RssSampler):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spans = spans
        self.rss = rss
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}  # end-to-end metric -> value
        self.layer: dict[str, float] = {}  # per-layer metric -> value
        self.detail: dict = {}  # everything else, written to the result file
        self.groups: dict[str, str] = {}  # job group -> stage or head name

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, ok: bool, what: str = "") -> None:
        """Count one operation (a stage round, a drain or a head)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.errors.append(what)

    def check(self, ok: bool, what: str) -> None:
        """An output check; a failed one fails every operation of the run."""
        self.detail.setdefault("checks", {})[what] = bool(ok)
        if not ok:
            self.errors.append(f"check failed: {what}")

    @property
    def correct(self) -> bool:
        return all(self.detail.get("checks", {}).values()) and bool(self.detail.get("checks"))

