"""``live_log_chain``: the layered ODS→DWD→DWM→DWS topology, one round.

A closed, one-round measurement. Set-up lands the first ``WARM_FILES``
event-time-ordered ODS files and runs one untimed chained round over them:
it warms the JVM and leaves what a live chain has between rounds (keyed
state, a dim table, checkpoints). The timed part lands the next
``ROUND_FILES`` files at once, the backlog a 12 files/s source builds in
3 s, and runs one more chained round, each stage an ``availableNow``
query; ``--seconds`` does not change it:

    DWD  log_split_job, routing_job (facts append, dim upsert)
    DWM  stateful.uv_dedup_stream -> parquet, bounce_stats_store_job
    DWS  dau_hll_job over the UV output

Every file of the round lands when the round starts and is committed at
DWS when the round ends, so each file's freshness is the round wall.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pandas as pd
from tracing import PHASES, progress_totals

import gen

SCHEMA_EVENTS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
ROUND_FILES = 36
WARM_FILES = 4
EVENTS_PER_FILE = 100
HOURS_PER_FILE = 3.0
N_USERS = 300
STAGE_TIMEOUT_S = 150
UV_SCHEMA = "user_id long, visit_ymd string, first_event_id long, first_ts timestamp"
STAGES = ("log_split_job", "routing_job", "uv_dedup_stream", "bounce_stats_store_job", "dau_hll_job")


def generate(seed: int, root: str) -> dict[str, pd.DataFrame]:
    """The warm-up files and the round's files under ``root/stage``, each
    ~EVENTS_PER_FILE events covering ``HOURS_PER_FILE`` of event time, cut
    at seeded points; returns name -> rows in event-time order."""
    n_files = WARM_FILES + ROUND_FILES
    days = n_files * HOURS_PER_FILE / 24.0
    ev = gen.events_frame(seed, n_files * EVENTS_PER_FILE, days, N_USERS)
    lo = int(gen.EVENTS_T0.value // 1000)
    cuts = gen.cut_points(seed, "ods", lo, lo + int(days * 86_400_000_000), n_files)
    parts = gen.split_by_time(ev, "ts", cuts)
    paths = gen.write_staggered(parts, f"{root}/stage", "ods")
    return {os.path.basename(p): part for p, part in zip(paths, parts)}


class Chain:
    """Directories and stage launchers of the chain."""

    def __init__(self, ctx, root: str, cfg: str):
        self.ctx, self.root, self.cfg = ctx, root, cfg
        self.ods = f"{root}/ods"
        self.dwd = f"{root}/dwd"
        self.page = f"{root}/dwd/dwd_page_log"
        self.route = f"{root}/route"
        self.uv = f"{root}/dwm_uv"
        self.bounce = f"{root}/dws_bounce"
        self.dau = f"{root}/dws_dau"
        self.ck = f"{root}/ck"
        self.watermark = None
        os.makedirs(self.ods, exist_ok=True)

    def land(self, stage_dir: str, names: list[str]) -> None:
        """Copy staged files into the source directory; they keep their
        increasing mtimes, so the file source reads them in order."""
        for name in names:
            shutil.copy2(os.path.join(stage_dir, name), os.path.join(self.ods, name))

    def _read(self, path: str, schema: str = SCHEMA_EVENTS):
        return self.ctx.spark.readStream.schema(schema).parquet(path)

    def _start(self, stage: str):
        from pyspark.sql import functions as F

        from gmall_flink_parent_spark.streaming import jobs, stateful

        if stage == "log_split_job":
            return jobs.log_split_job(self._read(self.ods), self.dwd, self.ck)
        if stage == "routing_job":
            return jobs.routing_job(self._read(self.ods), self.cfg, self.route, self.ck)
        if stage == "uv_dedup_stream":
            return (
                stateful.uv_dedup_stream(self._read(self.page))
                .writeStream.format("parquet")
                .option("path", self.uv)
                .option("checkpointLocation", f"{self.ck}/uv")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        if stage == "bounce_stats_store_job":
            return jobs.bounce_stats_store_job(
                self._read(self.page).select("event_id", "ts", "user_id"), self.bounce, self.ck
            )
        return jobs.dau_hll_job(
            self._read(self.uv, UV_SCHEMA).select(F.col("first_ts").alias("ts"), "user_id"),
            self.dau,
            self.ck,
        )

    def run_stage(self, stage: str) -> dict:
        """Start one stage, wait for it, and reduce its progress."""
        ctx = self.ctx
        with ctx.spans.span(f"streaming.{stage}", stage=stage) as sp:
            q = self._start(stage)
            ctx.groups[str(q.runId)] = stage
            ok = q.awaitTermination(STAGE_TIMEOUT_S)
            if not ok:
                q.stop()
                raise TimeoutError(f"{stage} did not finish in {STAGE_TIMEOUT_S} s")
        tot = progress_totals(q.recentProgress)
        tot["wall_ms"] = sp.elapsed * 1000.0
        if stage == "bounce_stats_store_job" and tot["watermark"]:
            self.watermark = tot["watermark"]
        return tot

    def run_round(self) -> tuple[dict, list[str]]:
        """One chained round: per-stage progress totals and the failures.
        A failed stage fails its operation; the round goes on, so later
        stages still run over what earlier ones committed."""
        stats, failures = {}, []
        for stage in STAGES:
            try:
                stats[stage] = self.run_stage(stage)
            except Exception as ex:  # noqa: BLE001 — a failed stage is a failed operation
                failures.append(f"{stage}: {type(ex).__name__}: {str(ex)[:300]}")
        return stats, failures

    def committed(self) -> list[str]:
        """Every ODS file name the DWD split committed, from the file
        source's log in its checkpoint."""
        names = []
        for f in glob.glob(f"{self.ck}/log_split/sources/0/*"):
            if os.path.basename(f).isdigit():
                with open(f) as fh:
                    for line in fh.read().splitlines()[1:]:
                        if line.strip():
                            names.append(os.path.basename(json.loads(line)["path"]))
        return names


def _parquet_sizes(path: str) -> dict[str, tuple[int, int]]:
    """Parquet file path -> (size, inode) under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.join(dirpath, f)] = (st.st_size, st.st_ino)
    return out


def setup(ctx) -> dict:
    """Stage the ODS files, write the routing config and run the untimed
    warm-up round over the first ``WARM_FILES`` files."""
    from gmall_flink_parent_spark.streaming import jobs

    staged = generate(ctx.seed, ctx.path("input"))
    names = sorted(staged)
    cfg = ctx.path("routing_config")
    jobs.write_routing_config(ctx.spark, cfg)
    chain = Chain(ctx, ctx.path("chain"), cfg)
    chain.land(ctx.path("input", "stage"), names[:WARM_FILES])
    ctx.spark.sparkContext.setJobGroup("warmup", "warm-up round")
    _, failures = chain.run_round()
    ctx.groups.clear()  # the warm-up round's queries are not measured
    ctx.errors.extend(f"warm-up {f}" for f in failures)
    ctx.check(not failures, "warm-up round ran every stage")
    return {"staged": staged, "chain": chain, "round": names[WARM_FILES:]}


def run(ctx, st: dict) -> None:
    staged, chain, names = st["staged"], st["chain"], st["round"]
    dims = f"{chain.route}/dims"
    before = _parquet_sizes(dims)
    ctx.rss.reset()
    la0 = os.getloadavg()[0]
    t0 = time.monotonic()
    chain.land(ctx.path("input", "stage"), names)
    with ctx.spans.span("round"):
        stats, failures = chain.run_round()
    wall = time.monotonic() - t0
    ctx.e2e["peak_rss_mb"] = ctx.rss.peak_kb / 1024.0
    ctx.detail["peak_rss_split_kb"] = ctx.rss.peak_split
    ctx.detail["loadavg_window"] = [la0, os.getloadavg()[0]]
    for _ in range(len(STAGES) - len(failures)):
        ctx.op(True)
    for f in failures:
        ctx.op(False, f)
    after = _parquet_sizes(dims)

    rows = sum(len(staged[n]) for n in names)
    add_batch_s = sum(s["addBatch_ms"] for s in stats.values()) / 1000.0
    ctx.e2e["freshness_p50_ms"] = wall * 1000.0
    ctx.e2e["freshness_tail_ms"] = wall * 1000.0
    ctx.e2e["rows_per_s"] = rows / add_batch_s if add_batch_s else float("nan")
    ctx.detail["round_wall_s"] = wall
    ctx.detail["round_files"] = len(names)

    L = ctx.layer
    L["sources.input_rows"] = rows
    dim_written = sum(s for p, (s, ino) in after.items() if before.get(p, (None, None))[1] != ino)
    dim_growth = sum(s for s, _ in after.values()) - sum(s for s, _ in before.values())
    L["store.dim_bytes_written"] = dim_written
    L["store.write_amp"] = dim_written / max(1, dim_growth)
    L["store.files_total"] = sum(len(fs) for dp, _, fs in os.walk(chain.root)
                                 if not dp.startswith(chain.ods))
    for stage in STAGES:
        s = stats.get(stage, {})
        L[f"{stage}.round_ms"] = s.get("wall_ms", 0.0)
        L[f"{stage}.start_stop_ms"] = s.get("wall_ms", 0.0) - s.get("trigger_ms", 0.0)
        for ph in PHASES:
            L[f"{stage}.{ph}_ms"] = s.get(f"{ph}_ms", 0.0)
        if stage in ("uv_dedup_stream", "bounce_stats_store_job"):
            for k in ("state_rows", "state_bytes", "state_commit_ms", "rows_dropped_by_watermark"):
                L[f"{stage}.{k}"] = s.get(k, 0)
    ctx.detail["stage_totals"] = stats

    _check(ctx, chain, staged, stats)


def _timed_rows(ctx, name: str, build, cols: list[str]) -> list[tuple]:
    """Build one batch twin and collect its rows; then build it again and
    run it into a noop sink, timed as a head (construct + execute) now
    that its code paths are warm. Returns the rows sorted."""
    rows = _rows(build(), cols)
    with ctx.spans.span(f"twin.{name}") as sp:
        build().write.format("noop").mode("overwrite").save()
    ctx.detail.setdefault("twin_s", {})[name] = sp.elapsed
    return rows


def _rows(df, cols: list[str]) -> list[tuple]:
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def _check(ctx, chain: Chain, staged: dict, stats: dict) -> None:
    """Every layer's output against its batch twin over every committed
    file. The twins are timed: their sum is this workload's
    ``heads_total_s``."""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark import plans
    from gmall_flink_parent_spark.operators.bounce import BOUNCE_WINDOW_US
    from gmall_flink_parent_spark.operators.uv_dedup import dau_hll_estimate, uv_dedup_frame
    from gmall_flink_parent_spark.sources.tables import load_table
    from gmall_flink_parent_spark.streaming.jobs import bounce_stats_from_store, dau_by_day_from_store

    spark = ctx.spark
    spark.sparkContext.setJobGroup("check", "output checks")
    committed = chain.committed()
    ctx.check(sorted(committed) == sorted(staged), "every landed file committed exactly once")
    drops = sum(s.get("rows_dropped_by_watermark", 0) for s in stats.values())
    ctx.check(drops == 0, "zero rows dropped by watermark")
    events = pd.concat([staged[n] for n in sorted(staged)], ignore_index=True)
    all_dir, page_dir = ctx.path("check_all"), ctx.path("check_page")
    os.makedirs(all_dir), os.makedirs(page_dir)
    gen._write(events, f"{all_dir}/events.parquet")
    gen._write(events[events.event_type.isin(["view", "click"])], f"{page_dir}/events.parquet")
    qm = plans.query_map()

    uv_cols = ["user_id", "visit_ymd", "first_event_id", "first_ts"]
    want = _timed_rows(ctx, "uv_dedup", lambda: uv_dedup_frame(load_table(spark, page_dir, "events")),
                       uv_cols)
    ctx.check(_rows(spark.read.parquet(chain.uv), uv_cols) == want,
              "DWM uv rows == uv_dedup_frame(page events)")
    dau_cols = ["ymd", "approx_dau"]
    want = _timed_rows(ctx, "dau_hll_estimate",
                       lambda: dau_hll_estimate(load_table(spark, page_dir, "events")), dau_cols)
    ctx.check(_rows(dau_by_day_from_store(spark, chain.dau), dau_cols) == want,
              "DWS dau_by_day_from_store == dau_hll_estimate")
    fact_cols = ["event_id", "user_id", "ts", "sink_table", "value", "props"]
    want = _timed_rows(ctx, "routing_facts", lambda: qm["routing_facts"](spark, all_dir), fact_cols)
    ctx.check(_rows(spark.read.parquet(f"{chain.route}/facts"), fact_cols) == want,
              "routed facts == routing_facts")
    dim_cols = ["event_id", "user_id", "ts", "value", "props"]
    want = _timed_rows(ctx, "routing_dims", lambda: qm["routing_dims"](spark, all_dir), dim_cols)
    ctx.check(_rows(spark.read.parquet(f"{chain.route}/dims/dim_purchase_info"), dim_cols) == want,
              "keep-newest dims == routing_dims")
    # A bounce candidate fires once the watermark passes it by the bounce
    # window, so day D is closed when D + 1 day + window <= watermark.
    bounce_cols = ["ymd", "n_bounces"]
    want = _timed_rows(
        ctx, "bounce_detect",
        lambda: qm["bounce_detect"](spark, page_dir)
        .groupBy(F.date_format("ts", "yyyyMMdd").alias("ymd"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bounces")),
        bounce_cols,
    )
    ctx.e2e["heads_total_s"] = sum(ctx.detail["twin_s"].values())
    ok = chain.watermark is not None
    if ok:
        wm = pd.Timestamp(chain.watermark).tz_convert(None)
        last_closed = (wm - pd.Timedelta(microseconds=BOUNCE_WINDOW_US)).floor("D") - pd.Timedelta(days=1)
        ymd_max = last_closed.strftime("%Y%m%d")
        got = _rows(bounce_stats_from_store(spark, chain.bounce).filter(F.col("ymd") <= ymd_max),
                    bounce_cols)
        want = [r for r in want if r[0] <= ymd_max]
        ok = len(want) > 0 and got == want
        ctx.detail["bounce_closed_days"] = len(want)
    ctx.check(ok, "bounce_stats_from_store == batch bounce count over watermark-closed days")
