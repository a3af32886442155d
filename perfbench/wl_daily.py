"""warehouse_daily: the paper's own cron day, closed loop.

One op = one `run_daily_pipeline` day over the generated feed of both
sources (extract -> staging -> SCD2 warehouse -> datamart, ledger-gated).
Set-up = the bootstrap day on an empty warehouse (once: it costs ~20 s
cold). After the last timed day one `run_weekly_maintenance` runs; its
time counts in the throughput wall. Items = generated bronze rows.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench.gen import JobFeed
from perfbench.layers import MAINTENANCE, checking

PER_SOURCE = 1000  # listings per source per day


class Daily:
    setup_reps = 1  # a bootstrap day costs ~20 s cold; one fits the run budget

    def __init__(self, run, spark):
        self.run = run
        self.spark = spark
        self.feed = None
        self.root = None
        self.tr = None
        self.size = {"listings_per_source_per_day": PER_SOURCE}

    def _cfg(self, root):
        from data_warehouse_nhom8_spark.pipeline.config import EngineConfig

        return EngineConfig(
            bronze_path=f"{root}/bronze",
            staging_path=f"{root}/staging",
            warehouse_path=f"{root}/warehouse",
            datamart_path=f"{root}/datamart",
            ledger_path=f"{root}/ledger",
            locks_path=f"{root}/locks",
        )

    def _day(self, cfg, day, rows) -> float:
        from data_warehouse_nhom8_spark.pipeline.daily import run_daily_pipeline

        connectors = {s: (lambda src, d, _r=r: _r) for s, r in rows.items()}
        t0 = time.perf_counter()
        run_daily_pipeline(self.spark, cfg, connectors, day)
        return time.perf_counter() - t0

    def _check_day(self, cfg, day, d) -> None:
        from data_warehouse_nhom8_spark.operators.scd2 import scd2_invariant_violations
        from data_warehouse_nhom8_spark.pipeline.warehouse_load import SCD2_NATURAL_KEYS, merge_metrics
        from data_warehouse_nhom8_spark.sources.snapshots import snapshot_read

        with checking(self.tr):
            wh = snapshot_read(self.spark, cfg.warehouse_path)
            got = merge_metrics(wh, day)
            bad = scd2_invariant_violations(wh, list(SCD2_NATURAL_KEYS)).count()
        want = self.feed.expected[d]
        self.run.check(
            got["expired_today"] == want["expired_today"]
            and got["inserted_today"] == want["inserted_today"],
            f"day {day}: merge_metrics {got} != generated {want}",
        )
        self.run.check(bad == 0, f"day {day}: {bad} SCD2 invariant violations")

    def setup(self, k: int) -> float:
        """Bootstrap day 0 into a fresh root; the last root is kept."""
        if self.root is not None:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.run.work, f"wh{k}")
        self.feed = JobFeed(self.run.seed, PER_SOURCE)
        day, rows = self.feed.next_day()
        cfg = self._cfg(self.root)
        dt = self._day(cfg, day, rows)
        self._check_day(cfg, day, 0)
        return dt

    def op(self) -> tuple[float, int]:
        day, rows = self.feed.next_day()
        cfg = self._cfg(self.root)
        dt = self._day(cfg, day, rows)
        self._check_day(cfg, day, self.feed.day)
        return dt, sum(len(r) for r in rows.values())

    def finish(self) -> float:
        """One weekly maintenance after the last day; the live warehouse
        must come out of it unchanged."""
        from data_warehouse_nhom8_spark.pipeline.daily import run_weekly_maintenance

        cfg = self._cfg(self.root)
        before = self._live_digest(cfg)
        t0 = time.perf_counter()
        run_weekly_maintenance(self.spark, cfg)
        dt = time.perf_counter() - t0
        after = self._live_digest(cfg)
        self.run.check(before == after, f"maintenance changed the live warehouse: {before} -> {after}")
        return dt

    def _live_digest(self, cfg) -> tuple:
        from pyspark.sql import functions as F

        from data_warehouse_nhom8_spark.sources.snapshots import snapshot_read

        with checking(self.tr):
            wh = snapshot_read(self.spark, cfg.warehouse_path)
            live = wh.filter(F.col("expired") == F.lit("9999-12-31").cast("date"))
            row = live.agg(F.count(F.lit(1)).alias("n"),
                           F.sum(F.crc32(F.concat_ws("|", "job_id", "salary", "location",
                                                     "experience_required", "job_url"))).alias("h")
                           ).collect()[0]
        return row["n"], row["h"]

    # ---- traced run -----------------------------------------------------
    def install(self, tr) -> None:
        import data_warehouse_nhom8_spark.pipeline.daily  # noqa: F401

        self.tr = tr

        def rows_after(s, args, kwargs, res):
            s.attrs["rows"] = sum(v for v in res.values() if v > 0)

        tr.wrap_function("data_warehouse_nhom8_spark.pipeline.daily", "run_daily_pipeline")
        tr.wrap_function("data_warehouse_nhom8_spark.pipeline.extract", "run_all_sources",
                         after=rows_after)
        tr.wrap_function("data_warehouse_nhom8_spark.pipeline.warehouse_load",
                         "load_day_to_warehouse")
        tr.wrap_function("data_warehouse_nhom8_spark.operators.scd2", "scd2_merge")
        tr.wrap_function("data_warehouse_nhom8_spark.pipeline.datamart", "rebuild_datamart")

    def traced_finish(self, tr) -> dict:
        from perfbench.layers import _files, _written

        cfg = self._cfg(self.root)
        with checking(tr):
            before = {**_files(cfg.staging_path), **_files(cfg.warehouse_path)}
        with tr.span(MAINTENANCE):
            dt = self.finish()
        with checking(tr):
            after = {**_files(cfg.staging_path), **_files(cfg.warehouse_path)}
        return {
            f"{MAINTENANCE}.s": dt,
            f"{MAINTENANCE}.bytes_rewritten": _written(before, after)[0],
        }

    def output_root(self) -> str:
        return self.root
