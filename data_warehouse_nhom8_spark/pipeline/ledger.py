"""Run ledger: the control-plane contract (SURVEY.md §1, §2h).

The reference keeps five MySQL log tables (extract_log, process_log,
load_log, load_to_wh_log, load_to_dm_log) with the same lifecycle:
open a Running row, do work, close Success/Failed; wrappers consult
the ledger (not exit codes) for skip-if-done and retry decisions
(reference extract/run_topcv_scraper_with_retry.sh:52-59,186-196).

Here: one parquet table, append-only; status-of-record is the latest
row per (process, run_date) by log_id. The ledger grows with runs,
not data, so its bookkeeping stays on the driver and launches no Spark
job:

- each append is one parquet file written with pyarrow under a hidden
  temp name and `os.replace`d into place, so a reader sees a whole
  file or none (a crashed append leaves only the hidden temp file,
  which every reader skips);
- `is_done`, the skip-if-done gate, is a filtered `pyarrow.dataset`
  read;
- the monitoring views, `runnable` and `prune` stay Spark DataFrames
  over the same files.

Every part file is checked against `schemas.RUN_LEDGER` before it is
read; a foreign file raises, naming the file, instead of silently
matching nothing.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from data_warehouse_nhom8_spark import schemas
from data_warehouse_nhom8_spark.operators.windows import latest_per_key

_ARROW = to_arrow_schema(schemas.RUN_LEDGER)
_TS = {f.name for f in schemas.RUN_LEDGER.fields if isinstance(f.dataType, T.TimestampType)}


class RunLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _files(self) -> list[str]:
        """The visible part files, each checked against RUN_LEDGER.
        Hidden (`.`) and marker (`_`) names are skipped, as Spark's and
        pyarrow's own listings skip them."""
        if not os.path.isdir(self.path):
            return []
        files = sorted(
            os.path.join(self.path, n)
            for n in os.listdir(self.path)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
        for f in files:
            _check_schema(f, pq.read_schema(f))
        return files

    def _read(self) -> DataFrame:
        files = self._files()
        if not files:
            return self.spark.createDataFrame([], schemas.RUN_LEDGER)
        return self.spark.read.schema(schemas.RUN_LEDGER).parquet(*files)

    def _append(self, rows: list[dict]) -> None:
        """One parquet file per batch, written on the driver. Timestamps
        are converted exactly as `createDataFrame` converts them (a
        naive datetime is wall time in the process's local zone), so
        rows read back the same whichever writer produced them."""
        ts = T.TimestampType()
        table = pa.Table.from_pylist(
            [
                {k: ts.toInternal(v) if k in _TS else v for k, v in _fill(r).items()}
                for r in rows
            ],
            schema=_ARROW,
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        with open(tmp, "wb") as fh:
            pq.write_table(table, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.path, name))

    def open_run(self, process: str, run_date: datetime.date) -> int:
        """Insert a Running row; returns its log_id.

        log_id is a nanosecond timestamp: MONOTONIC across runs, like
        the reference's AUTO_INCREMENT — latest_status orders by it,
        so a random id would let an old Failed row outrank a newer
        Success (found by end-to-end drive; don't regress this)."""
        log_id = time.time_ns()
        self._append(
            [
                {
                    "log_id": log_id,
                    "process": process,
                    "run_date": run_date,
                    "status": "Running",
                    "start_time": datetime.datetime.now(),
                }
            ]
        )
        return log_id

    def close_run(
        self,
        log_id: int,
        process: str,
        run_date: datetime.date,
        status: str,
        rows_processed: int | None = None,
        file_path: str | None = None,
        error_message: str | None = None,
        start_time: datetime.datetime | None = None,
    ) -> None:
        """Append the terminal row (append-only ledger: the close row
        supersedes the Running row by log-order, like the reference's
        UPDATE supersedes in place). duration_seconds mirrors the
        reference's stored generated column
        (create_control_db_v5.sql:47)."""
        assert status in ("Success", "Failed")
        end = datetime.datetime.now()
        dur = int((end - start_time).total_seconds()) if start_time else None
        self._append(
            [
                {
                    "log_id": log_id + 1,
                    "process": process,
                    "run_date": run_date,
                    "status": status,
                    "rows_processed": rows_processed,
                    "file_path": file_path,
                    "start_time": start_time,
                    "end_time": end,
                    "duration_seconds": dur,
                    "error_message": error_message,
                }
            ]
        )

    def latest_status(self) -> DataFrame:
        """Latest row per (process, run_date) — the W1 pattern."""
        return latest_per_key(
            self._read(), ["process", "run_date"], [F.desc("log_id")]
        )

    def is_done(self, process: str, run_date: datetime.date) -> bool:
        """Skip-if-done gate: any Success for (process, run_date)
        (reference run_topcv_scraper_with_retry.sh:52-59 — COUNT > 0,
        not latest-row)."""
        files = self._files()
        if not files:
            return False
        hit = ds.dataset(files, schema=_ARROW, format="parquet").to_table(
            columns=["status"],
            filter=(ds.field("process") == process)
            & (ds.field("run_date") == run_date)
            & (ds.field("status") == "Success"),
        )
        return hit.num_rows > 0

    def success_rate_view(self) -> DataFrame:
        """Per-process health rollup — the v_scraper_stats monitoring
        view shape (reference extract/create_control_db_v5.sql:124-133):
        conditional success/fail counts, avg rows, last run date."""
        df = self._read().filter(F.col("status") != "Running")
        return (
            df.groupBy("process")
            .agg(
                F.count(F.lit(1)).alias("n_runs"),
                F.sum(F.when(F.col("status") == "Success", 1).otherwise(0)).alias("n_success"),
                F.sum(F.when(F.col("status") == "Failed", 1).otherwise(0)).alias("n_failed"),
                F.round(F.avg("rows_processed"), 0).alias("avg_rows"),
                F.max("run_date").alias("last_run_date"),
            )
            .orderBy("process")
        )

    def daily_summary_view(self) -> DataFrame:
        """Per-day rollup — the v_daily_summary shape (reference
        create_control_db_v5.sql:151-161): distinct processes,
        success/fail counts per run_date."""
        df = self._read().filter(F.col("status") != "Running")
        return (
            df.groupBy("run_date")
            .agg(
                F.countDistinct("process").alias("n_processes"),
                F.sum(F.when(F.col("status") == "Success", 1).otherwise(0)).alias("n_success"),
                F.sum(F.when(F.col("status") == "Failed", 1).otherwise(0)).alias("n_failed"),
            )
            .orderBy(F.desc("run_date"))
        )

    def recent_failures_view(self, k: int = 5) -> DataFrame:
        """Last-k failures with truncated messages — the
        v_recent_errors shape (reference create_control_db_v5.sql:
        113-121 + check_scraper_status.sh:103-113 SUBSTRING)."""
        return (
            self._read()
            .filter(F.col("status") == "Failed")
            .select(
                "process",
                "run_date",
                "end_time",
                F.substring("error_message", 1, 80).alias("error_80"),
            )
            .orderBy(F.desc("run_date"), F.desc("end_time"))
            .limit(k)
        )

    def volume_drift_view(
        self, window_days: int = 7, factor: float = 3.0
    ) -> DataFrame:
        """Per-(process, day) ingest-volume drift vs the trailing
        window — the monitoring layer the reference's
        check_scraper_status.sh lacks: a scraper that still exits 0
        but suddenly returns 10 rows instead of 10,000 (layout change,
        silent block) passes the success check and fails THIS one.

        Latest Success row per (process, run_date), each day's
        rows_processed compared to the avg of up to `window_days`
        PRIOR days of the same process (deterministic bounded window,
        one dim-sized shuffle on process); `drift` flags ratios
        outside [1/factor, factor] or a zero-rows day. Days without
        enough history (no prior runs) report NULL ratio, no flag."""
        from pyspark.sql.window import Window

        from data_warehouse_nhom8_spark.operators.windows import latest_per_key

        latest = latest_per_key(
            self._read().filter(F.col("status") == "Success"),
            ["process", "run_date"],
            [F.desc("log_id")],
        ).select("process", "run_date", "rows_processed")
        w = (
            Window.partitionBy("process")
            .orderBy("run_date")
            .rowsBetween(-window_days, -1)
        )
        trailing = F.avg("rows_processed").over(w)
        ratio = F.when(
            trailing > 0, F.col("rows_processed") / trailing
        )
        return (
            latest.withColumn("trailing_avg_rows", F.round(trailing, 2))
            .withColumn("ratio", F.round(ratio, 4))
            .withColumn(
                "drift",
                F.coalesce(F.col("rows_processed") == 0, F.lit(False))
                | F.coalesce(
                    (F.col("ratio") > factor) | (F.col("ratio") < 1.0 / factor),
                    F.lit(False),
                ),
            )
            .orderBy("process", "run_date")
        )

    def prune(self, keep_days: int, today: datetime.date | None = None) -> int:
        """Retention sweep — the 30-day log cleanup (reference
        extract/cleanup_old_logs.sh:11): rewrite the ledger keeping
        only rows newer than `keep_days`. Returns rows kept."""
        from data_warehouse_nhom8_spark.sources.snapshots import safe_overwrite

        today = today or datetime.date.today()
        cutoff = today - datetime.timedelta(days=keep_days)
        kept = self._read().filter(F.col("run_date") >= F.lit(cutoff))
        return safe_overwrite(kept, self.path, schemas.RUN_LEDGER)

    def runnable(self, enabled: DataFrame, run_date: datetime.date) -> DataFrame:
        """U2: enabled processes minus already-succeeded-today
        (reference run_all_scrapers.sh:22-44) as a left-anti join.
        `enabled` must have a `process` column."""
        done = (
            self._read()
            .filter((F.col("run_date") == F.lit(run_date)) & (F.col("status") == "Success"))
            .select("process")
        )
        return enabled.join(done, on="process", how="left_anti")


def _check_schema(path: str, got: pa.Schema) -> None:
    """Raise unless a part file has RUN_LEDGER's columns and types.
    Nullability is not compared (Spark writes every column nullable),
    nor the timestamp unit and zone (Spark may write INT96 or micros)."""
    same = got.names == _ARROW.names and all(
        g.type == w.type
        or (pa.types.is_timestamp(g.type) and pa.types.is_timestamp(w.type))
        for g, w in zip(got, _ARROW)
    )
    if not same:
        raise ValueError(
            f"run ledger part file {path} does not match schemas.RUN_LEDGER: "
            f"got ({', '.join(f'{f.name} {f.type}' for f in got)}), expected "
            f"({', '.join(f'{f.name} {f.type}' for f in _ARROW)})"
        )


def _fill(r: dict) -> dict:
    base = {
        "log_id": None,
        "process": None,
        "run_date": None,
        "status": None,
        "rows_processed": None,
        "file_path": None,
        "start_time": None,
        "end_time": None,
        "duration_seconds": None,
        "error_message": None,
    }
    base.update(r)
    return base
