"""Composed daily pipeline + ledger monitoring views + retention."""

from __future__ import annotations

import datetime
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_warehouse_nhom8_spark import schemas
from data_warehouse_nhom8_spark.pipeline.config import EngineConfig
from data_warehouse_nhom8_spark.pipeline.daily import run_daily_pipeline
from data_warehouse_nhom8_spark.pipeline.ledger import RunLedger

D1, D2 = datetime.date(2025, 3, 10), datetime.date(2025, 3, 11)


def mk_connector(rows_by_day):
    def conn(source_id, d):
        return [
            {
                "source_id": source_id, "job_id": jid, "job_title": title,
                "company_name": comp, "salary": sal, "location": "HN",
                "experience_required": "", "job_type": "", "posted_time": "hôm qua",
                "tags": "", "job_url": f"https://x/{jid}", "company_logo": "",
                "extracted_date": d.isoformat(), "extracted_timestamp": "",
            }
            for jid, title, comp, sal in rows_by_day[d]
        ]

    return conn


def test_run_daily_pipeline_two_days(spark, tmp_path):
    cfg = EngineConfig(
        bronze_path=str(tmp_path / "bronze"),
        staging_path=str(tmp_path / "staging"),
        warehouse_path=str(tmp_path / "warehouse"),
        datamart_path=str(tmp_path / "dm"),
        dashboard_path=str(tmp_path / "dash.html"),
        ledger_path=str(tmp_path / "ledger"),
    )
    rows = {
        D1: [("t1", "Dev", "ACME", "10 - 15 triệu"), ("g1", "QA", "Beta", "Tới 20 triệu")],
        D2: [("t1", "Dev", "ACME", "Trên 25 triệu"), ("t9", "Intern", "ACME", "Thỏa thuận")],
    }
    conns = {"topcv_jobs": mk_connector(rows)}

    r1 = run_daily_pipeline(spark, cfg, conns, D1)
    assert r1["extract"] == {"topcv_jobs": 2}
    assert r1["staging_rows"] == 2 and r1["warehouse_rows"] == 2

    r2 = run_daily_pipeline(spark, cfg, conns, D2)
    assert r2["extract"] == {"topcv_jobs": 2}
    assert r2["staging_rows"] == 3          # t1 updated, t9 new, g1 kept
    assert r2["warehouse_rows"] == 4        # + expired t1 version
    assert r2["datamart"]["agg_job_by_company"] == 2
    # S12: the dashboard refreshed with the datamart on the same run
    page = open(r2["dashboard"], encoding="utf-8").read()
    assert "agg_job_by_company" in page and '<rect class="bar"' in page

    # rerun day 2: extract + warehouse both gate on the ledger; state unchanged
    r3 = run_daily_pipeline(spark, cfg, conns, D2)
    assert r3["extract"] == {}              # skip-if-done
    assert r3["warehouse_rows"] == 4

    # weekly maintenance: compaction + retention; data unchanged
    from data_warehouse_nhom8_spark.pipeline.daily import run_weekly_maintenance
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_read

    before = sorted(
        tuple(r) for r in snapshot_read(spark, cfg.warehouse_path).collect()
    )
    m = run_weekly_maintenance(
        spark, cfg, keep_days=30, history_keep_days=30, today=D2
    )
    assert "compacted_warehouse" in m and m["ledger_rows_kept"] >= 1
    # young history: vacuum runs but removes nothing
    assert m.get("vacuumed_warehouse") == 0
    after = sorted(
        tuple(r) for r in snapshot_read(spark, cfg.warehouse_path).collect()
    )
    assert after == before


def test_ledger_views_and_prune(spark, tmp_path):
    led = RunLedger(spark, str(tmp_path / "ledger"))
    for d, status, msg in [
        (D1, "Failed", "timeout talking to site"),
        (D1, "Success", None),
        (D2, "Success", None),
    ]:
        lid = led.open_run("extract_topcv", d)
        led.close_run(lid, "extract_topcv", d, status, rows_processed=10, error_message=msg)
    lid = led.open_run("loadwh", D2)
    led.close_run(lid, "loadwh", D2, "Failed", error_message="x" * 200)

    rates = {r["process"]: r for r in led.success_rate_view().collect()}
    assert rates["extract_topcv"]["n_success"] == 2
    assert rates["extract_topcv"]["n_failed"] == 1
    assert rates["loadwh"]["n_failed"] == 1

    daily = {str(r["run_date"]): r for r in led.daily_summary_view().collect()}
    assert daily["2025-03-11"]["n_processes"] == 2
    assert daily["2025-03-10"]["n_success"] == 1 and daily["2025-03-10"]["n_failed"] == 1

    fails = led.recent_failures_view(5).collect()
    assert len(fails) == 2
    assert all(len(r["error_80"] or "") <= 80 for r in fails)  # W5 truncation

    # retention: keep 0 days relative to D2 → only D2 rows survive
    kept = led.prune(keep_days=0, today=D2)
    assert kept == 4  # D2 open+close rows for both processes
    assert not led.is_done("extract_topcv", D1)
    assert led.is_done("extract_topcv", D2)


def test_daily_doctor_ledgers_seeded_anti_pattern(spark, tmp_path):
    """Opt-in pre-submit doctor: a rider query with a seeded cartesian
    join gets a Failed `doctor:<name>` ledger row carrying the finding;
    a clean rider gets Success; enforce=True aborts the day before any
    stage runs."""
    import pytest
    from pyspark.sql import functions as F

    cfg = EngineConfig(
        bronze_path=str(tmp_path / "bronze"),
        staging_path=str(tmp_path / "staging"),
        warehouse_path=str(tmp_path / "warehouse"),
        datamart_path=str(tmp_path / "dm"),
        dashboard_path=None,
        ledger_path=str(tmp_path / "ledger"),
    )
    rows = {D1: [("t1", "Dev", "ACME", "10 - 15 triệu")]}
    conns = {"topcv_jobs": mk_connector(rows)}

    a = spark.range(50)
    b = spark.range(50).select(F.col("id").alias("j"))
    bad = a.hint("shuffle_replicate_nl").join(b, F.col("id") > F.col("j"))
    good = a.join(b, F.col("id") == F.col("j"))

    r = run_daily_pipeline(
        spark, cfg, conns, D1, doctor_queries={"bad_report": bad, "good_report": good}
    )
    assert r["doctor"]["bad_report"] >= 1
    assert r["staging_rows"] == 1  # non-enforcing: the day still ran

    latest = {
        row["process"]: row
        for row in RunLedger(spark, cfg.ledger_path).latest_status().collect()
    }
    assert latest["doctor:bad_report"]["status"] == "Failed"
    assert "cartesian-join" in latest["doctor:bad_report"]["error_message"]
    assert latest["doctor:good_report"]["status"] == "Success"

    with pytest.raises(ValueError, match="bad_report"):
        run_daily_pipeline(
            spark, cfg, conns, D1,
            doctor_queries={"bad_report": bad}, doctor_enforce=True,
        )


def test_daily_doctor_self_lints_pipeline_stages(spark, tmp_path):
    """doctor_self=True lints the pipeline's own stage plans: the
    staging transform and datamart fact input each get a Success
    doctor ledger row (the engine's plans must pass its own
    checklist)."""
    cfg = EngineConfig(
        bronze_path=str(tmp_path / "bronze"),
        staging_path=str(tmp_path / "staging"),
        warehouse_path=str(tmp_path / "warehouse"),
        datamart_path=str(tmp_path / "dm"),
        dashboard_path=None,
        ledger_path=str(tmp_path / "ledger"),
    )
    rows = {D1: [("t1", "Dev", "ACME", "10 - 15 triệu")]}
    r = run_daily_pipeline(
        spark, cfg, {"topcv_jobs": mk_connector(rows)}, D1, doctor_self=True
    )
    assert set(r["doctor"]) == {"staging_silver", "datamart_fact"}

    latest = {
        row["process"]: row
        for row in RunLedger(spark, cfg.ledger_path).latest_status().collect()
    }
    assert latest["doctor:staging_silver"]["status"] == "Success"
    assert latest["doctor:datamart_fact"]["status"] == "Success"


def test_volume_drift_view_flags_collapsed_source(spark, tmp_path):
    """A source that keeps succeeding but collapses from ~100 rows/day
    to 3 must flag drift on the collapse day; steady sources and the
    no-history first day stay clean; a zero-rows Success day always
    flags."""
    led = RunLedger(spark, str(tmp_path / "ledger"))
    d0 = datetime.date(2025, 5, 1)
    for i, rows in enumerate([100, 104, 98, 101, 3]):
        day = d0 + datetime.timedelta(days=i)
        lid = led.open_run("extract_topcv", day)
        led.close_run(lid, "extract_topcv", day, "Success", rows_processed=rows)
    lid = led.open_run("extract_zero", d0)
    led.close_run(lid, "extract_zero", d0, "Success", rows_processed=0)

    view = {
        (r["process"], str(r["run_date"])): r
        for r in led.volume_drift_view(window_days=7, factor=3.0).collect()
    }
    assert view[("extract_topcv", "2025-05-01")]["drift"] is False  # no history
    assert view[("extract_topcv", "2025-05-04")]["drift"] is False  # steady
    collapse = view[("extract_topcv", "2025-05-05")]
    assert collapse["drift"] is True and collapse["ratio"] < 1 / 3.0
    assert view[("extract_zero", "2025-05-01")]["drift"] is True  # zero rows

    # explosion (a scraper suddenly 10x — layout change double-counting)
    for i, rows in enumerate([50, 52, 49, 600]):
        day = d0 + datetime.timedelta(days=i)
        lid = led.open_run("extract_burst", day)
        led.close_run(lid, "extract_burst", day, "Success", rows_processed=rows)
    view = {
        (r["process"], str(r["run_date"])): r
        for r in led.volume_drift_view(window_days=7, factor=3.0).collect()
    }
    burst = view[("extract_burst", "2025-05-04")]
    assert burst["drift"] is True and burst["ratio"] > 3.0


@pytest.fixture
def ho_chi_minh_tz():
    """The process runs in the reference's local zone (UTC+7) while the
    Spark session stays on UTC."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Ho_Chi_Minh"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def _spark_append(spark, path, rows):
    """The ledger's earlier writer: one createDataFrame + Spark parquet
    append per row batch."""
    from data_warehouse_nhom8_spark.pipeline.ledger import _fill

    spark.createDataFrame([_fill(r) for r in rows], schemas.RUN_LEDGER).write.mode(
        "append"
    ).parquet(path)


def _ledger_runs():
    """Open + close row pairs over three processes and four days, with
    naive start/end times carrying microseconds."""
    t0 = datetime.datetime(2025, 3, 10, 2, 0, 5, 123456)
    runs = [
        ("extract_topcv", 0, "Failed", None), ("extract_topcv", 0, "Success", 100),
        ("extract_topcv", 1, "Success", 104), ("extract_topcv", 2, "Success", 3),
        ("extract_jobsgo", 0, "Success", 50), ("extract_jobsgo", 1, "Success", 0),
        ("load_to_wh", 1, "Success", 12), ("load_to_wh", 3, "Failed", None),
    ]
    out = []
    for i, (proc, d, status, n) in enumerate(runs):
        day = D1 + datetime.timedelta(days=d)
        start = t0 + datetime.timedelta(days=d, minutes=i)
        end = start + datetime.timedelta(seconds=37 + i, microseconds=999)
        lid = 1_000 + 10 * i
        out.append([
            {"log_id": lid, "process": proc, "run_date": day, "status": "Running",
             "start_time": start},
            {"log_id": lid + 1, "process": proc, "run_date": day, "status": status,
             "rows_processed": n, "file_path": "/bronze", "start_time": start,
             "end_time": end, "duration_seconds": int((end - start).total_seconds()),
             "error_message": "boom" if status == "Failed" else None},
        ])
    return out


def test_ledger_driver_writer_reads_like_spark_writer(spark, tmp_path, ho_chi_minh_tz):
    """Part files from the earlier Spark append and from the driver-side
    pyarrow append read back identically, timestamps included, with the
    process in UTC+7 and the session on UTC; a hidden temp file left by
    a crashed append is invisible to every reader."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    runs = _ledger_runs()
    ledgers = {}
    for kind in ("spark", "driver", "mixed"):
        led = RunLedger(spark, str(tmp_path / kind))
        for i, pair in enumerate(runs):
            if kind == "spark" or (kind == "mixed" and i % 2 == 0):
                _spark_append(spark, led.path, pair)
            else:
                led._append(pair)
        ledgers[kind] = led
    mixed = ledgers["mixed"]
    # a crashed append: its hidden temp file holds half a parquet file
    whole = next(f for f in os.listdir(mixed.path) if f.endswith(".parquet"))
    with open(os.path.join(mixed.path, whole), "rb") as fh:
        half = fh.read()[:100]
    with open(os.path.join(mixed.path, ".part-crashed.parquet.tmp"), "wb") as fh:
        fh.write(half)

    # naive times read back as the same wall-clock values
    want = {
        r["log_id"]: (r.get("start_time"), r.get("end_time"), r.get("duration_seconds"))
        for pair in runs for r in pair
    }
    for kind, led in ledgers.items():
        got = {
            r["log_id"]: (r["start_time"], r["end_time"], r["duration_seconds"])
            for r in led._read().collect()
        }
        assert got == want, kind

    def views(led):
        return [
            sorted(tuple(r) for r in v.collect())
            for v in (led.latest_status(), led.success_rate_view(), led.volume_drift_view())
        ]

    base = views(ledgers["spark"])
    assert views(ledgers["driver"]) == base
    assert views(mixed) == base
    for led in ledgers.values():
        assert led.is_done("extract_topcv", D1)  # Success after a Failed
        assert led.is_done("extract_jobsgo", D2)
        assert not led.is_done("load_to_wh", D1 + datetime.timedelta(days=3))
        assert not led.is_done("load_to_wh", D1)  # no row at all


@pytest.mark.parametrize(
    "foreign",
    [
        # another table's file: key columns only, rows_processed as text
        {"log_id": [1], "process": ["extract_topcv"], "run_date": [D2],
         "status": ["Success"], "rows_processed": ["12"]},
        # every ledger column, but run_date stored as a string
        {"log_id": [1], "process": ["extract_topcv"], "run_date": [str(D2)],
         "status": ["Success"], "rows_processed": [12], "file_path": [None],
         "start_time": [None], "end_time": [None], "duration_seconds": [None],
         "error_message": [None]},
    ],
    ids=["foreign_columns", "foreign_types"],
)
def test_ledger_foreign_part_file_fails_loudly(spark, tmp_path, foreign):
    """A part file whose columns or types differ from RUN_LEDGER makes
    the gate and the Spark read raise, naming the file, instead of
    silently matching nothing."""
    led = RunLedger(spark, str(tmp_path / "ledger"))
    lid = led.open_run("extract_topcv", D1)
    led.close_run(lid, "extract_topcv", D1, "Success", rows_processed=5)
    assert led.is_done("extract_topcv", D1)

    pq.write_table(pa.table(foreign), os.path.join(led.path, "part-foreign.parquet"))
    with pytest.raises(ValueError, match="part-foreign.parquet"):
        led.is_done("extract_topcv", D2)
    with pytest.raises(ValueError, match="part-foreign.parquet"):
        led._read()
    with pytest.raises(ValueError, match="part-foreign.parquet"):
        led.latest_status()


def test_daily_expectations_gate(spark, tmp_path):
    """The declarative DQ suite runs over the day's silver rows,
    ledgers dq:staging_silver, and enforce aborts before the
    warehouse merge on a violation."""
    import pytest

    from data_warehouse_nhom8_spark.operators.expectations import Expect

    cfg = EngineConfig(
        bronze_path=str(tmp_path / "bronze"),
        staging_path=str(tmp_path / "staging"),
        warehouse_path=str(tmp_path / "warehouse"),
        datamart_path=str(tmp_path / "dm"),
        dashboard_path=None,
        ledger_path=str(tmp_path / "ledger"),
    )
    rows = {D1: [("t1", "Dev", "ACME", "10 - 15 triệu")]}
    conns = {"topcv_jobs": mk_connector(rows)}
    suite_ok = [
        Expect("job_id_not_null", "not_null", "job_id"),
        Expect("job_id_unique", "unique", "job_id"),
    ]
    r = run_daily_pipeline(spark, cfg, conns, D1, expectations=suite_ok)
    assert r["expectations"] == {"job_id_not_null": 0, "job_id_unique": 0}
    latest = {
        row["process"]: row
        for row in RunLedger(spark, cfg.ledger_path).latest_status().collect()
    }
    assert latest["dq:staging_silver"]["status"] == "Success"

    # a suite the fixture violates (company always ACME, so a
    # values-check against something else fails) aborts under enforce
    suite_bad = [
        Expect("company_whitelist", "accepted_values", "company_name",
               {"values": ["OtherCo"]}),
    ]
    with pytest.raises(ValueError, match="company_whitelist"):
        run_daily_pipeline(
            spark, cfg, conns, D1,
            expectations=suite_bad, expectations_enforce=True,
        )
    latest = {
        row["process"]: row
        for row in RunLedger(spark, cfg.ledger_path).latest_status().collect()
    }
    assert latest["dq:staging_silver"]["status"] == "Failed"


def test_daily_pipeline_bucketed_twin_of_plain(spark, tmp_path):
    """The bucketed-by-default pipeline (round 8) must produce exactly
    the same business state as a plain-parquet run: same staging rows,
    same warehouse history (ignoring the persisted __nk_* bucket
    columns), same datamart counts — and the snapshots actually carry
    the bucket layout."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_bucket_spec,
        snapshot_read,
    )

    rows = {
        D1: [("t1", "Dev", "Hà Nội Corp", "10 - 15 triệu"),
             ("g1", "QA", "Beta", "Tới 20 triệu")],
        D2: [("t1", "Dev", "ha noi corp", "Trên 25 triệu"),  # CI_AI same company
             ("t9", "Intern", "ACME", "Thỏa thuận")],
    }

    def run(tag, bucketed):
        cfg = EngineConfig(
            bronze_path=str(tmp_path / tag / "bronze"),
            staging_path=str(tmp_path / tag / "staging"),
            warehouse_path=str(tmp_path / tag / "warehouse"),
            datamart_path=str(tmp_path / tag / "dm"),
            ledger_path=str(tmp_path / tag / "ledger"),
        )
        conns = {"topcv_jobs": mk_connector(rows)}
        for d in (D1, D2):
            r = run_daily_pipeline(spark, cfg, conns, d, bucketed=bucketed)
        return cfg, r

    cfg_b, rb = run("bucketed", True)
    cfg_p, rp = run("plain", False)
    assert rb["staging_rows"] == rp["staging_rows"]
    assert rb["warehouse_rows"] == rp["warehouse_rows"]
    assert rb["datamart"] == rp["datamart"]

    assert snapshot_bucket_spec(cfg_b.staging_path)["cols"] == ["job_id"]
    assert snapshot_bucket_spec(cfg_b.warehouse_path)["cols"] == [
        "__nk_job_title", "__nk_company_name",
    ]
    assert snapshot_bucket_spec(cfg_p.staging_path) is None
    assert snapshot_bucket_spec(cfg_p.warehouse_path) is None

    wh_b = snapshot_read(spark, cfg_b.warehouse_path)
    wh_p = snapshot_read(spark, cfg_p.warehouse_path)
    biz = [c for c in wh_p.columns if not c.startswith("__nk_")]
    assert sorted(map(tuple, wh_b.select(*biz).collect())) == sorted(
        map(tuple, wh_p.select(*biz).collect())
    )
    stg_b = sorted(map(tuple, snapshot_read(spark, cfg_b.staging_path).collect()))
    stg_p = sorted(map(tuple, snapshot_read(spark, cfg_p.staging_path).collect()))
    assert stg_b == stg_p


def test_existing_plain_warehouse_upgrades_to_bucketed(spark, tmp_path):
    """Adoption path: a deployment with days of PLAIN history switches
    to the round-8 bucketed default mid-life. The next daily run
    upgrades both snapshots in place (normalized-key columns appear
    via schema evolution, layout becomes sticky), business rows are
    unchanged, and subsequent plain-default reruns never demote."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_bucket_spec,
        snapshot_read,
    )

    cfg = EngineConfig(
        bronze_path=str(tmp_path / "bronze"),
        staging_path=str(tmp_path / "staging"),
        warehouse_path=str(tmp_path / "warehouse"),
        datamart_path=str(tmp_path / "dm"),
        ledger_path=str(tmp_path / "ledger"),
    )
    D3 = datetime.date(2025, 3, 12)
    rows = {
        D1: [("t1", "Dev", "ACME", "10 - 15 triệu")],
        D2: [("t2", "QA", "Beta", "Tới 20 triệu")],
        D3: [("t1", "Dev", "ACME", "Trên 30 triệu"),   # change → SCD2 expire
             ("t3", "Intern", "Gamma", "Thỏa thuận")],
    }
    conns = {"topcv_jobs": mk_connector(rows)}

    # two days of pre-round-8 history (plain parquet)
    run_daily_pipeline(spark, cfg, conns, D1, bucketed=False)
    run_daily_pipeline(spark, cfg, conns, D2, bucketed=False)
    assert snapshot_bucket_spec(cfg.staging_path) is None
    ident = ["job_title", "company_name", "salary", "extracted_date", "job_sk"]
    plain_wh = sorted(
        map(tuple, snapshot_read(spark, cfg.warehouse_path).select(*ident).collect())
    )

    # day 3 runs under the new default → in-place upgrade
    r3 = run_daily_pipeline(spark, cfg, conns, D3)  # bucketed=True default
    assert snapshot_bucket_spec(cfg.staging_path)["cols"] == ["job_id"]
    assert snapshot_bucket_spec(cfg.warehouse_path)["cols"] == [
        "__nk_job_title", "__nk_company_name",
    ]
    assert r3["staging_rows"] == 3
    wh = snapshot_read(spark, cfg.warehouse_path)
    assert {"__nk_job_title", "__nk_company_name"} <= set(wh.columns)
    # day-1/2 history intact + day-3 change expired the old t1 version
    assert r3["warehouse_rows"] == 4  # t1 old, t1 new, t2, t3
    live = wh.filter("expired = DATE'9999-12-31'")
    assert live.count() == 3
    # the pre-upgrade versions survive identically (t1-old's `expired`
    # legitimately moved from the sentinel to the day-3 change date, so
    # compare the identity columns incl. surrogate keys)
    upgraded = sorted(
        map(
            tuple,
            wh.select(*ident)
            .filter("extracted_date < DATE'2025-03-12'")
            .collect(),
        )
    )
    assert upgraded == plain_wh

    # a later run passing bucketed=False must NOT demote (sticky)
    D4 = datetime.date(2025, 3, 13)
    rows[D4] = [("t4", "Dev2", "ACME", "5 triệu")]
    run_daily_pipeline(spark, cfg, conns, D4, bucketed=False)
    assert snapshot_bucket_spec(cfg.warehouse_path) is not None
    assert snapshot_bucket_spec(cfg.staging_path) is not None
