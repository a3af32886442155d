"""Full-system lifecycle test: config → connector ingest → staging →
SCD2 warehouse (two days, with a change) → datamart → serve.
This is the reference's cron day, end to end, in one Catalyst session
(SURVEY §3.1-3.3 + datamart)."""

from __future__ import annotations

import datetime
import functools
import inspect
import uuid

from pyspark.sql import functions as F

from data_warehouse_nhom8_spark import schemas
from data_warehouse_nhom8_spark.operators.scd2 import scd2_invariant_violations
from data_warehouse_nhom8_spark.pipeline.datamart import rebuild_datamart, serve_datamart
from data_warehouse_nhom8_spark.pipeline.date_dim import build_date_dim
from data_warehouse_nhom8_spark.pipeline.extract import read_day, run_all_sources
from data_warehouse_nhom8_spark.pipeline.ledger import RunLedger
from data_warehouse_nhom8_spark.pipeline.staging import transform_raw_jobs, upsert_staging
from data_warehouse_nhom8_spark.pipeline.warehouse_load import (
    load_day_to_warehouse,
    merge_metrics,
)

D1 = datetime.date(2025, 3, 10)
D2 = datetime.date(2025, 3, 11)


def connector_for(day_rows):
    def conn(source_id, d):
        return [
            {
                "source_id": source_id,
                "job_id": jid,
                "job_title": title,
                "company_name": comp,
                "salary": sal,
                "location": "HN",
                "experience_required": "2 năm",
                "job_type": "",
                "posted_time": "hôm qua",
                "tags": "",
                "job_url": f"https://x/{jid}",
                "company_logo": "",
                "extracted_date": d.isoformat(),
                "extracted_timestamp": f"{d} 02:00:00",
            }
            for jid, title, comp, sal in day_rows
        ]

    return conn


def test_two_day_lifecycle(spark, tmp_path):
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_diff,
        snapshot_overwrite,
        snapshot_read,
    )

    bronze = str(tmp_path / "bronze")
    whpath = str(tmp_path / "warehouse_job")
    led = RunLedger(spark, str(tmp_path / "ledger"))
    dim = build_date_dim(spark, "2025-03-01", "2025-03-31")

    def persist(snap):
        # the production write path: versioned atomic snapshot commit,
        # then read back the committed files (write/read cycle)
        snapshot_overwrite(snap, whpath, keep=3)
        return snapshot_read(spark, whpath)

    # ---- day 1
    day1 = [("t1", "Dev", "ACME", "10 - 15 triệu"), ("g1", "QA", "Beta", "Tới 20 triệu")]
    run_all_sources(spark, {"topcv_jobs": connector_for(day1)}, D1, bronze, led)
    stg = upsert_staging(None, transform_raw_jobs(read_day(spark, bronze, D1), dim))
    wh = load_day_to_warehouse(stg, None, D1, ledger=led, persist=persist)
    m1 = merge_metrics(wh, D1)
    assert m1 == {"expired_today": 0, "inserted_today": 2, "live_total": 2}

    # ---- day 2: t1 salary changes, t9 is new
    day2 = [("t1", "Dev", "ACME", "Trên 25 triệu"), ("t9", "Intern", "ACME", "Thỏa thuận")]
    run_all_sources(spark, {"topcv_jobs": connector_for(day2)}, D2, bronze, led)
    stg = upsert_staging(stg, transform_raw_jobs(read_day(spark, bronze, D2), dim))
    wh = load_day_to_warehouse(stg, wh, D2, ledger=led, persist=persist)
    m2 = merge_metrics(wh, D2)
    assert m2 == {"expired_today": 1, "inserted_today": 2, "live_total": 3}
    assert scd2_invariant_violations(wh, ["job_title", "company_name"]).count() == 0

    # ---- CDC contract: the v1→v2 change feed is exactly {the expired
    # row as an update, the inserted rows} — what a downstream
    # incremental consumer of the reference's SCD2 nightly merge
    # (loadtowh/load_to_wh.sh:62-87) would apply instead of re-reading
    # the snapshot. SCD2 rows are immutable except for the expired
    # flip, so keyed by job_sk the feed can contain no other shapes.
    feed = {
        (r["job_title"], str(r["expired"]), r["_change"])
        for r in snapshot_diff(spark, whpath, 1, 2, keys=["job_sk"]).collect()
    }
    assert feed == {
        ("Dev", str(D2), "update"),  # t1's day-1 version expired today
        ("Dev", "9999-12-31", "insert"),  # t1's new live version
        ("Intern", "9999-12-31", "insert"),  # t9 brand-new
    }
    # counts tie out with the ledger metrics for the day
    assert sum(1 for *_, c in feed if c == "insert") == m2["inserted_today"]
    assert sum(1 for *_, c in feed if c == "update") == m2["expired_today"]

    # ledger shows every stage Success
    statuses = {
        (r["process"], str(r["run_date"])): r["status"]
        for r in led.latest_status().collect()
    }
    assert statuses[("extract_topcv_jobs", "2025-03-10")] == "Success"
    assert statuses[("load_to_wh", "2025-03-11")] == "Success"

    # ---- datamart over the live warehouse rows + serve
    live = wh.filter(F.col("expired") == F.lit("9999-12-31").cast("date"))
    counts = rebuild_datamart(live, str(tmp_path / "dm"))
    assert counts["agg_job_by_company"] == 2  # ACME, Beta
    served = serve_datamart(spark, str(tmp_path / "dm"))
    pdf = served["agg_job_by_company"]
    assert list(pdf.columns) == ["company_name", "total_jobs"]
    assert dict(zip(pdf.company_name, pdf.total_jobs)) == {"ACME": 2, "Beta": 1}


def test_third_day_maintenance_and_pruned_reads(spark, tmp_path):
    """Day-3 operations story on top of the two-day lifecycle: a
    malformed scraper file rides through the quarantine split without
    poisoning staging; nightly maintenance (date-clustered compaction
    + stats manifest + key Bloom) then serves the day-filter read from
    pruned files and a point lookup from ~one file — with results
    identical to the unpruned paths."""
    import os

    from data_warehouse_nhom8_spark.pipeline.extract import read_day_with_quarantine
    from data_warehouse_nhom8_spark.pipeline.warehouse_load import staging_day_scan
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_overwrite,
        snapshot_read,
        snapshot_scan,
    )

    bronze = str(tmp_path / "bronze")
    led = RunLedger(spark, str(tmp_path / "ledger"))
    dim = build_date_dim(spark, "2025-03-01", "2025-03-31")

    days = [D1, D2, datetime.date(2025, 3, 12)]
    stg = None
    for i, d in enumerate(days):
        rows = [(f"j{i}_{k}", f"Role{k}", "ACME", "10 - 15 triệu") for k in range(4)]
        run_all_sources(spark, {"topcv_jobs": connector_for(rows)}, d, bronze, led)
        stg = upsert_staging(stg, transform_raw_jobs(read_day(spark, bronze, d), dim))

    # a broken file lands in the day-3 partition (scraper hiccup)
    day_dir = os.path.join(bronze, "source=topcv_jobs", f"date={days[2]}")
    with open(os.path.join(day_dir, "broken.csv"), "w") as fh:
        fh.write(",".join(f.name for f in schemas.RAW_JOBS_CSV.fields) + "\n")
        fh.write("oops,only,three\n")
    qres = read_day_with_quarantine(spark, bronze, days[2])
    assert qres.quarantine.count() == 1
    assert qres.valid.filter(F.col("job_id").isNotNull()).count() == 4
    qres.parsed.unpersist()

    # the ledgered health check surfaces the malformed file as Failed
    from data_warehouse_nhom8_spark.pipeline.extract import quarantine_check

    assert quarantine_check(spark, bronze, days[2], led) == 1
    assert quarantine_check(spark, bronze, days[1], led) == 0
    st = {
        (r["process"], str(r["run_date"])): r["status"]
        for r in led.latest_status().collect()
    }
    assert st[("quarantine_check", str(days[2]))] == "Failed"
    assert st[("quarantine_check", str(days[1]))] == "Success"

    # persist staging as a versioned snapshot, then nightly maintenance:
    # cluster by extracted_date, write stats + a bloom over date_id
    spath = str(tmp_path / "staging_snap")
    snapshot_overwrite(stg.repartition(6), spath)
    out = snapshot_compact(
        spark, spath, target_file_bytes=2 << 10,
        zorder_by=["extracted_date"],
        stats_cols=["extracted_date"], bloom_cols=["date_id"],
    )
    assert out is not None

    # day-filter read: pruned files, identical rows
    got = staging_day_scan(spark, spath, days[1])
    want = snapshot_read(spark, spath).filter(
        F.col("extracted_date") == F.lit(days[1])
    )
    assert sorted(r.job_id for r in got.collect()) == sorted(
        r.job_id for r in want.collect()
    ) and want.count() == 4
    _df, n_sel, n_total = snapshot_scan(
        spark, spath, {"extracted_date": (days[1], days[1])}
    )
    assert 0 < n_sel < n_total

    # point lookup by surrogate date_id via the bloom
    did = want.select("date_id").first()["date_id"]
    pdf, p_sel, p_total = snapshot_scan(spark, spath, {}, points={"date_id": int(did)})
    assert 0 < p_sel <= p_total
    assert pdf.filter(F.col("date_id") == int(did)).count() == 4


def test_fourth_day_erasure_request(spark, tmp_path):
    """Day-4 operations story: a data-subject erasure request arrives
    for one job posting. The warehouse snapshot drops EVERY SCD2
    version of that natural key (current and expired), history is
    purged so pre-erasure time travel cannot resurrect it, the
    datamart rebuild reflects the removal, and the run is ledgered."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_delete_keys,
        snapshot_overwrite,
        snapshot_read,
        snapshot_versions,
    )

    bronze = str(tmp_path / "bronze")
    whpath = str(tmp_path / "warehouse_job")
    led = RunLedger(spark, str(tmp_path / "ledger"))
    dim = build_date_dim(spark, "2025-03-01", "2025-03-31")

    def persist(snap):
        snapshot_overwrite(snap, whpath, keep=5)
        return snapshot_read(spark, whpath)

    day1 = [("t1", "Dev", "ACME", "10 - 15 triệu"), ("g1", "QA", "Beta", "Tới 20 triệu")]
    run_all_sources(spark, {"topcv_jobs": connector_for(day1)}, D1, bronze, led)
    stg = upsert_staging(None, transform_raw_jobs(read_day(spark, bronze, D1), dim))
    wh = load_day_to_warehouse(stg, None, D1, ledger=led, persist=persist)

    # day 2 changes t1, so the warehouse holds TWO versions of t1
    day2 = [("t1", "Dev", "ACME", "Trên 25 triệu")]
    run_all_sources(spark, {"topcv_jobs": connector_for(day2)}, D2, bronze, led)
    stg = upsert_staging(stg, transform_raw_jobs(read_day(spark, bronze, D2), dim))
    wh = load_day_to_warehouse(stg, wh, D2, ledger=led, persist=persist)
    assert wh.filter(F.col("job_id") == "t1").count() == 2  # live + expired

    # erasure request: job t1 (all SCD2 versions, all history)
    req = spark.createDataFrame([("t1",)], "job_id string")
    out = snapshot_delete_keys(
        spark, whpath, req, ["job_id"], purge_history=True, keep=5
    )
    assert out["deleted_rows"] == 2 and out["purged_versions"] >= 1
    lid = led.open_run("erasure_request", D2)
    led.close_run(
        lid, "erasure_request", D2, "Success", rows_processed=out["deleted_rows"]
    )

    cur = snapshot_read(spark, whpath)
    assert cur.filter(F.col("job_id") == "t1").count() == 0
    assert cur.count() == 1  # g1 untouched
    # history purged: only the post-erasure version is readable
    assert len(snapshot_versions(whpath)) == 1
    # SCD2 invariants still hold on the remaining table
    assert scd2_invariant_violations(cur, ["job_title", "company_name"]).count() == 0

    # datamart rebuild over the post-erasure live rows
    live = cur.filter(F.col("expired") == F.lit("9999-12-31").cast("date"))
    counts = rebuild_datamart(live, str(tmp_path / "dm"))
    served = serve_datamart(spark, str(tmp_path / "dm"))
    pdf = served["agg_job_by_company"]
    assert dict(zip(pdf.company_name, pdf.total_jobs)) == {"Beta": 1}

    st = {
        (r["process"], str(r["run_date"])): r["status"]
        for r in led.latest_status().collect()
    }
    assert st[("erasure_request", str(D2))] == "Success"


# two sources; blank job ids and titles are dropped by the extract filter
DAILY_FEED = {
    D1: {
        "topcv_jobs": [
            ("t1", "Dev", "ACME", "10 - 15 triệu"), ("g1", "QA", "Beta", "Tới 20 triệu"),
            ("t2", "Ops", "ACME", "Thỏa thuận"), ("", "Ghost", "ACME", "x"),
            ("  ", "Blank", "Beta", "x"), ("t7", "", "Beta", "x"),
        ],
        "jobsgo_jobs": [("j1", "PM", "Gamma", "Trên 25 triệu"), ("j2", "BA", "Gamma", "")],
    },
    D2: {
        "topcv_jobs": [
            ("t1", "Dev", "ACME", "Trên 25 triệu"), ("t9", "Intern", "ACME", "Thỏa thuận"),
            ("", "Ghost", "ACME", "x"),
        ],
        "jobsgo_jobs": [("j1", "PM", "Gamma", "Trên 25 triệu"), ("j3", "QC", "Delta", "")],
    },
}


def _daily_setup(tmp_path):
    from data_warehouse_nhom8_spark.pipeline.config import EngineConfig

    cfg = EngineConfig(
        bronze_path=str(tmp_path / "bronze"),
        staging_path=str(tmp_path / "staging"),
        warehouse_path=str(tmp_path / "warehouse"),
        datamart_path=str(tmp_path / "dm"),
        ledger_path=str(tmp_path / "ledger"),
    )
    conns = {
        src: (lambda s, d: connector_for(DAILY_FEED[d][s])(s, d)) for src in DAILY_FEED[D1]
    }
    return cfg, conns


def _assert_report_matches_tables(spark, cfg, day, report):
    """Every count the daily run reported or ledgered equals a re-read
    of what it wrote."""
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_read

    bronze = read_day(spark, cfg.bronze_path, day)
    extracted = {src: bronze.filter(F.col("source") == src).count() for src in DAILY_FEED[day]}
    for src, n in report["extract"].items():
        assert n == extracted[src], src
    assert report["staging_rows"] == snapshot_read(spark, cfg.staging_path).count()
    wh = snapshot_read(spark, cfg.warehouse_path)
    assert report["warehouse_rows"] == wh.count()
    for name, n in report["datamart"].items():
        assert n == spark.read.parquet(f"{cfg.datamart_path}/{name}").count(), name
    ledgered = {
        r["process"]: r["rows_processed"]
        for r in RunLedger(spark, cfg.ledger_path).latest_status().collect()
        if r["run_date"] == day
    }
    m = merge_metrics(wh, day)
    assert ledgered["load_to_wh"] == m["expired_today"] + m["inserted_today"]
    for src, n in extracted.items():
        assert ledgered[f"extract_{src}"] == n, src


def test_daily_counts_are_observed_on_the_writes(spark, tmp_path):
    """The daily run's counts come from observations on its writes; they
    equal a count or merge_metrics of the re-read tables on both days
    and on a rerun whose merge the ledger gate skips."""
    from data_warehouse_nhom8_spark.pipeline.daily import run_daily_pipeline

    cfg, conns = _daily_setup(tmp_path)
    r1 = run_daily_pipeline(spark, cfg, conns, D1)
    assert r1["extract"] == {"topcv_jobs": 3, "jobsgo_jobs": 2}  # 3 blank-key rows dropped
    _assert_report_matches_tables(spark, cfg, D1, r1)

    r2 = run_daily_pipeline(spark, cfg, conns, D2)
    assert r2["extract"] == {"topcv_jobs": 2, "jobsgo_jobs": 2}
    assert r2["warehouse_rows"] == 9  # 5 day-1 versions + 4 day-2 inserts (t1, j1 re-versioned)
    _assert_report_matches_tables(spark, cfg, D2, r2)

    r3 = run_daily_pipeline(spark, cfg, conns, D2)  # merge skipped by the gate
    assert r3["extract"] == {}
    assert r3["warehouse_rows"] == r2["warehouse_rows"]
    _assert_report_matches_tables(spark, cfg, D2, r3)


def test_daily_spark_jobs_pinned(spark, tmp_path, monkeypatch):
    """Day 2's Spark jobs, counted from the status store: only the data
    writes launch jobs — none inside a RunLedger method and no
    DataFrame.count. Counters only, never seconds."""
    from data_warehouse_nhom8_spark.pipeline.daily import run_daily_pipeline

    cfg, conns = _daily_setup(tmp_path)
    run_daily_pipeline(spark, cfg, conns, D1)

    sc = spark.sparkContext
    tag = f"pin-{uuid.uuid4().hex[:8]}"

    def in_group(fn, group):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, group)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)

        return wrapper

    for name, fn in list(vars(RunLedger).items()):
        if inspect.isfunction(fn):
            monkeypatch.setattr(RunLedger, name, in_group(fn, f"{tag}-ledger"))
    df_cls = type(spark.range(1))
    monkeypatch.setattr(df_cls, "count", in_group(df_cls.count, f"{tag}-count"))
    sc.setJobGroup(f"{tag}-day", "day 2")
    try:
        run_daily_pipeline(spark, cfg, conns, D2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {
        g: len(sc.statusTracker().getJobIdsForGroup(f"{tag}-{g}"))
        for g in ("day", "ledger", "count")
    }
    assert jobs["ledger"] == 0, jobs
    assert jobs["count"] == 0, jobs
    assert 0 < sum(jobs.values()) <= 40, jobs
