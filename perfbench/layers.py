"""Per-layer metrics of the traced run.

`PER_LAYER` names every per-layer metric with its unit and the
end-to-end metric it should move (README.md has the full mapping).
Every traced run reports all of them; a layer that a workload never
enters reads 0 there. Times and counts are per op of the traced window
unless the name says otherwise; plan counters (py4j calls, plan nodes)
are means over the distinct queries served.
"""

from __future__ import annotations

import contextlib
import os

from perfbench import common
from perfbench.trace import Tracer, self_times

CHECK = "perfbench.check"
MAINTENANCE = "pipeline.daily.run_weekly_maintenance"


def checking(tr):
    """Span for the benchmark's own work inside a traced window (an
    output check, a directory walk; a no-op untraced). Its time is its
    own, and its Spark work is excluded from every layer metric."""
    return tr.span(CHECK) if tr is not None else contextlib.nullcontext()


Q, D, C = "query_serving", "warehouse_daily", "corpus_prep"

SPARK_TOTALS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.task_s": "s",
    "spark.launch_delay_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.count_jobs": "count",
}

# span name -> the per-layer fields reported for it
SPAN_FIELDS = {
    "pipeline.daily.run_daily_pipeline": ("self_s", "jobs"),
    "pipeline.extract.run_all_sources": ("self_s", "jobs", "rows"),
    "sources.snapshots.snapshot_overwrite": ("self_s", "jobs", "bytes_written", "files_written"),
    "sources.snapshots.snapshot_read": ("calls", "self_s"),
    "pipeline.warehouse_load.load_day_to_warehouse": ("self_s", "jobs"),
    "operators.scd2.scd2_merge": ("build_s",),
    "pipeline.datamart.rebuild_datamart": ("self_s", "jobs"),
    "pipeline.ledger.RunLedger": ("self_s", "jobs"),
    "pipeline.corpus_prep.run_corpus_prep": ("self_s", "jobs"),
    "operators.corpus.per_source_cap": ("build_s", "py4j_calls"),
    "operators.corpus.decontaminate_gate": ("build_s", "py4j_calls"),
    "pipeline.corpus_prep.prepare_corpus_df": ("build_s", "py4j_calls"),
    "operators.text.unigram_surprisal_scores": ("build_s", "py4j_calls"),
    "operators.span_dedup.filter_span_duplicates": ("build_s", "py4j_calls"),
    "operators.corpus.chunk_documents": ("build_s", "py4j_calls"),
}
FIELD_UNITS = {"self_s": "s", "build_s": "s", "jobs": "count", "rows": "count",
               "calls": "count", "bytes_written": "bytes", "files_written": "count",
               "py4j_calls": "count"}

# metric-name prefix -> the end-to-end metrics (on which workloads) a
# change in that layer should move; the longest matching prefix wins
MOVES = {
    "trace.": "none: tracing bookkeeping (remainder, wall, overhead)",
    "session.": f"setup_s@{Q},{D}",
    "plans.": f"op_p50_s,items_per_s@{Q}",
    "spark.catalyst_s": f"op_p50_s@{Q}",
    "spark.fetch_s": f"op_p50_s@{Q}",
    "spark.launch_delay_s": f"op_p50_s@{Q}",
    "spark.job_wall_s": f"op_p50_s,items_per_s@{Q},{D}; items_per_s@{C}",
    "spark.task_s": f"op_p50_s,items_per_s@{Q},{D}; items_per_s@{C}",
    "spark.jobs": f"op_p50_s@{Q},{D}; items_per_s@{C}",
    "spark.stages": f"op_p50_s@{Q},{D}; items_per_s@{C}",
    "spark.tasks": f"op_p50_s@{Q},{D}; items_per_s@{C}",
    "spark.exchange_nodes": f"op_p50_s,items_per_s@{Q}",
    "spark.smj_nodes": f"op_p50_s,items_per_s@{Q}",
    "spark.bhj_nodes": f"op_p50_s,items_per_s@{Q}",
    "spark.shuffle_write_bytes": f"op_p50_s@{D}; items_per_s@{C}",
    "spark.spill_bytes": f"op_p50_s@{D}; items_per_s@{C}",
    "spark.count": f"op_p50_s@{D}; items_per_s@{C}",
    "sources.testdata.": f"setup_s@{Q}",
    "sources.snapshots.snapshot_overwrite": f"op_p50_s,disk_mb@{D}; items_per_s@{C}",
    "sources.snapshots.snapshot_read": f"op_p50_s@{D}",
    "pipeline.": f"op_p50_s,items_per_s@{D}",
    "operators.scd2.": f"op_p50_s@{D}",
    "pipeline.daily.run_weekly_maintenance": f"items_per_s,disk_mb@{D}",
    "pipeline.corpus_prep.": f"items_per_s@{C}",
    "operators.": f"items_per_s@{C}",
    # reached by served queries too (q56, q99, q100)
    "operators.corpus.per_source_cap": f"items_per_s@{C}; op_p50_s@{Q}",
    "operators.corpus.chunk_documents": f"items_per_s@{C}; op_p50_s@{Q}",
    "operators.text.unigram_surprisal_scores": f"items_per_s@{C}; op_p50_s@{Q}",
}

_UNITS = {
    "trace.wall_s": "s",
    "trace.unattributed_s": "s",
    "trace.op_p50_s": "s",
    "trace.bookkeeping_s": "s",
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.py4j_calls": "count",
    "spark.catalyst_s": "s",
    "spark.fetch_s": "s",
    "spark.exchange_nodes": "count",
    "spark.smj_nodes": "count",
    "spark.bhj_nodes": "count",
    **SPARK_TOTALS,
    "sources.testdata.build_bucketed_fixture_s": "s",
    **{f"{n}.{f}": FIELD_UNITS[f] for n, fs in SPAN_FIELDS.items() for f in fs},
    "spark.count.self_s": "s",
    "pipeline.daily.run_weekly_maintenance.s": "s",
    "pipeline.daily.run_weekly_maintenance.bytes_rewritten": "bytes",
}


def moves(name: str) -> str:
    return MOVES[max((p for p in MOVES if name.startswith(p)), key=len)]


# every per-layer metric: name -> (unit, what it should move)
PER_LAYER: dict[str, tuple[str, str]] = {k: (u, moves(k)) for k, u in _UNITS.items()}


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _d, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                out[p] = os.path.getsize(p)
    return out


def _written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    new = [p for p in after if p not in before or after[p] != before[p]]
    return sum(after[p] for p in new), len(new)


def install_common(tr: Tracer, spark) -> None:
    """Spans every workload shares: snapshot I/O, the ledger and
    DataFrame.count."""
    import data_warehouse_nhom8_spark.pipeline.ledger as ledger_mod
    import data_warehouse_nhom8_spark.sources.snapshots  # noqa: F401

    # the walks run in child spans, so they stay out of the layer's self time
    def ow_before(s, args, kwargs):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        s.attrs["_path"] = path
        with checking(tr):
            s.attrs["_before"] = _files(path) if path else {}

    def ow_after(s, args, kwargs, res):
        before = s.attrs.pop("_before")
        with checking(tr):
            b, n = _written(before, _files(s.attrs.pop("_path")))
        s.attrs["bytes_written"], s.attrs["files_written"] = b, n

    tr.wrap_function("data_warehouse_nhom8_spark.sources.snapshots", "snapshot_overwrite",
                     before=ow_before, after=ow_after)
    tr.wrap_function("data_warehouse_nhom8_spark.sources.snapshots", "snapshot_read")
    for m in ("open_run", "close_run", "is_done", "runnable"):
        tr.wrap_method(ledger_mod.RunLedger, m, "pipeline.ledger.RunLedger")
    tr.wrap_method(type(spark.range(1)), "count", "spark.count")


def traced_window(run, spark, w, session_s: float, window) -> dict:
    """Run the timed window with spans on; per-layer metrics from it."""
    tr = Tracer(f"{run.workload}-{run.seed}-{os.getpid()}", spark)
    tr.count_py4j()
    install_common(tr, spark)
    w.install(tr)
    root = tr.begin("window")
    try:
        times, _items = window(run, w)
        traced_finish = getattr(w, "traced_finish", None)
        extra = traced_finish(tr) if traced_finish else {}
    finally:
        tr.end(root)
        tr.unpatch()
    n_ops = len(times)
    jobs = tr.spark_records()
    selfs = self_times(tr.spans)

    m = {k: 0.0 for k in PER_LAYER}
    m["trace.wall_s"] = root.end - root.start
    m["trace.unattributed_s"] = selfs[root.sid] / n_ops
    # the traced window sits where an untraced run times its ops, so
    # this over the untraced op_p50_s at the same seed is the overhead
    m["trace.op_p50_s"] = common.percentile(times, 50)
    m["trace.bookkeeping_s"] = tr.bookkeeping_s / n_ops
    m["session.get_spark_s"] = session_s

    # self attribution: a job belongs to the innermost span it ran under;
    # the benchmark's own work is left out of every layer, and the
    # maintenance run (reported on its own) out of the per-op totals
    def skip(sid):
        return tr.excluded(sid, (CHECK, MAINTENANCE))

    for sid, recs in jobs.items():
        if skip(sid):
            continue
        name = tr.spans[sid].name
        for r in recs:
            m["spark.jobs"] += 1
            m["spark.job_wall_s"] += r["wall_s"]
            if name == "spark.count":
                m["spark.count_jobs"] += 1
            if f"{name}.jobs" in m:
                m[f"{name}.jobs"] += 1
            for st in r["stages"]:
                m["spark.stages"] += 1
                m["spark.tasks"] += st["tasks"]
                m["spark.task_s"] += st["task_s"]
                m["spark.launch_delay_s"] += st["launch_delay_s"]
                m["spark.shuffle_write_bytes"] += st["shuffle_write_bytes"]
                m["spark.spill_bytes"] += st["spill_bytes"]
    for s in tr.spans:
        if skip(s.sid):
            continue
        for f in SPAN_FIELDS.get(s.name, ()):
            key = f"{s.name}.{f}"
            if f == "self_s":
                m[key] += selfs[s.sid]
            elif f == "build_s":
                m[key] += s.end - s.start
            elif f == "calls":
                m[key] += 1
            elif f == "py4j_calls":
                m[key] += s.py4j
            elif f in ("rows", "bytes_written", "files_written"):
                m[key] += s.attrs.get(f, 0)
        if s.name == "spark.count":
            m["spark.count.self_s"] += selfs[s.sid]
    per_op = [k for k in m if k.startswith(("spark.", "pipeline.", "operators.", "sources.snapshots"))
              and not k.startswith(MAINTENANCE)]
    for k in per_op:
        m[k] /= n_ops
    if hasattr(w, "layer_metrics"):
        m.update(w.layer_metrics(tr, jobs, selfs, n_ops))
    m.update(extra)

    os.makedirs(common.OUT_ROOT, exist_ok=True)
    tr.dump(os.path.join(common.OUT_ROOT, f"trace-{run.workload}-seed{run.seed}.json"),
            {"per_layer": m, "self_sum_s": sum(selfs.values()), "ops": n_ops})
    if abs(sum(selfs.values()) - m["trace.wall_s"]) > 1e-6:
        raise RuntimeError("span self times do not add up to the traced wall")
    return m
