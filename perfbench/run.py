"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Workloads: query_serving, warehouse_daily, corpus_prep (README.md says
why each was chosen and what its ops and items are). Each is a closed
loop from one driver process on local[nproc]: the next op starts only
when the previous one has returned and been checked.

`--trace 0` prints every end-to-end metric; `--trace 1` runs the same
window with spans on and prints every per-layer metric. The last
line of stdout is the JSON result; the lines before it are a readable
summary and the environment stamp.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

# the workloads BENCHMARK.json lists; corpus_prep runs only on request
WORKLOADS = ("query_serving", "warehouse_daily")
EXTRA_WORKLOADS = ("corpus_prep",)


def _workload(name: str):
    if name == "query_serving":
        from perfbench.wl_query import QueryServing

        return QueryServing
    if name == "warehouse_daily":
        from perfbench.wl_daily import Daily

        return Daily
    from perfbench.wl_corpus import CorpusPrep

    return CorpusPrep


def window(run: common.Run, w) -> tuple[list[float], int]:
    """Closed loop: ops back to back until `run.seconds` of op time, in
    whole rounds (a round is two passes over the served set for
    query_serving, one op elsewhere)."""
    times: list[float] = []
    items = 0
    rnd = getattr(w, "round", 1)
    while sum(times) < run.seconds or len(times) % rnd:
        dt, n = w.op()
        times.append(dt)
        items += n
    return times, items


def run_one(run: common.Run) -> tuple[dict, dict]:
    """Returns (metrics, extra info for the summary)."""
    common.prepare_env(run.work)
    try:
        import data_warehouse_nhom8_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: engine package not importable from {common.ROOT}: {e}")

    stamp = common.env_stamp(run.seed, run.workload)
    cls = _workload(run.workload)
    session_args = getattr(cls, "session_args", None)
    spark, session_s = common.start_spark(run.work, run.trace,
                                          **(session_args() if session_args else {}))
    info = {"env": stamp, "session_s": session_s}
    try:
        w = cls(run, spark)
        stamp["size"] = w.size
        setups = [w.setup(k) for k in range(w.setup_reps)]
        info["setup_reps_s"] = setups
        t0 = time.perf_counter()
        if hasattr(w, "warm"):
            w.warm()
        info["warmup_s"] = time.perf_counter() - t0
        if hasattr(w, "warm_pass_s"):
            info["warm_pass_s"] = w.warm_pass_s
        if not run.trace:
            times, items = window(run, w)
            fin = w.finish() if hasattr(w, "finish") else 0.0
            metrics = {
                # session start + the median set-up rep + the warm-up
                "setup_s": session_s + common.median(setups) + info["warmup_s"],
                "op_p50_s": common.percentile(times, 50),
                "items_per_s": items / (sum(times) + fin),
                "driver_mem_mb": common.driver_mem_mb(spark),
                "disk_mb": common.disk_mb(w.output_root()),
            }
            rnd = getattr(w, "round", 1)
            info.update(ops=len(times), items=items, finish_s=fin,
                        round_s=[sum(times[i:i + rnd]) for i in range(0, len(times), rnd)])
        else:
            from perfbench.layers import traced_window

            metrics = traced_window(run, spark, w, session_s, window)
    finally:
        stamp["loadavg_after"] = list(os.getloadavg())
        common.stop_spark(spark)
    return metrics, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, *EXTRA_WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if a.workload == "all":
        return run_all(a)

    run = common.Run(a.workload, a.seed, a.seconds, bool(a.trace))
    try:
        metrics, info = run_one(run)
    finally:
        run.cleanup()
    from perfbench.layers import PER_LAYER

    units = {**common.END_TO_END, **{k: u for k, (u, _moves) in PER_LAYER.items()}}
    print(f"perfbench env {json.dumps(info.pop('env'))}")
    print(f"perfbench info {json.dumps(info)}")
    for k, v in metrics.items():
        print(f"  {k:58s} {v:14.6g} {units[k]}")
    print(f"  {'failed_ratio':58s} {run.failed / max(run.attempted, 1):14.6g} ({run.failed} of {run.attempted})")
    if run.failures:
        print("perfbench failures:", *run.failures, sep="\n  ")
    print(common.result_line(run, {k: (v, units[k]) for k, v in metrics.items()}))
    return 0


def run_all(a) -> int:
    """Every workload in its own process; one summary with every metric."""
    merged: dict = {}
    attempted = failed = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=common.ROOT)
        lines = out.stdout.strip().splitlines()
        print(f"== {name}")
        print("\n".join(lines[:-1]))
        if out.returncode != 0 or not lines:
            print(f"{name} exited {out.returncode}")
            return 1
        res = json.loads(lines[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        merged.update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": merged}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
