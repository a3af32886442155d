"""Shared plumbing for the benchmark: paths, the Spark session, resource
probes, percentiles, the environment stamp and the result line.

Everything the benchmark writes lives under the checkout root:
``.perfbench_work/`` (per-run scratch, removed when the run ends) and
``.perfbench_out/`` (span dumps of traced runs).
"""

from __future__ import annotations

import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.001")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")

# Every end-to-end metric, with its unit. Each workload reports all of
# them; what an "op" and an "item" are differs per workload (README.md).
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "driver_mem_mb": "MB",
    "disk_mb": "MB",
}


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def prepare_env(work: str) -> None:
    """Point every temp and spill location inside the checkout and pin
    the engine's core count to the cores this process may use before
    pyspark is imported."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, trace: bool, shuffle_partitions: int | None = None,
                extra: dict | None = None):
    """The engine's own session factory on local[nproc]; returns
    (spark, seconds spent in get_spark)."""
    from data_warehouse_nhom8_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        **(extra or {}),
    }
    if trace:  # the traced run reads every job and stage record back at the end
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        shuffle_partitions=shuffle_partitions,
        extra_conf=conf,
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def driver_mem_mb(spark) -> float:
    """Memory the driver holds at the end of a run: the JVM heap live
    after full collections, the JVM's non-heap memory in use (metaspace,
    code cache) and the Python process's peak RSS. The JVM's resident
    size is not used: it follows the collector's heap sizing, which
    varies 15-40% run to run, more than the program's use does."""
    # Python proxies in reference cycles pin JVM objects until Python's
    # own collector runs; after that, each JVM collection lets Spark's
    # context cleaner drop blocks whose owners died, which frees more on
    # the next one, so collect until the live heap stops shrinking
    gc.collect()
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    live = mx.getHeapMemoryUsage().getUsed()
    for _ in range(20):
        time.sleep(0.3)
        mx.gc()
        prev, live = live, mx.getHeapMemoryUsage().getUsed()
        if prev - live < 2**20:
            break
    jvm = live + mx.getNonHeapMemoryUsage().getUsed()
    return jvm / 2**20 + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def disk_mb(path: str) -> float:
    """Bytes of regular files under `path` (symlinks not followed)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(root, f))
            if not os.path.islink(os.path.join(root, f)):
                total += st.st_size
    return total / 1e6


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def env_stamp(seed: int, workload: str) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "engine default"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "loadavg_before": list(os.getloadavg()),
    }


class Run:
    """One benchmark invocation: its arguments, scratch dir and tallies."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a failed check is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def median(values: list[float]) -> float:
    return statistics.median(values)


def result_line(run: Run, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )
