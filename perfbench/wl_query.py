"""query_serving: the oracled query registry served warm, closed loop.

One op = one `plans.QUERIES[name](spark, dir)` build plus its Arrow
fetch, against the production bucketed fixture built from the bundled
sf0.001 tables by `sources.testdata.build_bucketed_fixture`. The served
set is every tenth oracled query in name order plus the queries that
reach the corpus operators (the whole registry does not fit the run
budget); each pass runs it in an order shuffled by the seed, and the
timed window is whole rounds of four passes. Set-up = the fixture build,
repeated into fresh directories, then the warm-up: one cold pass (it
compiles the plans and fits the stores the served queries memoize) and
one warm pass. Every result is hashed against its DuckDB twin in
`plans.ORACLES`. Items = queries.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import random
import time

from perfbench import common
from perfbench.layers import checking
from perfbench.trace import covered

TABLES = ("region nation customer supplier part orders lineitem events documents embeddings").split()


# the served queries that reach the corpus operators (chunking, source
# cap, unigram surprisal), so those layers are measured here too
CORPUS_QUERIES = ("q56_doc_chunking", "q99_unigram_surprisal", "q100_source_cap")


def served_queries() -> list[str]:
    from data_warehouse_nhom8_spark.plans import ORACLES, QUERIES

    oracled = sorted(n for n in QUERIES if n in ORACLES)
    return sorted({*oracled[::10], *(n for n in CORPUS_QUERIES if n in ORACLES)})


def canon(v) -> str:
    """Type-tagged canonical text of one value (scripts/verify_oracle.py's
    byte-strict form; tz-aware timestamps compare as naive UTC and maps
    as key/value pairs, so Arrow and DuckDB results share one form)."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, dict):
        v = list(v.items())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def value_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1d" + line.encode())
    return h.hexdigest()


def arrow_hash(tbl) -> str:
    return value_hash(tbl.column_names, list(zip(*(c.to_pylist() for c in tbl.columns))))


def oracle_hashes(names: list[str], data_dir: str) -> dict[str, str]:
    import duckdb

    from data_warehouse_nhom8_spark.plans import ORACLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for n in names:
            cur = con.execute(ORACLES[n])
            out[n] = value_hash([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def plan_nodes(jdf) -> dict[str, int]:
    """Exchange / SortMergeJoin / BroadcastHashJoin nodes of the executed
    plan (the final plan when adaptive execution re-planned)."""
    text = jdf.queryExecution().executedPlan().toString()
    if "Final Plan" in text:
        text = text.split("Final Plan", 1)[1].split("Initial Plan", 1)[0]
    lines = [ln.lstrip(" +-:*(0123456789)") for ln in text.splitlines()]
    return {
        "exchange": sum(ln.startswith(("Exchange", "ShuffleExchange")) for ln in lines),
        "smj": sum(ln.startswith("SortMergeJoin") for ln in lines),
        "bhj": sum(ln.startswith("BroadcastHashJoin") for ln in lines),
    }


class QueryServing:
    setup_reps = 3
    # the cold pass and the next warm one. Pass totals keep falling for
    # four more passes (on a 4-core box 12.0, 4.2, 4.0, 3.6, 3.3, 3.0,
    # 2.8, 3.0 s), but those would cost 15-20 s a run, more than the
    # budget of 22 runs per workload within the hour leaves
    warm_passes = 2

    @staticmethod
    def session_args() -> dict:
        from data_warehouse_nhom8_spark.session import auto_aqe, auto_shuffle_partitions

        return {
            "shuffle_partitions": auto_shuffle_partitions(common.DATA_DIR),
            "extra": {"spark.sql.adaptive.enabled": str(auto_aqe(common.DATA_DIR)).lower()},
        }

    def __init__(self, run, spark):
        self.run = run
        self.spark = spark
        self.tr = None
        self.names = served_queries()
        self.rng = random.Random(f"{run.seed}:query_order")
        self.queue: list[str] = []
        # the timed window is whole rounds of four passes (~13 s on a
        # 4-core box): the machine's speed swings within seconds, and a
        # two-pass window left a 22% run-to-run spread
        self.round = 4 * len(self.names)
        self.size = {"served_queries": len(self.names)}
        self.warm_pass_s: list[float] = []
        self.fixture_s: list[float] = []
        self.dir = None
        self.oracle = oracle_hashes(self.names, common.DATA_DIR)

    def setup(self, k: int) -> float:
        """Build the bucketed fixture into a fresh dir. The served
        queries fit their session-memoized stores lazily, in the warm-up
        pass."""
        from data_warehouse_nhom8_spark.sources.testdata import build_bucketed_fixture

        self.dir = os.path.join(self.run.work, f"fixture{k}")
        t0 = time.perf_counter()
        build_bucketed_fixture(self.spark, common.DATA_DIR, self.dir)
        self.fixture_s.append(time.perf_counter() - t0)
        return self.fixture_s[-1]

    def warm(self) -> None:
        """Untimed passes: the cold one, then warm ones."""
        for _ in range(self.warm_passes):
            self.warm_pass_s.append(sum(self.op()[0] for _ in self.names))

    def op(self) -> tuple[float, int]:
        from data_warehouse_nhom8_spark.plans import QUERIES

        if not self.queue:
            self.queue = list(self.names)
            self.rng.shuffle(self.queue)
        name = self.queue.pop()
        tr = self.tr
        t0 = time.perf_counter()
        try:
            if tr is None:
                tbl = QUERIES[name](self.spark, self.dir).toArrow()
            else:
                with tr.span("query", query=name):
                    with tr.span("plans.build") as b:
                        df = QUERIES[name](self.spark, self.dir)
                    with tr.span("spark.execute") as x:
                        tbl = df.toArrow()
            dt = time.perf_counter() - t0
        except Exception as e:  # a failed query counts against its latency too
            self.run.check(False, f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return time.perf_counter() - t0, 0
        if tr is not None:
            with checking(tr):
                x.attrs["catalyst"] = _catalyst_intervals(df, tr)
                b.attrs.update(query=name, **plan_nodes(df._jdf))
        with checking(tr):
            got = arrow_hash(tbl)
        self.run.check(got == self.oracle[name], f"{name}: value hash differs from its DuckDB twin")
        return dt, 1

    def output_root(self) -> str:
        return self.dir

    # ---- traced run -----------------------------------------------------
    def install(self, tr) -> None:
        """Besides the query spans, the corpus operators the served
        queries reach get their own spans."""
        import data_warehouse_nhom8_spark.operators.corpus  # noqa: F401
        import data_warehouse_nhom8_spark.operators.text  # noqa: F401

        self.tr = tr
        for mod, fn in (
            ("operators.corpus", "per_source_cap"),
            ("operators.corpus", "chunk_documents"),
            ("operators.text", "unigram_surprisal_scores"),
        ):
            tr.wrap_function(f"data_warehouse_nhom8_spark.{mod}", fn)

    def layer_metrics(self, tr, jobs, selfs, n_ops) -> dict:
        builds = [s for s in tr.spans if s.name == "plans.build" and "query" in s.attrs]
        execs = [s for s in tr.spans if s.name == "spark.execute" and "catalyst" in s.attrs]
        first: dict[str, object] = {}
        for b in builds:
            first.setdefault(b.attrs["query"], b)
        distinct = list(first.values())

        catalyst = fetch = 0.0
        for x in execs:
            # Catalyst phases and Spark jobs that ran inside the execute
            # span; the rest of it is result fetch and Python-side work
            phases = x.attrs["catalyst"]
            busy = phases + [(r["start"], r["end"]) for r in jobs.get(x.sid, []) if r["start"] and r["end"]]
            catalyst += covered(phases, x.start, x.end)
            fetch += (x.end - x.start) - covered(busy, x.start, x.end)
        m = {
            "plans.build_s": sum(b.end - b.start for b in builds) / n_ops,
            "plans.py4j_calls": sum(b.py4j for b in distinct) / len(distinct),
            "spark.catalyst_s": catalyst / n_ops,
            "spark.fetch_s": fetch / n_ops,
            "sources.testdata.build_bucketed_fixture_s": common.median(self.fixture_s),
        }
        for key in ("exchange", "smj", "bhj"):
            m[f"spark.{key}_nodes"] = sum(b.attrs[key] for b in distinct) / len(distinct)
        return m


def _catalyst_intervals(df, tr) -> list[tuple[float, float]]:
    """The optimization and planning phases of the QueryExecution
    tracker, on the spans' clock. Analysis is left out: PySpark runs it
    eagerly while the DataFrame is built, inside `plans.build`."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = []
    for name in ("optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            p = p.get()
            out.append((tr.from_epoch_ms(p.startTimeMs()), tr.from_epoch_ms(p.endTimeMs())))
    return out
