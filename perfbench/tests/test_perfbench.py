"""The benchmark's own tests: generator determinism, metric names, span
self-time arithmetic, result hashing, and a tiny smoke of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.gen import CorpusGen, JobFeed, fixture_vocab  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.trace import Span, covered, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _feed_days(seed: int, n: int) -> list:
    feed = JobFeed(seed, 200)
    return [feed.next_day() for _ in range(n)], feed.expected


def test_job_feed_is_deterministic_per_seed():
    a, ea = _feed_days(7, 4)
    b, eb = _feed_days(7, 4)
    c, _ = _feed_days(8, 4)
    assert json.dumps(a, default=str) == json.dumps(b, default=str)
    assert ea == eb
    assert json.dumps(a, default=str) != json.dumps(c, default=str)


def test_job_feed_churn_and_stable_posting_dates():
    feed = JobFeed(3, 400)
    _d0, day0 = feed.next_day()
    d1, day1 = feed.next_day()
    assert feed.expected[0] == {"expired_today": 0, "inserted_today": 800}
    # per source: 5% of 400 gone, 10% of the rest changed, 5% of 400 new
    assert feed.expected[1] == {"expired_today": 2 * 38, "inserted_today": 2 * (38 + 20)}

    def resolved(rows, day):
        out = {}
        for r in rows:
            t = r["posted_time"]
            n = 0 if t == "hôm nay" else 1 if t == "hôm qua" else int(t.split()[0])
            out[r["job_id"]] = day - datetime.timedelta(days=n)
        return out

    p0 = resolved(day0["topcv_jobs"], datetime.date.fromisoformat(day0["topcv_jobs"][0]["extracted_date"]))
    p1 = resolved(day1["topcv_jobs"], d1)
    assert all(p1[j] == p0[j] for j in p1.keys() & p0.keys())


def test_corpus_batches_are_deterministic_per_seed():
    vocab = fixture_vocab(os.path.join(common.DATA_DIR, "documents.parquet"))
    a = CorpusGen(5, vocab, 300).batch(2)
    b = CorpusGen(5, vocab, 300).batch(2)
    c = CorpusGen(6, vocab, 300).batch(2)
    assert a == b
    assert a != c
    docs, planted = a
    assert len(docs) == 300 and len({d["doc_id"] for d in docs}) == 300
    assert planted["dup_groups"] and planted["contaminated"]


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == common.END_TO_END
    assert layer == {k: v[0] for k, v in PER_LAYER.items()}
    for name in [*e2e, *layer, *(w["name"] for w in spec["workloads"])]:
        assert NAME.match(name), name
    assert all(v[1] for v in PER_LAYER.values())


def test_self_times_on_hand_built_tree():
    spans = [
        Span(0, "root", None, "r", 0.0, 10.0),
        Span(1, "a", 0, "r", 1.0, 4.0),
        Span(2, "a.child", 1, "r", 2.0, 3.0),
        Span(3, "b", 0, "r", 5.0, 9.0),
        Span(4, "b.x", 3, "r", 5.0, 7.0),
        Span(5, "b.y", 3, "r", 6.0, 8.5),  # overlaps b.x: union counts once
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 0.5, 4: 2.0, 5: 2.5})
    # the non-overlapping part of the tree adds up to the root's duration
    assert st[0] + st[1] + st[2] + st[3] + 3.5 == pytest.approx(10.0)


def test_covered_clips_and_merges_intervals():
    # (0,2) and (1,3) merge to (0,3), clipped to (0.5,3); (5,6) clips to (5,5.5)
    assert covered([(5.0, 6.0), (0.0, 2.0), (1.0, 3.0)], 0.5, 5.5) == pytest.approx(3.0)
    assert covered([(7.0, 8.0)], 0.0, 5.0) == 0.0
    assert covered([], 0.0, 1.0) == 0.0


def test_result_hash_matches_across_arrow_and_duckdb_forms():
    from perfbench.wl_query import value_hash

    utc = datetime.timezone.utc
    arrow_rows = [(datetime.datetime(2024, 1, 2, 3, tzinfo=utc), [("k", 1)], 1.5)]
    duck_rows = [(datetime.datetime(2024, 1, 2, 3), {"k": 1}, 1.5)]
    assert value_hash(["t", "m", "x"], arrow_rows) == value_hash(["t", "m", "x"], duck_rows)
    assert value_hash(["a", "b"], [(1, 2), (3, 4)]) == value_hash(["b", "a"], [(4, 3), (2, 1)])
    assert value_hash(["a"], [(1,)]) != value_hash(["a"], [(1.0,)])


# the smoke shrinks the generated inputs in-process, before the run starts
SMOKE = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, wl_corpus, wl_daily
wl_daily.PER_SOURCE = 150
wl_corpus.DOCS_PER_BATCH = 300
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("workload", ["query_serving", "warehouse_daily", "corpus_prep"])
def test_tiny_smoke(workload):
    out = subprocess.run(
        [sys.executable, "-c", SMOKE.format(root=ROOT), "--workload", workload, "--seed", "3",
         "--seconds", "0.1", "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    assert out.returncode == 0
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == common.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert json.loads(out.stdout.split("perfbench env ", 1)[1].split("\n", 1)[0])["size"]
