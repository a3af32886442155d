"""corpus_prep: ledger-gated corpus preparation runs, closed loop.

One op = one `run_corpus_prep` over a fresh generated batch of documents
with every curation stage on: source cap, decontamination against a
seeded `benchmark_gram_store`, quality gate, unigram surprisal, span
dedup and chunking. Set-up = fitting the benchmark gram store, repeated
into fresh paths. There is no warm-up run: corpus preparation runs as
a batch job in a fresh process, so it pays for compiling its plans on
every run, and a warm-up run (~20 s) does not fit the run budget. The
timed prep run is the session's first. Items = input documents.
"""

from __future__ import annotations

import datetime
import os
import time

from perfbench import common
from perfbench.gen import CorpusGen, fixture_vocab
from perfbench.layers import checking

DOCS_PER_BATCH = 1000
CHUNK_TOKENS, STRIDE = 128, 64
BASE_DAY = datetime.date(2025, 6, 1)


def _write_parquet(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), path)


def expected_chunk_tokens(n_tokens: int, chunk: int = CHUNK_TOKENS, stride: int = STRIDE) -> int:
    """Tokens across all sliding windows of one document."""
    return sum(min(chunk, n_tokens - s) for s in range(0, n_tokens, stride))


class CorpusPrep:
    setup_reps = 2

    def __init__(self, run, spark):
        self.run = run
        self.spark = spark
        self.tr = None
        self.gen = CorpusGen(run.seed, fixture_vocab(os.path.join(common.DATA_DIR, "documents.parquet")),
                             DOCS_PER_BATCH)
        self.root = os.path.join(run.work, "corpus")
        self.inputs = os.path.join(run.work, "corpus_in")
        self.batch = 0
        _write_parquet(self.gen.benchmark, os.path.join(self.inputs, "benchmark.parquet"))
        self.store = None
        self.size = {"docs_per_batch": DOCS_PER_BATCH}

    def setup(self, k: int) -> float:
        """Fit the benchmark gram store into a fresh path."""
        from data_warehouse_nhom8_spark.operators.corpus import benchmark_gram_store

        bench = self.spark.read.parquet(os.path.join(self.inputs, "benchmark.parquet"))
        self.store = os.path.join(self.root, f"bench_grams{k}")
        t0 = time.perf_counter()
        benchmark_gram_store(bench, self.store, gram_w=8)
        return time.perf_counter() - t0

    def op(self) -> tuple[float, int]:
        from data_warehouse_nhom8_spark.pipeline.corpus_prep import run_corpus_prep
        from data_warehouse_nhom8_spark.pipeline.ledger import RunLedger

        b = self.batch
        self.batch += 1
        rows, planted = self.gen.batch(b)
        path = os.path.join(self.inputs, f"batch{b}.parquet")
        _write_parquet(rows, path)
        docs = self.spark.read.parquet(path)
        ledger = RunLedger(self.spark, os.path.join(self.root, "ledger"))
        t0 = time.perf_counter()
        report = run_corpus_prep(
            self.spark, docs, os.path.join(self.root, "out"), BASE_DAY + datetime.timedelta(days=b),
            ledger=ledger,
            chunk_tokens=CHUNK_TOKENS, stride=STRIDE,
            source_cap=DOCS_PER_BATCH // CorpusGen.N_SOURCES,
            max_surprisal_bits=10.0,
            max_span_dup_fraction=0.5,
            bench_grams=self.store,
            max_cont_fraction=0.5,
        )
        dt = time.perf_counter() - t0
        self._check(b, report, planted)
        return dt, len(rows)

    def _check(self, b: int, report: dict, planted: dict) -> None:
        from pyspark.sql import functions as F

        from data_warehouse_nhom8_spark.sources.snapshots import snapshot_read

        out = os.path.join(self.root, "out")
        with checking(self.tr):
            corpus = snapshot_read(self.spark, f"{out}/corpus")
            docs = corpus.select("doc_id", "n_tokens", F.md5("text").alias("h")).collect()
            chunk_tokens = snapshot_read(self.spark, f"{out}/chunks").agg(
                F.sum("n_tokens").alias("t")).collect()[0]["t"] or 0
        ids = {r["doc_id"] for r in docs}
        dup_survivors = [g for g in planted["dup_groups"].values() if len(ids.intersection(g)) > 1]
        self.run.check(
            bool(docs) and len({r["h"] for r in docs}) == len(docs) and not dup_survivors
            and report.get("corpus_rows") == len(docs),
            f"batch {b}: exact duplicates survived ({len(dup_survivors)} planted groups)",
        )
        want = sum(expected_chunk_tokens(r["n_tokens"]) for r in docs)
        self.run.check(chunk_tokens == want, f"batch {b}: chunk tokens {chunk_tokens} != {want}")

    def output_root(self) -> str:
        return self.root

    # ---- traced run -----------------------------------------------------
    def install(self, tr) -> None:
        import data_warehouse_nhom8_spark.operators.corpus  # noqa: F401
        import data_warehouse_nhom8_spark.operators.span_dedup  # noqa: F401
        import data_warehouse_nhom8_spark.operators.text  # noqa: F401
        import data_warehouse_nhom8_spark.pipeline.corpus_prep  # noqa: F401

        self.tr = tr
        for mod, fn in (
            ("pipeline.corpus_prep", "run_corpus_prep"),
            ("pipeline.corpus_prep", "prepare_corpus_df"),
            ("operators.corpus", "per_source_cap"),
            ("operators.corpus", "decontaminate_gate"),
            ("operators.corpus", "chunk_documents"),
            ("operators.text", "unigram_surprisal_scores"),
            ("operators.span_dedup", "filter_span_duplicates"),
        ):
            tr.wrap_function(f"data_warehouse_nhom8_spark.{mod}", fn)
