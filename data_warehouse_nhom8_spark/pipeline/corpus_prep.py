"""Corpus preparation as a production pipeline job.

The LLM-data twin of the daily warehouse run: the same operational
contract the reference enforces with cron + control-DB logging
(loadtowh/load_to_wh.sh + create_control_db_v5.sql) — ledger-gated
skip-if-done, Running/Success/Failed rows, atomic versioned outputs —
applied to the corpus-prep chain (dedup → quality gate → language ID
→ split → chunk → summary, all from operators/corpus.py and
operators/text.py, the same plans q54–q59 certify against DuckDB).

Outputs under `out_root` (each a versioned snapshot table — atomic
pointer swap, no partial state ever visible to readers):
  corpus/   (doc_id, text, n_tokens, lang_pred, split) — the cleaned,
            split-assigned corpus
  chunks/   (doc_id, chunk_id, n_tokens, chunk_fp) — tokenizer feed
  summary/  (split, lang_pred, n_docs, sum_tokens) — the q58 rollup

Scale: one Catalyst plan start-to-finish per output; the corpus
snapshot is written once and re-read for chunking (lineage cut at the
stored table, the same pattern as staging → warehouse). A failed run
leaves the previous versions live and a Failed ledger row; re-running
the day is a no-op after Success.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_warehouse_nhom8_spark.operators.corpus import chunk_documents, hash_split_col
from data_warehouse_nhom8_spark.operators.text import (
    EN_STOPWORDS,
    add_lang_id,
    exact_dedup,
    token_count_col,
)
from data_warehouse_nhom8_spark.pipeline import count_on_write
from data_warehouse_nhom8_spark.pipeline.ledger import RunLedger
from data_warehouse_nhom8_spark.sources.snapshots import snapshot_overwrite, snapshot_read
from data_warehouse_nhom8_spark.regexes import WS_SPLIT

PROCESS = "corpus_prep"


def prepare_corpus_df(
    docs: DataFrame,
    min_tokens: int = 30,
    min_stop_pct: int = 1,
) -> DataFrame:
    """The declarative corpus-prep plan (q58's chain, kept as one
    reusable expression): exact dedup → integer quality gate
    (n_stop * 100 >= n_tokens * min_stop_pct) → language ID → split."""
    kept = exact_dedup(docs)
    words = F.split(F.lower(F.trim(F.col("text"))), WS_SPLIT)
    scored = kept.select(
        "doc_id",
        "text",
        token_count_col("text").alias("n_tokens"),
        F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS))).cast("long").alias("n_stop"),
    )
    filtered = scored.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_stop") * 100 >= F.col("n_tokens") * min_stop_pct)
    )
    _bucket, split = hash_split_col(F.md5("text"))
    return add_lang_id(filtered).select(
        "doc_id", "text", "n_tokens", "lang_pred", split
    )


def run_corpus_prep(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    run_date: datetime.date,
    ledger: RunLedger | None = None,
    min_tokens: int = 30,
    chunk_tokens: int = 128,
    stride: int = 64,
    source_cap: int | None = None,
    max_surprisal_bits: float | None = None,
    max_span_dup_fraction: float | None = None,
    span_window: int = 20,
    bench_grams: str | None = None,
    decontam_gram_w: int = 8,
    max_cont_fraction: float | None = None,
    html_col: str | None = None,
) -> dict:
    """One ledger-gated corpus-prep run. Returns per-stage counts;
    {"skipped": True} when the day already succeeded.

    Optional curation stages (all default OFF — the certified q58
    chain is unchanged when unset):
      source_cap          — keep at most N docs per source before any
                            other stage (operators.corpus.per_source_cap,
                            salted skew-safe window; q100's operator),
                            so no crawl host dominates the mixture.
      max_surprisal_bits  — after the quality gate, drop docs whose
                            mean unigram surprisal exceeds the bound
                            (operators.text.unigram_surprisal_scores,
                            q99's operator): the cheap statistical
                            gibberish filter — keeps should score LOW.
      max_span_dup_fraction — drop docs whose duplicated-SPAN token
                            fraction exceeds the bound
                            (operators.span_dedup, q110's operator):
                            the boilerplate/verbatim-copy filter that
                            doc-level exact dedup cannot see;
                            `span_window` sets the window length.
      bench_grams         — PATH to a `benchmark_gram_store` output:
                            each doc is decontamination-SCRUBBED
                            (operators.corpus.decontaminate_gate,
                            q116's operator) after HTML extraction
                            and the source cap but BEFORE prep and
                            every quality stage — quality gates and
                            chunking see the clean text. (The cap
                            deliberately runs first: it ranks RAW
                            ingest volume per source; running it on
                            scrubbed survivors would let a heavily
                            contaminated source backfill its quota
                            with docs the gate was about to drop.)
                            `max_cont_fraction` drops
                            past-salvage docs whose removed-token
                            share exceeds the bound (q112 rationale).
                            The store path keeps the daily run from
                            re-digesting an unchanged suite.
      html_col            — name of a raw-HTML column: the run opens
                            with crawl-tier extraction
                            (operators.text.html_text_cols, q117's
                            operator) — `text` is REPLACED by the
                            extracted text and the markup column is
                            dropped, so dedup/decontam/quality see
                            text, never markup. Callers wanting
                            title/link-density features select
                            html_text_cols themselves before the run
                            (prep's projection carries only the
                            certified q58 columns).
    """
    if ledger is not None and ledger.is_done(PROCESS, run_date):
        return {"skipped": True}
    start = datetime.datetime.now()
    log_id = ledger.open_run(PROCESS, run_date) if ledger is not None else None
    try:
        if html_col is not None:
            from data_warehouse_nhom8_spark.operators.text import html_text_cols

            cols = html_text_cols(html_col)
            keep = [c for c in docs.columns if c not in (html_col, "text")]
            docs = docs.select(*keep, cols["text"].alias("text"))
        if source_cap is not None:
            from data_warehouse_nhom8_spark.operators.corpus import per_source_cap

            kept_ids = per_source_cap(
                docs, cap=source_cap, salt_buckets=8
            ).select("doc_id")
            docs = docs.join(kept_ids, "doc_id", "left_semi")
        if bench_grams is not None:
            from data_warehouse_nhom8_spark.operators.corpus import (
                decontaminate_gate,
            )

            docs = decontaminate_gate(
                docs,
                bench_grams=bench_grams,
                gram_w=decontam_gram_w,
                max_cont_fraction=max_cont_fraction,
            )
        corpus = prepare_corpus_df(docs, min_tokens=min_tokens)
        if max_surprisal_bits is not None:
            from data_warehouse_nhom8_spark.operators.text import (
                unigram_surprisal_scores,
            )

            keep = (
                unigram_surprisal_scores(corpus)
                .filter(F.col("avg_bits") <= max_surprisal_bits)
                .select("doc_id")
            )
            corpus = corpus.join(keep, "doc_id", "left_semi")
        if max_span_dup_fraction is not None:
            from data_warehouse_nhom8_spark.operators.span_dedup import (
                filter_span_duplicates,
            )

            corpus = filter_span_duplicates(
                corpus,
                max_dup_fraction=max_span_dup_fraction,
                window=span_window,
            )
        corpus, corpus_obs = count_on_write(corpus)
        snapshot_overwrite(corpus, f"{out_root}/corpus")
        stored = snapshot_read(spark, f"{out_root}/corpus")

        chunks, chunks_obs = count_on_write(
            chunk_documents(stored, chunk_tokens=chunk_tokens, stride=stride)
        )
        snapshot_overwrite(chunks, f"{out_root}/chunks")

        summary, summary_obs = count_on_write(
            stored.groupBy("split", "lang_pred")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("sum_tokens"),
            )
        )
        snapshot_overwrite(summary, f"{out_root}/summary")

        # row counts come from observations on the writes
        report = {
            "corpus_rows": corpus_obs.get["rows"],
            "chunk_rows": chunks_obs.get["rows"],
            "summary_rows": summary_obs.get["rows"],
        }
        if ledger is not None:
            ledger.close_run(
                log_id, PROCESS, run_date, "Success",
                rows_processed=report["corpus_rows"],
                file_path=out_root, start_time=start,
            )
        return report
    except Exception as e:  # ledger Failed row, previous versions stay live
        if ledger is not None:
            ledger.close_run(
                log_id, PROCESS, run_date, "Failed",
                error_message=str(e)[:500], start_time=start,
            )
        raise


def build_training_mix(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    token_budget: int,
    seq_len: int = 512,
    seed: str = "epoch0",
    strata_col: str = "source",
    ledger: RunLedger | None = None,
    run_date: datetime.date | None = None,
) -> dict:
    """Data-recipe materialization — the step after corpus prep: turn
    a cleaned corpus into one epoch's training mix.

    Chain (every piece individually certified): temperature mixture
    weights over the corpus (q97) → weighted document sample sized to
    ~`token_budget` tokens (largest-remainder quotas, the q59/q96
    machinery) → deterministic md5 epoch shuffle (q96; same seed ⇒
    identical mix, new seed ⇒ new order) → per-shard sequence-packing
    manifest in shuffle order (q94).

    Outputs under `out_root` (versioned snapshots): `mix_weights/`,
    `mix_sample/` (sampled docs + shuffle_key), `mix_manifest/`
    (per-(shard, seq) packing rows). Returns a conservation report:
    manifest token totals EQUAL the sample's token totals by
    construction (pytest-gated).

    Scale notes: weights are a dim-sized aggregate; the sample is one
    WindowGroupLimit pass (cap rows per stratum cross the shuffle);
    the packing window partitions by the shard column so parallelism
    = shard count; nothing here scans the corpus more than the two
    passes (stats + sample)."""
    from data_warehouse_nhom8_spark.operators.corpus import (
        deterministic_shuffle_key,
        sequence_packing_manifest,
        temperature_mixture_weights,
        weighted_mixture,
    )

    t0 = datetime.datetime.now()
    run_date = run_date or datetime.date.today()
    log_id = ledger.open_run("training_mix", run_date) if ledger else None
    try:
        weights_df = temperature_mixture_weights(
            docs, token_budget, strata_col=strata_col
        )
        stats = docs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count_col("text")).alias("n_tokens"),
        ).collect()[0]
        if not stats["n_docs"]:
            raise ValueError("empty corpus")
        avg_tokens = stats["n_tokens"] / stats["n_docs"]
        total_rows = max(1, int(token_budget / avg_tokens))
        weights = {r["source"]: r["mix_weight"] for r in weights_df.collect()}

        sampled = weighted_mixture(
            docs, strata_col, weights, total_rows, order_key=F.md5("text")
        )
        shuffled = deterministic_shuffle_key(sampled, seed=seed)
        manifest = sequence_packing_manifest(
            shuffled, seq_len=seq_len, shard_col=strata_col, id_col="shuffle_key"
        )

        # counts and token sums observed on the writes themselves
        sample_obs, man_obs = Observation(), Observation()
        snapshot_overwrite(weights_df, f"{out_root}/mix_weights")
        snapshot_overwrite(
            shuffled.observe(
                sample_obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum(token_count_col("text")).alias("tokens"),
            ),
            f"{out_root}/mix_sample",
        )
        snapshot_overwrite(
            manifest.observe(
                man_obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum("tokens_started").alias("tokens"),
            ),
            f"{out_root}/mix_manifest",
        )
        sample, man = sample_obs.get, man_obs.get
        report = {
            "sampled_docs": sample["rows"],
            "sampled_tokens": int(sample["tokens"] or 0),
            "packed_tokens": int(man["tokens"] or 0),
            "n_sequences": man["rows"],
            "token_budget": token_budget,
        }
        if ledger:
            ledger.close_run(
                log_id, "training_mix", run_date, "Success",
                rows_processed=report["sampled_docs"], start_time=t0,
            )
        return report
    except Exception as e:
        if ledger:
            ledger.close_run(
                log_id, "training_mix", run_date, "Failed",
                error_message=str(e)[:500], start_time=t0,
            )
        raise
