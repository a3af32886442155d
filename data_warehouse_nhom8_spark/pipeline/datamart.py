"""Config-driven datamart rebuild (SURVEY.md §2d A1).

The reference loops over aggregate specs from config.xml:86-123 and,
for each, DROPs + recreates one 2-column table
`(group_col, total_jobs)` via `SELECT {k}, COUNT(*) FROM job GROUP BY
{k}` (reference datamart/load_to_dm.py:104-173).

Engine: the same spec list drives either N independent aggregates
(each a trivial plan) or ONE shared-scan GROUPING SETS plan — at
100 TB the shared scan reads the fact once instead of N times.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_nhom8_spark.pipeline import count_on_write


@dataclass(frozen=True)
class AggSpec:
    """One datamart aggregate (mirrors a <aggregate> element of the
    reference's config.xml)."""

    table_name: str
    group_by: str
    count_alias: str = "total_jobs"


DEFAULT_SPECS = (
    AggSpec("agg_job_by_company", "company_name"),
    AggSpec("agg_job_by_location", "location"),
    AggSpec("agg_job_by_salary", "salary"),
    AggSpec("agg_job_by_experience", "experience_required"),
)


def build_aggregate(fact: DataFrame, spec: AggSpec) -> DataFrame:
    return fact.groupBy(spec.group_by).agg(
        F.count(F.lit(1)).alias(spec.count_alias)
    )


def build_all_shared_scan(fact: DataFrame, specs: tuple[AggSpec, ...] = DEFAULT_SPECS) -> dict[str, DataFrame]:
    """All aggregates from ONE scan via grouping sets + grouping_id,
    split back into per-table DataFrames. Spark plans a single Expand,
    so the fact is read once."""
    keys = [s.group_by for s in specs]
    sets = ", ".join(f"({k})" for k in keys)
    fact.createOrReplaceTempView("__dm_fact")
    wide = fact.sparkSession.sql(
        f"""
        SELECT {', '.join(keys)}, GROUPING_ID({', '.join(keys)}) AS gid,
               COUNT(*) AS total
        FROM __dm_fact GROUP BY GROUPING SETS ({sets})
        """
    )
    out: dict[str, DataFrame] = {}
    n = len(keys)
    for i, s in enumerate(specs):
        # gid bit pattern: all keys aggregated except key i
        gid = (2**n - 1) ^ (2 ** (n - 1 - i))
        out[s.table_name] = (
            wide.filter(F.col("gid") == gid)
            .select(F.col(s.group_by), F.col("total").alias(s.count_alias))
        )
    return out


def apply_change_feed(
    prev_agg: DataFrame, feed: DataFrame, spec: AggSpec
) -> DataFrame:
    """Incremental datamart maintenance from a snapshot change feed —
    the CDC consumer the reference's nightly drop-and-recreate never
    had: instead of rescanning the fact table (S8), fold the day's
    `snapshot_diff(..., emit_update_preimage=True)` feed into the
    existing aggregate. insert/update_postimage rows add one to their
    group; delete/update_preimage rows subtract one from theirs.
    Groups that reach zero are dropped (drop-and-recreate parity:
    a vanished group has no row, not a 0 row).

    At 100 TB this is the difference between a full fact scan per
    aggregate per day and a shuffle of just the changed rows — the
    feed is increment-sized by construction. Equality with a from-
    scratch rebuild is pytest-gated; requires the preimage feed shape
    (a plain 'update' row cannot decrement the group the key left)."""
    # misuse guard (bounded: LIMIT 1 over the increment-sized feed)
    if feed.filter(F.col("_change") == "update").limit(1).count() > 0:
        raise ValueError(
            "apply_change_feed needs emit_update_preimage=True feeds; "
            "a collapsed 'update' row cannot decrement the group the "
            "key moved out of"
        )
    sign = F.when(F.col("_change").isin("insert", "update_postimage"), 1).otherwise(
        -1
    )
    delta = (
        feed.select(F.col(spec.group_by), sign.alias("__d"))
        .groupBy(spec.group_by)
        .agg(F.sum("__d").alias("__delta"))
    )
    return (
        prev_agg.join(delta, on=spec.group_by, how="full_outer")
        .select(
            F.col(spec.group_by),
            (
                F.coalesce(F.col(spec.count_alias), F.lit(0))
                + F.coalesce(F.col("__delta"), F.lit(0))
            ).alias(spec.count_alias),
        )
        .filter(F.col(spec.count_alias) > 0)
    )


def serve_datamart(spark, out_dir: str, specs: tuple[AggSpec, ...] = DEFAULT_SPECS) -> dict:
    """Serving read path (S12): the reference's Flask dashboard reads
    each agg table and renders bar charts (datamart/app.py:36-66). The
    engine serves the same shape — one small pandas frame per table —
    for whatever viz layer sits on top."""
    out = {}
    for s in specs:
        try:
            out[s.table_name] = (
                spark.read.parquet(f"{out_dir}/{s.table_name}")
                .orderBy(F.desc(s.count_alias))
                .toPandas()
            )
        except Exception:
            out[s.table_name] = None  # table not built yet
    return out


def rebuild_datamart(
    fact: DataFrame,
    out_dir: str,
    specs: tuple[AggSpec, ...] = DEFAULT_SPECS,
    shared_scan: bool = True,
) -> dict[str, int]:
    """Drop-and-recreate each aggregate table (S8: overwrite) and
    return row counts for the run ledger, observed on each table's
    write."""
    spark = fact.sparkSession
    if shared_scan:
        # materialize the one Expand pass, then split the (tiny) wide
        # result — without this each per-table filter re-runs the full
        # fact scan, defeating the shared-scan design
        keys = [s.group_by for s in specs]
        sets = ", ".join(f"({k})" for k in keys)
        fact.createOrReplaceTempView("__dm_fact")
        spark.sql(
            f"""
            SELECT {', '.join(keys)}, GROUPING_ID({', '.join(keys)}) AS gid,
                   COUNT(*) AS total
            FROM __dm_fact GROUP BY GROUPING SETS ({sets})
            """
        ).write.mode("overwrite").parquet(f"{out_dir}/_shared_rollup")
        wide = spark.read.parquet(f"{out_dir}/_shared_rollup")
        n = len(keys)
        tables = {}
        for i, s in enumerate(specs):
            gid = (2**n - 1) ^ (2 ** (n - 1 - i))
            tables[s.table_name] = wide.filter(F.col("gid") == gid).select(
                F.col(s.group_by), F.col("total").alias(s.count_alias)
            )
    else:
        tables = {s.table_name: build_aggregate(fact, s) for s in specs}

    counts: dict[str, int] = {}
    for name, df in tables.items():
        df, obs = count_on_write(df)
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
        counts[name] = obs.get["rows"]
    return counts
