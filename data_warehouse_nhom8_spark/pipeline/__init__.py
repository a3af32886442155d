"""Pipeline composites: the reference's ELT flows re-expressed as
single Catalyst plans + a parquet-backed run ledger."""

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def count_on_write(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with a row-count observation attached. Write the returned
    frame, then read the count as `obs.get["rows"]`: the write's own
    final stage counts the rows, so no job re-reads what it wrote.
    `get` blocks until an action consumes the frame — call it only
    after the write."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs
