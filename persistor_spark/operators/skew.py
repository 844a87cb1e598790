"""Skew mitigation: key salting for hot-key aggregations.

AQE's skew-join split (enabled in session.build_session) handles most skew at
runtime; salting is the *plan-level* tool for the case AQE can't fix — a
groupBy whose single hot key exceeds executor memory.  (SURVEY §4: the
reference never shuffles, so skew is a new concern the Spark engine must own.)

Pattern: two-phase — salt the key into `factor` subkeys, partial-aggregate
per (key, salt), then final-aggregate per key.  The first shuffle spreads the
hot key over `factor` reducers; the second shuffles only
`distinct_keys × factor` rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, factor: int, deterministic_col: str | None = None) -> DataFrame:
    """Add a salt in [0, factor).  Deterministic (hash of a column) when a
    column is given — required for reproducible tests and restart-stable
    streaming; uniform-random otherwise."""
    if deterministic_col is not None:
        salt = F.pmod(F.xxhash64(F.col(deterministic_col)), F.lit(factor)).cast("int")
    else:
        salt = (F.rand() * factor).cast("int")
    return df.withColumn(SALT_COL, salt)


def salted_agg(
    df: DataFrame,
    key_cols: list,
    partial_aggs: list,
    final_aggs: list,
    factor: int = 16,
    deterministic_col: str | None = None,
) -> DataFrame:
    """General two-phase aggregation: `partial_aggs` run per (key, salt),
    `final_aggs` re-combine per key.  Caller pairs them algebraically
    (sum/sum, count/sum, min/min, max/max...)."""
    salted = with_salt(df, factor, deterministic_col)
    partial = salted.groupBy(*key_cols, SALT_COL).agg(*partial_aggs)
    return partial.groupBy(*key_cols).agg(*final_aggs)

