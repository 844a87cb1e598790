"""As-of temporal join — an operator Spark lacks natively,
expressed as compositions of built-ins (the strategy SURVEY §2.2 prescribes
for reference-missing operators; DuckDB/kdb expose these as ASOF JOIN).

as-of join (backward): for each left row, the single right row with the
largest right_time <= left_time within the same key.

Scalable implementation — the union+window trick, NOT a per-row subquery:
tag both sides, union them, sort within key by (time, side-order), and carry
the latest right row forward with `last_value(ignorenulls)` over rows
UNBOUNDED PRECEDING..CURRENT.  One shuffle on the key, one sort — the same
cost as a sort-merge join, independent of time-skew between the sides.
Inequality-join formulations (left.t >= right.t) degrade to per-key cross
products; this stays linear in rows per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    right_cols: list | None = None,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Backward as-of join: left rows enriched with the most recent right row
    at or before `left_time` (per key); right columns NULL when none exists
    (or when outside `tolerance_seconds`)."""
    right_cols = right_cols or [c for c in right.columns if c not in (key, right_time)]

    l_tag = left.select(
        F.col(key).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),  # right(0) sorts before left(1) at equal times
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(
            right.select(F.struct(*[F.col(c) for c in [right_time, *right_cols]]).alias("s"))
            .schema["s"]
            .dataType.simpleString()
        ).alias("__r"),
    )
    r_tag = right.select(
        F.col(key).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in left.columns]).alias("s"))
            .schema["s"]
            .dataType.simpleString()
        ).alias("__l"),
        F.struct(*[F.col(c) for c in [right_time, *right_cols]]).alias("__r"),
    )
    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn("__match", F.last("__r", ignorenulls=True).over(w)).filter(
        F.col("__side") == 1
    )
    if tolerance_seconds is not None:
        carried = carried.withColumn(
            "__match",
            F.when(
                # unix_timestamp, not cast("long"): TIMESTAMP_NTZ columns
                # (e.g. frames derived from the parquet fixtures) reject a
                # direct BIGINT cast.
                F.unix_timestamp(F.col("__t"))
                - F.unix_timestamp(F.col(f"__match.{right_time}"))
                <= tolerance_seconds,
                F.col("__match"),
            ),
        )
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns]
    out_cols += [F.col(f"__match.{c}").alias(c) for c in [right_time, *right_cols]]
    return carried.select(*out_cols)

