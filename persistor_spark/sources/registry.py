"""Fixture-table loaders for the driver's parquet tables (TESTDATA.md).

All reads go through here so the ns-timestamp quirk is handled in exactly one
place: the driver's parquet carries TIMESTAMP(NANOS) columns which Spark only
reads under ``spark.sql.legacy.parquet.nanosAsLong=true`` (set in
session.build_session); we convert the resulting long back to a microsecond
TIMESTAMP, which is lossless here because the fixture data is µs-precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_session_conf(spark: SparkSession) -> None:
    """Defensive conf for sessions we didn't build (e.g. the driver's):
    ns-timestamp parquet needs the legacy long read, and oracle hash parity
    assumes UTC.  Both are runtime-settable SQL confs."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # a foreign session on Spark's 200-partition default wastes task
        # overhead at fixture scale; leave any explicit setting alone
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:  # noqa: BLE001 — immutable conf => session already ok
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing any ns-long timestamp columns."""
    _ensure_session_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if isinstance(field.dataType, T.LongType) and field.metadata.get("__is_nanos"):
            df = df.withColumn(field.name, _nanos_to_ts(field.name))
    # Schema metadata isn't preserved by the reader for the legacy nanos path;
    # fall back to known ns columns per table.
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", _nanos_to_ts("ts"))
    return df


def _nanos_to_ts(col: str):
    # Integer `div`, not `/`: float division rounds half-up at the µs
    # boundary while DuckDB (and parquet readers generally) truncate ns→µs.
    return F.timestamp_micros(F.expr(f"`{col}` div 1000"))


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (mirrors the DuckDB oracle's
    pre-registered views)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
