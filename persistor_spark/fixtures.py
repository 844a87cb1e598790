"""Deterministic persistor-model fixtures derived from the driver's ``events``
table (FIXTURES.md; TESTDATA.md).

The driver ships TPC-H-ish tables plus ``events`` but not the persistor tables
(``messages`` / ``index_metadata`` / ``blob_records`` / ``deadletter``), so we
derive them 1:1 from ``events`` exactly as FIXTURES.md §1 prescribes.  The
derivation is written ONCE as portable SQL (runs unchanged in Spark SQL and
DuckDB) so the engine under test and the DuckDB oracle agree by construction;
the oracle CTE text is exported for __spark_entry__.oracle_sql().

Determinism rules (FIXTURES.md §5): no wall-clock, fixed arithmetic on the
dense ``event_id``, explicit window ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from persistor_spark.sources.registry import load_table

# Portable events -> messages projection (FIXTURES.md §1 cardinalities:
# 4 brokers, ~30% null ordering_key, ~40% null business keys, ~20% null
# attr_version, ~5% null publish_time, ingestion_time = ts + 2 min).
MESSAGES_SQL = """
SELECT
  'b' || CAST(event_id % 4 AS STRING)                              AS broker_id,
  'm' || lpad(CAST(event_id AS STRING), 9, '0')                    AS broker_msg_id,
  CASE WHEN event_id % 10 < 3 THEN NULL
       ELSE 'k' || CAST(event_id % 10 AS STRING) END               AS ordering_key,
  'payload-' || CAST(event_id AS STRING) || '-' || event_type      AS payload,
  CASE WHEN event_id % 5 <= 1 THEN NULL
       ELSE 'src' || CAST(user_id % 5 AS STRING) END               AS business_source_key,
  CASE WHEN event_id % 7 <= 2 THEN NULL
       ELSE 'obj' || CAST(event_id % 5 AS STRING) END              AS business_object_key,
  CASE WHEN event_id % 5 = 4 THEN NULL
       ELSE 'v' || CAST(1 + event_id % 3 AS STRING) END            AS attr_version,
  CASE WHEN event_id % 20 = 7 THEN NULL ELSE ts END                AS publish_time,
  ts + INTERVAL 2 MINUTE                                           AS ingestion_time,
  event_id                                                         AS event_seq,
  event_type                                                       AS event_type
FROM events
"""

# Simulated persist-failure predicate (~1.2% of messages): these rows take the
# dead-letter path in the fixture pipeline, mirroring the reference's
# writer-failure injection tests (persistor handler_test.go:519-645).
DEADLETTER_PRED_SQL = "event_seq % 83 = 13"


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def load_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> messages DataFrame (MESSAGE_SCHEMA), incl. the attributes map.

    The scalar projection is the shared portable SQL; the MAP<STRING,STRING>
    attribute column (not portably expressible) is layered on top for the
    Spark-side pipeline only — oracle queries never select raw maps
    (FIXTURES.md §5).
    """
    load_events(spark, sf_dir).createOrReplaceTempView("events")
    scalar = spark.sql(MESSAGES_SQL)
    # Attribute map as the broker would deliver it: user metadata plus the
    # promoted business keys when present (sender.go:136-160 deletes the
    # promoted keys again at index-build time — exercised by plans.ingest).
    entries = []
    from persistor_spark.schemas import PROMOTED_ATTRIBUTE_KEYS

    # the SAME tuple keys.py strips at index-build time — hardcoding it here
    # would silently stop exercising the promotion/demotion round trip for
    # any key added to the schema constant
    for key in PROMOTED_ATTRIBUTE_KEYS:
        entries.append(
            F.when(F.col(key).isNotNull(), F.struct(F.lit(key).alias("k"), F.col(key).alias("v")))
        )
    entries.append(F.struct(F.lit("event_type").alias("k"), F.col("event_type").alias("v")))
    attrs = F.map_from_entries(F.filter(F.array(*entries), lambda e: e.isNotNull()))
    return scalar.withColumn("attributes", attrs)


def fixture_ingest_config():
    """IngestConfig matching the oracle CTEs: deterministic clock =
    ingestion_time, gs://persistor-bucket/msg/<y>/<m>/<d>/<version>/ layout."""
    from persistor_spark.config import IngestConfig, StorageConfig

    return IngestConfig(
        storage=StorageConfig(
            scheme="gs",
            bucket="persistor-bucket",
            prefix="msg",
            mask=("year", "month", "day"),
            extension="avro",
        ),
        version_keys=("attr_version",),
        clock_column="ingestion_time",
        indexer_clock_skew_s=60,
    )


def run_fixture_ingest(spark: SparkSession, sf_dir: str, persist_intermediate: bool = False):
    """events -> messages -> full ingest via the real engine pipeline, with
    the deterministic ~1.2% failure injection the oracle CTEs expect.

    Returns plans.ingest.IngestResult (blob_records / index_metadata /
    deadletter DataFrames).
    """
    from persistor_spark.plans import ingest

    messages = load_messages(spark, sf_dir)
    seq3 = F.col("event_seq") % 3
    return ingest.run_batch(
        messages,
        fixture_ingest_config(),
        # the ONE failure predicate, shared with the DuckDB oracle CTEs
        # (oracle.py builds on DEADLETTER_PRED_SQL) — retuning the constant
        # must move both engines together
        failure=F.expr(DEADLETTER_PRED_SQL),
        failure_category=(
            F.when(seq3 == 0, F.lit(ingest.DL_CATEGORY_STORAGE))
            .when(seq3 == 1, F.lit(ingest.DL_CATEGORY_PARSER))
            .otherwise(F.lit(ingest.DL_CATEGORY_MONGO))
        ),
        failure_source=(
            F.when(seq3 == 2, F.lit(ingest.DL_SOURCE_INDEXER)).otherwise(
                F.lit(ingest.DL_SOURCE_CORE)
            )
        ),
        persist_intermediate=persist_intermediate,
    )
