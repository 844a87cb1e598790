"""Resubmit pipeline: metadata -> blob join -> keyed publishable records
(reference: resubmitter-api/lib/resubmitter/resubmitter_job.go:257-455,
resubmitter.go:166-252; SURVEY.md §3.3, R1-R10).

The reference's channel pipeline (paginate ids -> group by blob -> goroutine
per fetch -> 2 packaging workers -> ordered publish) is replaced by ONE Spark
job:

    metadata (filtered)                       blob records
        \\                                        /
         equi-join on (location_key, location_position)
                      |
           re-package metadata, key by ordering_key
                      |
          sink (Kafka `key` column preserves per-key order per partition)

Why this scales where the reference doesn't: the reference fetches whole blobs
through one process and caps packaging at 2 workers (resubmitter.go:45-49);
here the blob read is a distributed file scan (only referenced partitions are
touched when mask columns are constrained) and the join shuffles both sides by
the same key — or broadcasts the metadata side when the replay set is small,
which is the common case (a replay of specific ids touches few blobs).

Single-record blobs: the reference skips deserialization and position checks
when location_position is NULL (resubmitter.go:176-182).  We reproduce that
with a null-safe join arm: NULL-position metadata joins its blob's only record
regardless of position.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F


@dataclass
class LineageCounts:
    """Stage counters driving the 200/206/400 status decision
    (resubmitter_job.go:34-91, handler.go:115-139)."""

    starting: int
    indexed: int
    fetched: int
    deserialized: int
    published: int

    def http_status(self) -> int:
        if self.published == 0 and self.starting > 0:
            return 400
        if self.published < self.starting:
            return 206
        return 200


# Metadata attached to each resubmitted record (resubmitter util.go:62-82):
# business keys + ordering key + the open metadata map.
_PACKAGED_META_KEYS = ("business_source_key", "business_object_key", "index_source_key")


def align(metadata: DataFrame, blob_records: DataFrame, broadcast_metadata: bool | None = None) -> DataFrame:
    """R6 position-align equi-join: for each metadata row pick the blob record
    at `location_position` (1-based; util.go:47 consumes it 0-based).

    Returns publishable records: (unique_id, ordering_key, payload, metadata
    columns).  `broadcast_metadata=None` lets AQE decide; True forces a
    broadcast of the metadata side (typical replay: small id set vs huge blob
    store).
    """
    meta = F.broadcast(metadata) if broadcast_metadata else metadata
    return _join(meta, blob_records)


def _join(meta: DataFrame, blob_records: DataFrame) -> DataFrame:
    blobs = blob_records.select(
        F.col("location_key").alias("b_location_key"),
        F.col("position").alias("b_position"),
        F.col("record_id").alias("b_record_id"),
        F.col("payload").alias("payload"),
    )
    sel = [
        F.col("unique_id"),
        F.col("ordering_key"),
        F.col("payload"),
        *[F.col(k) for k in _PACKAGED_META_KEYS if k in meta.columns],
        F.col("location_key"),
        F.col("location_position"),
    ]

    multi = (
        meta.filter(F.col("location_position").isNotNull())
        .join(
            blobs,
            (F.col("location_key") == F.col("b_location_key"))
            & (F.col("location_position") == F.col("b_position")),
            "inner",
        )
        .select(*sel)
    )
    # Single-record blobs: NULL position joins the blob's single record
    # (resubmitter.go:176-182's convertSingle shortcut).
    single = (
        meta.filter(F.col("location_position").isNull())
        .join(blobs, F.col("location_key") == F.col("b_location_key"), "inner")
        .select(*sel)
    )
    return multi.unionByName(single)


def resubmit(
    metadata: DataFrame,
    blob_records: DataFrame,
    broadcast_metadata: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full R4-R7 pipeline minus the physical publish.

    Returns (records, kafka_ready):
    - records: aligned publishable rows;
    - kafka_ready: projected to the Kafka sink contract — `key` = ordering key
      (preserves per-key order per partition, R7), `value` = payload.
    """
    if broadcast_metadata:
        metadata = F.broadcast(metadata)
    records = _join(metadata, blob_records)
    kafka_ready = with_publish_order(records).select(
        F.col("ordering_key").cast("string").alias("key"),
        F.col("payload").cast("string").alias("value"),
        F.col("publish_seq"),
    )
    return records, kafka_ready


def with_publish_order(records: DataFrame) -> DataFrame:
    """R7: attach `publish_seq` — the per-ordering-key publish order the
    reference guarantees by publishing each key's records sequentially with
    max-in-flight 1 (resubmitter_job.go:387-455).  The order is the blob
    scan order (location_key, then position), the same order the records
    were originally persisted in; the sink must enqueue each key's rows in
    ascending publish_seq (brokers.publish_kafka sorts partitions by it)."""
    w = Window.partitionBy("ordering_key").orderBy(
        "location_key", F.col("location_position").asc_nulls_first(), "unique_id"
    )
    return records.withColumn("publish_seq", F.row_number().over(w))


def locations_touched(metadata: DataFrame) -> DataFrame:
    """R4 group-by location_key — the fetch plan (one row per blob to read)."""
    return metadata.groupBy("location_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("location_position").alias("minp"),
        F.max("location_position").alias("maxp"),
    )


def resubmit_observed(
    metadata: DataFrame, blob_records: DataFrame
) -> tuple[DataFrame, "Observation", "Observation"]:
    """resubmit() with `df.observe()` instrumentation: counters are collected
    as a side effect of the ONE action that materializes the records — no
    extra count() jobs (the streaming-friendly R9 shape).

    Returns (records, meta_observation, records_observation); read
    `obs.get["starting"] / ["published"]` after an action on `records`.
    """
    from pyspark.sql import Observation

    meta_obs = Observation("resubmit_meta")
    rec_obs = Observation("resubmit_records")
    meta = metadata.observe(meta_obs, F.count(F.lit(1)).alias("starting"))
    records = _join(meta, blob_records).observe(
        rec_obs, F.count(F.lit(1)).alias("published")
    )
    return records, meta_obs, rec_obs


def lineage(metadata: DataFrame, records: DataFrame) -> LineageCounts:
    """Stage counters (R9) via two aggregations.  In streaming these become
    `df.observe()` metrics; batch-mode counts are exact."""
    starting = metadata.count()
    published = records.count()
    return LineageCounts(
        starting=starting,
        indexed=starting,
        fetched=published,
        deserialized=published,
        published=published,
    )
