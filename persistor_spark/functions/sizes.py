"""Message size estimation (reference T12: calculate_message_size.go:21-39).

The reference sums payload bytes + string/bytes attribute values (keys NOT
counted for string attrs; both key and value counted only via value types it
recognizes — we reproduce the shipped rule: payload + per-attribute key and
value lengths) to enforce the BatchMemory bound.  In Spark the same
expression drives `kafka.fetch.max.bytes` sizing and byte-balanced
repartitioning (analytics.multimodal.repartition_for_decode).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def message_size() -> Column:
    """Estimated wire size in bytes of a message row: `payload` length + Σ
    (key + value lengths) over the `attributes` map.  Null-safe (null
    payload/attrs contribute 0)."""
    p, a = F.col("payload"), F.col("attributes")
    # octet_length, not length: the reference sums BYTES (len() over Go
    # strings) to enforce BatchMemory — character counts undercount UTF-8
    # payloads up to 4x, over-admitting batches past the memory bound
    payload_len = F.coalesce(F.octet_length(p), F.lit(0)).cast("long")
    attr_len = F.coalesce(
        F.aggregate(
            F.map_entries(a),
            F.lit(0).cast("long"),
            lambda acc, e: acc
            + F.octet_length(e["key"])
            + F.coalesce(F.octet_length(e["value"]), F.lit(0)),
        ),
        F.lit(0).cast("long"),
    )
    return payload_len + attr_len

