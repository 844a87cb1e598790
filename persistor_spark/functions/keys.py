"""Key-derivation expressions (reference: sender.go:136-201, T5/T6 in SURVEY.md).

All pure Column builders over the message schema's fixed column names —
JVM-side, codegen-friendly, no UDFs.  Each composes ONE SQL expression via
F.expr instead of several Column-API calls: each Column call is a py4j
round-trip, and these expressions are built once per ingest batch — on the
streaming path that driver cost recurs every micro-batch (r14 opt, guide
§1.2 per-task/driver work; same change as the ANN scoring expressions).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from persistor_spark.functions.sqlq import sql_str
from persistor_spark.schemas import PROMOTED_ATTRIBUTE_KEYS


def unique_id() -> Column:
    """`unique_id = broker_id || '_' || broker_msg_id` (sender.go:173)."""
    return F.expr("concat(`broker_id`, '_', `broker_msg_id`)")


def index_source_key() -> Column:
    """`bsk || '_' || bok` iff both present AND non-empty, else NULL
    (sender.go:158: `len(bsk) > 0 && len(bok) > 0` — an empty-string business
    key leaves index_source_key unset, it does not produce '_' / 'src_').
    CASE WHEN with no ELSE yields NULL."""
    s, o = "`business_source_key`", "`business_object_key`"
    return F.expr(
        f"CASE WHEN {s} IS NOT NULL AND length({s}) > 0"
        f" AND {o} IS NOT NULL AND length({o}) > 0"
        f" THEN concat({s}, '_', {o}) END"
    )


def additional_metadata() -> Column:
    """User attributes minus the promoted business keys (sender.go:155-156
    deletes them from the map after extraction)."""
    arr = ", ".join(sql_str(k) for k in PROMOTED_ATTRIBUTE_KEYS)
    return F.expr(
        "map_filter(`attributes`,"
        f" (k, v) -> NOT array_contains(array({arr}), k))"
    )
