"""Version batching (reference T3: version_batching.go:75-117).

The reference hash-groups each broker batch by the tuple of version-attribute
values (missing attribute -> literal "unknown") and writes one blob per group.
Spark-first: we *materialize the version tuple as columns* and let hash
partitioning / `partitionBy` do the grouping — no driver-side grouping, no
shuffle beyond the partitioned write itself.  At 100 TB this is the difference
between a Go map over an in-memory batch and a distributed dynamic-partition
write; semantics are identical (D7 pins them).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from persistor_spark.functions.sqlq import sql_str

UNKNOWN = "unknown"


def version_column(key: str) -> Column:
    """Version value for one key: the attribute value, else 'unknown'
    (addMessageToVersionMap, version_batching.go:29-71).  One SQL
    expression, not a Column-call chain — this is built per ingest batch
    and each Column call is a driver py4j round-trip (r14 opt, §1.2)."""
    return F.expr(
        f"coalesce(element_at(`attributes`, {sql_str(key)}), '{UNKNOWN}')"
    )
