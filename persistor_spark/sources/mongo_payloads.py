"""Mongo payload fetcher (reference S6) — the Resubmitter's alternative
payload store, where a message's body lives in a document database instead
of a blob file.

Reference semantics (resubmitter-api/lib/fetcher/ms/mongo.go:100-162):
`location_key` is `<collection>/<msg_id>`; the fetcher does a point
`FindOne` on `{id: msg_id}` in that collection and streams the record's
`data` bytes; a malformed key (not exactly 2 segments) or a missing
document is an error.  Config comes from `MONGO_CONNECTION_STRING` +
`MONGO_STORAGE_DATABASE` (mongo.go:34-39).

Spark-first re-expression: a replay never fetches ONE payload — it fetches
every payload a resubmit touches.  So instead of a per-key FindOne loop
(one network round trip per message), the requested location keys are
parsed once, each referenced collection is scanned ONCE as a DataFrame,
and payloads attach via a single (collection, id)-keyed left join — at 100
TB that is a partition-pruned scan + one equi-join, and the join key is
the document id, so the shuffle is bounded by the replay size, not the
store.  Per-key error returns become row-level routing (the engine's K6
dead-letter convention): malformed keys and missing documents come back
with `error_category` set instead of aborting the whole replay.

Backends, resolved per scheme like formats/ocf_io.register_blob_client:

- a directory store (default): `<root>/<collection>` is a parquet table
  with columns (id, data, metadata) — the sandbox stand-in
  with the same keyed-document access pattern;
- real MongoDB via the Spark connector: `mongo_connector_options()` maps
  the reference's env contract onto `spark.mongodb.read.*` options; the
  connector jar is absent in this container, so actually wiring it is
  gated behind the same probe style as sources/brokers.py.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

CONNECTION_STRING_ENV = "MONGO_CONNECTION_STRING"
STORAGE_DATABASE_ENV = "MONGO_STORAGE_DATABASE"

#: error categories, following the K6 dead-letter reason strings
INVALID_KEY = "invalid_location_key"
NOT_FOUND = "document_not_found"


def mongo_connector_options(collection: str) -> dict:
    """Spark Mongo connector read options from the reference's env contract
    (mongo.go:34-39, FromEnv).  Raises KeyError mirroring the reference's
    startup failure when the env is incomplete."""
    uri = os.environ.get(CONNECTION_STRING_ENV)
    database = os.environ.get(STORAGE_DATABASE_ENV)
    if not uri:
        raise KeyError(CONNECTION_STRING_ENV)
    if not database:
        raise KeyError(STORAGE_DATABASE_ENV)
    return {
        "spark.mongodb.read.connection.uri": uri,
        "spark.mongodb.read.database": database,
        "spark.mongodb.read.collection": collection,
    }


def parse_location_keys(locations: DataFrame) -> DataFrame:
    """Split `location_key` into (collection, msg_id); keys without exactly
    two segments get `error_category = invalid_location_key`
    (mongo.go:155-162 rejects them per key).  Keys with EMPTY segments
    ('/m1', 'colA/') pass parsing — the reference's split only checks the
    segment count, so such keys reach FindOne and surface as not-found;
    here they miss the store join and route as `document_not_found`."""
    parts = F.split(F.col("location_key"), "/")
    # try_element_at: a malformed key must route, not throw (ANSI element_at
    # raises on out-of-bounds)
    valid = F.size(parts) == 2
    return locations.withColumn(
        "collection", F.when(valid, F.try_element_at(parts, F.lit(1)))
    ).withColumn("msg_id", F.when(valid, F.try_element_at(parts, F.lit(2)))).withColumn(
        "error_category", F.when(~valid, F.lit(INVALID_KEY))
    )


def read_collection(spark: SparkSession, root: str, collection: str) -> DataFrame:
    """One collection of the directory store as a DataFrame."""
    return spark.read.parquet(os.path.join(root, collection))


def fetch_payloads(spark: SparkSession, root: str, locations: DataFrame) -> DataFrame:
    """Fetch the payload for every requested `location_key` from a
    directory store rooted at `root`.

    Returns (location_key, collection, msg_id, data, error_category):
    `data` carries the document's bytes, `error_category` is NULL on
    success, `invalid_location_key` or `document_not_found` otherwise —
    callers split and dead-letter exactly like the ingest path's T11/K6.

    The distinct-collection collect is bounded by the number of referenced
    collections (a deployment constant, not data volume), matching the
    driver-side state rules used elsewhere in the engine."""
    parsed = parse_location_keys(locations)
    wanted = parsed.filter(F.col("error_category").isNull())
    names = [r[0] for r in wanted.select("collection").distinct().collect()]  # collect-ok: distinct collection names, <= #collections
    store = None
    for name in sorted(names):
        # A referenced collection absent from the store must route its rows
        # as document_not_found (the reference's per-key ErrNoDocuments,
        # mongo.go:143-151), never abort the replay — so probe the load
        # driver-side and simply leave missing collections out of the
        # union; their rows miss the join below.  Empty collection names
        # (from '/m1'-style keys) are always absent.  ONLY the
        # missing-path case routes as not-found: the reference
        # distinguishes ErrNoDocuments from decode/IO errors
        # (mongo.go:128-133), so corrupt files, permission failures, or a
        # bad root propagate instead of silently dead-lettering the rows.
        if not name:
            continue
        try:
            one = read_collection(spark, root, name)
        except AnalysisException as exc:
            cond = getattr(exc, "getCondition", None)
            cond = cond() if callable(cond) else None
            if cond == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(exc):
                continue
            raise
        one = one.select(
            F.lit(name).alias("collection"),
            F.col("id").alias("msg_id"),
            F.col("data"),
            # presence marker: a stored document whose data is legitimately
            # NULL decodes as an empty payload with NO error (the reference
            # returns record.Data as-is) — join-miss and null-payload must
            # stay distinguishable after the left join
            F.lit(True).alias("__found"),
        )
        store = one if store is None else store.unionByName(one)
    if store is not None:
        fetched = (
            wanted.join(store, ["collection", "msg_id"], "left")
            .withColumn(
                "error_category",
                F.when(~F.coalesce("__found", F.lit(False)), F.lit(NOT_FOUND)),
            )
            .drop("__found")
        )
    else:
        fetched = wanted.withColumn("data", F.lit(None).cast("binary")).withColumn(
            "error_category", F.lit(NOT_FOUND)
        )
    bad = parsed.filter(F.col("error_category").isNotNull()).withColumn(
        "data", F.lit(None).cast("binary")
    )
    cols = ["location_key", "collection", "msg_id", "data", "error_category"]
    return fetched.select(*cols).unionByName(bad.select(*cols))


def write_collection(records: DataFrame, root: str, collection: str) -> None:
    """Populate one collection of the directory store: (id, data[, ...])
    rows, the shape the reference's MongoRecord carries (mongo.go:41-45)."""
    records.write.mode("overwrite").parquet(os.path.join(root, collection))
