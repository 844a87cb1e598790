"""Fixed StructType schemas for the persistor data model (SURVEY.md §1).

The reference's type system is narrow (string / bytes / map<string,string> /
timestamp / int / bool — `persistor/internal/common/metadata.go:20-58`,
`write_to_avro.go:34-43`); these StructTypes are its Spark mapping.  Payloads
are STRING in the fixture world (FIXTURES.md §5) but the engine accepts BINARY
equally — nothing below inspects payload bytes.
"""

from __future__ import annotations

from pyspark.sql import types as T

# One broker message (streamproc.Message shape; reference use sites:
# sender.go:121-198, storage.go:103-122).
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("broker_id", T.StringType(), False),
        T.StructField("broker_msg_id", T.StringType(), False),
        T.StructField("ordering_key", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("business_source_key", T.StringType(), True),
        T.StructField("business_object_key", T.StringType(), True),
        T.StructField("attr_version", T.StringType(), True),
        T.StructField("publish_time", T.TimestampType(), True),
        T.StructField("ingestion_time", T.TimestampType(), False),
        # Monotonic source sequence (offset analogue); used for deterministic
        # failure-injection in tests, never by engine semantics.
        T.StructField("event_seq", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
    ]
)

# One indexed message (FormattedIndexerData: formatter.go:27-32 +
# CommonData/Location/ProperTimestamps: metadata.go:20-58).
INDEX_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("broker_id", T.StringType(), False),
        T.StructField("broker_msg_id", T.StringType(), False),
        T.StructField("unique_id", T.StringType(), False),
        T.StructField("business_source_key", T.StringType(), True),
        T.StructField("business_object_key", T.StringType(), True),
        T.StructField("index_source_key", T.StringType(), True),
        T.StructField("ordering_key", T.StringType(), True),
        T.StructField("additional_metadata", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("location_key", T.StringType(), False),
        T.StructField("location_position", T.IntegerType(), True),
        T.StructField("publish_time", T.TimestampType(), True),
        T.StructField("ingestion_time", T.TimestampType(), False),
        T.StructField("indexer_ingestion_time", T.TimestampType(), False),
        T.StructField("confirmation_flag", T.BooleanType(), False),
    ]
)

# One persisted record inside a blob (PersistorRecord: persistor_record.go:23-33),
# flattened to a queryable table; `position` is the 1-based write order.
BLOB_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("location_key", T.StringType(), False),
        T.StructField("position", T.IntegerType(), False),
        T.StructField("record_id", T.StringType(), False),
        T.StructField("payload", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Business keys promoted out of the attribute map into index columns and
# REMOVED from additional_metadata (sender.go:136-160).
PROMOTED_ATTRIBUTE_KEYS = (
    "business_source_key",
    "business_object_key",
    "attr_version",
)

# Queryable index fields (indexer-api/lib/util.go:122-188 whitelist); map
# sub-fields are addressed as `additional_metadata.<key>` (util.go:208-220).
QUERYABLE_FIELDS = frozenset(
    {
        "broker_id",
        "broker_msg_id",
        "unique_id",
        "business_source_key",
        "business_object_key",
        "index_source_key",
        "ordering_key",
        "location_key",
        "location_position",
        "publish_time",
        "ingestion_time",
        "indexer_ingestion_time",
        "confirmation_flag",
    }
)

TIMESTAMP_FIELDS = frozenset({"publish_time", "ingestion_time", "indexer_ingestion_time"})

ADDITIONAL_METADATA_PREFIX = "additional_metadata."
