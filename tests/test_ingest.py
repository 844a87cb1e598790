"""Ingest pipeline invariants, mirroring the reference's version-batching and
handler tests (version_batching_test.go:115-231, handler_test.go:429-645).
"""

import pytest
from pyspark.sql import functions as F

from persistor_spark import fixtures
from persistor_spark.config import IngestConfig, StorageConfig
from persistor_spark.plans import ingest


def test_every_message_exactly_once(spark, sf_dir, ingested):
    """Each input message lands in exactly one of {index, deadletter}
    (BatchByVersions invariant: every message in exactly one mini-batch)."""
    msgs = fixtures.load_messages(spark, sf_dir)
    n_msgs = msgs.count()
    n_idx = ingested.index_metadata.count()
    n_dl = ingested.deadletter.count()
    assert n_idx + n_dl == n_msgs
    # no overlap
    overlap = ingested.index_metadata.join(
        ingested.deadletter.select("unique_id"), "unique_id", "inner"
    ).count()
    assert overlap == 0


def test_unique_id_is_primary_key(ingested):
    idx = ingested.index_metadata
    assert idx.select("unique_id").distinct().count() == idx.count()


def test_blob_and_index_positions_agree(ingested):
    """Every non-null index position has exactly one matching blob record with
    the same id (FIXTURES.md §3 invariant; D9 totality)."""
    idx = ingested.index_metadata.filter(F.col("location_position").isNotNull())
    joined = idx.join(
        ingested.blob_records.withColumnRenamed("position", "location_position"),
        ["location_key", "location_position"],
    )
    n = idx.count()
    assert joined.count() == n
    assert joined.filter(F.col("unique_id") != F.col("record_id")).count() == 0


def test_positions_dense_per_blob(ingested):
    """Positions are 1..n per blob with no gaps (write-order contract)."""
    stats = (
        ingested.blob_records.groupBy("location_key")
        .agg(F.count("*").alias("n"), F.min("position").alias("mn"), F.max("position").alias("mx"))
        .filter((F.col("mn") != 1) | (F.col("mx") != F.col("n")))
    )
    assert stats.count() == 0


def test_positions_per_location_key_when_mask_value_has_slash(spark, sf_dir):
    """A '/' inside an attribute mask value is escaped in the mask directory
    but not in location_key, so ('x/y', 'z') and ('x', 'y/z') share one
    location_key.  Positions stay one dense numbering per location_key,
    ordered by unique_id, across both mask tuples."""
    cfg = IngestConfig(
        storage=StorageConfig(mask=("{a}", "{b}")),
        clock_column="ingestion_time",
    )
    msgs = (
        fixtures.load_messages(spark, sf_dir)
        .limit(8)
        .withColumn("broker_id", F.lit("b0"))
        .withColumn(
            "attributes",
            F.when(F.col("event_seq") % 2 == 0, F.create_map(*map(F.lit, ["a", "x/y", "b", "z"])))
            .otherwise(F.create_map(*map(F.lit, ["a", "x", "b", "y/z"]))),
        )
    )
    res = ingest.run_batch(msgs, cfg)
    rows = res.blob_records.select(
        "location_key", "position", "record_id", "__mask_a", "__mask_b"
    ).collect()
    assert len({r["location_key"] for r in rows}) == 1
    assert len({(r["__mask_a"], r["__mask_b"]) for r in rows}) == 2
    want = {rid: i for i, rid in enumerate(sorted(r["record_id"] for r in rows), 1)}
    assert {r["record_id"]: r["position"] for r in rows} == want
    idx = res.index_metadata.select("unique_id", "location_position").collect()
    assert {r["unique_id"]: r["location_position"] for r in idx} == want


def test_null_position_iff_singleton_blob(ingested):
    """Index position is NULL exactly for single-record blobs
    (convertSingle shortcut, resubmitter.go:176-182)."""
    per_blob = ingested.index_metadata.groupBy("location_key").agg(
        F.count("*").alias("n"),
        F.sum(F.col("location_position").isNull().cast("int")).alias("nulls"),
    )
    bad = per_blob.filter(
        ((F.col("n") == 1) & (F.col("nulls") != 1)) | ((F.col("n") > 1) & (F.col("nulls") != 0))
    )
    assert bad.count() == 0


def test_version_unknown_fill(ingested):
    """Messages lacking the version attribute land in the 'unknown' path
    (version_batching.go:29-71)."""
    unknowns = ingested.index_metadata.filter(F.col("location_key").contains("/unknown/"))
    assert unknowns.count() > 0


def test_location_key_mask_structure(ingested):
    """location_key obeys scheme://bucket/prefix/y/m/d/version/blob-<name>.ext
    (storage.go:103-163 mask semantics)."""
    bad = ingested.index_metadata.filter(
        ~F.col("location_key").rlike(
            r"^gs://persistor-bucket/msg/\d{4}/\d{2}/\d{2}/[^/]+/blob-b\d\.avro$"
        )
    )
    assert bad.count() == 0


def test_blob_directory_is_location_key_dirname(ingested):
    """blob_directory (run_batch's blob-side exchange key) is location_key
    without its file name, never empty: if the blob layout drifted from
    it, every row would hash into one write task."""
    from persistor_spark.operators import blob_naming

    lk = F.col("location_key")
    bad = ingested.index_metadata.filter(
        (blob_naming.blob_directory(lk) != F.regexp_replace(lk, "/[^/]+$", ""))
        | (blob_naming.blob_directory(lk) == "")
    )
    assert bad.count() == 0


def test_blob_merge_without_watermark_on_existing_table_dedups(spark, sf_dir, tmp_path):
    """A blob table that exists without an attempt watermark (written before
    watermarks, or copied without hidden files) gets the anti-join: a batch
    whose rows are already there appends nothing and leaves a watermark.  A
    batch that finds no table appends directly."""
    from dataclasses import replace

    cfg = IngestConfig(clock_column="ingestion_time")
    msgs = fixtures.load_messages(spark, sf_dir).limit(40)
    res = replace(ingest.run_batch(msgs, cfg), batch_id=3)
    path = str(tmp_path / "blobs")
    ingest.write_blobs(res, path, fmt="parquet")
    assert ingest.write_blobs_merge(res, path, fmt="parquet") == 0
    blobs = spark.read.parquet(path)
    assert blobs.count() == 40
    assert blobs.groupBy("location_key", "record_id").count().filter("count > 1").count() == 0
    with open(tmp_path / "blobs" / ingest.ATTEMPTED_BATCH_FILE) as fh:
        assert fh.read() == "3"

    fresh = str(tmp_path / "fresh")
    assert ingest.write_blobs_merge(replace(res, batch_id=0), fresh, fmt="parquet") == 40


def test_deadletter_reason_attributes(ingested):
    """DLQ rows carry the 3 reason attributes with reference category strings
    (sender.go:46-76, persistor.go:43-46)."""
    dl = ingested.deadletter
    cats = {r[0] for r in dl.select("dead_letter_error_category").distinct().collect()}
    assert cats <= {
        ingest.DL_CATEGORY_STORAGE,
        ingest.DL_CATEGORY_PARSER,
        ingest.DL_CATEGORY_MONGO,
    }
    srcs = {r[0] for r in dl.select("dead_letter_source").distinct().collect()}
    assert srcs <= {ingest.DL_SOURCE_CORE, ingest.DL_SOURCE_INDEXER}


def test_dead_letter_disabled_drops(spark, sf_dir):
    msgs = fixtures.load_messages(spark, sf_dir)
    cfg_off = IngestConfig(
        storage=fixtures.fixture_ingest_config().storage,
        clock_column="ingestion_time",
        dead_letter_enabled=False,
    )
    res = ingest.run_batch(msgs, cfg_off, failure=F.col("event_seq") % 83 == 13)
    assert res.deadletter.count() == 0
    # failed messages are still excluded from the index (nacked, not indexed)
    assert res.index_metadata.count() == msgs.filter(~(F.col("event_seq") % 83 == 13)).count()


def test_index_source_key_rule(ingested):
    """index_source_key = bsk_bok iff both present (sender.go:158-160)."""
    idx = ingested.index_metadata
    bad = idx.filter(
        (
            F.col("business_source_key").isNotNull()
            & F.col("business_object_key").isNotNull()
            & (
                F.col("index_source_key")
                != F.concat_ws("_", "business_source_key", "business_object_key")
            )
        )
        | (
            (F.col("business_source_key").isNull() | F.col("business_object_key").isNull())
            & F.col("index_source_key").isNotNull()
        )
    )
    assert bad.count() == 0


def test_index_source_key_requires_non_empty(spark):
    """sender.go:158 requires len(bsk) > 0 AND len(bok) > 0 — empty-string
    business keys leave index_source_key unset, never '_' or 'src1_'."""
    from persistor_spark.functions import keys

    rows = [("src1", "obj1"), ("", "obj1"), ("src1", ""), ("", ""), (None, "obj1")]
    df = spark.createDataFrame(rows, "business_source_key string, business_object_key string")
    got = [r[0] for r in df.select(keys.index_source_key()).collect()]
    assert got == ["src1_obj1", None, None, None, None]


def test_write_index_merge_raises_on_corrupt_table(spark, sf_dir, tmp_path):
    """Only a MISSING table may skip the anti-join dedup; a corrupt existing
    table must raise, not silently degrade into duplicate appends."""
    msgs = fixtures.load_messages(spark, sf_dir).limit(10)
    res = ingest.run_batch(msgs, fixtures.fixture_ingest_config())
    path = tmp_path / "idx"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception):
        ingest.write_index_merge(res, str(path))


def test_merge_append_checks_existence_before_reading(spark, sf_dir, tmp_path):
    """A missing table is found by a filesystem check, not by a failed read
    (which logs a PATH_NOT_FOUND stack trace once an Observation has run);
    the append and its count are one write job, and a replay appends 0."""
    msgs = fixtures.load_messages(spark, sf_dir).limit(10)
    res = ingest.run_batch(msgs, fixtures.fixture_ingest_config())
    path = str(tmp_path / "idx")
    reads = []

    def read_existing():
        reads.append(path)
        return spark.read.parquet(path)

    def merge():
        return ingest._merge_append(
            res.index_metadata,
            path,
            read_existing,
            ["unique_id"],
            lambda new: new.write.mode("append").parquet(path),
        )

    assert merge() == 10
    assert reads == []
    assert merge() == 0
    assert reads == [path]
    assert spark.read.parquet(path).count() == 10


def test_blob_merge_after_empty_first_batch(spark, sf_dir, tmp_path):
    """An empty partitioned append leaves a table directory with no data
    files; the next merge must treat it as empty, not fail on schema
    inference."""
    msgs = fixtures.load_messages(spark, sf_dir).limit(10)
    cfg = fixtures.fixture_ingest_config()
    path = str(tmp_path / "blobs")
    empty = ingest.run_batch(msgs.limit(0), cfg)
    assert ingest.write_blobs_merge(empty, path, fmt="parquet") == 0
    res = ingest.run_batch(msgs, cfg)
    assert ingest.write_blobs_merge(res, path, fmt="parquet") == 10
    assert ingest.write_blobs_merge(res, path, fmt="parquet") == 0
    assert spark.read.parquet(path).count() == 10


def test_additional_metadata_excludes_promoted(ingested):
    """Promoted business keys are deleted from the metadata map
    (sender.go:155-156)."""
    idx = ingested.index_metadata
    bad = idx.filter(
        F.element_at("additional_metadata", "business_source_key").isNotNull()
        | F.element_at("additional_metadata", "attr_version").isNotNull()
    )
    assert bad.count() == 0
    # but non-promoted user attributes survive
    assert idx.filter(F.element_at("additional_metadata", "event_type").isNotNull()).count() == idx.count()


def test_config_validation():
    with pytest.raises(ValueError):
        StorageConfig(mask=("year", "bogus")).validate()
    with pytest.raises(ValueError):
        IngestConfig(version_keys=()).validate()
    StorageConfig(mask=("year", "{attr}", "custom"), custom_values={"custom": "x"}).validate()


def test_split_location_url_parse(spark, ingested):
    """S4/S5 URL parsing: location_key splits back into (bucket, object)."""
    from persistor_spark.operators import blob_naming
    from pyspark.sql import functions as F

    bucket, path = blob_naming.split_location(F.col("location_key"))
    row = ingested.index_metadata.select(
        bucket.alias("b"), path.alias("p"), "location_key"
    ).first()
    assert row["b"] == "persistor-bucket"
    assert row["location_key"].endswith(row["p"])
    assert row["p"].startswith("msg/")
