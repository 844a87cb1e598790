"""Operational-parity pieces: size estimator (T12), interval params (Q10),
broker option builders (S1/S2/K7), metrics listener (E4)."""

import datetime

import pytest
from pyspark.sql import functions as F

from persistor_spark import fixtures
from persistor_spark.functions import sizes
from persistor_spark.plans.query import extract_interval_params
from persistor_spark.sources import brokers
from persistor_spark.streaming import ingest_stream, metrics as smetrics


def test_message_size_expression(spark):
    df = spark.createDataFrame(
        [("abcd", {"k1": "vv", "k22": "x"}), (None, {}), ("xy", None)],
        "payload string, attributes map<string,string>",
    )
    got = [r[0] for r in df.select(sizes.message_size()).collect()]
    # 4 + (2+2) + (3+1) = 12; 0; 2
    assert got == [12, 0, 2]


def test_interval_params_defaults_and_future_rejection():
    now = datetime.datetime(2024, 6, 1, 12, 0, 0)
    t_from, t_to = extract_interval_params(None, None, now=now)
    assert t_from == datetime.datetime(1, 1, 1)
    assert t_to == now
    t_from, t_to = extract_interval_params("2024-01-01T00:00:00Z", "2024-02-01T00:00:00Z", now=now)
    assert (t_from.month, t_to.month) == (1, 2)
    with pytest.raises(ValueError, match="can't be in the future"):
        extract_interval_params(None, "2030-01-01T00:00:00Z", now=now)


def test_broker_option_builders():
    cfg = fixtures.fixture_ingest_config()
    ps = brokers.pubsub_source_options(cfg, "proj", "sub")
    assert ps["maxOutstandingMessages"] == str(cfg.batch.batch_size)
    assert int(ps["maxOutstandingBytes"]) >= 1024
    sb = brokers.servicebus_source_options(cfg, "ns", "t", "s")
    assert sb["maxBatchSize"] == str(cfg.batch.batch_size)
    ks = brokers.kafka_sink_options("b:9092", "t")
    assert ks["kafka.max.in.flight.requests.per.connection"] == "1"  # per-key order


def test_pubsub_without_connector_raises_clearly(spark):
    cfg = fixtures.fixture_ingest_config()
    with pytest.raises(brokers.ConnectorUnavailable, match="connector"):
        brokers.pubsub_stream(spark, cfg, "proj", "sub")


def test_metrics_listener_collects_progress(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    fixtures.load_messages(spark, sf_dir).limit(100).write.parquet(src)
    listener = smetrics.attach(spark)
    try:
        stream = ingest_stream.file_stream(spark, src)
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously
        import time

        for _ in range(40):
            if listener.counters.input_rows >= 100:
                break
            time.sleep(0.5)
        snap = listener.counters.snapshot()
        assert snap["input_rows"] >= 100
        assert snap["batches"] >= 1
        assert snap["duration_ms_q50"] >= 0
    finally:
        smetrics.detach(spark, listener)


def test_prometheus_text_format():
    c = smetrics.Counters(batches=3, input_rows=1500, processed_rows_per_sec_last=50.0,
                          batch_duration_ms=[10, 20, 30])
    text = smetrics.to_prometheus_text(c)
    assert "persistor_processed_messages_total 1500" in text
    assert 'quantile="0.5"' in text and 'quantile="0.99"' in text
    assert text.endswith("\n")
    # every non-comment line is "name{labels} value"
    for line in text.strip().splitlines():
        if not line.startswith("#"):
            name, value = line.rsplit(" ", 1)
            float(value)


def test_wire_timestamps_accept_go_nanosecond_fractions(spark):
    """Go's .99999999 layout emits up to 8 fractional digits (ns clocks);
    both parsers must accept them (truncating to micros) — 7-8 digit values
    previously raised (query wire) or silently became NULL (index wire)."""
    from persistor_spark.functions.timestamps import parse_query_wire, parse_wire

    got = parse_query_wire("2024-01-02T03:04:05.12345678Z")
    assert (got.second, got.microsecond) == (5, 123456)

    df = spark.createDataFrame(
        [("2024-01-02 03:04:05.1234567",), ("2024-01-02 03:04:05.12345678",),
         ("2024-01-02 03:04:05.123456",), ("2024-01-02 03:04:05",)],
        "w string",
    )
    out = df.select(parse_wire("w").alias("t"))
    assert out.filter("t is null").count() == 0


def test_mask_custom_values_case_insensitive(spark):
    """storage.go:198 mask keys are case-insensitive — a mixed-case custom
    member must pass validate() AND resolve in mask_columns (previously:
    validate passed, the lowercase lookup KeyError'd)."""
    from pyspark.sql import functions as F

    from persistor_spark.config import StorageConfig
    from persistor_spark.operators.blob_naming import mask_columns

    cfg = StorageConfig(mask=("Year", "ENV"), custom_values={"ENV": "prod"})
    cfg.validate()
    cols = mask_columns(cfg, "ingestion_time")
    assert set(cols) == {"__mask_year", "__mask_env"}
    row = (
        spark.createDataFrame([("2024-03-04 05:06:07",)], "ingestion_time string")
        .withColumn("ingestion_time", F.to_timestamp("ingestion_time"))
        .select(*[c.alias(n) for n, c in cols.items()])
        .collect()[0]
    )
    assert row["__mask_year"] == "2024" and row["__mask_env"] == "prod"


def test_message_size_counts_bytes_not_characters(spark):
    from pyspark.sql import functions as F

    from persistor_spark.functions.sizes import message_size

    df = spark.createDataFrame(
        [("éé", {"k": "€"})],  # 2x2-byte chars; euro = 3 bytes
        "payload string, attributes map<string,string>",
    )
    got = df.select(message_size().alias("n")).collect()[0]["n"]
    assert got == 4 + 1 + 3  # payload bytes + key byte + value bytes


def test_filter_ne_nin_match_null_fields_like_mongo(spark):
    """Mongo's $ne/$nin match documents whose field is missing/null — a
    naive !=/~isin drops them (NULL three-valued logic), silently returning
    fewer rows than the reference for every nullable field."""
    from persistor_spark.functions.filters import translate

    df = spark.createDataFrame(
        [("b0", "src1"), ("b1", None)], "broker_id string, business_source_key string"
    )
    ne = df.filter(translate([{"business_source_key": {"$ne": "src1"}}]))
    assert [r["broker_id"] for r in ne.collect()] == ["b1"]
    nin = df.filter(translate([{"business_source_key": {"$nin": ["src1"]}}]))
    assert [r["broker_id"] for r in nin.collect()] == ["b1"]
