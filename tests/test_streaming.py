"""Streaming ingest tests: stream-vs-batch equivalence over fixture chunks,
DLQ routing of malformed JSON, checkpoint restart idempotence.
(SURVEY.md §5: file source replaces the broker locally.)"""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from persistor_spark import fixtures
from persistor_spark.streaming import ingest_stream


@pytest.fixture()
def chunked_messages(spark, sf_dir, tmp_path):
    """Fixture messages written as 3 non-empty parquet files, one per
    `event_seq % 3` chunk, so a max_files_per_trigger=1 stream runs 3
    non-empty micro-batches.  The file source takes files oldest first, so
    increasing mtimes fix which chunk each batch id gets."""
    msgs = fixtures.load_messages(spark, sf_dir)
    src = tmp_path / "src"
    stamp = time.time() - 60
    for i in range(3):
        before = set(src.glob("*.parquet"))
        msgs.filter(F.col("event_seq") % 3 == i).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        (written,) = set(src.glob("*.parquet")) - before
        os.utime(written, (stamp + i, stamp + i))
    return msgs, str(src)


def _sinks(tmp_path, name):
    base = tmp_path / name
    return ingest_stream.StreamSinks(
        blob_path=str(base / "blobs"),
        index_path=str(base / "index"),
        deadletter_path=str(base / "dlq"),
        checkpoint_path=str(base / "ckpt"),
    )


def test_stream_equals_batch(spark, sf_dir, tmp_path, chunked_messages):
    msgs, src = chunked_messages
    cfg = fixtures.fixture_ingest_config()
    stream = ingest_stream.file_stream(spark, src, max_files_per_trigger=1)
    sinks = _sinks(tmp_path, "out")
    q, metrics = ingest_stream.run_stream(
        stream, cfg, sinks, failure=F.col("event_seq") % 83 == 13
    )
    assert q.awaitTermination(300)
    assert metrics.batches >= 1

    # streamed output == batch-mode output (same derivations, same totals)
    batch = fixtures.run_fixture_ingest(spark, sf_dir)
    got_idx = spark.read.parquet(sinks.index_path)
    want_idx = batch.index_metadata
    assert got_idx.count() == want_idx.count()
    assert (
        got_idx.select("unique_id").exceptAll(want_idx.select("unique_id")).count() == 0
    )
    got_dl = spark.read.parquet(sinks.deadletter_path)
    assert got_dl.count() == batch.deadletter.count()
    # location_keys agree up to the batch-id blob-name suffix (streaming
    # names blobs <broker>-b<batch_id> so batches never collide; the mask
    # dirs and broker component are identical — clock is the injected
    # ingestion_time column):
    stripped = F.regexp_replace("location_key", r"-b\d+\.", ".")
    assert (
        got_idx.select(stripped.alias("lk"))
        .distinct()
        .exceptAll(want_idx.select("location_key").distinct())
        .count()
        == 0
    )


def test_stream_blobs_partition_pruned(spark, tmp_path, chunked_messages):
    """The physical blob layout must be directory-partitioned by the mask
    columns so readers prune (T4 parity)."""
    _, src = chunked_messages
    cfg = fixtures.fixture_ingest_config()
    sinks = _sinks(tmp_path, "out2")
    q, _ = ingest_stream.run_stream(
        ingest_stream.file_stream(spark, src, max_files_per_trigger=3), cfg, sinks
    )
    assert q.awaitTermination(300)
    import glob

    dirs = glob.glob(sinks.blob_path + "/__mask_year=*/__mask_month=*/__mask_day=*/__mask_attr_version=*")
    assert dirs, "expected mask-partitioned blob directories"
    # partition filter reaches the file listing
    df = spark.read.parquet(sinks.blob_path).filter(F.col("__mask_attr_version") == "v1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_malformed_json_routes_to_dlq(spark, tmp_path):
    """T7/T8: corrupt JSON and missing required fields go to the DLQ with
    parser-category reason attributes, not query failure."""
    good = {
        "broker_id": "b0",
        "broker_msg_id": "m1",
        "payload": "p",
        "ingestion_time": "2024-01-01T00:00:00.000Z",
    }
    missing = {"broker_id": "b0", "payload": "p"}  # no broker_msg_id
    rows = [json.dumps(good), json.dumps(missing), "{not json at all"]
    src = tmp_path / "jsonsrc"
    src.mkdir()
    (src / "part-0.txt").write_text("\n".join(rows))

    raw = spark.readStream.format("text").load(str(src))
    parsed = ingest_stream.parse_json_stream(raw, payload_col="value")
    cfg = fixtures.fixture_ingest_config()
    cfg = type(cfg)(
        storage=cfg.storage,
        version_keys=cfg.version_keys,
        clock_column=None,  # JSON rows carry real ingestion_time; wall clock ok
        indexer_clock_skew_s=0,
    )
    sinks = _sinks(tmp_path, "out3")
    q, metrics = ingest_stream.run_stream(parsed, cfg, sinks)
    assert q.awaitTermination(300)

    idx = spark.read.parquet(sinks.index_path)
    dl = spark.read.parquet(sinks.deadletter_path)
    assert idx.count() == 1
    assert idx.first()["unique_id"] == "b0_m1"
    assert dl.count() == 2
    cats = {r[0] for r in dl.select("dead_letter_error_category").collect()}
    assert cats == {"Metadata parser error"}


def test_restart_from_checkpoint_is_idempotent(spark, tmp_path, chunked_messages):
    """Restarting with the same checkpoint must not duplicate output
    (at-least-once stream, exactly-once table via checkpointed source
    progress — E1 resolution)."""
    _, src = chunked_messages
    cfg = fixtures.fixture_ingest_config()
    sinks = _sinks(tmp_path, "out4")
    q, _ = ingest_stream.run_stream(
        ingest_stream.file_stream(spark, src, max_files_per_trigger=2), cfg, sinks
    )
    assert q.awaitTermination(300)
    n1 = spark.read.parquet(sinks.index_path).count()
    # restart: no new files -> no new batches -> no new rows
    q2, m2 = ingest_stream.run_stream(
        ingest_stream.file_stream(spark, src, max_files_per_trigger=2), cfg, sinks
    )
    assert q2.awaitTermination(300)
    n2 = spark.read.parquet(sinks.index_path).count()
    assert n1 == n2
    assert m2.indexed == 0


def test_multibatch_positions_unique_and_resubmittable(spark, tmp_path, chunked_messages):
    """Micro-batches in the same day/version/broker partition must NOT reuse
    (location_key, location_position) — r1 named blobs after broker_id only
    and restarted positions per batch, so the resubmit join fanned out.
    Asserts global uniqueness AND an exact resubmit round trip over the
    multi-batch output."""
    from persistor_spark.plans import resubmit

    msgs, src = chunked_messages
    cfg = fixtures.fixture_ingest_config()
    sinks = _sinks(tmp_path, "out6")
    q, metrics = ingest_stream.run_stream(
        ingest_stream.file_stream(spark, src, max_files_per_trigger=1), cfg, sinks
    )
    assert q.awaitTermination(300)
    assert metrics.batches >= 3  # the collision needs >1 batch to manifest

    idx = spark.read.parquet(sinks.index_path)
    blobs = spark.read.parquet(sinks.blob_path)
    # index side: non-null (location_key, location_position) is a key
    nn = idx.filter(F.col("location_position").isNotNull())
    assert (
        nn.groupBy("location_key", "location_position").count().filter("count > 1").count() == 0
    )
    # blob side: (location_key, position) is a key
    assert (
        blobs.groupBy("location_key", "position").count().filter("count > 1").count() == 0
    )
    # resubmit round trip: every indexed row aligns to exactly ONE payload,
    # and it is ITS payload (record_id == unique_id)
    records = resubmit.align(idx, blobs)
    assert records.count() == idx.count()
    orig = msgs.select(
        F.concat_ws("_", "broker_id", "broker_msg_id").alias("unique_id"),
        F.col("payload").alias("orig_payload"),
    )
    mismatched = records.join(orig, "unique_id").filter(
        F.col("payload") != F.col("orig_payload")
    )
    assert mismatched.count() == 0


def test_midbatch_crash_replay_is_exactly_once(spark, tmp_path, chunked_messages):
    """Crash AFTER the blob write but BEFORE the index write, then restart:
    the replayed batch must not duplicate blob or index rows (E1 — the
    at-least-once redelivery window the r1 blind append got wrong)."""
    _, src = chunked_messages
    cfg = fixtures.fixture_ingest_config()
    sinks = _sinks(tmp_path, "out7")

    crashed = {"done": False}

    def crash_once(batch_id):
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected: crashed between blob and index write")

    total = ingest_stream.run_stream_supervised(
        lambda: ingest_stream.file_stream(spark, src, max_files_per_trigger=1),
        cfg,
        sinks,
        fault_injector=crash_once,
    )
    assert crashed["done"]
    assert total.batches >= 3

    idx = spark.read.parquet(sinks.index_path)
    blobs = spark.read.parquet(sinks.blob_path)
    assert idx.count() == idx.select("unique_id").distinct().count()
    assert (
        blobs.groupBy("location_key", "record_id").count().filter("count > 1").count() == 0
    )
    # the crashed batch's blob rows were written exactly once despite replay
    assert blobs.count() == idx.count()


def _logged_batch_timestamps(sinks) -> dict:
    """batch_id -> batchTimestampMs from the checkpoint's offset log."""
    import os

    logged = {}
    offsets = os.path.join(sinks.checkpoint_path, "offsets")
    for name in os.listdir(offsets):
        if name.isdigit():
            with open(os.path.join(offsets, name)) as fh:
                meta = json.loads(fh.read().splitlines()[1])
            logged[int(name)] = meta["batchTimestampMs"]
    return logged


def _assert_batch_clocks(idx, skew_s: int, logged: dict) -> None:
    """Every index row's indexer_ingestion_time - skew is its batch's logged
    batchTimestampMs (a source chunk may be empty, so not every logged
    batch indexes rows)."""
    rows = idx.select(
        F.regexp_extract("location_key", r"-b(\d+)\.", 1).cast("int").alias("b"),
        (F.unix_millis("indexer_ingestion_time") - skew_s * 1000).alias("ms"),
    ).distinct()
    got = {(r["b"], r["ms"]) for r in rows.collect()}
    assert len(got) >= 2
    assert got <= set(logged.items())


def test_wallclock_clock_is_the_logged_batch_timestamp(spark, tmp_path, chunked_messages):
    """With no clock column the ingest clock is each micro-batch's
    `offsets/<id>` batchTimestampMs, the timestamp Spark reuses on replay,
    not a per-action current_timestamp()."""
    from dataclasses import replace

    _, src = chunked_messages
    cfg = replace(fixtures.fixture_ingest_config(), clock_column=None)
    sinks = _sinks(tmp_path, "out_clock")
    q, metrics = ingest_stream.run_stream(
        ingest_stream.file_stream(spark, src, max_files_per_trigger=1), cfg, sinks
    )
    assert q.awaitTermination(300)
    assert metrics.batches >= 3
    idx = spark.read.parquet(sinks.index_path)
    _assert_batch_clocks(idx, cfg.indexer_clock_skew_s, _logged_batch_timestamps(sinks))


def test_wallclock_midbatch_crash_replay_is_exactly_once(
    spark, tmp_path, chunked_messages, monkeypatch
):
    """The wall-clock default under a crash between the blob and index
    writes of a batch after batch 0: the replay re-derives the first
    attempt's location_keys, so the blob merge appends nothing and every
    index row resolves to exactly one blob record."""
    from dataclasses import replace

    from persistor_spark.plans import ingest, resubmit

    _, src = chunked_messages
    cfg = replace(fixtures.fixture_ingest_config(), clock_column=None)
    sinks = _sinks(tmp_path, "out8")

    blob_appends = []  # rows appended by each blob merge call, in order
    real_merge = ingest.write_blobs_merge

    def recording_merge(*args, **kwargs):
        n = real_merge(*args, **kwargs)
        blob_appends.append(n)
        return n

    monkeypatch.setattr(ingest, "write_blobs_merge", recording_merge)

    def batch_keys(table, batch_id):
        return {
            r[0]
            for r in table.filter(F.col("location_key").contains(f"-b{batch_id}."))
            .select("location_key")
            .distinct()
            .collect()
        }

    first_attempt = {}
    calls = []

    def crash_once(batch_id):
        calls.append((batch_id, blob_appends[-1]))
        # the first non-empty batch after batch 0 (a source chunk may be
        # empty, and the stream's file order is not fixed)
        if batch_id > 0 and blob_appends[-1] > 0 and not first_attempt:
            first_attempt["batch"] = batch_id
            first_attempt["keys"] = batch_keys(spark.read.parquet(sinks.blob_path), batch_id)
            raise RuntimeError("injected: crashed between blob and index write")

    total = ingest_stream.run_stream_supervised(
        lambda: ingest_stream.file_stream(spark, src, max_files_per_trigger=1),
        cfg,
        sinks,
        fault_injector=crash_once,
    )
    assert total.batches >= 3
    crashed = first_attempt["batch"]
    attempts = [n for b, n in calls if b == crashed]
    assert len(attempts) == 2 and attempts[0] > 0 and attempts[1] == 0

    idx = spark.read.parquet(sinks.index_path)
    blobs = spark.read.parquet(sinks.blob_path)
    assert first_attempt["keys"]
    assert batch_keys(idx, crashed) == first_attempt["keys"]
    assert idx.count() == idx.select("unique_id").distinct().count()
    assert blobs.count() == idx.count()
    assert resubmit.align(idx, blobs).count() == idx.count()
    _assert_batch_clocks(idx, cfg.indexer_clock_skew_s, _logged_batch_timestamps(sinks))


def test_crash_after_later_batch_blob_write_replays_exactly_once(
    spark, tmp_path, chunked_messages
):
    """A crash between the blob and index writes of a batch after batch 0:
    the attempt watermark already holds that batch id, so the replay takes
    the blob anti-join instead of appending its rows a second time."""
    from persistor_spark.plans import ingest

    _, src = chunked_messages
    cfg = fixtures.fixture_ingest_config()
    sinks = _sinks(tmp_path, "out_wm")
    mark = os.path.join(sinks.blob_path, ingest.ATTEMPTED_BATCH_FILE)
    crashed = {}

    def crash_once(batch_id):
        if batch_id > 0 and not crashed:
            with open(mark) as fh:
                crashed[batch_id] = int(fh.read())
            raise RuntimeError("injected: crashed between blob and index write")

    total = ingest_stream.run_stream_supervised(
        lambda: ingest_stream.file_stream(spark, src, max_files_per_trigger=1),
        cfg,
        sinks,
        fault_injector=crash_once,
    )
    assert total.batches >= 3
    ((batch_id, watermark),) = crashed.items()
    assert watermark == batch_id

    idx = spark.read.parquet(sinks.index_path)
    blobs = spark.read.parquet(sinks.blob_path)
    assert (
        blobs.groupBy("location_key", "record_id").count().filter("count > 1").count() == 0
    )
    assert blobs.count() == idx.count()


def test_steady_state_blob_write_is_one_file_per_mask_directory(
    spark, tmp_path, chunked_messages
):
    """Steady-state micro-batches append blobs without reading the blob
    table, and write exactly one file per (mask directory, batch).  A stray
    file in the table root would fail any read or partition discovery of
    the table, so the stream completing shows the blob writes read none.
    The table starts with an attempt watermark below every batch id: an
    existing table without one is deduplicated on every batch's first
    write."""
    from persistor_spark.plans import ingest

    _, src = chunked_messages
    cfg = fixtures.fixture_ingest_config()
    sinks = _sinks(tmp_path, "out_steady")
    os.makedirs(sinks.blob_path)
    with open(os.path.join(sinks.blob_path, ingest.ATTEMPTED_BATCH_FILE), "w") as fh:
        fh.write("-1")
    stray = os.path.join(sinks.blob_path, "stray.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"not a parquet file")
    q, metrics = ingest_stream.run_stream(
        ingest_stream.file_stream(spark, src, max_files_per_trigger=1), cfg, sinks
    )
    assert q.awaitTermination(300)
    assert metrics.batches >= 3
    os.remove(stray)

    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(sinks.blob_path)
        for f in names
        if f.endswith(".parquet")
    ]
    dirs_per_batch = (
        spark.read.parquet(sinks.blob_path)
        .select(
            F.regexp_extract("location_key", r"-b(\d+)\.", 1),
            "__mask_year",
            "__mask_month",
            "__mask_day",
            "__mask_attr_version",
        )
        .distinct()
        .count()
    )
    assert len(files) == dirs_per_batch


def test_kafka_source_options_mapping():
    cfg = fixtures.fixture_ingest_config()
    opts = ingest_stream.kafka_source_options(cfg, "broker:9092", "events")
    assert opts["maxOffsetsPerTrigger"] == str(cfg.batch.batch_size)
    assert opts["kafka.fetch.min.bytes"] == "100"
    assert opts["kafka.fetch.max.bytes"] == str(max(cfg.batch.batch_memory_bytes, 1024))
    assert opts["kafka.fetch.max.wait.ms"] == str(cfg.batch.batch_timeout_s * 1000)
    # decode_kafka selects `headers`; the source only exposes it with this on
    assert opts["includeHeaders"] == "true"


def test_graceful_stop(spark, tmp_path, chunked_messages):
    _, src = chunked_messages
    cfg = fixtures.fixture_ingest_config()
    sinks = _sinks(tmp_path, "out5")
    q, _ = ingest_stream.run_stream(
        ingest_stream.file_stream(spark, src),
        cfg,
        sinks,
        trigger_available_now=False,
        processing_time="1 seconds",
    )
    import time

    time.sleep(8)
    ingest_stream.stop_gracefully(q)
    assert not q.isActive
    # whatever was committed is readable and consistent
    idx = spark.read.parquet(sinks.index_path)
    assert idx.count() >= 0


def test_stream_with_ocf_blob_format(spark, tmp_path, chunked_messages):
    """Streaming ingest writing the reference's Avro OCF blob contract:
    every micro-batch lands one OCF file per blob; the read path + resubmit
    align work unchanged; a replayed batch overwrites byte-identically."""
    from persistor_spark.config import StorageConfig
    from persistor_spark.formats import ocf_io
    from persistor_spark.plans import resubmit

    msgs, src = chunked_messages
    cfg = fixtures.fixture_ingest_config()
    base = tmp_path / "ocfstream"
    sinks = ingest_stream.StreamSinks(
        blob_path=str(base / "blobs"),
        index_path=str(base / "index"),
        deadletter_path=str(base / "dlq"),
        checkpoint_path=str(base / "ckpt"),
        blob_format="ocf",
    )
    q, metrics = ingest_stream.run_stream(
        ingest_stream.file_stream(spark, src, max_files_per_trigger=1), cfg, sinks
    )
    assert q.awaitTermination(300)
    assert metrics.batches >= 3

    idx = spark.read.parquet(sinks.index_path)
    blobs = ocf_io.read_blob_records_ocf(
        spark, sinks.blob_path, blob_base_url=cfg.storage.base_url
    )
    assert blobs.count() == idx.count()
    records = resubmit.align(idx, blobs)
    assert records.count() == idx.count()
    # restart with same checkpoint: no new batches, blob files unchanged
    import glob
    import hashlib

    def digest():
        out = {}
        for f in sorted(glob.glob(sinks.blob_path + "/**/*.avro", recursive=True)):
            out[f] = hashlib.md5(open(f, "rb").read()).hexdigest()
        return out

    before = digest()
    q2, m2 = ingest_stream.run_stream(
        ingest_stream.file_stream(spark, src, max_files_per_trigger=1), cfg, sinks
    )
    assert q2.awaitTermination(300)
    assert m2.indexed == 0
    assert digest() == before


def test_decode_kafka_record_shape(spark):
    """S3 decode: a Kafka-wire-shaped batch (key/value/headers/partition/
    offset/timestamp) maps onto MESSAGE_SCHEMA exactly as the reference's
    iterator emits streamproc.Messages (sender.go:121-133)."""
    import datetime

    rows = [
        (
            b"ok1",
            b'{"x": 1}',
            [("h1", b"v1"), ("h2", b"v2")],
            3,
            42,
            datetime.datetime(2024, 1, 1, 12, 0, 0),
        ),
        (None, b"payload2", None, 0, 7, datetime.datetime(2024, 1, 2)),
    ]
    raw = spark.createDataFrame(
        rows,
        "key binary, value binary, headers array<struct<key:string,value:binary>>, "
        "partition int, offset long, timestamp timestamp",
    )
    got = ingest_stream.decode_kafka(raw, topic="events").collect()
    by_id = {r["broker_msg_id"]: r for r in got}
    r1 = by_id["3-42"]
    assert r1["broker_id"] == "events"
    assert r1["ordering_key"] == "ok1"
    assert r1["payload"] == '{"x": 1}'
    assert r1["attributes"] == {"h1": "v1", "h2": "v2"}
    assert r1["event_seq"] == 42
    r2 = by_id["0-7"]
    assert r2["ordering_key"] is None
    assert r2["attributes"] == {}


def test_dedup_gate_drops_redeliveries(spark, sf_dir, tmp_path):
    """run_stream(dedup_gate=True): at-least-once redeliveries (same
    broker_id+broker_msg_id, later ingestion_time) are dropped by the fused
    stateful gate even with the index merge writer OFF — the index and blobs
    see each key exactly once, and the kept row is the FIRST delivery."""
    msgs = fixtures.load_messages(spark, sf_dir).filter(F.col("event_seq") < 200)
    src = str(tmp_path / "dupsrc")
    first = msgs
    redelivered = msgs.filter(F.col("event_seq") % 2 == 0).withColumn(
        "ingestion_time", F.col("ingestion_time") + F.expr("INTERVAL 1 MINUTE")
    )
    first.unionByName(redelivered).write.parquet(src)

    cfg = fixtures.fixture_ingest_config()
    sinks = _sinks(tmp_path, "gate")
    q, metrics = ingest_stream.run_stream(
        ingest_stream.file_stream(spark, src, max_files_per_trigger=2),
        cfg,
        sinks,
        exactly_once_index=False,
        dedup_gate=True,
        # wider than the fixture's event-time span: file arrival order is
        # arbitrary, and a narrow watermark would drop later-arriving older
        # rows as late data (this test pins dedup, not lateness)
        dedup_gate_watermark="720 hours",
    )
    assert q.awaitTermination(300)

    got = spark.read.parquet(sinks.index_path)
    n_unique = msgs.select("broker_id", "broker_msg_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("unique_id").distinct().count() == n_unique
    # the kept rows are the FIRST deliveries: ingestion_time must equal the
    # original (un-bumped) value for every redelivered key
    orig = msgs.select(
        F.concat_ws("_", "broker_id", "broker_msg_id").alias("unique_id"),
        F.col("ingestion_time").alias("orig_time"),
    )
    joined = got.join(orig, "unique_id")
    assert joined.count() == n_unique
    late = joined.filter(F.col("ingestion_time") != F.col("orig_time"))
    assert late.count() == 0


def test_dedup_gate_state_survives_restart(spark, sf_dir, tmp_path):
    """The gate's per-key state lives in the checkpoint: after a stop and a
    restart on the SAME checkpoint, redeliveries of keys seen BEFORE the
    restart must still be dropped (state restored, not rebuilt empty)."""
    all_msgs = fixtures.load_messages(spark, sf_dir)
    first = all_msgs.filter(F.col("event_seq") < 100)
    src = str(tmp_path / "gatesrc")
    first.coalesce(1).write.parquet(src)

    cfg = fixtures.fixture_ingest_config()
    sinks = _sinks(tmp_path, "gate2")

    def start():
        return ingest_stream.run_stream(
            ingest_stream.file_stream(spark, src, max_files_per_trigger=10),
            cfg,
            sinks,
            exactly_once_index=False,
            dedup_gate=True,
        )

    q, _ = start()
    assert q.awaitTermination(300)
    n1 = spark.read.parquet(sinks.index_path).count()
    n_first = first.select("broker_id", "broker_msg_id").distinct().count()
    assert n1 == n_first

    # second wave: redeliveries of already-seen keys + genuinely new keys
    redelivered = first.filter(F.col("event_seq") % 2 == 0).withColumn(
        "ingestion_time", F.col("ingestion_time") + F.expr("INTERVAL 2 MINUTES")
    )
    new = all_msgs.filter((F.col("event_seq") >= 100) & (F.col("event_seq") < 150))
    wave2 = redelivered.unionByName(new)
    wave2.coalesce(1).write.mode("append").parquet(src)

    q2, _ = start()
    assert q2.awaitTermination(300)
    got = spark.read.parquet(sinks.index_path)
    n_new = new.select("broker_id", "broker_msg_id").distinct().count()
    # redeliveries dropped thanks to RESTORED state; only the new keys added
    assert got.count() == n_first + n_new
    assert got.select("unique_id").distinct().count() == n_first + n_new


def test_incremental_dedup_stream_probes_and_grows_index(spark, sf_dir, tmp_path):
    """run_incremental_dedup_stream: micro-batches probe the persisted LSH
    index AND append their own sketch, so (a) cross pairs vs the seeded
    corpus appear, (b) later batches detect dups against earlier BATCHES,
    and (c) the final pair set equals the batch-mode oracle run."""
    import json as _json

    from persistor_spark.analytics import dedup
    from persistor_spark.sources.registry import load_table
    from persistor_spark.streaming import windows as sw

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    index_path = str(tmp_path / "lsh_index")
    dedup.lsh_index_save(dedup.build_band_table(old), index_path)

    # two JSON micro-batch files (maxFilesPerTrigger=1 -> two batches)
    src = tmp_path / "batches"
    src.mkdir()
    rows = new.collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(src / f"b{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")

    out = str(tmp_path / "pairs")
    q = sw.run_incremental_dedup_stream(
        spark, str(src), index_path, out, str(tmp_path / "ckpt"), threshold=0.8
    )
    assert q.awaitTermination(300)

    got_rows = spark.read.parquet(out).select("new_id", "old_id").collect()
    # the file source may process b0/b1 in EITHER order, which flips the
    # (new, old) direction of cross-batch pairs — compare the two invariant
    # components instead: directed pairs vs the SEED corpus (old_id even),
    # and UNORDERED pairs between the two batches (both odd)
    got_seed = {(r["new_id"], r["old_id"]) for r in got_rows if r["old_id"] % 2 == 0}
    got_cross = {frozenset((r["new_id"], r["old_id"])) for r in got_rows if r["old_id"] % 2 == 1}
    bt_old = dedup.build_band_table(old)
    first_df = new.filter(F.col("doc_id").isin([r["doc_id"] for r in rows[:half]]))
    second_df = new.filter(F.col("doc_id").isin([r["doc_id"] for r in rows[half:]]))
    want_seed = {
        (r["new_id"], r["old_id"])
        for r in dedup.incremental_dup_pairs(new, bt_old, 0.8).collect()
    }
    want_cross = {
        frozenset((r["new_id"], r["old_id"]))
        for r in dedup.incremental_dup_pairs(
            second_df, dedup.build_band_table(first_df), 0.8
        ).collect()
    }
    assert got_seed == want_seed and got_seed
    assert got_cross == want_cross
    # the index grew by both batches' sketches
    grown = dedup.lsh_index_load(spark, index_path)
    assert grown.count() == bt_old.count() + dedup.build_band_table(new).count()


def test_incremental_dedup_stream_periodic_compaction(spark, sf_dir, tmp_path):
    """compact_every=N: after every Nth appended micro-batch the
    band-partitioned index is rewritten to ~one file per band, the pair
    output and the index CONTENTS are unchanged vs an uncompacted run, and
    the final file count is far below the one-file-per-band-per-batch
    growth path."""
    import json as _json
    import os

    from persistor_spark.analytics import dedup
    from persistor_spark.sources.registry import load_table
    from persistor_spark.streaming import windows as sw

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    def run(index_path, out, ckpt, compact_every):
        dedup.lsh_index_save(dedup.build_band_table(old), index_path)
        src = tmp_path / f"batches_{compact_every}"
        src.mkdir()
        rows = new.collect()
        n_batches = 6
        per = max(1, len(rows) // n_batches)
        for i in range(n_batches):
            chunk = rows[i * per : (i + 1) * per] if i < n_batches - 1 else rows[(n_batches - 1) * per :]
            with open(src / f"b{i}.json", "w") as f:
                for r in chunk:
                    f.write(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
        q = sw.run_incremental_dedup_stream(
            spark, str(src), index_path, out, ckpt,
            threshold=0.8, compact_every=compact_every,
        )
        assert q.awaitTermination(300)

    def n_files(p):
        return sum(
            1 for _, _, fs in os.walk(p) for f in fs if f.endswith(".parquet")
        )

    plain_idx, plain_out = str(tmp_path / "idx_plain"), str(tmp_path / "out_plain")
    comp_idx, comp_out = str(tmp_path / "idx_comp"), str(tmp_path / "out_comp")
    run(plain_idx, plain_out, str(tmp_path / "ck1"), compact_every=None)
    run(comp_idx, comp_out, str(tmp_path / "ck2"), compact_every=3)

    # same pairs (unordered: the file source may process batches in either
    # order, flipping the new/old direction of cross-batch pairs), same
    # index contents (as row sets)
    key = lambda r: frozenset((r["new_id"], r["old_id"]))  # noqa: E731
    assert sorted(
        map(sorted, map(key, spark.read.parquet(comp_out).collect()))
    ) == sorted(map(sorted, map(key, spark.read.parquet(plain_out).collect())))
    assert (
        dedup.lsh_index_load(spark, comp_idx).count()
        == dedup.lsh_index_load(spark, plain_idx).count()
    )
    # the compacted layout beat the one-file-per-band-per-batch growth
    assert n_files(comp_idx) < n_files(plain_idx)


def test_ann_ingest_stream_grows_persisted_index(spark, sf_dir, tmp_path):
    """run_ann_ingest_stream: micro-batches encode against the frozen
    quantizer and append into the cid-partitioned cells; a search over the
    loaded index equals the in-memory ivfpq_add result."""
    import json as _json

    from persistor_spark.analytics import similarity
    from persistor_spark.sources.registry import load_table
    from persistor_spark.streaming import windows as sw

    embs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = embs.filter(F.col("vec_id") % 2 == 0)
    newb = embs.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivfpq")
    idx = similarity.ivfpq_build(base, n_centroids=8)
    similarity.ivfpq_save(idx, path)

    src = tmp_path / "vecs"
    src.mkdir()
    rows = newb.collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(src / f"b{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps({"vec_id": r["vec_id"], "embedding": list(r["embedding"])}) + "\n")

    q = sw.run_ann_ingest_stream(spark, str(src), path, str(tmp_path / "ckpt"))
    assert q.awaitTermination(300)

    loaded = similarity.ivfpq_load(spark, path)
    assert loaded.cells.count() == base.count() + newb.count()
    queries_df = embs.filter(F.col("vec_id") < 5)
    got = similarity.ivfpq_search(loaded, queries_df, k=5).collect()
    mem = similarity.ivfpq_search(similarity.ivfpq_add(idx, newb), queries_df, k=5).collect()
    as_t = lambda rs: sorted((r["query_id"], r["vec_id"], r["cos"], r["rank"]) for r in rs)  # noqa: E731
    assert as_t(got) == as_t(mem)


def test_dedup_stream_compact_small_every_preserves_index(spark, sf_dir, tmp_path):
    """`compact_small_every` (r12): the incremental appendix-only
    compaction wired into the streaming dedup runner must leave the
    persisted index CONTENT identical to the uncompacted run while
    keeping the per-band file count bounded — the maintenance policy a
    long-lived stream runs instead of compact_parquet's full rewrite."""
    import glob
    import json as _json
    import os

    from persistor_spark.analytics import dedup
    from persistor_spark.sources.registry import load_table
    from persistor_spark.streaming import windows as sw

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    index_path = str(tmp_path / "lsh_index")
    dedup.lsh_index_save(dedup.build_band_table(old), index_path)
    src = tmp_path / "batches"
    src.mkdir()
    rows = new.collect()
    third = max(1, len(rows) // 3)
    for i, chunk in enumerate((rows[:third], rows[third : 2 * third], rows[2 * third :])):
        with open(src / f"b{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")

    q = sw.run_incremental_dedup_stream(
        spark,
        str(src),
        index_path,
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
        threshold=0.8,
        compact_small_every=1,
    )
    assert q.awaitTermination(300)

    # (id, band) uniquely keys an index row; the persisted layout keeps
    # `sh` only on band-0 rows, so the batch-sketch expectation goes
    # through the same slim projection (and tuples with None sh need an
    # explicit sort key)
    key = lambda t: (t[0], t[2])  # noqa: E731
    got = sorted(
        (tuple(r) for r in dedup.lsh_index_load(spark, index_path).collect()), key=key
    )
    want = sorted(
        (tuple(r) for r in dedup._index_rows(dedup.build_band_table(docs)).collect()),
        key=key,
    )
    assert got == want, "compacted streamed index diverged from the batch sketch"
    # bounded growth: 3 appendix cycles merged down — no band dir holds
    # base + one-file-per-batch
    per_band = {}
    for f in glob.glob(f"{index_path}/band=*/*.parquet"):
        d = os.path.dirname(f)
        per_band[d] = per_band.get(d, 0) + 1
    assert per_band and max(per_band.values()) <= 3, per_band
    # no maintenance debris
    assert glob.glob(f"{index_path}.__smallcompact_*") == []
