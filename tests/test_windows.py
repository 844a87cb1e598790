"""Event-time window operators: batch twins + streaming execution through a
file stream (availableNow)."""

import pytest
from pyspark.sql import functions as F

from persistor_spark import fixtures
from persistor_spark.streaming import ingest_stream, windows


@pytest.fixture(scope="module")
def msgs(spark, sf_dir):
    return fixtures.load_messages(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def streamed(spark, sf_dir, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("winsrc"))
    fixtures.load_messages(spark, sf_dir).write.parquet(p, mode="overwrite")
    return p


def _run_to_memory(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if "first_seen" in df.columns else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(f"SELECT * FROM {name}")


def test_sliding_throughput_overlap(msgs):
    out = windows.sliding_throughput(msgs, window="2 hours", slide="1 hour")
    # each message lands in exactly window/slide = 2 windows
    total = out.agg(F.sum("messages")).collect()[0][0]
    assert total == 2 * msgs.count()


def test_session_windows_gap(msgs):
    out = windows.session_windows(msgs, gap="30 minutes")
    keyed = msgs.filter(F.col("ordering_key").isNotNull())
    assert out.agg(F.sum("n")).collect()[0][0] == keyed.count()
    # session bounds ordered
    assert out.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_streaming_first_seen_dedup(spark, tmp_path, sf_dir):
    """Duplicate-bearing stream: each unique_id is marked first_seen exactly
    once across micro-batches."""
    msgs = fixtures.load_messages(spark, sf_dir).limit(200)
    dup = msgs.unionByName(msgs)  # redelivery simulation
    src = str(tmp_path / "dupsrc")
    dup.repartition(4).write.parquet(src)

    stream = ingest_stream.file_stream(spark, src, max_files_per_trigger=1)
    keyed = stream.withColumn(
        "unique_id", F.concat_ws("_", "broker_id", "broker_msg_id")
    )
    # watermark WIDER than the fixture's multi-day event-time span: the
    # 4 chunk files arrive in mtime order, which is arbitrary for a
    # parallel write — with a narrow watermark an unlucky order drops
    # later-arriving older rows as late data (observed flake: 102/200).
    # This test pins exactly-once marking; eviction semantics have their
    # own test (test_dedup_gate_state_is_evicted_past_retention).
    out = windows.streaming_first_seen(keyed, watermark="720 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("firstseen")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    res = spark.sql("SELECT * FROM firstseen")
    firsts = res.filter(F.col("first_seen"))
    assert firsts.count() == 200
    assert firsts.select("unique_id").distinct().count() == 200


def test_session_windows_streaming_equals_batch(spark, msgs, streamed):
    stream = ingest_stream.file_stream(spark, streamed, max_files_per_trigger=10)
    q = (
        windows.session_windows(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM sessions_stream")
    want = windows.session_windows(msgs, gap="30 minutes")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_text_analytics_compose_with_streaming(spark, streamed):
    """Analytics expressions are narrow ops, so they run unchanged on a
    streaming DataFrame: per-window average payload quality."""
    from persistor_spark.analytics import text

    stream = ingest_stream.file_stream(spark, streamed, max_files_per_trigger=10)
    scored = stream.withColumn("tok_n", text.token_count("payload")).withColumn(
        "fp", text.fingerprint("payload")
    )
    agg = (
        scored.withWatermark("ingestion_time", "2 hours")
        .groupBy(F.window("ingestion_time", "1 day").alias("w"))
        .agg(
            F.avg("tok_n").alias("avg_tokens"),
            F.approx_count_distinct("fp").alias("approx_distinct_payloads"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("qmon")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM qmon").collect()
    assert len(rows) >= 25  # ~30 days of fixture data
    assert all(r["avg_tokens"] > 0 for r in rows)


def test_watermark_drops_late_events(spark, tmp_path):
    """E semantics at the stream boundary: an event older than the watermark
    arriving in a LATER micro-batch is dropped from the windowed aggregate
    (append mode) — the documented late-data contract of every windowed op
    here.  On-time batch: events at 01:30 and 03:30 advance the watermark to
    01:30 (max - 2h); late batch: an event at 00:30 < watermark lands in an
    already-finalized window and must not appear."""
    import os
    import time

    from pyspark.sql import Row

    schema = "ordering_key string, ingestion_time timestamp, payload string"

    def write_chunk(rows, name, mtime):
        # flat single parquet FILES in one dir (not subdirs) so the file
        # stream's oldest-first mtime ordering is unambiguous
        import glob
        import shutil

        df = spark.createDataFrame(rows, schema)
        staging = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.parquet(staging)
        part = glob.glob(staging + "/part-*.parquet")[0]
        dest = str(tmp_path / "late_src" / (name + ".parquet"))
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))
        return dest

    import datetime

    D = datetime.datetime
    base = str(tmp_path / "late_src")
    os.makedirs(base, exist_ok=True)
    now = time.time()
    write_chunk(
        [("k1", D(2024, 1, 1, 1, 30), "on-time"), ("k1", D(2024, 1, 1, 3, 30), "on-time")],
        "f1",
        now - 200,
    )
    # spacer batch: the late-record filter uses the PREVIOUS batch's
    # watermark, so the 03:30 max needs one extra batch to take effect
    write_chunk([("k1", D(2024, 1, 1, 5, 30), "on-time")], "f2", now - 100)
    write_chunk([("k1", D(2024, 1, 1, 0, 30), "LATE")], "f3", now)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(base)
    )
    agg = (
        stream.withWatermark("ingestion_time", "2 hours")
        .groupBy(F.window("ingestion_time", "1 hour").alias("w"), "ordering_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "ordering_key", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {(r["ws"], r["n"]) for r in spark.sql("SELECT * FROM late_drop").collect()}
    # the late event's window must never be emitted: the event was dropped
    # by the watermark filter, and the window held no on-time rows
    assert not any(ws == D(2024, 1, 1, 0, 0) for ws, _ in got), got
    # on-time windows below the final watermark WERE emitted
    assert (D(2024, 1, 1, 1, 0), 1) in got, got


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join (impression->click attribution):
    streaming result == the batch join over the same data, and clicks
    outside the attribution window never match."""
    import datetime

    D = datetime.datetime
    imp_schema = "ad_id string, imp_ts timestamp"
    clk_schema = "ad_id string, clk_ts timestamp"
    impressions = [
        ("a", D(2024, 1, 1, 10, 0)),
        ("b", D(2024, 1, 1, 10, 5)),
        ("c", D(2024, 1, 1, 11, 0)),
    ]
    clicks = [
        ("a", D(2024, 1, 1, 10, 4)),   # within 10 min -> match
        ("b", D(2024, 1, 1, 10, 30)),  # 25 min late -> no match
        ("c", D(2024, 1, 1, 10, 59)),  # before impression -> no match
        ("a", D(2024, 1, 1, 10, 9)),   # second click within window -> match
    ]
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    spark.createDataFrame(impressions, imp_schema).write.parquet(imp_dir)
    spark.createDataFrame(clicks, clk_schema).write.parquet(clk_dir)

    imp_s = spark.readStream.schema(imp_schema).parquet(imp_dir)
    clk_s = spark.readStream.schema(clk_schema).parquet(clk_dir)
    joined = windows.interval_join(imp_s, clk_s, "ad_id", "imp_ts", "clk_ts")
    q = (
        joined.select("l.ad_id", "imp_ts", "clk_ts")
        .writeStream.format("memory")
        .queryName("ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["ad_id"], r["clk_ts"]) for r in spark.sql("SELECT * FROM ssjoin").collect()
    }
    assert got == {("a", D(2024, 1, 1, 10, 4)), ("a", D(2024, 1, 1, 10, 9))}

    # batch twin: same operator, same result (watermark no-op in batch)
    batch = windows.interval_join(
        spark.read.parquet(imp_dir), spark.read.parquet(clk_dir),
        "ad_id", "imp_ts", "clk_ts",
    )
    bgot = {(r["ad_id"], r["clk_ts"]) for r in batch.select("l.ad_id", "clk_ts").collect()}
    assert bgot == got


def test_first_seen_batch_keeps_earliest(spark):
    from pyspark.sql import functions as F

    from persistor_spark.streaming import windows

    df = spark.createDataFrame(
        [
            ("b1", "m1", "2024-01-01 00:00:00", 1),
            ("b1", "m1", "2024-01-01 00:01:00", 5),  # redelivery: dropped
            ("b1", "m2", "2024-01-01 00:02:00", 2),
            ("b2", "m1", "2024-01-01 00:00:30", 3),
            ("b1", "m1", "2024-01-01 00:00:00", 0),  # same ts: tiebreak on seq
        ],
        "broker_id string, broker_msg_id string, ingestion_time string, event_seq long",
    ).withColumn("ingestion_time", F.to_timestamp("ingestion_time"))
    kept = windows.first_seen_batch(df).collect()
    by_key = {(r["broker_id"], r["broker_msg_id"]): r for r in kept}
    assert len(kept) == 3
    assert by_key[("b1", "m1")]["event_seq"] == 0
    assert by_key[("b1", "m2")]["event_seq"] == 2
    assert by_key[("b2", "m1")]["event_seq"] == 3


def test_dedup_gate_state_is_evicted_past_retention(spark, tmp_path):
    """The gate's bounded-memory claim is real: a key's state is removed by
    the event-time timer once the watermark passes last-seen + retention,
    after which a (very) late redelivery passes the gate again — the
    documented tail the idempotent merge writers absorb.  Four ordered
    micro-batches: K seen, two fillers advance the watermark past K's
    horizon (eviction), K redelivered -> emitted a second time."""
    import os
    import time as _time

    from persistor_spark.schemas import MESSAGE_SCHEMA

    def msg(bid, mid, ts):
        return {
            "broker_id": bid,
            "broker_msg_id": mid,
            "ingestion_time": ts,
            "payload": "p",
        }

    from datetime import datetime

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    t1 = datetime(2024, 1, 1, 11, 0, 0)
    t2 = datetime(2024, 1, 1, 12, 0, 0)
    t3 = datetime(2024, 1, 1, 13, 0, 0)
    src = str(tmp_path / "evict_src")
    os.makedirs(src)
    chunks = [
        [msg("b", "K", t0)],
        [msg("b", "F1", t1)],  # advances watermark past K's horizon
        [msg("b", "F2", t2)],  # K times out in this batch (no K input)
        [msg("b", "K", t3)],  # redelivery AFTER eviction
    ]
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, MESSAGE_SCHEMA).coalesce(1).write.parquet(
            f"{src}/c{i}"
        )
        now = _time.time()
        for dp, _, fs in os.walk(f"{src}/c{i}"):
            for f in fs:
                os.utime(os.path.join(dp, f), (now + i, now + i))

    stream = ingest_stream.file_stream(spark, f"{src}/c*", max_files_per_trigger=1)
    out = windows.dedup_gate_rows(stream, watermark="1 second")
    q = (
        out.writeStream.format("memory")
        .queryName("evict_gate")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    res = spark.sql("SELECT broker_msg_id FROM evict_gate").collect()
    got = sorted(r["broker_msg_id"] for r in res)
    # K passes TWICE (state evicted in between); fillers once each
    assert got == ["F1", "F2", "K", "K"]


def test_parse_json_stream_does_not_mutate_message_schema(spark):
    """StructType.add mutates in place — parse_json_stream must build its
    corrupt-record schema on a COPY, or every later MESSAGE_SCHEMA user
    (file_stream, createDataFrame) sees a phantom __corrupt field."""
    from persistor_spark.schemas import MESSAGE_SCHEMA

    n_before = len(MESSAGE_SCHEMA.fields)
    raw = spark.createDataFrame([("{}",), ("not json",)], "value string")
    ingest_stream.parse_json_stream(raw).collect()
    ingest_stream.parse_json_stream(raw).collect()  # twice: add would stack
    assert len(MESSAGE_SCHEMA.fields) == n_before
    assert all(f.name != "__corrupt" for f in MESSAGE_SCHEMA.fields)


def test_windowed_dup_rate_streaming_equals_batch_closed_windows(spark, tmp_path):
    """r9: the chained stateful aggregation (per-(window,key) counts ->
    per-window dup stats) runs under Structured Streaming in append mode
    (Spark >= 3.4 multi-stateful support), and the emitted CLOSED windows
    match the batch twin row for row.  Open windows (not yet past the
    watermark when the source drains) stay in state — asserted by
    checking the emitted set is a prefix of the batch result."""
    import json
    import os

    src = str(tmp_path / "dsrc")
    os.makedirs(src)
    rows1 = [
        {"ts": f"2024-01-01T0{h}:00:0{i}", "user_id": i % 3, "event_type": "view"}
        for h in range(2)
        for i in range(6)
    ]
    rows2 = [
        {"ts": f"2024-01-01T0{h}:30:0{i}", "user_id": i % 2, "event_type": "click"}
        for h in range(2, 4)
        for i in range(4)
    ]
    with open(f"{src}/a.json", "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in rows1))
    with open(f"{src}/b.json", "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in rows2))
    schema = "ts timestamp, user_id long, event_type string"

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    q = (
        windows.windowed_dup_rate(
            stream, "1 hour", ("user_id", "event_type"), "ts", watermark="2 hours"
        )
        .writeStream.format("memory")
        .queryName("duprate_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT window_start, n_rows, n_keys, dup_rate FROM duprate_stream"
        ).collect()
    }

    batch = windows.windowed_dup_rate(
        spark.read.schema(schema).json(src), "1 hour", ("user_id", "event_type"), "ts"
    )
    expected = {tuple(r) for r in batch.collect()}
    # closed windows only: final watermark = max_ts - 2h -> exactly the
    # first hour window closes for this fixture
    assert got, "no window emitted — chained stateful agg produced nothing"
    assert got <= expected, f"stream rows disagree with batch: {got - expected}"
    # a window closes when the watermark passes its END: final watermark
    # = 03:30 - 2h = 01:30, so only the 00:00-01:00 window is closed
    import datetime

    wm = datetime.datetime(2024, 1, 1, 1, 30)
    closed = {t for t in expected if t[0] + datetime.timedelta(hours=1) <= wm}
    assert got == closed


def test_run_dup_rate_stream_sinks_closed_windows(spark, tmp_path):
    """r9: the dup-rate monitor as a running query — closed windows land
    exactly once in the parquet sink and equal the batch twin; a SECOND
    availableNow run over the same checkpoint adds nothing (no
    reprocessing, no duplicate window rows)."""
    import json
    import os

    src = str(tmp_path / "msrc")
    os.makedirs(src)
    # one file per day, processed as ONE batch (default unbatched
    # reader): availableNow's final no-data micro-batch applies the last
    # watermark, so day 1's window closes into the sink in a single run
    import time as _time

    now = _time.time()
    for d in (1, 2):
        # day 2's events sit at 03:00-04:00 so its batch's watermark
        # (max - 2h = day2 02:00) passes day 1's window END and closes it
        hours = (0, 1) if d == 1 else (3, 4)
        rows = [
            {"event_id": d * 100 + h * 10 + i, "user_id": i % 3,
             "event_type": "view", "ts": f"2024-01-0{d}T0{h}:00:0{i}"}
            for h in hours
            for i in range(4)
        ]
        path = f"{src}/day{d}.json"
        with open(path, "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in rows))
        os.utime(path, (now - 200 + d * 100, now - 200 + d * 100))
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = windows.run_dup_rate_stream(
        spark, src, out, ckpt, window="1 day", watermark="2 hours"
    )
    q.awaitTermination(300)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got, "no closed window reached the sink"

    batch = windows.windowed_dup_rate(
        spark.read.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        ).json(src),
        "1 day",
        ("user_id", "event_type"),
        "ts",
    )
    expected = {tuple(r) for r in batch.collect()}
    assert got <= expected  # every sunk row matches the batch twin
    # day 1 closed (watermark = day2 01:00:03 - 2h passes day1's end)
    assert {r[0].day for r in got} == {1}

    q2 = windows.run_dup_rate_stream(
        spark, src, out, ckpt, window="1 day", watermark="2 hours"
    )
    q2.awaitTermination(300)
    again = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert again == got  # checkpoint resume: exactly-once, no re-emit


def _write_two_day_feed(src):
    """Shared fixture shape for the r10 runners: two json files (one per
    day, mtime-ordered), day 2 at 03:00+ so its watermark (max - 2h)
    closes day 1's window.  user 9 appears ONLY on day 2 (a new key);
    users 0-2 recur."""
    import json
    import os
    import time as _time

    os.makedirs(src)
    now = _time.time()
    for d in (1, 2):
        hours = (0, 1) if d == 1 else (3, 4)
        rows = [
            {"event_id": d * 100 + h * 10 + i, "user_id": i % 3,
             "event_type": "view" if i % 2 == 0 else "click",
             "ts": f"2024-01-0{d}T0{h}:00:0{i}"}
            for h in hours
            for i in range(4)
        ]
        if d == 2:
            rows.append({"event_id": 999, "user_id": 9, "event_type": "view",
                         "ts": "2024-01-02T03:00:09"})
        path = f"{src}/day{d}.json"
        with open(path, "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in rows))
        os.utime(path, (now - 200 + d * 100, now - 200 + d * 100))


def test_run_category_counts_stream_drift_equals_batch(spark, tmp_path):
    """r10 (r9 VERDICT #4): the drift monitor's streaming half sinks
    closed per-(window, category) counts; category_drift_from_counts over
    the sink equals windowed_category_drift's rows for closed windows —
    same _drift_from_counts tail, so equality is structural, and the
    checkpoint resume adds nothing."""
    src = str(tmp_path / "csrc")
    _write_two_day_feed(src)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    out, ckpt = str(tmp_path / "csink"), str(tmp_path / "cckpt")
    q = windows.run_category_counts_stream(
        spark, src, out, ckpt, schema=schema, window="1 day", watermark="2 hours"
    )
    q.awaitTermination(300)
    sunk = spark.read.parquet(out)
    closed_days = {r["ws"].day for r in sunk.collect()}
    assert closed_days == {1}, "only day 1 is past the final watermark"

    got = {
        tuple(r)
        for r in windows.category_drift_from_counts(spark, out, "1 day").collect()
    }
    batch_all = windows.windowed_category_drift(
        spark.read.schema(schema).json(src), "1 day"
    )
    expected = {
        tuple(r) for r in batch_all.collect() if r["window_start"].day in closed_days
    }
    assert got == expected and got  # day 1: no predecessor -> NULL drift row

    q2 = windows.run_category_counts_stream(
        spark, src, out, ckpt, schema=schema, window="1 day", watermark="2 hours"
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == sunk.count()  # no re-emit


def test_run_new_key_rate_stream_equals_batch(spark, tmp_path):
    """r10 (r9 VERDICT #4): the novelty monitor — a chained windowed agg
    (totals) plus an applyInPandasWithState first-occurrence ledger — and
    new_key_rate_from_sinks equals window_new_key_rate on closed windows;
    a checkpoint-resumed second run adds nothing to either sink."""
    src = str(tmp_path / "nsrc")
    _write_two_day_feed(src)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    tot, led = str(tmp_path / "tot"), str(tmp_path / "led")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    qt, ql = windows.run_new_key_rate_stream(
        spark, src, tot, led, ck1, ck2, schema=schema, window="1 day",
        watermark="2 hours",
    )
    qt.awaitTermination(300)
    ql.awaitTermination(300)

    # ledger: exactly one first-occurrence row per key the watermark admitted
    ledger = spark.read.parquet(led)
    assert ledger.groupBy("user_id").count().filter("count > 1").count() == 0
    # users 0,1,2 first appear on day 1; user 9 only exists on day 2
    first_days = {r["user_id"]: r["first_ts"].day for r in ledger.collect()}
    assert first_days[0] == 1 and first_days.get(9, 2) == 2

    got = {
        tuple(r)
        for r in windows.new_key_rate_from_sinks(spark, tot, led, "1 day").collect()
    }
    batch_all = windows.window_new_key_rate(
        spark.read.schema(schema).json(src), "user_id", "1 day", "ts", "event_id"
    )
    closed_days = {t[0].day for t in got}
    assert closed_days == {1}, "only day 1's totals are past the final watermark"
    expected = {
        tuple(r) for r in batch_all.collect() if r["window_start"].day in closed_days
    }
    assert got == expected and got

    qt2, ql2 = windows.run_new_key_rate_stream(
        spark, src, tot, led, ck1, ck2, schema=schema, window="1 day",
        watermark="2 hours",
    )
    qt2.awaitTermination(300)
    ql2.awaitTermination(300)
    assert spark.read.parquet(led).count() == ledger.count()
    assert {
        tuple(r)
        for r in windows.new_key_rate_from_sinks(spark, tot, led, "1 day").collect()
    } == got


def _write_day_file(src, name, rows, mtime):
    import json
    import os

    os.makedirs(src, exist_ok=True)
    path = f"{src}/{name}.json"
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in rows))
    os.utime(path, (mtime, mtime))
    return path


def _ev(eid, uid, day, hour, sec, etype="view"):
    return {"event_id": eid, "user_id": uid, "event_type": etype,
            "ts": f"2024-01-0{day}T0{hour}:00:0{sec}"}


def test_ledger_survives_micro_batches_and_incremental_feed(spark, tmp_path):
    """r11 (r10 VERDICT #1): the applyInPandasWithState first-occurrence
    ledger across REAL micro-batch boundaries (maxFilesPerTrigger=1) AND
    an incremental feed appended between two availableNow runs.  A day-1
    key seen again in a later micro-batch of the SAME run, or in a NEW
    run after checkpoint restart, must NOT be re-admitted as new (its
    GroupState survived); keys genuinely first appearing later must be.
    This is where a state-eviction bug would hide — the redelivery-matrix
    analogue (handler_test.go:429-645) applied to state."""
    import time as _time

    src = str(tmp_path / "isrc")
    now = _time.time()
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    # run 1: TWO day-1 files -> two micro-batches under maxFilesPerTrigger=1;
    # users 0-2 appear in BOTH (the within-run cross-batch re-appearance)
    _write_day_file(src, "d1a", [_ev(100 + i, i, 1, 0, i) for i in range(3)], now - 500)
    _write_day_file(src, "d1b", [_ev(110 + i, i, 1, 1, i) for i in range(3)], now - 400)

    tot, led = str(tmp_path / "tot"), str(tmp_path / "led")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    def _run():
        qt, ql = windows.run_new_key_rate_stream(
            spark, src, tot, led, ck1, ck2, schema=schema, window="1 day",
            watermark="2 hours", max_files_per_trigger=1,
        )
        assert qt.awaitTermination(300) and ql.awaitTermination(300)

    _run()
    ledger1 = {r["user_id"]: r["first_ts"] for r in spark.read.parquet(led).collect()}
    assert set(ledger1) == {0, 1, 2}, "cross-batch re-appearance re-admitted"
    assert all(ts.day == 1 and ts.hour == 0 for ts in ledger1.values()), (
        "first_ts must come from the key's FIRST micro-batch"
    )

    # incremental feed BETWEEN runs: day 2 re-delivers users 0-2 plus the
    # genuinely-new user 9; day 3 re-delivers user 9 plus the new user 7
    _write_day_file(
        src, "d2",
        [_ev(200 + i, i, 2, 3, i) for i in range(3)] + [_ev(299, 9, 2, 3, 9)],
        now - 300,
    )
    _write_day_file(src, "d3", [_ev(300, 9, 3, 3, 0), _ev(301, 7, 3, 3, 1)], now - 200)
    _run()

    ledger2 = {r["user_id"]: r["first_ts"] for r in spark.read.parquet(led).collect()}
    assert spark.read.parquet(led).count() == 5, "a key was re-admitted as new"
    assert {u: t.day for u, t in ledger2.items()} == {0: 1, 1: 1, 2: 1, 9: 2, 7: 3}
    # the day-1 rows are the ORIGINAL emissions, byte-identical
    assert all(ledger2[u] == ledger1[u] for u in (0, 1, 2))

    # the composed monitor still equals the batch twin on closed windows
    got = {
        tuple(r)
        for r in windows.new_key_rate_from_sinks(spark, tot, led, "1 day").collect()
    }
    batch_all = windows.window_new_key_rate(
        spark.read.schema(schema).json(src), "user_id", "1 day", "ts", "event_id"
    )
    closed_days = {t[0].day for t in got}
    assert closed_days == {1, 2}, "day 3's watermark must close days 1-2"
    expected = {
        tuple(r) for r in batch_all.collect() if r["window_start"].day in closed_days
    }
    assert got == expected


def test_category_counts_state_merges_across_runs(spark, tmp_path):
    """r11 (r10 VERDICT #1): the windowed-agg half under
    maxFilesPerTrigger=1 with an incremental feed — a window OPEN at the
    end of run 1 (day 2, partially counted) must keep its partial count
    in checkpointed state and merge run 2's additional day-2 rows into
    ONE emitted row when day 3 finally closes it; day 1 (closed in run 1)
    must not re-emit."""
    import time as _time

    src = str(tmp_path / "csrc2")
    now = _time.time()
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    _write_day_file(src, "d1a", [_ev(100 + i, i, 1, 0, i) for i in range(3)], now - 600)
    _write_day_file(src, "d1b", [_ev(110 + i, i, 1, 1, i, "click") for i in range(2)], now - 500)
    # day 2 part 1: closes day 1, leaves day 2 OPEN with 2 'view' rows
    _write_day_file(src, "d2a", [_ev(200 + i, i, 2, 3, i) for i in range(2)], now - 400)
    out, ckpt = str(tmp_path / "csink2"), str(tmp_path / "cckpt2")

    def _run():
        q = windows.run_category_counts_stream(
            spark, src, out, ckpt, schema=schema, window="1 day",
            watermark="2 hours", max_files_per_trigger=1,
        )
        assert q.awaitTermination(300)

    _run()
    day1 = {(r["event_type"], r["n"]) for r in spark.read.parquet(out).collect()}
    assert day1 == {("view", 3), ("click", 2)}, "day-1 counts wrong or day 2 leaked"

    # run 2: MORE day-2 rows (merged into surviving state) + day 3 closes it
    _write_day_file(
        src, "d2b",
        [_ev(210, 5, 2, 4, 0), _ev(211, 6, 2, 4, 1, "click")],
        now - 300,
    )
    _write_day_file(src, "d3", [_ev(300, 0, 3, 3, 0)], now - 200)
    _run()
    sunk = spark.read.parquet(out)
    day2 = {
        (r["event_type"], r["n"]) for r in sunk.collect() if r["ws"].day == 2
    }
    assert day2 == {("view", 3), ("click", 1)}, (
        "run-1 partial count lost or double-counted across the restart"
    )
    assert sunk.filter("day(ws) = 1").count() == 2, "closed day 1 re-emitted"

    # and the composed drift equals the batch twin on closed windows
    got = {
        tuple(r)
        for r in windows.category_drift_from_counts(spark, out, "1 day").collect()
    }
    batch_all = windows.windowed_category_drift(
        spark.read.schema(schema).json(src), "1 day"
    )
    expected = {
        tuple(r) for r in batch_all.collect() if r["window_start"].day in (1, 2)
    }
    assert got == expected


def test_ledger_eviction_readmits_expired_key(spark, tmp_path):
    """r11: the OTHER arm of the retention contract — an evicted key
    re-emits as new (the documented 'ever seen within retention' tail).
    retention='1 hour' + watermark='2 hours': eviction timers sit at
    last_seen + 3h, and timers fire when the END-OF-BATCH watermark
    passes them — so a middle run whose day-2 data advances the watermark
    evicts day 1's state (state.hasTimedOut -> remove, the path no other
    test reaches), and user 0's day-3 re-appearance in a THIRD run IS
    re-admitted as new.  (A re-appearance in the same batch that advances
    the watermark is absorbed by the still-live state — timers are
    checked after data, the standard GroupState contract.)"""
    import time as _time

    src = str(tmp_path / "esrc")
    now = _time.time()
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    _write_day_file(src, "d1", [_ev(100, 0, 1, 0, 0), _ev(101, 1, 1, 0, 1)], now - 500)
    led, ck = str(tmp_path / "led"), str(tmp_path / "ck")

    def _run():
        q = (
            windows.streaming_new_key_ledger(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .json(src),
                "user_id", "ts", "event_id",
                watermark="2 hours", retention="1 hour",
            )
            .writeStream.format("parquet")
            .option("path", led)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    _run()
    assert spark.read.parquet(led).count() == 2

    # middle run: user 5 on day 2 advances the end-of-batch watermark to
    # day2 04:00, past day 1's timers (day1 03:00) -> users 0/1 evicted
    _write_day_file(src, "d2", [_ev(200, 5, 2, 6, 0)], now - 400)
    _run()
    assert spark.read.parquet(led).count() == 3

    # day 3: user 0 re-appears AFTER its state was evicted; user 1 does not
    _write_day_file(src, "d3", [_ev(300, 0, 3, 5, 0)], now - 300)
    _run()
    rows = spark.read.parquet(led).collect()
    days = sorted((r["user_id"], r["first_ts"].day) for r in rows)
    assert days == [(0, 1), (0, 3), (1, 1), (5, 2)], (
        "evicted key must re-emit as new exactly once"
    )
