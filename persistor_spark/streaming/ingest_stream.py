"""Streaming ingest: the reference's Core+Indexer services as ONE Structured
Streaming query (SURVEY.md §3.1-3.2 Spark shape).

    source (Kafka / files) --> parse+validate --> foreachBatch:
        run_batch(...)  -> blob table (partitioned avro/parquet)
                        -> index_metadata table
                        -> dead-letter table

Semantics mapping (reference -> Spark):
- BatchSettings (5000 msgs / 30 s / 1 MB, persistor.toml:79-82) ->
  `maxOffsetsPerTrigger` + `Trigger.ProcessingTime` + fetch byte caps
  (kafka_source_options).
- per-message nack (E1, persistor.go:131-163) -> micro-batch replay from the
  checkpoint + idempotent sink; granularity is the batch, table state is
  exactly-once (SURVEY.md §7.3 hard point 1).
- strict JSON decode + validation (T7, transform.go:54-82) -> from_json with
  a corrupt-record escape column; corrupt/invalid rows -> DLQ with reason
  attributes instead of failing the query.
- graceful drain (E6, run.go:66-72) -> query.stop() lets the in-flight
  micro-batch finish.

Scale: foreachBatch writes are partitioned by the mask columns (partition
pruning for readers).  In a steady-state micro-batch each sink shuffles its
rows once for its position window (plans.ingest.run_batch): the blob sink on
the blob directory, an exchange its write reuses, the index sink on
location_key.  The index sink adds its unique_id anti-join.  A replayed
batch adds the blob anti-join on (location_key, record_id) and the mask
repartition after it (plans.ingest.write_blobs_merge states the dispatch
rule).  Checkpointing bounds replay; a Delta MERGE on
unique_id upgrades the index to exactly-once on clusters that carry Delta.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from persistor_spark.config import IngestConfig
from persistor_spark.plans import ingest
from persistor_spark.schemas import MESSAGE_SCHEMA


def kafka_source_options(cfg: IngestConfig, bootstrap: str, topic: str) -> dict:
    """Kafka source tuning derived from BatchSettings exactly as the
    reference's iterator does (iterator.go:27-61: MinBytes 100, MaxBytes =
    BatchMemory floor 1024, MaxWait = BatchTimeout, MaxPollRecords =
    BatchSize)."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": str(cfg.batch.batch_size),
        "kafka.fetch.min.bytes": "100",
        "kafka.fetch.max.bytes": str(max(cfg.batch.batch_memory_bytes, 1024)),
        "kafka.fetch.max.wait.ms": str(cfg.batch.batch_timeout_s * 1000),
        "failOnDataLoss": "false",
        # decode_kafka maps headers -> attributes; the Spark Kafka source
        # only exposes the headers column when this is set (without it the
        # query dies at analysis with UNRESOLVED_COLUMN on any real broker)
        "includeHeaders": "true",
    }


def kafka_stream(spark: SparkSession, cfg: IngestConfig, bootstrap: str, topic: str) -> DataFrame:
    """readStream plan for a Kafka broker (untested locally — no broker in the
    container; the file_stream path exercises everything downstream)."""
    raw = spark.readStream.format("kafka").options(**kafka_source_options(cfg, bootstrap, topic))
    return decode_kafka(raw.load(), topic)


def decode_kafka(raw: DataFrame, topic: str) -> DataFrame:
    """Kafka record -> message row: key/value/headers/timestamp mapped onto
    MESSAGE_SCHEMA (the streamproc.Message shape, sender.go:121-133)."""
    return raw.select(
        F.lit(topic).alias("broker_id"),
        F.concat(F.col("partition").cast("string"), F.lit("-"), F.col("offset").cast("string")).alias(
            "broker_msg_id"
        ),
        F.col("key").cast("string").alias("ordering_key"),
        F.col("value").cast("string").alias("payload"),
        F.map_from_entries(
            F.transform(
                F.coalesce("headers", F.array()),
                lambda h: F.struct(h["key"].alias("k"), h["value"].cast("string").alias("v")),
            )
        ).alias("attributes"),
        F.lit(None).cast("string").alias("business_source_key"),
        F.lit(None).cast("string").alias("business_object_key"),
        F.lit(None).cast("string").alias("attr_version"),
        F.col("timestamp").alias("publish_time"),
        F.current_timestamp().alias("ingestion_time"),
        F.col("offset").alias("event_seq"),
        F.lit(None).cast("string").alias("event_type"),
    )


def file_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Parquet-directory stream of MESSAGE_SCHEMA rows — the local test
    source standing in for a broker (SURVEY.md §5: file source replaces
    embedded Kafka)."""
    return (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def parse_json_stream(raw: DataFrame, payload_col: str = "value") -> DataFrame:
    """Strict JSON decode with DLQ escape (T7: DisallowUnknownFields +
    required-field validation, transform.go:54-82).

    PERMISSIVE mode + a corrupt-record column reproduces the good/bad split
    (T8) declaratively: `__corrupt` IS NOT NULL or missing required fields
    -> `__invalid` = true; the caller routes those rows to the DLQ.
    """
    # copy — StructType.add MUTATES the receiver in place (and returns it),
    # so building on MESSAGE_SCHEMA directly would append __corrupt to the
    # module-global schema, breaking every later user (duplicate fields on
    # a second call, length mismatches in createDataFrame/file_stream)
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        list(MESSAGE_SCHEMA.fields) + [StructField("__corrupt", StringType())]
    )
    parsed = raw.select(
        F.from_json(
            F.col(payload_col).cast("string"),
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "__corrupt"},
        ).alias("m"),
        F.col(payload_col).cast("string").alias("__raw"),
    ).select("m.*", "__raw")
    required_ok = (
        F.col("broker_id").isNotNull()
        & F.col("broker_msg_id").isNotNull()
        & F.col("ingestion_time").isNotNull()
    )
    return parsed.withColumn(
        "__invalid", F.col("__corrupt").isNotNull() | ~required_ok
    )


@dataclass
class StreamSinks:
    blob_path: str
    index_path: str
    deadletter_path: str
    checkpoint_path: str
    blob_format: str = "parquet"  # avro on clusters with spark-avro in the distro


@dataclass
class StreamMetrics:
    """E4 analogue: per-batch counters accumulated by the foreachBatch driver
    (production: StreamingQueryListener -> Prometheus)."""

    batches: int = 0
    rows: int = 0
    indexed: int = 0
    dead_lettered: int = 0
    history: list = field(default_factory=list)


def run_stream(
    messages: DataFrame,
    cfg: IngestConfig,
    sinks: StreamSinks,
    failure=None,
    trigger_available_now: bool = True,
    processing_time: str | None = None,
    exactly_once_index: bool = True,
    fault_injector=None,
    dedup_gate: bool = False,
    dedup_gate_watermark: str = "2 hours",
):
    """Start the streaming ingest; returns (StreamingQuery, StreamMetrics).

    `dedup_gate=True` fuses the stateful first-seen gate
    (windows.dedup_gate_rows, keyed on broker_id+broker_msg_id) upstream of
    the batch handler: at-least-once redeliveries are dropped in ONE keyed
    stateful pass instead of per-sink anti-joins against the index table.
    The merge writers stay available as the belt-and-braces layer (a gate
    state loss after checkpoint wipe would otherwise re-admit old keys).

    Blob identity across micro-batches: the blob name carries the BATCH ID
    (`<broker_id>-b<batch_id>`), so two micro-batches landing in the same
    day/version/broker mask partition never share a location_key and the
    per-batch position window restarts safely at 1.  The reference gets the
    same uniqueness by naming each blob after its first message id
    (storage.go:50,113); batch_id is the Spark-native equivalent AND is
    stable across checkpoint replays, which first-message-id naming under
    redelivery is not.

    Ingest clock: with `cfg.clock_column=None` (the production default)
    the clock is the micro-batch's own timestamp.  A current_timestamp()
    column attached to the streaming frame (ingest.pin_clock) resolves to
    the `batchTimestampMs` Spark logs in `offsets/<batch_id>` and reuses
    when the batch is replayed, so every action over a batch — each sink,
    each recompute, each replay — derives the same mask directories,
    location_keys and indexer_ingestion_time.  A configured clock column
    is used as is.

    Exactly-once (E1): blobs always go through write_blobs_merge, which
    anti-joins on (location_key, record_id) only when the batch id is at
    or below the blob table's attempt watermark, i.e. on a replay; the
    index defaults to write_index_merge's unique_id anti-join.  A batch
    that fails between or during the two writes re-runs with the SAME
    batch_id and clock, derives the SAME location_keys, finds its rows
    present, and appends nothing; a source redelivery in a later batch is
    caught by the index anti-join.  The one batch a re-run can re-plan
    under a new clock is batch 0 (after heal_virgin_checkpoint wipes a
    commit-less checkpoint); its sinks run blobs first, see the sink-order
    rule in handle_batch.  Set `exactly_once_index=False` only for
    fire-and-forget bulk loads where the source is exactly-once end to
    end.

    `failure` mirrors run_batch's injection hook (rows -> DLQ);
    `fault_injector(batch_id)` is called between the blob and index writes
    (which then run one after the other) and may raise — the test hook for
    the mid-batch crash window, mirroring the reference's writer-failure
    injection (handler_test.go:519-645).

    Batch errors always PROPAGATE (failing the query) — a failed batch must
    not commit its source offsets, or it would be silently lost.  Retry
    policy lives in `run_stream_supervised` (E3), which restarts the query
    so the checkpoint replays the uncommitted batch.
    """
    metrics = StreamMetrics()
    if dedup_gate:
        from persistor_spark.streaming import windows as _windows

        # the watermark doubles as the gate's state-retention horizon AND
        # the late-data cutoff: size it to the source's real event-time
        # disorder (a backfill replaying days of history needs a wide one,
        # or older-than-watermark batches are dropped as late)
        messages = _windows.dedup_gate_rows(messages, watermark=dedup_gate_watermark)
    messages, batch_cfg = ingest.pin_clock(messages, cfg, F.current_timestamp())

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # With no failure hook and no parse split, the dead-letter frame is
        # filter(lit(False)) — statically empty — so the DLQ sink job (and
        # the batch-level cache whose only second consumer it was) can be
        # skipped entirely: per micro-batch that is one job + one persist
        # pass of pure fixed cost.  Any failure routing re-enables both.
        dl_static_empty = failure is None and "__invalid" not in batch_df.columns
        cached = None
        if not dl_static_empty:
            # cache the micro-batch: the good/bad split and the DLQ sink
            # would otherwise each re-read the source slice.  Keep the
            # handle — unpersist() only uncaches the EXACT plan it is
            # called on, and batch_df is rebound to a derived filter below
            # (unpersisting that would leak the cached source slice every
            # micro-batch, unbounded on a long-running stream)
            batch_df = cached = batch_df.persist()
        # drop stream-parse bookkeeping if present
        cols = [c for c in batch_df.columns if not c.startswith("__")]
        invalid = None
        if "__invalid" in batch_df.columns:
            invalid = batch_df.filter(F.col("__invalid")).select(*cols)
            batch_df = batch_df.filter(~F.col("__invalid")).select(*cols)
        # The pinned clock makes the derivation value-deterministic, so the
        # shared prefix is cached only when an injected `failure` Column
        # (possibly non-deterministic) must split good/bad rows once.
        # Otherwise each sink recomputes the derivation, position window
        # included, and the two write jobs overlap instead of serializing
        # on the cache fill's block locks.
        result = ingest.run_batch(
            batch_df,
            batch_cfg,
            failure=failure,
            persist_intermediate=failure is not None,
            blob_name=F.concat(F.col("broker_id"), F.lit(f"-b{batch_id}")),
        )

        def do_blobs() -> None:
            if sinks.blob_format == "ocf":
                # OCF blobs are replay-idempotent WITHOUT an anti-join: the
                # writer emits byte-identical files (deterministic sync
                # marker, sorted records) at batch-scoped paths, so a
                # replayed batch overwrites its own blobs with the same
                # bytes.
                ingest.write_blobs(result, sinks.blob_path, fmt="ocf")
            else:
                ingest.write_blobs_merge(result, sinks.blob_path, fmt=sinks.blob_format)

        from dataclasses import replace as _dc_replace

        from pyspark.sql import Observation

        idx_obs = Observation()
        result = _dc_replace(
            result,
            index_metadata=result.index_metadata.observe(
                idx_obs, F.count(F.lit(1)).alias("n")
            ),
            batch_id=batch_id,
        )

        def do_index() -> None:
            if exactly_once_index:
                ingest.write_index_merge(result, sinks.index_path)
            else:
                ingest.write_index(result, sinks.index_path)

        # Sink order.  A replay re-derives the same location_keys (pinned
        # clock, batch-scoped blob names), so the two sinks overlap from two
        # driver threads — max(blobs, index) instead of the sum — with two
        # exceptions that write blobs strictly before the index:
        # - batch 0: a crash inside the first batch leaves a checkpoint with
        #   no commit, which heal_virgin_checkpoint wipes, so the re-run
        #   plans batch 0 afresh under a NEW timestamp and possibly new
        #   location_keys.  Blobs first keeps an index row from ever
        #   pointing at a key whose blobs were never written (the worst case
        #   is orphaned first-attempt blobs);
        # - a `fault_injector`, which must run between the two writes.
        if fault_injector is None and batch_id > 0:
            import concurrent.futures as _cf

            with _cf.ThreadPoolExecutor(max_workers=2) as pool:
                futs = [pool.submit(do_blobs), pool.submit(do_index)]
                for f in futs:
                    f.result()
        else:
            do_blobs()
            if fault_injector is not None:
                fault_injector(batch_id)
            do_index()
        dl = result.deadletter
        if invalid is not None:
            from persistor_spark.functions import keys

            dl = dl.unionByName(
                invalid.select(
                    keys.unique_id().alias("unique_id"),
                    F.col("payload"),
                    F.col("attributes"),
                    F.lit(ingest.DL_CATEGORY_PARSER).alias("dead_letter_error_category"),
                    F.lit("malformed or invalid message").alias("dead_letter_error_reason"),
                    F.lit(ingest.DL_SOURCE_INDEXER).alias("dead_letter_source"),
                )
            )
        # DLQ stays at-least-once (blind append): the reference's dead-letter
        # TOPIC is at-least-once too — consumers dedup on unique_id.
        # Counts ride the sink jobs as observations (the R9 df.observe
        # pattern): no extra actions per micro-batch, and no silent
        # recompute if cached partitions were evicted under pressure.
        if dl_static_empty:
            n_dl = 0
        else:
            dl_obs = Observation()
            dl.observe(dl_obs, F.count(F.lit(1)).alias("n")).write.mode(
                "append"
            ).parquet(sinks.deadletter_path)
            n_dl = ingest.observed_count(dl_obs)
        n_idx = ingest.observed_count(idx_obs)
        metrics.batches += 1
        metrics.indexed += n_idx
        metrics.dead_lettered += n_dl
        metrics.rows += n_idx + n_dl
        metrics.history.append({"batch_id": batch_id, "indexed": n_idx, "dead_lettered": n_dl})
        result.unpersist()
        if cached is not None:
            cached.unpersist()

    writer = (
        messages.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", sinks.checkpoint_path)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start(), metrics


def heal_virgin_checkpoint(checkpoint_path: str) -> bool:
    """Heal a checkpoint bricked by a crash INSIDE the first-ever
    micro-batch (found by test_stream_kill under a real kill -9): a JVM
    death mid-offsets-write leaves `offsets/` non-empty (possibly a
    torn entry) with NOTHING in `commits/`, and Spark 4's
    MicroBatchExecution.verifyNewCheckpointDirectory then refuses every
    resume with STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY — the restart
    loop would spin on it forever.  When the commit log records no
    completed batch the checkpoint is SEMANTICALLY fresh: wipe it and
    let the query replay from scratch — any partial batch-0 sink output
    is deduped by the E1 merge writers (write_blobs_merge /
    write_index_merge), which is the same idempotence that makes a
    normal offsets-committed replay safe.  Never touches a checkpoint
    with a committed batch (those resume through Spark's standard
    replay).  Local paths only — this engine's stand-ins checkpoint to
    file:/; an object-store checkpoint follows the same rule via its
    own listing.  Returns True when a heal happened."""
    import os
    import shutil

    p = checkpoint_path
    if p.startswith("file://"):
        p = p[7:]
    elif p.startswith("file:"):
        p = p[5:]
    if "://" in p or not os.path.isdir(p):
        return False

    def _entries(sub: str) -> list[str]:
        d = os.path.join(p, sub)
        if not os.path.isdir(d):
            return []
        # batch entries are digit-named ("0", "1", ... or "N.compact");
        # ignore .tmp/.crc droppings from the torn write itself
        return [
            f for f in os.listdir(d)
            if f.split(".", 1)[0].isdigit()
        ]

    if _entries("commits") or not _entries("offsets"):
        return False
    shutil.rmtree(p)
    return True


# Queries run_stream_supervised starts before it gives up.
_MAX_RESTARTS = 100


def run_stream_supervised(
    stream_factory,
    cfg: IngestConfig,
    sinks: StreamSinks,
    error_budget=None,
    failure=None,
    fault_injector=None,
) -> StreamMetrics:
    """E3 flow-control supervisor (run.go:157-187: 50 errors/min then stop;
    processing error -> continue; fatal -> stop).

    Runs availableNow queries built by `stream_factory()`, into both
    exactly-once merge sinks, until the source drains cleanly (at most
    _MAX_RESTARTS queries).  A temporary query failure leaves its batch
    UNCOMMITTED in the checkpoint; the restart replays it — the Spark shape
    of the reference's per-message nack/redelivery, at micro-batch
    granularity.
    Fatal errors and budget exhaustion propagate (executor stop).
    """
    from persistor_spark.streaming import flow_control as fc

    budget = error_budget or fc.ErrorBudget()
    total = StreamMetrics()
    for _ in range(_MAX_RESTARTS):
        # crash-during-first-batch heal (see heal_virgin_checkpoint): a
        # dead process can leave a no-commit checkpoint Spark refuses to
        # resume; run it per restart so an in-loop kill window heals too
        heal_virgin_checkpoint(sinks.checkpoint_path)
        query, metrics = run_stream(
            stream_factory(),
            cfg,
            sinks,
            failure=failure,
            fault_injector=fault_injector,
        )
        try:
            query.awaitTermination()
        except Exception as exc:  # noqa: BLE001 — classification is the policy
            if fc.classify(exc) == "fatal":
                raise
            if not budget.record():
                raise fc.BudgetExhausted(
                    f"error budget exhausted: {budget.current} errors in {budget.window_s}s"
                ) from exc
            continue
        finally:
            total.batches += metrics.batches
            total.rows += metrics.rows
            total.indexed += metrics.indexed
            total.dead_lettered += metrics.dead_lettered
            total.history.extend(metrics.history)
        return total  # drained without error
    raise fc.BudgetExhausted(f"gave up after {_MAX_RESTARTS} restarts")


def stop_gracefully(query, timeout_s: int = 60) -> None:
    """E6: stop pulling, let the in-flight micro-batch finish."""
    query.stop()
    query.awaitTermination(timeout_s)
