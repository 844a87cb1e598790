"""Batch ingest plan: messages -> (blob records, index metadata, dead letters).

Collapses the reference's Core + Indexer services (SURVEY.md §3.1-3.2:
persistor.go:96-166 batch handling, version split, blob write, metadata
enrichment; indexer.go:46-110 validate + finalize) into ONE declarative
DataFrame transformation.  The broker hop between the two services was an
implementation artifact — in Spark the index rows are a second projection of
the same micro-batch, so we never pay a second serialize/publish/consume.

Scale shape:
- version split (T3) = derived columns + `partitionBy` on write — distributed,
  no driver grouping;
- position assignment = one window per sink over that sink's ONE shuffle
  (the index's keyed by location_key, the blob write's by blob directory):
  the key cardinality grows with data volume while per-blob row counts
  stay bounded by the batch size (<=5000, persistor.toml:79), so
  partitions stay small;
- everything else is narrow projections inside whole-stage codegen;
- dead-letter routing (K6) is a filter split, not a second pass.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass, replace

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, functions as F, types as T

from persistor_spark.config import IngestConfig
from persistor_spark.functions import keys
from persistor_spark.operators import blob_naming
from persistor_spark.operators.version_batching import version_column
from persistor_spark.plans import fsutil
from persistor_spark.schemas import BLOB_RECORD_SCHEMA, INDEX_METADATA_SCHEMA

# Dead-letter reason attributes (sender.go:46-76; category strings from
# persistor.go:43-46 and indexer.go:41-44).
DL_CATEGORY_STORAGE = "Storage error"
DL_CATEGORY_PARSER = "Metadata parser error"
DL_CATEGORY_MONGO = "MongoDB storage error"
DL_SOURCE_CORE = "Dataphos Persistor - Core"
DL_SOURCE_INDEXER = "Dataphos Persistor - Indexer"


# The column `pin_clock` attaches.  Single underscore: the streaming
# handler drops `__`-prefixed parse bookkeeping, and this must survive it.
PINNED_CLOCK_COLUMN = "_pinned_clock"


def _no_table_yet(exc: AnalysisException) -> bool:
    """True iff the AnalysisException means 'no rows at this path yet': no
    directory, or a directory holding no data files (an empty partitioned
    append leaves only `_SUCCESS`, and schema inference then fails)."""
    cond = getattr(exc, "getCondition", lambda: None)() or ""
    msg = str(exc)
    return (
        "PATH_NOT_FOUND" in cond
        or "UNABLE_TO_INFER_SCHEMA" in cond
        or "Path does not exist" in msg
    )


def observed_count(obs, key: str = "n") -> int:
    """The count metric `key` of an Observation whose action has run, or 0
    when there is none: a plan optimized to an empty relation (statically,
    or by AQE after an anti-join came back empty) prunes its CollectMetrics
    node, and `Observation.get` then fails an assertion instead of
    returning a row.  No metrics row means zero rows flowed."""
    try:
        return obs.get[key]
    except Py4JJavaError:  # the JVM-side assertion on the missing row
        return 0


@dataclass
class IngestResult:
    """The three outputs of one ingest batch (SURVEY.md §3.1)."""

    blob_records: DataFrame
    index_metadata: DataFrame
    deadletter: DataFrame
    mask_column_names: list
    _intermediate: DataFrame | None = None
    # The micro-batch whose blob names these location_keys carry (streaming
    # only); write_blobs_merge dispatches on it.
    batch_id: int | None = None

    def unpersist(self) -> None:
        if self._intermediate is not None:
            self._intermediate.unpersist()


def clock_sql(cfg: IngestConfig) -> str:
    """The ingest clock as a SQL expression string: the deterministic clock
    column if configured, else the wall clock (storage.go:104 uses
    time.Now(); tests inject — SURVEY.md §7.3 #4).  current_timestamp() is
    a query-start literal, so repeating the string across the mask and
    index expressions yields one value per query (r14 opt, guide §1.2)."""
    from persistor_spark.functions.sqlq import sql_ident

    return sql_ident(cfg.clock_column) if cfg.clock_column else "current_timestamp()"


def pin_clock(
    messages: DataFrame, cfg: IngestConfig, instant: Column
) -> tuple[DataFrame, IngestConfig]:
    """Pin the wall clock of a `clock_column=None` config to ONE instant:
    attach `instant` as PINNED_CLOCK_COLUMN and return (messages, cfg
    naming it), so every action over the derivation — both sinks, a
    recompute, a replay — reads the same value instead of re-evaluating
    current_timestamp().  A configured clock column is returned as is.

    Streaming passes F.current_timestamp() on the streaming frame, which
    Spark resolves to the micro-batch's logged `batchTimestampMs` (reused
    when the batch is replayed); the batch CLI passes one driver-side
    literal."""
    if cfg.clock_column is not None:
        return messages, cfg
    return (
        messages.withColumn(PINNED_CLOCK_COLUMN, instant),
        replace(cfg, clock_column=PINNED_CLOCK_COLUMN),
    )


def run_batch(
    messages: DataFrame,
    cfg: IngestConfig,
    failure: Column | None = None,
    failure_category: Column | None = None,
    failure_source: Column | None = None,
    persist_intermediate: bool = False,
    blob_name: Column | None = None,
) -> IngestResult:
    """Transform one batch of messages.

    `failure` marks rows whose persist would fail (mirrors the reference's
    writer-failure injection tests, handler_test.go:519-645); they take the
    dead-letter path (K6) and are excluded from blobs and index.  Production
    streaming uses try/except + idempotent MERGE instead (E1 resolution).

    `blob_name` overrides the blob filename component of location_key
    (default broker_id).  The streaming path passes a batch-scoped name so
    blobs from different micro-batches never share a location_key — the
    reference gets the same uniqueness by naming each blob after its first
    message id (storage.go:50,113).
    """
    cfg.validate()
    # Dead-letter branch: original payload + attributes + 3 reason attributes.
    dl_cat = failure_category if failure_category is not None else F.lit(DL_CATEGORY_STORAGE)
    dl_src = failure_source if failure_source is not None else F.lit(DL_SOURCE_CORE)
    dl_projection = [
        keys.unique_id().alias("unique_id"),
        F.col("payload"),
        F.col("attributes"),
        dl_cat.alias("dead_letter_error_category"),
        F.lit("simulated persist failure").alias("dead_letter_error_reason"),
        dl_src.alias("dead_letter_source"),
    ]
    if failure is None:
        # No failure hook -> the split is static: live is the whole batch
        # and the dead-letter frame is empty by construction.  Skipping the
        # __failed column + the filter pair matters because every
        # DataFrame op analyzes the whole accumulated plan EAGERLY, once
        # per streaming micro-batch (r14 opt, guide §1.2 driver work).
        live = messages
        deadletter = messages.limit(0).select(*dl_projection)
    else:
        msgs = messages.withColumn("__failed", failure)
        deadletter = msgs.filter(F.col("__failed")).select(*dl_projection)
        live = msgs.filter(~F.col("__failed")).drop("__failed")
    if not cfg.dead_letter_enabled:
        deadletter = deadletter.limit(0)

    clock = clock_sql(cfg)
    # Mask = configured members + version members appended (the reference
    # interleaves them via `{attr}` mask entries; config may also put the
    # version attr directly in the mask — avoid double-adding).
    mask_members = list(cfg.storage.mask)
    for vk in cfg.version_keys:
        if "{" + vk + "}" not in mask_members:
            mask_members = mask_members + ["{" + vk + "}"]
    storage_cfg = cfg.storage.__class__(
        **{**cfg.storage.__dict__, "mask": tuple(mask_members)}
    )
    # T3 version split + T4 blob naming + T6 unique_id: derived columns in
    # THREE fused withColumns ops (version+mask cols are independent;
    # location_key/unique_id reference them by name; the window columns
    # reference those) — each DataFrame op is one eager analysis of the
    # growing plan, so op count is the driver-side cost that recurs per
    # micro-batch (r14 opt, guide §1.2).
    mask_cols, lk = blob_naming.blob_column_exprs(storage_cfg, clock, blob_name=blob_name)
    live = live.withColumns(
        {
            **{f"__version_{k}": version_column(k) for k in cfg.version_keys},
            **mask_cols,
        }
    )
    mask_names = list(mask_cols)
    live = live.withColumns(
        {"location_key": lk, "unique_id": keys.unique_id()}
    )
    # In-blob positions (sender.go:129,186-192; consumed 0-based at
    # resubmitter util.go:47).  The reference's position is physical write
    # order, unreproducible under Spark's retried/parallel writes, so it is
    # made EXPLICIT (SURVEY.md §7.3 hard point 2): a dense row_number per
    # location_key ordered by unique_id, materialized in both the blob
    # records and the index; D9's position-align join checks the round
    # trip.  unique_id is not a key (a redelivered id may carry another
    # payload), so payload hash then payload break ties: without a total
    # order, two evaluations of the window (one per sink) could number tied
    # rows differently and the index would point at the wrong payload.
    # With unique ids the extra keys change no value.  The index's
    # `location_position` and the blob records' `position` are the SAME
    # row_number — record_id IS unique_id.  The blob-size count shares the
    # (partition, order) spec with an unbounded frame, so Spark evaluates
    # both in ONE Window node over ONE sort.
    #
    # The sinks want different partitionings, so each gets its own window
    # over its own ONE exchange.  The index writes one file per partition:
    # its window keeps the location_key exchange, whose count AQE coalesces
    # by bytes.  The blob write opens one file per mask directory in each
    # task holding its rows, a cost that scales with directories, not
    # bytes: its rows are hash-partitioned on the blob directory, one
    # partition per core, and its window, partitioned by (directory,
    # location_key), reuses that exchange, so every directory lands in one
    # task and the write needs no shuffle of its own (_append_blobs).  The
    # directory is a function of
    # location_key, never of the mask columns: partitionBy escapes a '/'
    # inside a mask value and location_key does not, so two mask tuples can
    # share one location_key, and a window over the mask columns would
    # number one blob twice.  With persist_intermediate both sinks read ONE
    # cached index-side window output (used by bench + foreachBatch's
    # failure split), and the blob side repartitions it on the directory.
    from pyspark.sql import Window as _W

    blob_dir = blob_naming.blob_directory(F.col("location_key"))
    order = ("unique_id", F.xxhash64("payload"), "payload")

    def positioned(rows: DataFrame, *partition: Column | str) -> DataFrame:
        w = _W.partitionBy(*partition).orderBy(*order)
        return rows.withColumns(
            {
                "__pos": F.row_number().over(w).cast("int"),
                "__blob_n": F.count(F.lit(1)).over(
                    w.rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
                ),
            }
        )

    n_write = live.sparkSession.sparkContext.defaultParallelism
    index_side = positioned(live, "location_key")
    if persist_intermediate:
        index_side = index_side.persist()
        blob_side = index_side.repartition(n_write, blob_dir)
    else:
        blob_side = positioned(live.repartition(n_write, blob_dir), blob_dir, "location_key")

    # Index projection (T5/T6 enrichment + T10 finalize).
    idx_clock = F.expr(f"{clock} + INTERVAL {cfg.indexer_clock_skew_s} SECOND")
    # single-record blobs carry a NULL index position and skip
    # deserialization (resubmitter.go:176-182) — an index-side convention
    index_metadata = index_side.withColumn(
        "location_position", F.when(F.col("__blob_n") > 1, F.col("__pos"))
    ).select(
        "broker_id",
        "broker_msg_id",
        "unique_id",
        "business_source_key",
        "business_object_key",
        keys.index_source_key().alias("index_source_key"),
        "ordering_key",
        keys.additional_metadata().alias("additional_metadata"),
        "location_key",
        "location_position",
        "publish_time",
        "ingestion_time",
        idx_clock.alias("indexer_ingestion_time"),
        F.lit(False).alias("confirmation_flag"),
    )

    # Blob projection (K3 record shape: persistor_record.go:23-33); blob
    # files number EVERY record, so position is the bare fused row_number.
    blob_records = blob_side.select(
        "location_key",
        F.col("__pos").alias("position"),
        F.col("unique_id").alias("record_id"),
        "payload",
        F.col("attributes").alias("metadata"),
        *mask_names,
    )

    return IngestResult(
        blob_records,
        index_metadata,
        deadletter,
        mask_names,
        _intermediate=index_side if persist_intermediate else None,
    )


def _writer_lock(lock_path: str | None):
    """The cross-process flock of write_index_merge's `lock_path`, or a no-op."""
    if lock_path is None:
        return contextlib.nullcontext()
    from persistor_spark.sources._statelock import state_lock

    return state_lock(lock_path)


def _merge_append(new: DataFrame, path: str, read_existing, on: list, append) -> int:
    """Anti-join `new` on the `on` keys against the table at `path`
    (`read_existing()`), `append` only the missing rows, return their count.

    One write job: the count is an observation riding the append, so the
    append always runs — a fully replayed batch appends zero rows, which
    on an unpartitioned table (the index) leaves one schema-only parquet
    file.

    A missing table is detected with a filesystem check rather than by
    letting the read fail: once an Observation has run in the session, a
    failed read of a missing path makes Spark's execution listener log a
    long PATH_NOT_FOUND stack trace.  The exception check stays as the
    fallback (a table deleted between the two calls, a directory with no
    data files); ONLY "no rows there yet" may skip the dedup anti-join —
    any other analysis failure (corrupt footer, schema, permissions) must
    surface, or a transient error silently appends duplicates."""
    if fsutil.exists(new.sparkSession, path):
        try:
            new = new.join(read_existing().select(*on), on, "left_anti")
        except AnalysisException as exc:
            if not _no_table_yet(exc):
                raise
    return _observed_append(new, append)


def _observed_append(new: DataFrame, append) -> int:
    """`append(new)` with its row count riding the write as an observation."""
    obs = Observation()
    append(new.observe(obs, F.count(F.lit(1)).alias("n")))
    return observed_count(obs)


def _key_schema(schema: T.StructType, on: list) -> T.StructType:
    """The `on` fields of a table schema: an existing-side read given it
    projects the keys without a schema-inference job per batch."""
    return T.StructType([schema[c] for c in on])


def write_index_merge(result: IngestResult, path: str, lock_path: str | None = None) -> int:
    """Exactly-once index append WITHOUT Delta: anti-join the incoming batch
    against the unique_ids already present, append only the new rows.
    Returns the number of rows appended.

    This is the E1 resolution for redelivered batches (at-least-once source
    -> exactly-once table): a replayed micro-batch finds all its unique_ids
    present and appends nothing.  On Delta/Iceberg clusters this whole
    function is `MERGE INTO ... WHEN NOT MATCHED THEN INSERT`; the anti-join
    formulation keeps the same semantics on plain parquet.  Scale note: the
    existing-side scan projects ONLY unique_id (column-pruned) and the join
    is key-hash distributed; on the range-sorted index layout (see
    plans.layout) row-group stats prune untouched files.

    `lock_path`: serialize the whole read-dedup-append sequence under a
    cross-process advisory flock (sources/_statelock).  A SINGLE writer —
    one Structured Streaming query, where the checkpoint already
    serializes batches — never needs it.  TWO CONCURRENT writers on one
    table do: without the lock each anti-joins against a snapshot missing
    the other's in-flight append, so overlapping (redelivered-across-
    writers) ids commit twice, and plain-parquet appends additionally
    race on the table's shared `_temporary` committer dir.  On Delta/
    Iceberg this is the transaction log's job; the flock is the plain-
    parquet analogue, local-FS scope like the broker stand-ins.
    """
    spark = result.index_metadata.sparkSession
    on = ["unique_id"]
    with _writer_lock(lock_path):
        return _merge_append(
            result.index_metadata,
            path,
            lambda: spark.read.schema(_key_schema(INDEX_METADATA_SCHEMA, on)).parquet(path),
            on,
            lambda new: new.write.mode("append").parquet(path),
        )


_AVRO_CHECKED: dict = {}


def avro_available(spark) -> bool:
    """spark-avro is an external module (not in every distro); probe once.
    The reference's blobs are Avro OCF (write_to_avro.go:34-43) — when the
    module is absent we persist parquet with the same schema/layout, which
    preserves every queryable property (location_key/position contract)."""
    key = id(spark)
    if key not in _AVRO_CHECKED:
        try:
            spark.sql("SELECT to_avro(named_struct('a', 1))")
            _AVRO_CHECKED[key] = True
        except Exception:  # noqa: BLE001 — any failure means "module absent"
            _AVRO_CHECKED[key] = False
    return _AVRO_CHECKED[key]


def resolve_blob_format(spark, fmt: str) -> str:
    if fmt == "avro" and not avro_available(spark):
        return "parquet"
    return fmt


def _append_blobs(records: DataFrame, mask_names: list, path: str, fmt: str) -> None:
    """The one mask-partitioned blob append behind both blob writers.

    Rows must arrive with every mask directory inside one task, or every
    write task opens a file in every directory it sees (task-count x
    dir-count small files).  run_batch's blob-directory exchange gives that
    to a steady-state write; write_blobs_merge's replay path repartitions
    after its anti-join."""
    records.write.mode("append").partitionBy(*mask_names).format(fmt).save(path)


def write_blobs(result: IngestResult, path: str, fmt: str = "avro") -> None:
    """Physically persist blob records, directory-partitioned by the mask
    columns so every mask member partition-prunes at read time (T4 parity:
    same directory structure the reference builds by string concat).

    Formats: `ocf` writes the reference's LIVE contract — one Avro OCF file
    per location_key, persistorrecord schema (formats.ocf_io; replay-
    idempotent by byte-identical overwrite); `avro` uses spark-avro when
    deployed and falls back to parquet; `parquet` is the columnar layout
    the query path prefers."""
    if fmt == "ocf":
        from persistor_spark.formats import ocf_io

        ocf_io.write_blobs_ocf(result, path)
        return
    fmt = resolve_blob_format(result.blob_records.sparkSession, fmt)
    _append_blobs(result.blob_records, result.mask_column_names, path, fmt)


# The blob table's attempt watermark: the highest micro-batch id whose blob
# write has started on it.  The leading '_' hides it from table reads.
ATTEMPTED_BATCH_FILE = "_attempted_batch"


def write_blobs_merge(result: IngestResult, path: str, fmt: str = "avro") -> int:
    """Exactly-once blob append.  Returns the number of rows appended.

    Dispatch rule.  A micro-batch (`result.batch_id` set) whose id is above
    the table's attempt watermark, or that finds no table at all, appends
    directly, after raising the watermark: its location_keys carry its
    batch id, so only an earlier attempt of the SAME batch id can have
    written them, and no attempt started.  Everything else anti-joins on
    (location_key, record_id) against the persisted rows and appends only
    the missing ones: a checkpoint replay, batch 0 re-planned after
    heal_virgin_checkpoint, a fresh checkpoint pointed at an old table, a
    table that exists without a watermark (written before watermarks, or
    copied without its hidden files; the batch writes one first), and
    every write without a batch id.  The watermark is written (tmp +
    rename) BEFORE the blob write starts, so a crash anywhere inside the
    write leaves the batch at or below it.  Cross-batch redeliveries get new location_keys, which
    no blob anti-join can catch; the index's unique_id anti-join does.

    The replay path's existing side projects only the two key columns (a
    column-pruned scan, schema given); after the anti-join the rows are
    hash-distributed on its keys, so they are repartitioned on the mask
    columns before the append.  The explicit count keeps AQE from
    coalescing that write to a handful of serial encode tasks.  On
    Delta/Iceberg the replay path is MERGE WHEN NOT MATCHED.
    """
    spark = result.blob_records.sparkSession
    fmt = resolve_blob_format(spark, fmt)
    mask_names = result.mask_column_names

    def append(rows: DataFrame) -> None:
        _append_blobs(rows, mask_names, path, fmt)

    if result.batch_id is not None:
        mark = f"{path}/{ATTEMPTED_BATCH_FILE}"
        attempted = fsutil.try_read_text(spark, mark)
        if attempted is None:
            direct = not fsutil.exists(spark, path)
        else:
            direct = result.batch_id > int(attempted)
        if attempted is None or direct:
            fsutil.write_text(spark, mark, str(result.batch_id))
        if direct:
            return _observed_append(result.blob_records, append)
    on = ["location_key", "record_id"]
    n_write = spark.sparkContext.defaultParallelism
    return _merge_append(
        result.blob_records,
        path,
        lambda: spark.read.schema(_key_schema(BLOB_RECORD_SCHEMA, on)).format(fmt).load(path),
        on,
        lambda new: append(new.repartition(n_write, *mask_names)),
    )


def write_index(result: IngestResult, path: str) -> None:
    """Persist index metadata (K4 analogue): a plain parquet append.  The
    exactly-once form is write_index_merge; the range-sorted point-lookup
    layout is plans.layout / plans.maintenance's job."""
    result.index_metadata.write.mode("append").parquet(path)
