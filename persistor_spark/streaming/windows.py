"""Event-time streaming operators (SURVEY.md §2.2 'Streaming-only'):
the reference has NO event-time semantics — late data is filed under the
wall-clock partition (storage.go:104).  The engine adds the standard
Structured Streaming surface as first-class operators, with processing-time
parity remaining the default in plans.ingest.

All operators run in batch mode (Spark's unified semantics) — batch twins
are what the DuckDB oracle pins (e8_tumbling_window) — and the window/
session/stateful operators also run under Structured Streaming (streaming
tests drive them through a file stream; windowed_dup_rate's CHAINED
aggregations need append mode + a watermark, Spark >= 3.4).  Of the r9
monitoring analytics, three now EXECUTE as running queries with parquet
sinks (run_dup_rate_stream; r10: run_category_counts_stream +
category_drift_from_counts, run_new_key_rate_stream +
new_key_rate_from_sinks — the streamable half streams, the
join-over-aggregate half runs over the closed-window sink through the
SAME code path as the batch twin).  The rest (windowed_trailing_anomaly,
late_arrival_stats, watermark_sizing_curve) remain sink-side/batch passes
by construction — run them over a closed-window sink or a batch snapshot,
not inside a streaming query; they would compose with the same sink
pattern.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

_INTERVAL_UNIT_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _interval_ms(interval: str) -> int:
    """'2 hours' / '30 seconds' -> milliseconds (the subset of Spark's
    interval syntax the watermark strings in this module use).  Drives the
    state-eviction timers, which take epoch millis."""
    value, unit = interval.strip().split()
    return int(value) * _INTERVAL_UNIT_MS[unit.rstrip("s").lower()]


def _eviction_ts_ms(state, batch_max_event_ms: int, retention_ms: int) -> int:
    """Event-time eviction timer: the key lives until the watermark passes
    its LAST-SEEN event time (or the current watermark, whichever is
    later) plus the retention.  Anchoring on the event time matters on the
    first micro-batch, where the current watermark is still 0."""
    return max(state.getCurrentWatermarkMs(), batch_max_event_ms) + retention_ms


def sliding_throughput(
    messages: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
    time_col: str = "ingestion_time",
) -> DataFrame:
    """Sliding-window message/byte throughput (q50/90/99-style monitoring is
    downstream of these aggregates)."""
    return (
        messages.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("messages"),
            F.sum(F.length("payload")).alias("bytes"),
        )
        .select(F.col("win.start").alias("window_start"), "messages", "bytes")
    )


def session_windows(
    messages: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    time_col: str = "ingestion_time",
    key_col: str = "ordering_key",
) -> DataFrame:
    """Session windows per ordering key (gap-based): groups bursts of
    same-key messages — the event-time generalization of the reference's
    ordering-key publish groups (R7)."""
    return (
        messages.filter(F.col(key_col).isNotNull())
        .withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n",
        )
    )


# ---------------------------------------------------------------------------
# custom stateful operator: streaming first-seen dedup
# ---------------------------------------------------------------------------

DEDUP_STATE_SCHEMA = "seen_n long"
DEDUP_OUTPUT_SCHEMA = "unique_id string, first_seen boolean"


def streaming_first_seen(
    messages: DataFrame,
    key_col: str = "unique_id",
    time_col: str = "ingestion_time",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful exactly-once-per-key marker via applyInPandasWithState:
    emits (key, first_seen) where first_seen is True only the first time a
    key appears across the stream's lifetime (within state retention).

    This is the streaming complement of analytics.dedup: at-least-once
    sources redeliver, and downstream exactly-once tables want a cheap
    'have I indexed this unique_id already' gate without a join against the
    whole index.  State is one counter per key, partitioned by key hash —
    bounded memory per executor, timeout-evicted past the watermark.

    Eviction is REAL (EventTimeTimeout, not NoTimeout): each key arms a
    timer at watermark + the watermark delay and is removed when it fires.
    Keys here are unique per message, so without eviction state would grow
    by one entry per message forever — the bounded-memory claim above
    depends on this.  A redelivery arriving AFTER eviction re-emits
    first_seen=True; the idempotent merge writers downstream remain the
    belt-and-braces layer for that tail (same contract as a checkpoint
    wipe).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    retention_ms = _interval_ms(watermark)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        frames = [p for p in pdfs if len(p)]
        n = sum(len(p) for p in frames)
        evt_ms = max(
            (int(p[time_col].max().value) // 1_000_000 for p in frames),
            default=0,
        )
        if state.exists:
            (seen,) = state.get
            state.update((seen + n,))
            first = False
        else:
            state.update((n,))
            first = True
        state.setTimeoutTimestamp(_eviction_ts_ms(state, evt_ms, retention_ms))
        yield pd.DataFrame({"unique_id": [key[0]], "first_seen": [first]})

    return (
        messages.withWatermark(time_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_gate_rows(
    messages: DataFrame,
    key_cols: tuple = ("broker_id", "broker_msg_id"),
    time_col: str = "ingestion_time",
    watermark: str = "2 hours",
    output_mode: str = "update",
) -> DataFrame:
    """Full-row streaming dedup gate: passes through ONLY the first-seen row
    per key (earliest by `time_col`, then `event_seq` when present), dropping
    intra-batch and cross-batch redeliveries before they reach the sinks.

    This is `streaming_first_seen` fused into the ingest path: instead of a
    (key, first_seen) marker that callers must join back, the full message
    row flows through the stateful operator, so `run_stream(dedup_gate=True)`
    composes it upstream of foreachBatch and the sinks never see duplicates.
    At-least-once brokers redeliver (the reference tolerates this by Mongo
    upsert on unique_id; handler.go's idempotent writes) — the gate gives
    the same end state with ONE keyed stateful pass, no per-batch anti-join
    against the ever-growing index table.

    State: one counter per key (bounded per-executor memory, key-hash
    partitioned), EVICTED by an event-time timer at watermark + the
    watermark delay — keys are unique per message, so un-evicted state
    would grow one entry per message forever.  A redelivery later than
    the whole retention horizon passes the gate again; the idempotent
    merge writers behind it absorb exactly that tail (the same
    belt-and-braces contract as gate-state loss on checkpoint wipe).
    Output schema == input schema, so the gate is a drop-in stage
    anywhere in a message-stream plan.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = messages.schema
    cols = [f.name for f in schema.fields]
    sort_cols = [time_col] + (["event_seq"] if "event_seq" in cols else [])
    retention_ms = _interval_ms(watermark)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            # same guard as streaming_new_key_ledger (r10 advisor): a
            # non-timed-out group invoked with only empty chunks would
            # make pd.concat raise and fail the whole query
            return
        batch = pd.concat(chunks, ignore_index=True)
        evt_ms = int(batch[time_col].max().value) // 1_000_000
        if state.exists:
            (seen,) = state.get
            state.update((seen + len(batch),))
            state.setTimeoutTimestamp(_eviction_ts_ms(state, evt_ms, retention_ms))
            return  # already emitted for this key: drop the redeliveries
        state.update((len(batch),))
        state.setTimeoutTimestamp(_eviction_ts_ms(state, evt_ms, retention_ms))
        yield batch.sort_values(sort_cols, kind="mergesort").head(1)

    return (
        messages.withWatermark(time_col, watermark)
        .groupBy(*[F.col(c) for c in key_cols])
        .applyInPandasWithState(
            update,
            outputStructType=schema,
            stateStructType=DEDUP_STATE_SCHEMA,
            # each key emits at most once per retention horizon, so append
            # and update are behaviorally identical — the mode just has to
            # match the QUERY's output mode (run_stream uses update)
            outputMode=output_mode,
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def first_seen_batch(
    messages: DataFrame,
    key_cols: tuple = ("broker_id", "broker_msg_id"),
    time_col: str = "ingestion_time",
    tiebreak_col: str | None = "event_seq",
) -> DataFrame:
    """Batch twin of `dedup_gate_rows`: keep the earliest row per key
    (by time, then tiebreak).  Identical keep-policy to the streaming gate,
    expressed as one window — which makes the gate's semantics
    ORACLE-CHECKABLE (the stateful op itself can't run on DuckDB).  Use for
    backfills over historical at-least-once dumps; the streaming gate is
    the continuous face."""
    from pyspark.sql import Window

    order = [F.col(time_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(*order)
    return (
        messages.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: match right-side events that
    occur within [left_ts, left_ts + max_delay] for the same key — the
    impression->click attribution shape.

    Both sides carry watermarks and the join condition bounds BOTH event
    times, so Spark can evict join state past the watermark instead of
    buffering streams forever (the state-cleanup requirement of
    stream-stream joins).  Works identically on batch DataFrames (the
    watermark is a no-op there), which is what the equivalence test pins.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, "inner")


def run_incremental_dedup_stream(
    spark,
    source_dir: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    schema: str = "doc_id long, text string",
    compact_every: int | None = None,
    compact_small_every: int | None = None,
):
    """Continuous near-dup detection against a PERSISTED LSH index: each
    file-source micro-batch (a) probes the band-partitioned index for
    cross near-dup pairs (appended to `out_path`), then (b) appends its own
    sketch into the index — so later batches see earlier ones, exactly the
    arriving-corpus contract of analytics.dedup.incremental_dup_pairs, but
    driven by Structured Streaming.

    Shape notes: the probe is the batch-sized sketch joined against the
    band partitions (cost tracks batch x bucket occupancy, never corpus²);
    the index append writes one file per band per batch.  foreachBatch is
    the right tool because the per-batch work is two SINKS (pairs + index)
    fed by one sketch — a single streaming sink can't fan out.

    `compact_every=N` runs plans.maintenance.compact_parquet on the index
    after every Nth append: per-band file count otherwise grows one file
    per batch and the probe goes listing/open-bound.
    `compact_small_every=N` is the INCREMENTAL alternative
    (maintenance.compact_small_files, r12): merge only the small-file
    appendix the last N batches left, never rewriting the compacted
    base — at scale the full rewrite's cost grows with the index while
    the incremental one tracks the between-cycle appendix, so a
    long-lived stream should prefer it and reserve compact_parquet for
    offline re-sorts.  A reader never sees
    a MIX of layouts (parquet files are immutable and the old ones survive
    under a trash name until the next compaction cycle — the deferred
    cleanup in plans.maintenance), but the rename pair does have a brief
    no-live-path window; see that module's docstring for the exact
    guarantees.  Production would run the same call from a maintenance
    scheduler instead of the ingest loop."""
    from persistor_spark.analytics import dedup
    from persistor_spark.plans import maintenance

    def _process(batch_df, batch_id: int):
        if not batch_df.head(1):
            return
        probe = dedup.build_band_table(batch_df)
        existing = dedup.lsh_index_load(spark, index_path)
        pairs = dedup.incremental_dup_pairs(
            batch_df, existing, threshold, probe=probe
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        pairs.write.mode("append").parquet(out_path)
        # same slim layout as lsh_index_save/append: sh only on band 0;
        # repartition on band first — the fanned sketch would otherwise
        # write sketch_parts x bands sliver files per micro-batch (§6)
        dedup._index_rows(probe).repartition("band").write.mode("append").partitionBy(
            "band"
        ).parquet(index_path)
        if compact_every and (batch_id + 1) % compact_every == 0:
            maintenance.compact_parquet(spark, index_path, partition_col="band")
        if compact_small_every and (batch_id + 1) % compact_small_every == 0:
            maintenance.compact_small_files(
                spark, index_path, partition_col="band"
            )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(source_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_ann_ingest_stream(
    spark,
    source_dir: str,
    index_path: str,
    checkpoint: str,
    schema: str = "vec_id long, embedding array<double>",
    compact_every: int | None = None,
    compact_small_every: int | None = None,
):
    """Continuous vector ingestion into a PERSISTED IVF-PQ index: each
    micro-batch encodes against the frozen quantizer/codebooks (one narrow
    map — ivfpq_encode_cells) and parquet-appends into the cid-partitioned
    inverted lists.  Searches over the loaded index see every ingested
    batch; the quantizer is NOT retrained per batch (FAISS add semantics —
    retrain offline when centroid_drift says the codebooks stopped fitting).

    `compact_every=N` compacts the cid-partitioned cells after every Nth
    append (see run_incremental_dedup_stream) — the inverted lists grow one
    file per cell per batch otherwise; `compact_small_every=N` is the
    incremental appendix-only variant (maintenance.compact_small_files),
    the right default for a long-lived stream."""
    from persistor_spark.analytics import similarity
    from persistor_spark.plans import maintenance

    def _process(batch_df, batch_id: int):
        if not batch_df.head(1):
            return
        similarity.ivfpq_add_to_disk(spark, index_path, batch_df)
        if compact_every and (batch_id + 1) % compact_every == 0:
            maintenance.compact_parquet(
                spark, f"{index_path}/cells", partition_col="cid"
            )
        if compact_small_every and (batch_id + 1) % compact_small_every == 0:
            maintenance.compact_small_files(
                spark, f"{index_path}/cells", partition_col="cid"
            )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(source_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# windowed stream-quality analytics (r8 VERDICT #2: the streaming-side
# analytics family — dup rate, drift, late arrivals, percentiles — as
# first-class operators over event-time windows)
# ---------------------------------------------------------------------------


def windowed_dup_rate(
    df: DataFrame,
    window: str = "1 day",
    key_cols: tuple = ("user_id", "event_type"),
    time_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window duplicate rate over a dedup key: the monitoring
    face of the dedup gate — how much of each window's traffic the gate
    (or the idempotent merge behind it) would absorb.

    Two chained aggregations, both keyed by the window: per-(window, key)
    counts, then per-window rows/keys.  Batch mode is what the oracle pins;
    under Structured Streaming the chained stateful aggregations require
    append mode with a watermark (Spark >= 3.4 multi-stateful support) —
    pass `watermark` and the event-time column propagates via the window
    struct.  Shuffles are keyed by (window, key) then window — partial
    aggregation keeps the map-side combine; nothing is corpus-bounded on
    the driver."""
    if watermark:
        df = df.withWatermark(time_col, watermark)
    per_key = df.groupBy(
        F.window(time_col, window).alias("win"), *[F.col(c) for c in key_cols]
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        per_key.groupBy("win")
        .agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
            # UNROUNDED integer quotient (r14, the e46 class): n_keys and
            # n_rows are exact counts, so 1 - keys/rows is bit-identical
            # in any engine, while round() splits on true halfway cases
            (1 - F.col("n_keys") / F.col("n_rows")).alias("dup_rate"),
        )
    )


def windowed_category_drift(
    df: DataFrame,
    window: str = "1 day",
    cat_col: str = "event_type",
    time_col: str = "ts",
) -> DataFrame:
    """Per-window categorical-mix drift: total-variation distance (half
    the L1 distance) between each window's category distribution and the
    PREVIOUS window's — the trend alarm for a feed whose event mix is
    shifting.  Tumbling windows are regular, so "previous" is an equi-join
    on (start + interval): no ordered window function over the aggregate,
    and the join keys are window-count-bounded (tiny).  Windows with no
    predecessor report NULL drift (nothing to compare)."""
    c = (
        df.groupBy(F.window(time_col, window).alias("win"), F.col(cat_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), cat_col, "n")
    )
    return _drift_from_counts(c, window, cat_col)


def _drift_from_counts(c: DataFrame, window: str, cat_col: str) -> DataFrame:
    """counts (ws, cat, n) -> per-window TV drift vs the previous window.
    Shared tail of `windowed_category_drift` (raw events) and
    `category_drift_from_counts` (a streaming sink of closed-window
    counts) — one code path, so the streaming monitor equals the batch
    twin on closed windows by construction."""
    tot = c.groupBy("ws").agg(F.sum("n").alias("tot"))
    p = c.join(tot, "ws").select(
        "ws", cat_col, (F.col("n") / F.col("tot")).alias("p")
    )
    prev = p.select(
        (F.col("ws") + F.expr(f"INTERVAL {window}")).alias("ws"),
        F.col(cat_col),
        F.col("p").alias("p_prev"),
    )
    cur_windows = tot.select("ws")
    aligned = (
        p.join(prev, ["ws", cat_col], "full_outer")
        .join(cur_windows, "ws", "left_semi")
    )
    has_prev = prev.select("ws").distinct().withColumn("has_prev", F.lit(True))
    return (
        aligned.groupBy("ws")
        .agg(
            F.round(
                0.5
                * F.sum(
                    F.abs(
                        F.coalesce(F.col("p"), F.lit(0.0))
                        - F.coalesce(F.col("p_prev"), F.lit(0.0))
                    )
                ),
                4,
            ).alias("tv_drift")
        )
        .join(has_prev, "ws", "left")
        .select(
            F.col("ws").alias("window_start"),
            F.when(F.col("has_prev"), F.col("tv_drift")).alias("tv_drift"),
        )
    )


def _running_event_hwm(df: DataFrame, time_col: str, arrival_col: str):
    """Running event-time high-water mark in arrival order, TWO-LEVEL (the
    sampling.global_cumsum pattern): per-arrival-bucket local running max
    inside a partitioned window + a prefix max over the bucket maxima
    (bucket-count-bounded) — no global single-partition pass.  Including
    the current row is equivalent to 'max of strictly-earlier arrivals'
    for lateness (a row cannot make itself late).  Returns df plus a
    `__hwm` column.  Shared by late_arrival_stats and
    watermark_sizing_curve so the subtle core exists ONCE (r9 review)."""
    from pyspark.sql import Window

    bucket = F.expr(f"{arrival_col} div 1024").alias("__ab")
    wl = Window.partitionBy("__ab").orderBy(arrival_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = df.withColumn("__ab", bucket).withColumn(
        "__lmax", F.max(time_col).over(wl)
    )
    bmax = local.groupBy("__ab").agg(F.max(time_col).alias("__bmax"))
    wp = Window.orderBy("__ab").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bmax.withColumn("__pmax", F.max("__bmax").over(wp)).select(
        "__ab", "__pmax"
    )
    return (
        local.join(prefix, "__ab")
        .withColumn(
            "__hwm",
            F.greatest(F.col("__lmax"), F.coalesce("__pmax", F.col("__lmax"))),
        )
        .drop("__ab", "__lmax", "__pmax")
    )




def late_arrival_stats(
    df: DataFrame,
    delay: str = "1 hour",
    window: str = "1 day",
    time_col: str = "ts",
    arrival_col: str = "event_id",
) -> DataFrame:
    """Per-window late-arrival accounting under a watermark policy: an
    event is LATE when its event time trails the running max event time
    (in arrival order) by more than `delay` — exactly the rows a
    `withWatermark(time_col, delay)` pipeline would drop.  Details the
    chosen delay per window; `watermark_sizing_curve` picks the delay.
    The running high-water mark comes from the shared two-level
    `_running_event_hwm` pass; per-window aggregation after that is a
    bounded shuffle."""
    delay_expr = F.expr(f"INTERVAL {delay}")
    flagged = _running_event_hwm(df, time_col, arrival_col).withColumn(
        "__late", F.col(time_col) < F.col("__hwm") - delay_expr
    )
    return (
        flagged.groupBy(F.window(time_col, window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("__late").cast("long")).alias("n_late"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_late").cast("long").alias("n_late"),
            # UNROUNDED integer quotient (r14, the e46 class)
            (F.col("n_late").cast("double") / F.col("n_rows")).alias("late_rate"),
        )
    )


def windowed_percentiles(
    df: DataFrame,
    value_col: str = "value",
    window: str = "1 day",
    time_col: str = "ts",
    percentiles: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-window exact q50/90/99 of a metric column — the event-time twin
    of the processing-time E4 metrics (streaming/metrics.py): latency /
    value quantiles per window instead of per micro-batch.  Exact
    `percentile` keeps oracle parity (DuckDB quantile_cont interpolates
    identically); swap for approx_percentile at 100 TB where a t-digest
    tolerance is acceptable."""
    aggs = [
        F.round(F.percentile(value_col, F.lit(q)), 4).alias(
            f"p{int(round(q * 100))}"
        )
        for q in percentiles
    ]
    return (
        df.groupBy(F.window(time_col, window).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), *aggs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("n").cast("long").alias("n"),
            *[f"p{int(round(q * 100))}" for q in percentiles],
        )
    )


def window_new_key_rate(
    df: DataFrame,
    key_col: str = "user_id",
    window: str = "1 day",
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-window first-seen (novelty) rate: how many of a window's keys
    appear for the FIRST time in the whole stream — `streaming_first_seen`
    aggregated to window grain (new-user rate / feed-novelty monitoring).
    First occurrence = min(time, tiebreak) per key (one keyed agg), then
    one count per (window): both shuffles are key- and window-bounded."""
    firsts = (
        df.groupBy(key_col)
        .agg(
            F.min(F.struct(time_col, tiebreak_col)).alias("__first")
        )
        .select(key_col, F.col(f"__first.{time_col}").alias("__first_ts"))
    )
    per_window = df.groupBy(F.window(time_col, window).alias("win")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col(key_col)).alias("n_keys"),
    )
    new_per_window = (
        firsts.groupBy(F.window("__first_ts", window).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    return (
        per_window.join(new_per_window, "win", "left")
        .select(
            F.col("win.start").alias("window_start"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            # UNROUNDED integer quotient (r14, the e46 class)
            (
                F.coalesce(F.col("n_new"), F.lit(0)).cast("double")
                / F.col("n_keys")
            ).alias("new_key_rate"),
        )
    )


def windowed_trailing_anomaly(
    df: DataFrame,
    value_col: str = "value",
    window: str = "1 day",
    time_col: str = "ts",
    trailing: int = 7,
) -> DataFrame:
    """Per-window anomaly score against a TRAILING baseline: z-score of
    each window's total vs the mean/stddev of the `trailing` PRECEDING
    windows only — the online form of the e32 monitor (no future leakage,
    so it is computable as windows close in a stream).  Windows with
    fewer than 2 predecessors (stddev undefined) report NULL.  One
    bounded agg to window grain, then one ordered pass over the
    window-count-bounded series."""
    from pyspark.sql import Window

    per = (
        df.groupBy(F.window(time_col, window).alias("win"))
        .agg(F.sum(F.col(value_col).cast("double")).alias("total"))
        .select(F.col("win.start").alias("window_start"), "total")
    )
    w = Window.orderBy("window_start").rowsBetween(-trailing, -1)
    return (
        per.withColumn("__mu", F.avg("total").over(w))
        .withColumn("__sd", F.stddev_samp("total").over(w))
        .select(
            "window_start",
            F.round("total", 2).alias("total"),
            F.round(
                F.when(
                    F.col("__sd").isNotNull() & (F.col("__sd") > 0),
                    (F.col("total") - F.col("__mu")) / F.col("__sd"),
                ),
                4,
            ).alias("trailing_z"),
        )
    )


def watermark_sizing_curve(
    df: DataFrame,
    delays: tuple = ("10 minutes", "30 minutes", "1 hour", "2 hours"),
    time_col: str = "ts",
    arrival_col: str = "event_id",
) -> DataFrame:
    """The watermark SIZING tool late_arrival_stats points at: the whole
    late-rate-vs-delay curve in one pass.  The running event-time
    high-water mark (the shared `_running_event_hwm` two-level pass) is
    computed ONCE; each row's lateness_seconds = hwm - ts then answers
    every candidate delay via one small explode (|delays| rows per event,
    immediately re-aggregated — map-side combine keeps the shuffle at
    |delays| keys).  Pick the smallest delay whose late_rate is
    acceptable; that is the `withWatermark` argument to deploy."""
    late_s = (
        F.unix_timestamp("__hwm") - F.unix_timestamp(time_col)
    ).alias("__late_s")
    delay_secs = [_interval_ms(d) // 1000 for d in delays]
    flagged = _running_event_hwm(df, time_col, arrival_col).select(late_s)
    curve = flagged.select(
        F.explode(F.array(*[F.lit(s) for s in delay_secs])).alias("delay_seconds"),
        "__late_s",
    )
    return (
        curve.groupBy("delay_seconds")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("__late_s") > F.col("delay_seconds")).cast("long")).alias(
                "n_late"
            ),
        )
        .select(
            F.col("delay_seconds").cast("long").alias("delay_seconds"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_late").cast("long").alias("n_late"),
            # UNROUNDED integer quotient (r14, the e46 class)
            (F.col("n_late").cast("double") / F.col("n_rows")).alias("late_rate"),
        )
    )


def run_dup_rate_stream(
    spark,
    source_dir: str,
    out_path: str,
    checkpoint: str,
    schema: str = "event_id long, user_id long, event_type string, ts timestamp",
    window: str = "1 day",
    key_cols: tuple = ("user_id", "event_type"),
    time_col: str = "ts",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
    source_df: DataFrame | None = None,
):
    """The dup-rate monitor as a RUNNING streaming query: windowed_dup_rate
    over a file stream, append mode, parquet sink — each window's row lands
    exactly once when the watermark closes it (availableNow runs a final
    no-data micro-batch that applies the last watermark, so even a
    single-batch run emits its closed windows), and the sink IS the
    monitoring table (a142's drift / a148's trailing-z read it as a batch
    snapshot).  Chained stateful aggregations require the watermark +
    append mode (Spark >= 3.4).

    `max_files_per_trigger` defaults to unbatched (one micro-batch per
    run): a monitor catching up over N accumulated files should NOT pay N
    stateful checkpoint commits.  Maintenance: a streaming parquet sink
    carries a `_spark_metadata` transaction log — do NOT run
    plans.maintenance.compact_parquet on it (the swap discards the log and
    metadata-log-driven reads lose or reject the compacted files);
    periodically MATERIALIZE the sink into a separate compacted batch
    table instead and point long-term readers there.

    `source_df` overrides the json reader with any prepared STREAMING
    DataFrame (same contract as the r10 runners)."""
    if source_df is None:
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        source_df = reader.json(source_dir)
    out = windowed_dup_rate(
        source_df,
        window,
        key_cols,
        time_col,
        watermark=watermark,
    )
    return (
        out.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_category_counts_stream(
    spark,
    source_dir: str,
    out_path: str,
    checkpoint: str,
    schema: str = "event_id long, user_id long, event_type string, ts timestamp",
    window: str = "1 day",
    cat_col: str = "event_type",
    time_col: str = "ts",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
    source_df: DataFrame | None = None,
):
    """The category-drift monitor's STREAMING half (r9 VERDICT #4): one
    watermarked windowed aggregation sinks per-(window, category) counts in
    append mode — each closed window's rows land exactly once.  The drift
    itself (TV distance vs the previous window) compares one window
    aggregate against ANOTHER, a join-over-aggregate no streaming query can
    chain — so it runs over the SINK via `category_drift_from_counts`,
    which shares `_drift_from_counts` with the batch twin: the monitor
    equals `windowed_category_drift` on closed windows by construction.

    Same trigger/maintenance contract as `run_dup_rate_stream`: availableNow
    with a final no-data batch that applies the last watermark, default
    unbatched reader, and do NOT compact the streaming sink in place —
    materialize to a separate batch table for long-horizon readers.

    `source_df` overrides the json reader with any prepared STREAMING
    DataFrame (e.g. a readStream.parquet with a ns->timestamp cast)."""
    if source_df is None:
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        source_df = reader.json(source_dir)
    counts = (
        source_df
        .withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window).alias("win"), F.col(cat_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), cat_col, "n")
    )
    return (
        counts.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def category_drift_from_counts(
    spark, counts_path: str, window: str = "1 day", cat_col: str = "event_type"
) -> DataFrame:
    """Batch composer over `run_category_counts_stream`'s sink: the
    per-window TV drift, via the SAME `_drift_from_counts` tail the batch
    twin uses.  Windows close in event-time order, so a closed window's
    predecessor is always closed too — the sink is self-sufficient."""
    return _drift_from_counts(spark.read.parquet(counts_path), window, cat_col)


def streaming_new_key_ledger(
    df: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
    watermark: str = "2 hours",
    retention: str = "30 days",
) -> DataFrame:
    """First-occurrence LEDGER via applyInPandasWithState: emits one
    (key, first_ts) row the first time each key appears across the
    stream's lifetime (within `retention`) — the stateful half of the
    new-key-rate monitor (a147's novelty semantics as a running query).

    State is one counter per key, key-hash partitioned, evicted by an
    event-time timer at watermark + retention; `retention` defaults LONG
    because this state answers "ever seen", not "recently seen" — an
    evicted key re-emits as new, the same tail contract as the dedup gate.
    first_ts is min(time, tiebreak) over the rows the key's FIRST
    micro-batch delivers; with the default unbatched availableNow reader
    that is the global minimum, matching the batch twin exactly.  Late
    rows past the watermark are dropped before the operator (the standard
    streaming-vs-batch caveat the closed-window tests document)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    key_field = df.schema[key_col]
    ts_field = df.schema[time_col]
    out_schema = StructType([key_field]).add("first_ts", ts_field.dataType)
    retention_ms = _interval_ms(watermark) + _interval_ms(retention)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            # a non-timed-out group invoked with only empty chunks:
            # pd.concat([]) raises ValueError and fails the whole query
            # (r10 advisor, low) — nothing to count, nothing to emit
            return
        batch = pd.concat(chunks, ignore_index=True)
        evt_ms = int(batch[time_col].max().value) // 1_000_000
        if state.exists:
            (seen,) = state.get
            state.update((seen + len(batch),))
            state.setTimeoutTimestamp(_eviction_ts_ms(state, evt_ms, retention_ms))
            return
        state.update((len(batch),))
        state.setTimeoutTimestamp(_eviction_ts_ms(state, evt_ms, retention_ms))
        first = batch.sort_values(
            [time_col, tiebreak_col], kind="mergesort"
        ).head(1)
        yield pd.DataFrame(
            {key_col: [key[0]], "first_ts": [first[time_col].iloc[0]]}
        )

    return (
        df.withWatermark(time_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_new_key_rate_stream(
    spark,
    source_dir: str,
    totals_path: str,
    ledger_path: str,
    checkpoint_totals: str,
    checkpoint_ledger: str,
    schema: str = "event_id long, user_id long, event_type string, ts timestamp",
    key_col: str = "user_id",
    window: str = "1 day",
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
    source_df: DataFrame | None = None,
):
    """The new-key-rate monitor as RUNNING streaming queries (r9 VERDICT
    #4): two queries over the same file source —

    - **totals**: the chained (window, key) -> window aggregation (the
      windowed_dup_rate shape; streaming aggs can't COUNT DISTINCT, the
      two-level agg is the supported spelling) sinks per-closed-window
      (window_start, n_rows, n_keys);
    - **ledger**: `streaming_new_key_ledger` (applyInPandasWithState)
      sinks one (key, first_ts) row per first-ever occurrence.

    `new_key_rate_from_sinks` then composes the two sinks into exactly
    `window_new_key_rate`'s output for closed windows.  Returns
    (totals_query, ledger_query); await both.  `source_df` overrides the
    json reader with any prepared streaming DataFrame — both queries get
    their own execution of it."""

    def _source():
        if source_df is not None:
            return source_df
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.json(source_dir)

    q_totals = (
        windowed_dup_rate(
            _source(),
            window,
            (key_col,),
            time_col,
            watermark=watermark,
        )
        .drop("dup_rate")
        .writeStream.format("parquet")
        .option("path", totals_path)
        .option("checkpointLocation", checkpoint_totals)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q_ledger = (
        streaming_new_key_ledger(
            _source(),
            key_col,
            time_col,
            tiebreak_col,
            watermark=watermark,
        )
        .writeStream.format("parquet")
        .option("path", ledger_path)
        .option("checkpointLocation", checkpoint_ledger)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    return q_totals, q_ledger


def new_key_rate_from_sinks(
    spark,
    totals_path: str,
    ledger_path: str,
    window: str = "1 day",
    key_col: str = "user_id",
) -> DataFrame:
    """Batch composer over `run_new_key_rate_stream`'s two sinks: joins the
    closed-window totals with the novelty ledger bucketed into the window
    of each key's first occurrence — column-for-column the batch twin's
    (`window_new_key_rate`) output, restricted to closed windows.  The
    left join keeps windows with zero new keys (n_new = 0), and ledger
    rows whose first_ts window has not closed yet simply find no totals
    row to join."""
    totals = spark.read.parquet(totals_path)
    new_per_window = (
        spark.read.parquet(ledger_path)
        .groupBy(F.window("first_ts", window).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_new"))
        .select(F.col("win.start").alias("window_start"), "n_new")
    )
    return totals.join(new_per_window, "window_start", "left").select(
        "window_start",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
        # UNROUNDED integer quotient (r14, the e46 class)
        (
            F.coalesce(F.col("n_new"), F.lit(0)).cast("double")
            / F.col("n_keys")
        ).alias("new_key_rate"),
    )
