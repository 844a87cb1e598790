"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>,
   "repeats": N, "runs": {"<name>": [sec, ...]}, "variance": {...}}

Repeat protocol (r7, VERDICT #6 re-baseline): each query runs
$SPARK_GRAFT_BENCH_REPEATS times (default 3) and "queries" records the
WARM MEDIAN — r5 vs r6 showed ambient machine drift (+16% uniform) larger
than most real per-query deltas, so single-shot numbers conflate weather
with code.  "runs" keeps every raw timing and "variance" the per-query
relative spread ((max-min)/median) so cross-round regression calls can
check dispersion before blaming code.  Stateful benches allocate fresh
working dirs per repeat (ctx.fresh), so every repeat does identical work.

Shape mirrors production: `ingest_persist` runs the full ingest and WRITES
the partitioned blob + index tables to disk once; the query/resubmit benches
then read the parquet-backed index so predicate pushdown / partition pruning
are actually exercised (not an in-memory lineage replay).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from persistor_spark import fixtures  # noqa: E402
from persistor_spark.plans import ingest, layout, resubmit  # noqa: E402
from persistor_spark.plans.query import IndexQuery  # noqa: E402
from persistor_spark.session import build_session  # noqa: E402
from persistor_spark.sources import blobs as blob_src  # noqa: E402
from persistor_spark.sources.registry import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf() -> float:
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    return float(m.group(1)) if m else -1.0


class Ctx:
    def __init__(self, spark, workdir):
        self.spark = spark
        self.workdir = workdir
        self._fresh_n = 0
        self.index_raw_path = f"{workdir}/index_raw"
        self.index_path = f"{workdir}/index"
        self.manifest_path = f"{workdir}/index_manifest"
        self.blob_path = f"{workdir}/blobs"

    def fresh(self, name: str) -> str:
        """A unique working path per call: repeated runs of a stateful
        bench (append-mode writes, stream checkpoints, copytree targets)
        must not collide with their own earlier repeats."""
        self._fresh_n += 1
        return f"{self.workdir}/{name}_r{self._fresh_n}"

    def index(self):
        if not os.path.exists(self.index_path):
            # subset/reordered run (SPARK_GRAFT_BENCH_ONLY): build the
            # optimized layout this accessor serves — untimed for the
            # caller's line only insofar as its own timer starts later;
            # ingest-dependent lines in a subset keep their usual cost
            bench_index_layout(self)
        return self.spark.read.parquet(self.index_path)

    def blobs(self):
        if not os.path.exists(self.blob_path):
            bench_ingest_persist(self)
        return blob_src.read_blob_records(self.spark, self.blob_path)


def bench_ingest_persist(ctx: Ctx):
    """Full ingest: derive messages -> version split -> blob naming ->
    positions -> write partitioned blob table + RAW index table.

    persist_intermediate caches the shared derivation prefix so the blob and
    index writes don't each recompute it.  The unique_id range-sort that r2
    folded in here is now its own bench line (`index_layout`) so the two
    costs are visible separately; their sum is comparable to the old line."""
    # fresh dirs per repeat: write_index appends, so re-running into the
    # same path would double rows for every downstream query
    ctx.blob_path = ctx.fresh("blobs")
    ctx.index_raw_path = ctx.fresh("index_raw")
    result = fixtures.run_fixture_ingest(ctx.spark, SF_DIR, persist_intermediate=True)
    ingest.write_blobs(result, ctx.blob_path, fmt="parquet")
    ingest.write_index(result, ctx.index_raw_path)
    result.unpersist()


def bench_index_layout(ctx: Ctx):
    """The index-layout cost in isolation: rewrite the raw index into
    FEW large range-partitioned files sorted by unique_id (row-group min/max
    pruning, the Mongo _id-index analogue), then write the Iceberg-lite
    min/max file manifest.  The r3 10x probe showed point lookup going
    file-listing bound (3.4x time for 10x rows); fewer files + a manifest is
    the deploy-grade fix — lookups open one manifest + the one matching data
    file.  Downstream query benches read THIS layout."""
    if not os.path.exists(ctx.index_raw_path):
        bench_ingest_persist(ctx)  # subset/reordered run: build the source
    ctx.index_path = ctx.fresh("index")
    ctx.manifest_path = ctx.fresh("index_manifest")
    (
        ctx.spark.read.parquet(ctx.index_raw_path)
        .repartitionByRange(8, "unique_id")
        .sortWithinPartitions("unique_id")
        .write.mode("overwrite")
        .parquet(ctx.index_path)
    )
    layout.write_minmax_manifest(ctx.spark, ctx.index_path, ctx.manifest_path)
    # the serving layer keeps the manifest resident (Mongo's in-memory _id
    # index analogue); loading it is part of layout cost, not lookup cost
    ctx.manifest = layout.load_manifest(ctx.spark, ctx.manifest_path)


def bench_point_lookup(ctx: Ctx):
    """Q1 through the resident manifest: a driver-side range check prunes
    to the one data file whose [min,max] covers the id, then the usual
    IndexQuery semantics over that single file — ONE Spark job, no table
    listing."""
    if not hasattr(ctx, "manifest"):
        # subset/reordered runs may skip bench_index_layout (the
        # ivfpq_probe lazy-build pattern)
        bench_index_layout(ctx)
    pruned = layout.manifest_pruned_scan_cached(
        ctx.spark, ctx.index_path, ctx.manifest, ["b3_m000000123"]
    )
    return IndexQuery(pruned).get("b3_m000000123").count()


def bench_filter_query(ctx: Ctx):
    flt = [
        {"broker_id": "b0", "ordering_key": "k4"},
        {"business_source_key": "src2", "publish_time": {"$gte": "2024-01-03T00:00:00Z"}},
    ]
    return IndexQuery(ctx.index()).query_df(flt, ["unique_id"]).count()


def bench_interval_envelope(ctx: Ctx):
    import datetime

    res = IndexQuery(ctx.index()).get_interval(
        datetime.datetime(2024, 1, 5), datetime.datetime(2024, 1, 10), "b1", limit=100, offset=100
    )
    return res.messages.count()


def bench_resubmit_join(ctx: Ctx):
    """Replay a filtered subset: prune blob scan to touched locations,
    position-align join, count reconstructed records."""
    meta = IndexQuery(ctx.index()).query_df(
        [{"broker_id": "b2"}],
        ["unique_id", "ordering_key", "business_source_key", "business_object_key",
         "index_source_key", "location_key", "location_position"],
    )
    pruned = blob_src.prune_to_locations(ctx.blobs(), meta)
    records, _ = resubmit.resubmit(meta, pruned, broadcast_metadata=True)
    return records.count()


def bench_window_topk(ctx: Ctx):
    from pyspark.sql import Window

    w = Window.partitionBy("broker_id").orderBy("publish_time", "unique_id")
    return (
        ctx.index()
        .filter(F.col("publish_time").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .count()
    )


def bench_lineitem_agg(ctx: Ctx):
    # load_table, not a raw parquet read: driver fixtures carry
    # TIMESTAMP(NANOS) columns that a direct read surfaces as LongType —
    # the date filter would then silently match nothing (registry.py's
    # "all reads go through here" contract)
    li = load_table(ctx.spark, SF_DIR, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .collect()
    )


def bench_join_agg(ctx: Ctx):
    c = load_table(ctx.spark, SF_DIR, "customer")
    n = load_table(ctx.spark, SF_DIR, "nation")
    o = load_table(ctx.spark, SF_DIR, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("rev"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    )


def bench_dedup_minhash(ctx: Ctx):
    from persistor_spark.analytics import dedup

    docs = load_table(ctx.spark, SF_DIR, "documents")
    return dedup.minhash_lsh_pairs(docs, 0.8).count()


def bench_dedup_exactsubstr(ctx: Ctx):
    """ExactSubstr removal: duplicated 8-gram spans found AND cut from every
    document (gram posting join + interval merge + array-expression cut)."""
    from persistor_spark.analytics import dedup

    docs = load_table(ctx.spark, SF_DIR, "documents")
    return dedup.remove_duplicate_substrings(docs, gram_len=8).count()


def bench_dedup_dhash(ctx: Ctx):
    """Multimodal near-dup: synthesize media, decode REAL BMPs via Arrow
    mapInPandas into 63-bit perceptual dHashes (localCheckpointed — the
    hash table feeds both band-join sides), 9-band LSH join + Hamming
    verify, top-10 closest image pairs."""
    from persistor_spark.analytics import multimodal

    docs = load_table(ctx.spark, SF_DIR, "documents")
    media = multimodal.synthesize_media(ctx.spark, docs)
    hashes = multimodal.image_dhash(media).localCheckpoint()
    return multimodal.dhash_near_pairs(hashes, max_hamming=20, k=10).count()


def bench_ann_topk(ctx: Ctx):
    from persistor_spark.analytics import similarity

    embs = load_table(ctx.spark, SF_DIR, "embeddings")
    q = embs.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(embs, q, k=10).count()


def bench_ann_ivfpq_build(ctx: Ctx):
    """Build the IVF-PQ index (FAISS train/add): coarse k-means + residual
    PQ codebooks + corpus encode, checkpointed as the in-session stand-in
    for the persisted inverted-list table.  Paid once per corpus."""
    from persistor_spark.analytics import similarity

    embs = load_table(ctx.spark, SF_DIR, "embeddings")
    n = embs.count()  # known corpus size: skips the count jobs inside train
    idx = similarity.ivfpq_build(embs, n_centroids=16, n_vectors=n)
    idx.cells = idx.cells.localCheckpoint()
    ctx.ivfpq_index = idx
    return idx.cells.count()


def bench_ann_ivfpq_probe(ctx: Ctx):
    """The steady-state bucketed-ANN number a 100 TB user sees: probe the
    prebuilt index (cell-pruned candidate join + ADC + exact re-rank).
    ann_topk stays as the exactness baseline.  Self-timed (r11 VERDICT
    #6): on subset/slope runs that skip the build line, the lazy index
    build runs here UNTIMED — the recorded figure is the pure probe a
    user sees against a standing index, in every run mode, without a
    footnote."""
    from persistor_spark.analytics import similarity

    embs = load_table(ctx.spark, SF_DIR, "embeddings")
    q = embs.filter(F.col("vec_id") < 10)
    idx = _ivfpq_for_probe(ctx)
    t0 = time.time()
    similarity.ivfpq_search(idx, q, k=10, nprobe=4).count()
    return time.time() - t0


bench_ann_ivfpq_probe.self_timed = True


def bench_stream_ingest(ctx: Ctx):
    """The E1–E6 streaming identity of the engine (the reference IS a
    streaming ingester, persistor.go:96-166): the same ingest derivation
    through Structured Streaming micro-batches — file source standing in for
    the broker (SURVEY §5), 4 micro-batches, the index merge sink off
    (fresh sinks + file source is exactly-once already, matching
    bench_ingest_persist's append semantics; the blob merge appends
    directly outside replays).  Self-timed: source chunking
    is prep, not ingest.  The line to compare against is ingest_persist —
    same rows, same blob+index writes, plus per-batch scheduling overhead."""
    from persistor_spark.streaming import ingest_stream

    msgs = fixtures.load_messages(ctx.spark, SF_DIR)
    src = ctx.fresh("stream_src")
    # exactly ONE parquet file per chunk -> deterministic 4 micro-batches
    # (hash-repartition by chunk can leave collisions/empty partitions)
    for i in range(4):
        (
            msgs.filter(F.col("event_seq") % 4 == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    sinks = ingest_stream.StreamSinks(
        blob_path=ctx.fresh("stream_blobs"),
        index_path=ctx.fresh("stream_index"),
        deadletter_path=ctx.fresh("stream_dlq"),
        checkpoint_path=ctx.fresh("stream_ckpt"),
    )
    cfg = fixtures.fixture_ingest_config()
    stream = ingest_stream.file_stream(ctx.spark, src, max_files_per_trigger=1)
    t0 = time.time()
    q, metrics = ingest_stream.run_stream(
        stream, cfg, sinks, exactly_once_index=False
    )
    q.awaitTermination(600)
    elapsed = time.time() - t0
    assert metrics.batches >= 4, f"expected 4 micro-batches, got {metrics.batches}"
    return elapsed


bench_stream_ingest.self_timed = True


def bench_receiver_ingest(ctx: Ctx):
    """S1 executed receiver semantics at bench scale (r7 VERDICT #8
    stretch): pull -> decode_pubsub -> run_batch -> blob+index merge -> ack
    against the FileSubscription stand-in, draining the backlog in 4
    lease-batched pulls.  Publishing the backlog is prep (untimed); the
    timed region covers lease accounting, the decode mapping, the full
    ingest derivation, and the blob+index sinks in the SAME mode as
    stream_ingest (append; fresh sinks + an acked backlog are exactly-once
    already — the E1 merge-vs-redelivery pairing is pinned by the
    FileSubscription e2e pytest, not re-benched here), overlapped from two
    driver threads exactly as run_stream does under a deterministic clock.
    Compare with stream_ingest — same rows and sink mode, file source vs
    leased receiver; the delta is the receiver contract (lease accounting,
    candidate listing, ack bookkeeping — acked ids and lease groups live
    in parquet frame stores since r9; the JSON state holds only bounded
    per-group bookkeeping).  A tiny untimed pull/ack_df warm-up cycle runs
    first so the first repeat doesn't charge pyarrow/window-exec JIT
    warm-up to the receiver contract (repeat variance, r8 VERDICT #3)."""
    from persistor_spark.plans import ingest
    from persistor_spark.sources.file_subscription import (
        FileSubscription,
        decode_pubsub,
    )

    from persistor_spark.sources.file_subscription import (
        DEFAULT_MAX_OUTSTANDING_BYTES,
    )

    msgs = fixtures.load_messages(ctx.spark, SF_DIR)
    n_msgs = msgs.count()
    batch = max(1, -(-n_msgs // 4))
    # same flow-control raise as FileSubscription.for_pubsub
    # (receiver.go:38-44): BOTH outstanding caps must admit a full batch,
    # or a pull silently clips to the client defaults (r8 ADVICE: the
    # message cap alone leaves the byte cap binding on larger payloads)
    sub = FileSubscription(
        ctx.fresh("receiver_sub"),
        batch_size=batch,
        max_outstanding_messages=batch,
        max_outstanding_bytes=max(
            DEFAULT_MAX_OUTSTANDING_BYTES,
            msgs.agg(F.sum(F.octet_length("payload"))).first()[0] or 0,
        ),
    )
    sub.publish(
        msgs.select("payload", "attributes", "publish_time", "ordering_key")
    )
    # untimed warm-up: a 16-message sub runs the WHOLE per-pull cycle once
    # (pull anti-joins + budget cumsum + frame write, decode, the full
    # ingest derivation, both threaded sink writes, ack_df) so the first
    # timed repeat doesn't charge plan/JIT warm-up of those paths to the
    # receiver contract (repeat variance, r8 VERDICT #3)
    import concurrent.futures as _cf

    warm = FileSubscription(ctx.fresh("receiver_warm"), batch_size=16)
    warm.publish(
        msgs.limit(16).select("payload", "attributes", "publish_time", "ordering_key")
    )
    wcfg = fixtures.fixture_ingest_config()
    wb = warm.pull(ctx.spark)
    if not wb.isEmpty():
        # persist_intermediate follows run_stream's dispatch (r15 opt): a
        # deterministic clock_column means the two sinks recompute
        # identical values and overlap instead of serializing on the
        # cache fill — same rows, same writes, same timed methodology
        wres = ingest.run_batch(
            decode_pubsub(wb, "persistor-sub"),
            wcfg,
            persist_intermediate=wcfg.clock_column is None,
        )
        with _cf.ThreadPoolExecutor(max_workers=2) as pool:
            for f in [
                pool.submit(ingest.write_blobs, wres, ctx.fresh("warm_blobs")),
                pool.submit(ingest.write_index, wres, ctx.fresh("warm_index")),
            ]:
                f.result()
        wres.unpersist()
        warm.ack_df(wb)
        # warm the drain tail too: the empty-pull arm and the settle-aware
        # backlog prune (r10) both run exactly once inside the timed drain,
        # so their first-execution plan/JIT cost belongs to warm-up
        warm.prune_backlog(ctx.spark)
        warm.pull(ctx.spark).isEmpty()
    cfg = fixtures.fixture_ingest_config()
    blobs = ctx.fresh("receiver_blobs")
    index = ctx.fresh("receiver_index")
    t0 = time.time()
    pulls = 0
    while True:
        batch = sub.pull(ctx.spark)
        if batch.isEmpty():
            break
        pulls += 1
        res = ingest.run_batch(
            decode_pubsub(batch, "persistor-sub"),
            cfg,
            # run_stream's dispatch rule: cache only for wall-clock masks
            persist_intermediate=cfg.clock_column is None,
            blob_name=F.concat(F.col("broker_id"), F.lit(f"-p{pulls}")),
        )
        with _cf.ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(ingest.write_blobs, res, blobs),
                pool.submit(ingest.write_index, res, index),
            ]
            for f in futs:
                f.result()
        res.unpersist()
        # the de-drivered settle path (r8 VERDICT #3): acked ids go
        # disk-to-disk as a parquet frame — no id list on the driver
        sub.ack_df(batch)
    elapsed = time.time() - t0
    assert pulls >= 4, f"expected >=4 lease-batched pulls, got {pulls}"
    assert sub.stats()["acked"] == n_msgs
    return elapsed


bench_receiver_ingest.self_timed = True


def bench_bm25_search(ctx: Ctx):
    from persistor_spark.analytics import search

    docs = load_table(ctx.spark, SF_DIR, "documents")
    idx = search.build_index(docs)
    return search.search(idx, ["spark", "join", "filter"], k=10).collect()


def bench_text_stats(ctx: Ctx):
    from persistor_spark.analytics import text

    docs = load_table(ctx.spark, SF_DIR, "documents")
    return text.with_text_stats(docs).agg(F.avg("quality_score")).collect()


def _lsh_index_path(ctx: Ctx):
    from persistor_spark.analytics import dedup

    path = getattr(ctx, "lsh_index_path", None)
    if path is None:
        docs = load_table(ctx.spark, SF_DIR, "documents")
        path = f"{ctx.workdir}/lsh_index"
        dedup.lsh_index_save(
            dedup.build_band_table(docs.filter(F.col("doc_id") % 2 == 0)), path
        )
        ctx.lsh_index_path = path
    return path


def bench_dedup_index_build(ctx: Ctx):
    """Sketch half the corpus and persist it as the band-partitioned LSH
    index (posting-list layout).  Paid once per corpus — the dedup analogue
    of ann_ivfpq_build.  Each repeat REBUILDS into a fresh dir (identical
    work per repeat); the last build is what dedup_incremental probes."""
    from persistor_spark.analytics import dedup

    docs = load_table(ctx.spark, SF_DIR, "documents")
    path = ctx.fresh("lsh_index")
    dedup.lsh_index_save(
        dedup.build_band_table(docs.filter(F.col("doc_id") % 2 == 0)), path
    )
    ctx.lsh_index_path = path
    return dedup.lsh_index_load(ctx.spark, path).count()


def bench_dedup_incremental(ctx: Ctx):
    """The steady-state continuous-ingestion cost: probe the OTHER half of
    the corpus (an arriving batch) against the persisted index — batch-sized
    sketch + bucket equi-join + exact verify.  Compare with dedup_minhash's
    full corpus-vs-corpus pass."""
    from persistor_spark.analytics import dedup

    docs = load_table(ctx.spark, SF_DIR, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    loaded = dedup.lsh_index_load(ctx.spark, _lsh_index_path(ctx))
    return dedup.incremental_dup_pairs(new, loaded, 0.8).count()


def bench_index_compaction(ctx: Ctx):
    """Periodic maintenance for the append-only persisted-index layouts
    (plans.maintenance): 40 appended micro-batches (10x the stream_ingest
    fixture) fragment the band-partitioned LSH index to bands x batches
    small files; the timed step is compact_parquet rewriting it back to
    ~one file per band with an atomic swap.  Prep (the appends, off one
    checkpointed sketch) is excluded — self-timed.  Companion measurement
    (ARCHITECTURE §6): the steady-state probe on the fragmented layout vs
    after compaction."""
    from persistor_spark.analytics import dedup
    from persistor_spark.plans import maintenance

    docs = load_table(ctx.spark, SF_DIR, "documents")
    idx = ctx.fresh("frag_lsh_index")
    dedup.lsh_index_save(
        dedup.build_band_table(docs.filter(F.col("doc_id") % 2 == 0)), idx
    )
    # coalesce(1): build_band_table now fans the sketch across cores
    # (r14 opt), and a raw partitionBy append from 32 partitions would
    # fragment to sketch_parts x bands files per append — 30x the
    # documented bands x batches fixture this line has always measured.
    # One partition per append restores the r13-identical layout (prep
    # is untimed either way).
    bt = (
        dedup.build_band_table(
            docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
        )
        .localCheckpoint()
        .coalesce(1)
    )
    for i in range(40):
        # ids here are all ODD (the % 2 == 1 half), so `id % 40 == i` is
        # empty for every even i — (id div 2) % 40 hits all 40 batches,
        # fragmenting the layout at the documented 40-append scale
        bt.filter(F.expr("(id div 2) % 40") == i).write.mode("append").partitionBy(
            "band"
        ).parquet(idx)
    t0 = time.time()
    stats = maintenance.compact_parquet(ctx.spark, idx, partition_col="band")
    elapsed = time.time() - t0
    assert stats["files_after"] < stats["files_before"], stats
    return elapsed


bench_index_compaction.self_timed = True


def bench_index_compaction_incremental(ctx: Ctx):
    """The 100 TB maintenance story's INCREMENTAL path (r11 VERDICT #5):
    the same 40-append fragmentation as index_compaction, but layered on
    an ALREADY-COMPACTED base — compact_small_files merges only the
    small-file appendix (threshold derived between the base and append
    file sizes), never touching the base files.  Cost scales with
    small-file bytes, not table bytes: at 10x data that is 90%
    already-compacted, this line stays ~flat while index_compaction's
    full rewrite grows linearly (the slope probe's companion row).
    Prep (base build + appends) is untimed — self-timed."""
    from persistor_spark.analytics import dedup
    from persistor_spark.plans import fsutil, maintenance

    docs = load_table(ctx.spark, SF_DIR, "documents")
    idx = ctx.fresh("inc_lsh_index")
    dedup.lsh_index_save(
        dedup.build_band_table(docs.filter(F.col("doc_id") % 2 == 0)), idx
    )
    base_sizes = [sz for _, sz in fsutil.list_files_with_size(ctx.spark, idx)]
    # coalesce(1): keep the r13-identical bands x batches appendix — see
    # bench_index_compaction's note on the fanned sketch
    bt = (
        dedup.build_band_table(
            docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
        )
        .localCheckpoint()
        .coalesce(1)
    )
    for i in range(40):
        bt.filter(F.expr("(id div 2) % 40") == i).write.mode("append").partitionBy(
            "band"
        ).parquet(idx)
    appendix = [
        sz
        for _, sz in fsutil.list_files_with_size(ctx.spark, idx)
        if sz < min(base_sizes)
    ]
    thresh = (min(base_sizes) + max(appendix)) // 2 if appendix else min(base_sizes)
    t0 = time.time()
    stats = maintenance.compact_small_files(
        ctx.spark, idx, partition_col="band", small_file_bytes=thresh
    )
    elapsed = time.time() - t0
    assert stats["files_after"] < stats["files_before"], stats
    assert stats["files_small"] >= 40, stats
    return elapsed


bench_index_compaction_incremental.self_timed = True


def bench_targeted_delete(ctx: Ctx):
    """d24 at bench scale: manifest-pruned delete of three unique_ids from
    a COPY of the optimized index layout (copy + manifest rebuild are
    untimed setup; the manifest must be rebuilt on the copy because its
    rows embed absolute file paths).  The timed step is delete_by_key:
    manifest consult, rewrite of ONLY the affected files, manifest
    rebuild."""

    from persistor_spark.plans import maintenance

    if not os.path.exists(ctx.index_path):
        bench_index_layout(ctx)  # subset/reordered run: build the source
    tbl = ctx.fresh("index_delcopy")
    mf = ctx.fresh("manifest_delcopy")
    shutil.copytree(ctx.index_path, tbl)
    layout.write_minmax_manifest(ctx.spark, tbl, mf)
    t0 = time.time()
    stats = maintenance.delete_by_key(
        ctx.spark, tbl, mf, ["b0_m000000004", "b1_m000000001", "b3_m000000123"]
    )
    elapsed = time.time() - t0
    assert stats["rows_deleted"] >= 1, stats
    assert stats["files_rewritten"] < stats["files_total"], stats
    return elapsed


bench_targeted_delete.self_timed = True


def bench_zorder_layout(ctx: Ctx):
    """d30 at bench scale: write lineitem (600k rows at sf0.1) Z-ordered
    by (l_partkey, l_suppkey) into 16 clustered files, then answer a
    two-dimension box query (5% x 10% selectivity) and verify the
    zone-map effect — the box concentrates into a fraction of the files,
    which footer-stats pruning then skips.  Times layout build + probe."""
    li = load_table(ctx.spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    zp = ctx.fresh("lineitem_z")
    layout.write_zordered(li, zp, "l_partkey", "l_suppkey", 16, 10, n_files=16)
    touched = layout.files_containing(
        ctx.spark,
        zp,
        F.col("l_partkey").between(1000, 2000)
        & F.col("l_suppkey").between(100, 200),
    )
    assert touched < 8, f"z-order box query touched {touched}/16 files"


def bench_window_analytics(ctx: Ctx):
    """The r9 windowed stream-quality family at bench scale: per-day dup
    rate (chained aggs), PSI per source, and the watermark sizing curve
    over the events table — the monitoring pass a feed runs per day.
    Three bounded-output aggregation plans; no collect beyond the tiny
    result sets."""
    from persistor_spark.analytics import profiling
    from persistor_spark.streaming import windows

    ev = load_table(ctx.spark, SF_DIR, "events")
    docs = load_table(ctx.spark, SF_DIR, "documents")
    n = windows.windowed_dup_rate(ev, "1 day", ("user_id", "event_type"), "ts").count()
    n += profiling.psi_by_group(docs, "n_chars", "source").count()
    n += windows.watermark_sizing_curve(ev, ("10 minutes", "1 hour"), "ts", "event_id").count()
    return n


def bench_graph_pagerank(ctx: Ctx):
    """Iterative-join workload: 3 PageRank rounds over the symmetric
    customer<->supplier purchase graph (one shuffle join + one agg per
    round, degree-joined edges checkpointed once)."""
    from persistor_spark.analytics import graph

    edges = graph.bipartite_interaction_edges(
        load_table(ctx.spark, SF_DIR, "orders"), load_table(ctx.spark, SF_DIR, "lineitem")
    )
    return graph.pagerank(edges, iterations=3).agg(F.sum("rank")).collect()


# ---------------------------------------------------------------------------
# plan probes (r8 VERDICT #5): one callable per bench line returning the
# line's REPRESENTATIVE DataFrame (un-executed), so tools/plan_digest.py can
# snapshot a normalized physical-plan digest and a pytest can red the build
# on unexplained plan drift — the r7 double-shingle Catalyst regression was
# caught by bench numbers two rounds late; a digest catches it at commit
# time.  Lines whose timed step is procedural (file rewrites driven from the
# driver: compaction/delete/zorder) have no single plan to pin and map to
# None — the digest records them as procedural, honestly.
# ---------------------------------------------------------------------------


def _probe_setup(ctx: Ctx):
    """Shared fixture state the probes read: the optimized index layout +
    manifest, blobs, and the persisted LSH index (same builders the bench
    lines use)."""
    if not hasattr(ctx, "manifest"):
        bench_index_layout(ctx)
    _lsh_index_path(ctx)


def _probe_ingest(ctx):
    # IngestResult's index_metadata is the full derivation chain
    return fixtures.run_fixture_ingest(ctx.spark, SF_DIR).index_metadata


def _probe_stream_batch(ctx):
    # the per-micro-batch derivation run_stream executes in foreachBatch
    msgs = fixtures.load_messages(ctx.spark, SF_DIR).filter(
        F.col("event_seq") % 4 == 0
    )
    return ingest.run_batch(msgs, fixtures.fixture_ingest_config()).index_metadata


def _probe_receiver_batch(ctx):
    # decode_pubsub -> run_batch over a wire-shaped frame (the per-pull plan)
    from persistor_spark.sources.file_subscription import decode_pubsub

    msgs = fixtures.load_messages(ctx.spark, SF_DIR)
    wire = msgs.select(
        F.col("broker_msg_id").alias("message_id"),
        F.col("payload").cast("binary").alias("data"),
        "attributes",
        "publish_time",
        "ordering_key",
        F.octet_length("payload").cast("long").alias("size_bytes"),
    )
    return ingest.run_batch(
        decode_pubsub(wire, "persistor-sub"), fixtures.fixture_ingest_config()
    ).index_metadata


def _probe_index_layout(ctx):
    return (
        ctx.spark.read.parquet(ctx.index_raw_path)
        .repartitionByRange(8, "unique_id")
        .sortWithinPartitions("unique_id")
    )


def _probe_point_lookup(ctx):
    pruned = layout.manifest_pruned_scan_cached(
        ctx.spark, ctx.index_path, ctx.manifest, ["b3_m000000123"]
    )
    return IndexQuery(pruned).get("b3_m000000123")


def _probe_filter_query(ctx):
    flt = [
        {"broker_id": "b0", "ordering_key": "k4"},
        {"business_source_key": "src2", "publish_time": {"$gte": "2024-01-03T00:00:00Z"}},
    ]
    return IndexQuery(ctx.index()).query_df(flt, ["unique_id"])


def _probe_interval_envelope(ctx):
    import datetime

    return IndexQuery(ctx.index()).get_interval(
        datetime.datetime(2024, 1, 5),
        datetime.datetime(2024, 1, 10),
        "b1",
        limit=100,
        offset=100,
    ).messages


def _probe_resubmit_join(ctx):
    meta = IndexQuery(ctx.index()).query_df(
        [{"broker_id": "b2"}],
        ["unique_id", "ordering_key", "business_source_key", "business_object_key",
         "index_source_key", "location_key", "location_position"],
    )
    pruned = blob_src.prune_to_locations(ctx.blobs(), meta)
    records, _ = resubmit.resubmit(meta, pruned, broadcast_metadata=True)
    return records


def _probe_window_topk(ctx):
    from pyspark.sql import Window

    w = Window.partitionBy("broker_id").orderBy("publish_time", "unique_id")
    return (
        ctx.index()
        .filter(F.col("publish_time").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )


def _probe_lineitem_agg(ctx):
    li = load_table(ctx.spark, SF_DIR, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _probe_join_agg(ctx):
    c = load_table(ctx.spark, SF_DIR, "customer")
    n = load_table(ctx.spark, SF_DIR, "nation")
    o = load_table(ctx.spark, SF_DIR, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("rev"), F.count(F.lit(1)).alias("cnt"))
    )


def _probe_dedup_minhash(ctx):
    from persistor_spark.analytics import dedup

    return dedup.minhash_lsh_pairs(load_table(ctx.spark, SF_DIR, "documents"), 0.8)


def _probe_dedup_index_build(ctx):
    from persistor_spark.analytics import dedup

    docs = load_table(ctx.spark, SF_DIR, "documents")
    return dedup.build_band_table(docs.filter(F.col("doc_id") % 2 == 0))


def _probe_dedup_incremental(ctx):
    from persistor_spark.analytics import dedup

    docs = load_table(ctx.spark, SF_DIR, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    loaded = dedup.lsh_index_load(ctx.spark, _lsh_index_path(ctx))
    return dedup.incremental_dup_pairs(new, loaded, 0.8)


def _probe_dedup_exactsubstr(ctx):
    from persistor_spark.analytics import dedup

    return dedup.remove_duplicate_substrings(
        load_table(ctx.spark, SF_DIR, "documents"), gram_len=8
    )


def _probe_dedup_dhash(ctx):
    from persistor_spark.analytics import multimodal

    docs = load_table(ctx.spark, SF_DIR, "documents")
    media = multimodal.synthesize_media(ctx.spark, docs)
    hashes = multimodal.image_dhash(media)
    return multimodal.dhash_near_pairs(hashes, max_hamming=20, k=10)


def _probe_ann_topk(ctx):
    from persistor_spark.analytics import similarity

    embs = load_table(ctx.spark, SF_DIR, "embeddings")
    return similarity.brute_force_topk(embs, embs.filter(F.col("vec_id") < 10), k=10)


def _ivfpq_for_probe(ctx):
    from persistor_spark.analytics import similarity

    idx = getattr(ctx, "ivfpq_index", None)
    if idx is None:
        embs = load_table(ctx.spark, SF_DIR, "embeddings")
        n = embs.count()
        idx = similarity.ivfpq_build(embs, n_centroids=16, n_vectors=n)
        idx.cells = idx.cells.localCheckpoint()
        ctx.ivfpq_index = idx
    return idx


def _probe_ivfpq_build(ctx):
    # the build is train (actions) + encode; the pinnable plan is the
    # corpus-encode map that produces the inverted-list cells
    return _ivfpq_for_probe(ctx).cells


def _probe_ivfpq_probe(ctx):
    from persistor_spark.analytics import similarity

    embs = load_table(ctx.spark, SF_DIR, "embeddings")
    q = embs.filter(F.col("vec_id") < 10)
    return similarity.ivfpq_search(_ivfpq_for_probe(ctx), q, k=10, nprobe=4)


def _probe_bm25(ctx):
    from persistor_spark.analytics import search

    idx = search.build_index(load_table(ctx.spark, SF_DIR, "documents"))
    return search.search(idx, ["spark", "join", "filter"], k=10)


def _probe_text_stats(ctx):
    from persistor_spark.analytics import text

    return text.with_text_stats(load_table(ctx.spark, SF_DIR, "documents")).agg(
        F.avg("quality_score")
    )


def _probe_window_analytics(ctx):
    from persistor_spark.streaming import windows

    ev = load_table(ctx.spark, SF_DIR, "events")
    return windows.windowed_dup_rate(ev, "1 day", ("user_id", "event_type"), "ts")


def _probe_graph_pagerank(ctx):
    from persistor_spark.analytics import graph

    edges = graph.bipartite_interaction_edges(
        load_table(ctx.spark, SF_DIR, "orders"), load_table(ctx.spark, SF_DIR, "lineitem")
    )
    # one iteration: the per-round join+agg plan (the fixpoint repeats it)
    return graph.pagerank(edges, iterations=1).agg(F.sum("rank"))


PLAN_PROBES = {
    "ingest_persist": _probe_ingest,
    "stream_ingest": _probe_stream_batch,
    "index_layout": _probe_index_layout,
    "point_lookup": _probe_point_lookup,
    "filter_query": _probe_filter_query,
    "interval_envelope": _probe_interval_envelope,
    "resubmit_join": _probe_resubmit_join,
    "window_topk": _probe_window_topk,
    "lineitem_agg": _probe_lineitem_agg,
    "join_agg": _probe_join_agg,
    "dedup_minhash": _probe_dedup_minhash,
    "dedup_index_build": _probe_dedup_index_build,
    "dedup_incremental": _probe_dedup_incremental,
    "dedup_exactsubstr": _probe_dedup_exactsubstr,
    "index_compaction": None,  # procedural: driver-orchestrated file rewrite
    "index_compaction_incremental": None,  # procedural: appendix-only rewrite
    "targeted_delete": None,   # procedural: manifest-pruned file rewrite
    "zorder_layout": None,     # procedural: clustered write + footer pruning
    "dedup_dhash": _probe_dedup_dhash,
    "ann_topk": _probe_ann_topk,
    "ann_ivfpq_build": _probe_ivfpq_build,
    "ann_ivfpq_probe": _probe_ivfpq_probe,
    "bm25_search": _probe_bm25,
    "text_stats": _probe_text_stats,
    "graph_pagerank": _probe_graph_pagerank,
    "window_analytics": _probe_window_analytics,
    "receiver_ingest": _probe_receiver_batch,
}


# receiver_ingest runs LAST (r8 VERDICT #1): its stand-in state churn,
# driver threads, and page-cache pressure perturbed the five latency-
# sensitive lines that followed it in the r8 run order — at the end it
# has no neighbors to perturb
QUERIES = {
    "ingest_persist": bench_ingest_persist,
    "stream_ingest": bench_stream_ingest,
    "index_layout": bench_index_layout,
    "point_lookup": bench_point_lookup,
    "filter_query": bench_filter_query,
    "interval_envelope": bench_interval_envelope,
    "resubmit_join": bench_resubmit_join,
    "window_topk": bench_window_topk,
    "lineitem_agg": bench_lineitem_agg,
    "join_agg": bench_join_agg,
    "dedup_minhash": bench_dedup_minhash,
    "dedup_index_build": bench_dedup_index_build,
    "dedup_incremental": bench_dedup_incremental,
    "dedup_exactsubstr": bench_dedup_exactsubstr,
    "index_compaction": bench_index_compaction,
    "index_compaction_incremental": bench_index_compaction_incremental,
    "targeted_delete": bench_targeted_delete,
    "zorder_layout": bench_zorder_layout,
    "dedup_dhash": bench_dedup_dhash,
    "ann_topk": bench_ann_topk,
    "ann_ivfpq_build": bench_ann_ivfpq_build,
    "ann_ivfpq_probe": bench_ann_ivfpq_probe,
    "bm25_search": bench_bm25_search,
    "text_stats": bench_text_stats,
    "graph_pagerank": bench_graph_pagerank,
    "window_analytics": bench_window_analytics,
    "receiver_ingest": bench_receiver_ingest,
}


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


# ---------------------------------------------------------------------------
# Host-load calibration canaries (r11 VERDICT #2).  min-of-5 defends the
# record against a co-tenant BURST but not against SUSTAINED co-tenancy —
# the r11 driver record inflated 8 disk-heavy lines 23-133% across all five
# repeats with zero plan drift.  Two fixed probes with known quiet-host cost
# run at EVERY line boundary and become `host_noise_index` (global, min over
# all samples — sustained co-tenancy only; 1.0 = quiet; the r12 3x-dd-hog
# demo read io 5.4 while an idle box reads exactly 1.0) and
# `line_noise_index` (per line, the smaller bracketing sample — the r12
# shakedown caught a transient burst inflating three adjacent lines 30-40%
# that whole-run sampling missed).
#
# `queries_normalized` = raw / the line's LOCAL index.  Semantics are a
# BRACKET, not a point estimate: bench lines mix CPU and I/O, so a pure-I/O
# slowdown of Kx inflates them by between 1x and Kx — the quiet-host truth
# therefore lies in [normalized, raw], and on a quiet host (index inside
# the dead-band) the bracket collapses to raw exactly.  The r12 stress demo
# confirms containment: idle io-heavy total 30.5 s, stressed bracket
# [20.3, 109.9].  The GATE number stays the raw median; the MECHANICAL
# drift-adjudication rule this enables: a driver-bench regression on a line
# is actionable only if the driver's LOWER bound (normalized) exceeds the
# quiet-host local number — co-tenant inflation can never fake that, and a
# real regression on a quiet driver host (index 1.0) shows up undamped.
# ---------------------------------------------------------------------------

# Quiet-host canary floors, calibrated as the MIN of the in-bench samples
# of an IDLE-box bench run (r12: cpu 0.50 / io 0.41 — the bench session's
# own JVM heap and page-cache state put the in-bench cpu floor above the
# fresh-session `--calibrate` median of 0.35, so the constants must come
# from the same environment the samples do; io = min-of-3 64 MiB rounds,
# idle floor ~0.12-0.15 even under dirty-cache cycling).  The noise index is the
# min-of-3 against these floors: sustained external co-tenancy inflates
# every sample including the start-of-run one, while the bench's own
# residual load only pollutes the mid/end samples — min separates the
# two.  A dead-band treats indices under NOISE_DEADBAND as 1.0 (sample
# jitter, not co-tenancy), so an idle run's normalized numbers are
# EXACTLY its raw numbers.  Recalibrate: run the bench on an idle box and
# paste min(canary.cpu)/min(canary.io) here, keeping the dead-bands above
# the idle sample spread.
CANARY_QUIET = {"cpu": 0.50, "io": 0.12}
# io idle samples spread 0.10-0.18 with occasional fs-journal outliers
# (observed on fully idle runs), so its dead-band sits wider than cpu's;
# the dd-stress signal reads >= 5x, far above either band
NOISE_DEADBAND = {"cpu": 1.3, "io": 1.6}

# Lines whose timed region is dominated by disk writes/rewrites — exactly
# the set the r11 sustained-I/O co-tenancy inflated (compaction, delete,
# index persist/layout, the ingest sinks, image synthesis+decode).  All
# other lines normalize against the CPU index.
IO_HEAVY = {
    "ingest_persist",
    "stream_ingest",
    "receiver_ingest",
    "index_layout",
    "index_compaction",
    "index_compaction_incremental",
    "targeted_delete",
    "zorder_layout",
    "dedup_index_build",
    "dedup_dhash",
}


def _read_proc_stat() -> tuple[int, int]:
    """(busy_jiffies, total_jiffies) from /proc/stat's aggregate cpu line;
    idle + iowait count as not-busy."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return sum(vals) - idle, sum(vals)


def _host_busy_frac(interval: float = 0.25) -> float:
    """DIRECT host-load observation the timing canary cannot make (r12
    VERDICT #5: the cpu canary has a blind band — 24 spinners on 32
    cores inflate cpu-class lines ~1.3x while the probe's own duration
    stays inside its idle-run JVM variance).  Sampled at line boundaries
    while the bench itself is IDLE (after os.sync, between lines, no
    Spark job running), so every busy jiffy in the window belongs to
    someone else: quiet host ~0.00-0.05, the 24-spinner demo ~0.75.
    This is telemetry, not a divisor — busy fraction has no clean
    mapping to per-line inflation — so it feeds the adjudication RULE:
    a cpu-class drift whose bracketing busy samples exceed
    BUSY_SUSPECT is co-tenancy-suspect even when line_noise_index
    reads 1.0 (the blind band), and must be re-run on a quiet host
    before it is treated as a regression."""
    b0, t0 = _read_proc_stat()
    time.sleep(interval)
    b1, t1 = _read_proc_stat()
    return round((b1 - b0) / (t1 - t0), 3) if t1 > t0 else 0.0


# Quiet-host busy-fraction ceiling: idle boxes sample 0.00-0.05 (background
# daemons + the JVM's own idle threads); the 24-spinner blind-band demo
# reads ~0.75.  0.25 sits far above idle spread and far below any
# co-tenancy that could move a bench line materially.
BUSY_SUSPECT = 0.25


def _canary_cpu(spark) -> float:
    """Fixed pure-CPU probe at bench parallelism: a 32-partition sha2/xxhash
    fold over a deterministic range — no disk, no shuffle beyond the final
    single-row agg.  Inflates under any CPU co-tenancy that would inflate
    the JVM-side bench lines."""
    t0 = time.time()
    (
        spark.range(0, 12_000_000, 1, 32)
        .select(F.xxhash64(F.sha2(F.col("id").cast("string"), 256)).alias("h"))
        .agg(F.expr("bit_xor(h)"))  # xor-fold: sum overflows ANSI long
        .collect()
    )
    return time.time() - t0


def _canary_io(workdir: str) -> float:
    """Fixed pure-I/O probe: the MEDIAN of three independent 64 MiB
    fsync'd sequential writes.  A single large fsync varied 0.4-3x on an
    idle box (journal-commit hiccups) — the median of three smaller
    rounds filters a one-off writeback stall; a sustained I/O co-tenant
    (the r11 failure mode) inflates at least two of three rounds and
    moves the median (a MIN here dodged bursty-but-sustained dd loops
    entirely).  Chunk generation is outside the timed region."""
    chunk = os.urandom(1 << 22)  # 4 MiB
    times = []
    for r in range(3):
        path = os.path.join(workdir, f"__io_canary_{time.time_ns()}_{r}")
        t0 = time.time()
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
        try:
            for _ in range(16):  # 64 MiB per round
                os.write(fd, chunk)
            os.fsync(fd)
        finally:
            os.close(fd)
        times.append(time.time() - t0)
        os.unlink(path)
    return _median(times)


def _prev_canary():
    """Min canary timings of the most recent recorded round
    (bench_r*_local.json), for CROSS-RUN normalization: r12->r13 proved
    raw cross-round totals conflate host-generation shifts (+21% with
    zero plan drift) with code, and the canaries' own fixed workloads
    measure that shift directly (NOTES_r13).  Returns
    {"cpu": s, "io": s, "ref": "rN"} or None when no record exists."""
    import glob as _glob

    here = os.path.dirname(os.path.abspath(__file__))
    best, best_n = None, -1
    for p in _glob.glob(os.path.join(here, "bench_r*_local.json")):
        m = re.search(r"bench_r(\d+)_local\.json$", p)
        if not m or int(m.group(1)) <= best_n:
            continue
        try:
            with open(p) as fh:
                rec = json.load(fh)
            # two record shapes: the FULL record carries raw "canary"
            # sample lists; the compact sole-stdout line (r14+) carries
            # pre-reduced "canary_min" — accept either, so a round whose
            # local file was saved from stdout still extends the chain
            if "canary" in rec:
                c = rec["canary"]
                cpu, io = min(c["cpu"]), min(c["io"])
            else:
                cm = rec["canary_min"]
                cpu, io = cm["cpu"], cm["io"]
            best = {"cpu": cpu, "io": io, "ref": f"r{m.group(1)}"}
            best_n = int(m.group(1))
        except (OSError, ValueError, KeyError):
            continue
    return best


def main():
    # The result JSON must be the SOLE stdout line (the driver's capture
    # window is ~the last 1.5 KB of stdout; r12/r13 records parsed null
    # because the full record overran it and JVM chatter shares the fd).
    # Redirect fd 1 -> stderr for the whole run at the OS level — JVM and
    # library writes cannot be silenced politely — and keep the real
    # stdout on a saved fd for the final line.  try/finally so a raising
    # bench line still restores fd 1 and emits a (minimal error) JSON
    # line — the sole-stdout contract must hold on failure too, or the
    # driver is back to parsed:null exactly when something broke.
    real_stdout = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)
    compact = {
        "metric": "headline_queries_total",
        "error": "bench aborted before any result was recorded",
        "sf": _sf(),
    }
    try:
        compact = _bench_run()
    except BaseException as e:  # noqa: BLE001 — recorded, then re-raised
        compact = {
            "metric": "headline_queries_total",
            "error": f"{type(e).__name__}: {e}",
            "sf": _sf(),
        }
        raise
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(real_stdout, 1)  # restore: the result line goes to REAL stdout
        os.close(real_stdout)
        print(json.dumps(compact), flush=True)


def _bench_run() -> dict:
    # 5 repeats (r10 VERDICT #3): the median stays the gate number, but
    # "queries_min"/"total_min" carry min-of-N — the drift-comparison
    # figure a co-tenant burst can't inflate (r10's +6.7% ghost).
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5")))
    # SPARK_GRAFT_BENCH_ONLY=line1,line2 -> adjudication subset (quiet-host
    # re-runs of flagged lines); the driver never sets it, so round records
    # stay full-suite.  Unknown names fail loudly — a typo'd subset must
    # not read as "that line is fine now".
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    queries_to_run = dict(QUERIES)
    if only_env:
        only = [q for q in only_env.split(",") if q]
        unknown = [q for q in only if q not in QUERIES]
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY unknown line(s): {unknown}")
        queries_to_run = {q: QUERIES[q] for q in only}
    spark = build_session("persistor-bench")
    workdir = tempfile.mkdtemp(prefix="persistor-bench-")
    ctx = Ctx(spark, workdir)
    # warm the JVM + file listing so per-query times reflect plan execution
    load_table(spark, SF_DIR, "events").count()

    runs: dict[str, list[float]] = {}
    canary = {"cpu": [], "io": []}
    busy: list[float] = []
    files_written: dict[str, int] = {}

    def _workdir_files() -> int:
        """Data files currently under the bench workdir — cheap (one os.walk
        of bench-scale dirs) core-scaling self-diagnosis (r14 VERDICT #4):
        a cores-dependent sliver-file regression (output files per batch =
        cpu count, the r14 stream_ingest failure) shows up as this count
        scaling with $SPARK_GRAFT_CPUS across runs, without needing the
        driver's independent two-core-count bench to notice."""
        n = 0
        for _, _, fs in os.walk(workdir):
            n += sum(
                1 for f in fs if not f.startswith((".", "_")) and not f.endswith(".crc")
            )
        return n

    def _sample_canaries():
        # drain the bench's OWN pending writeback first — the canaries
        # measure EXTERNAL host load, and a dirty page cache from the
        # previous bench line would charge our own writes to the host
        # (first implementation read io_noise 4.6x on an idle box)
        os.sync()
        # direct /proc/stat observation FIRST, while the bench is at its
        # quietest (sync done, no Spark job yet) — the cpu canary that
        # follows would saturate the box and poison the window
        busy.append(_host_busy_frac())
        canary["cpu"].append(round(_canary_cpu(spark), 3))
        canary["io"].append(round(_canary_io(workdir), 3))

    try:
        # untimed warm-up: first-execution JIT/classloading and the first
        # write into a cold dir are not host noise (same reason the
        # --calibrate path warms once before sampling)
        _canary_cpu(spark)
        _canary_io(workdir)
        # sample at EVERY line boundary (~1 s each, noise on a multi-
        # minute run): the r12 shakedown caught a transient co-tenant
        # burst inflating three ADJACENT lines 30-40% across all their
        # repeats while start/mid/end samples all read quiet — only
        # boundary-granular sampling localizes that
        for name, fn in queries_to_run.items():
            _sample_canaries()  # host state entering this line
            runs[name] = []
            f0 = _workdir_files()
            for _ in range(repeats):
                t0 = time.time()
                ret = fn(ctx)
                # self_timed benches exclude their own setup (e.g. writing
                # the stream's source chunks) and return seconds to record
                elapsed = ret if getattr(fn, "self_timed", False) else time.time() - t0
                runs[name].append(round(elapsed, 3))
            # per-line output-file telemetry (all repeats; fresh dirs per
            # repeat, so divide by `repeats` for a per-run figure)
            files_written[name] = _workdir_files() - f0
        _sample_canaries()  # end-of-run host state
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    times = {name: round(_median(r), 3) for name, r in runs.items()}
    mins = {name: round(min(r), 3) for name, r in runs.items()}
    spread = {
        name: round((max(r) - min(r)) / max(_median(r), 1e-9), 3)
        for name, r in runs.items()
    }
    total = round(sum(times.values()), 3)

    def _noise_idx(cls: str, samples) -> float:
        # dead-banded so sample jitter reads as 1.0, clamped at >= 1 so
        # normalization only ever removes measured inflation
        idx = min(samples) / CANARY_QUIET[cls]
        return round(idx, 3) if idx >= NOISE_DEADBAND[cls] else 1.0

    # GLOBAL index: min over every boundary sample vs the idle-run floor
    # (see CANARY_QUIET) — fires only for co-tenancy sustained across the
    # whole run.  Measured detection limits (r12): the IO side is sharp —
    # idle samples 0.10-0.18 vs a 5-10x dd-hog signal.  The CPU side has
    # a BLIND BAND: 24 shell spinners on 32 cores inflated cpu-class
    # lines ~1.3x while every boundary sample stayed within the canary's
    # own idle-run JVM-state variance (0.20-0.59 s) — moderate cpu
    # co-tenancy is indistinguishable from GC/heap weather, so only
    # multi-x cpu loads register.  Sub-band deltas stay adjudicated the
    # pre-r12 way (plan digests + quiet-host local reruns); the r11
    # dispute this mechanism exists for was 23-133% inflation on
    # IO-HEAVY lines, which the io canary catches decisively.
    noise = {k: _noise_idx(k, v) for k, v in canary.items()}
    # PER-LINE index: the smaller of the two samples bracketing the line
    # — localizes a transient burst to exactly the lines it covered
    line_noise = {}
    for i, name in enumerate(runs):
        cls = "io" if name in IO_HEAVY else "cpu"
        line_noise[name] = _noise_idx(
            cls, [canary[cls][i], canary[cls][i + 1]]
        )
    normalized = {
        name: round(t / line_noise[name], 3) for name, t in times.items()
    }
    # per-line co-tenancy SUSPICION from the direct /proc/stat samples:
    # the larger of the two boundary busy fractions bracketing the line —
    # covers the cpu canary's blind band (see _host_busy_frac)
    line_busy = {
        name: max(busy[i], busy[i + 1]) for i, name in enumerate(runs)
    }
    busy_suspect = sorted(
        name for name, b in line_busy.items() if b >= BUSY_SUSPECT
    )
    # CROSS-RUN normalization (r13 VERDICT #4): divide each line by the
    # canary-min ratio vs the previous recorded round — the host-
    # generation correction the r12->r13 adjudication had to compute by
    # hand.  Unclamped: a faster host deflates, a slower one inflates.
    prev = _prev_canary()
    xr = None
    xnorm = None
    if prev:
        xr = {
            "cpu": round(min(canary["cpu"]) / prev["cpu"], 3),
            "io": round(min(canary["io"]) / prev["io"], 3),
            "ref": prev["ref"],
        }
        xnorm = {
            name: round(t / xr["io" if name in IO_HEAVY else "cpu"], 3)
            for name, t in times.items()
        }
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_min": mins,
        "total_min": round(sum(mins.values()), 3),
        "sf": _sf(),
        "repeats": repeats,
        "runs": runs,
        "variance": spread,
        "canary": {**canary, "quiet": CANARY_QUIET},
        "host_noise_index": noise,
        "line_noise_index": line_noise,
        "host_busy_frac": busy,
        "line_busy_frac": line_busy,
        "busy_suspect_lines": busy_suspect,
        "queries_normalized": normalized,
        "total_normalized": round(sum(normalized.values()), 3),
        "canary_ratio_vs_prev": xr,
        "queries_xnorm": xnorm,
        "total_xnorm": round(sum(xnorm.values()), 3) if xnorm else None,
        "files_written": files_written,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
    }
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_last_full.json"),
    )
    with open(full_path, "w") as fh:
        json.dump(full, fh)
    print(json.dumps(full), file=sys.stderr)  # humans/logs read stderr
    # the compact SOLE stdout line (~1.1 KB): everything a cross-round
    # grader needs; the full record lives at full_path.  "canary_min"
    # keeps the cross-run normalization chain alive even when a round's
    # bench_rN_local.json is saved from this stdout line rather than the
    # full record (_prev_canary accepts both shapes).
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": _sf(),
        "repeats": repeats,
        "total_min": full["total_min"],
        "total_normalized": full["total_normalized"],
        "canary_min": {"cpu": min(canary["cpu"]), "io": min(canary["io"])},
        "canary_ratio_vs_prev": xr,
        "total_xnorm": full["total_xnorm"],
        "busy_suspect_lines": busy_suspect,
        "full_record": full_path,
    }
    spark.stop()
    return compact


def calibrate():
    """Fresh-session canary medians — a rough idle-host REFERENCE, not
    the CANARY_QUIET source: the authoritative floors come from the
    in-bench samples of an idle-box bench run (see CANARY_QUIET's
    comment — the bench session's heap/page-cache state shifts the
    floor).  Run on an IDLE machine: `python bench.py --calibrate`."""
    spark = build_session("persistor-bench-calibrate")
    workdir = tempfile.mkdtemp(prefix="persistor-canary-")
    try:
        _canary_cpu(spark)  # warm-up: JIT/classloading is not host noise
        _canary_io(workdir)
        cpu = [round(_canary_cpu(spark), 3) for _ in range(7)]
        io = [round(_canary_io(workdir), 3) for _ in range(7)]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(
        json.dumps(
            {
                "cpu_runs": cpu,
                "io_runs": io,
                "cpu": round(_median(cpu), 3),
                "io": round(_median(io), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    if "--calibrate" in sys.argv:
        calibrate()
    else:
        main()
