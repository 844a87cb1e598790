"""Exactly-once merge, skew salting, dedup cluster resolution."""

import pytest
from pyspark.sql import functions as F

from persistor_spark.analytics import dedup
from persistor_spark.operators import skew
from persistor_spark.plans import ingest


def test_write_index_merge_idempotent(spark, tmp_path, ingested):
    path = str(tmp_path / "idx")
    n1 = ingest.write_index_merge(ingested, path)
    assert n1 == ingested.index_metadata.count()
    # redelivery of the SAME batch appends nothing (E1: exactly-once table)
    n2 = ingest.write_index_merge(ingested, path)
    assert n2 == 0
    assert spark.read.parquet(path).count() == n1
    # unique_id stays a primary key
    assert spark.read.parquet(path).select("unique_id").distinct().count() == n1


def test_salted_agg_two_phase(spark, sf_dir):
    from persistor_spark import fixtures

    msgs = fixtures.load_messages(spark, sf_dir).withColumn("sz", F.length("payload"))
    got = {
        r["broker_id"]: (r["total"], r["mx"])
        for r in skew.salted_agg(
            msgs,
            ["broker_id"],
            partial_aggs=[F.sum("sz").alias("__s"), F.max("sz").alias("__m")],
            final_aggs=[F.sum("__s").alias("total"), F.max("__m").alias("mx")],
            deterministic_col="broker_msg_id",
        ).collect()
    }
    want = {
        r["broker_id"]: (r["total"], r["mx"])
        for r in msgs.groupBy("broker_id")
        .agg(F.sum("sz").alias("total"), F.max("sz").alias("mx"))
        .collect()
    }
    assert got == want


def test_dedup_clusters_transitive(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 0.95), (20, 3, 0.85)],
        "a long, b long, jaccard double",
    )
    got = {
        (r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters(pairs).collect()
    }
    # component {1,2,3,20} -> cluster 1; {10,11} -> cluster 10
    assert got == {(1, 1), (2, 1), (3, 1), (20, 1), (10, 10), (11, 10)}


def test_keep_cluster_representatives(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2, 0.9), (2, 4, 0.9)], "a long, b long, jaccard double")
    clusters = dedup.dedup_clusters(pairs)
    kept = dedup.keep_cluster_representatives(docs, clusters)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 3, 5]


def test_incremental_dedup_matches_full_cross_pairs(spark, sf_dir):
    """Split the corpus; incremental probe of the second half against the
    first half's band table finds exactly the cross-split near-dup pairs of
    the full-corpus exact operator."""
    from persistor_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    full_pairs = dedup.ngram_jaccard_pairs(docs, 0.8).collect()
    want = {
        tuple(sorted((r["a"], r["b"])))
        for r in full_pairs
        if (r["a"] % 2) != (r["b"] % 2)  # cross-split only
    }

    band_table = dedup.build_band_table(old).persist()
    got_rows = dedup.incremental_dup_pairs(new, band_table, 0.8).collect()
    got = {tuple(sorted((r["new_id"], r["old_id"]))) for r in got_rows}
    band_table.unpersist()
    assert got == want


def test_incremental_dedup_empty_batch(spark, sf_dir):
    from persistor_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    band_table = dedup.build_band_table(docs)
    empty = docs.limit(0)
    assert dedup.incremental_dup_pairs(empty, band_table, 0.8).count() == 0


def test_write_index_merge_locked_concurrent_writers(spark, tmp_path):
    """Two concurrent writers whose batches OVERLAP (the cross-writer
    redelivery of a broker rebalance) must commit the overlap exactly
    once when both serialize through lock_path — the r13 d48 contract as
    a unit test (threads here; d48 pins real OS processes).  Without the
    lock each anti-joins against a snapshot missing the other's
    in-flight append, so overlapping ids can commit twice."""
    import threading
    import types

    path = str(tmp_path / "idx")
    lock = str(tmp_path / "writers")

    def batch(lo, hi):
        df = spark.range(lo, hi).select(
            F.format_string("id%06d", F.col("id")).alias("unique_id"),
            (F.col("id") % 7).alias("payload"),
        )
        return types.SimpleNamespace(index_metadata=df)

    barrier = threading.Barrier(2)
    appended = {}
    errors = []

    def writer(name, lo, hi):
        try:
            barrier.wait(timeout=60)
            total = 0
            for c in range(4):  # chunked so the merges interleave
                span = (hi - lo) // 4
                total += ingest.write_index_merge(
                    batch(lo + c * span, lo + (c + 1) * span), path, lock_path=lock
                )
            appended[name] = total
        except Exception as exc:  # noqa: BLE001
            errors.append(f"{name}: {exc}")

    a = threading.Thread(target=writer, args=("a", 0, 100))
    b = threading.Thread(target=writer, args=("b", 60, 160))  # 40-id overlap
    a.start(); b.start(); a.join(120); b.join(120)
    assert not errors, errors
    got = spark.read.parquet(path)
    assert got.count() == 160
    assert got.select("unique_id").distinct().count() == 160
    # the overlap was appended by exactly one of the two writers
    assert appended["a"] + appended["b"] == 160


def test_manifest_lookup_resilient_heals_stale_resident_rows(spark, tmp_path):
    """A resident manifest gone stale under a compaction must heal with
    ONE reload (layout.manifest_lookup_resilient) — the d50 contract as
    a unit test over a real compact_small_files swap."""
    from persistor_spark.plans import fsutil, layout, maintenance

    table, mf = str(tmp_path / "tbl"), str(tmp_path / "mf")
    df = spark.range(400).select(
        F.format_string("id%06d", F.col("id")).alias("unique_id"),
        (F.col("id") % 5).alias("v"),
    )
    df.repartitionByRange(2, "unique_id").sortWithinPartitions(
        "unique_id"
    ).write.parquet(table)
    for i in range(4):
        (
            df.filter(F.col("unique_id").substr(-1, 1) == str(i))
            .coalesce(1)
            .write.mode("append")
            .parquet(table)
        )
    layout.write_minmax_manifest(spark, table, mf)
    resident = layout.load_manifest(spark, mf)
    probe = ["id000123"]
    before, healed = layout.manifest_lookup_resilient(
        spark, table, resident, probe, mf
    )
    assert healed is None and before.count() >= 1
    want = sorted(map(tuple, before.collect()))
    sizes = dict(fsutil.list_files_with_size(spark, table))
    thresh = (max(sizes.values()) + min(sizes.values())) // 2
    stats = maintenance.compact_small_files(
        spark, table, small_file_bytes=thresh, manifest_path=mf
    )
    assert stats["files_small"] >= 4
    after, fresh = layout.manifest_lookup_resilient(
        spark, table, resident, probe, mf
    )
    assert fresh is not None, "stale resident rows must fire the heal"
    assert sorted(map(tuple, after.collect())) == want
