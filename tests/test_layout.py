"""Bucketed-layout join: co-located tables join without a shuffle."""

import pytest
from pyspark.sql import functions as F

from persistor_spark.plans import layout
from plan_asserts import plan_has_shuffle


@pytest.fixture(scope="module")
def bucketed_tables(spark, ingested):
    idx = ingested.index_metadata.filter(F.col("location_position").isNotNull())
    blobs = ingested.blob_records.withColumnRenamed("position", "location_position")
    layout.write_bucketed(idx, "idx_bucketed", "location_key", n_buckets=8)
    layout.write_bucketed(blobs, "blobs_bucketed", "location_key", n_buckets=8)
    yield "idx_bucketed", "blobs_bucketed"
    spark.sql("DROP TABLE IF EXISTS idx_bucketed")
    spark.sql("DROP TABLE IF EXISTS blobs_bucketed")


def test_bucketed_join_no_shuffle(spark, bucketed_tables, ingested):
    left, right = bucketed_tables
    joined = layout.bucketed_join(spark, left, right, "location_key")
    # correctness: same result as the lineage join
    plain = ingested.index_metadata.filter(F.col("location_position").isNotNull()).join(
        ingested.blob_records.withColumnRenamed("position", "location_position"),
        "location_key",
    )
    assert joined.count() == plain.count()
    # the scale property: no Exchange in the physical plan
    assert not plan_has_shuffle(joined.select("location_key"))


def test_unbucketed_join_has_shuffle_for_contrast(spark, ingested):
    a = ingested.index_metadata.select("location_key")
    b = ingested.blob_records.select("location_key")
    joined = a.join(b, "location_key")
    assert plan_has_shuffle(joined)


def test_write_blobs_one_file_per_mask_dir(spark, tmp_path, ingested):
    """Layout regression guard (r3): the mask-column repartition before the
    partitioned write must give each mask directory exactly ONE writer —
    without it every task wrote a file in every directory (tasks x dirs
    small files)."""
    import glob
    import os

    from persistor_spark.plans import ingest

    p = str(tmp_path / "blobs_layout")
    ingest.write_blobs(ingested, p, fmt="parquet")
    files = glob.glob(p + "/**/*.parquet", recursive=True)
    dirs = {os.path.dirname(f) for f in files}
    assert len(files) == len(dirs) > 0


def test_compact_reduces_files_preserves_rows(spark, tmp_path, ingested):
    import glob

    p = str(tmp_path / "frag")
    # simulate streaming fragmentation: 40 tiny appends
    for i in range(40):
        ingested.index_metadata.limit(25).write.mode("append").parquet(p)
    before_files = len(glob.glob(p + "/*.parquet"))
    before_rows = spark.read.parquet(p).count()
    n = layout.compact(spark, p, target_file_bytes=64 << 20, sort_col="unique_id")
    after_files = len(glob.glob(p + "/*.parquet"))
    assert spark.read.parquet(p).count() == before_rows
    assert after_files == n < before_files


def test_point_lookup_pushdown_on_persisted_index(spark, tmp_path, ingested):
    """Regression guard: the Q1 filter must reach the parquet scan as a
    pushed filter with a pruned ReadSchema (ARCHITECTURE §2)."""
    from persistor_spark.plans import ingest
    from persistor_spark.plans.query import IndexQuery

    p = str(tmp_path / "idx_pd")
    ingest.write_index(ingested, p)
    df = IndexQuery(spark.read.parquet(p)).get(
        "b1_m000000085", ["unique_id", "location_key"]
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "b1_m000000085" in plan
    assert "ReadSchema: struct<unique_id:string,location_key:string>" in plan


def test_write_index_bucketed_join_no_shuffle(spark, ingested):
    """The index table bucketed by unique_id: a unique_id join between the
    bucketed index and a same-bucketed id table runs with NO Exchange."""
    layout.write_bucketed(ingested.index_metadata, "idx_by_uid", "unique_id", n_buckets=8)
    ids = ingested.index_metadata.select("unique_id").limit(200)
    layout.write_bucketed(ids, "ids_by_uid", "unique_id", n_buckets=8)
    try:
        joined = layout.bucketed_join(spark, "idx_by_uid", "ids_by_uid", "unique_id")
        assert joined.count() == 200
        assert not plan_has_shuffle(joined.select("unique_id"))
    finally:
        spark.sql("DROP TABLE IF EXISTS idx_by_uid")
        spark.sql("DROP TABLE IF EXISTS ids_by_uid")


def test_minmax_manifest_prunes_to_matching_files(spark, tmp_path, ingested):
    """Manifest-pruned scan == full-scan isin filter, and opens only files
    whose [min,max] range covers the probed ids."""
    tbl = str(tmp_path / "idx")
    mfp = str(tmp_path / "idx_manifest")
    (
        ingested.index_metadata.repartitionByRange(4, "unique_id")
        .sortWithinPartitions("unique_id")
        .write.parquet(tbl)
    )
    n_files = layout.write_minmax_manifest(spark, tbl, mfp)
    assert n_files == 4

    ids = [r["unique_id"] for r in ingested.index_metadata.orderBy("unique_id").limit(2).collect()]
    got = layout.manifest_pruned_scan(spark, tbl, mfp, ids)
    want = spark.read.parquet(tbl).filter(F.col("unique_id").isin(ids))
    assert sorted(r["unique_id"] for r in got.collect()) == sorted(
        r["unique_id"] for r in want.collect()
    )
    # both probed ids sit in the FIRST range partition -> exactly 1 file opened
    mf = spark.read.parquet(mfp)
    candidates = mf.filter(
        (F.lit(ids[0]) >= F.col("min_v")) & (F.lit(ids[0]) <= F.col("max_v"))
        | (F.lit(ids[1]) >= F.col("min_v")) & (F.lit(ids[1]) <= F.col("max_v"))
    ).count()
    assert candidates == 1


def test_minmax_manifest_miss_returns_empty_with_schema(spark, tmp_path, ingested):
    tbl = str(tmp_path / "idx2")
    mfp = str(tmp_path / "idx2_manifest")
    ingested.index_metadata.write.parquet(tbl)
    layout.write_minmax_manifest(spark, tbl, mfp)
    got = layout.manifest_pruned_scan(spark, tbl, mfp, ["zzzz_no_such_id"])
    assert got.count() == 0
    assert got.columns == spark.read.parquet(tbl).columns


def test_manifest_cached_scan_matches_uncached(spark, tmp_path, ingested):
    tbl = str(tmp_path / "idx3")
    mfp = str(tmp_path / "idx3_manifest")
    (
        ingested.index_metadata.repartitionByRange(4, "unique_id")
        .sortWithinPartitions("unique_id")
        .write.parquet(tbl)
    )
    layout.write_minmax_manifest(spark, tbl, mfp)
    rows = layout.load_manifest(spark, mfp)
    ids = [r["unique_id"] for r in ingested.index_metadata.limit(3).collect()]
    got = sorted(
        r["unique_id"]
        for r in layout.manifest_pruned_scan_cached(spark, tbl, rows, ids).collect()
    )
    want = sorted(
        r["unique_id"] for r in layout.manifest_pruned_scan(spark, tbl, mfp, ids).collect()
    )
    assert got == want and len(got) == len(ids)
    # miss keeps schema
    empty = layout.manifest_pruned_scan_cached(spark, tbl, rows, ["zz_missing"])
    assert empty.count() == 0 and empty.columns == spark.read.parquet(tbl).columns


def test_zorder_prunes_both_dimensions(spark, tmp_path, sf_dir):
    """A Z-ordered layout concentrates box predicates on EITHER key into
    few files; a single-column range layout only does so for its lead
    column.  Uses files-containing-matches as the observable zone-map
    metric (footer pruning then skips the rest)."""
    from pyspark.sql import functions as F

    from persistor_spark.plans import layout
    from persistor_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    zpath = str(tmp_path / "z")
    lpath = str(tmp_path / "linear")
    layout.write_zordered(li, zpath, "l_partkey", "l_suppkey", bits_x=8, bits_y=4, n_files=16)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )
    # suppkey-only box: invisible to the partkey-linear layout
    supp_pred = F.col("l_suppkey").between(2, 3)
    z_supp = layout.files_containing(spark, zpath, supp_pred)
    lin_supp = layout.files_containing(spark, lpath, supp_pred)
    assert z_supp < lin_supp, (z_supp, lin_supp)
    # partkey box: z-order stays sub-linear there too (within 2x of the
    # dedicated lead-column sort's locality)
    part_pred = F.col("l_partkey").between(40, 60)
    z_part = layout.files_containing(spark, zpath, part_pred)
    assert z_part < 16


def test_zorder_code_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from persistor_spark.plans import layout

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "x long, y long"
    )
    got = [
        r["z"]
        for r in df.select(layout.zorder_code("x", "y").alias("z"))
        .orderBy("x", "y")
        .collect()
    ]

    def morton(x, y):
        # MSB-aligned equal-width interleave: at each level x's bit lands
        # just above y's
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i + 1) | ((y >> i) & 1) << (2 * i)
        return z

    exp = [morton(x, y) for x, y in [(0, 0), (0, 1), (1, 0), (3, 5), (65535, 65535)]]
    assert got == exp
