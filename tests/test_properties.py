"""Property-based tests (hypothesis) — the reference has no property testing
(SURVEY §5); these pin the pure-function layers against model implementations
for arbitrary inputs.

Spark jobs per example are too slow, so properties run against either pure
Python (filter translator semantics via an in-memory evaluator on one
collected DataFrame) or a single parametrized DataFrame per test.
"""

import math
from datetime import datetime, timezone

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from persistor_spark.functions import filters as fd
from persistor_spark.functions.timestamps import parse_query_wire

# -- timestamp wire format ---------------------------------------------------

aware_dt = st.datetimes(
    min_value=datetime(1971, 1, 1),
    max_value=datetime(2200, 1, 1),
).map(lambda d: d.replace(tzinfo=timezone.utc))


@given(aware_dt)
@settings(max_examples=200)
def test_query_wire_roundtrip(dt):
    wire = dt.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
    assert parse_query_wire(wire) == dt


@given(aware_dt)
@settings(max_examples=100)
def test_query_wire_no_fraction(dt):
    dt = dt.replace(microsecond=0)
    wire = dt.strftime("%Y-%m-%dT%H:%M:%S") + "Z"
    assert parse_query_wire(wire) == dt


# -- filter dialect ----------------------------------------------------------

field_names = st.sampled_from(
    ["broker_id", "ordering_key", "business_source_key", "location_key"]
)
str_values = st.text(alphabet="abxyz019_", min_size=0, max_size=6)
operators = st.sampled_from(["$eq", "$ne", "$gt", "$gte", "$lt", "$lte"])

condition = st.one_of(
    st.tuples(field_names, str_values).map(lambda t: (t[0], t[1])),
    st.tuples(field_names, operators, str_values).map(lambda t: (t[0], {t[1]: t[2]})),
    st.tuples(field_names, st.lists(str_values, max_size=4)).map(
        lambda t: (t[0], {"$in": t[1]})
    ),
)
filter_map = st.lists(condition, max_size=3).map(dict)
filters_body = st.lists(filter_map, max_size=3)


def _eval_cond(row: dict, key: str, value) -> bool:
    """Model evaluator: MONGO semantics — the negative operators $ne/$nin
    match null/missing fields (Mongo treats absence as 'not equal'); the
    positive comparisons never match null (three-valued SQL and Mongo
    agree there)."""
    v = row.get(key)
    if not isinstance(value, dict):
        return v is not None and v == value
    ops = {
        "$eq": lambda a, b: a == b,
        "$ne": lambda a, b: a != b,
        "$gt": lambda a, b: a > b,
        "$gte": lambda a, b: a >= b,
        "$lt": lambda a, b: a < b,
        "$lte": lambda a, b: a <= b,
        "$in": lambda a, b: a in b,
        "$nin": lambda a, b: a not in b,
    }
    out = True
    for op, operand in value.items():
        if v is None:
            # Mongo: a missing/null field IS "not equal" and "not in"
            if op == "$ne":
                out = out and (operand is not None)
                continue
            if op == "$nin":
                out = out and (None not in operand)
                continue
            return False
        out = out and ops[op](v, operand)
    return out


def _eval_filters(row: dict, filters: list) -> bool:
    if not filters:
        return False
    return any(all(_eval_cond(row, k, v) for k, v in f.items()) for f in filters)


@pytest.fixture(scope="module")
def sample_rows(spark):
    rows = [
        ("b0", "k1", "src1", "loc1"),
        ("b0", None, "src2", "loc2"),
        ("b1", "k2", None, "loc1"),
        ("b1", "ab", "xy", None),
        ("z9", "", "a", "loc3"),
    ]
    schema = "broker_id string, ordering_key string, business_source_key string, location_key string"
    df = spark.createDataFrame(rows, schema).cache()
    cols = ["broker_id", "ordering_key", "business_source_key", "location_key"]
    return df, [dict(zip(cols, r)) for r in rows]


@given(filters_body)
@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
def test_translate_matches_model(sample_rows, filters):
    df, rows = sample_rows
    got = sorted(
        (r["broker_id"], r["ordering_key"] or "", r["location_key"] or "")
        for r in df.filter(fd.translate([dict(f) for f in filters])).collect()
    )
    want = sorted(
        (r["broker_id"], r["ordering_key"] or "", r["location_key"] or "")
        for r in rows
        if _eval_filters(r, filters)
    )
    assert got == want


# -- message size model ------------------------------------------------------

attr_maps = st.dictionaries(
    st.text(alphabet="abck_", min_size=1, max_size=5),
    st.text(alphabet="xyz01", min_size=0, max_size=6),
    max_size=4,
)


@given(st.one_of(st.none(), st.text(max_size=20)), attr_maps)
@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
def test_message_size_model(spark, payload, attrs):
    from persistor_spark.functions import sizes

    df = spark.createDataFrame(
        [(payload, attrs)], "payload string, attributes map<string,string>"
    )
    got = df.select(sizes.message_size().alias("s")).collect()[0]["s"]
    # BYTE lengths (the reference sums Go len() = bytes; octet_length)
    want = len((payload or "").encode()) + sum(
        len(k.encode()) + len(v.encode()) for k, v in attrs.items()
    )
    assert got == want


# -- version batching unknown-fill ------------------------------------------

@given(
    st.lists(
        st.one_of(st.none(), st.text(alphabet="v123", min_size=1, max_size=3)),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
def test_version_unknown_fill_model(spark, versions):
    """Missing version attribute -> literal 'unknown'
    (version_batching.go:29-71), for arbitrary attribute maps."""
    from persistor_spark.operators.version_batching import version_column

    rows = [({"attr_version": v} if v is not None else {},) for v in versions]
    df = spark.createDataFrame(rows, "attributes map<string,string>")
    got = [r[0] for r in df.select(version_column("attr_version")).collect()]
    want = [v if v is not None else "unknown" for v in versions]
    assert got == want


# -- as-of join vs model ------------------------------------------------------

import datetime as _dt

_times = st.integers(min_value=0, max_value=20)
_keys = st.sampled_from(["a", "b"])
_left_rows = st.lists(st.tuples(_keys, _times), min_size=1, max_size=8)
_right_rows = st.lists(st.tuples(_keys, _times, st.integers(0, 99)), max_size=8)


@given(_left_rows, _right_rows)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_join_matches_model(spark, left_rows, right_rows):
    from persistor_spark.operators import asof

    base = _dt.datetime(2024, 1, 1)

    def ts(h):
        return base + _dt.timedelta(hours=h)

    left = spark.createDataFrame(
        [(i, k, ts(t)) for i, (k, t) in enumerate(left_rows)],
        "id long, k string, t timestamp",
    )
    # as-of needs one right row per (key, time) to be well-defined: keep max v
    dedup_right = {}
    for k, t, v in right_rows:
        dedup_right[(k, t)] = max(v, dedup_right.get((k, t), -1))
    if not dedup_right:
        return
    right = spark.createDataFrame(
        [(k, ts(t), v) for (k, t), v in dedup_right.items()],
        "k string, rt timestamp, v int",
    )
    got = {
        r["id"]: r["v"] for r in asof.asof_join(left, right, "k", "t", "rt").collect()
    }
    for i, (k, t) in enumerate(left_rows):
        cands = [(rt, v) for (rk, rt), v in dedup_right.items() if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, f"row {i} key {k} t {t}: {got[i]} != {want}"


# -- KMV estimator model (pure python twin of sketches.kmv) ------------------

@given(
    st.lists(st.text(alphabet="abcdef012345", min_size=1, max_size=8),
             min_size=1, max_size=300),
    st.integers(min_value=4, max_value=64),
)
@settings(max_examples=60)
def test_kmv_model_exact_when_unsaturated_and_bottom_k_property(items, k):
    """Pure-python model of the KMV build: the bottom-k of distinct 60-bit
    md5 hashes; when distinct < k the estimator must be EXACT, and the
    two-level shard decomposition must equal the direct bottom-k for any
    shard count (the property the Spark implementation's exactness claim
    rests on)."""
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    hashes = sorted({h60(x) for x in items})
    sketch = hashes[:k]
    # estimator: exact below saturation
    if len(hashes) < k:
        est = float(len(sketch))
        assert est == len(set(items)) * 1.0
    # two-level == one-level for any shard count
    for shards in (2, 7, 32):
        lvl1 = []
        for sh in range(shards):
            bucket = sorted(x for x in hashes if x % shards == sh)[:k]
            lvl1.extend(bucket)
        assert sorted(lvl1)[:k] == sketch


# -- global cumsum / prefix-offset decomposition ------------------------------

@given(
    st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=200),
    st.integers(min_value=1, max_value=9),
)
@settings(max_examples=60)
def test_prefix_offset_decomposition_model(values, n_parts):
    """Model of sampling.global_cumsum's two-level split: cutting the
    ordered sequence into any partitioning and adding per-partition
    offsets reproduces the sequential prefix sums exactly (integer
    associativity — the reason the primitive demands quantized inputs)."""
    seq = sorted(values)
    want, acc = [], 0
    for v in seq:
        acc += v
        want.append(acc)
    # arbitrary contiguous partitioning into n_parts
    import math

    size = math.ceil(len(seq) / n_parts)
    got, offset = [], 0
    for p in range(0, len(seq), size):
        part = seq[p : p + size]
        run = 0
        for v in part:
            run += v
            got.append(offset + run)
        offset += run
    assert got == want


# -- r9 windowed stream-quality analytics: invariants on one random frame ----

event_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50_000),   # arrival order (event_id)
        st.integers(min_value=0, max_value=6),        # user
        st.sampled_from(["view", "click", "purchase"]),
        st.integers(min_value=0, max_value=3 * 86400),  # ts offset seconds
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],
)


@given(event_rows)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_windowed_analytics_invariants(spark, rows):
    """One parametrized frame, three operators, their always-true facts:
    dup_rate in [0,1] with n_keys <= n_rows and rows conserved; the
    watermark curve's late rate is NON-INCREASING in the delay (a bigger
    delay can only admit more rows); PSI >= 0 (every (p-q)ln(p/q) term is
    nonnegative)."""
    from pyspark.sql import functions as F

    from persistor_spark.analytics import profiling
    from persistor_spark.streaming import windows

    df = spark.createDataFrame(
        [(eid, u, t, off) for eid, u, t, off in rows],
        "event_id long, user_id long, event_type string, off long",
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "off",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("off")).alias("ts"),
    )

    dup = windows.windowed_dup_rate(df, "1 day", ("user_id", "event_type"), "ts").collect()
    assert sum(r["n_rows"] for r in dup) == len(rows)
    for r in dup:
        assert 1 <= r["n_keys"] <= r["n_rows"]
        assert 0.0 <= r["dup_rate"] <= 1.0

    curve = {
        r["delay_seconds"]: r
        for r in windows.watermark_sizing_curve(
            df, ("10 minutes", "1 hour", "2 hours"), "ts", "event_id"
        ).collect()
    }
    rates = [curve[d]["late_rate"] for d in sorted(curve)]
    assert all(a >= b for a, b in zip(rates, rates[1:])), rates
    assert all(curve[d]["n_rows"] == len(rows) for d in curve)

    psi = profiling.psi_by_group(df, "off", "event_type", n_buckets=4).collect()
    assert all(r["psi"] >= 0.0 for r in psi)


# -- ingest position tie-break: uncached sinks agree on tied unique_ids -------

_tie_group_sizes = st.lists(st.integers(min_value=1, max_value=4), min_size=1, max_size=5).filter(
    lambda sizes: max(sizes) >= 2
)


@given(_tie_group_sizes, st.randoms(use_true_random=False))
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_tied_unique_ids_round_trip_through_uncached_sinks(spark, sizes, rnd):
    """A micro-batch may carry one (broker_id, broker_msg_id) several times
    with different payloads (a redelivery after an upstream edit).  Without
    the cache each sink evaluates the position window on its own, and the
    two evaluations may see the batch's rows in different orders; model that
    as the index derived from one arrival order and the blobs from the
    reverse.  The D9 position-align join must still give every index row its
    own payload."""
    from persistor_spark import fixtures
    from persistor_spark.plans import ingest, resubmit
    from persistor_spark.schemas import MESSAGE_SCHEMA

    t = datetime(2024, 1, 1)
    rows = [
        ("b0", f"m{g}", f"tag-{g}-{j}", f"payload-{g}-{j}", {}, None, None, "v1", t, t, 0, None)
        for g, size in enumerate(sizes)
        for j in range(size)
    ]
    rnd.shuffle(rows)
    cfg = fixtures.fixture_ingest_config()
    index_side = ingest.run_batch(spark.createDataFrame(rows, MESSAGE_SCHEMA), cfg)
    blob_side = ingest.run_batch(spark.createDataFrame(rows[::-1], MESSAGE_SCHEMA), cfg)
    got = resubmit.align(index_side.index_metadata, blob_side.blob_records).collect()
    assert len(got) == len(rows)
    assert {r["ordering_key"]: r["payload"] for r in got} == {
        r[2]: r[3] for r in rows
    }
