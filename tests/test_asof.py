"""As-of and range join operator semantics."""

import datetime as dt

from persistor_spark.operators import asof


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def test_asof_backward_semantics(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts(5)), (2, "a", _ts(10)), (3, "b", _ts(5)), (4, "c", _ts(5))],
        "id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [("a", _ts(1), 100), ("a", _ts(7), 200), ("b", _ts(9), 300)],
        "k string, rt timestamp, v int",
    )
    out = {
        r["id"]: (r["rt"], r["v"])
        for r in asof.asof_join(left, right, "k", "t", "rt").collect()
    }
    assert out[1] == (_ts(1), 100)  # only the earlier right row qualifies
    assert out[2] == (_ts(7), 200)  # latest <= t wins
    assert out[3] == (None, None)  # right row is in the future
    assert out[4] == (None, None)  # key never matches


def test_asof_equal_times_match(spark):
    left = spark.createDataFrame([(1, "a", _ts(7))], "id long, k string, t timestamp")
    right = spark.createDataFrame([("a", _ts(7), 9)], "k string, rt timestamp, v int")
    r = asof.asof_join(left, right, "k", "t", "rt").collect()[0]
    assert r["v"] == 9  # right_time == left_time matches (<=, not <)


def test_asof_tolerance(spark):
    left = spark.createDataFrame([(1, "a", _ts(10))], "id long, k string, t timestamp")
    right = spark.createDataFrame([("a", _ts(1), 5)], "k string, rt timestamp, v int")
    strict = asof.asof_join(left, right, "k", "t", "rt", tolerance_seconds=3600).collect()[0]
    assert strict["v"] is None  # 9 days > 1h tolerance
    loose = asof.asof_join(left, right, "k", "t", "rt", tolerance_seconds=10 * 86400).collect()[0]
    assert loose["v"] == 5


def test_asof_tolerance_on_ntz_timestamps(spark):
    # TIMESTAMP_NTZ rejects a direct BIGINT cast — the tolerance branch must
    # go through unix_timestamp (the failure class that broke e9/e20).
    left = spark.createDataFrame(
        [(1, "a", _ts(10))], "id long, k string, t timestamp_ntz"
    )
    right = spark.createDataFrame(
        [("a", _ts(1), 5)], "k string, rt timestamp_ntz, v int"
    )
    strict = asof.asof_join(left, right, "k", "t", "rt", tolerance_seconds=3600).collect()[0]
    assert strict["v"] is None
    loose = asof.asof_join(left, right, "k", "t", "rt", tolerance_seconds=10 * 86400).collect()[0]
    assert loose["v"] == 5


def test_no_long_casts_on_timestamps_in_package():
    # Regression guard for the TIMESTAMP_NTZ failure class: no source file in
    # the package may cast a timestamp-ish column straight to long/bigint.
    # unix_timestamp() is the sanctioned conversion.
    import pathlib
    import re

    pkg = pathlib.Path(asof.__file__).resolve().parents[1]
    pattern = re.compile(r"""cast\(["'](?:long|bigint)["']\)""")
    timey = re.compile(r"""\b(?:ts|time|timestamp|event_time|publish_time)\b""")
    offenders = []
    for path in pkg.rglob("*.py"):
        text = path.read_text()
        for m in pattern.finditer(text):
            line_start = text.rfind("\n", 0, m.start()) + 1
            line = text[line_start : text.find("\n", m.start())]
            if line.lstrip().startswith("#"):
                continue
            lineno = text.count("\n", 0, m.start()) + 1
            # flag only when the cast operand (text before the cast on this
            # line) names a time-ish column as a whole word
            operand = line[: m.start() - line_start]
            if timey.search(operand.lower()):
                offenders.append(f"{path.name}:{lineno}: {line.strip()}")
    assert offenders == [], f"timestamp cast('long') sites (use unix_timestamp): {offenders}"
