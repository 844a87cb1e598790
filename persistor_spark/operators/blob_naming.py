"""Blob path generation (reference T4: storage.go:103-247).

The reference builds `bucket/prefix + maskDirs + prefix-firstMsgID.ext` per
mini-batch with wall-clock time parts.  Spark-first translation:

- mask members become *derived columns* (date parts of an injectable clock,
  `{attr}` substitutions with 'unknown' fill, custom constants);
- the blob's identity is the deterministic `location_key` column — the
  contract the index stores and resubmit joins on (SURVEY.md §7.3 hard
  point 3: we pin the *path*, not Spark's task-owned physical file names);
- the physical write is `partitionBy(mask columns)` so partition pruning
  works on every mask member at read time.

Blob filename: the reference names a blob after its FIRST message's id
(storage.go:50,113) — an order artifact of a single-writer loop.  We name it
after the deterministic partition identity (broker_id by default), which is
stable under retries and parallel writers; `location_key` remains a dense
join key either way (D9/D10 pin the semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from persistor_spark.config import StorageConfig, TIME_MASK_MEMBERS
from persistor_spark.functions.sqlq import sql_ident, sql_str
from persistor_spark.operators.version_batching import UNKNOWN

# Every blob's file name starts with this: location_key is
# `<blob directory>/blob-<name>.<ext>` (blob_column_exprs, blob_directory).
_FILE_PREFIX = "blob-"

# Mask time parts as SQL templates over the clock expression string: the
# ingest plan builds these per batch — per MICRO-batch on the streaming path
# — and one F.expr parse per member replaces a chain of Column calls, each a
# driver py4j round trip (r14 opt, guide §1.2).  current_timestamp() as the
# clock string is a query-start literal, so every member sees one instant.
_TIME_PART_SQL = {
    "year": "cast(year({c}) as string)",
    "month": "lpad(cast(month({c}) as string), 2, '0')",
    "day": "lpad(cast(dayofmonth({c}) as string), 2, '0')",
    "hour": "lpad(cast(hour({c}) as string), 2, '0')",
}


def mask_columns(cfg: StorageConfig, clock: str) -> dict[str, Column]:
    """One named Column per mask member, in mask order (storage.go:125-189).

    Mask keys are case-insensitive in the reference (storage.go:198) — so
    the custom_values lookup must be case-insensitive TOO: the member is
    lowercased here, and a config like mask=('ENV',),
    custom_values={'ENV': ...} passes validate() with its original casing.

    `clock` is a SQL expression string (a quoted column name or
    `current_timestamp()`; see plans.ingest.clock_sql).
    """
    custom = {k.lower(): v for k, v in cfg.custom_values.items()}
    cols: dict[str, Column] = {}
    for member in cfg.mask:
        m = member.lower()
        if m in TIME_MASK_MEMBERS:
            cols[f"__mask_{m}"] = F.expr(_TIME_PART_SQL[m].format(c=clock))
        elif m.startswith("{") and m.endswith("}"):
            attr = m[1:-1]
            cols[f"__mask_{attr}"] = F.expr(
                f"coalesce(element_at(`attributes`, {sql_str(attr)}),"
                f" '{UNKNOWN}')"
            )
        else:
            cols[f"__mask_{m}"] = F.lit(str(custom[m]))
    return cols


def split_location(col: Column) -> tuple[Column, Column]:
    """location URL -> (bucket, object path); mirrors the fetchers' URL
    parsing (gs.go:54-89 splits gs://bucket/path; abs.go:76-114 the https
    form).  Spark reads the URL directly, but the parse is exposed for
    parity tests."""
    no_scheme = F.regexp_replace(col, r"^[a-z0-9]+://", "")
    bucket = F.split(no_scheme, "/").getItem(0)
    path = F.regexp_replace(no_scheme, r"^[^/]+/", "")
    return bucket, path


def blob_column_exprs(
    cfg: StorageConfig, clock: str, blob_name: Column | None = None
) -> tuple[dict[str, Column], Column]:
    """(mask column dict, location_key Column).  location_key is the full
    blob URL `<scheme>://<bucket>/<prefix>/<mask parts>/blob-<name>.<ext>`
    (storage.go:253-264 addressing; S4/S5 parse it back) and refers to
    the mask columns BY NAME, so callers attach the dict first (its own
    withColumns) and location_key in a later op, letting them fuse either
    with other derived columns.  The static part of the location URL
    (base/prefix + mask refs + '/' separators + 'blob-') is one SQL concat;
    per-part Column-API composition recurs every streaming micro-batch
    (r14 opt, guide §1.2).  `blob_name` stays an opaque Column (callers
    pass arbitrary expressions)."""
    cols = mask_columns(cfg, clock)
    name_col = blob_name if blob_name is not None else F.col("broker_id")

    static_parts = [sql_str(f"{cfg.base_url}/{cfg.prefix}/")]
    for n in cols:
        static_parts.extend([sql_ident(n), sql_str("/")])
    static_parts.append(sql_str(_FILE_PREFIX))
    lk = F.concat(
        F.expr(f"concat({', '.join(static_parts)})"),
        name_col,
        F.lit(f".{cfg.extension}"),
    )
    return cols, lk


def blob_directory(location_key: Column) -> Column:
    """The directory part of a location_key built by blob_column_exprs:
    everything before its last `/blob-` (base URL, prefix, mask parts).
    A function of location_key alone, so two mask tuples that share one
    location_key (a '/' inside a mask value) share one directory too."""
    return F.regexp_extract(location_key, f"^(.*)/{_FILE_PREFIX}", 1)
