"""Timestamp wire formats (reference: sender.go:32-34, formatter.go:25,72-85,
indexer-api/lib/util.go:77).

Two string layouts exist at the boundaries:
- persist/index wire: `2006-01-02 15:04:05.99999999` (variable fraction)
- query-API wire:     `2006-01-02T15:04:05.99999999Z`
Internally everything is TimestampType (UTC session).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, functions as F

INDEX_WIRE_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def parse_wire(col: Column | str) -> Column:
    """Parse the index wire layout; variable fractional digits tolerated
    (formatter.go:72-85 uses Go's flexible .99999999 — up to EIGHT digits,
    since Go clocks are nanosecond-precise).  Spark's SSSSSS pattern stops
    at six, so fractions longer than 6 digits are truncated to micros
    first — without that, a 7-8 digit wire value fell through every
    pattern and coalesce yielded NULL, silently corrupting a non-nullable
    timestamp column."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.regexp_replace(c, r"(\.\d{6})\d+$", "$1")
    # try_to_timestamp, not to_timestamp: under ANSI mode (Spark 4 default)
    # a non-matching pattern RAISES instead of returning NULL, so the
    # coalesce fallback chain never fell through — variable-fraction
    # inputs crashed the job rather than trying the next layout
    return F.coalesce(
        F.try_to_timestamp(trimmed, F.lit(INDEX_WIRE_FORMAT)),
        F.try_to_timestamp(trimmed, F.lit("yyyy-MM-dd HH:mm:ss.SSS")),
        F.try_to_timestamp(trimmed, F.lit("yyyy-MM-dd HH:mm:ss")),
    )


def format_wire(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, INDEX_WIRE_FORMAT)


def parse_query_wire(value: str) -> datetime:
    """Python-side parse of the query-API layout (util.go:255-285): RFC3339
    with up to 8 fractional digits, always UTC."""
    v = value.rstrip("Z")
    # Go's .99999999 emits up to 8 fractional digits; %f takes at most 6 —
    # truncate to micros so real Go-API timestamps parse instead of raising
    if "." in v:
        head, frac = v.rsplit(".", 1)
        if frac.isdigit() and len(frac) > 6:
            v = f"{head}.{frac[:6]}"
    for fmt in ("%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S"):
        try:
            return datetime.strptime(v, fmt).replace(tzinfo=timezone.utc)
        except ValueError:
            continue
    raise ValueError(f"unparseable query timestamp: {value!r}")
