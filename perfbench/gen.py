"""Seeded input generator for the benchmark.

Writes messages-schema parquet files (5000 rows each, the reference's default
batch size) plus a ground-truth sidecar computed in Python.  The same seed
always yields byte-identical files.

Message shape follows FIXTURES.md section 1: 4 brokers, ~30 % null
ordering_key, ~40 % null business keys, 3 versions plus a ~20 % missing
version, ~5 % null publish_time.  Payload sizes are log-normal with a median
near 1 KB and a tail clipped at 16 KB.  About 2 % of the rows of every file
after the first are byte-identical redeliveries of messages from earlier
files, so the exactly-once merge sinks have real duplicates to drop.

Serve and replay request mixes are drawn here too, each with its expected
answer, so the checks never consult the system under test for the truth.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILE_ROWS = 5000  # BatchSettings.batch_size default (persistor.toml:79-82)
BROKERS = ("b0", "b1", "b2", "b3")
VERSIONS = ("v1", "v2", "v3")
ORDERING_KEYS = tuple(f"k{i}" for i in range(10))
SOURCE_KEYS = tuple(f"src{i}" for i in range(5))
OBJECT_KEYS = tuple(f"obj{i}" for i in range(5))
EVENT_TYPES = ("created", "updated", "deleted")
REDELIVER_FRAC = 0.02
# publish_time falls in one of WINDOWS hourly windows per broker, so range
# requests draw from len(BROKERS) * WINDOWS = 300 (broker, window) pairs.
WINDOWS = 75
WINDOW_S = 3600
BASE_TIME = datetime(2025, 1, 6)
PAYLOAD_MEDIAN = 1024
PAYLOAD_MAX = 16 * 1024
TEXT_LEN = 1 << 16

TS_TYPE = pa.timestamp("us", tz="UTC")
ARROW_SCHEMA = pa.schema(
    [
        ("broker_id", pa.string()),
        ("broker_msg_id", pa.string()),
        ("ordering_key", pa.string()),
        ("payload", pa.string()),
        ("attributes", pa.map_(pa.string(), pa.string())),
        ("business_source_key", pa.string()),
        ("business_object_key", pa.string()),
        ("attr_version", pa.string()),
        ("publish_time", TS_TYPE),
        ("ingestion_time", TS_TYPE),
        ("event_seq", pa.int64()),
        ("event_type", pa.string()),
    ]
)


def wire(dt: datetime) -> str:
    """The Indexer API's query wire format for a whole-second timestamp."""
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def window_bounds(w: int) -> tuple[datetime, datetime]:
    lo = BASE_TIME + timedelta(seconds=w * WINDOW_S)
    return lo, lo + timedelta(seconds=WINDOW_S)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


@dataclass
class Messages:
    """Columnar store of every distinct message generated so far; payloads
    are rebuilt on demand from a shared seeded text buffer."""

    text: str
    broker: list = field(default_factory=list)
    msg_no: list = field(default_factory=list)
    ordering: list = field(default_factory=list)
    source: list = field(default_factory=list)
    obj: list = field(default_factory=list)
    version: list = field(default_factory=list)
    publish_us: list = field(default_factory=list)
    ingest_us: list = field(default_factory=list)
    body_off: list = field(default_factory=list)
    body_len: list = field(default_factory=list)
    event_type: list = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.broker)

    def unique_id(self, g: int) -> str:
        return f"{BROKERS[self.broker[g]]}_m{self.msg_no[g]:07d}"

    def payload(self, g: int) -> str:
        off = self.body_off[g]
        body = self.text[off : off + self.body_len[g]]
        return f'{{"uid":"{self.unique_id(g)}","seq":{g},"body":"{body}"}}'

    def publish_time(self, g: int) -> datetime | None:
        us = self.publish_us[g]
        return None if us < 0 else BASE_TIME + timedelta(microseconds=us)

    def field_value(self, g: int, name: str) -> str | None:
        attr, domain = _CODED[name]
        c = getattr(self, attr)[g]
        return None if c < 0 else domain[c]


# nullable message columns stored as codes into a domain (-1 is NULL)
_CODED = {
    "ordering_key": ("ordering", ORDERING_KEYS),
    "business_source_key": ("source", SOURCE_KEYS),
    "business_object_key": ("obj", OBJECT_KEYS),
    "attr_version": ("version", VERSIONS),
}


class Generator:
    """Generates message files in order; file k's content depends only on
    the seed and k, so any prefix of the sequence is reproducible."""

    def __init__(self, seed: int, stream: int = 0):
        self.seed = seed
        self.stream = stream
        rng = _rng(seed, stream, 0)
        words = [
            "".join(chr(97 + c) for c in rng.integers(0, 26, size=int(n)))
            for n in rng.integers(2, 9, size=TEXT_LEN // 4)
        ]
        text = " ".join(words)
        # room for the longest body without wrapping
        while len(text) < TEXT_LEN + PAYLOAD_MAX:
            text += " " + text
        self.msgs = Messages(text=text)
        self._next_no = [0] * len(BROKERS)
        self.files: list[dict] = []

    def _fresh(self, rng: np.random.Generator, n: int) -> list[int]:
        m = self.msgs
        start = len(m)
        brokers = rng.integers(0, len(BROKERS), size=n)

        def nullable(share: float, domain: int) -> np.ndarray:
            codes = rng.integers(0, domain, size=n)
            return np.where(rng.random(n) < share, -1, codes)

        ordering = nullable(0.30, len(ORDERING_KEYS))
        source = nullable(0.40, len(SOURCE_KEYS))
        obj = nullable(0.40, len(OBJECT_KEYS))
        version = nullable(0.20, len(VERSIONS))
        window = rng.integers(0, WINDOWS, size=n)
        pub = window * WINDOW_S * 1_000_000 + rng.integers(0, WINDOW_S * 1_000_000, size=n)
        lag = rng.integers(0, 5_000_000, size=n)
        pub_null = rng.random(n) < 0.05
        ing = pub + lag
        pub = np.where(pub_null, -1, pub)
        sizes = np.clip(
            rng.lognormal(np.log(PAYLOAD_MEDIAN), 0.8, size=n), 64, PAYLOAD_MAX
        ).astype(np.int64)
        offs = rng.integers(0, TEXT_LEN, size=n)
        etypes = rng.integers(0, len(EVENT_TYPES), size=n)
        for i in range(n):
            b = int(brokers[i])
            m.broker.append(b)
            m.msg_no.append(self._next_no[b])
            self._next_no[b] += 1
        m.ordering.extend(ordering.tolist())
        m.source.extend(source.tolist())
        m.obj.extend(obj.tolist())
        m.version.extend(version.tolist())
        m.publish_us.extend(pub.tolist())
        m.ingest_us.extend(ing.tolist())
        m.body_off.extend(offs.tolist())
        # body length = target payload size minus the ~40-byte JSON envelope
        m.body_len.extend(np.maximum(sizes - 40, 16).tolist())
        m.event_type.extend(etypes.tolist())
        return list(range(start, start + n))

    def next_file(self, path: str) -> dict:
        """Write the next file of the sequence to `path`; return its truth
        record: the message indexes it holds and which of them are new."""
        k = len(self.files)
        rng = _rng(self.seed, self.stream, 1, k)
        n_redeliver = 0 if k == 0 else int(round(FILE_ROWS * REDELIVER_FRAC))
        old = (
            sorted(rng.choice(len(self.msgs), size=n_redeliver, replace=False).tolist())
            if n_redeliver
            else []
        )
        fresh = self._fresh(rng, FILE_ROWS - n_redeliver)
        rows = fresh + old
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        write_messages(self.msgs, rows, path)
        rec = {"path": os.path.basename(path), "rows": rows, "fresh": fresh}
        self.files.append(rec)
        return rec


def write_messages(m: Messages, rows: list[int], path: str) -> None:
    def col(name: str) -> list:
        return [m.field_value(g, name) for g in rows]

    attrs = []
    for g in rows:
        a = {"tenant": f"t{m.msg_no[g] % 7}"}
        for name in ("business_source_key", "business_object_key", "attr_version"):
            v = m.field_value(g, name)
            if v is not None:
                a[name] = v
        attrs.append(list(a.items()))
    table = pa.table(
        {
            "broker_id": [BROKERS[m.broker[g]] for g in rows],
            "broker_msg_id": [f"m{m.msg_no[g]:07d}" for g in rows],
            "ordering_key": col("ordering_key"),
            "payload": [m.payload(g) for g in rows],
            "attributes": attrs,
            "business_source_key": col("business_source_key"),
            "business_object_key": col("business_object_key"),
            "attr_version": col("attr_version"),
            "publish_time": [
                None if m.publish_us[g] < 0 else _epoch_us(m.publish_us[g]) for g in rows
            ],
            "ingestion_time": [_epoch_us(m.ingest_us[g]) for g in rows],
            "event_seq": rows,
            "event_type": [EVENT_TYPES[m.event_type[g]] for g in rows],
        },
        schema=ARROW_SCHEMA,
    )
    pq.write_table(table, path, compression="snappy")


_BASE_US = int(BASE_TIME.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000


def _epoch_us(offset_us: int) -> int:
    return _BASE_US + offset_us


# -- request mixes with expected answers ------------------------------------

PAGE = 20  # server DEFAULT_LIMIT (util.go:39-42)
BY_IDS = 40  # ids per by-ids replay request, near the range and filter sizes
_WINDOW_US = WINDOW_S * 1_000_000


class _Truth:
    """What the index holds once every generated message is ingested, with
    the groupings the request mixes ask about, each in page order (the
    Indexer API pages by unique_id)."""

    def __init__(self, gen: Generator):
        m = self.m = gen.msgs
        self.rows = sorted(range(len(m)), key=m.unique_id)
        self.by_window: dict = {}  # (broker, window) -> ids
        self.by_keys: dict = {}  # (broker, source, object) -> ids
        self.by_ordering: dict = {}  # (ordering key, window) -> ids
        for g in self.rows:
            uid = m.unique_id(g)
            w = m.publish_us[g] // _WINDOW_US if m.publish_us[g] >= 0 else None
            if w is not None:
                self.by_window.setdefault((m.broker[g], w), []).append(uid)
                self.by_ordering.setdefault((m.ordering[g], w), []).append(uid)
            self.by_keys.setdefault((m.broker[g], m.source[g], m.obj[g]), []).append(uid)
        w = 1.0 / np.arange(1, len(self.rows) + 1) ** 1.1
        self.zipf_p = w / w.sum()

    def zipf_rows(self, rng: np.random.Generator, rank: np.ndarray, size: int) -> list[int]:
        """`size` Zipf-skewed draws over the indexed messages; `rank` is the
        seeded permutation that decides which messages are popular."""
        return [self.rows[rank[i]] for i in rng.choice(len(self.rows), size=size, p=self.zipf_p)]

    def query_filter(self, rng: np.random.Generator) -> tuple[list, list]:
        """A Mongo-dialect filter list and the ids it matches."""
        if rng.random() < 0.5:
            b = int(rng.integers(0, len(BROKERS)))
            s = int(rng.integers(0, len(SOURCE_KEYS)))
            o = int(rng.integers(0, len(OBJECT_KEYS)))
            filters = [
                {
                    "broker_id": BROKERS[b],
                    "business_source_key": SOURCE_KEYS[s],
                    "business_object_key": OBJECT_KEYS[o],
                }
            ]
            return filters, self.by_keys.get((b, s, o), [])
        k = int(rng.integers(0, len(ORDERING_KEYS)))
        w = int(rng.integers(0, WINDOWS - 3))
        lo, _ = window_bounds(w)
        _, hi = window_bounds(w + 2)
        filters = [
            {
                "ordering_key": ORDERING_KEYS[k],
                "publish_time": {"$gte": wire(lo), "$lt": wire(hi)},
            }
        ]
        ids = sorted(u for v in range(w, w + 3) for u in self.by_ordering.get((k, v), []))
        return filters, ids


def _unknown_id(rng: np.random.Generator) -> str:
    # a valid-looking id from a broker the generator never uses
    return f"b9_m{int(rng.integers(0, 10**7)):07d}"


def _pub_wire(m: Messages, g: int) -> str | None:
    """publish_time as the server writes it (RFC3339, fraction trimmed)."""
    t = m.publish_time(g)
    if t is None:
        return None
    frac = t.strftime("%f").rstrip("0")
    base = t.strftime("%Y-%m-%dT%H:%M:%S")
    return f"{base}.{frac}Z" if frac else f"{base}Z"


# route shares: each block of len(MIX) requests is a shuffle of MIX
SERVE_MIX = [0] * 8 + [1] * 4 + [2] * 5 + [3] * 3  # exact, all, range, query
REPLAY_MIX = [0, 0, 1, 2]  # by ids, by range, by filter


def _route_cycle(rng: np.random.Generator, n: int, cycle: list[int]) -> list[int]:
    """n route picks, each block of len(cycle) a seeded shuffle of `cycle`:
    every seed runs the same route proportions in a different order."""
    out: list[int] = []
    while len(out) < n:
        out.extend(rng.permutation(cycle).tolist())
    return out[:n]


def serve_requests(gen: Generator, n: int, stream: int = 2) -> list[dict]:
    """A seeded mix of the four Indexer API routes with expected answers,
    40 % /exact, 20 % /all, 25 % /range and 15 % /query.

    Ids are Zipf-skewed over the indexed messages (~5 % unknown, which the
    API answers with 400); range keys are Zipf-skewed over the 300
    (broker, window) pairs, so the 100-entry count cache partly hits."""
    rng = _rng(gen.seed, stream)
    truth = _Truth(gen)
    m = gen.msgs
    id_rank = rng.permutation(len(truth.rows))
    n_pairs = len(BROKERS) * WINDOWS
    pair_rank = rng.permutation(n_pairs)
    w = 1.0 / np.arange(1, n_pairs + 1) ** 1.1
    pair_p = w / w.sum()
    out = []
    for r in _route_cycle(rng, n, SERVE_MIX):
        if r == 0:
            if rng.random() < 0.05:
                out.append({"route": "exact", "id": _unknown_id(rng), "status": 400})
                continue
            g = truth.zipf_rows(rng, id_rank, 1)[0]
            out.append(
                {
                    "route": "exact",
                    "id": m.unique_id(g),
                    "status": 200,
                    "expect": {
                        "ordering_key": m.field_value(g, "ordering_key"),
                        "business_source_key": m.field_value(g, "business_source_key"),
                        "business_object_key": m.field_value(g, "business_object_key"),
                        "publish_time": _pub_wire(m, g),
                    },
                }
            )
        elif r == 1:
            ids = [m.unique_id(g) for g in truth.zipf_rows(rng, id_rank, 50)]
            known = set(ids)
            for j in np.flatnonzero(rng.random(50) < 0.05).tolist():
                ids[j] = _unknown_id(rng)
            out.append(
                {"route": "all", "ids": ids, "status": 200, "ids_out": sorted(known & set(ids))}
            )
        elif r == 2:
            b, w = divmod(int(pair_rank[rng.choice(n_pairs, p=pair_p)]), WINDOWS)
            lo, hi = window_bounds(w)
            match = truth.by_window.get((b, w), [])
            out.append(
                {
                    "route": "range",
                    "broker": BROKERS[b],
                    "from": wire(lo),
                    "to": wire(hi),
                    "status": 200,
                    "total_count": len(match),
                    "ids_out": match[:PAGE],
                }
            )
        else:
            filters, match = truth.query_filter(rng)
            out.append(
                {
                    "route": "query",
                    "filters": filters,
                    "status": 200,
                    "total_count": len(match),
                    "ids_out": match[:PAGE],
                }
            )
    return out


def replay_requests(gen: Generator, n: int, stream: int = 3) -> list[dict]:
    """A seeded mix of the three Resubmitter API routes, half by ids and a
    quarter each by range and by filter, with the expected status,
    published count and a sample of the ids to republish."""
    rng = _rng(gen.seed, stream)
    truth = _Truth(gen)
    m = gen.msgs
    id_rank = rng.permutation(len(truth.rows))
    out = []
    for r in _route_cycle(rng, n, REPLAY_MIX):
        if r == 0:
            # the first BY_IDS distinct ids of a Zipf-skewed draw, so every
            # by-ids request republishes the same number of records
            drawn = dict.fromkeys(m.unique_id(g) for g in truth.zipf_rows(rng, id_rank, 4 * BY_IDS))
            ids = sorted(list(drawn)[:BY_IDS])
            n_found = len(ids)
            n_unknown = int(rng.random() < 0.2)
            ids += [_unknown_id(rng) for _ in range(n_unknown)]
            out.append(
                {
                    "route": "resubmit",
                    "body": {"ids": ids},
                    "status": 206 if n_unknown else 200,
                    "published": n_found,
                    "sample": ids[:3],
                }
            )
        elif r == 1:
            b = int(rng.integers(0, len(BROKERS)))
            w = int(rng.integers(0, WINDOWS))
            lo, hi = window_bounds(w)
            match = truth.by_window.get((b, w), [])
            out.append(
                {
                    "route": "range",
                    "body": {"broker_id": BROKERS[b], "lb": wire(lo), "ub": wire(hi)},
                    "status": 200,
                    "published": len(match),
                    "sample": match[:3],
                }
            )
        else:
            filters, match = truth.query_filter(rng)
            out.append(
                {
                    "route": "query",
                    "body": {"filters": filters},
                    "status": 200,
                    "published": len(match),
                    "sample": match[:3],
                }
            )
    return out


def payloads(gen: Generator, ids) -> dict:
    """unique_id -> generated payload for the given ids."""
    want = set(ids)
    m = gen.msgs
    return {m.unique_id(g): m.payload(g) for g in range(len(m)) if m.unique_id(g) in want}


def write_truth(path: str, **truth) -> None:
    with open(path, "w") as f:
        json.dump(truth, f, sort_keys=True, separators=(",", ":"))

