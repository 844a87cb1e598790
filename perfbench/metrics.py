"""Metric names, units and how each is computed from a workload's Result.

END_TO_END and PER_LAYER are the lists BENCHMARK.json declares; a run
prints every name of its list.  A per-layer figure a workload has no timed
work for (a route it never calls, a layer it never enters) reads 0.
"""

from __future__ import annotations

import math
from collections import defaultdict

from perfbench import stats
from perfbench.gen import FILE_ROWS
from perfbench.trace import SPARK_LAYERS, TASK_FIELDS

ROUTES = ("exact", "all", "range", "query")

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
}

_TASK_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "run_ms": "ms",
    "cpu_ms": "ms",
    "gc_ms": "ms",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "output_bytes": "B",
}

PER_LAYER = {
    "session.build_s": "s",
    "stream.trigger_ms": "ms",
    "stream.addbatch_ms": "ms",
    "stream.overhead_ms": "ms",
    "ingest.run_batch_ms": "ms",
    "ingest.write_blobs_ms": "ms",
    "ingest.write_index_ms": "ms",
    "ingest.appended_frac": "ratio",
    "ingest.index_files": "count",
    "ingest.blob_files": "count",
    "ingest.bytes_per_payload_byte": "ratio",
    "query.get_ms": "ms",
    "query.get_all_ms": "ms",
    "query.get_interval_ms": "ms",
    "query.query_ms": "ms",
    "query.count_cache_hit_frac": "ratio",
    **{f"server.{r}_ms": "ms" for r in ROUTES},
    "server.resubmit_ms": "ms",
    "server.self_ms": "ms",
    "server.wait_ms": "ms",
    "resubmit.request_ms": "ms",
    "resubmit.records_per_request": "count",
    "resubmit.rows_scanned_per_published": "ratio",
    **{f"spark.{l}.{f}": _TASK_UNITS[f] for l in SPARK_LAYERS for f in TASK_FIELDS},
    "host.steal_frac": "ratio",
    "host.busy_frac": "ratio",
    "host.peak_rss_mb": "MB",
    "host.canary_ms": "ms",
    "trace.overhead_frac": "ratio",
    **{f"serve.{r}_p50_ms": "ms" for r in ROUTES},
}


def _latencies_ms(ops) -> list[float]:
    """A failed op misses every latency limit: it counts as infinitely slow."""
    return [op.seconds * 1000.0 if op.ok else math.inf for op in ops]


def _med(xs) -> float:
    return stats.median(xs) if xs else 0.0


def _tail(lat: list) -> tuple[float, float, int]:
    # failed ops tie at infinity; with enough of them no percentile has
    # ten samples beyond it, and the tail is infinite too
    return stats.tail(lat) if stats.has_tail(lat) else (math.inf, 100.0, len(lat))


def end_to_end(res) -> dict:
    lat = _latencies_ms(res.ops)
    items = sum(op.items for op in res.ops if op.ok)
    # ingest: over the drains only; the API workloads: over the window
    elapsed = res.layers.get("drain_s", res.window_s)
    values = {
        "setup_s": res.setup_s,
        "items_per_s": items / elapsed,
        "op_p50_ms": stats.median(lat),
        "op_tail_ms": _tail(lat)[0],
    }
    return {k: (v, END_TO_END[k]) for k, v in values.items()}


def _throughput(ops) -> float:
    """Items per second of operation time, the closed-loop throughput."""
    secs = sum(op.seconds for op in ops)
    return sum(op.items for op in ops if op.ok) / secs if secs else 0.0


def per_layer(workload: str, res, spans: list[dict], folded: dict, session_s: float, peak_rss_mb: float) -> dict:
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def span_ms(name: str) -> float:
        return _med([s["ms"] for s in by_name[name]])

    v: dict = {"session.build_s": session_s}
    batches = [op.detail for op in res.ops if op.kind == "batch"]
    v["stream.trigger_ms"] = _med([d["trigger_ms"] for d in batches])
    v["stream.addbatch_ms"] = _med([d["addbatch_ms"] for d in batches])
    v["stream.overhead_ms"] = _med([d["trigger_ms"] - d["addbatch_ms"] for d in batches])

    v["ingest.run_batch_ms"] = span_ms("ingest.run_batch")
    v["ingest.write_blobs_ms"] = span_ms("ingest.write_blobs")
    v["ingest.write_index_ms"] = span_ms("ingest.write_index")
    merges = [s for s in by_name["ingest.write_blobs"] + by_name["ingest.write_index"] if "appended" in s]
    # each micro-batch offers one file's rows to each merge sink
    offered = FILE_ROWS * len(merges)
    v["ingest.appended_frac"] = sum(s["appended"] for s in merges) / offered if offered else 0.0
    for k in ("index_files", "blob_files", "bytes_per_payload_byte"):
        v[f"ingest.{k}"] = res.layers[k]

    for method in ("get", "get_all", "get_interval", "query"):
        v[f"query.{method}_ms"] = span_ms(f"query.{method}")
    counts = len(by_name["query.get_interval_count"])
    v["query.count_cache_hit_frac"] = 1.0 - len(by_name["query.count"]) / counts if counts else 0.0

    handlers = [s for s in spans if s["name"].startswith("server.")]
    for r in ROUTES:
        v[f"server.{r}_ms"] = span_ms(f"server.{r}")
    v["server.resubmit_ms"] = _med([s["ms"] for s in handlers if s["name"].startswith("server.resubmitter.")])
    v["server.self_ms"] = _med([s["self_ms"] for s in handlers])
    handler_ms = {s["rid"]: s["ms"] for s in handlers}
    v["server.wait_ms"] = _med(
        [
            op.seconds * 1000.0 - handler_ms[str(op.detail["rid"])]
            for op in res.ops
            if op.traced and str(op.detail.get("rid")) in handler_ms
        ]
    )

    requests = by_name["resubmit.request"]
    published = sum(s.get("published", 0) for s in requests)
    v["resubmit.request_ms"] = span_ms("resubmit.request")
    v["resubmit.records_per_request"] = published / len(requests) if requests else 0.0
    v["resubmit.rows_scanned_per_published"] = (
        folded["blob_rows_scanned"] / published if published else 0.0
    )

    # task metrics per traced operation
    traced = [op for op in res.ops if op.traced]
    for layer in SPARK_LAYERS:
        for f in TASK_FIELDS:
            total = folded["layers"][layer][f]
            v[f"spark.{layer}.{f}"] = total / len(traced) if traced else 0.0

    v["host.steal_frac"] = res.cpu["steal_frac"]
    v["host.busy_frac"] = res.cpu["busy_frac"]
    v["host.peak_rss_mb"] = peak_rss_mb
    v["host.canary_ms"] = res.cpu["canary_ms"]
    plain = _throughput([op for op in res.ops if not op.traced])
    v["trace.overhead_frac"] = 1.0 - _throughput(traced) / plain if plain else 0.0

    for r in ROUTES:
        lat = [op.seconds * 1000.0 for op in res.ops if op.kind == r and not op.traced]
        v[f"serve.{r}_p50_ms"] = _med(lat) if workload == "serve" else 0.0
    return {k: (v[k], PER_LAYER[k]) for k in PER_LAYER}


def describe(res, values: dict) -> list[str]:
    """Human-readable lines: every metric by name and unit, with the tail
    percentile and its sample count beside op_tail_ms."""
    lines = []
    for name, (value, unit) in values.items():
        line = f"{name} = {value:.6g} {unit}"
        if name == "op_tail_ms":
            _, pct, n = _tail(_latencies_ms(res.ops))
            line += f"  (p{pct:.1f} of {n} samples, {stats.TAIL_BEYOND} beyond)"
        lines.append(line)
    return lines
