"""Span tracing around the package's public functions, and the fold of
Spark's event log into per-layer task metrics.

The wrappers live here, not in the package: `install` replaces module and
class attributes with timing wrappers and `uninstall` puts the originals
back.  Each span records name, start, end, parent and request id, and while
it is open the calling thread's Spark job description names it, so the
event log attributes every job (and its tasks) to the innermost open span.
A span's layer is the part of its name before the first dot.

Tracing is switched per operation: a thread-local override (set for one
request) wins over the tracer-wide `active` flag (set for one ingest
chunk), so traced and untraced operations interleave within one run.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

DESC_PREFIX = "perfbench span="
SPARK_LAYERS = ("ingest", "query", "server", "resubmit")
TASK_FIELDS = ("jobs", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "output_bytes")
TRACE_HEADER = "X-Perfbench-Trace"
REQUEST_HEADER = "X-Perfbench-Request"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._patches: list = []

    # -- switching ----------------------------------------------------------
    def enabled(self) -> bool:
        v = getattr(self._local, "traced", None)
        return self.active if v is None else v

    @contextmanager
    def request(self, rid, traced: bool):
        """Attribute spans opened by this thread to request `rid`."""
        prev = getattr(self._local, "traced", None), getattr(self._local, "rid", None)
        self._local.traced, self._local.rid = traced, rid
        try:
            yield
        finally:
            self._local.traced, self._local.rid = prev

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Yields a dict the caller may add counts to; None when off."""
        if not self.enabled():
            yield None
            return
        from pyspark import SparkContext

        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        attrs: dict = {}
        sc = SparkContext._active_spark_context
        prev_desc = sc.getLocalProperty("spark.job.description") if sc else None
        if sc:
            sc.setJobDescription(f"{DESC_PREFIX}{name} id={sid}")
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            if sc:
                sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "name": name,
                        "start": start,
                        "end": end,
                        "parent": parent,
                        "rid": getattr(self._local, "rid", None),
                        **attrs,
                    }
                )

    # -- wrappers ---------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace owner.attr with a span-recording wrapper.  `count(result,
        attrs)` may copy figures from the result into the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as attrs:
                result = orig(*args, **kwargs)
                if attrs is not None and count is not None:
                    count(result, attrs)
                return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_handler(self, cls, method: str, prefix: str) -> None:
        """Wrap an HTTP handler method: the span is named after the first
        path segment and tagged with the client's request id and trace bit."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def wrapper(handler, *args, **kwargs):
            rid = handler.headers.get(REQUEST_HEADER)
            traced = handler.headers.get(TRACE_HEADER) == "1"
            route = (handler.path.split("?")[0].strip("/").split("/") or ["?"])[0]
            with tracer.request(rid, traced), tracer.span(f"{prefix}.{route}"):
                return orig(handler, *args, **kwargs)

        self._patches.append((cls, method, orig))
        setattr(cls, method, wrapper)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- output -------------------------------------------------------------------
    def finished(self) -> list[dict]:
        """Spans with duration and self time (duration minus the union of
        the intervals its child spans cover), in milliseconds."""
        with self._lock:
            spans = [dict(s) for s in self.spans]
        kids = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        for s in spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            s["ms"] = (s["end"] - s["start"]) * 1000.0
            s["self_ms"] = s["ms"] - covered * 1000.0
        return spans

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.finished(), f)


def install(tracer: Tracer) -> None:
    """Wrap the package's public entry points named by the layer metrics."""
    from persistor_spark import server, session
    from persistor_spark.plans import ingest, query, resubmit
    from persistor_spark.sources import blobs

    def appended(result, attrs):
        attrs["appended"] = result

    tracer.wrap(session, "build_session", "session.build")
    tracer.wrap(ingest, "run_batch", "ingest.run_batch")
    tracer.wrap(ingest, "write_blobs", "ingest.write_blobs")
    tracer.wrap(ingest, "write_index", "ingest.write_index")
    tracer.wrap(ingest, "write_blobs_merge", "ingest.write_blobs", appended)
    tracer.wrap(ingest, "write_index_merge", "ingest.write_index", appended)
    iq = query.IndexQuery
    for method in ("get", "get_all", "get_interval", "query", "query_df"):
        tracer.wrap(iq, method, f"query.{method}")
    tracer.wrap(iq, "get_interval_count", "query.get_interval_count")
    # the Spark count behind a cache miss (a hit never reaches it)
    tracer.wrap(iq, "_compute_count", "query.count")
    tracer.wrap(resubmit, "resubmit_observed", "resubmit.observed")
    tracer.wrap(blobs, "read_blob_records", "resubmit.read_blobs")
    tracer.wrap(blobs, "prune_to_locations", "resubmit.prune")

    def published(result, attrs):
        attrs["published"] = result["summary"]["published"]

    tracer.wrap(server.FileResubmitter, "resubmit", "resubmit.request", published)
    for method in ("do_GET", "do_POST"):
        tracer.wrap_handler(server.IndexerApiHandler, method, "server")
    tracer.wrap_handler(server.ResubmitterApiHandler, "do_POST", "server.resubmitter")


# -- event log --------------------------------------------------------------


def _layer(desc: str | None) -> str | None:
    if not desc or not desc.startswith(DESC_PREFIX):
        return None
    layer = desc[len(DESC_PREFIX) :].split(".", 1)[0]
    return layer if layer in SPARK_LAYERS else None


def _scan_accumulators(plan: dict, marker: str, out: set) -> None:
    """Accumulator ids of 'number of output rows' on file scans of `marker`."""
    if plan.get("nodeName", "").startswith("Scan") and marker in plan.get("simpleString", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_accumulators(child, marker, out)


def fold_event_log(log_dir: str, blob_marker: str) -> dict:
    """Per-layer task metrics from the event log of a finished session, plus
    the rows read by resubmit-layer scans of the blob table."""
    totals = {layer: dict.fromkeys(TASK_FIELDS, 0.0) for layer in SPARK_LAYERS}
    stage_layer: dict = {}
    scan_accs: set = set()
    blob_rows = 0
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p)]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    layer = _layer((e.get("Properties") or {}).get("spark.job.description"))
                    if layer:
                        totals[layer]["jobs"] += 1
                    for s in e.get("Stage IDs", []):
                        stage_layer.setdefault(s, layer)
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _scan_accumulators(e.get("sparkPlanInfo") or {}, blob_marker, scan_accs)
                elif ev == "SparkListenerTaskEnd":
                    layer = stage_layer.get(e.get("Stage ID"))
                    if layer is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    t = totals[layer]
                    t["tasks"] += 1
                    t["run_ms"] += m.get("Executor Run Time", 0)
                    t["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    t["gc_ms"] += m.get("JVM GC Time", 0)
                    t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    if layer == "resubmit":
                        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                            if acc.get("ID") in scan_accs:
                                blob_rows += int(acc.get("Update") or 0)
    return {"layers": totals, "blob_rows_scanned": blob_rows}
