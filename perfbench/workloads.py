"""The three workloads.  Each drives the package only through the entry
points `cli.py` wires: `run_stream(file_stream(...), IngestConfig(), sinks)`
for ingest, `serve_indexer_api` and `serve_resubmitter_api` (with
`FileResubmitter`) for the two HTTP services.

Every workload is a closed loop.  The ingest stream pulls its next file only
after the previous micro-batch commits (maxFilesPerTrigger=1), and each API
client sends its next request only after the reply to the previous one.

A workload returns a Result: setup time, the timed operations (one
micro-batch or one request each) and what the checks found.  A traced run
alternates untraced and traced blocks of operations, so the two interleave
under the same host conditions; a block is one ingest drain, or one cycle
of the request mix so both halves see the same route shares.
"""

from __future__ import annotations

import glob
import http.client
import json
import os
import threading
import time
from dataclasses import dataclass, field
from urllib.parse import quote

import pyarrow.dataset as ds

from perfbench import checks, gen, host, stats
from perfbench.trace import REQUEST_HEADER, TRACE_HEADER

# JIT and planner warm-up: the first micro-batch of a session is ~5x slower
# than steady state, and batches keep speeding up until about the sixth
WARMUP_FILES = 6
CHUNK_FILES = 2  # files per ingest drain; one availableNow query each
# With 11 micro-batches the tail percentile is the fastest batch, which
# read 12 % apart between seeds; 12 make it the second fastest.
MIN_BATCHES = 12
BUILD_FILES = 2  # index size for serve and replay: 10,000 messages
SERVE_CLIENTS = 2
SERVE_REQUESTS = 1000  # drawn up front; clients cycle if they run out
REPLAY_REQUESTS = 200
# Replay requests keep speeding up for the first ~40 of a session, from up
# to 2x steady-state latency; whole mix cycles warm every route.  A window
# of at least REPLAY_MIN requests, like MIN_BATCHES for ingest, keeps each
# run's metrics on the same stretch of that curve whatever the host's speed.
REPLAY_WARMUP = 3 * len(gen.REPLAY_MIX)
REPLAY_MIN = 6 * len(gen.REPLAY_MIX)
COLLECTION = "messages"


@dataclass
class Op:
    """One timed operation: a micro-batch or a request."""

    kind: str
    seconds: float
    ok: bool
    items: int  # distinct messages committed, or records republished
    traced: bool = False
    detail: dict = field(default_factory=dict)


@dataclass
class Result:
    setup_s: float
    ops: list
    window_s: float  # wall time of the timed window
    cpu: dict  # host busy/steal shares and canary (host.Window)
    problems: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)  # workload-specific figures


class Context:
    """Per-run state: paths, session, tracer and the setup clock."""

    def __init__(self, work: str, seed: int, seconds: float, tracer, cores: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tracer, self.cores = tracer, cores
        self.spark = None
        self.session_s = 0.0
        self.t0 = time.perf_counter()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def traced(self, i: int, block: int = 1) -> bool:
        """Whether operation i runs traced.  Blocks go untraced, traced,
        traced, untraced, and repeat, so both halves sit at about the same
        point of the session's warm-up curve."""
        return self.tracer is not None and (i // block) % 4 in (1, 2)

    def window_done(self, elapsed: float, op_seconds: list, min_ops: int) -> bool:
        """A window lasts the run's seconds and at least min_ops operations,
        and on until its operations support a tail percentile (stats.tail)."""
        return elapsed >= self.seconds and len(op_seconds) >= min_ops and stats.has_tail(op_seconds)


def _sinks(ctx: Context, name: str):
    from persistor_spark.streaming import ingest_stream

    return ingest_stream.StreamSinks(
        blob_path=ctx.path(name, "blobs"),
        index_path=ctx.path(name, "index"),
        deadletter_path=ctx.path(name, "deadletter"),
        checkpoint_path=ctx.path(name, "checkpoint"),
    )


def _drain(ctx: Context, src: str, sinks):
    """One `ingest --stream` run: drain every file in `src` and wait."""
    from persistor_spark.config import IngestConfig
    from persistor_spark.streaming import ingest_stream

    q, _ = ingest_stream.run_stream(ingest_stream.file_stream(ctx.spark, src), IngestConfig(), sinks)
    q.awaitTermination()
    return [p for p in q.recentProgress if "addBatch" in p["durationMs"]]


def _stage(g: gen.Generator, ctx: Context, src: str, n: int) -> list[dict]:
    """Generate the next n files and move each into the stream's source
    directory whole, so the stream never lists a partial file."""
    os.makedirs(src, exist_ok=True)
    os.makedirs(ctx.path("staging"), exist_ok=True)
    recs = []
    for _ in range(n):
        name = f"part-{len(g.files):05d}.parquet"
        rec = g.next_file(ctx.path("staging", name))
        os.rename(ctx.path("staging", name), os.path.join(src, name))
        recs.append(rec)
    return recs


def _data_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "part-*.parquet"), recursive=True))


def _columns(path: str, columns: list[str]) -> list[tuple]:
    table = ds.dataset(_data_files(path), format="parquet").to_table(columns=columns)
    return list(zip(*(table.column(c).to_pylist() for c in columns)))


def _layout(sinks, g: gen.Generator) -> dict:
    """Files and bytes the ingest path left on disk, per payload byte."""
    idx, blobs = _data_files(sinks.index_path), _data_files(sinks.blob_path)
    on_disk = sum(os.path.getsize(p) for p in idx + blobs)
    payload = sum(len(g.msgs.payload(i)) for i in range(len(g.msgs)))
    return {"index_files": len(idx), "blob_files": len(blobs), "bytes_per_payload_byte": on_disk / payload}


# -- ingest -------------------------------------------------------------------


def run_ingest(ctx: Context) -> Result:
    # throw-away warm-up stream into its own sinks
    _stage(gen.Generator(ctx.seed, stream=1), ctx, ctx.path("warm_src"), WARMUP_FILES)
    _drain(ctx, ctx.path("warm_src"), _sinks(ctx, "warm"))
    setup_s = time.perf_counter() - ctx.t0

    g = gen.Generator(ctx.seed)
    src, sinks = ctx.path("src"), _sinks(ctx, "out")
    ops: list[Op] = []
    files: list[dict] = []
    drain_s = 0.0
    win = host.Window()
    started = time.perf_counter()
    chunk = 0
    while not ctx.window_done(drain_s, [op.seconds for op in ops], MIN_BATCHES):
        # no more micro-batches than MIN_BATCHES needs, while it is unmet
        n = min(CHUNK_FILES, MIN_BATCHES - len(ops)) if len(ops) < MIN_BATCHES else CHUNK_FILES
        recs = _stage(g, ctx, src, n)
        traced = ctx.traced(chunk)
        if ctx.tracer is not None:
            ctx.tracer.active = traced
        t = time.perf_counter()
        progress = _drain(ctx, src, sinks)
        elapsed = time.perf_counter() - t
        if ctx.tracer is not None:
            ctx.tracer.active = False
        drain_s += elapsed
        if len(progress) != len(recs):
            raise RuntimeError(f"{len(recs)} files staged but {len(progress)} micro-batches ran")
        for rec, p in zip(recs, progress):
            d = p["durationMs"]
            ops.append(
                Op(
                    "batch",
                    d["triggerExecution"] / 1000.0,
                    True,
                    len(rec["fresh"]),
                    traced,
                    {"trigger_ms": d["triggerExecution"], "addbatch_ms": d["addBatch"]},
                )
            )
        files.extend(recs)
        chunk += 1
    window_s = time.perf_counter() - started
    cpu = win.close()

    ids = [[g.msgs.unique_id(i) for i in rec["rows"]] for rec in files]
    gen.write_truth(ctx.path("truth.json"), files=[r["path"] for r in files], ids=ids)
    bad, problems = checks.check_ingest(
        ids,
        _columns(sinks.index_path, ["unique_id", "location_key", "location_position"]),
        _columns(sinks.blob_path, ["location_key", "position", "record_id"]),
    )
    for k in bad:  # each file is one micro-batch
        ops[k].ok = False
    return Result(setup_s, ops, window_s, cpu, problems, {"drain_s": drain_s, **_layout(sinks, g)})


# -- HTTP clients -------------------------------------------------------------


def _call(port: int, method: str, path: str, body, rid: int, traced: bool):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        data = None if body is None else json.dumps(body).encode()
        headers = {
            "Content-Type": "application/json",
            REQUEST_HEADER: str(rid),
            TRACE_HEADER: "1" if traced else "0",
        }
        conn.request(method, path, body=data, headers=headers)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


def _build_index(ctx: Context, g: gen.Generator):
    """Build the index the way production writes it (the ingest stream's
    many small files), then open it as cmd_serve does."""
    from persistor_spark.plans import maintenance
    from persistor_spark.plans.query import IndexQuery

    sinks = _sinks(ctx, "built")
    _stage(g, ctx, ctx.path("src"), BUILD_FILES)
    _drain(ctx, ctx.path("src"), sinks)
    maintenance.recover_pending_deletes(ctx.spark, sinks.index_path)
    iq = IndexQuery(ctx.spark.read.parquet(sinks.index_path), cache_counts=True)
    return sinks, {COLLECTION: iq}


def _closed_loop(ctx: Context, clients: int, block: int, min_ops: int, send) -> tuple[list, float, dict]:
    """Run `clients` threads, each sending the next request i and waiting
    for the reply, until the window is over.  The window ends on a whole
    block of requests, so every run sends the mix's exact route shares.
    Returns the (i, seconds, status, body, traced) records, the window and
    CPU shares."""
    records: list = []
    lock = threading.Lock()
    win = host.Window()
    started = time.perf_counter()
    issued = 0

    def client():
        nonlocal issued
        while True:
            with lock:
                i = issued
                elapsed = time.perf_counter() - started
                if i % block == 0 and ctx.window_done(elapsed, [r[1] for r in records], min_ops):
                    return
                issued += 1
            traced = ctx.traced(i, block)
            t = time.perf_counter()
            try:
                status, body = send(i, traced)
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                status, body = -1, {"exception": repr(exc)}
            rec = (i, time.perf_counter() - t, status, body, traced)
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    window_s = time.perf_counter() - started
    return sorted(records), window_s, win.close()


def _route_path(req: dict) -> tuple[str, str, object]:
    route = req["route"]
    if route == "exact":
        return "GET", f"/exact/{COLLECTION}/{req['id']}", None
    if route == "all":
        return "POST", f"/all/{COLLECTION}", {"ids": req["ids"]}
    if route == "range":
        q = f"from={quote(req['from'])}&to={quote(req['to'])}"
        return "GET", f"/range/{COLLECTION}/{req['broker']}?{q}", None
    return "POST", f"/query/{COLLECTION}", {"filters": req["filters"]}


def _failures(ops: list) -> list[str]:
    return [f"{op.kind} request {op.detail['rid']} failed its check" for op in ops if not op.ok]


def _warm_up(send, reqs: list[dict]) -> None:
    for i, req in enumerate(reqs):
        send(req, i)


# -- serve --------------------------------------------------------------------


def run_serve(ctx: Context) -> Result:
    from persistor_spark import server as srv

    g = gen.Generator(ctx.seed)
    sinks, indexes = _build_index(ctx, g)
    reqs = gen.serve_requests(g, SERVE_REQUESTS)
    gen.write_truth(ctx.path("truth.json"), requests=reqs)
    api = srv.serve_indexer_api(indexes)
    srv.start_background(api)
    port = api.server_address[1]
    try:
        _warm_up(
            lambda req, i: _call(port, *_route_path(req), rid=-1 - i, traced=False),
            gen.serve_requests(g, len(gen.SERVE_MIX), stream=12),
        )
        setup_s = time.perf_counter() - ctx.t0

        def send(i, traced):
            return _call(port, *_route_path(reqs[i % len(reqs)]), rid=i, traced=traced)

        records, window_s, cpu = _closed_loop(ctx, SERVE_CLIENTS, len(gen.SERVE_MIX), 0, send)
    finally:
        srv.shutdown_graceful(api)
    ops = []
    for i, secs, status, body, traced in records:
        req = reqs[i % len(reqs)]
        ok = status != -1 and checks.check_serve(req, status, body)
        ops.append(Op(req["route"], secs, ok, 1, traced, {"rid": i}))
    return Result(setup_s, ops, window_s, cpu, _failures(ops), _layout(sinks, g))


# -- replay -------------------------------------------------------------------


def run_replay(ctx: Context) -> Result:
    from persistor_spark import server as srv

    g = gen.Generator(ctx.seed)
    sinks, indexes = _build_index(ctx, g)
    reqs = gen.replay_requests(g, REPLAY_REQUESTS)
    gen.write_truth(ctx.path("truth.json"), requests=reqs)
    out_root = ctx.path("republished")
    api = srv.serve_resubmitter_api(indexes, srv.FileResubmitter(ctx.spark, sinks.blob_path, out_root))
    srv.start_background(api)
    port = api.server_address[1]

    def post(req, topic, rid, traced):
        path = f"/{req['route']}/{COLLECTION}?topic={topic}"
        return _call(port, "POST", path, req["body"], rid=rid, traced=traced)

    try:
        _warm_up(
            lambda req, i: post(req, f"warm{i}", -1 - i, False),
            gen.replay_requests(g, REPLAY_WARMUP, stream=13),
        )
        setup_s = time.perf_counter() - ctx.t0
        records, window_s, cpu = _closed_loop(
            ctx,
            1,
            len(gen.REPLAY_MIX),
            REPLAY_MIN,
            lambda i, traced: post(reqs[i % len(reqs)], f"t{i}", i, traced),
        )
    finally:
        srv.shutdown_graceful(api)
    truth = gen.payloads(g, {u for i, *_ in records for u in reqs[i % len(reqs)]["sample"]})
    ops = []
    for i, secs, status, body, traced in records:
        req = reqs[i % len(reqs)]
        out = os.path.join(out_root, f"t{i}")
        republished = dict(_columns(out, ["unique_id", "payload"])) if _data_files(out) else {}
        ok = status != -1 and checks.check_replay(req, status, body, republished, truth)
        ops.append(Op(req["route"], secs, ok, req["published"] if ok else 0, traced, {"rid": i}))
    return Result(setup_s, ops, window_s, cpu, _failures(ops), _layout(sinks, g))


WORKLOADS = {"ingest": run_ingest, "serve": run_serve, "replay": run_replay}
