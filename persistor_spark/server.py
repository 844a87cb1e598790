"""HTTP serving surface: the Indexer API and Resubmitter API endpoint sets
over the in-process engine.

Reference parity:
- Indexer API routes (indexer-api/lib/server.go:139-163):
    GET  /exact/<collection>/<id>      -> point lookup (handler.go:35-50)
    POST /all/<collection>             -> IN-list lookup (handler.go:57-83)
    GET  /range/<collection>/<broker>  -> interval + pagination (handler.go:87-114)
    POST /query/<collection>           -> filter query + pagination (handler.go:122-177)
- Resubmitter API routes (resubmitter-api/lib/resubmitter/server.go:177-195):
    POST /resubmit/<collection>        -> by ids (handler.go:68-104)
    POST /range/<collection>           -> by broker interval (handler.go:147-187)
    POST /query/<collection>           -> by filters (handler.go:203-241)

The Go services run gin in front of a Mongo repo / an HTTP indexer client;
here the router is a stdlib ThreadingHTTPServer and the "repo" is
IndexQuery over the parquet index (the SURVEY S7 collapse — no separate
indexer service to call).  Status-code and envelope semantics mirror the
handlers cited above: 400 on bad request bodies / unknown ids / invalid
filter keys / malformed timestamps, 500 on engine failures where the
reference uses OnFailureMessage, and the resubmitter's 200/206/400 from
the stage counters (LineageCounts.http_status, resubmitter handler.go:
115-124).  Deviation (documented): an unknown collection is a 400 here;
Mongo would silently query an empty collection.

Publishing: brokers are environment-blocked in this container, so the
default Resubmitter "topic" is a per-key-ordered parquet append under
`out_root/<topic>` (the K8 file-sink stand-in the streaming tests use);
swap FileResubmitter for a broker-backed publisher at deploy.

Threading: ThreadingHTTPServer gives the per-request goroutine shape of
gin (server.go:139-163's waitGroup); Spark jobs from concurrent requests
interleave across the shared SparkSession's scheduler pools.
"""

from __future__ import annotations

import json
import os
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from persistor_spark.functions.filters import InvalidQueryKeys, InvalidTimestamp

# indexer-api/lib/util.go:30-31
ON_BAD_REQUEST = "bad request"
ON_FAILURE = "request failed"
# resubmitter-api handler.go:36-40
RESUBMIT_SUCCESS = "resubmission successful"
RESUBMIT_PARTIAL = "partial resubmission"
RESUBMIT_BAD_REQUEST = "resubmission failed due to bad request"
RESUBMIT_FAILURE = "resubmission failed"  # handler.go:39 OnFailureMessage
RESUBMIT_NO_TOPIC = (
    "topic was not defined as a query parameter nor as an environment variable"
)
TOPIC_ID_ENV = "TOPIC_ID"  # handler.go:42

DEFAULT_LIMIT = 20  # util.go:39-42
DEFAULT_OFFSET = 0


def _wire(dt: datetime) -> str:
    """Go dateFormat 2006-01-02T15:04:05.99999999Z (util.go:77): RFC3339,
    trailing fraction zeros trimmed."""
    frac = dt.strftime("%f").rstrip("0")
    base = dt.strftime("%Y-%m-%dT%H:%M:%S")
    return f"{base}.{frac}Z" if frac else f"{base}Z"


def _json_default(obj):
    if isinstance(obj, datetime):
        return _wire(obj)
    return str(obj)


def _pagination(params: dict) -> tuple[int, int]:
    """util.go:49-67: limit > 0 else default, offset >= 0 else default;
    unparseable values fall back exactly like Go's ignored Atoi error."""
    try:
        limit = int(params.get("limit", [""])[0] or 0)
    except ValueError:
        limit = 0
    try:
        offset = int(params.get("offset", [""])[0] or -1)
    except ValueError:
        offset = -1
    return (limit if limit > 0 else DEFAULT_LIMIT, offset if offset >= 0 else DEFAULT_OFFSET)


def _interval_bounds(params: dict) -> tuple[datetime, datetime]:
    """util.go:80-120 via the ONE implementation (plans.query Q10 —
    keeping a second copy here let the two drift: they had already
    diverged on aware-vs-naive `now` and error wording).  This adapter
    only unpacks the query-param dict."""
    from persistor_spark.plans.query import extract_interval_params

    return extract_interval_params(
        params.get("from", [""])[0] or None, params.get("to", [""])[0] or None
    )


class _JsonHandler(BaseHTTPRequestHandler):
    # quiet default request logging (gin's access log is its own concern)
    def log_message(self, fmt, *args):  # noqa: D401
        pass

    def _reply(self, status: int, payload) -> None:
        body = json.dumps(payload, default=_json_default).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    # Body reads get 10x the header deadline instead of None: a client that
    # sends headers then stalls mid-body must not pin a handler thread
    # forever (it would also wedge shutdown_graceful's drain budget), but a
    # slow-but-legitimate POST body still gets far more than the
    # ReadHeaderTimeout Go applies only to the request line + headers
    # (server.go:126).
    BODY_TIMEOUT_FACTOR = 10

    def _read_json(self):
        n = int(self.headers.get("Content-Length") or 0)
        try:
            if self.timeout is not None:
                self.connection.settimeout(self.timeout * self.BODY_TIMEOUT_FACTOR)
            raw = self.rfile.read(n)
        finally:
            self.connection.settimeout(self.timeout)
        return json.loads(raw)

    def _route(self):
        parsed = urlparse(self.path)
        return [p for p in parsed.path.split("/") if p], parse_qs(parsed.query)


class IndexerApiHandler(_JsonHandler):
    """The four Indexer API endpoints (server.go:139-163)."""

    indexes: dict = {}  # collection -> IndexQuery, set by serve_indexer_api

    def _iq(self, collection: str):
        iq = self.indexes.get(collection)
        if iq is None:
            raise KeyError(f"unknown collection {collection!r}")
        return iq

    def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler contract
        parts, params = self._route()
        try:
            if len(parts) == 3 and parts[0] == "exact":
                return self._get_unique(parts[1], parts[2])
            if len(parts) == 3 and parts[0] == "range":
                return self._get_interval(parts[1], parts[2], params)
            return self._reply(404, {"message": ON_BAD_REQUEST, "error": "no such route"})
        except (KeyError, ValueError) as exc:
            return self._reply(400, {"message": ON_BAD_REQUEST, "error": str(exc)})
        except Exception as exc:  # engine failure -> 500 (handler.go:104-111)
            return self._reply(500, {"message": ON_FAILURE, "error": str(exc)})

    def do_POST(self):  # noqa: N802
        parts, params = self._route()
        try:
            body = self._read_json()
        except Exception as exc:
            return self._reply(400, {"message": ON_BAD_REQUEST, "error": f"invalid JSON body: {exc}"})
        try:
            if len(parts) == 2 and parts[0] == "all":
                return self._get_all(parts[1], body)
            if len(parts) == 2 and parts[0] == "query":
                return self._get_queried(parts[1], body, params)
            return self._reply(404, {"message": ON_BAD_REQUEST, "error": "no such route"})
        except (KeyError, ValueError, InvalidQueryKeys, InvalidTimestamp) as exc:
            return self._reply(400, {"message": ON_BAD_REQUEST, "error": str(exc)})
        except Exception as exc:
            # GetAll's engine failures are 500 (handler.go:73-80); GetQueried
            # uses 400 for its engine errors (handler.go:167-174)
            status = 400 if parts and parts[0] == "query" else 500
            msg = ON_BAD_REQUEST if status == 400 else ON_FAILURE
            return self._reply(status, {"message": msg, "error": str(exc)})

    # -- handlers ---------------------------------------------------------
    def _get_unique(self, collection: str, unique_id: str):
        rows = self._iq(collection).get(unique_id).collect()
        if not rows:
            # Mongo FindOne -> ErrNoDocuments -> 400 (handler.go:39-47)
            return self._reply(400, {"message": ON_BAD_REQUEST, "error": f"no document with unique_id {unique_id!r}"})
        return self._reply(200, rows[0].asDict())

    def _get_all(self, collection: str, body):
        ids = (body or {}).get("ids")
        if not isinstance(ids, list):
            raise ValueError("field 'ids' is required")  # binding:"required"
        rows = [r.asDict() for r in self._iq(collection).get_all(ids).collect()]
        return self._reply(200, rows)

    def _get_interval(self, collection: str, broker_id: str, params):
        lb, ub = _interval_bounds(params)
        limit, offset = _pagination(params)
        res = self._iq(collection).get_interval(lb, ub, broker_id, limit=limit, offset=offset)
        try:
            return self._reply(200, _envelope(res))
        finally:
            res.unpersist()

    def _get_queried(self, collection: str, body, params):
        filters = (body or {}).get("filters")
        if not isinstance(filters, list):
            raise ValueError("field 'filters' is required")
        limit, offset = _pagination(params)
        res = self._iq(collection).query(filters, limit=limit, offset=offset)
        try:
            return self._reply(200, _envelope(res))
        finally:
            res.unpersist()


def _envelope(res) -> dict:
    return {
        "total_count": res.total_count,
        "returned_count": res.returned_count,
        "limit": res.limit,
        "offset": res.offset,
        "messages": [r.asDict() for r in res.messages.collect()],
    }


# Attributes packaged with each resubmitted record (resubmitter util.go:62-82)
RESUBMIT_ATTRIBUTES = [
    "unique_id", "ordering_key", "business_source_key", "business_object_key",
    "index_source_key", "location_key", "location_position",
]


class FileResubmitter:
    """R8 pipeline behind the Resubmitter API with a file-sink 'topic':
    metadata page -> location-pruned blob fetch -> R6 position-align ->
    per-key-ordered parquet append under out_root/<topic>.  Brokers are
    environment-blocked in this container; a broker-backed publisher slots
    in by replacing this class (same resubmit() contract)."""

    def __init__(self, spark, blobs_path: str, out_root: str):
        self.spark = spark
        self.blobs_path = blobs_path
        self.out_root = out_root

    def resubmit(self, topic: str, meta, requested: int | None = None) -> dict:
        from pyspark.sql import functions as F

        from persistor_spark.plans import resubmit as rs
        from persistor_spark.plans.ingest import observed_count
        from persistor_spark.sources import blobs as blob_src

        blobs = blob_src.read_blob_records(self.spark, self.blobs_path)
        pruned = blob_src.prune_to_locations(blobs, meta)
        records, obs_meta, obs_rec = rs.resubmit_observed(meta, pruned)
        # per-key publish order made OBSERVABLE in the file sink (R7): the
        # publish_seq column + key-partitioned, seq-sorted physical row
        # order — the same discipline publish_kafka hands the producer.
        # Writing raw join output would silently drop the ordering contract
        # on the HTTP path.
        ordered = (
            rs.with_publish_order(records)
            .repartition(F.col("ordering_key"))
            .sortWithinPartitions("ordering_key", "publish_seq")
        )
        ordered.write.mode("append").parquet(f"{self.out_root}/{topic}")

        counts = rs.LineageCounts(
            # starting = what the caller ASKED for (len(ids) — reference
            # resubmitter_job.go:142), not what the index found: with
            # found-count as starting, unknown ids reported 200 "success"
            # and partially-found id sets reported 200 instead of 206.
            # Interval/query routes have no requested cardinality — there
            # the found count is the starting set by definition.
            starting=requested
            if requested is not None
            else observed_count(obs_meta, "starting"),
            indexed=observed_count(obs_meta, "starting"),
            fetched=observed_count(obs_rec, "published"),
            deserialized=observed_count(obs_rec, "published"),
            published=observed_count(obs_rec, "published"),
        )
        return {
            "status": counts.http_status(),
            "summary": {
                "starting": counts.starting,
                "indexed": counts.indexed,
                "fetched": counts.fetched,
                "deserialized": counts.deserialized,
                "published": counts.published,
            },
        }


class ResubmitterApiHandler(_JsonHandler):
    """The three Resubmitter API endpoints (server.go:177-195)."""

    indexes: dict = {}
    resubmitter: FileResubmitter | None = None
    env_topic: str = ""

    def _topic(self, params) -> str:
        # query param wins, env TOPIC_ID is the fallback (handler.go:106-113)
        return params.get("topic", [""])[0] or self.env_topic

    def do_POST(self):  # noqa: N802
        parts, params = self._route()
        topic = self._topic(params)
        if not topic:
            return self._reply(400, {"msg": RESUBMIT_NO_TOPIC})
        try:
            body = self._read_json()
        except Exception as exc:
            return self._reply(400, {"msg": RESUBMIT_BAD_REQUEST, "error": str(exc)})
        if body is not None and not isinstance(body, dict):
            # a JSON array/scalar body would AttributeError inside the
            # _meta_for_* builders ((body or {}).get) — reject it here
            return self._reply(
                400, {"msg": RESUBMIT_BAD_REQUEST, "error": "body must be a JSON object"}
            )
        requested = None
        try:
            if len(parts) == 2 and parts[0] == "resubmit":
                meta = self._meta_for_ids(parts[1], body)
                requested = len((body or {}).get("ids") or [])
            elif len(parts) == 2 and parts[0] == "range":
                meta = self._meta_for_interval(parts[1], body)
            elif len(parts) == 2 and parts[0] == "query":
                meta = self._meta_for_query(parts[1], body)
            else:
                return self._reply(404, {"msg": RESUBMIT_BAD_REQUEST, "error": "no such route"})
        except (KeyError, ValueError, InvalidQueryKeys, InvalidTimestamp) as exc:
            return self._reply(400, {"msg": RESUBMIT_BAD_REQUEST, "error": str(exc)})
        try:
            result = self.resubmitter.resubmit(topic, meta, requested=requested)
        except Exception as exc:  # noqa: BLE001 — engine failures must still
            # produce an HTTP envelope (handler.go's OnFailureMessage ->
            # 500), not a dropped socket with a server-side traceback
            return self._reply(500, {"msg": RESUBMIT_FAILURE, "error": str(exc)})
        status = result["status"]
        msg = {200: RESUBMIT_SUCCESS, 206: RESUBMIT_PARTIAL}.get(status, RESUBMIT_BAD_REQUEST)
        return self._reply(status, {"status": status, "msg": msg, "summary": result["summary"]})

    def _iq(self, collection: str):
        iq = self.indexes.get(collection)
        if iq is None:
            raise KeyError(f"unknown collection {collection!r}")
        return iq

    def _meta_for_ids(self, collection: str, body):
        ids = (body or {}).get("ids")
        if not isinstance(ids, list):
            raise ValueError("field 'ids' is required")
        return self._iq(collection).get_all(ids, RESUBMIT_ATTRIBUTES)

    def _meta_for_interval(self, collection: str, body):
        broker = (body or {}).get("broker_id")
        if not broker:
            raise ValueError("field 'broker_id' is required")
        # lb/ub default to zero-time/now (handler.go:189-201)
        params = {}
        if body.get("lb"):
            params["from"] = [body["lb"]]
        if body.get("ub"):
            params["to"] = [body["ub"]]
        lb, ub = _interval_bounds(params)
        iq = self._iq(collection)
        return iq.idx.filter(iq._interval_filter(lb, ub, broker)).select(*RESUBMIT_ATTRIBUTES)

    def _meta_for_query(self, collection: str, body):
        filters = (body or {}).get("filters")
        if not isinstance(filters, list):
            raise ValueError("field 'filters' is required")
        return self._iq(collection).query_df(filters, RESUBMIT_ATTRIBUTES)


# -- transport parity: TLS, read-header timeout, graceful drain --------------
# (indexer-api/lib/server.go:30-198; the resubmitter's server.go carries the
# identical option surface with RSB_-prefixed env names)

CERTS_ENV = "CERTS"  # server.go:66 — dir holding server.crt / server.key
ADDRESS_ENV = "IDX_API_SERVER_ADDRESS"  # server.go:68
USE_TLS_ENV = "IDX_API_USE_TLS"  # server.go:69
READ_TIMEOUT_ENV = "IDX_API_SERVER_TIMEOUT"  # server.go:70
DEFAULT_READ_HEADER_TIMEOUT_S = 2.0  # DefaultServerConfig, server.go:39-43
SHUTDOWN_BUDGET_S = 5.0  # initiateGracefulShutdown, server.go:189-198

_DURATION_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_go_duration(s: str) -> float:
    """Seconds from a Go time.ParseDuration string ('2s', '300ms', '1m30s')
    — the wire format of IDX_API_SERVER_TIMEOUT (server.go:97-105).
    ParseDuration parity: an optional leading sign and the bare-zero form
    '0' (the only unit-less value Go accepts — e.g. SERVER_TIMEOUT=0
    disables the timeout) are valid."""
    import re

    body, sign = s, 1.0
    if body[:1] in ("+", "-"):
        sign = -1.0 if body[0] == "-" else 1.0
        body = body[1:]
    if body == "0":
        return 0.0
    parts = re.findall(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)", body)
    if not parts or "".join(n + u for n, u in parts) != body:
        raise ValueError(f"invalid duration: {s!r}")
    return sign * sum(float(n) * _DURATION_UNITS[u] for n, u in parts)


def server_options_from_env(environ=None) -> dict:
    """The loadServerOptionsFromEnv mapping (server.go:82-108): address,
    TLS flag, read-header timeout, as serve_indexer_api keyword arguments
    (`cli serve` reads them at startup).  Malformed values raise, mirroring
    the reference's startup failure (ParsingEnvVariableFailed)."""
    env = os.environ if environ is None else environ
    opts: dict = {}
    if addr := env.get(ADDRESS_ENV):
        host, _, port = addr.rpartition(":")
        opts["addr"] = (host or "0.0.0.0", int(port))
    if tls := env.get(USE_TLS_ENV):
        if tls.lower() not in ("true", "false", "1", "0"):
            raise ValueError(f"invalid bool: {tls!r}")
        opts["tls"] = tls.lower() in ("true", "1")
    if timeout := env.get(READ_TIMEOUT_ENV):
        opts["read_header_timeout_s"] = parse_go_duration(timeout)
    return opts


class TrackedThreadingHTTPServer(ThreadingHTTPServer):
    """ThreadingHTTPServer that records its live handler threads.

    The stock ThreadingMixIn registry is useless here: ThreadingHTTPServer
    sets daemon_threads=True and socketserver's _Threads.append silently
    SKIPS daemon threads, so `server._threads` is always empty and a
    join-based drain would be a vacuous no-op.  We keep our own registry in
    process_request_thread (runs inside each handler thread) so
    shutdown_graceful can actually wait for in-flight requests — the
    waitGroup drain of server.go:189-198 — while keeping daemon semantics
    (a hung handler can't block process exit after the budget)."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._handler_threads: set = set()
        self._handler_lock = threading.Lock()

    def process_request_thread(self, request, client_address):
        t = threading.current_thread()
        with self._handler_lock:
            self._handler_threads.add(t)
        try:
            super().process_request_thread(request, client_address)
        finally:
            with self._handler_lock:
                self._handler_threads.discard(t)


def _apply_transport(
    server: ThreadingHTTPServer,
    handler: type,
    tls: bool,
    certs_path: str | None,
    read_header_timeout_s: float,
) -> ThreadingHTTPServer:
    # BaseHTTPRequestHandler.timeout: socket timeout while reading the
    # request line/headers — a stalled client gets dropped instead of
    # pinning a handler thread (ReadHeaderTimeout, server.go:126).  Go
    # treats a zero/negative ReadHeaderTimeout as "no timeout"; a Python
    # socket timeout of 0 would mean non-blocking, so map it to None.
    handler.timeout = read_header_timeout_s if read_header_timeout_s > 0 else None
    if tls:
        import ssl

        certs = certs_path if certs_path is not None else os.environ.get(CERTS_ENV, "")
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        # startServer (server.go:176): ListenAndServeTLS(certs+"/server.crt",
        # certs+"/server.key")
        ctx.load_cert_chain(f"{certs}/server.crt", f"{certs}/server.key")
        server.socket = ctx.wrap_socket(server.socket, server_side=True)
    return server


def serve_indexer_api(
    indexes: dict,
    addr=("127.0.0.1", 0),
    tls: bool = False,
    certs_path: str | None = None,
    read_header_timeout_s: float = DEFAULT_READ_HEADER_TIMEOUT_S,
) -> ThreadingHTTPServer:
    """Build (not start) the Indexer API server; port 0 picks a free port.
    `indexes` maps collection name -> IndexQuery."""
    handler = type("BoundIndexerApiHandler", (IndexerApiHandler,), {"indexes": indexes})
    return _apply_transport(
        TrackedThreadingHTTPServer(addr, handler), handler, tls, certs_path, read_header_timeout_s
    )


def serve_resubmitter_api(
    indexes: dict,
    resubmitter: FileResubmitter,
    default_topic: str | None = None,
    addr=("127.0.0.1", 0),
    tls: bool = False,
    certs_path: str | None = None,
    read_header_timeout_s: float = DEFAULT_READ_HEADER_TIMEOUT_S,
) -> ThreadingHTTPServer:
    handler = type(
        "BoundResubmitterApiHandler",
        (ResubmitterApiHandler,),
        {
            "indexes": indexes,
            "resubmitter": resubmitter,
            "env_topic": default_topic if default_topic is not None else os.environ.get(TOPIC_ID_ENV, ""),
        },
    )
    return _apply_transport(
        TrackedThreadingHTTPServer(addr, handler), handler, tls, certs_path, read_header_timeout_s
    )


def start_background(server: ThreadingHTTPServer) -> threading.Thread:
    """serve_forever on a daemon thread; shut down with shutdown_graceful
    (or server.shutdown() directly)."""
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t


def shutdown_graceful(server: ThreadingHTTPServer, budget_s: float = SHUTDOWN_BUDGET_S) -> bool:
    """The initiateGracefulShutdown sequence (server.go:180-198): stop
    accepting, wait for in-flight request threads (the waitGroup), give the
    listener `budget_s` seconds to close.  Returns False if in-flight work
    outlived the budget (the reference logs a fatal there)."""
    import time as _time

    deadline = _time.monotonic() + budget_s
    server.shutdown()  # stops serve_forever; new connections refused
    drained = True
    # our TrackedThreadingHTTPServer registry (stock _threads skips daemon
    # threads, so it is always empty — see the class docstring); fall back
    # to _threads for a plain ThreadingHTTPServer with daemon_threads off
    lock = getattr(server, "_handler_lock", None)
    if lock is not None:
        with lock:
            threads = list(server._handler_threads)
    else:
        threads = list(getattr(server, "_threads", None) or [])
    for t in threads:
        t.join(max(0.0, deadline - _time.monotonic()))
        if t.is_alive():
            drained = False
    server.server_close()
    return drained
