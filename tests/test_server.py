"""HTTP serving surface: drive both APIs over live ThreadingHTTPServers
with stdlib urllib (reference endpoint/status semantics:
indexer-api/lib/handler.go:35-177, resubmitter-api handler.go:68-241)."""

import datetime
import json
import threading
import urllib.error
import urllib.request

import pytest

from persistor_spark import server as srv
from persistor_spark.plans.query import IndexQuery


def _req(port, path, body=None, method=None):
    url = f"http://127.0.0.1:{port}{path}"
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        url,
        data=data,
        method=method or ("POST" if data is not None else "GET"),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def indexer_port(ingested):
    s = srv.serve_indexer_api(
        {"messages": IndexQuery(ingested.index_metadata, cache_counts=True)}
    )
    srv.start_background(s)
    yield s.server_address[1]
    s.shutdown()


def test_exact_lookup_and_wire_timestamps(indexer_port):
    status, doc = _req(indexer_port, "/exact/messages/b1_m000000085")
    assert status == 200
    assert doc["unique_id"] == "b1_m000000085"
    # query-API wire layout (util.go:77): RFC3339, trailing zeros trimmed
    assert "T" in doc["publish_time"] and doc["publish_time"].endswith("Z")


def test_exact_unknown_id_is_400(indexer_port):
    status, body = _req(indexer_port, "/exact/messages/nope")
    assert status == 400 and body["message"] == srv.ON_BAD_REQUEST


def test_unknown_collection_is_400(indexer_port):
    status, _ = _req(indexer_port, "/exact/elsewhere/b1_m000000085")
    assert status == 400


def test_get_all_roundtrip_and_required_field(indexer_port):
    ids = ["b1_m000000085", "b2_m000000002"]
    status, rows = _req(indexer_port, "/all/messages", body={"ids": ids})
    assert status == 200 and sorted(r["unique_id"] for r in rows) == sorted(ids)
    status, body = _req(indexer_port, "/all/messages", body={"wrong": []})
    assert status == 400 and "ids" in body["error"]


def test_range_envelope_and_pagination(indexer_port):
    base = "/range/messages/b1?from=2024-01-05T00:00:00Z&to=2024-01-10T00:00:00Z"
    status, env = _req(indexer_port, base + "&limit=5")
    assert status == 200
    assert set(env) == {"total_count", "returned_count", "limit", "offset", "messages"}
    assert env["limit"] == 5 and env["returned_count"] == len(env["messages"]) <= 5
    status2, page2 = _req(indexer_port, base + "&limit=5&offset=5")
    ids1 = {m["unique_id"] for m in env["messages"]}
    ids2 = {m["unique_id"] for m in page2["messages"]}
    assert not ids1 & ids2


def test_range_default_pagination(indexer_port):
    status, env = _req(
        indexer_port, "/range/messages/b1?from=2024-01-01T00:00:00Z&to=2024-01-30T00:00:00Z"
    )
    assert status == 200 and env["limit"] == 20 and env["offset"] == 0


def test_range_future_upper_bound_is_400(indexer_port):
    future = datetime.datetime.now(datetime.timezone.utc) + datetime.timedelta(days=2)
    status, body = _req(
        indexer_port,
        "/range/messages/b1?to=" + future.strftime("%Y-%m-%dT%H:%M:%SZ"),
    )
    assert status == 400 and "future" in body["error"]


def test_query_filters_and_validation(indexer_port):
    status, env = _req(
        indexer_port,
        "/query/messages?limit=3",
        body={"filters": [{"broker_id": "b1"}]},
    )
    assert status == 200 and env["returned_count"] == len(env["messages"]) == 3
    # whitelist violation -> 400 (handler.go:137-145)
    status, _ = _req(indexer_port, "/query/messages", body={"filters": [{"evil": 1}]})
    assert status == 400
    # malformed timestamp -> 400 (handler.go:147-155)
    status, _ = _req(
        indexer_port,
        "/query/messages",
        body={"filters": [{"publish_time": {"$gte": "not-a-time"}}]},
    )
    assert status == 400
    # unparseable body -> 400
    req = urllib.request.Request(
        f"http://127.0.0.1:{indexer_port}/query/messages", data=b"{nope", method="POST"
    )
    try:
        urllib.request.urlopen(req, timeout=60)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_unknown_route_is_404(indexer_port):
    status, _ = _req(indexer_port, "/nothing/here")
    assert status == 404


@pytest.fixture(scope="module")
def resub_server(spark, ingested, tmp_path_factory):
    root = tmp_path_factory.mktemp("resub_api")
    blobs = str(root / "blobs")
    ingested.blob_records.write.parquet(blobs)
    out_root = str(root / "topics")
    s = srv.serve_resubmitter_api(
        {"messages": IndexQuery(ingested.index_metadata)},
        srv.FileResubmitter(spark, blobs, out_root),
        default_topic="",
    )
    srv.start_background(s)
    yield s.server_address[1], out_root
    s.shutdown()


def test_resubmit_requires_topic(resub_server):
    port, _ = resub_server
    status, body = _req(port, "/resubmit/messages", body={"ids": ["x"]})
    assert status == 400 and body["msg"] == srv.RESUBMIT_NO_TOPIC


def test_resubmit_ids_publishes_to_topic_sink(spark, resub_server):
    port, out_root = resub_server
    ids = ["b1_m000000085", "b2_m000000002"]
    status, body = _req(port, "/resubmit/messages?topic=t1", body={"ids": ids})
    assert status == 200 and body["msg"] == srv.RESUBMIT_SUCCESS
    assert body["summary"]["starting"] == body["summary"]["published"] == 2
    rows = spark.read.parquet(f"{out_root}/t1").collect()
    assert sorted({r["unique_id"] for r in rows}) == sorted(ids)


def test_resubmit_interval_defaults(resub_server, ingested):
    port, _ = resub_server
    status, body = _req(port, "/range/messages?topic=t2", body={"broker_id": "b1"})
    n_b1 = ingested.index_metadata.filter("broker_id = 'b1'").count()
    assert status == 200 and body["summary"]["published"] == n_b1


def test_resubmit_query_filters(resub_server, ingested):
    port, _ = resub_server
    status, body = _req(
        port, "/query/messages?topic=t3", body={"filters": [{"broker_id": "b2"}]}
    )
    n_b2 = ingested.index_metadata.filter("broker_id = 'b2'").count()
    assert status == 200 and body["summary"]["published"] == n_b2


# ---------------------------------------------------------------------------
# transport parity: TLS / read-header timeout / graceful drain
# (indexer-api/lib/server.go:30-198)
# ---------------------------------------------------------------------------

def test_go_duration_parse():
    assert srv.parse_go_duration("2s") == 2.0
    assert srv.parse_go_duration("300ms") == 0.3
    assert srv.parse_go_duration("1m30s") == 90.0
    assert srv.parse_go_duration("1.5s") == 1.5
    for bad in ("", "2", "s", "2 s", "2x"):
        with pytest.raises(ValueError):
            srv.parse_go_duration(bad)


def test_server_options_from_env():
    env = {
        "IDX_API_SERVER_ADDRESS": "0.0.0.0:8080",
        "IDX_API_USE_TLS": "true",
        "IDX_API_SERVER_TIMEOUT": "5s",
    }
    opts = srv.server_options_from_env(env)
    assert opts == {
        "addr": ("0.0.0.0", 8080),
        "tls": True,
        "read_header_timeout_s": 5.0,
    }
    assert srv.server_options_from_env({}) == {}
    # malformed values fail startup (ParsingEnvVariableFailed, server.go:90-105)
    with pytest.raises(ValueError):
        srv.server_options_from_env({"IDX_API_USE_TLS": "yep"})
    with pytest.raises(ValueError):
        srv.server_options_from_env({"IDX_API_SERVER_TIMEOUT": "fast"})


def _self_signed(tmp_path):
    """server.crt / server.key under a CERTS-style dir (server.go:176)."""
    import datetime as dt

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "localhost")])
    now = dt.datetime.now(dt.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - dt.timedelta(minutes=1))
        .not_valid_after(now + dt.timedelta(days=1))
        .add_extension(
            x509.SubjectAlternativeName([x509.DNSName("localhost"), x509.IPAddress(__import__("ipaddress").ip_address("127.0.0.1"))]),
            critical=False,
        )
        .sign(key, hashes.SHA256())
    )
    certs = tmp_path / "certs"
    certs.mkdir()
    (certs / "server.crt").write_bytes(cert.public_bytes(serialization.Encoding.PEM))
    (certs / "server.key").write_bytes(
        key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.TraditionalOpenSSL,
            serialization.NoEncryption(),
        )
    )
    return str(certs)


def test_tls_roundtrip(tmp_path):
    pytest.importorskip("cryptography")
    import ssl

    certs = _self_signed(tmp_path)
    s = srv.serve_indexer_api({}, tls=True, certs_path=certs)
    srv.start_background(s)
    try:
        port = s.server_address[1]
        ctx = ssl.create_default_context(cafile=f"{certs}/server.crt")
        req = urllib.request.Request(f"https://127.0.0.1:{port}/exact/none/x")
        try:
            with urllib.request.urlopen(req, timeout=30, context=ctx) as r:
                status, body = r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            status, body = e.code, json.loads(e.read())
        # served OVER TLS with the reference's envelope semantics
        assert status == 400 and body["message"] == srv.ON_BAD_REQUEST
        # plaintext client against the TLS listener fails the handshake
        with pytest.raises(Exception):
            urllib.request.urlopen(f"http://127.0.0.1:{port}/exact/none/x", timeout=5)
    finally:
        assert srv.shutdown_graceful(s)


def test_read_header_timeout_drops_stalled_client():
    import re
    import socket
    import time as _time

    s = srv.serve_indexer_api({}, read_header_timeout_s=0.5)
    srv.start_background(s)
    try:
        port = s.server_address[1]
        conn = socket.create_connection(("127.0.0.1", port), timeout=30)
        conn.settimeout(30)
        t0 = _time.monotonic()
        # send NOTHING: a stalled client must be dropped ~at the timeout
        # instead of pinning a handler thread (ReadHeaderTimeout parity)
        assert conn.recv(1) == b""  # server closed the connection
        assert _time.monotonic() - t0 < 10
        conn.close()
    finally:
        assert srv.shutdown_graceful(s)


def test_go_duration_zero_and_signed():
    # ParseDuration accepts the bare-zero form and a leading sign
    assert srv.parse_go_duration("0") == 0.0
    assert srv.parse_go_duration("+0") == 0.0
    assert srv.parse_go_duration("-0") == 0.0
    assert srv.parse_go_duration("-2s") == -2.0
    assert srv.parse_go_duration("+1m30s") == 90.0
    # but a unit is still required for any non-zero value
    for bad in ("00", "5", "-5", "0s0"):
        with pytest.raises(ValueError):
            srv.parse_go_duration(bad)
    # IDX_API_SERVER_TIMEOUT=0 (disable) passes env loading
    opts = srv.server_options_from_env({"IDX_API_SERVER_TIMEOUT": "0"})
    assert opts == {"read_header_timeout_s": 0.0}
    # and a zero timeout builds a server whose handler has NO socket
    # deadline (0 would mean non-blocking in Python)
    s = srv.serve_indexer_api({}, read_header_timeout_s=0.0)
    try:
        assert s.RequestHandlerClass.timeout is None
    finally:
        s.server_close()


def test_shutdown_graceful_waits_for_in_flight_requests():
    """The waitGroup drain (server.go:189-198): a request already being
    handled must complete before server_close, even though handler threads
    are daemons (the stock _threads registry skips daemons entirely, which
    made the old join loop vacuous)."""
    import socket
    import time as _time

    release = threading.Event()
    entered = threading.Event()

    class SlowHandler(srv._JsonHandler):
        def do_GET(self):  # noqa: N802
            entered.set()
            release.wait(10)
            self._reply(200, {"ok": True})

    server = srv.TrackedThreadingHTTPServer(("127.0.0.1", 0), SlowHandler)
    srv.start_background(server)
    port = server.server_address[1]
    conn = socket.create_connection(("127.0.0.1", port), timeout=30)
    conn.sendall(b"GET /x HTTP/1.1\r\nHost: h\r\nConnection: close\r\n\r\n")
    assert entered.wait(10)
    # release the handler shortly after shutdown starts draining
    t = threading.Timer(0.3, release.set)
    t.start()
    t0 = _time.monotonic()
    assert srv.shutdown_graceful(server, budget_s=10.0)  # True = drained
    waited = _time.monotonic() - t0
    assert waited >= 0.25  # it actually waited for the in-flight request
    resp = conn.recv(65536)
    assert b"200" in resp and b'"ok"' in resp
    conn.close()


def test_shutdown_graceful_reports_overrun():
    """A handler that outlives the budget yields drained=False — the case
    where the reference logs fatal (server.go:196-198)."""
    import socket

    release = threading.Event()
    entered = threading.Event()

    class StuckHandler(srv._JsonHandler):
        def do_GET(self):  # noqa: N802
            entered.set()
            release.wait(30)

    server = srv.TrackedThreadingHTTPServer(("127.0.0.1", 0), StuckHandler)
    srv.start_background(server)
    port = server.server_address[1]
    conn = socket.create_connection(("127.0.0.1", port), timeout=30)
    conn.sendall(b"GET /x HTTP/1.1\r\nHost: h\r\n\r\n")
    assert entered.wait(10)
    try:
        assert srv.shutdown_graceful(server, budget_s=0.2) is False
    finally:
        release.set()
        conn.close()


def test_slow_body_not_dropped_by_header_timeout():
    """A client that sends headers promptly but trickles the POST body
    past the read-header timeout must still get its request served — Go's
    ReadHeaderTimeout only bounds header reading (ADVICE r5)."""
    import re
    import socket
    import time as _time

    s = srv.serve_indexer_api({}, read_header_timeout_s=0.5)
    srv.start_background(s)
    try:
        port = s.server_address[1]
        conn = socket.create_connection(("127.0.0.1", port), timeout=30)
        body = b'{"ids": []}'
        conn.sendall(
            b"POST /all/none HTTP/1.1\r\nHost: h\r\nContent-Type: application/json\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
        )
        _time.sleep(1.2)  # stall mid-body, past the 0.5 s header timeout
        conn.sendall(body)
        # _reply writes the header block and the body in separate sends, so
        # one recv may return only the headers: read until Content-Length
        # body bytes have arrived
        resp = b""
        while True:
            chunk = conn.recv(65536)
            if not chunk:
                break
            resp += chunk
            head, sep, rest = resp.partition(b"\r\n\r\n")
            length = re.search(rb"Content-Length: (\d+)", head)
            if sep and length and len(rest) >= int(length.group(1)):
                break
        # reaches the handler (unknown collection -> 400 envelope), not a
        # silent connection drop
        assert b"400" in resp and srv.ON_BAD_REQUEST.encode() in resp
        conn.close()
    finally:
        assert srv.shutdown_graceful(s)


def test_resubmit_unknown_ids_is_400_and_partial_is_206(resub_server):
    """starting = REQUESTED id count (resubmitter_job.go:142), so nothing
    published -> 400, and a partially-found id set -> 206 — previously the
    found-count stood in for starting and both cases returned 200."""
    port, _ = resub_server
    status, body = _req(
        port, "/resubmit/messages?topic=t4", body={"ids": ["nope-1", "nope-2"]}
    )
    assert status == 400
    assert body["summary"]["starting"] == 2 and body["summary"]["published"] == 0
    status, body = _req(
        port, "/resubmit/messages?topic=t4", body={"ids": ["b1_m000000085", "nope-1"]}
    )
    assert status == 206 and body["msg"] == srv.RESUBMIT_PARTIAL
    assert body["summary"]["starting"] == 2 and body["summary"]["published"] == 1


def test_resubmit_non_dict_body_is_400_not_dropped_socket(resub_server):
    port, _ = resub_server
    status, body = _req(port, "/resubmit/messages?topic=t5", body=[1, 2])
    assert status == 400 and "JSON object" in body["error"]


def test_resubmit_engine_failure_is_500_envelope(resub_server, monkeypatch):
    """An engine exception inside resubmit() must come back as an HTTP 500
    envelope (handler.go OnFailureMessage), not a dropped connection."""
    port, _ = resub_server

    def boom(*a, **k):
        raise RuntimeError("simulated engine failure")

    monkeypatch.setattr(srv.FileResubmitter, "resubmit", boom)
    status, body = _req(port, "/resubmit/messages?topic=t6", body={"ids": ["x"]})
    assert status == 500 and body["msg"] == srv.RESUBMIT_FAILURE
    assert "simulated engine failure" in body["error"]


def test_resubmit_file_sink_preserves_per_key_order(spark, resub_server, ingested):
    """R7 on the HTTP path: the topic sink carries publish_seq and each
    ordering key's rows land in ascending publish order within a file."""
    port, out_root = resub_server
    status, _ = _req(port, "/range/messages?topic=t7", body={"broker_id": "b1"})
    assert status == 200
    from pyspark.sql import functions as F

    rows = spark.read.parquet(f"{out_root}/t7")
    assert "publish_seq" in rows.columns
    # physical row order within each file is ascending publish_seq per key
    import pandas as pd  # noqa: F401

    pdf = rows.select(
        "ordering_key", "publish_seq", F.monotonically_increasing_id().alias("pos")
    ).toPandas()
    bad = 0
    for _, g in pdf.dropna(subset=["ordering_key"]).groupby("ordering_key"):
        s = g.sort_values("pos")["publish_seq"].tolist()
        if s != sorted(s):
            bad += 1
    assert bad == 0
