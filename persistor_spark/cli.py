"""CLI surface — the engine's analogue of the reference's service entry
points (persistor/cmd/*, indexer-api/lib/server.go, resubmitter handler):

    python -m persistor_spark ingest  --source <parquet dir> --out <dir> [--stream]
    python -m persistor_spark query   --index <dir> get <unique_id>
    python -m persistor_spark query   --index <dir> interval <from> <to> <broker> [--limit N --offset N]
    python -m persistor_spark query   --index <dir> filter '<json filters>' [--limit N --offset N]
    python -m persistor_spark resubmit --index <dir> --blobs <dir> --out <dir> [--filters '<json>']
    python -m persistor_spark serve    --index <dir> [--blobs <dir> --out <dir>] [--port N --resubmit-port N]
    python -m persistor_spark analyze  <op|list> [--sf-dir <dir> --limit N]

`serve` runs the REST layer itself (persistor_spark.server): the Indexer
API's four endpoints on --port, and — when --blobs/--out are given — the
Resubmitter API's three on --resubmit-port (same endpoints, same envelope,
same 200/206/400 rules as the reference handlers).  The Indexer API reads
the reference's startup environment (server.go:82-108):
IDX_API_SERVER_ADDRESS (`host:port`, used when --port is not given;
default 127.0.0.1:8080), IDX_API_USE_TLS (with CERTS) and
IDX_API_SERVER_TIMEOUT.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
from datetime import datetime, timezone

from persistor_spark.config import IngestConfig
from persistor_spark.functions.timestamps import parse_query_wire
from persistor_spark.session import build_session


def _emit(obj) -> None:
    print(json.dumps(obj, default=str))


def _ingest_instant() -> datetime:
    """The one instant a batch `ingest` run is clocked at."""
    return datetime.now(timezone.utc)


def cmd_ingest(args) -> int:
    from pyspark.sql import functions as F

    from persistor_spark.plans import ingest
    from persistor_spark.schemas import MESSAGE_SCHEMA
    from persistor_spark.streaming import ingest_stream

    spark = build_session("persistor-ingest")
    cfg = IngestConfig(clock_column=args.clock_column or None)
    sinks = ingest_stream.StreamSinks(
        blob_path=f"{args.out}/blobs",
        index_path=f"{args.out}/index",
        deadletter_path=f"{args.out}/deadletter",
        checkpoint_path=f"{args.out}/_checkpoint",
    )
    if args.stream:
        stream = ingest_stream.file_stream(spark, args.source)
        q, metrics = ingest_stream.run_stream(stream, cfg, sinks)
        q.awaitTermination()
        _emit({"batches": metrics.batches, "indexed": metrics.indexed,
               "dead_lettered": metrics.dead_lettered})
    else:
        messages = spark.read.schema(MESSAGE_SCHEMA).parquet(args.source)
        # T7 required-field validation, batch analogue: a source that isn't
        # messages-schema parquet reads as all-NULL columns (parquet
        # missing-column semantics) and would silently ingest garbage
        if messages.filter(
            F.col("broker_id").isNull() | F.col("broker_msg_id").isNull()
        ).limit(1).count():
            _emit({
                "error": "source rows missing required broker_id/broker_msg_id "
                "— is --source a messages-schema parquet directory?"
            })
            return 2
        # the blob and index writes are separate actions, and each would
        # read its own current_timestamp(): pin one instant, or a run that
        # crosses midnight files index rows under another day than their
        # blobs
        messages, batch_cfg = ingest.pin_clock(messages, cfg, F.lit(_ingest_instant()))
        result = ingest.run_batch(messages, batch_cfg)
        ingest.write_blobs(result, sinks.blob_path, fmt=args.blob_format)
        ingest.write_index(result, sinks.index_path)
        result.deadletter.write.mode("append").parquet(sinks.deadletter_path)
        if args.blob_format == "ocf":
            from persistor_spark.formats import ocf_io

            blob_rows = ocf_io.read_blob_records_ocf(
                spark, sinks.blob_path, cfg.storage.base_url
            ).count()
        else:
            # read back with the format write_blobs actually RESOLVED —
            # with spark-avro on the classpath, --blob-format avro writes
            # avro files and a hard-coded parquet read would fail
            fmt = ingest.resolve_blob_format(spark, args.blob_format)
            blob_rows = spark.read.format(fmt).load(sinks.blob_path).count()
        _emit({
            "indexed": spark.read.parquet(sinks.index_path).count(),
            "blob_rows": blob_rows,
        })
    return 0


def cmd_query(args) -> int:
    from persistor_spark.functions.filters import InvalidQueryKeys, InvalidTimestamp
    from persistor_spark.plans.query import IndexQuery

    spark = build_session("persistor-query")
    # finish any delete_by_key swap that crashed mid-flight BEFORE serving
    # rows — otherwise the stale layout answers with duplicated rows
    from persistor_spark.plans import maintenance

    maintenance.recover_pending_deletes(spark, args.index)
    iq = IndexQuery(spark.read.parquet(args.index), cache_counts=True)
    try:
        return _run_query_op(args, iq)
    except (InvalidQueryKeys, InvalidTimestamp, ValueError) as exc:
        # the Indexer API's 400-response analogue (handler.go:122-177)
        _emit({"error": str(exc)})
        return 2


def _run_query_op(args, iq) -> int:
    if args.op == "get":
        rows = [r.asDict() for r in iq.get(args.args[0]).collect()]
        _emit(rows)
    elif args.op == "get_all":
        rows = [r.asDict() for r in iq.get_all(args.args).collect()]
        _emit(rows)
    elif args.op == "interval":
        t_from, t_to, broker = args.args[:3]
        res = iq.get_interval(
            parse_query_wire(t_from).replace(tzinfo=None),
            parse_query_wire(t_to).replace(tzinfo=None),
            broker,
            limit=args.limit,
            offset=args.offset,
        )
        _emit({
            "total_count": res.total_count,
            "returned_count": res.returned_count,
            "limit": res.limit,
            "offset": res.offset,
            "messages": [r.asDict() for r in res.messages.collect()],
        })
    elif args.op == "filter":
        filters = json.loads(args.args[0])
        res = iq.query(filters, limit=args.limit, offset=args.offset)
        _emit({
            "total_count": res.total_count,
            "returned_count": res.returned_count,
            "limit": res.limit,
            "offset": res.offset,
            "messages": [r.asDict() for r in res.messages.collect()],
        })
    else:
        print(f"unknown query op {args.op}", file=sys.stderr)
        return 2
    return 0


def cmd_resubmit(args) -> int:
    from persistor_spark.plans import resubmit
    from persistor_spark.plans.ingest import resolve_blob_format
    from persistor_spark.plans.query import IndexQuery
    from persistor_spark.sources import blobs as blob_src

    spark = build_session("persistor-resubmit")
    iq = IndexQuery(spark.read.parquet(args.index))
    filters = json.loads(args.filters) if args.filters else [{}]
    meta = iq.query_df(
        filters,
        ["unique_id", "ordering_key", "business_source_key", "business_object_key",
         "index_source_key", "location_key", "location_position"],
    )
    if args.blob_format == "ocf":
        # OCF blobs need the base URL their location_keys were minted with
        # (the index stores full URLs; the reader reconstructs them from
        # relative paths)
        if not args.blob_base_url:
            _emit({"error": "--blob-base-url is required with --blob-format ocf"})
            return 2
        from persistor_spark.formats import ocf_io

        blobs = ocf_io.read_blob_records_ocf(spark, args.blobs, args.blob_base_url)
    else:
        fmt = resolve_blob_format(spark, args.blob_format)
        blobs = blob_src.read_blob_records(spark, args.blobs, fmt=fmt)
    pruned = blob_src.prune_to_locations(blobs, meta)
    records, obs_meta, obs_rec = resubmit.resubmit_observed(meta, pruned)
    records.write.mode("overwrite").parquet(args.out)
    counts = resubmit.LineageCounts(
        starting=obs_meta.get["starting"],
        indexed=obs_meta.get["starting"],
        fetched=obs_rec.get["published"],
        deserialized=obs_rec.get["published"],
        published=obs_rec.get["published"],
    )
    _emit({
        "starting": counts.starting,
        "published": counts.published,
        "http_status": counts.http_status(),
        "out": args.out,
    })
    return 0 if counts.http_status() == 200 else 1


def cmd_serve(args) -> int:
    from persistor_spark import server as srv
    from persistor_spark.plans.query import IndexQuery

    spark = build_session("persistor-serve")
    # startup recovery contract (plans.maintenance): a crash between the
    # delete swap's "new files in" and "originals removed" steps must be
    # resumed before queries see the table, or every affected lookup
    # returns duplicated rows against a stale manifest
    from persistor_spark.plans import maintenance

    maintenance.recover_pending_deletes(spark, args.index)
    indexes = {args.collection: IndexQuery(spark.read.parquet(args.index), cache_counts=True)}
    opts = srv.server_options_from_env()
    if args.port is not None:
        opts["addr"] = ("127.0.0.1", args.port)
    opts.setdefault("addr", ("127.0.0.1", 8080))  # server.go:41 default :8080
    servers = [srv.serve_indexer_api(indexes, **opts)]
    if args.blobs and args.out:
        servers.append(
            srv.serve_resubmitter_api(
                indexes,
                srv.FileResubmitter(spark, args.blobs, args.out),
                addr=("127.0.0.1", args.resubmit_port),
            )
        )
    for s in servers:
        srv.start_background(s)
    _emit({
        "serving": {
            "indexer": servers[0].server_address[1],
            **({"resubmitter": servers[1].server_address[1]} if len(servers) > 1 else {}),
        }
    })
    try:
        threading.Event().wait()  # SIGINT unblocks via KeyboardInterrupt
    except KeyboardInterrupt:
        pass
    finally:
        # graceful drain: in-flight requests finish (server.go:180-198)
        for s in servers:
            s.shutdown()
    return 0


def cmd_analyze(args) -> int:
    """Run a registered analytics/query operator by name against a fixture
    dir and emit its rows (JSON lines) — the ad-hoc entry point for every
    operator the driver contract exposes."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if args.op == "list":
        _emit(sorted(qs))
        return 0
    if args.op not in qs:
        _emit({"error": f"unknown operator {args.op!r}; try 'analyze list'"})
        return 2
    spark = build_session("persistor-analyze")
    try:
        df = qs[args.op](spark, args.sf_dir)
        rows = df.limit(args.limit).collect() if args.limit else df.collect()
        for r in rows:
            _emit(r.asDict(recursive=True))
    finally:
        spark.stop()
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="persistor_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest")
    pi.add_argument("--source", required=True)
    pi.add_argument("--out", required=True)
    pi.add_argument("--stream", action="store_true")
    pi.add_argument("--blob-format", default="avro")
    pi.add_argument("--clock-column", default=None)
    pi.set_defaults(fn=cmd_ingest)

    pq = sub.add_parser("query")
    pq.add_argument("--index", required=True)
    pq.add_argument("op", choices=["get", "get_all", "interval", "filter"])
    pq.add_argument("args", nargs="*")
    pq.add_argument("--limit", type=int, default=None)
    pq.add_argument("--offset", type=int, default=None)
    pq.set_defaults(fn=cmd_query)

    pr = sub.add_parser("resubmit")
    pr.add_argument("--index", required=True)
    pr.add_argument("--blobs", required=True)
    pr.add_argument("--out", required=True)
    pr.add_argument("--filters", default=None)
    # blobs written with `ingest --blob-format ocf` were unresubmittable:
    # the read side hard-coded parquet with no format flag
    pr.add_argument("--blob-format", default="parquet")
    pr.add_argument("--blob-base-url", default=None)
    pr.set_defaults(fn=cmd_resubmit)

    ps = sub.add_parser("serve")
    ps.add_argument("--index", required=True)
    ps.add_argument("--collection", default="messages")
    ps.add_argument("--blobs", default=None)
    ps.add_argument("--out", default=None)
    ps.add_argument("--port", type=int, default=None)
    ps.add_argument("--resubmit-port", type=int, default=8081)
    ps.set_defaults(fn=cmd_serve)

    pa = sub.add_parser("analyze")
    pa.add_argument("op", help="operator name from the driver contract, or 'list'")
    pa.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pa.add_argument("--limit", type=int, default=0, help="0 = all rows")
    pa.set_defaults(fn=cmd_analyze)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
