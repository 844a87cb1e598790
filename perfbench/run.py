"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|serve|replay --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Each run builds its inputs from the seed
in a fresh working directory under `.perfbench_work/`, sets up and warms up
untimed, measures for at least S seconds and the workload's minimum number
of operations (and until they support a tail percentile), checks every
result against the generator's ground truth, and prints a host record,
every metric by name and unit, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}.  `--trace 0` reports the
end-to-end metrics of BENCHMARK.json; `--trace 1` reports its per-layer
metrics, from a run whose operations alternate untraced and traced blocks,
and writes the spans to `.perfbench_out/`.  The exit code is 0 only when
every check passed.

BENCHMARK.json runs `ingest` and `replay`.  `serve` runs the same way by
hand; the two-workload set leaves room within the benchmark's total time
limit for windows long enough to be steady on a shared 4-core host.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 170  # the whole run, set-up included, must end within 180 s
# Spark task threads.  A 5000-message ingest micro-batch runs no faster on
# 4 than on 2 (1.75 vs 1.71 s on a 4-core Xeon VM), and with 2 the JVM's
# GC and compiler threads do not compete with the tasks for cores.
SPARK_CORES = 2


def _parse(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=["ingest", "serve", "replay"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _session(ctx, trace: bool):
    from persistor_spark import session

    for d in ("spark-local", "warehouse", "tmp", "eventlog"):
        os.makedirs(ctx.path(d), exist_ok=True)
    conf = {
        "spark.local.dir": ctx.path("spark-local"),
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.path("eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    t = time.perf_counter()
    spark = session.build_session("perfbench", master=f"local[{ctx.cores}]", extra_conf=conf)
    ctx.session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — do not leave the JVM behind
            proc.kill()
            proc.wait()


def _watchdog() -> None:
    """Kill the JVM and exit non-zero if the run overstays its deadline."""

    def fire():
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is not None:
            proc.kill()
            proc.wait()
        print(f"run exceeded {DEADLINE_S} s", file=sys.stderr, flush=True)
        os._exit(3)

    t = threading.Timer(DEADLINE_S, fire)
    t.daemon = True
    t.start()


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import persistor_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the system under test: {exc}", file=sys.stderr)
        return 2
    from perfbench import host, metrics, trace, workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    nproc = len(os.sched_getaffinity(0))
    tracer = trace.Tracer() if args.trace else None
    ctx = workloads.Context(work, args.seed, args.seconds, tracer, min(SPARK_CORES, nproc))
    _watchdog()
    spark = None
    try:
        if tracer is not None:
            trace.install(tracer)
        with tracer.request(None, True) if tracer else contextlib.nullcontext():
            spark = ctx.spark = _session(ctx, bool(tracer))
        res = workloads.WORKLOADS[args.workload](ctx)
        rss = host.peak_rss_mb()
        _stop_jvm(spark)
        spark = None
        if tracer is None:
            values = metrics.end_to_end(res)
        else:
            tracer.uninstall()
            folded = trace.fold_event_log(ctx.path("eventlog"), ctx.path("built", "blobs"))
            values = metrics.per_layer(args.workload, res, tracer.finished(), folded, ctx.session_s, rss)
            out = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-s{args.seed}.json")
            tracer.write(out)
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for op in res.ops if not op.ok)
    correct = failed == 0 and not res.problems
    cpu = res.cpu
    print(
        f"host: nproc={nproc} busy_frac={cpu['busy_frac']:.3f} "
        f"steal_frac={cpu['steal_frac']:.3f} canary_ms={cpu['canary_ms']:.2f} "
        f"peak_rss_mb={rss:.1f} window_s={res.window_s:.2f}"
    )
    for line in metrics.describe(res, values):
        print(line)
    for p in res.problems:
        print(f"check failed: {p}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(res.ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
