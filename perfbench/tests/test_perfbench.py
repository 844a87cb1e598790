"""Tests of the benchmark's own parts; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
from datetime import datetime

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, metrics, stats, trace  # noqa: E402

# -- generator ----------------------------------------------------------------


def generate_files(seed, out_dir, n_files):
    os.makedirs(out_dir, exist_ok=True)
    g = gen.Generator(seed)
    for k in range(n_files):
        g.next_file(os.path.join(out_dir, f"part-{k:05d}.parquet"))
    return g


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a = generate_files(5, str(tmp_path / "a"), 3)
    b = generate_files(5, str(tmp_path / "b"), 3)
    c = generate_files(6, str(tmp_path / "c"), 3)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert gen.serve_requests(a, 200) == gen.serve_requests(b, 200)
    assert gen.replay_requests(a, 50) == gen.replay_requests(b, 50)
    assert gen.serve_requests(a, 200) != gen.serve_requests(c, 200)
    # the sidecar is part of the generated input
    gen.write_truth(str(tmp_path / "ta.json"), serve=gen.serve_requests(a, 50))
    gen.write_truth(str(tmp_path / "tb.json"), serve=gen.serve_requests(b, 50))
    assert open(tmp_path / "ta.json").read() == open(tmp_path / "tb.json").read()


def test_generator_writes_only_its_files(tmp_path):
    generate_files(1, str(tmp_path / "g"), 2)
    assert sorted(os.listdir(tmp_path / "g")) == ["part-00000.parquet", "part-00001.parquet"]


def test_generated_messages_have_the_fixture_shape(tmp_path):
    g = generate_files(2, str(tmp_path), 4)
    t = pq.read_table(str(tmp_path / "part-00003.parquet")).to_pylist()
    assert len(t) == gen.FILE_ROWS
    assert {r["broker_id"] for r in t} == set(gen.BROKERS)

    def share(col):
        return sum(r[col] is None for r in t) / len(t)

    assert 0.25 < share("ordering_key") < 0.35
    assert 0.35 < share("business_source_key") < 0.45
    assert 0.15 < share("attr_version") < 0.25
    assert 0.03 < share("publish_time") < 0.07
    sizes = sorted(len(r["payload"]) for r in t)
    assert 850 < sizes[len(sizes) // 2] < 1200
    assert sizes[-1] <= gen.PAYLOAD_MAX + 64
    # redeliveries repeat earlier messages byte for byte
    rec = g.files[3]
    old = set(rec["rows"]) - set(rec["fresh"])
    assert len(old) == round(gen.FILE_ROWS * gen.REDELIVER_FRAC)
    earlier = {
        (r["broker_id"], r["broker_msg_id"]): r
        for f in ("part-00000.parquet", "part-00001.parquet", "part-00002.parquet")
        for r in pq.read_table(str(tmp_path / f)).to_pylist()
    }
    again = [r for r in t if (r["broker_id"], r["broker_msg_id"]) in earlier]
    assert len(again) == len(old)
    assert all(
        {k: v for k, v in r.items() if k != "event_seq"}
        == {k: v for k, v in earlier[(r["broker_id"], r["broker_msg_id"])].items() if k != "event_seq"}
        for r in again
    )


def test_request_truth_matches_the_messages(tmp_path):
    g = generate_files(3, str(tmp_path), 2)
    m = g.msgs
    rng_req = gen.serve_requests(g, 400)
    for req in rng_req:
        if req["route"] == "range":
            lo = datetime.strptime(req["from"], "%Y-%m-%dT%H:%M:%SZ")
            hi = datetime.strptime(req["to"], "%Y-%m-%dT%H:%M:%SZ")
            ids = sorted(
                m.unique_id(i)
                for i in range(len(m))
                if gen.BROKERS[m.broker[i]] == req["broker"]
                and m.publish_time(i) is not None
                and lo <= m.publish_time(i) < hi
            )
            assert req["total_count"] == len(ids) and req["ids_out"] == ids[: gen.PAGE]
    routes = [r["route"] for r in rng_req[:20]]
    assert sorted(routes) == sorted(["exact"] * 8 + ["all"] * 4 + ["range"] * 5 + ["query"] * 3)


# -- percentile rule ------------------------------------------------------------


def test_tail_is_highest_percentile_with_ten_beyond():
    assert stats.tail(list(range(1, 101))) == (90.0, 90.0, 100)
    assert stats.tail(list(range(1, 12))) == (1.0, 100.0 / 11, 11)
    with pytest.raises(ValueError):
        stats.tail(list(range(10)))
    assert stats.has_tail(list(range(11))) and not stats.has_tail(list(range(10)))
    # a tie at the minimum leaves only nine samples beyond any candidate
    assert not stats.has_tail([1, 1] + list(range(2, 11)))


def test_tail_skips_ties_and_counts_failures_beyond():
    # 5 ones and 20 twos: no two has ten samples beyond it
    assert stats.tail([1] * 5 + [2] * 20) == (1.0, 20.0, 25)
    # failed ops are infinitely slow and sit beyond every success
    value, pct, n = stats.tail([5.0] * 20 + [math.inf] * 10)
    assert value == 5.0 and n == 30 and pct == pytest.approx(200 / 3)


# -- result checks ----------------------------------------------------------------


def _ingest_case():
    files = [["a", "b", "c"], ["d", "a"]]  # "a" is redelivered in file 1
    index = [("a", "L1", 1), ("b", "L1", 2), ("c", "L2", None), ("d", "L3", 1)]
    blobs = [("L1", 1, "a"), ("L1", 2, "b"), ("L2", 1, "c"), ("L3", 1, "d"), ("L3", 2, "a")]
    return files, index, blobs


def test_ingest_check_passes_consistent_output():
    assert checks.check_ingest(*_ingest_case()) == ([], [])


@pytest.mark.parametrize(
    "plant, bad_file",
    [
        (lambda i, b: (i[1:], b), 0),  # dropped index row
        (lambda i, b: (i + [i[1]], b), 0),  # duplicated index row
        (lambda i, b: (i, [("L1", 1, "x")] + b[1:]), 0),  # wrong record at a position
        (lambda i, b: (i, b[:3] + b[4:]), 1),  # blob record missing
        (lambda i, b: (i, b + [("L2", 2, "c")]), 0),  # single-record blob holds two
    ],
)
def test_ingest_check_fails_planted_mismatch(plant, bad_file):
    files, index, blobs = _ingest_case()
    bad, problems = checks.check_ingest(files, *plant(index, blobs))
    assert bad_file in bad and problems


def test_ingest_check_flags_rows_for_unsent_messages():
    files, index, blobs = _ingest_case()
    bad, problems = checks.check_ingest(files, index + [("z", "L9", None)], blobs + [("L9", 1, "z")])
    assert bad == [] and problems


def test_serve_check():
    ok_range = {"route": "range", "status": 200, "total_count": 3, "ids_out": ["a", "b", "c"]}
    body = {"total_count": 3, "returned_count": 3, "messages": [{"unique_id": u} for u in "abc"]}
    assert checks.check_serve(ok_range, 200, body)
    assert not checks.check_serve(ok_range, 400, body)
    assert not checks.check_serve(ok_range, 200, {**body, "total_count": 4})
    assert not checks.check_serve(ok_range, 200, {**body, "messages": body["messages"][:2]})
    all_req = {"route": "all", "status": 200, "ids_out": ["a", "b"]}
    assert checks.check_serve(all_req, 200, [{"unique_id": "b"}, {"unique_id": "a"}])
    assert not checks.check_serve(all_req, 200, [{"unique_id": "a"}])
    exact = {"route": "exact", "id": "a", "status": 200, "expect": {"ordering_key": "k1"}}
    assert checks.check_serve(exact, 200, {"unique_id": "a", "ordering_key": "k1"})
    assert not checks.check_serve(exact, 200, {"unique_id": "a", "ordering_key": None})
    unknown = {"route": "exact", "id": "zz", "status": 400}
    assert checks.check_serve(unknown, 400, {"error": "no document"})
    assert not checks.check_serve(unknown, 200, {"unique_id": "zz"})


def test_replay_check():
    req = {"status": 200, "published": 2, "sample": ["a", "b"]}
    truth = {"a": "pa", "b": "pb"}
    body = {"summary": {"published": 2}}
    assert checks.check_replay(req, 200, body, {"a": "pa", "b": "pb"}, truth)
    assert not checks.check_replay(req, 206, body, {"a": "pa", "b": "pb"}, truth)
    assert not checks.check_replay(req, 200, {"summary": {"published": 1}}, {"a": "pa", "b": "pb"}, truth)
    assert not checks.check_replay(req, 200, body, {"a": "pa", "b": "tampered"}, truth)
    assert not checks.check_replay(req, 200, body, {"a": "pa"}, truth)


# -- tracing ------------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    t = trace.Tracer()
    t.spans = [
        {"id": 1, "name": "server.exact", "start": 0.0, "end": 1.0, "parent": None, "rid": "7"},
        {"id": 2, "name": "query.get", "start": 0.1, "end": 0.4, "parent": 1, "rid": "7"},
        {"id": 3, "name": "query.count", "start": 0.3, "end": 0.5, "parent": 1, "rid": "7"},
    ]
    done = {s["id"]: s for s in t.finished()}
    assert done[1]["ms"] == pytest.approx(1000.0)
    assert done[1]["self_ms"] == pytest.approx(600.0)
    assert done[2]["self_ms"] == pytest.approx(300.0)


def test_span_records_only_when_enabled():
    t = trace.Tracer()
    with t.span("ingest.run_batch") as attrs:
        assert attrs is None
    with t.request("3", True), t.span("query.get") as attrs:
        assert attrs == {}
    assert [(s["name"], s["rid"]) for s in t.spans] == [("query.get", "3")]


def test_event_log_folds_per_layer(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.job.description": "perfbench span=resubmit.request id=4"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Properties": {}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "Project", "simpleString": "", "metrics": [], "children": [
             {"nodeName": "Scan parquet ", "simpleString": "FileScan parquet [..] file:/w/built/blobs",
              "metrics": [{"name": "number of output rows", "accumulatorId": 42}], "children": []}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"ID": 42, "Update": "120"}]},
         "Task Metrics": {"Executor Run Time": 30, "Executor CPU Time": 20_000_000, "JVM GC Time": 2,
                          "Disk Bytes Spilled": 0, "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Output Metrics": {"Bytes Written": 128}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 999}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = trace.fold_event_log(str(tmp_path), "/w/built/blobs")
    r = out["layers"]["resubmit"]
    assert (r["jobs"], r["tasks"], r["run_ms"], r["cpu_ms"], r["gc_ms"]) == (1, 1, 30, 20.0, 2)
    assert (r["shuffle_bytes"], r["output_bytes"]) == (64, 128)
    assert out["blob_rows_scanned"] == 120
    assert all(out["layers"][k]["run_ms"] == 0 for k in ("ingest", "query", "server"))


# -- the benchmark's declared contract -------------------------------------------------


def test_benchmark_json_declares_the_metrics_the_runs_print():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "replay"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER


def test_run_fails_without_the_system_under_test(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
