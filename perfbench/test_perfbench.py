"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

CALLS = [
    {"id": "p0q0", "build": [0.9, 1.2], "action": [1.2, 2.0]},
    {"id": "p0q1", "build": [2.5, 3.5], "action": [3.5, 3.6]},
]


def test_fold_canned_eventlog_gives_exact_layers():
    events = layers.read_eventlog(HERE / "testdata" / "eventlog.jsonl")
    got = layers.fold_eventlog(events, CALLS)
    want = {
        "queries.jobs": 3,  # set-up and check jobs are outside the calls
        "queries.build_jobs": 1,
        "queries.stages": 5,
        "queries.tasks": 7,
        "queries.plan_s": 0.3 + 0.1,  # p0q1's action launched no job
        "queries.driver_result_bytes": 5410,
        "operators.task_s": 1.06,
        "operators.cpu_s": 0.28,
        "operators.gc_s": 0.035,
        "operators.straggler_s": 0.3,  # stage 2: 0.5 s max - 0.2 s median
        "operators.exchanges": 1,
        "operators.shuffle_write_bytes": 10_000,
        "operators.shuffle_records": 100,
        "operators.shuffle_write_s": 0.004,
        "operators.shuffle_read_bytes": 20_000,
        "operators.shuffle_fetch_wait_s": 0.01,
        "operators.spill_mem_bytes": 700,
        "operators.spill_disk_bytes": 300,
        "operators.peak_exec_mem_bytes": 8192,
        "operators.broadcast_bytes": 1024,
        "operators.broadcast_build_s": 0.05,
        "operators.failed_tasks": 1,
        "operators.retried_stages": 1,
        "operators.python_bytes_sent": 800,
        "operators.python_bytes_recv": 300,
        "operators.python_rows_sent": 7,
        "catalog.scan_files": 2,
        "catalog.scan_bytes": 4096,
        "catalog.scan_rows": 1100,
        "catalog.scan_time_s": 0.2,
    }
    assert set(got) == set(want)
    for name, value in want.items():
        assert got[name] == pytest.approx(value), name


def test_fold_progress_sums_phases_and_state():
    progress = [
        {
            "runId": "r1",
            "batchId": 0,
            "timestamp": "2024-01-01T00:00:01.000Z",
            "numInputRows": 100,
            "durationMs": {"triggerExecution": 400, "addBatch": 300, "walCommit": 20},
            "stateOperators": [
                {"numRowsTotal": 10, "numRowsUpdated": 10, "memoryUsedBytes": 500, "commitTimeMs": 7}
            ],
        },
        {
            "runId": "r1",
            "batchId": 1,
            "timestamp": "2024-01-01T00:00:02.000Z",
            "numInputRows": 50,
            "durationMs": {"triggerExecution": 200, "addBatch": 100, "commitOffsets": 30},
            "stateOperators": [
                {"numRowsTotal": 12, "numRowsUpdated": 4, "memoryUsedBytes": 400, "commitTimeMs": 3}
            ],
        },
    ]
    started = {"r1": layers.epoch("2024-01-01T00:00:00.250Z")}
    got = layers.fold_progress(progress, started)
    assert got.pop("batch_s") == [0.4, 0.2]
    assert got == pytest.approx(
        {
            "streaming.batches": 2,
            "streaming.rows_in": 150,
            "streaming.start_s": 0.75,
            "streaming.add_batch_s": 0.4,
            "streaming.query_planning_s": 0.0,
            "streaming.latest_offset_s": 0.0,
            "streaming.get_batch_s": 0.0,
            "streaming.wal_commit_s": 0.02,
            "streaming.commit_s": 0.03,
            "streaming.state_rows_total": 12,  # the last batch's total
            "streaming.state_rows_updated": 14,
            "streaming.state_mem_bytes": 500,
            "streaming.state_commit_s": 0.01,
        }
    )
    assert layers.stream_windows(progress, started)["r1"] == pytest.approx(
        (started["r1"], started["r1"] + 1.75 + 0.2)
    )


def test_self_time_subtracts_union_of_children():
    spans = [
        layers.Span("q", None, "query", 0.0, 10.0),
        layers.Span("b", "q", "build", 0.0, 4.0),
        layers.Span("a", "q", "action", 4.0, 10.0),
        # overlapping jobs under the action, one running past its end
        layers.Span("j1", "a", "job", 5.0, 7.0),
        layers.Span("j2", "a", "job", 6.0, 8.0),
        layers.Span("j3", "a", "job", 9.5, 11.0),
    ]
    selfs = layers.self_times(spans)
    assert selfs["q"] == pytest.approx(0.0)
    assert selfs["b"] == pytest.approx(4.0)
    assert selfs["a"] == pytest.approx(6.0 - 3.0 - 0.5)
    assert selfs["j1"] == pytest.approx(2.0)


def test_alive_drops_ended_and_zombie_processes():
    import subprocess

    proc = subprocess.Popen(["sleep", "30"])
    try:
        assert layers.alive([proc.pid]) == [proc.pid]
        proc.kill()
        deadline = time.time() + 10
        while layers.alive([proc.pid]) and time.time() < deadline:
            time.sleep(0.01)
        assert layers.alive([proc.pid]) == []  # a zombie until reaped
    finally:
        proc.kill()
        proc.wait(timeout=10)
    assert layers.alive([proc.pid]) == []


def test_same_seed_same_digest_other_seed_differs(tmp_path):
    spec = gen.InputSpec(events=2_000, users=7)
    _, a = gen.build(tmp_path / "a", 11, spec)
    _, b = gen.build(tmp_path / "b", 11, spec)
    _, c = gen.build(tmp_path / "c", 12, spec)
    assert a["digest"] == b["digest"]
    assert a["digest"] != c["digest"]
    assert a["tables"] == c["tables"] == {"events": 2_000}


def test_sliced_events_are_ts_ordered_and_complete(tmp_path):
    import pyarrow.parquet as pq

    d, m = gen.build(tmp_path, 3, gen.InputSpec(events=1_000, users=5, slices=4))
    slices = sorted(d.glob("slice_*.parquet"))
    assert len(slices) == 4 and m["tables"]["events"] == 1_000
    prev_max = None
    for p in slices:
        ts = pq.read_table(p)["ts"].to_numpy()
        assert prev_max is None or ts.min() >= prev_max
        prev_max = ts.max()
    mtimes = [p.stat().st_mtime for p in slices]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


def test_stale_or_partial_cache_fails_loudly(tmp_path):
    spec = gen.InputSpec(events=500, users=3)
    d, _ = gen.build(tmp_path, 5, spec)
    (d / "events.parquet").write_bytes(b"not the generated file")
    with pytest.raises(gen.StaleCacheError):
        gen.build(tmp_path, 5, spec)
    # an interrupted build (no manifest) is rebuilt, not served
    (d / "manifest.json").unlink()
    _, m = gen.build(tmp_path, 5, spec)
    assert m["tables"] == {"events": 500}


def test_corrupted_expected_output_counts_as_failure():
    got = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, None]})
    expected = got.iloc[::-1].reset_index(drop=True)  # order-insensitive
    corrupted = expected.assign(v=[None, 0.2, 0.11])
    outcomes = [
        check.verify("q", got, expected),
        check.verify("q", got, corrupted),
        check.verify("q", got, None),  # no oracle: rows-only rule
    ]
    attempted, failed = check.tally(outcomes)
    assert (attempted, failed) == (3, 1)
    assert failed / attempted > 0
    assert outcomes[1][0].startswith("1/3 rows differ")


def test_oracle_frame_matches_spark_side_frame(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"x": [3, 1, 2]}), tmp_path / "t.parquet")
    expected = check.oracle_frame("SELECT x, x * 2 AS y FROM t", {"t": tmp_path / "t.parquet"})
    got = pd.DataFrame({"y": [2, 4, 6], "x": [1, 2, 3]})
    assert check.verify("q", got, expected) == []


def test_metric_names_are_valid_and_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    pattern = re.compile(r"[A-Za-z0-9_.-]+")
    e2e = [m["name"] for m in spec["end_to_end"]]
    per_layer = [m["name"] for m in spec["per_layer"]]
    for name in e2e + per_layer:
        assert pattern.fullmatch(name) and name[0].isalnum() and len(name) <= 64, name
    assert len(set(e2e + per_layer)) == len(e2e + per_layer)
    assert e2e == list(run.END_TO_END)
    assert per_layer == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
