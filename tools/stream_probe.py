#!/usr/bin/env python
"""Streaming-family scale probe (promoted to a tool in r11, the
driver_sim precedent: the r9 10M / r10 30M / r11 30M streaming probes
were ad-hoc scripts, and the streaming frontier has produced the two
biggest scale finds of the project — the HDFSBackedStateStore heap
OOM and the data-proportional memory-sink OOM — so the harness that
found them should be re-runnable verbatim every round).

Builds a SINGLE-FILE events corpus (the single-micro-batch replay
premise that the upsert/alert oracles require — replay.py's
assert_single_file_replay) and runs the full streaming family against
it, memory sinks for bounded-output streams and parquet sinks for the
data-proportional ones (the r11 rule: EMA/Holt/Kalman/CUSUM/sessions/
enrich emit O(input) rows and must never cross a collecting sink at
probe scale). One arm per stream: the per-user-vs-bucketed and
pandas-state-vs-native A/Bs are closed, their answers recorded in
docs/scale.md (r14/r15).

    python tools/stream_probe.py [rows] [users] [--only name1,name2]
    # default 60_000_000 rows, rows//1000 users (the ts-probe series
    # convention: constant 1000 events/series as rows scale);
    # --only reruns a subset against an existing corpus (solo timings,
    # partial-run resume)
    python tools/stream_probe.py [rows] --sliced 64 [--only ...]
    # r13, VERDICT r12 item 5: PRODUCTION POSTURE — replay the
    # time-sliced mtime-ordered corpus one slice per micro-batch
    # (SPARK_GRAFT_REPLAY_GLOB=slice_*.parquet), so watermarks
    # actually advance and state stays bounded; peak state rows/mem/
    # SST are harvested per probe via a StreamingQueryListener.
    # upsert_merge/alert_burst are excluded (their oracles assert the
    # single-file premise).

Internal evidence only — correctness always runs on driver fixtures.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def build_single_file_events(spark, path: str, rows: int, users: int) -> None:
    """scale_probe.build, then compact to ONE regular parquet file at
    <path>/events.parquet (Spark writes directories; the replay
    premise needs a file, so the lone part file is moved into place).
    A single parquet file still scans in parallel — the batch behind
    the one trigger splits by row group."""
    from tools.scale_probe import build

    staging = f"{path}/_staging"
    build(spark, staging, rows, users)
    compact_dir = f"{path}/_compact"
    spark.read.parquet(f"{staging}/events.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(compact_dir)
    parts = [p for p in Path(compact_dir).glob("part-*.parquet")]
    assert len(parts) == 1, f"expected one part file, got {parts}"
    Path(path).mkdir(parents=True, exist_ok=True)
    shutil.move(str(parts[0]), f"{path}/events.parquet")
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(compact_dir, ignore_errors=True)


class _PeakStateListener:
    """StreamingQueryListener that folds every progress event into
    peak state-operator metrics; ``snap()`` reads and resets them.
    Registered once per session (re-registered after restart())."""

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.peak_rows = 0
        self.peak_mem = 0
        self.peak_sst = 0
        self.batches = 0

    def snap(self) -> dict:
        return {
            "batches": self.batches,
            "peak_state_rows": self.peak_rows,
            "peak_state_mem_mb": round(self.peak_mem / 2**20, 1),
            "peak_sst_mb": round(self.peak_sst / 2**20, 1),
        }

    def make(self):
        import json as _json

        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = _json.loads(event.progress.json)
                outer.batches += 1
                for op in p.get("stateOperators", []) or []:
                    outer.peak_rows = max(
                        outer.peak_rows, op.get("numRowsTotal", 0) or 0
                    )
                    outer.peak_mem = max(
                        outer.peak_mem, op.get("memoryUsedBytes", 0) or 0
                    )
                    cm = op.get("customMetrics", {}) or {}
                    outer.peak_sst = max(
                        outer.peak_sst, cm.get("rocksdbSstFileSize", 0) or 0
                    )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return _L()


def main() -> int:
    import os

    only = None
    sliced = None
    argv = sys.argv[1:]
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2 :]
    if "--sliced" in argv:
        i = argv.index("--sliced")
        sliced = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    rows = int(argv[0]) if argv else 60_000_000
    users = int(argv[1]) if len(argv) > 1 else max(1000, rows // 1000)

    from chrono_ts_spark.queries import load_all
    from chrono_ts_spark.session import get_spark

    path = f"/tmp/probe_stream_{rows}"
    spark = get_spark("stream-probe")
    if not Path(f"{path}/events.parquet").is_file():
        t0 = time.time()
        build_single_file_events(spark, path, rows, users)
        print(f"  built {path} in {time.time() - t0:.1f}s", file=sys.stderr)
    if sliced is not None:
        from tools.ss_join_state_probe import build_sliced_events

        sliced_path = f"/tmp/probe_stream_sliced_{rows}_{sliced}"
        if not list(Path(sliced_path).glob("slice_*.parquet")):
            t0 = time.time()
            build_sliced_events(spark, f"{path}/events.parquet", sliced_path, sliced)
            print(
                f"  sliced into {sliced_path} in {time.time() - t0:.1f}s",
                file=sys.stderr,
            )
        os.environ["SPARK_GRAFT_REPLAY_GLOB"] = "slice_*.parquet"
        path = sliced_path

    from chrono_ts_spark.streaming.replay import (
        run_m4_stream,
        run_sessionized_stream,
        run_stateful_dedup_stream,
        run_stream_static_enrich,
        run_tumbling_counts_stream,
    )
    from chrono_ts_spark.streaming.stateful import (
        run_cusum_stream,
        run_ema_stream,
        run_holt_stream,
        run_kalman_stream,
        run_running_extrema_stream,
        run_sliding_counts_stream,
        run_stream_stream_join,
        run_stream_stream_join_left,
    )

    reg = load_all()

    def sink(fn):
        """Wrap a sink_dir runner: fresh parquet sink, removed after count."""

        def go(spark, sf):
            d = tempfile.mkdtemp(prefix="chrono_stream_probe_sink_")
            try:
                return fn(spark, sf, sink_dir=d).count()
            finally:
                shutil.rmtree(d, ignore_errors=True)

        return go

    probes: list[tuple[str, object]] = [
        # bounded-output streams -> memory sink (the registry shape)
        ("bucket_counts", lambda s, sf: run_tumbling_counts_stream(s, sf).count()),
        ("m4", lambda s, sf: run_m4_stream(s, sf).count()),
        ("dedup_counts", lambda s, sf: run_stateful_dedup_stream(s, sf).count()),
        ("sliding", lambda s, sf: run_sliding_counts_stream(s, sf).count()),
        ("running_extrema", lambda s, sf: run_running_extrema_stream(s, sf).count()),
        # the serving tier + the pipeline on top of it
        ("upsert_merge", lambda s, sf: reg["stream_upsert_counts"].fn(s, sf).count()),
        ("alert_burst", lambda s, sf: reg["stream_alert_burst"].fn(s, sf).count()),
        # two-sided state; LEFT emits >=1 row per purchase (O(input) —
        # the 60M memory-sink OOM find), so both ride the parquet sink
        ("ss_join", sink(run_stream_stream_join)),
        ("ss_join_left", sink(run_stream_stream_join_left)),
        # data-proportional output -> production parquet sink
        ("sessions_parquet", sink(run_sessionized_stream)),
        ("enrich_parquet", sink(run_stream_static_enrich)),
        ("ema_parquet", sink(run_ema_stream)),
        ("holt_parquet", sink(run_holt_stream)),
        ("kalman_parquet", sink(run_kalman_stream)),
        # one row per input event (found by this harness's smoke run)
        ("cusum_parquet", sink(run_cusum_stream)),
    ]

    def restart(hard: bool = False):
        """Fresh session; ``hard`` additionally discards the JVM.

        After an executor-thread OOM in local mode the JVM is wedged:
        spark.stop() does not fully clear the dying context, and the
        next SparkContext constructor fails assertNoOtherContextIsRunning
        (observed on the first 60M run — the error handler itself then
        died and the harness lost the remaining probes). The only
        reliable recovery is a brand-new gateway JVM, which PySpark
        allows once the module-level gateway globals are cleared."""
        nonlocal spark
        try:
            spark.stop()
        except Exception:
            pass
        if hard:
            import os

            from pyspark import SparkContext
            from pyspark.sql import SparkSession as _SS

            try:
                if SparkContext._gateway is not None:
                    SparkContext._gateway.shutdown()
            except Exception:
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
            with SparkContext._lock:
                SparkContext._active_spark_context = None
            _SS._instantiatedSession = None
            _SS._activeSession = None
            os.environ.pop("PYSPARK_GATEWAY_PORT", None)
            os.environ.pop("PYSPARK_GATEWAY_SECRET", None)
        spark = get_spark("stream-probe")

    if sliced is not None:
        # single-file oracle premise (assert_single_file_replay) — the
        # serving-tier pair cannot run in multi-batch posture
        probes = [
            (n, f) for n, f in probes if n not in ("upsert_merge", "alert_burst")
        ]
    if only is not None:
        probes = [(n, f) for n, f in probes if n in only]

    collector = _PeakStateListener()
    listener = collector.make()
    spark.streams.addListener(listener)

    results: dict[str, object] = {}
    for i, (name, fn) in enumerate(probes):
        if i and i % 5 == 0:
            restart()  # heavy stateful streams: bound heap/RocksDB carryover
            listener = collector.make()
            spark.streams.addListener(listener)
        collector.reset()
        t0 = time.time()
        try:
            n = fn(spark, path)
            time.sleep(1.0)  # listener thread drains trailing progress events
            results[name] = {
                "sec": round(time.time() - t0, 1),
                "rows": n,
                **collector.snap(),
            }
            print(f"  {name}: {results[name]}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — probe harness records and moves on
            results[name] = f"ERROR {type(e).__name__}: {str(e)[:300]}"
            print(f"  {name}: {results[name]}", file=sys.stderr)
            restart(hard=True)
            listener = collector.make()
            spark.streams.addListener(listener)
    print(json.dumps({
        "rows": rows, "users": users, "sliced": sliced, "queries": results,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
