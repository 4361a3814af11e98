#!/usr/bin/env python3
"""Benchmark of chrono_ts_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ts_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates (or reuses) its seeded
inputs under ``.bench_work/``, starts a fresh ``local[<cpus>]`` session,
checks every workload query against its DuckDB oracle on those inputs,
then times passes over the workload's queries, about ``--seconds``
long, in a closed loop with one client: this single thread calls the next query
only after the previous result is complete. It prints one JSON
line last: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (event log on, folded after the run).
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(REPO))

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from gen import InputSpec  # noqa: E402

TS_QUERIES = (
    "ts_bucket_agg",
    "ts_rate",
    "ts_ohlc_daily",
    "ts_topk_users",
    "ts_sessionize",
    "ts_gapfill_locf",
    "ts_asof_join",
    "ts_range_join_counts",
)
STREAM_QUERIES = ("stream_bucket_counts", "stream_ema")


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    inputs: InputSpec
    # Measured time of one pass on a 4-core box. A run times
    # round(seconds / pass_s) whole passes, a count fixed by --seconds:
    # passes keep getting faster as the JIT warms, so a count that
    # depended on their speed would move the reported median.
    pass_s: float
    python: bool  # queries run Python workers
    replay_glob: str | None = None  # SPARK_GRAFT_REPLAY_GLOB for streams


# Why each workload exists: see BENCHMARK.json and perfbench/README.md.
WORKLOADS = {
    "ts_batch": Workload(
        TS_QUERIES,
        InputSpec(events=100_000, users=1_000),
        pass_s=5.0,
        python=False,
    ),
    "stream_ingest": Workload(
        STREAM_QUERIES,
        InputSpec(events=20_000, users=200, slices=2),
        pass_s=13.0,
        python=True,
        replay_glob="slice_*.parquet",
    ),
}
JOB_FLOOR_SAMPLES = 7
RUNS_KEPT = 24  # run directories (records, spans, event logs) kept


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path, eventlog_dir: Path | None) -> None:
    """Keep every file Spark and the package write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    confs = {
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir is not None:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": f"file:{eventlog_dir}",
            }
        )
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'{args} --driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
    )


def setup(wl: Workload, input_dir: Path):
    """Session start, Python worker start, input schema registration.

    Returns the session, the registry and the phase timings. This is
    what ``setup_s`` measures, from a fresh process.
    """
    t0 = time.perf_counter()
    from chrono_ts_spark.catalog import observed_schema
    from chrono_ts_spark.queries import load_all
    from chrono_ts_spark.session import get_spark

    registry = load_all()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    if wl.python:
        # one pandas batch per core: forks the worker pool, imports pandas
        n = spark.sparkContext.defaultParallelism
        spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").write.mode(
            "overwrite"
        ).format("noop").save()
    t2 = time.perf_counter()
    files = sorted(input_dir.glob("*.parquet"))
    slices = [p for p in files if p.name.startswith("slice_")]
    for p in [p for p in files if p not in slices] + slices[:1]:
        observed_schema(spark, str(p))
    t3 = time.perf_counter()
    phases = {
        "session.start_s": t1 - t0,
        "session.pyworker_start_s": t2 - t1,
        "catalog.schema_s": t3 - t2,
        "setup_s": t3 - t0,
    }
    return spark, registry, phases


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Collects every micro-batch progress of the session's streams."""

        def __init__(self):
            self.started: dict[str, float] = {}
            self.terminated: set[str] = set()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.started[str(event.runId)] = layers.epoch(event.timestamp)

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.add(str(event.runId))

        def drain(self, timeout: float = 30.0) -> None:
            """Wait until every started stream has reported termination."""
            end = time.time() + timeout
            while set(self.started) - self.terminated and time.time() < end:
                time.sleep(0.05)

    return Progress()


def run_check(spark, registry, wl: Workload, input_dir: Path) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages) of the output check.

    Every workload query runs once on the run's own inputs and its
    collected output is compared with its DuckDB oracle. This is also
    the untimed warm-up pass: the timed passes that follow run the same
    plans on the same inputs.
    """
    paths = check.table_paths(input_dir)
    outcomes, messages = [], []
    for name in wl.queries:
        spec = registry[name]
        try:
            got = spec.fn(spark, str(input_dir)).toPandas()
            expected = check.oracle_frame(spec.oracle, paths) if spec.oracle else None
            problems = check.verify(name, got, expected)
        except Exception as e:  # a raising query is a failed check
            problems = [f"{type(e).__name__}: {e}"[:500]]
        outcomes.append(problems)
        if problems:
            messages.append(f"{name}: {'; '.join(problems)}")
    return (*check.tally(outcomes), messages)


def timed_passes(spark, registry, wl: Workload, input_dir: Path, n_passes: int):
    """Closed loop, one client: query after query, in whole passes over
    the workload's queries. Each call's id ``p<pass>q<index>`` is its
    job group."""
    sc = spark.sparkContext
    calls, passes, errors = [], [], []
    while len(passes) < n_passes:
        p0 = time.time()
        pass_calls = []
        for name in wl.queries:
            cid = f"p{len(passes)}q{len(pass_calls)}"
            c = {"id": cid, "name": name, "pass": len(passes), "ok": True}
            t0, t1 = time.time(), None
            try:
                sc.setJobGroup(f"{cid}.build", name)
                df = registry[name].fn(spark, str(input_dir))
                t1 = time.time()
                sc.setJobGroup(f"{cid}.action", name)
                df.write.mode("overwrite").format("noop").save()
            except Exception:
                t1 = t1 or time.time()
                c["ok"] = False
                errors.append(f"{name}: {traceback.format_exc(limit=2)[-500:]}")
            t2 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            c.update(build=[t0, t1], action=[t1, t2], s=t2 - t0)
            pass_calls.append(c)
        passes.append({"start": p0, "end": time.time()})
        calls += pass_calls
    return calls, passes, errors


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then its JVM and Python workers, and wait until
    every one of them has ended."""
    from pyspark import SparkContext

    jvms, pys = layers.spark_processes()
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at the end of its input
    gateway.proc.wait(timeout=timeout)
    end = time.time() + timeout
    while layers.alive(jvms + pys):
        if time.time() > end:
            raise RuntimeError(f"Spark processes still running: {layers.alive(jvms + pys)}")
        time.sleep(0.1)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 1]."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    wl = WORKLOADS[args.workload]
    work = REPO / ".bench_work"
    if wl.replay_glob:
        os.environ["SPARK_GRAFT_REPLAY_GLOB"] = wl.replay_glob
    run_dir = work / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir.mkdir(parents=True)
    gen.evict(run_dir.parent, keep=run_dir, n=RUNS_KEPT)
    prepare_env(work, run_dir if args.trace else None)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus(),
        "master": f"local[{cpus()}]",
        "loadavg_start": Path("/proc/loadavg").read_text().split()[:3],
    }
    steal0, ticks0 = layers.cpu_ticks()
    t = time.perf_counter()
    input_dir, manifest = gen.build(work / "inputs", args.seed, wl.inputs)
    record["inputs_s"] = time.perf_counter() - t
    record["input_rows"] = manifest["tables"]
    record["input_digest"] = manifest["digest"]

    spark, registry, phases = setup(wl, input_dir)
    record["spark"] = spark.version
    listener = make_listener()
    spark.streams.addListener(listener)

    t = time.perf_counter()
    chk_attempted, chk_failed, chk_messages = run_check(spark, registry, wl, input_dir)
    record["check_s"] = time.perf_counter() - t
    listener.drain()
    listener.progress.clear()
    listener.started.clear()

    jvms, pys = layers.spark_processes()
    py_cpu0 = layers.cpu_seconds(pys)
    n_passes = max(1, round(args.seconds / wl.pass_s))
    calls, passes, errors = timed_passes(spark, registry, wl, input_dir, n_passes)
    jvms, pys = layers.spark_processes()
    py_cpu = layers.cpu_seconds(pys) - py_cpu0
    rss_mb, py_rss_mb = layers.peak_rss_mb(jvms + pys), layers.peak_rss_mb(pys)
    listener.drain()
    job_floor = []
    if args.trace:
        for _ in range(JOB_FLOOR_SAMPLES):
            t = time.perf_counter()
            spark.range(1).write.mode("overwrite").format("noop").save()
            job_floor.append(time.perf_counter() - t)
    stop_spark(spark)
    record["loadavg_end"] = Path("/proc/loadavg").read_text().split()[:3]
    steal1, ticks1 = layers.cpu_ticks()
    # CPU time the hypervisor gave to other tenants: contention made visible
    record["cpu_steal_pct"] = 100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0)

    walls = [p["end"] - p["start"] for p in passes]
    failed = chk_failed + sum(not c["ok"] for c in calls)
    attempted = chk_attempted + len(calls)
    record.update(passes=len(passes), calls=len(calls), pass_walls=walls, setup=phases)
    record["query_s"] = {
        q: statistics.median(c["s"] for c in calls if c["name"] == q) for q in wl.queries
    }
    for m in chk_messages + errors:
        print(f"perfbench: FAILED {m}", file=sys.stderr)

    if args.trace:
        metrics = traced_metrics(run_dir, calls, passes, listener, phases, job_floor)
        metrics["operators.python_cpu_s"] = py_cpu / len(passes)
        metrics["operators.python_peak_rss_mb"] = py_rss_mb
        metrics["run.peak_rss_mb"] = rss_mb
        names = per_layer_names()
    else:
        metrics = {
            "setup_s": phases["setup_s"],
            "wall_s": statistics.median(walls),
            "result_s.p50": statistics.median(c["s"] for c in calls),
        }
        names = END_TO_END
    (run_dir / "record.json").write_text(json.dumps(record, indent=1))
    print(json.dumps(record), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": chk_failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": metrics[n], "unit": layers.unit(n)} for n in names},
            }
        )
    )
    return 0


def traced_metrics(run_dir, calls, passes, listener, phases, job_floor) -> dict[str, float]:
    """Per-layer metrics of a traced run; sums are per pass."""
    n_pass = len(passes)
    logs = sorted(p for p in run_dir.iterdir() if p.name.startswith("local-"))
    events = layers.read_eventlog(logs[-1])
    folded = layers.fold_eventlog(events, calls)
    streaming = layers.fold_progress(listener.progress, listener.started)
    batch_s = streaming.pop("batch_s") or [0.0]

    # spans: run -> pass -> query -> build/action; streams under build
    spans = [layers.Span("run", None, "run", passes[0]["start"], passes[-1]["end"])]
    for i, p in enumerate(passes):
        spans.append(layers.Span(f"p{i}", "run", "pass", p["start"], p["end"]))
    for c in calls:
        spans.append(layers.Span(c["id"], f"p{c['pass']}", c["name"], c["build"][0], c["action"][1]))
        spans.append(layers.Span(f"{c['id']}.build", c["id"], "build", *c["build"]))
        spans.append(layers.Span(f"{c['id']}.action", c["id"], "action", *c["action"]))
    for run_id, (a, b) in layers.stream_windows(listener.progress, listener.started).items():
        owner = next((c for c in calls if c["build"][0] <= a <= c["build"][1]), None)
        if owner is not None:
            spans.append(layers.Span(run_id, f"{owner['id']}.build", "stream", a, b))
    # construction time: fn() minus the streams it ran, eager jobs included
    selfs = layers.self_times(spans)
    ids = {s.id for s in spans}
    spans += [s for s in layers.job_spans(events) if s.parent in ids]
    layers.write_spans(run_dir / "spans.json", spans)

    m = {k: phases[k] for k in ("session.start_s", "session.pyworker_start_s", "catalog.schema_s")}
    for name in layers.LAYER_SUMS:
        m[name] = folded.get(name, 0.0) / n_pass
    m["operators.peak_exec_mem_bytes"] = folded.get("operators.peak_exec_mem_bytes", 0.0)
    m["queries.build_s"] = sum(selfs[f"{c['id']}.build"] for c in calls) / n_pass
    m["queries.job_floor_s"] = statistics.median(job_floor)
    m["queries.result_s.p90"] = percentile([c["s"] for c in calls], 0.9)
    for name in layers.STREAM_SUMS:
        m[name] = streaming.get(name, 0.0) / n_pass
    m["streaming.state_mem_bytes"] = streaming.get("streaming.state_mem_bytes", 0.0)
    m["streaming.batch_s.p50"] = statistics.median(batch_s)
    m["streaming.batch_s.p90"] = percentile(batch_s, 0.9)
    stream_wall = sum(c["s"] for c in calls if c["name"] in STREAM_QUERIES)
    rows = streaming.get("streaming.rows_in", 0.0)
    m["streaming.ingest_rows_per_s"] = rows / stream_wall if stream_wall else 0.0
    m["run.traced_wall_s"] = statistics.median(p["end"] - p["start"] for p in passes)
    for name in PER_QUERY:
        times = [c["s"] for c in calls if c["name"] == name]
        m[f"q.{name}.s"] = statistics.median(times) if times else 0.0
    return m


END_TO_END = ("setup_s", "wall_s", "result_s.p50")
PER_QUERY = TS_QUERIES + STREAM_QUERIES


def per_layer_names() -> list[str]:
    return [
        "session.start_s",
        "session.pyworker_start_s",
        "catalog.schema_s",
        *layers.LAYER_SUMS,
        "operators.peak_exec_mem_bytes",
        "queries.build_s",
        "queries.job_floor_s",
        "queries.result_s.p90",
        "operators.python_cpu_s",
        "operators.python_peak_rss_mb",
        *layers.STREAM_SUMS,
        "streaming.state_mem_bytes",
        "streaming.batch_s.p50",
        "streaming.batch_s.p90",
        "streaming.ingest_rows_per_s",
        "run.traced_wall_s",
        "run.peak_rss_mb",
        *(f"q.{name}.s" for name in PER_QUERY),
    ]


if __name__ == "__main__":
    sys.exit(main())
