"""Advanced streaming operators: sliding windows, stream-stream joins,
and the stateful per-key recurrences (SURVEY.md §2.9 ST3/J7/ST6).

The order-dependent recurrences — EMA, Holt linear, the scalar Kalman
filter and the online CUSUM chart — have ONE implementation each: a
per-event ``fold`` closure run by ``bucketed_fold_update_fn`` inside
``_run_bucketed``, the package's only ``applyInPandasWithState`` call.
The group key is ``user_id % _N_BUCKETS`` and the state is every
bucket member's recurrence values packed as sorted numpy buffers; each
micro-batch is folded in (ts, event_id) order, emitting one row per
event. Running extrema is a commutative monoid, so it needs no
arbitrary-state API: a JVM-native update-mode aggregate keeps its
state with zero Python round-trips. Watermarks bound how long idle
keys hold state.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions import ts_str
from .replay import replay_events_stream, run_to_sink

# State-store group count for the per-key folds: the value behind every
# measured number in docs/scale.md (r14/r15: 4.7–5.9x faster than one
# group per user at 60M rows / 60k users). At or below 1024 users the
# plan has exactly one group per user, as a per-user plan would.
_N_BUCKETS = 1024

# shared packed-bucket state shape: sorted int64 user ids + their
# float64 state rows, each as one binary buffer. Field names are
# cosmetic — access is positional.
_PACKED_BUCKET_STATE = "ids binary, states binary"

# leading output columns of every fold stream; each fold appends its own
_FOLD_KEYS = "user_id bigint, event_id bigint, ts_s string, value double"


def bucketed_fold_update_fn(n_state: int, fold, out_names: list):
    """applyInPandasWithState update builder for a per-user recurrence
    under the bucketed layout: group key = user_id % _N_BUCKETS, state
    = the bucket's per-user float64 state rows packed as sorted numpy
    buffers, parameterized by a per-event ``fold(state_tuple | None,
    value) -> (new_state_tuple, out_values_tuple)`` closure.

    Why bucketed (r14, VERDICT r13 item 4): the 60M/64-batch probe
    showed a ~12 s/batch FIXED cost in a one-group-per-user layout —
    not state size but the per-group Python state round-trips (60k
    groups × state get/update through the JVM↔Python protocol every
    batch). Bucketing divides the group count by ~_N_BUCKETS while
    keeping each user's fold exact: the batch is sorted globally by
    (ts, event_id) — a total order, since event_id is unique — so each
    user's subsequence folds in event order with the same IEEE-double
    op sequence as a per-user loop. State packs as sorted-by-id
    buffers, so the stored bytes are partition- and dict-order-
    independent.

    Self-contained closure (stdlib + pandas + numpy only) so Python
    workers can unpickle it without importing this package.
    """

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            ids_b, st_b = state.get
            ids0 = np.frombuffer(ids_b, dtype=np.int64)
            sts0 = np.frombuffer(st_b, dtype=np.float64).reshape(
                len(ids0), n_state
            )
            cur = {
                i: tuple(row)
                for i, row in zip(ids0.tolist(), sts0.tolist())
            }
        else:
            cur = {}
        # Late-data policy: event-time order is guaranteed WITHIN a
        # micro-batch (sorted here); an event arriving in a later batch
        # behind its key's position is still folded in — the folds are
        # arrival-order-sensitive by nature and dropping in-watermark
        # data would be silent loss. (State commits are atomic with
        # batch offsets, so no replay guard is needed for retries.)
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        extras: list[list] = [[] for _ in out_names]
        get = cur.get
        for uid, val in zip(
            batch["user_id"].tolist(), batch["value"].tolist()
        ):
            st, outs = fold(get(uid), val)
            cur[uid] = st
            for lst, v in zip(extras, outs):
                lst.append(v)
        res = pd.DataFrame(
            {
                "user_id": batch["user_id"].to_numpy(),
                "event_id": batch["event_id"].to_numpy(),
                "ts_s": batch["ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
                "value": batch["value"].to_numpy(),
                **{n: lst for n, lst in zip(out_names, extras)},
            }
        )
        ids = np.fromiter(cur.keys(), dtype=np.int64, count=len(cur))
        sts = np.array(list(cur.values()), dtype=np.float64).reshape(
            len(cur), n_state
        )
        order = np.argsort(ids, kind="stable")
        state.update((ids[order].tobytes(), sts[order].tobytes()))
        yield res

    return update


def _run_bucketed(
    spark: SparkSession,
    sf_dir: str,
    fold,
    n_state: int,
    outputs: dict,
    sink_dir: str | None,
) -> DataFrame:
    """Run ``fold`` per user over the replayed stream; ``outputs`` maps
    each fold output column to its SQL type, appended to _FOLD_KEYS.

    ``sink_dir`` switches the memory sink (fixture-scale: the driver
    collects the table) for the production parquet sink. Every fold
    emits ONE ROW PER INPUT EVENT, so its output is data-proportional
    and the memory sink OOMs the local driver heap at probe scale (the
    r11 30M stream_ema probe; the 30M parquet-sink run completes)."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    res = (
        ev.withColumn(
            "__bucket", F.pmod(F.col("user_id"), F.lit(_N_BUCKETS))
        )
        .groupBy("__bucket")
        .applyInPandasWithState(
            bucketed_fold_update_fn(n_state, fold, list(outputs)),
            outputStructType=", ".join(
                [_FOLD_KEYS] + [f"{n} {t}" for n, t in outputs.items()]
            ),
            stateStructType=_PACKED_BUCKET_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_sink(res, spark, "append", sink_dir)


def run_ema_stream(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.2,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6: per-user EMA over the replayed stream — ema = α·x + (1−α)·
    prev, the first value seeding, the same IEEE op sequence as
    batch_ema and the ts_ema oracle."""
    a = float(alpha)
    b = 1.0 - a

    def fold(st, x):
        e = x if st is None else a * x + b * st[0]
        return (e,), (e,)

    return _run_bucketed(spark, sf_dir, fold, 1, {"ema": "double"}, sink_dir)


def run_holt_stream(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6: per-user Holt linear (level+trend) over the replayed stream
    — the identical IEEE op sequence as the batch twin
    (queries/extras.ts_holt_linear)."""
    a, b1, g, g1 = float(alpha), 1.0 - float(alpha), float(beta), 1.0 - float(beta)

    def fold(st, x):
        if st is None:
            lvl, trd = x, 0.0
        else:
            lvl, trd = st
            nl = a * x + b1 * (lvl + trd)
            trd = g * (nl - lvl) + g1 * trd
            lvl = nl
        return (lvl, trd), (lvl, trd)

    return _run_bucketed(
        spark, sf_dir, fold, 2, {"level": "double", "trend": "double"}, sink_dir
    )


def run_kalman_stream(
    spark: SparkSession,
    sf_dir: str,
    q: float = 1.0,
    r_noise: float = 4.0,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6: per-user scalar Kalman filter over the replayed stream —
    state (x, P), the identical IEEE op sequence as the batch twin
    (queries/timeseries.ts_kalman_filter)."""
    qf, rf = float(q), float(r_noise)

    def fold(st, z):
        if st is None:
            x, p = z, rf
        else:
            x, p = st
            pp = p + qf
            k = pp / (pp + rf)
            x = x + k * (z - x)
            p = (1.0 - k) * pp
        return (x, p), (x, p)

    return _run_bucketed(
        spark, sf_dir, fold, 2, {"kalman": "double", "err_var": "double"}, sink_dir
    )


def run_cusum_stream(
    spark: SparkSession,
    sf_dir: str,
    mu: float = 150.0,
    sigma: float = 85.0,
    k_sigma: float = 0.5,
    h_sigma: float = 4.0,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6b: per-user ONLINE CUSUM chart over the replayed stream,
    monitored against known process parameters — the bit-identical
    recursion of operators/changepoint.py with target=(mu, sigma).
    State is two doubles per key regardless of history length, the
    O(keys) property that makes the chart viable on an unbounded
    stream. Unseen keys seed (0.0, 0.0); the alarm reset lands AFTER
    the emitted row, so the output tuple is captured before zeroing."""
    muf, slack = float(mu), float(k_sigma) * float(sigma)
    h = float(h_sigma) * float(sigma)

    def fold(st, x):
        sp, sm = st if st is not None else (0.0, 0.0)
        x = float(x)
        sp = max(0.0, sp + ((x - muf) - slack))
        sm = max(0.0, sm + ((muf - x) - slack))
        alarm = 1 if (sp > h or sm > h) else 0
        outs = (sp, sm, alarm)
        if alarm:
            sp = sm = 0.0
        return (sp, sm), outs

    return _run_bucketed(
        spark,
        sf_dir,
        fold,
        2,
        {"s_plus": "double", "s_minus": "double", "alarm": "int"},
        sink_dir,
    )


def run_running_extrema_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running min/max/count as a JVM-NATIVE update-mode
    streaming aggregate: min/max/count are commutative monoids, so the
    recurrence needs no arbitrary-state API — all state stays in the
    JVM state store with zero Python round-trips (VERDICT r13 item 4's
    'JVM-native where closed forms exist'; 8.4x the pandas-state form
    at 60M rows, docs/scale.md r14). Emits updated rows per batch; the
    last row per user equals the batch aggregate. EMA/Holt/Kalman/CUSUM
    cannot take this path: their folds are order-dependent — Spark
    streaming aggregates require commutative monoids — so they ride
    the bucketed pandas-state fold above."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    return _latest_snapshot_per_user(run_to_sink(agg, spark, "update"))


def _latest_snapshot_per_user(snap: DataFrame) -> DataFrame:
    """Keep only each user's final running-extrema row (micro-batches
    emit one snapshot per active key per batch; max n_events = last)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        snap.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )


def batch_ema(spark: SparkSession, sf_dir: str, alpha: float = 0.2) -> DataFrame:
    """Batch reference for the EMA stream (same semantics and op order).

    r6: per-series numpy scalar loop inside the sanctioned
    applyInPandas boundary — the CUSUM pattern (changepoint.py run(),
    which cut its 10M-row probe 31.2 s → 13.5 s) replacing the r5
    interpreted ``F.aggregate`` recursion over an ordered collect_list
    (~1.4 µs/row — VERDICT r5 "What's wrong" #3). The recursion itself
    (ema = α·x + (1−α)·prev over the (ts, event_id) order, first value
    seeds) is inherently sequential; cross-series fan-out is the
    parallelism, and every step is the same IEEE-double op sequence the
    DuckDB recursive-CTE oracle replays — note 1.0−α is computed once
    driver-side, and ties-to-even makes 1.0−0.2 == 0.8 exactly, the
    oracle's CAST(0.8 AS DOUBLE).
    """
    from ..catalog import load_table
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    ev = load_table(spark, sf_dir, "events")
    a = float(alpha)
    b = 1.0 - a

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["ts", "event_id"], kind="mergesort"
        ).reset_index(drop=True)
        xs = pdf["value"].to_numpy(dtype="float64")
        out = np.empty(len(xs))
        e = 0.0
        for i in range(len(xs)):
            x = xs[i]
            e = x if i == 0 else a * x + b * e
            out[i] = e
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ts_s": pdf["ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
                "value": pdf["value"],
                "ema": out,
            }
        )

    return (
        ev.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            run,
            "user_id bigint, event_id bigint, ts_s string, value double, ema double",
        )
    )


def run_sliding_counts_stream(
    spark: SparkSession, sf_dir: str, width_s: int = 600, slide_s: int = 300
) -> DataFrame:
    """ST3: sliding-window counts (each event lands in width/slide windows)."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(
        F.window("ts", f"{width_s} seconds", f"{slide_s} seconds"),
        F.col("event_type"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = agg.select(
        ts_str(F.col("window.start")).alias("win_start"),
        "event_type",
        "n_events",
    )
    return run_to_sink(out, spark, "complete")


def _purchase_click_join(
    spark: SparkSession,
    sf_dir: str,
    lookback_s: int,
    how: str,
    watermark: str,
    sink_dir: str | None = None,
) -> DataFrame:
    """Shared purchases-to-preceding-clicks join body for the inner and
    left variants (r7 review: the two copies had silently drifted on
    watermark duration). The watermark differs by DESIGN per variant:
    the inner join only needs state long enough to pair in-lookback
    rows, so a generous "1 hour" is fine; the LEFT join emits an
    unmatched purchase only once the watermark passes p_ts + lookback,
    so a tight "10 minutes" bounds how much tail goes un-flushed on a
    bounded replay (see run_stream_stream_join_left's contract).
    """
    ev1 = replay_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    ev2 = replay_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    purchases = ev1.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    clicks = ev2.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr(f"INTERVAL {lookback_s} SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    )
    out = joined.select(
        "user_id",
        "p_id",
        ts_str(F.col("p_ts")).alias("p_ts_s"),
        ts_str(F.col("c_ts")).alias("c_ts_s"),
    )
    return run_to_sink(out, spark, "append", sink_dir)


def run_stream_stream_join(
    spark: SparkSession, sf_dir: str, lookback_s: int = 600,
    sink_dir: str | None = None,
) -> DataFrame:
    """J7: stream-stream inner join — purchases to clicks within the
    preceding `lookback_s` by the same user, with watermarks bounding
    both join-state buffers.

    ``sink_dir``: production parquet sink. Inner-join output is
    candidate-pair-bound (sparse on the probe corpus), but on skewed
    real traffic it can approach O(purchases x clicks-in-window) — the
    probe runs it through the parquet path alongside the left variant."""
    return _purchase_click_join(
        spark, sf_dir, lookback_s, "inner", "1 hour", sink_dir=sink_dir
    )


def run_stream_stream_join_left(
    spark: SparkSession, sf_dir: str, lookback_s: int = 600,
    sink_dir: str | None = None,
) -> DataFrame:
    """J7 outer flavor: LEFT stream-stream join — every purchase, with
    NULL click columns when no click landed in the preceding window.

    Semantics mirror the batch ``range_join(..., how='left')``; the
    state story differs: matched rows emit as they arrive (exactly the
    batch inner part), while unmatched purchases are emitted only when
    the watermark passes ``p_ts + lookback`` (the row is then provably
    unmatched). On a bounded availableNow replay the final no-data
    micro-batch flushes that state best-effort — trailing eviction is
    not guaranteed by Spark, so a replay may under-emit a handful of
    null rows near the end of the data (observed: ≤2 of ~90 at
    sf0.001; never a spurious or wrong row). On a continuous stream the
    watermark keeps advancing and every unmatched row is eventually
    emitted. The equivalence test pins: emitted ⊆ batch, matched part
    == batch inner part, null rows near-complete.

    ``sink_dir``: production parquet sink. The LEFT join emits AT
    LEAST one row per purchase — O(input) output — so it belongs to
    the data-proportional class (EMA/Holt/Kalman/CUSUM/sessions/
    enrich): the r11 60M stream probe OOMed the 8g heap through the
    memory sink (~12M buffered output rows + two-sided join state),
    the same failure the inner variant's sparse output hid.
    """
    return _purchase_click_join(
        spark, sf_dir, lookback_s, "leftOuter", "10 minutes", sink_dir=sink_dir
    )

