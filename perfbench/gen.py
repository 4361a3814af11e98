"""Seeded input generator for the benchmark workloads.

Every value is a pure function of ``(seed, salt, row id)`` through a
64-bit mixing hash (splitmix64 finalizer), so the same seed gives
byte-identical parquet files and a different seed gives different
data with the same shape. The tables follow the schemas and value
domains the query registry expects (see ``chrono_ts_spark.catalog``):

* ``events``: one month of events from 2024-01-01, naive
  ``timestamp[us]``, unsorted arrival, 2-decimal values.
* sliced events: the same table sorted by ``(ts, event_id)`` and cut
  into ts-ordered ``slice_*.parquet`` files with increasing mtimes, so
  a file-stream replay reads one slice per micro-batch oldest-first.

Outputs are cached under ``<root>/<key>`` where the key names the
seed and every size parameter. ``manifest.json`` is written last and
records each file's row count and a SHA-256 digest over all files: a
directory without a manifest is an interrupted build and is rebuilt; a
manifest whose counts or digest do not match the files raises
:class:`StaleCacheError` instead of serving the data.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per parquet row group: the unit Spark splits a file scan on.
ROW_GROUP_ROWS = 131_072
# Cached input sets kept per root; older ones are evicted on build.
CACHE_KEEP = 6

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)

EPOCH_2024_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
EVENT_DAYS = 30
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]


class StaleCacheError(RuntimeError):
    """A cached input set does not match its manifest."""


def mix(seed: int, salt: int, ids: np.ndarray) -> np.ndarray:
    """splitmix64 of (seed, salt, id) for every id; uint64 out."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) * _GOLDEN
        z += np.uint64((seed * 0x100000001B3 + salt * 0x2545F4914F6CDD1D) % 2**64)
        z = (z ^ (z >> np.uint64(30))) * _M1
        z = (z ^ (z >> np.uint64(27))) * _M2
        return z ^ (z >> np.uint64(31))


def _mod(seed: int, salt: int, ids: np.ndarray, n: int) -> np.ndarray:
    return (mix(seed, salt, ids) % np.uint64(n)).astype(np.int64)


def _unit(seed: int, salt: int, ids: np.ndarray) -> np.ndarray:
    """Uniform doubles in (0, 1)."""
    return ((mix(seed, salt, ids) >> np.uint64(11)).astype(np.float64) + 0.5) / 2.0**53


def _cents(c: np.ndarray) -> np.ndarray:
    """Integer cents as the nearest double to the 2-decimal value."""
    return c.astype(np.float64) / 100.0


def _ts_us(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


@dataclass(frozen=True)
class InputSpec:
    """Which tables to build, and how big. Zero means not built."""

    events: int = 0
    users: int = 0
    slices: int = 0  # >0: write events as ts-ordered slices instead

    def key(self, seed: int) -> str:
        parts = [f"s{seed}"] + [f"{k}{v}" for k, v in asdict(self).items() if v]
        return "-".join(parts)


def events_table(seed: int, rows: int, users: int) -> pa.Table:
    ids = np.arange(rows, dtype=np.int64)
    ts = EPOCH_2024_US + _mod(seed, 1, ids, EVENT_DAYS * DAY_US)
    types = np.array(EVENT_TYPES, dtype=object)[_mod(seed, 3, ids, len(EVENT_TYPES))]
    # exponential-ish values, mean about 50, exactly 2 decimals
    value_c = np.floor(-5000.0 * np.log(_unit(seed, 4, ids))).astype(np.int64)
    return pa.table(
        {
            "event_id": ids,
            "ts": _ts_us(ts),
            "user_id": _mod(seed, 2, ids, users),
            "event_type": pa.array(types, type=pa.string()),
            "value": _cents(value_c),
            "props": pa.array([f'{{"k": {k}}}' for k in (ids % 100).tolist()]),
        }
    )


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def _write_slices(events: pa.Table, out: Path, slices: int) -> None:
    order = np.lexsort((events["event_id"].to_numpy(), events["ts"].to_numpy()))
    ordered = events.take(pa.array(order))
    bounds = np.linspace(0, ordered.num_rows, slices + 1).astype(int)
    base = 1_600_000_000  # fixed, increasing mtimes: replay order = ts order
    for i in range(slices):
        p = out / f"slice_{i:05d}.parquet"
        _write(ordered.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        os.utime(p, (base + 2 * i, base + 2 * i))


def _files(d: Path) -> list[Path]:
    return sorted(p for p in d.iterdir() if p.suffix == ".parquet")


def _digest(files: list[Path]) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(p.name.encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def _verify(d: Path) -> dict:
    manifest = json.loads((d / "manifest.json").read_text())
    files = _files(d)
    if [p.name for p in files] != sorted(manifest["files"]) or _digest(files) != manifest["digest"]:
        raise StaleCacheError(f"input cache {d} does not match its manifest digest")
    rows = {p.name: pq.ParquetFile(p).metadata.num_rows for p in files}
    if rows != manifest["files"]:
        raise StaleCacheError(f"input cache {d} holds {rows}, manifest says {manifest['files']}")
    return manifest


def build(root: Path, seed: int, spec: InputSpec) -> tuple[Path, dict]:
    """Build (or reuse) the inputs for ``(seed, spec)``.

    Returns the directory and its manifest: ``files`` maps each
    parquet file to its row count, ``tables`` each table to its total
    rows, ``digest`` is the SHA-256 over every file.
    """
    d = root / spec.key(seed)
    if (d / "manifest.json").exists():
        os.utime(d)  # most recently used: survives eviction
        return d, _verify(d)
    shutil.rmtree(d, ignore_errors=True)  # interrupted build, if any
    d.mkdir(parents=True)
    tables: dict[str, int] = {}
    if spec.events:
        ev = events_table(seed, spec.events, spec.users)
        tables["events"] = ev.num_rows
        if spec.slices:
            _write_slices(ev, d, spec.slices)
        else:
            _write(ev, d / "events.parquet")
    files = _files(d)
    manifest = {
        "seed": seed,
        "spec": asdict(spec),
        "tables": tables,
        "files": {p.name: pq.ParquetFile(p).metadata.num_rows for p in files},
        "digest": _digest(files),
    }
    tmp = d / "manifest.json.tmp"
    tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
    tmp.rename(d / "manifest.json")
    evict(root, keep=d, n=CACHE_KEEP)
    return d, manifest


def evict(root: Path, keep: Path, n: int) -> None:
    """Delete all but the ``n`` most recently used directories in root."""
    older = sorted(
        (p for p in root.iterdir() if p.is_dir() and p != keep),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for old in older[n - 1 :]:
        shutil.rmtree(old, ignore_errors=True)
