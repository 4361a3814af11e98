"""Output check: each workload query against its DuckDB oracle.

The comparison is the registry's own correctness rule,
``tools/oracle_check.compare``: same row count, same column names and
dtypes, no complex cell values, and the same rows, order-insensitive,
compared exactly. This module only runs the oracle SQL over the run's
inputs and tallies the outcomes.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from oracle_check import compare  # noqa: E402


def verify(name: str, got: pd.DataFrame, expected: pd.DataFrame | None) -> list[str]:
    """Problems of one query's output; ``expected`` None means the
    query has no oracle, and the registry's rows-only rule applies."""
    if expected is None:
        return [] if len(got) > 0 else ["no rows"]
    return compare(name, got, expected)


def tally(outcomes: list[list[str]]) -> tuple[int, int]:
    """(attempted, failed) over per-query problem lists."""
    return len(outcomes), sum(1 for problems in outcomes if problems)


def oracle_frame(oracle_sql: str, table_paths: dict[str, Path]) -> pd.DataFrame:
    """Run the oracle SQL in DuckDB over the given parquet inputs."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in table_paths.items():
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        return con.execute(oracle_sql).df()
    finally:
        con.close()


def table_paths(input_dir: Path) -> dict[str, Path]:
    """Table name -> parquet path (or glob, for sliced events)."""
    paths = {p.stem: p for p in input_dir.glob("*.parquet") if not p.stem.startswith("slice_")}
    if any(input_dir.glob("slice_*.parquet")):
        paths["events"] = input_dir / "slice_*.parquet"
    return paths
