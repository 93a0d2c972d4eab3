"""Output checks against the DuckDB oracle twins, by the rules of the
engine's oracle harness (`tests/oracle_harness.py`, imported here): same
column names, Spark dtypes paired with the DuckDB types they must hash
as, same row count, and order-insensitive exact values.

The harness asserts; `compare` returns the first rule broken instead, so
a mismatch is counted and the run goes on. Oracle results depend only on
the oracle SQL and the data, so they are computed once per checkout and
cached as pickles this module writes itself.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from oracle_harness import _norm_rows, expected_duck_type, run_oracle  # noqa: E402


class Result:
    """One engine's answer: column names, type names, normalized rows."""

    def __init__(self, cols: list[str], types: dict[str, str], rows: list[tuple]):
        self.cols = cols
        self.types = types
        self.rows = rows


def spark_result(df, rows) -> Result:
    return Result(list(df.columns), dict(df.dtypes), _norm_rows(rows, df.columns))


def oracle_result(name: str, sql: str, data_dir: str, cache_dir: str) -> Result:
    """The DuckDB result for `sql` over `data_dir`, from the cache when
    this SQL has been run on this data before."""
    key = hashlib.sha256(f"{data_dir}\0{sql}".encode()).hexdigest()[:20]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return Result(*pickle.load(f))
    rows, cols, types = run_oracle(sql, data_dir)
    res = Result(cols, types, _norm_rows(rows, cols))
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump((res.cols, res.types, res.rows), f)
    os.replace(tmp, path)
    return res


def compare(got: Result, exp: Result) -> str | None:
    """None when `got` matches `exp`, else the first rule it breaks."""
    if sorted(got.cols) != sorted(exp.cols):
        return f"columns: spark={sorted(got.cols)} oracle={sorted(exp.cols)}"
    bad = [
        f"{c}: spark {t} needs {expected_duck_type(t)}, oracle {exp.types.get(c)}"
        for c, t in got.types.items()
        if exp.types.get(c) != expected_duck_type(t)
    ]
    if bad:
        return "types: " + "; ".join(bad)
    if len(got.rows) != len(exp.rows):
        return f"row count: spark={len(got.rows)} oracle={len(exp.rows)}"
    diff = [(i, a, b) for i, (a, b) in enumerate(zip(got.rows, exp.rows)) if a != b]
    if diff:
        return f"{len(diff)} rows differ; first: {diff[0]}"
    return None
