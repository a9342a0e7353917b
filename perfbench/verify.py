"""Output checks: registered DuckDB oracles and streaming-vs-batch recomputes.

Outputs are compared the way the repository's oracle tests compare them:
columns sorted by name, rows sorted by value, floats equal or within
``rel_tol=abs_tol=1e-12``, nulls in any pandas spelling equal to each other.
``tests/oracle_harness.compare`` asserts on the first difference; ``mismatch``
returns it, so a wrong output is counted rather than ending the run.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import pickle
import subprocess
import sys

import numpy as np
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def expected_rows(sqls: list[str], data_dir: str, work_dir: str) -> list[tuple[list[str], list[tuple]]]:
    """The oracles' answers in canonical form, computed with the oracle
    tests' own DuckDB views in a child process, so the run's peak RSS stays
    the system's own; ``work_dir`` receives DuckDB's temp files and the
    exchange files.  The child is waited for (and killed if this process is
    interrupted), so it never outlives the run."""
    req, res = os.path.join(work_dir, "oracle-in.pkl"), os.path.join(work_dir, "oracle-out.pkl")
    with open(req, "wb") as fh:
        pickle.dump((sqls, data_dir), fh)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [_REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]))
    subprocess.run([sys.executable, "-m", "perfbench.verify", req, res],
                   cwd=work_dir, env=env, check=True)
    with open(res, "rb") as fh:
        return pickle.load(fh)


def _oracle_child(req: str, res: str) -> None:
    from tests.oracle_harness import duckdb_run

    with open(req, "rb") as fh:
        sqls, data_dir = pickle.load(fh)
    with open(res, "wb") as fh:
        pickle.dump([canonical(duckdb_run(sql, data_dir)) for sql in sqls], fh)


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (pd.Timestamp, _dt.date, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            return None
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.value
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, (np.floating, float)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def _sort_key(row):
    return tuple((v is None, v if v is not None else 0) for v in row)


def canonical(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Column names sorted, rows as value tuples sorted."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    try:
        rows.sort(key=_sort_key)
    except TypeError:
        rows.sort(key=repr)
    return cols, rows


def _equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            return a == b or math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
        except TypeError:
            return False
    return a == b


def mismatch(got: tuple[list[str], list[tuple]], exp: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    (gc, gr), (ec, er) = got, exp
    if gc != ec:
        return f"columns {gc} vs {ec}"
    if len(gr) != len(er):
        return f"row count {len(gr)} vs {len(er)}"
    for i, (g, e) in enumerate(zip(gr, er)):
        if not _equal(g, e):
            return f"row {i}: {g!r} vs {e!r}"
    return None


if __name__ == "__main__":
    _oracle_child(*sys.argv[1:3])
