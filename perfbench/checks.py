"""Independent output checks.  None of them runs inside a timed region.

Each check returns a list of human-readable problems; an empty list
means the output is correct.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd

from orders_gen import UNIQUE_KEYS

UTC = dt.timezone.utc


def _norm_value(v):
    """Canonical form of one cell, for comparing Spark, pyarrow and
    plain-Python values."""
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, np.datetime64):
        v = pd.Timestamp(v).to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(UTC).replace(tzinfo=None)
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, np.generic):
        return _norm_value(v.item())
    return v


def _norm_row(row: dict) -> dict:
    return {k: _norm_value(v) for k, v in row.items()}


def compare_table(name: str, got_rows: list[dict], expected: dict[tuple, dict]) -> list[str]:
    """Final table rows vs the plain-Python expected state."""
    keys = UNIQUE_KEYS[name]
    got: dict[tuple, dict] = {}
    problems: list[str] = []
    for r in got_rows:
        k = tuple(r[c] for c in keys)
        if k in got:
            problems.append(f"{name}: duplicate key {k}")
        got[k] = _norm_row(r)
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        problems.append(f"{name}: {len(missing)} expected keys missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{name}: {len(extra)} unexpected keys, e.g. {sorted(extra)[:3]}")
    wrong = [k for k in expected.keys() & got.keys() if _norm_row(expected[k]) != got[k]]
    if wrong:
        k = sorted(wrong)[0]
        problems.append(
            f"{name}: {len(wrong)} rows differ, e.g. key {k}: "
            f"got {got[k]} expected {_norm_row(expected[k])}"
        )
    return problems


def check_verification(report: dict) -> list[str]:
    """The pipeline's own uniqueness and FK report must be clean."""
    problems = []
    for table, rep in (report or {}).get("uniqueness", {}).items():
        if not rep.get("is_unique"):
            problems.append(f"uniqueness report: {table} not unique ({rep})")
    for check, orphans in (report or {}).get("foreign_keys", {}).items():
        if orphans != 0:
            problems.append(f"FK report: {check} has {orphans} orphans")
    if not report or len(report.get("uniqueness", {})) != len(UNIQUE_KEYS):
        problems.append("verification report missing or incomplete")
    return problems


def canonical_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns sorted by name, cells
    normalized, rows sorted by every column."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        col = out[c]
        if col.dtype.kind in "iub":
            out[c] = col.astype("float64")
        elif col.dtype.kind == "f":
            out[c] = col.round(6)
        elif col.dtype.kind == "M":
            out[c] = col.astype("datetime64[us]").astype(str)
        else:
            out[c] = col.map(lambda v: repr(_norm_value(v.tolist() if hasattr(v, "tolist") else v)))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(name: str, got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    a, b = canonical_frame(got), canonical_frame(expected)
    if list(a.columns) != list(b.columns):
        return [f"{name}: columns {list(a.columns)} != oracle {list(b.columns)}"]
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows != oracle {len(b)} rows"]
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, rtol=1e-6, atol=1e-6)
    except AssertionError as exc:
        return [f"{name}: values differ from oracle: {str(exc).splitlines()[0:3]}"]
    return []


def fingerprint(df: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive checksum) for queries with no oracle."""
    canon = canonical_frame(df)
    return len(canon), int(pd.util.hash_pandas_object(canon, index=False).sum() % (1 << 61))


def oracle_frames(duck_dir: str, tables: list[str], oracles: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Run each oracle SQL on DuckDB over the generated parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{duck_dir}/{t}.parquet')")
        return {name: con.execute(sql).df() for name, sql in oracles.items()}
    finally:
        con.close()
