"""Output checks.

Registry ops are checked against an expectation computed once per run
from the query's DuckDB oracle over the same generated tables: row
count, column names and a value hash of the frame after
``scripts/diffcheck.py``'s normalisation (columns sorted, rows sorted,
timestamps as strings). Every registry op the benchmark runs has an
oracle.
"""

from __future__ import annotations

import hashlib
import os
import sys
from dataclasses import dataclass

import numpy as np
import pandas as pd

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from scripts.diffcheck import TABLES, normalize  # noqa: E402


class CheckFailed(Exception):
    """An op's output differs from its expectation."""


@dataclass(frozen=True)
class Expected:
    """What a registry op must return. ``kinds`` maps each column to
    ``f`` (float), ``i`` (integer) or ``s`` (anything else), taken from
    the oracle so both sides hash the same representation."""

    n_rows: int
    columns: tuple[str, ...]
    kinds: tuple[str, ...]
    digest: str


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "s"
    if pd.api.types.is_float_dtype(s):
        return "f"
    if pd.api.types.is_integer_dtype(s):
        return "i"
    return "s"


def _coerce(col: pd.Series, kind: str) -> pd.Series:
    if kind == "f":
        # +0.0 folds -0.0 into 0.0; NaN/None stay missing
        return pd.to_numeric(col, errors="raise").astype("float64") + 0.0
    if kind == "i":
        num = pd.to_numeric(col, errors="raise")
        return num.astype("float64") if num.isna().any() else num.astype("int64")
    return col.map(lambda v: None if v is None or (isinstance(v, float) and np.isnan(v)) else str(v))


def digest(df: pd.DataFrame, kinds: tuple[str, ...]) -> str:
    """Order-insensitive value hash of ``df`` (already normalised)."""
    cols = list(df.columns)
    out = pd.DataFrame({c: _coerce(df[c], k) for c, k in zip(cols, kinds)})
    out = out.sort_values(cols, na_position="first").reset_index(drop=True)
    h = hashlib.sha256("|".join(cols).encode())
    h.update(pd.util.hash_pandas_object(out, index=False).values.tobytes())
    return h.hexdigest()


def expectation_from_frame(odf: pd.DataFrame) -> Expected:
    norm = normalize(odf)
    kinds = tuple(_kind(norm[c]) for c in norm.columns)
    return Expected(len(norm), tuple(norm.columns), kinds, digest(norm, kinds))


def check_frame(pdf: pd.DataFrame, exp: Expected) -> None:
    cols = tuple(sorted(pdf.columns))
    if cols != exp.columns:
        raise CheckFailed(f"columns {cols} != expected {exp.columns}")
    if len(pdf) != exp.n_rows:
        raise CheckFailed(f"{len(pdf)} rows != expected {exp.n_rows}")
    try:
        got = digest(normalize(pdf), exp.kinds)
    except (ValueError, TypeError) as e:
        raise CheckFailed(f"cannot coerce to the oracle's types: {e}") from e
    if got != exp.digest:
        raise CheckFailed("value hash differs from the oracle's")


def oracle_expectations(data_dir: str, oracles: dict[str, str | None]) -> dict[str, Expected]:
    """DuckDB expectation per query name. A query without an oracle
    cannot be checked, so it is an error."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for tab in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {tab} AS SELECT * FROM '{data_dir}/{tab}.parquet'"
        )
    out: dict[str, Expected] = {}
    for name, sql in oracles.items():
        if not sql:
            raise ValueError(f"{name} has no oracle to check it against")
        out[name] = expectation_from_frame(con.execute(sql).df())
    con.close()
    return out
