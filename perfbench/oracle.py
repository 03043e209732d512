"""Result canonicalisation and the DuckDB oracle.

A result (pandas DataFrame, Series or scalar, as ``DataSource.query``
returns it) becomes a sorted list of value rows; floats are rounded to 9
significant digits before hashing, so a digest does not depend on the
order Spark summed in.  A digest that differs from the oracle's is
re-checked against the oracle rows with a relative tolerance before the
op counts as wrong.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math

import numpy as np
import pandas as pd

REL_TOL = 1e-9


def _value(v):
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def rows(result) -> list[list]:
    """Value rows of a query result, in a canonical order."""
    if isinstance(result, pd.DataFrame):
        raw = result.itertuples(index=False, name=None)
    elif isinstance(result, pd.Series):
        raw = ((v,) for v in result.tolist())
    else:
        raw = [(result,)]
    out = [[_value(v) for v in row] for row in raw]
    out.sort(key=_sort_key)
    return out


def _rounded(v):
    return float(f"{v:.9g}") if isinstance(v, float) else v


def _sort_key(row: list) -> str:
    return json.dumps([_rounded(v) for v in row])


def digest(canon_rows: list[list]) -> str:
    return hashlib.sha1(
        json.dumps([[_rounded(v) for v in r] for r in canon_rows]).encode()
    ).hexdigest()


def close(a: list[list], b: list[list]) -> bool:
    """Row-by-row equality with a relative tolerance on floats."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) \
                    and not isinstance(x, bool) and not isinstance(y, bool):
                if not math.isclose(x, y, rel_tol=REL_TOL, abs_tol=REL_TOL):
                    return False
            elif x != y:
                return False
    return True


def duckdb_connection(tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


class Verdicts:
    """Judges each op's digest against the oracle rows for its key;
    keeps the first rows seen per (key, digest) for the tolerance check."""

    def __init__(self) -> None:
        self.samples: dict[tuple, list] = {}

    def keep(self, key, canon_rows: list[list]) -> str:
        d = digest(canon_rows)
        self.samples.setdefault((key, d), canon_rows)
        return d

    def judge(self, records, expected: dict) -> None:
        """Set ``verdict`` on every record: ok, wrong or raised."""
        for r in records:
            if r.error is not None:
                r.verdict = "raised"
                continue
            want = expected[r.key]
            if r.digest == digest(want) or close(self.samples[(r.key, r.digest)], want):
                r.verdict = "ok"
            else:
                r.verdict = "wrong"
