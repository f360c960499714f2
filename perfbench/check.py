"""Correctness checks, computed independently of the program with DuckDB.

Window results arrive as ``{(type, timestamp): value}`` in the engine's
StatMsg shape (``type`` = ``"<grain>_count"``, ``timestamp`` = window start
in epoch seconds).  Every window of the exact count must be present, no
extra window may appear, and each estimate must lie within ``APPROX_BOUND``
of the exact distinct count (the approximate-query bound of BASELINE.md).

The bound is a defect test, not a coin toss: the generated inputs keep every
window at a few thousand distinct users at most, where the lg_k=14 sketch's
relative standard error is below 0.4%, so 2% sits more than five standard
errors out.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

GRAINS = ("minute", "day", "week", "month", "year")
APPROX_BOUND = 0.02

Windows = dict[tuple[str, int], float]


def exact_window_counts(uid: np.ndarray, ts: np.ndarray, grains=GRAINS) -> Windows:
    """Exact ``count(DISTINCT uid)`` per (grain, window start) of events
    given as parallel arrays (``ts`` in Unix seconds, UTC)."""
    con = duckdb.connect()
    try:
        con.register("ev", pd.DataFrame({"uid": uid, "ts": ts}))
        parts = [
            f"SELECT '{g}_count' AS type, "
            f"CAST(epoch(date_trunc('{g}', epoch_ms(ts * 1000))) AS BIGINT) AS w, uid FROM ev"
            for g in grains
        ]
        rows = con.execute(
            f"SELECT type, w, count(DISTINCT uid) FROM ({' UNION ALL '.join(parts)}) "
            "GROUP BY type, w"
        ).fetchall()
    finally:
        con.close()
    return {(t, int(w)): float(n) for t, w, n in rows}


def compare_windows(exact: Windows, got: Windows, rel_bound: float) -> list[str]:
    """Problems found, one string each: missing windows, unexpected
    windows, and values off by more than ``rel_bound`` of the exact count
    (``rel_bound=0`` demands equality)."""
    problems = []
    for key, n in sorted(exact.items()):
        if key not in got:
            problems.append(f"missing window {key}")
        elif abs(got[key] - n) > rel_bound * n:
            problems.append(f"window {key}: got {got[key]:g}, exact {n:g}")
    for key in sorted(set(got) - set(exact)):
        problems.append(f"unexpected window {key}")
    return problems


def windows_of(pdf: pd.DataFrame) -> Windows:
    """StatMsg frame (type, timestamp, value) → window dict."""
    return {
        (str(t), int(ts)): float(v)
        for t, ts, v in zip(pdf["type"], pdf["timestamp"], pdf["value"])
    }


def _normalized(pdf: pd.DataFrame) -> pd.DataFrame:
    p = pdf[sorted(pdf.columns)]
    return p.astype(str).sort_values(by=list(p.columns)).reset_index(drop=True)


def frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """Row count + order-insensitive value hash, after sorting columns by
    name; returns a description of the mismatch or None."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != oracle {sorted(oracle_pdf.columns)}"
    a = pd.util.hash_pandas_object(_normalized(spark_pdf), index=False).sum()
    b = pd.util.hash_pandas_object(_normalized(oracle_pdf), index=False).sum()
    return None if a == b else "value hash differs from oracle"


def oracle_frame(table_dir: str, tables: list[str], sql: str) -> pd.DataFrame:
    """Run an oracle query over the parquet tables in ``table_dir``."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()
