"""Seeded input generators.  The program under test only ever sees what
these functions write; the same seed always yields the same bytes.

Wire events follow the reference generator (processor_test.go:31-41):
``{"uid": ..., "ts": ...}`` JSON lines whose ``ts`` advances by a random
U[0, 3600) s step, so nearly every event opens a new minute window.  Three
changes make it harder: uids are Zipf-skewed over a million-id space, a
fixed share of lines is malformed (the parse stage's skip path), and a small
share of events is moved back in time by less than the watermark.

Batch tables mimic the fixture star schema (TPC-H-ish dims and facts plus
``documents``, ``embeddings`` and ``events``) at a small scale factor.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UID_SPACE = 1_000_000
ZIPF_S = 1.3
MAX_STEP_S = 3600
MALFORMED_SHARE = 0.01
OUT_OF_ORDER_SHARE = 0.02
# Strictly inside the pipeline's 10-minute watermark: no event is late.
MAX_BACKSHIFT_S = 300

_MALFORMED = (
    '{{"uid":"u{u}","ts":',  # truncated message
    "not json at all {u}",
    '{{"ts":{t}}}',  # missing uid
    '{{"uid":"u{u}","ts":"soon"}}',  # ts of the wrong type
    "{{}}",
)


@dataclass(frozen=True)
class WireEvents:
    """Generated events: ``uid``/``ts`` for every line, ``bad`` marks the
    malformed lines (their uid/ts never reach the program)."""

    uid: np.ndarray
    ts: np.ndarray
    bad: np.ndarray

    def __len__(self) -> int:
        return len(self.uid)

    def clean(self) -> tuple[np.ndarray, np.ndarray]:
        keep = ~self.bad
        return self.uid[keep], self.ts[keep]

    def lines(self) -> list[str]:
        out = []
        for i, (u, t, b) in enumerate(
            zip(self.uid.tolist(), self.ts.tolist(), self.bad.tolist())
        ):
            if b:
                out.append(_MALFORMED[i % len(_MALFORMED)].format(u=u, t=t))
            else:
                out.append(f'{{"uid":"u{u}","ts":{t}}}')
        return out


_ZIPF_CDF: np.ndarray | None = None


def _zipf_cdf() -> np.ndarray:
    global _ZIPF_CDF
    if _ZIPF_CDF is None:
        w = 1.0 / np.arange(1, UID_SPACE + 1, dtype=np.float64) ** ZIPF_S
        c = np.cumsum(w)
        _ZIPF_CDF = c / c[-1]
    return _ZIPF_CDF


def wire_events(rng: np.random.Generator, n: int, start_ts: int) -> WireEvents:
    """``n`` events starting at ``start_ts`` (Unix seconds)."""
    rank = np.searchsorted(_zipf_cdf(), rng.random(n))
    # Hot users get arbitrary ids, not the smallest ones.
    uid = rng.permutation(UID_SPACE)[np.minimum(rank, UID_SPACE - 1)]
    ts = start_ts + np.cumsum(rng.integers(0, MAX_STEP_S, n))
    moved = rng.random(n) < OUT_OF_ORDER_SHARE
    ts[moved] -= rng.integers(1, MAX_BACKSHIFT_S, int(moved.sum()))
    bad = rng.random(n) < MALFORMED_SHARE
    return WireEvents(uid.astype(np.int64), ts.astype(np.int64), bad)


def write_lines(path: str, lines: list[str]) -> None:
    """Write JSONL atomically: a reader never sees a partial file."""
    tmp = f"{os.path.dirname(path)}/.{os.path.basename(path)}.tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, path)


def write_wire(directory: str, ev: WireEvents, lines_per_file: int) -> int:
    """Split the events into JSONL files; returns the number of files."""
    os.makedirs(directory, exist_ok=True)
    lines = ev.lines()
    n_files = 0
    for i in range(0, len(lines), lines_per_file):
        write_lines(f"{directory}/part-{n_files:05d}.jsonl", lines[i : i + lines_per_file])
        n_files += 1
    return n_files


# ---------------------------------------------------------------- batch tables

_WORDS = (
    "a the data spark stream batch window join agg group sort filter scan "
    "hash merge key value row column table query order line part customer "
    "vector big small fast slow"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_PART_NAMES = [f"{a} {b}" for a in ("red", "blue", "small", "new", "hot", "big", "old", "shiny")
               for b in ("bolt", "ring", "rod", "plate", "widget", "anvil", "gear", "nut")]
_P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts_us(a: np.ndarray) -> pa.Array:
    return pa.array(a.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def batch_tables(rng: np.random.Generator, scale: float, ev: WireEvents) -> dict[str, pa.Table]:
    """The fixture tables at ``scale`` (1.0 = sf1 row counts), with the
    wire events (clean lines only) as the ``events`` table."""
    n_sup = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1_000, int(1_500_000 * scale))
    n_li = max(4_000, int(6_000_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    n_emb = max(100, int(50_000 * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(_REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_sup, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_sup),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [_PART_NAMES[i] for i in rng.integers(0, len(_PART_NAMES), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_P_TYPES[i] for i in rng.integers(0, len(_P_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_sup, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(_EPOCH_1995_US + rng.integers(0, 2500, n_li) * _DAY_US),
    })
    words = np.array(_WORDS)
    texts = []
    for k in rng.integers(10, 101, n_docs):
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    t["events"] = events_table(rng, ev)
    return t


def events_table(rng: np.random.Generator, ev: WireEvents) -> pa.Table:
    """The clean wire events in the fixture's ``events`` schema."""
    uid, ts = ev.clean()
    n = len(uid)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts_us(ts * 1_000_000),
        "user_id": uid,
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
    })


def write_tables(directory: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, f"{directory}/{name}.parquet")
