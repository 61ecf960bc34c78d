"""Seeded input generators for the benchmark.

Every function here is a pure function of its arguments: the same seed
and parameters give byte-identical tables. Nothing reads the machine's
own test data, so the benchmark runs from a bare checkout.

- ``gen_tables`` writes the TPC-H-ish star schema plus ``events`` with
  the column names, types and value domains of the engine's test data
  (one snappy parquet file and one row group per table).
- ``gen_stream`` builds the incremental workload's event stream: daily
  event volumes plus re-deliveries of earlier ``event_id``s with a later
  ``ts`` and a changed ``value``.
- ``last_write_wins`` is the stream's expected target state, computed
  with pandas only.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400 * 1_000_000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _epoch_us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    """Uniform draw from a small vocabulary, built as dictionary indices
    so a 600k-row string column costs one ``take``."""
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo, hi = _epoch_us(first) // US_PER_DAY, _epoch_us(last) // US_PER_DAY
    return pa.array(rng.integers(lo, hi + 1, n) * US_PER_DAY, pa.timestamp("us"))


def _increasing_us(rng: np.random.Generator, start_us: int, span_us: int, n: int) -> np.ndarray:
    """``n`` strictly increasing microsecond instants in ``[start, start+span)``."""
    raw = np.sort(rng.integers(0, span_us - n, n))
    return start_us + raw + np.arange(n)


def _events(rng: np.random.Generator, n: int, n_users: int, start_us: int, span_us: int,
            first_id: int = 0) -> pa.Table:
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(_increasing_us(rng, start_us, span_us, n), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema and ``events`` at scale factor ``sf`` (row counts
    follow the test data: 150k customers, 6M line items, 1M events per
    unit of ``sf``)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = pa.int32()
    nk = np.arange(25, dtype=np.int32)
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(nk),
                            "n_name": pa.array([f"NATION_{i}" for i in nk]),
                            "n_regionkey": pa.array(nk % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }),
        "events": _events(rng, n_ev, int(15_000 * sf), _epoch_us("2024-01-01"), 30 * US_PER_DAY),
    }


def _write(table: pa.Table, path: Path) -> int:
    pq.write_table(table, path, compression="snappy", row_group_size=max(1, table.num_rows))
    return path.stat().st_size


def gen_tables(out_dir: Path, seed: int, sf: float) -> dict[str, int]:
    """Write ``build_tables`` as ``<out_dir>/<table>.parquet``; returns
    row counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, sf).items():
        _write(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows


def build_stream(seed: int, days: int, events_per_day: int, n_users: int,
                 redeliver_frac: float, max_delay_days: float, start_day: str) -> pa.Table:
    """The event stream, sorted by ``ts``.

    First deliveries: ``events_per_day`` per day, ids 0..n-1 in ``ts``
    order. Re-deliveries: a ``redeliver_frac`` sample of those ids, each
    sent once more with ``ts`` later by up to ``max_delay_days`` (never
    past the last day) and ``value`` raised by 0.01-10.00."""
    rng = np.random.default_rng([seed, 2])
    start_us, span_us = _epoch_us(start_day), days * US_PER_DAY
    n = days * events_per_day
    first = _events(rng, n, n_users, start_us, span_us)
    ids = np.sort(rng.choice(n, int(n * redeliver_frac), replace=False))
    again = first.take(pa.array(ids))
    orig_ts = again.column("ts").cast(pa.int64()).to_numpy()
    room = np.minimum(int(max_delay_days * US_PER_DAY), start_us + span_us - 1 - orig_ts)
    new_ts = orig_ts + 1 + (rng.random(len(ids)) * np.maximum(room - 1, 0)).astype(np.int64)
    bump = rng.integers(1, 1001, len(ids)) / 100.0
    again = again.set_column(1, "ts", pa.array(new_ts, pa.timestamp("us")))
    again = again.set_column(4, "value", pa.array(np.round(again.column("value").to_numpy() + bump, 2)))
    out = pa.concat_tables([first, again])
    return out.take(pa.array(np.lexsort((out.column("event_id").to_numpy(),
                                         out.column("ts").cast(pa.int64()).to_numpy()))))


def gen_stream(out_dir: Path, seed: int, **params) -> list[dict]:
    """Write the stream as one parquet file per delivery day (a landing
    directory). Returns per-day ``{"file", "rows", "bytes", "end"}``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    stream = build_stream(seed, **params)
    ts = stream.column("ts").cast(pa.int64()).to_numpy()
    start_us = _epoch_us(params["start_day"])
    days = []
    for d in range(params["days"]):
        lo, hi = np.searchsorted(ts, [start_us + d * US_PER_DAY, start_us + (d + 1) * US_PER_DAY])
        path = out_dir / f"day_{d:03d}.parquet"
        days.append({"file": path.name, "rows": int(hi - lo), "bytes": _write(stream.slice(lo, hi - lo), path),
                     "end": pd.Timestamp(start_us + (d + 1) * US_PER_DAY, unit="us").to_pydatetime()})
    return days


def last_write_wins(stream: pa.Table, end: datetime, keep: str) -> pd.DataFrame:
    """Expected target after ingesting every stream row with ``ts < end``
    through drop_null → filter(``keep``) → time_derive → dedup on
    ``event_id`` keeping the latest ``ts``: one row per ``event_id``, the
    last delivery wins. ``keep`` is a pandas ``query`` expression."""
    df = stream.to_pandas()
    df = df[df["ts"] < pd.Timestamp(end)].dropna(subset=["event_id", "ts"]).query(keep)
    df = df.sort_values(["event_id", "ts"]).drop_duplicates("event_id", keep="last")
    df["datetime_s"] = df["ts"].dt.strftime("%Y-%m-%d %H:%M:%S")
    df["time_mcs"] = df["ts"].dt.microsecond.astype(np.int64)
    df["month_"] = df["ts"].dt.strftime("%Y-%m-01")
    return df.reset_index(drop=True)
