"""The two workloads: closed loops with one client, each op timed.

``sql_analytics`` runs the pinned query list in a seed-shuffled order
each pass; ``incremental_etl`` pushes the generated stream through
``plans.pipeline.run_pipeline`` one daily window per op. Both loop over
whole passes until the run's time is used; the first pass in a process
is the cold one a freshly started job pays for.

With a tracer, every op opens a root span and the layer calls under it
open child spans (see spans.py). Output checks run after the timed
loop: they never add to an op's time.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

from spans import Tracer, count_exchanges, job_counters, plan_metrics


def _timed_out(rec: dict, limit: float) -> None:
    if "error" not in rec and rec["s"] > limit:
        rec["error"] = f"timed out: {rec['s']:.1f}s > {limit}s"


# ------------------------------------------------------------ sql_analytics

def run_sql(spark, cfg: dict, wl: dict, tables: Path, seed: int, seconds: float,
            tracer: Tracer | None) -> tuple[list[float], list[dict], dict]:
    from etl_mini_spark.queries import QUERIES

    rng = random.Random(seed)
    passes: list[float] = []
    ops: list[dict] = []
    results: dict[str, list] = {}
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        order = list(wl["queries"])
        rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            rec = {"name": name, "pass": len(passes)}
            a = time.perf_counter()
            try:
                if tracer is None:
                    df = QUERIES[name](spark, str(tables))
                    rows = df.collect()
                else:
                    df, rows = _traced_query(spark, tracer, QUERIES[name], name, str(tables), rec)
                rec["s"] = time.perf_counter() - a
                results.setdefault(name, []).append((df.schema, rows))
            except Exception as exc:  # a failed op is counted, not fatal
                rec["s"] = time.perf_counter() - a
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            _timed_out(rec, cfg["op_timeout_s"])
            ops.append(rec)
        passes.append(time.perf_counter() - p0)
    return passes, ops, results


def _traced_query(spark, tracer: Tracer, fn, name: str, tables: str, rec: dict):
    """build → plan → execute+collect, each in its own span; counters are
    read after the op's root span has closed."""
    with tracer.span("op", op=f"{rec['pass']}:{name}") as root:
        with tracer.span("build"):
            df = fn(spark, tables)
        with tracer.span("plan") as plan:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        with tracer.span("exec") as ex:
            rows = df.collect()
    sc = spark.sparkContext
    plan.counters["exchanges"] = count_exchanges(qe)
    ex.counters.update(plan_metrics(qe))
    ex.counters["result_rows"] = len(rows)
    for s in tracer.spans[root.id:]:
        s.counters.update(job_counters(sc, s.group))
    return df, rows


def _to_pandas(schema, rows) -> pd.DataFrame:
    """Collected rows as the frame ``toPandas`` would give (the oracle
    harness canonicalizes that shape)."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=schema.fieldNames())
    for f in schema.fields:
        if isinstance(f.dataType, (TimestampType, TimestampNTZType)):
            pdf[f.name] = pd.to_datetime(pdf[f.name])
    return pdf


class _Collected:
    """Adapter giving ``oracle_harness.compare`` an already collected result."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def _last_unit(col: pd.Series) -> float:
    """One unit in the last decimal place the column is rounded to (≤ 6)."""
    vals = col.dropna().to_numpy(dtype=float)
    for d in range(7):
        if (abs(vals - vals.round(d)) < 1e-9).all():
            return 10.0 ** -d
    return 1e-6


def _equal_but_rounding_ties(mine: pd.DataFrame, sql: str, tables: str) -> bool:
    """True when the frames differ only in float cells, each by at most one
    unit of the place the query rounds to. Spark and DuckDB add floats in
    different orders, so a sum that lands on a rounding tie can round
    either way."""
    from tests.oracle_harness import canonicalize, duck_connection

    con = duck_connection(tables)
    try:
        oracle = con.execute(sql).fetchdf()
    finally:
        con.close()
    a, b = canonicalize(mine), canonicalize(oracle)
    if a.shape != b.shape or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            gap = (a[c] - b[c]).abs().fillna(0)
            if (gap > _last_unit(b[c]) * 1.000001).any() or (a[c].isna() != b[c].isna()).any():
                return False
        elif not a[c].equals(b[c]):
            return False
    return True


def check_sql(results: dict, ops: list[dict], tables: Path) -> tuple[list[str], list[str]]:
    """Compare every collected result with the DuckDB oracle on the same
    parquet. A mismatch marks every op of that query failed; a difference
    that is only a float rounding tie is returned as a note instead."""
    from etl_mini_spark.queries import ORACLE
    from tests.oracle_harness import compare

    problems, notes = [], []
    for name, outs in results.items():
        for i, (schema, rows) in enumerate(outs):
            mine = _to_pandas(schema, rows)
            ok, msg = compare(_Collected(mine), ORACLE[name], str(tables))
            if ok:
                continue
            if _equal_but_rounding_ties(mine, ORACLE[name], str(tables)):
                notes.append(f"{name}[{i}]: rounding tie only: {msg}")
                continue
            problems.append(f"{name}[{i}]: {msg}")
            for rec in ops:
                if rec["name"] == name and "error" not in rec:
                    rec["error"] = f"wrong result: {msg}"
    missing = sorted({r["name"] for r in ops} - set(ORACLE))
    problems += [f"{n}: no oracle" for n in missing]
    return problems, notes


# ---------------------------------------------------------- incremental_etl

def _snapshot(root: Path) -> dict[str, tuple[int, int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> list[str]:
    return [p for p, sig in after.items() if before.get(p) != sig]


def _parquet_rows(paths: list[str]) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths
               if p.endswith(".parquet") and "__stage" not in p)


def run_incremental(spark, cfg: dict, wl: dict, stream_dir: Path, days: list[dict], work: Path,
                    seconds: float, tracer: Tracer | None) -> tuple[list[float], list[dict], list[pd.DataFrame], dict]:
    from etl_mini_spark.plans.pipeline import PipelineSpec, SinkSpec, SourceSpec, run_pipeline

    transforms = [
        {**t, "order_by": [tuple(o) for o in t["order_by"]]} if "order_by" in t else dict(t)
        for t in wl["transforms"]
    ]
    sink_dir, target, ckpt = work / "sink", work / "sink" / "target", work / "sink" / "checkpoint"
    passes: list[float] = []
    ops: list[dict] = []
    io = {"source_rows": 0, "source_bytes": 0, "target_bytes": 0, "checkpoint_bytes": 0,
          "target_rows_written": 0, "target_rows": 0}
    finals: list[pd.DataFrame] = []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        shutil.rmtree(sink_dir, ignore_errors=True)
        sink_dir.mkdir(parents=True)
        p0 = time.perf_counter()
        for d, day in enumerate(days):
            spec = PipelineSpec(
                name=wl["pipeline"],
                source=SourceSpec(path=str(stream_dir)),
                sink=SinkSpec(path=str(target), format="upsert", upsert_keys=list(wl["keys"])),
                transforms=[dict(t) for t in transforms],
                incremental_ts_col="ts",
                window_end=day["end"],
                checkpoint_path=str(ckpt),
            )
            rec = {"name": f"day_{d:03d}", "pass": len(passes)}
            before = _snapshot(sink_dir)
            a = time.perf_counter()
            try:
                if tracer is None:
                    report = run_pipeline(spark, spec)
                else:
                    with tracer.span("op", op=f"{len(passes)}:{rec['name']}") as root:
                        report = run_pipeline(spark, spec)
                rec["s"] = time.perf_counter() - a
                if report.get("status") != "ok":
                    rec["error"] = f"status {report.get('status')}"
            except Exception as exc:  # a failed batch is counted, not fatal
                rec["s"] = time.perf_counter() - a
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            written = _written(before, _snapshot(sink_dir))
            rec["target_bytes"] = sum(os.path.getsize(p) for p in written if p.startswith(str(target)))
            rec["checkpoint_bytes"] = sum(os.path.getsize(p) for p in written if p.startswith(str(ckpt)))
            rec["target_rows_written"] = _parquet_rows([p for p in written if p.startswith(str(target))])
            rec["source_rows"], rec["source_bytes"] = day["rows"], day["bytes"]
            if tracer is not None:
                _attach_batch_counters(spark, tracer, root, rec, target)
            _timed_out(rec, cfg["op_timeout_s"])
            ops.append(rec)
            for k in ("source_rows", "source_bytes", "target_bytes", "checkpoint_bytes", "target_rows_written"):
                io[k] += rec[k]
        passes.append(time.perf_counter() - p0)
        final = pq.read_table(target).to_pandas()
        io["target_rows"] = len(final)
        finals.append(final)
    return passes, ops, finals, io


def _attach_batch_counters(spark, tracer: Tracer, root, rec: dict, target: Path) -> None:
    sc = spark.sparkContext
    for s in tracer.spans[root.id:]:
        s.counters.update(job_counters(sc, s.group))
        if s.name == "upsert":
            s.counters["bytes_written"] = rec["target_bytes"]
            s.counters["rows_written"] = rec["target_rows_written"]
            s.counters["source_rows"] = rec["source_rows"]


def check_incremental(finals: list[pd.DataFrame], expected: pd.DataFrame, ops: list[dict]) -> list[str]:
    """Each pass's final target must equal the last-write-wins state; a
    mismatch marks every batch of that pass failed."""
    cols = list(expected.columns)
    want = expected.sort_values("event_id").reset_index(drop=True)
    problems = []
    for i, got in enumerate(finals):
        msg = None
        if sorted(got.columns) != sorted(cols):
            msg = f"columns {sorted(got.columns)} != {sorted(cols)}"
        else:
            got = got[cols].sort_values("event_id").reset_index(drop=True)
            got["ts"] = got["ts"].astype(want["ts"].dtype)
            if len(got) != len(want):
                msg = f"{len(got)} rows != expected {len(want)}"
            elif not got.equals(want.astype(got.dtypes.to_dict())):
                bad = [c for c in cols if not got[c].equals(want[c].astype(got[c].dtype))]
                msg = f"values differ in {bad}"
        if msg:
            problems.append(f"pass {i}: {msg}")
            for rec in ops:
                if rec["pass"] == i and "error" not in rec:
                    rec["error"] = f"wrong final state: {msg}"
    return problems
