"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest -q perfbench/tests
"""

from __future__ import annotations

import sys
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from datagen import build_stream, build_tables, gen_stream, last_write_wins  # noqa: E402
from spans import Span, Tracer, covered, self_times, tail_percentile  # noqa: E402

STREAM = dict(days=3, events_per_day=400, n_users=50, redeliver_frac=0.1,
              max_delay_days=1, start_day="2024-01-01")


# ------------------------------------------------------------ tail percentile

def test_tail_needs_ten_samples_beyond():
    assert tail_percentile([float(i) for i in range(19)]) is None
    t = tail_percentile([float(i) for i in range(20)])
    assert (t["percentile"], t["value"], t["beyond"], t["n"]) == (50.0, 9.0, 10, 20)


@pytest.mark.parametrize("n, pct", [(40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_picks_highest_percentile_with_ten_beyond(n, pct):
    t = tail_percentile([float(i) for i in range(n)])
    assert t["percentile"] == pct
    assert t["beyond"] >= 10
    assert t["value"] == float(n - t["beyond"] - 1)


def test_tail_counts_only_samples_strictly_above():
    # 30 samples, the top 15 tied: nothing lies strictly above p75's value
    xs = [1.0] * 15 + [5.0] * 15
    t = tail_percentile(xs)
    assert t["percentile"] == 50.0 and t["value"] == 1.0 and t["beyond"] == 15


# ---------------------------------------------------------------- self time

def _span(i, name, parent, start, end):
    return Span(i, name, "op", parent, start, end)


def test_self_time_subtracts_children():
    spans = [_span(0, "op", None, 0.0, 10.0), _span(1, "build", 0, 1.0, 4.0),
             _span(2, "readers", 1, 2.0, 3.5), _span(3, "exec", 0, 5.0, 9.0)]
    own = self_times(spans)
    assert own == pytest.approx({0: 3.0, 1: 1.5, 2: 1.5, 3: 4.0})
    assert sum(own.values()) == pytest.approx(10.0)


def test_overlapping_children_count_once():
    spans = [_span(0, "op", None, 0.0, 10.0), _span(1, "a", 0, 1.0, 5.0), _span(2, "b", 0, 3.0, 7.0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_covered_clips_to_parent_interval():
    assert covered([(-2.0, 1.0), (9.0, 12.0), (4.0, 4.0)], 0.0, 10.0) == pytest.approx(2.0)
    assert covered([], 0.0, 1.0) == 0.0


def test_tracer_nests_and_unwraps():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    tr.wrap(Mod, "f", "layer")
    with tr.span("op", op="0:q"):
        assert Mod.f(1) == 2
    tr.unwrap()
    assert Mod.f(1) == 2 and len(tr.spans) == 2
    root, child = tr.spans
    assert child.parent == root.id and child.op == "0:q" and child.name == "layer"


# ------------------------------------------------------------- generators

def test_stream_is_a_pure_function_of_the_seed():
    assert build_stream(7, **STREAM).equals(build_stream(7, **STREAM))
    assert not build_stream(7, **STREAM).equals(build_stream(8, **STREAM))


def test_stream_files_repeat_byte_for_byte(tmp_path):
    a = gen_stream(tmp_path / "a", 5, **STREAM)
    b = gen_stream(tmp_path / "b", 5, **STREAM)
    assert [d["rows"] for d in a] == [d["rows"] for d in b]
    for d in a:
        assert (tmp_path / "a" / d["file"]).read_bytes() == (tmp_path / "b" / d["file"]).read_bytes()


def test_stream_redeliveries_are_later_and_changed():
    s = build_stream(3, **STREAM).to_pandas()
    n = STREAM["days"] * STREAM["events_per_day"]
    assert len(s) == n + int(n * STREAM["redeliver_frac"])
    assert s["ts"].is_monotonic_increasing
    for _, g in s.groupby("event_id"):
        if len(g) > 1:
            first, again = g.iloc[0], g.iloc[1]
            assert again["ts"] > first["ts"] and again["value"] > first["value"]
    assert s["ts"].max() < datetime(2024, 1, 1 + STREAM["days"])


def test_tables_are_a_pure_function_of_the_seed():
    a, b = build_tables(1, 0.001), build_tables(1, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not build_tables(2, 0.001)["lineitem"].equals(a["lineitem"])


def test_last_write_wins_keeps_latest_delivery():
    stream = pa.table({
        "event_id": [1, 2, 1, 3],
        "ts": pa.array([datetime(2024, 1, 1, 1), datetime(2024, 1, 1, 2), datetime(2024, 1, 1, 3),
                        datetime(2024, 1, 2, 1)], pa.timestamp("us")),
        "user_id": [1, 1, 1, 1],
        "event_type": ["view", "error", "view", "view"],
        "value": [1.0, 2.0, 5.0, 7.0],
        "props": ["{}"] * 4,
    })
    got = last_write_wins(stream, datetime(2024, 1, 2), "event_type != 'error'")
    assert got["event_id"].tolist() == [1] and got["value"].tolist() == [5.0]
    assert got["datetime_s"].tolist() == ["2024-01-01 03:00:00"] and got["month_"].tolist() == ["2024-01-01"]
