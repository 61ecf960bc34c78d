"""Pipeline/config layer + sources/sinks + checkpoint semantics."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO, SF_SMOKE

TMP = REPO / "tmp" / "testruns"


@pytest.fixture(autouse=True, scope="module")
def _tmpdir():
    import shutil

    shutil.rmtree(TMP, ignore_errors=True)
    TMP.mkdir(parents=True, exist_ok=True)
    yield


def test_flagship_pipeline_spec(spark, tmp_path_factory):
    from etl_mini_spark.plans.pipeline import PipelineSpec, SinkSpec, SourceSpec, run_pipeline

    out = str(TMP / "flagship_out")
    spec = PipelineSpec(
        name="events_to_dwh",
        source=SourceSpec(path=f"{SF_SMOKE}/events.parquet"),
        transforms=[
            {"op": "filter", "expr": "event_type <> 'error'"},
            {"op": "time_derive", "ts_col": "ts"},
            {"op": "constants", "values": {"version_": "v1"}},
            {"op": "ordered_dedup", "dedup_by": ["user_id", "event_type"], "order_by": ["ts", "event_id"]},
            {"op": "select", "columns": ["event_id", "user_id", "event_type", "datetime_s", "month_", "version_"]},
        ],
        sink=SinkSpec(path=out, format="parquet"),
    )
    report = run_pipeline(spark, spec)
    assert report["status"] == "ok"
    back = spark.read.parquet(out)
    assert back.count() > 0
    assert set(back.columns) == {"event_id", "user_id", "event_type", "datetime_s", "month_", "version_"}
    # dedup really applied
    assert back.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0


def test_cli_runner_round_trips_flagship(spark, capsys):
    """`python -m etl_mini_spark.run config.json` shape parity with the
    reference's JSON-config argv runner (internal_raw_to_dwh.py): the
    flagship spec as a JSON file round-trips through spec_from_dict +
    main() and produces the same parquet output; a typo'd config fails
    loudly with exit code 1, not a silently different pipeline."""
    from etl_mini_spark.run import main

    out = str(TMP / "cli_out")
    cfg = {
        "name": "events_to_dwh_cli",
        "source": {"path": f"{SF_SMOKE}/events.parquet"},
        "transforms": [
            {"op": "filter", "expr": "event_type <> 'error'"},
            {"op": "time_derive", "ts_col": "ts"},
            {"op": "ordered_dedup", "dedup_by": ["user_id", "event_type"],
             "order_by": ["ts", "event_id"]},
            {"op": "select", "columns": ["event_id", "user_id", "event_type", "datetime_s"]},
        ],
        "sink": {"path": out, "format": "parquet"},
    }
    cfg_path = TMP / "cli_cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    assert main([str(cfg_path)]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["status"] == "ok" and report["pipeline"] == "events_to_dwh_cli"
    back = spark.read.parquet(out)
    assert back.count() > 0
    assert set(back.columns) == {"event_id", "user_id", "event_type", "datetime_s"}

    bad = dict(cfg, transforms=[{"op": "no_such_op"}])
    bad_path = TMP / "cli_bad.json"
    bad_path.write_text(json.dumps(bad))
    assert main([str(bad_path)]) == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert err["status"] == "error" and "no_such_op" in err["error"]

    typo = dict(cfg)
    typo["windw_end"] = "2024-01-01T00:00:00"
    typo_path = TMP / "cli_typo.json"
    typo_path.write_text(json.dumps(typo))
    assert main([str(typo_path)]) == 1
    capsys.readouterr()

    # missing required keys and a non-object root must keep the
    # machine-readable error contract (ADVICE r07), not traceback
    for broken in ({"name": "x", "sink": cfg["sink"]},          # no source
                   {"name": "x", "source": cfg["source"]},      # no sink
                   ["not", "an", "object"]):                    # non-dict root
        broken_path = TMP / "cli_broken.json"
        broken_path.write_text(json.dumps(broken))
        assert main([str(broken_path)]) == 1
        err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert err["status"] == "error" and "invalid pipeline config" in err["error"]


def test_pipeline_missing_source_gate(spark):
    from etl_mini_spark.plans.pipeline import PipelineSpec, SinkSpec, SourceSpec, run_pipeline
    from etl_mini_spark.sources.readers import SourceMissingError

    spec = PipelineSpec(
        name="missing",
        source=SourceSpec(path=str(TMP / "nope.parquet")),
        sink=SinkSpec(path=str(TMP / "never")),
    )
    with pytest.raises(SourceMissingError):
        run_pipeline(spark, spec)
    spec.source.fail_on_missing = False
    assert run_pipeline(spark, spec)["status"] == "skipped"


def test_checkpoint_advances_only_on_success(spark):
    from datetime import datetime

    from etl_mini_spark.plans.checkpoint import CheckpointTable
    from etl_mini_spark.plans.pipeline import PipelineSpec, SinkSpec, SourceSpec, run_pipeline

    ckpt_path = str(TMP / "ckpt_tbl")
    out = str(TMP / "incr_out")
    spec = PipelineSpec(
        name="incr",
        source=SourceSpec(path=f"{SF_SMOKE}/events.parquet"),
        sink=SinkSpec(path=out),
        incremental_ts_col="ts",
        window_end=datetime(2024, 1, 15),
        checkpoint_path=ckpt_path,
    )
    r1 = run_pipeline(spark, spec)
    assert r1["status"] == "ok" and r1["window_start"] is None
    ck = CheckpointTable(spark, ckpt_path)
    assert ck.last_window_end("incr") == datetime(2024, 1, 15)

    # second window starts where the first committed
    spec.window_end = datetime(2024, 2, 1)
    spec.sink.mode = "append"
    r2 = run_pipeline(spark, spec)
    assert r2["window_start"] == datetime(2024, 1, 15)

    # a skipped run must NOT advance the checkpoint
    spec.source = SourceSpec(path=str(TMP / "gone.parquet"), fail_on_missing=False)
    spec.window_end = datetime(2024, 3, 1)
    assert run_pipeline(spark, spec)["status"] == "skipped"
    assert ck.last_window_end("incr") == datetime(2024, 2, 1)


def test_checkpoint_concurrent_commit_fails_loudly(spark, tmp_path):
    """Two commits racing the same checkpoint table would base their
    merges on the same pre-swap rows and the loser's row would vanish
    (last-writer-wins at TABLE level). The pinned semantics: the second
    commit raises ConcurrentCommitError while a lock marker exists, and
    commits succeed again once the in-flight one releases it — no
    silent row loss, both pipelines' rows preserved."""
    from datetime import datetime

    from etl_mini_spark.plans.checkpoint import CheckpointTable, ConcurrentCommitError
    from etl_mini_spark.sources.fs import fs_create_marker, fs_exists

    path = str(tmp_path / "ck")
    ck = CheckpointTable(spark, path)
    ck.commit("pipe_a", None, datetime(2024, 1, 1))

    # simulate an in-flight committer holding the lock
    assert fs_create_marker(spark, path + ".lock")
    with pytest.raises(ConcurrentCommitError):
        ck.commit("pipe_b", None, datetime(2024, 1, 2))
    # the failed commit must not have dropped pipe_a or written pipe_b
    assert ck.last_window_end("pipe_a") == datetime(2024, 1, 1)
    assert ck.last_window_end("pipe_b") is None

    # lock released (by the in-flight committer finishing) → commit ok,
    # and the lock is cleaned up afterwards
    from etl_mini_spark.sources.fs import fs_delete

    fs_delete(spark, path + ".lock")
    ck.commit("pipe_b", None, datetime(2024, 1, 2))
    assert ck.last_window_end("pipe_a") == datetime(2024, 1, 1)
    assert ck.last_window_end("pipe_b") == datetime(2024, 1, 2)
    assert not fs_exists(spark, path + ".lock")


def test_checkpoint_read_and_commit_run_no_job(spark, tmp_path):
    """The control plane of a batch is plain file I/O: a
    ``last_window_end`` + ``commit`` pair starts no Spark job."""
    from datetime import datetime

    from etl_mini_spark.plans.checkpoint import CheckpointTable

    sc = spark.sparkContext
    ck = CheckpointTable(spark, str(tmp_path / "ck"))
    ck.commit("warm", None, datetime(2024, 1, 1))
    group = "checkpoint-no-job"
    sc.setJobGroup(group, group)
    try:
        assert ck.last_window_end("p") is None
        ck.commit("p", None, datetime(2024, 1, 2))
        assert ck.last_window_end("p") == datetime(2024, 1, 2)
        ck.commit("p", datetime(2024, 1, 2), datetime(2024, 1, 3))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_checkpoint_manifest_per_pipeline(spark, tmp_path):
    """One JSON manifest per pipeline (name URL-quoted); tz-aware
    timestamps are stored as naive UTC."""
    from datetime import datetime, timedelta, timezone

    from etl_mini_spark.plans.checkpoint import CheckpointTable

    path = tmp_path / "ck"
    ck = CheckpointTable(spark, str(path))
    plus2 = timezone(timedelta(hours=2))
    ck.commit("team/events", datetime(2024, 1, 1, 2, tzinfo=plus2), datetime(2024, 1, 2, 2, tzinfo=plus2))
    m = json.loads((path / "team%2Fevents.json").read_text())
    assert m["pipeline_name"] == "team/events"
    assert (m["window_start"], m["window_end"]) == ("2024-01-01T00:00:00", "2024-01-02T00:00:00")
    assert datetime.fromisoformat(m["updated_at"]).tzinfo is None
    assert ck.last_window_end("team/events") == datetime(2024, 1, 2)
    assert ck.last_window_end("team") is None


def test_checkpoint_legacy_parquet_layout_fails_loudly(spark, tmp_path):
    """A checkpoint directory in the old parquet-table layout must not
    read as "no checkpoint" (that would re-extract from the start)."""
    from datetime import datetime

    from pyspark.sql import Row

    from etl_mini_spark.plans.checkpoint import CheckpointTable, LegacyCheckpointError

    path = str(tmp_path / "legacy_ck")
    spark.createDataFrame(
        [Row(pipeline_name="incr", window_start=None, window_end=datetime(2024, 1, 15),
             updated_at=datetime(2024, 1, 15))],
        schema="pipeline_name string, window_start timestamp, window_end timestamp, "
               "updated_at timestamp",
    ).write.parquet(path)
    ck = CheckpointTable(spark, path)
    with pytest.raises(LegacyCheckpointError, match="legacy_ck"):
        ck.last_window_end("incr")


def test_upsert_parquet_roundtrip(spark):
    import shutil

    from pyspark.sql import Row

    from etl_mini_spark.operators.upsert import upsert_parquet

    path = str(TMP / "upsert_tbl")
    shutil.rmtree(path, ignore_errors=True)
    b1 = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    upsert_parquet(spark, path, b1, keys=["k"])
    b2 = spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")])
    upsert_parquet(spark, path, b2, keys=["k"])
    out = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "B", 3: "c"}


def test_upsert_parquet_file_uri(spark):
    """The stage-swap must go through the Hadoop FileSystem API — an
    explicit file:// URI (which pathlib/shutil can't handle) proves the
    FS-API path end-to-end."""
    import shutil

    from pyspark.sql import Row

    from etl_mini_spark.operators.upsert import upsert_parquet

    local = TMP / "upsert_uri_tbl"
    shutil.rmtree(local, ignore_errors=True)
    uri = f"file://{local}"
    upsert_parquet(spark, uri, spark.createDataFrame([Row(k=1, v="a")]), keys=["k"])
    upsert_parquet(
        spark, uri, spark.createDataFrame([Row(k=1, v="A"), Row(k=2, v="b")]), keys=["k"]
    )
    out = {r["k"]: r["v"] for r in spark.read.parquet(uri).collect()}
    assert out == {1: "A", 2: "b"}
    assert not (TMP / "upsert_uri_tbl__stage").exists()  # swap completed


def test_run_layout_file_uri(spark):
    from etl_mini_spark.session import load_table
    from etl_mini_spark.sources.writers import resolve_latest, write_run_layout

    import shutil

    local = TMP / "runlayout_uri"
    shutil.rmtree(local, ignore_errors=True)
    base = f"file://{local}"
    df = load_table(spark, SF_SMOKE, "region")
    write_run_layout(df, base)
    assert resolve_latest(spark, base).count() == df.count()
    assert (local / "latest.json").exists()
    assert not (local / "latest.json.tmp").exists()


def test_run_layout_latest_pointer(spark):
    from etl_mini_spark.session import load_table
    from etl_mini_spark.sources.writers import resolve_latest, write_run_layout

    base = str(TMP / "runlayout")
    df = load_table(spark, SF_SMOKE, "region")
    p1 = write_run_layout(df, base)
    p2 = write_run_layout(df.limit(3), base)
    assert p1 != p2
    latest = resolve_latest(spark, base)
    assert latest.count() == 3
    assert json.loads((Path(base) / "latest.json").read_text())["latest"] == p2


def test_partitioned_writer_prunes(spark):
    from etl_mini_spark.session import load_table
    from etl_mini_spark.sources.writers import write_partitioned_by_type_date

    path = str(TMP / "events_partitioned")
    e = load_table(spark, SF_SMOKE, "events")
    write_partitioned_by_type_date(e, path, "event_type", "ts")
    back = spark.read.parquet(path)
    assert back.count() == e.count()
    one = back.filter("event_type = 'click' AND __date = '2024-01-05'")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() > 0
    # partition filters must prune, not post-filter the full scan
    assert "PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]


def test_csv_reader_bom_and_coerce(spark):
    from etl_mini_spark.sources.readers import read_csv

    p = TMP / "bom.csv"
    p.write_bytes("﻿Name Col,When\nx,2024-01-01 00:00:00\ny,not-a-date\n".encode("utf-8"))
    df = read_csv(
        spark,
        str(p),
        rename_map={"Name Col": "name", "When": "when_ts"},
        type_map={"when_ts": "timestamp"},
    )
    rows = {r["name"]: r["when_ts"] for r in df.collect()}
    assert set(rows) == {"x", "y"}, f"BOM not stripped: {set(rows)}"
    assert rows["y"] is None  # coerce, not raise
    assert rows["x"] is not None


def test_compact_parquet(spark):
    import shutil

    from etl_mini_spark.session import load_table
    from etl_mini_spark.sources.writers import compact_parquet

    local = TMP / "compact_tbl"
    shutil.rmtree(local, ignore_errors=True)
    src = load_table(spark, SF_SMOKE, "lineitem")
    src.repartition(16).write.parquet(str(local))  # fragmented ingest
    before_files = len(list(local.glob("part-*")))
    before = src.count()
    n_files = compact_parquet(spark, str(local), target_mb=256)
    assert n_files < before_files and n_files >= 1
    after = spark.read.parquet(str(local))
    assert after.count() == before
    assert not (TMP / "compact_tbl__compact").exists()


def test_sorted_write_has_disjoint_file_ranges(spark):
    """write_sorted_for_skipping must produce files whose parquet
    min/max stats cover disjoint ranges of the sort column — the
    property that makes file/row-group skipping work."""
    import shutil

    import pyarrow.parquet as pq

    from etl_mini_spark.session import load_table
    from etl_mini_spark.sources.writers import write_sorted_for_skipping

    local = TMP / "sorted_tbl"
    shutil.rmtree(local, ignore_errors=True)
    src = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_extendedprice")
    write_sorted_for_skipping(src, str(local), "l_orderkey", num_files=4)
    ranges = []
    for f in sorted(local.glob("part-*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        col = [md.row_group(i).column(0) for i in range(md.num_row_groups)]
        assert all(c.path_in_schema == "l_orderkey" for c in col)
        lo = min(c.statistics.min for c in col)
        hi = max(c.statistics.max for c in col)
        ranges.append((lo, hi))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary key may repeat)
