"""Pipeline metadata / checkpoint store (reference: the per-run
metadata upsert in elasticsearch_to_postgresql.py:213-258 + the
not-advanced-when-source-missing rule, standard_pipeline.py:20-23,
117-124).

Layout: one small JSON manifest per pipeline,
``{path}/{quote(pipeline_name)}.json``, holding ``pipeline_name``,
``window_start``, ``window_end`` and ``updated_at`` as ISO-8601
strings. A tz-aware timestamp is stored as naive UTC; a naive one is
stored as given. Like the reference's one-row upsert this is a
per-key write: a commit is one atomic manifest swap
(``fs_write_text``: FileContext rename with OVERWRITE) and a read is
an existence probe plus one small file read. Neither runs a Spark job,
and pipelines sharing a checkpoint directory never rewrite each
other's state.

The incremental contract: the next run's half-open window starts at
the last committed ``window_end`` — a failed or skipped run leaves the
checkpoint untouched, so retries re-extract the same window
(idempotent together with an upsert/overwrite sink).

Lock: commits to one checkpoint directory are serialized by an
advisory ``{path}.lock`` marker (atomic create); a commit that finds
it raises ``ConcurrentCommitError``.

Legacy layout: checkpoints used to be a parquet table keyed by
pipeline name in ``{path}`` itself. A directory that still holds
parquet data but no manifest for the pipeline raises
``LegacyCheckpointError`` naming the path, instead of reading as "no
checkpoint" and silently re-extracting from the beginning."""

from __future__ import annotations

import json
from datetime import datetime, timezone
from urllib.parse import quote

from pyspark.sql import SparkSession

from etl_mini_spark.sources.fs import (
    _fs_and_path,
    fs_create_marker,
    fs_delete,
    fs_exists,
    fs_read_text,
    fs_write_text,
)


def _iso(ts: datetime | None) -> str | None:
    if ts is None:
        return None
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts.isoformat()


class CheckpointTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    def _manifest(self, pipeline_name: str) -> str:
        return f"{self.path}/{quote(pipeline_name, safe='')}.json"

    def last_window_end(self, pipeline_name: str) -> datetime | None:
        """The committed high-water mark, or None on first run."""
        manifest = self._manifest(pipeline_name)
        if fs_exists(self.spark, manifest):
            we = json.loads(fs_read_text(self.spark, manifest))["window_end"]
            return datetime.fromisoformat(we) if we else None
        fs, p = _fs_and_path(self.spark, self.path + "/*.parquet")
        if fs.globStatus(p):
            raise LegacyCheckpointError(
                f"checkpoint directory {self.path} holds a parquet checkpoint table "
                f"but no manifest for pipeline {pipeline_name!r} ({manifest}); "
                "write the pipeline's manifest from that table, or move the "
                "directory away to re-extract from the beginning"
            )
        return None

    def commit(self, pipeline_name: str, window_start, window_end) -> None:
        """Replace this pipeline's manifest (≡ the reference's upsert
        ON CONFLICT (pipeline_name)).

        Concurrency contract: commits are serialized by an advisory
        lock marker (atomic create). A concurrent commit raises
        ``ConcurrentCommitError`` loudly and the caller retries. A
        crashed committer leaves a stale lock; operators remove
        ``{path}.lock`` manually after verifying no commit is running."""
        lock = self.path + ".lock"
        if not fs_create_marker(self.spark, lock):
            raise ConcurrentCommitError(
                f"checkpoint commit already in progress for {self.path} "
                f"(lock: {lock}); retry after it finishes, or remove a "
                "stale lock left by a crashed committer"
            )
        try:
            record = {
                "pipeline_name": pipeline_name,
                "window_start": _iso(window_start),
                "window_end": _iso(window_end),
                "updated_at": _iso(datetime.now(timezone.utc)),
            }
            fs_write_text(self.spark, self._manifest(pipeline_name), json.dumps(record))
        finally:
            fs_delete(self.spark, lock)


class ConcurrentCommitError(RuntimeError):
    """A second checkpoint commit raced an in-flight one; the loser
    fails loudly instead of silently overwriting the winner's state."""


class LegacyCheckpointError(RuntimeError):
    """The checkpoint directory is in the old parquet-table layout and
    has no manifest for the pipeline being read."""
