"""Source readers — the reference's extraction services re-expressed as
schema-explicit Spark reads.

- ``source_exists`` ≡ the existence gates (reference:
  elasticsearch_service.py:89-96, s3_service.py:79-92, and the
  warn-or-fail wiring in both standard pipelines).
- ``read_csv`` ≡ the S3 chunked CSV scan with rename/type maps
  (s3_service.py:155-184): chunks become partitions, rename maps become
  aliased selects, ``errors="coerce"`` casts become try_* functions.
  UTF-8 BOM is handled by the reader (≡ _process_csv_binary,
  s3_service.py:133-144).
- ``read_ndjson`` ≡ parse_json_lines input (data_processing.py:18-60).

Explicit schemas everywhere: schema inference is a full extra pass over
the data at 100 TB and can silently drift between runs.
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from datetime import timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SourceMissingError(Exception):
    """≡ the reference's fail_on_missing pipeline gate."""


def source_exists(spark: SparkSession, path: str) -> bool:
    """Driver-side existence probe — cheap, runs before any job."""
    if "://" not in path or path.startswith("file://"):
        return Path(path.removeprefix("file://")).exists()
    # Generic Hadoop FS probe for object stores / HDFS.
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def require_source(spark: SparkSession, path: str, fail_on_missing: bool = True) -> bool:
    """Existence gate: raise (fail_on_missing) or report False so the
    pipeline can skip WITHOUT advancing its checkpoint (see
    plans/checkpoint.py — reference standard_pipeline.py:20-23,73-79)."""
    if source_exists(spark, path):
        return True
    if fail_on_missing:
        raise SourceMissingError(f"source not found: {path}")
    return False


def _apply_type_map(df: DataFrame, type_map: dict[str, str]) -> DataFrame:
    """Coercing casts: unparseable values become NULL, not errors
    (≡ pd.to_datetime(..., errors='coerce') + nullable-string handling,
    s3_service.py:171-182)."""
    for col, typ in type_map.items():
        if col not in df.columns:
            continue
        if typ in ("timestamp", "datetime64[ns]"):
            df = df.withColumn(col, F.try_to_timestamp(F.col(col)))
        elif typ in ("bool", "boolean"):
            df = df.withColumn(col, F.lower(F.col(col)).cast("boolean"))
        elif typ == "str":
            # empty string → NULL (s3_service.py:179-180)
            df = df.withColumn(col, F.nullif(F.col(col).cast("string"), F.lit("")))
        else:
            df = df.withColumn(col, F.expr(f"try_cast({col} AS {typ})"))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    rename_map: dict[str, str] | None = None,
    type_map: dict[str, str] | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan with rename + coercing-cast maps. The reader consumes
    UTF-8 BOM when present; partitions replace the reference's 10k-row
    chunks and Catalyst prunes/pushes into the scan."""
    reader = spark.read.option("header", header).option("encoding", "UTF-8")
    df = reader.schema(schema).csv(path) if schema is not None else reader.csv(path)
    if rename_map:
        df = df.withColumnsRenamed(rename_map)
    if type_map:
        df = _apply_type_map(df, type_map)
    return df


def read_ndjson(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """JSON-Lines reader (schema strongly recommended at scale)."""
    reader = spark.read
    return reader.schema(schema).json(path) if schema is not None else reader.json(path)


def _is_hidden(name: str) -> bool:
    """Names Spark's file index skips (InMemoryFileIndex.shouldFilterOutPathName)."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith("._COPYING_")


def _sample_footer(spark: SparkSession, path: str):
    """``(ParquetMetadata, FileStatus, flat)`` for the data file Spark's
    own schema inference would read, or None when there is none.

    ``flat`` means that one footer is the whole table schema: a single
    file, or a directory of data files with no subdirectories and no
    summary files. A partitioned layout still gets a sample footer (for
    the nanosecond check) but keeps Spark's inference. Listing and the
    footer read go through the Hadoop FS, so any URI scheme works; a
    path Hadoop cannot stat (a glob, a missing path) or a footer that
    cannot be read returns None and leaves the error to Spark."""
    from py4j.protocol import Py4JJavaError

    from etl_mini_spark.sources.fs import _fs_and_path

    jvm = spark._jvm
    try:
        fs, p = _fs_and_path(spark, path)
        st = fs.getFileStatus(p)
        flat = True
        if st.isDirectory():
            files = []
            for child in fs.listStatus(p):
                child_path = child.getPath().toString()
                name = child_path.rsplit("/", 1)[-1]
                if name in ("_metadata", "_common_metadata"):
                    flat = False  # inference prefers summary files
                elif _is_hidden(name):
                    continue
                elif child.isDirectory():
                    flat = False
                else:
                    files.append((child_path, child))
            if flat:
                # Spark sorts the listing by path and reads the first file.
                st = min(files, key=lambda f: f[0])[1] if files else None
            else:
                root = st.getPath().toString().rstrip("/") + "/"
                st = None
                it = fs.listFiles(p, True)
                while it.hasNext():
                    f = it.next()
                    rel = f.getPath().toString().removeprefix(root)
                    if not any(_is_hidden(part) for part in rel.split("/")):
                        st = f
                        break
            if st is None:
                return None
        conf = spark._jsc.hadoopConfiguration()
        footer = jvm.org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
    except Py4JJavaError:
        return None
    return footer, st, flat


def _nanos_timestamp_cols(footer) -> list[str]:
    """Top-level columns whose parquet logical type is TIMESTAMP(NANOS).

    Spark cannot read those natively (PARQUET_TYPE_ILLEGAL); we read
    them as long via the legacy conf and convert to µs timestamps
    ourselves. The check is on the parquet logical type: Spark's INT96
    timestamps carry none, so they are read as timestamps (pyarrow's
    arrow schema reports INT96 as ``timestamp[ns]``)."""
    schema = footer.getFileMetaData().getSchema()
    if "TIMESTAMP(NANOS" not in schema.toString():  # one py4j call in the common case
        return []
    out = []
    for field in schema.getFields():
        ann = field.getLogicalTypeAnnotation()
        if ann is not None and ann.toString().startswith("TIMESTAMP(NANOS"):
            out.append(field.getName())
    return out


def _footer_schema(spark: SparkSession, footer, status) -> T.StructType:
    """The schema Spark's inference derives from this footer, computed
    in-process with Spark's own converter under the session's current
    confs (so the LTZ/NTZ and nanosAsLong settings apply as they would
    to inference) — without the inference job."""
    jvm = spark._jvm
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = pq.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf())
    jschema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(status.getPath(), footer), converter
    )
    return T.StructType.fromJson(json.loads(jschema.json()))


@contextmanager
def _force_ltz_timestamps(spark: SparkSession):
    """Read parquet TIMESTAMP(isAdjustedToUTC=false) as session-tz
    TIMESTAMP (LTZ), not TIMESTAMP_NTZ — scoped to the wrapped read.

    The driver-provided testdata stores naive µs timestamps; Spark 4's
    default ``inferTimestampNTZ`` maps those to TIMESTAMP_NTZ, which
    breaks instant-typed functions (``unix_micros``/``window``/
    watermarks) and diverges from the DuckDB oracle's naive-epoch math.
    With the session timezone pinned to UTC (session.load_table), an
    LTZ read of naive data is value-identical to the oracle.

    The conf only drives EAGER schema inference (the DataFrameReader
    resolves parquet footers at ``.parquet()`` time), so set/restore
    around the read is sound AND leaves the caller's session semantics
    untouched for subsequent non-framework ``spark.read.parquet`` calls
    (previously this helper flipped the conf permanently — NTZ data in
    the same session would silently read as LTZ afterwards)."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try:
        prev = spark.conf.get(key, None)
    except Exception:
        prev = None
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def read_parquet(
    spark: SparkSession,
    path: str,
    ts_col: str | None = None,
    start=None,
    end=None,
) -> DataFrame:
    """Parquet scan with the schema read from one footer, without a job.

    For a single file or a flat directory the ``StructType`` is built
    from the first data file's footer with Spark's own converter and
    passed to ``.schema()``: the same schema inference returns, without
    the inference job. Partitioned layouts, empty directories,
    unreadable footers and sessions that merge parquet schemas
    (``spark.sql.parquet.mergeSchema``) keep Spark's inference.

    TIMESTAMP(NANOS) columns are read as long (legacy conf) and
    converted to µs timestamps with integer DIV (ns epochs overflow a
    double mantissa). Naive timestamps read as session-tz TIMESTAMP (see
    ``_force_ltz_timestamps``).

    With ``ts_col`` the half-open range ``[start, end)`` is applied
    so it is PUSHED INTO the parquet scan. A filter applied after the
    ns→µs conversion wraps the column in ``timestamp_micros(... DIV
    1000)``, which Catalyst cannot push through, so every row group
    would be read. For a nanosecond ``ts_col`` the bounds are therefore
    compared with the RAW int64 value before conversion, so parquet
    row-group min/max statistics prune unread data; for µs timestamp
    columns the plain filter already pushes down.

    NOTE: when ns columns are present, ``nanosAsLong`` stays set on the
    session — that conf is consulted at EXECUTION time (not just schema
    resolution), so restoring it before the action runs would break the
    deferred scan. It is additive-safe: it only affects parquet files
    that actually contain TIMESTAMP(NANOS), which Spark cannot read at
    all without it."""
    footer, status, flat = _sample_footer(spark, path) or (None, None, False)
    ns_cols = _nanos_timestamp_cols(footer) if footer else []
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    with _force_ltz_timestamps(spark):
        reader = spark.read
        if flat and spark.conf.get("spark.sql.parquet.mergeSchema") != "true":
            reader = reader.schema(_footer_schema(spark, footer, status))
        df = reader.parquet(path)

    if ts_col is not None:
        if ts_col in ns_cols:
            start, end = _epoch_ns(start), _epoch_ns(end)
        if start is not None:
            df = df.filter(F.col(ts_col) >= F.lit(start))
        if end is not None:
            df = df.filter(F.col(ts_col) < F.lit(end))
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    return df


def _epoch_ns(dt):
    """Naive datetimes are UTC (the session tz ``load_table`` pins)."""
    if dt is None:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1_000_000) * 1000


def read_parquet_ts_range(
    spark: SparkSession,
    path: str,
    ts_col: str,
    start=None,
    end=None,
) -> DataFrame:
    """Half-open time-range scan ``[start, end)`` pushed into the parquet
    scan; ``read_parquet`` with ``ts_col`` (kept for existing callers)."""
    return read_parquet(spark, path, ts_col, start, end)
