from etl_mini_spark.queries._base import *  # noqa: F401,F403
from etl_mini_spark.queries._base import _t, _TMP  # noqa: F401

# =========================================================================
# Scans / projections / filters (SURVEY §2.1-2.2: DQ-1, DQ-7…DQ-12)
# =========================================================================

@q(
    "scan_checksum",
    """SELECT count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_event_id,
              round(sum(value), 2) AS sum_value
       FROM events""",
)
def scan_checksum(spark, sf_dir):
    """DQ-1: full scan, count + checksum (reference S1 scan parity)."""
    return _t(spark, sf_dir, "events").agg(
        F.count("*").alias("cnt"),
        F.sum("event_id").alias("sum_event_id"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@q(
    "project_select",
    """SELECT event_id, event_type, strftime(ts, '%Y-%m-%d') AS ts_date
       FROM events""",
)
def project_select(spark, sf_dir):
    """DQ-7: projection pushed to the parquet scan (P1)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.date_format("ts", "yyyy-MM-dd").alias("ts_date")
    )


@q(
    "filter_time_range",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
       FROM events
       WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
       GROUP BY event_type""",
)
def filter_time_range(spark, sf_dir):
    """DQ-10: half-open time-range predicate (P5), PUSHED to the parquet
    scan — the bound is applied to the raw ns value before conversion so
    row-group min/max stats prune (sources/readers.py)."""
    from datetime import datetime

    from etl_mini_spark.sources.readers import read_parquet

    e = read_parquet(
        spark,
        f"{sf_dir}/events.parquet",
        "ts",
        start=datetime(2024, 1, 10),
        end=datetime(2024, 1, 20),
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


@q(
    "filter_term",
    """SELECT event_id, user_id, value FROM events
       WHERE event_type = 'click' AND user_id % 3 = 0""",
)
def filter_term(spark, sf_dir):
    """DQ-11: conjunctive term-equality filters (P6)."""
    e = _t(spark, sf_dir, "events")
    return e.filter((F.col("event_type") == "click") & (F.col("user_id") % 3 == 0)).select(
        "event_id", "user_id", "value"
    )


@q(
    "nested_json_extract",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
              CAST(coalesce(json_extract_string(props, '$.missing'), 'dflt') AS VARCHAR) AS m
       FROM events""",
)
def nested_json_extract(spark, sf_dir):
    """DQ-8: nested-path extraction with default (P2/F4) from the JSON
    props column — ≡ the reference's nested_key walk
    (tsv_converter.py:169-177, data_processing.py:8-15)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.coalesce(F.get_json_object("props", "$.missing"), F.lit("dflt")).alias("m"),
    )


@q("tolerant_select", "SELECT c_custkey, c_name FROM customer")
def tolerant_select(spark, sf_dir):
    """DQ-9: tolerant column-subset select (P4) — requested columns that
    don't exist are skipped (require_all_columns=False semantics,
    pandas_select_and_enrich.py:60-69)."""
    c = _t(spark, sf_dir, "customer")
    wanted = ["c_custkey", "c_name", "bogus_column"]
    present = [x for x in wanted if x in c.columns]
    return c.select(*present)


@q(
    "drop_null_required",
    """SELECT count(*) AS cnt, round(sum(v2), 2) AS sum_v2 FROM (
         SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v2 FROM events
       ) WHERE v2 IS NOT NULL""",
)
def drop_null_required(spark, sf_dir):
    """DQ-12: not-null constraint as tolerant na.drop (P7/P8)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "v2", F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value"))
    )
    return e.na.drop(subset=["v2"]).agg(
        F.count("*").alias("cnt"), F.round(F.sum("v2"), 2).alias("sum_v2")
    )


# =========================================================================
