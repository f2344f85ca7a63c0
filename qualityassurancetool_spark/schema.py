"""Observations data model.

The engine's fundamental abstraction is one long/narrow observations table
(reference §1: one row per observation — ``src/main.py:39-45``, physical
columns in ``tests/resources/df_outliers.csv:1``).  This module owns the
canonical column names, the explicit Spark schema, and adapters from the
driver's testdata tables (``events``) into that shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class Obs:
    """Canonical observation column names (reference ``Df`` enum analog)."""

    IOT_ID = "iot_id"
    RESULT = "result"
    TIME = "phenomenon_time"
    QC_FLAG = "qc_flag"
    DATASTREAM_ID = "datastream_id"
    LAT = "lat"
    LONG = "long"
    FEATURE_ID = "feature_id"
    FEATURE_QC_FLAG = "feature_qc_flag"
    OBSERVATION_TYPE = "observation_type"
    UNITS = "units"
    REGION = "region"
    GRADIENT = "gradient"
    ZSCORE = "zscore"


OBSERVATIONS_SCHEMA = T.StructType(
    [
        T.StructField(Obs.IOT_ID, T.LongType(), False),
        T.StructField(Obs.RESULT, T.DoubleType(), True),
        T.StructField(Obs.TIME, T.TimestampType(), False),
        T.StructField(Obs.QC_FLAG, T.ByteType(), True),
        T.StructField(Obs.DATASTREAM_ID, T.LongType(), False),
        T.StructField(Obs.LAT, T.DoubleType(), True),
        T.StructField(Obs.LONG, T.DoubleType(), True),
        T.StructField(Obs.FEATURE_ID, T.LongType(), True),
        T.StructField(Obs.OBSERVATION_TYPE, T.StringType(), True),
        T.StructField(Obs.UNITS, T.StringType(), True),
        T.StructField(Obs.REGION, T.StringType(), True),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata parquet table.

    The ``events`` table stores ns-precision timestamps, which the parquet
    reader surfaces as long (``nanosAsLong``, set in session.py); convert to
    µs TimestampType by truncation — the same thing DuckDB's µs TIMESTAMP
    does, so oracle comparisons agree exactly.
    """
    # self-heal on sessions not built by session.get_spark (e.g. the
    # driver harness'): these are runtime-settable confs.  ns-as-long for
    # the ns-precision parquet; ANSI off because the engine's dirty-data
    # contract is null-on-error (Spark 4 flipped the default to on, which
    # would fail a whole job on one bad cast/div) — same environment-drift
    # class as the TIMESTAMP_NTZ round-1 incident.  The heal is a
    # per-call contract: a session may flip ANSI at any time between
    # calls (tests/test_session_drift.py pins it).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # the NTZ→TIMESTAMP self-heal below is value-exact ONLY under a UTC
    # session tz; pin it so a foreign session's local tz can't shift
    # every timestamp relative to the (naive-UTC) SQL oracles
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # a foreign session still on Spark's 200-partition default would run
    # this testdata-scale workload with 6x task overhead; only the
    # untouched default is overridden (a deliberate setting wins)
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        import os as _os

        spark.conf.set(
            "spark.sql.shuffle.partitions",
            _os.environ.get("SPARK_GRAFT_CPUS", "32"),
        )
    path = f"{sf_dir}/{name}.parquet"
    # a frame persisted over this path by an earlier build (e.g.
    # minhash_dedup's shingle frame) would otherwise be served to this
    # build by Spark's plan-matching cache lookup, even after the file
    # was replaced; refreshing drops its data so it is recomputed from
    # the files as they are now
    spark.catalog.refreshByPath(path)
    df = spark.read.parquet(path)
    for f_ in df.schema.fields:
        if f_.name == "ts" and isinstance(f_.dataType, T.LongType):
            # integral `div`, not float `/`: ns epochs (~1.7e18) exceed
            # double's exact-integer range and would lose precision
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif f_.name == "ts" and isinstance(f_.dataType, T.TimestampNTZType):
            # µs-precision parquet without tz metadata reads as TIMESTAMP_NTZ
            # on some sessions; unix_micros/withWatermark reject NTZ.  The
            # session timezone is UTC, so the cast is value-exact.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_as_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``events`` table onto the observations model
    (mapping fixed by /root/repo/FIXTURES.md F1: event_id→iot_id, ts→time,
    event_type→datastream key, value→result).

    ``event_type`` (string) plays the datastream role; a dense integer id is
    derived for operators that want a numeric stream id.  A deterministic
    synthetic ship-track (lat/long) is derived from the event id with pure
    integer-modular arithmetic so Spark and any SQL oracle reproduce the
    exact same doubles (no libm involved).
    """
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("event_id").alias(Obs.IOT_ID),
        F.col("value").alias(Obs.RESULT),
        F.col("ts").alias(Obs.TIME),
        F.lit(0).cast("tinyint").alias(Obs.QC_FLAG),
        F.col("user_id").alias("user_id"),
        F.col("event_type").alias(Obs.OBSERVATION_TYPE),
        # dense numeric stream id derived from the type string: stable, no lookup
        F.crc32(F.col("event_type")).cast("long").alias(Obs.DATASTREAM_ID),
        # deterministic synthetic track, exact in IEEE double on any engine:
        (F.lit(51.0) + ((F.col("event_id") * 7919) % 2000) / F.lit(10000.0)).alias(
            Obs.LAT
        ),
        (F.lit(3.0) + ((F.col("event_id") * 104729) % 2000) / F.lit(10000.0)).alias(
            Obs.LONG
        ),
    )
    return obs


# SQL fragment (DuckDB oracle) mirroring events_as_observations exactly.
EVENTS_AS_OBSERVATIONS_SQL = """
    SELECT
        event_id            AS iot_id,
        value               AS result,
        ts                  AS phenomenon_time,
        CAST(0 AS TINYINT)  AS qc_flag,
        user_id             AS user_id,
        event_type          AS observation_type,
        51.0 + ((event_id * 7919) % 2000) / 10000.0   AS lat,
        3.0  + ((event_id * 104729) % 2000) / 10000.0 AS long
    FROM events
"""
