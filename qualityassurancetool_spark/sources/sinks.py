"""Sinks (reference S9–S12): flag write-back, JSON patch files, CSV export.

The reference PATCHes flags back over HTTP in ``$batch`` requests
(``src/main.py:854-859``) with a dry-run switch (``:317``).  Here the same
contract is: build patch bodies as JSON rows (testable, deterministic), then
either (a) write them as a parquet/text *flags table* — the idempotent
re-runnable path, partition-overwrite per time window — or (b) stream them
through ``foreachPartition`` with an injectable sender (executors each post
their partition's batches; nothing funnels through the driver).
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import operator
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from qualityassurancetool_spark.functions import fs


def build_patch_bodies(
    df: DataFrame,
    id_col: str = "iot_id",
    flag_col: str = "qc_flag",
    url_entity: str = "Observations",
) -> DataFrame:
    """One JSON PATCH body per observation (reference
    ``create_patch_json``, ``src/main.py:822-841``)."""
    return df.select(
        F.col(id_col).alias("entity_id"),
        F.to_json(
            F.struct(F.col(flag_col).cast("int").alias("resultQuality"))
        ).alias("body"),
        F.concat(
            F.lit(f"{url_entity}("), F.col(id_col).cast("string"), F.lit(")")
        ).alias("url_path"),
    )


def build_feature_patch_bodies(
    df: DataFrame,
    feature_id_col: str = "feature_id",
    feature_flag_col: str = "feature_qc_flag",
    url_entity: str = "FeaturesOfInterest",
) -> DataFrame:
    """One PATCH body per *FeatureOfInterest* (reference feature-flag
    patch: ``patch_qc_flags(columns=[Df.FEATURE_ID, Df.FEATURE_QC_FLAG],
    url_entity=Entities.FEATURESOFINTEREST, json_body_template=
    FEATURES_BODY_TEMPLATE)``, ``src/main.py:638-652``).

    Observations sharing a feature may carry different flag values after
    overlapping windows, so the builder aggregates severity-max per
    feature first — one deterministic body per feature id, not one per
    observation row.  SensorThings has no ``resultQuality`` on a feature,
    so the flag travels in the entity's ``properties`` (the public STA
    extension point)."""
    from qualityassurancetool_spark.flags import flag_rank, rank_to_flag

    per_feature = (
        df.where(F.col(feature_id_col).isNotNull())
        .where(F.col(feature_flag_col).isNotNull())
        .groupBy(F.col(feature_id_col).alias("entity_id"))
        .agg(rank_to_flag(F.max(flag_rank(feature_flag_col))).alias("_flag"))
    )
    return per_feature.select(
        "entity_id",
        F.to_json(
            F.struct(
                F.struct(
                    F.col("_flag").cast("int").alias("qc_flag")
                ).alias("properties")
            )
        ).alias("body"),
        F.concat(
            F.lit(f"{url_entity}("),
            F.col("entity_id").cast("string"),
            F.lit(")"),
        ).alias("url_path"),
    )


def write_patch_files(df: DataFrame, path: str) -> None:
    """S11: serialize would-be PATCH bodies to files (debug/audit dump)."""
    build_patch_bodies(df).select(
        F.to_json(F.struct("entity_id", "url_path", "body")).alias("line")
    ).write.mode("overwrite").text(path)


def write_flags_table(
    df: DataFrame,
    path: str,
    id_col: str = "iot_id",
    flag_col: str = "qc_flag",
    ts_col: str | None = "phenomenon_time",
) -> None:
    """Whole-day flags write: a parquet table partitioned by date whose
    touched DAY partitions are replaced wholesale (dynamic partition
    overwrite).  Correct ONLY when ``df`` carries a day's complete flag
    set — a window/micro-batch covering part of a day would DELETE the
    day's other rows; those callers use :func:`upsert_flags_table`
    (review finding, round 8)."""
    out = df.select(
        F.col(id_col),
        F.col(flag_col),
        *([F.to_date(F.col(ts_col)).alias("flag_date")] if ts_col else []),
    )
    writer = out.write.mode("overwrite")
    if ts_col:
        writer = writer.partitionBy("flag_date").option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(path)


_DAY_DIR = "flag_date="
# the directory Spark writes NULL partition values under
_NULL_DAY = "__HIVE_DEFAULT_PARTITION__"


def _parse_day(dirname: str) -> dt.date | None:
    value = dirname[len(_DAY_DIR):]
    return None if value == _NULL_DAY else dt.date.fromisoformat(value)


def _day_dir(day: dt.date | None) -> str:
    return _DAY_DIR + (_NULL_DAY if day is None else day.isoformat())


def _day_match(days: list[dt.date | None]) -> Column:
    """Null-safe ``flag_date`` membership (``isin`` never matches NULL)."""
    return functools.reduce(
        operator.or_, (F.col("flag_date").eqNullSafe(d) for d in days)
    )


def upsert_flags_table(
    df: DataFrame,
    path: str,
    id_col: str = "iot_id",
    flag_col: str = "qc_flag",
    ts_col: str = "phenomenon_time",
    sweep_moved_ids: bool = False,
) -> None:
    """ROW-level last-writer-wins upsert into the date-partitioned flags
    table — the reference PATCHes flags per observation
    (``src/main.py:366-395``), and the windowed runner's default 10-min
    windows put many windows in one day, so the per-day overwrite of
    :func:`write_flags_table` would delete a day's earlier windows'
    rows on every run (review finding, round 8).

    Protocol, all inside ``<path>/_upsert_stage`` (underscore-prefixed =
    invisible to readers):

    1. the batch projection ``(id, flag, flag_date)`` is written ONCE,
       partitioned by day, to ``batch/`` — the upstream plan (the QC
       chain) runs exactly once per call;
    2. the touched days are the ``flag_date=`` subdirectories of
       ``batch/`` (a listing, no Spark job);
    3. the table's touched day directories are read by path, their rows
       anti-joined on ``id_col`` against the batch, unioned with the
       batch and written, partitioned by day, to ``merged/``;
    4. the days of the rewrite set that ``merged/`` left empty are
       recorded in ``emptied_days``, then each ``merged/`` day replaces
       its table directory by delete + rename and each emptied day is
       deleted.

    Re-running the same window converges (its rows replace the same
    ids).  Step 4 is the one non-atomic step — parquet has no
    multi-partition commit, nor does Spark's dynamic overwrite.  An
    upsert that finds ``emptied_days`` (written only after ``merged/``
    committed) first finishes that interrupted swap, so a crash inside
    it is recovered by the next call, e.g. the cron loop re-running the
    window.  A transactional table format is the 100 TB upgrade
    path for that boundary.

    NULL ``ts_col`` rows land in the ``__HIVE_DEFAULT_PARTITION__`` day
    and upsert row by row like dated rows.  The table must keep the
    batch projection's column types (it is read with that schema).

    Date-move contract (review finding, round 8): the default fast
    path rewrites only the batch's own day partitions, assuming an
    observation id maps to exactly one date — true for the reference,
    whose ``phenomenon_time`` is immutable per observation.  If a
    source CAN re-date an observation (a corrected timestamp crossing
    midnight), pass ``sweep_moved_ids=True``: one extra full-table id
    semi-join widens the rewrite set to any old partition still
    holding a batch id, so the stale row under the old date is
    dropped; a swept day left with no rows is deleted in step 4.  The
    sweep's scan is table-sized, so it is opt-in."""
    spark = df.sparkSession
    out = df.select(
        F.col(id_col),
        F.col(flag_col),
        F.to_date(F.col(ts_col)).alias("flag_date"),
    )
    if not fs.path_exists(spark, path):
        (
            out.write.mode("overwrite")
            .partitionBy("flag_date")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )
        return
    root = path.rstrip("/")
    stage = f"{root}/_upsert_stage"
    _finish_swap(spark, root, stage)
    out.write.mode("overwrite").partitionBy("flag_date").parquet(
        f"{stage}/batch"
    )
    days = [
        _parse_day(d) for d in fs.list_subdirs(spark, f"{stage}/batch", _DAY_DIR)
    ]
    if days:
        batch = spark.read.schema(out.schema).parquet(f"{stage}/batch")
        if sweep_moved_ids:
            days += [
                r[0]
                for r in spark.read.schema(out.schema)
                .parquet(root)
                .join(
                    F.broadcast(batch.select(id_col).distinct()),
                    id_col,
                    "left_semi",
                )
                .where(~_day_match(days))
                .select("flag_date")
                .distinct()
                .collect()
            ]
        # read by path: lists only the touched days (not the whole
        # table), and the NULL day matches by its directory name
        present = [
            f"{root}/{d}"
            for d in map(_day_dir, days)
            if fs.path_exists(spark, f"{root}/{d}")
        ]
        merged = batch
        if present:
            keep = (
                spark.read.schema(out.schema)
                .option("basePath", root)
                .parquet(*present)
                .join(batch.select(id_col), id_col, "left_anti")
            )
            merged = keep.unionByName(batch)
        # one shuffle by day keeps the file count per day bounded (AQE
        # coalesces small days into one task, splits big ones)
        (
            merged.hint("rebalance", "flag_date")
            .write.mode("overwrite")
            .partitionBy("flag_date")
            .parquet(f"{stage}/merged")
        )
        staged = set(fs.list_subdirs(spark, f"{stage}/merged", _DAY_DIR))
        fs.write_text(
            spark,
            f"{stage}/emptied_days",
            "\n".join(d for d in map(_day_dir, days) if d not in staged),
        )
    _finish_swap(spark, root, stage)


def _finish_swap(spark: SparkSession, root: str, stage: str) -> None:
    """Step 4 of :func:`upsert_flags_table` when the stage recorded its
    emptied days (so ``merged/`` is complete), then drop the stage.
    Idempotent: moved days are no longer under ``merged/``, and deleting
    an emptied day twice is harmless."""
    marker = f"{stage}/emptied_days"
    if fs.path_exists(spark, marker):
        merged = f"{stage}/merged"
        for day in fs.list_subdirs(spark, merged, _DAY_DIR):
            fs.delete_path(spark, f"{root}/{day}")
            fs.rename_overwrite(spark, f"{merged}/{day}", f"{root}/{day}")
        for day in fs.read_text(spark, marker).split():
            fs.delete_path(spark, f"{root}/{day}")
    fs.delete_path(spark, stage)


def make_http_batch_sender(
    base_url: str,
    auth: tuple[str, str] | None = None,
    timeout: float = 30.0,
    retries: int = 4,
    backoff: float = 0.5,
) -> Callable[[list[Row]], None]:
    """Live sender for :func:`http_patch_sink`: POSTs each batch as ONE
    SensorThings ``$batch`` request (JSON batching, the reference's
    ``$batch`` endpoint — ``src/main.py:318,854-859``) with
    retry/backoff.  Runs executor-side: the returned closure only
    captures plain strings/numbers, so it pickles cleanly into
    ``foreachPartition``.

    Raises :class:`~..sources.http_client.HttpError` (which fails the
    task → Spark task retry → idempotent re-PATCH, safe because flag
    writes are last-writer-wins) if a batch cannot be delivered."""
    batch_url = base_url.rstrip("/") + "/$batch"

    def sender(rows: list[Row]) -> None:
        from .http_client import request_json

        body = {
            "requests": [
                {
                    "id": str(i),
                    "method": "patch",
                    "url": r["url_path"],
                    "body": json.loads(r["body"]),
                }
                for i, r in enumerate(rows)
            ]
        }
        request_json(
            batch_url,
            method="POST",
            body=body,
            auth=auth,
            timeout=timeout,
            retries=retries,
            backoff=backoff,
        )

    return sender


def http_patch_sink(
    df: DataFrame,
    sender: Callable[[list[Row]], None] | None = None,
    batch_size: int = 100,
    dry_run: bool = True,
) -> int:
    """S10: executor-side batched PATCH via ``foreachPartition``.

    ``sender`` receives one list of Rows per batch; the default dry-run
    sender counts bodies without any I/O (reference dry-run switch).
    Returns the number of patch bodies produced.  A sending call runs
    the upstream plan once: the count rides the ``foreachPartition``
    action as an accumulator, which Spark applies once per task even
    when a task is retried.
    """
    bodies = build_patch_bodies(df)
    if dry_run and sender is None:
        return bodies.count()
    sent = df.sparkSession.sparkContext.accumulator(0)

    def handle(partition: Iterator[Row]) -> None:
        batch: list[Row] = []
        n = 0
        for row in partition:
            batch.append(row)
            n += 1
            if len(batch) >= batch_size:
                sender(batch)  # type: ignore[misc]
                batch = []
        if batch:
            sender(batch)  # type: ignore[misc]
        sent.add(n)

    bodies.foreachPartition(handle)
    return sent.value


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S9 CSV sink; ``single_file`` coalesces (export-sized data only)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)
