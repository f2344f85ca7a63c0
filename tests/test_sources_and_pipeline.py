"""Sources (nested SensorThings flatten), sinks (patch bodies / flags
table), config layer, the end-to-end QC plan, pivot export, and the
micro-batch window runner."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from qualityassurancetool_spark.config import QCConfig
from qualityassurancetool_spark.operators.pivot_export import (
    best_record_per_second,
    pivot_wide,
    with_rounded_time,
)
from qualityassurancetool_spark.plans.qc_pipeline import (
    flag_histogram,
    run_qc_pipeline,
)
from qualityassurancetool_spark.schema import events_as_observations
from qualityassurancetool_spark.sources.sinks import (
    build_patch_bodies,
    http_patch_sink,
    write_flags_table,
)
from qualityassurancetool_spark.sources.sta_json import (
    flatten_response,
    read_sta_response,
)
from qualityassurancetool_spark.streaming.micro_batch import (
    iter_windows,
    windowed_batch_runner,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def test_sta_flatten(spark):
    raw = read_sta_response(spark, f"{HERE}/resources/sta_response.json")
    flat = flatten_response(raw)
    rows = flat.collect()
    assert len(rows) == 12  # 3 datastreams × 4 observations
    r0 = sorted(rows, key=lambda r: r["iot_id"])[0]
    assert r0["datastream_id"] == 0
    assert r0["lat"] == pytest.approx(51.37)
    assert r0["long"] == pytest.approx(3.18)
    assert r0["phenomenon_time"] is not None
    assert r0["units"] == "degC"
    # pagination marker surfaces
    assert flat.where(F.col("next_link").isNotNull()).count() > 0


def test_config_thresholds_df(spark):
    cfg = QCConfig.from_dict(
        {
            "QC": [
                {"id": "temp", "range": {"min": -2.0, "max": 30.0}},
                {"id": "sal", "range": {"min": 2.0, "max": 40.0}, "zscore": {"min": -3.0, "max": 3.0}},
                {"id": "bare"},
            ],
            "QC_global": {"zscore": {"min": -15.0, "max": 15.0}},
        }
    )
    t = {r["stream_id"]: r.asDict() for r in cfg.thresholds_df(spark).collect()}
    assert t["temp"]["qc_range_min"] == -2.0
    assert t["temp"]["qc_zscore_min"] == -15.0  # global fallback
    assert t["sal"]["qc_zscore_min"] == -3.0  # own value wins
    assert t["bare"]["qc_range_min"] is None


def test_qc_pipeline_end_to_end(spark):
    obs = events_as_observations(spark, "/root/testdata/sf0.001")
    cfg = QCConfig.from_dict(
        {
            "QC": [
                {"id": t, "range": {"min": 1.0, "max": 250.0}}
                for t in ["click", "purchase", "view", "signup", "error"]
            ],
            "QC_global": {"zscore": {"min": -6.0, "max": 6.0}},
        }
    )
    flagged = run_qc_pipeline(obs, cfg, spark)
    hist = {r["flag"]: r["n"] for r in flag_histogram(flagged).collect()}
    assert sum(hist.values()) == obs.count()
    assert hist.get(4, 0) > 0  # some out-of-range values exist
    assert hist.get(0, 0) > 0  # and plenty of clean rows


def test_patch_bodies_and_flags_table(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 4, dt.datetime(2023, 1, 1)), (2, 1, dt.datetime(2023, 1, 2))],
        "iot_id long, qc_flag tinyint, phenomenon_time timestamp",
    )
    bodies = build_patch_bodies(df).collect()
    by_id = {r["entity_id"]: r for r in bodies}
    assert by_id[1]["body"] == '{"resultQuality":4}'
    assert by_id[1]["url_path"] == "Observations(1)"

    n = http_patch_sink(df, dry_run=True)
    assert n == 2

    sent = []
    n2 = http_patch_sink(
        df, sender=lambda batch: sent.append(len(batch)), dry_run=False, batch_size=1
    )
    assert n2 == 2

    path = str(tmp_path / "flags")
    write_flags_table(df, path)
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert "flag_date" in back.columns


def test_http_patch_sink_sends_in_one_job(spark, tmp_path):
    """A sending call runs the upstream plan once: the returned count
    comes from an accumulator inside the ``foreachPartition`` action
    (no separate ``count()`` job) and equals the rows the sender got."""
    import uuid

    out = str(tmp_path / "sent")
    os.makedirs(out)

    def sender(batch):
        # executor-side: each batch lands in its own file
        with open(os.path.join(out, uuid.uuid4().hex), "w") as fh:
            fh.write("\n".join(str(r["entity_id"]) for r in batch))

    df = spark.range(0, 10, 1, 3).select(
        F.col("id").alias("iot_id"), F.lit(1).alias("qc_flag")
    )
    sc = spark.sparkContext
    group = f"patch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "http_patch_sink")
    try:
        n = http_patch_sink(df, sender=sender, dry_run=False, batch_size=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    received = []
    for name in os.listdir(out):
        with open(os.path.join(out, name)) as fh:
            received += [int(x) for x in fh.read().split()]
    assert n == len(received) == 10
    assert sorted(received) == list(range(10))
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_rounding_and_best_record(spark):
    t0 = dt.datetime(2023, 1, 1)
    rows = [
        # two records near second 10: flag 1 at 10.4s, flag 0(no-qc) at 9.9s
        (1, 1.0, t0 + dt.timedelta(seconds=10.4), 1, 7),
        (2, 2.0, t0 + dt.timedelta(seconds=9.9), 0, 7),
        # lone record rounding up to second 20
        (3, 3.0, t0 + dt.timedelta(seconds=19.6), 1, 7),
    ]
    df = spark.createDataFrame(
        rows,
        "iot_id long, result double, phenomenon_time timestamp, qc_flag tinyint, datastream_id long",
    )
    rounded = with_rounded_time(df).collect()
    assert {r["iot_id"]: r["ts_round"].second for r in rounded} == {1: 10, 2: 10, 3: 20}

    best = best_record_per_second(df).collect()
    by_sec = {r["ts_round"].second: r["iot_id"] for r in best}
    # flag GOOD(rank 1) loses to NO_QC(rank 0)? No: best = lowest rank?
    # reference sorts by flag quality — best first — NO_QC(0) sorts before GOOD(1)
    assert by_sec[10] == 2
    assert by_sec[20] == 3


def test_pivot_wide(spark):
    t0 = dt.datetime(2023, 1, 1)
    rows = [
        (1, 1.5, t0, 1, 100),
        (2, 9.5, t0, 1, 200),
        (3, 2.5, t0 + dt.timedelta(seconds=1), 1, 100),
    ]
    df = spark.createDataFrame(
        rows,
        "iot_id long, result double, phenomenon_time timestamp, qc_flag tinyint, datastream_id long",
    )
    out = pivot_wide(df, stream_values=[100, 200]).collect()
    assert len(out) == 2
    r0 = out[0].asDict()
    assert r0["100_result"] == 1.5 and r0["200_result"] == 9.5
    r1 = out[1].asDict()
    assert r1["100_result"] == 2.5 and r1["200_result"] is None


def test_iter_windows_overlap():
    t0 = dt.datetime(2023, 1, 1, 0, 0)
    t1 = dt.datetime(2023, 1, 1, 0, 30)
    wins = list(iter_windows(t0, t1, "10min", "5min"))
    assert wins[0] == (t0, t0 + dt.timedelta(minutes=10))
    assert wins[1][0] == t0 + dt.timedelta(minutes=5)  # re-covers 5 min
    assert wins[-1][1] == t1


def test_windowed_batch_runner_trims_lookback(spark):
    t0 = dt.datetime(2023, 1, 1)
    rows = [
        (i, float(i), t0 + dt.timedelta(minutes=i * 5), 0, 1) for i in range(12)
    ]
    df = spark.createDataFrame(
        rows,
        "iot_id long, result double, phenomenon_time timestamp, qc_flag tinyint, datastream_id long",
    )
    seen = []

    def load(lo, hi):
        return df.where(
            (F.col("phenomenon_time") >= F.lit(lo))
            & (F.col("phenomenon_time") < F.lit(hi))
        )

    def sink(out, lo, hi):
        seen.append((lo, hi, sorted(r["iot_id"] for r in out.collect())))

    n = windowed_batch_runner(
        spark,
        load,
        lambda d: d,
        sink,
        start=t0,
        end=t0 + dt.timedelta(minutes=60),
        width="20min",
        overlap="0s",
        lookback="30min",
    )
    assert n == 3
    # every observation lands in exactly one window (no overlap, lookback trimmed)
    all_ids = sorted(i for _, _, ids in seen for i in ids)
    assert all_ids == list(range(12))


def test_export_path_end_to_end_csv(spark, tmp_path):
    """§3.2 export path closed loop: round -> best-record -> pivot wide ->
    CSV sink -> read back with schema intact."""
    from qualityassurancetool_spark.operators.pivot_export import pivot_wide
    from qualityassurancetool_spark.sources.sinks import write_csv

    obs = events_as_observations(spark, "/root/testdata/sf0.001")
    wide = pivot_wide(
        obs,
        stream_values=["click", "error", "purchase", "signup", "view"],
        stream_col="observation_type",
    )
    out = str(tmp_path / "export")
    write_csv(wide, out, single_file=True)
    back = spark.read.csv(out, header=True, inferSchema=True)
    assert back.count() == wide.count()
    assert set(c.lower() for c in back.columns) == set(
        c.lower() for c in wide.columns
    )


def test_flags_table_rerun_overwrites_only_touched_days(spark, tmp_path):
    """§2.8 idempotent re-run: re-QC of one window must replace ONLY that
    window's partitions (dynamic partition overwrite), leaving earlier
    days' flags untouched."""
    day1 = dt.datetime(2023, 1, 1, 12)
    day2 = dt.datetime(2023, 1, 2, 12)
    first = spark.createDataFrame(
        [(1, 1, day1), (2, 1, day2)],
        "iot_id long, qc_flag tinyint, phenomenon_time timestamp",
    )
    path = str(tmp_path / "flags")
    write_flags_table(first, path)

    # re-run covers only day 2, with a changed flag and a new row
    rerun = spark.createDataFrame(
        [(2, 4, day2), (3, 3, day2)],
        "iot_id long, qc_flag tinyint, phenomenon_time timestamp",
    )
    write_flags_table(rerun, path)

    back = {
        r["iot_id"]: r["qc_flag"] for r in spark.read.parquet(path).collect()
    }
    assert back == {1: 1, 2: 4, 3: 3}  # day-1 row survived; day-2 replaced


def test_upsert_sweep_drops_stale_row_under_moved_date(spark, tmp_path):
    """A corrected timestamp crossing midnight moves an id to a new day
    partition; the default fast path leaves the stale row under the old
    date (documented one-id-one-date contract), while
    ``sweep_moved_ids=True`` widens the rewrite set and drops it
    (review finding, round 8)."""
    from qualityassurancetool_spark.sources.sinks import upsert_flags_table

    day1 = dt.datetime(2023, 1, 1, 23, 59)
    day2 = dt.datetime(2023, 1, 2, 0, 1)
    first = spark.createDataFrame(
        [(1, 1, day1), (9, 1, day1)],
        "iot_id long, qc_flag tinyint, phenomenon_time timestamp",
    )
    path = str(tmp_path / "flags")
    upsert_flags_table(first, path)

    # id 1's timestamp is corrected across midnight; the batch touches
    # only day 2, so the fast path cannot see day 1's stale row
    moved = spark.createDataFrame(
        [(1, 4, day2)],
        "iot_id long, qc_flag tinyint, phenomenon_time timestamp",
    )
    upsert_flags_table(moved, path, sweep_moved_ids=True)

    rows = spark.read.parquet(path).collect()
    got = {(r["iot_id"], str(r["flag_date"])): r["qc_flag"] for r in rows}
    assert got == {(1, "2023-01-02"): 4, (9, "2023-01-01"): 1}
    # re-running the same sweep converges (idempotent upsert)
    upsert_flags_table(moved, path, sweep_moved_ids=True)
    assert spark.read.parquet(path).count() == 2


def test_upsert_sweep_deletes_emptied_day_partition(spark, tmp_path):
    """When EVERY row of a swept old day belongs to moved batch ids,
    the staged frame holds no rows for that day, so dynamic overwrite
    never touches the partition — the stale rows would survive (advisor
    finding, round 9).  The sink must delete the emptied partition."""
    from qualityassurancetool_spark.sources.sinks import upsert_flags_table

    day1 = dt.datetime(2023, 1, 1, 23, 59)
    day2 = dt.datetime(2023, 1, 2, 0, 1)
    first = spark.createDataFrame(
        [(1, 1, day1), (2, 1, day1)],
        "iot_id long, qc_flag tinyint, phenomenon_time timestamp",
    )
    path = str(tmp_path / "flags")
    upsert_flags_table(first, path)

    # BOTH of day 1's ids get corrected across midnight: day 1 ends up
    # with zero surviving rows
    moved = spark.createDataFrame(
        [(1, 4, day2), (2, 4, day2)],
        "iot_id long, qc_flag tinyint, phenomenon_time timestamp",
    )
    upsert_flags_table(moved, path, sweep_moved_ids=True)

    rows = spark.read.parquet(path).collect()
    got = {(r["iot_id"], str(r["flag_date"])): r["qc_flag"] for r in rows}
    assert got == {(1, "2023-01-02"): 4, (2, "2023-01-02"): 4}
    import os

    assert not os.path.exists(os.path.join(path, "flag_date=2023-01-01"))
    # idempotent: the re-run sweeps an already-deleted day harmlessly
    upsert_flags_table(moved, path, sweep_moved_ids=True)
    assert spark.read.parquet(path).count() == 2


def test_upsert_null_timestamp_rows_upsert_row_by_row(spark, tmp_path):
    """Rows without a timestamp land in the NULL day partition
    (``flag_date=__HIVE_DEFAULT_PARTITION__``) and upsert row by row
    like dated rows: a later batch neither drops earlier NULL-date rows
    nor keeps a stale flag for a re-flagged one."""
    from qualityassurancetool_spark.sources.sinks import upsert_flags_table

    schema = "iot_id long, qc_flag tinyint, phenomenon_time timestamp"
    day = dt.datetime(2023, 1, 1, 12)
    path = str(tmp_path / "flags")
    for batch in (
        [(1, 1, day), (2, 1, None)],
        [(3, 1, day), (4, 1, None)],
        [(2, 4, None), (6, 3, None)],
    ):
        upsert_flags_table(spark.createDataFrame(batch, schema), path)

    rows = spark.read.parquet(path).collect()
    got = {r["iot_id"]: (r["qc_flag"], r["flag_date"]) for r in rows}
    assert got == {
        1: (1, day.date()), 3: (1, day.date()),
        2: (4, None), 4: (1, None), 6: (3, None),
    }


def test_upsert_rerun_finishes_interrupted_swap(spark, tmp_path, monkeypatch):
    """The per-day delete + rename swap is the one non-atomic step.  A
    swap that dies after its first day leaves the second day deleted;
    re-running the same batch must first finish the recorded swap, and
    end equal to a clean run."""
    from qualityassurancetool_spark.functions import fs
    from qualityassurancetool_spark.sources.sinks import upsert_flags_table

    schema = "iot_id long, qc_flag tinyint, phenomenon_time timestamp"
    d1, d2 = dt.datetime(2023, 1, 1, 12), dt.datetime(2023, 1, 2, 12)
    first = spark.createDataFrame(
        [(1, 1, d1), (2, 1, d1), (3, 1, d2), (4, 1, d2)], schema
    )
    batch = spark.createDataFrame([(1, 4, d1), (3, 4, d2), (5, 3, d2)], schema)

    def table(path):
        return sorted(
            (r["iot_id"], r["qc_flag"], str(r["flag_date"]))
            for r in spark.read.parquet(path).collect()
        )

    clean = str(tmp_path / "clean")
    upsert_flags_table(first, clean)
    upsert_flags_table(batch, clean)

    path = str(tmp_path / "flags")
    upsert_flags_table(first, path)
    real_rename = fs.rename_overwrite
    renamed = []

    def rename_once(spark_, src, dst):
        if renamed:
            raise OSError("injected crash inside the swap")
        renamed.append(dst)
        real_rename(spark_, src, dst)

    monkeypatch.setattr(fs, "rename_overwrite", rename_once)
    with pytest.raises(OSError, match="injected"):
        upsert_flags_table(batch, path)
    monkeypatch.setattr(fs, "rename_overwrite", real_rename)
    # the crash lost one day partition
    assert len(table(path)) < len(table(clean))

    upsert_flags_table(batch, path)
    assert table(path) == table(clean)
    assert not os.path.exists(os.path.join(path, "_upsert_stage"))


def test_sensorthings_datasource_pages_as_partitions(spark, tmp_path):
    """S1 as a custom DataSource: each landed response page is one input
    partition (pagination ≡ partitioned reads), flattened to the long
    observations table inside the executor-side reader."""
    import json
    import shutil

    from qualityassurancetool_spark.sources.sta_datasource import (
        SensorThingsDataSource,
    )

    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    # page 0: the canonical fixture; pages 1-2: shifted ids
    with open(f"{HERE}/resources/sta_response.json", encoding="utf-8") as fh:
        doc = json.load(fh)
    for p in range(3):
        out = json.loads(json.dumps(doc))
        for ds in out["Datastreams"]:
            for o in ds["Observations"]:
                o["@iot.id"] = o["@iot.id"] + 1000 * p
        (pages_dir / f"page_{p}.json").write_text(json.dumps(out))

    spark.dataSource.register(SensorThingsDataSource)
    df = (
        spark.read.format("sensorthings")
        .option("pages_per_partition", 1)
        .load(str(pages_dir))
    )
    assert df.rdd.getNumPartitions() == 3  # one partition per page
    rows = df.collect()
    assert len(rows) == 36  # 3 pages x 12 observations

    # flattening parity with the Catalyst-native path on the same page
    native = flatten_response(
        read_sta_response(spark, f"{HERE}/resources/sta_response.json")
    ).select(
        "iot_id", "result", "phenomenon_time", "qc_flag", "datastream_id",
        "lat", "long", "feature_id", "observation_type", "units",
    )
    via_ds = df.where(F.col("iot_id") < 1000)
    assert sorted(map(tuple, via_ds.collect())) == sorted(
        map(tuple, native.collect())
    )

    # coarser packing: 2 pages per partition -> 2 partitions
    df2 = (
        spark.read.format("sensorthings")
        .option("pages_per_partition", 2)
        .load(str(pages_dir))
    )
    assert df2.rdd.getNumPartitions() == 2
    assert df2.count() == 36
