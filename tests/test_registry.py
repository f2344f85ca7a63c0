"""Check registry (§2.10 extension contract): the registered chain must
equal manual operator composition, honor config-absent skips, and accept
user-registered checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qualityassurancetool_spark.config import QCConfig
from qualityassurancetool_spark.plans.registry import (
    CHECK_REGISTRY,
    register_check,
    run_registered_checks,
)
from qualityassurancetool_spark.schema import events_as_observations

SF_DIR = "/root/testdata/sf0.001"

FULL_CFG = {
    "QC": [
        {"id": t, "range": {"min": 1.0, "max": 250.0}}
        for t in ["click", "purchase", "view", "signup", "error"]
    ],
    "location": {"max_velocity": 20.0, "max_dx_dt": 5.0, "time_window": "10min"},
    "region_polygons": [
        {
            "name": "MAINLAND EUROPE",
            "coords": [
                [3.00005, 51.00005],
                [3.08005, 51.00005],
                [3.08005, 51.08005],
                [3.00005, 51.08005],
            ],
        },
        {
            "name": "NORTH SEA",
            "coords": [
                [3.00005, 51.00005],
                [3.19995, 51.00005],
                [3.19995, 51.19995],
                [3.00005, 51.19995],
            ],
        },
    ],
}


def test_full_chain_runs_and_flags(spark):
    obs = events_as_observations(spark, SF_DIR)
    cfg = QCConfig.from_dict(FULL_CFG)
    out = run_registered_checks(obs, cfg, spark)
    hist = {
        r["f"]: r["n"]
        for r in out.groupBy(F.col("qc_flag").cast("int").alias("f"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sum(hist.values()) == obs.count()
    # region BAD (MAINLAND) + range BAD exist; PROBABLY_BAD from null region
    assert hist.get(4, 0) > 0
    assert hist.get(3, 0) > 0


def test_chain_equals_manual_composition(spark):
    from qualityassurancetool_spark.operators.region import apply_region_checks
    from qualityassurancetool_spark.plans.qc_pipeline import run_qc_pipeline
    from qualityassurancetool_spark.sources.spatial import assign_region

    obs = events_as_observations(spark, SF_DIR)
    cfg = QCConfig.from_dict(
        {"QC": FULL_CFG["QC"], "region_polygons": FULL_CFG["region_polygons"]}
    )
    got = run_registered_checks(
        obs, cfg, spark, checks=["region", "range_gradient_zscore"]
    )
    want = run_qc_pipeline(
        apply_region_checks(assign_region(obs, cfg.region_polygons)),
        cfg,
        spark,
        stream_key="observation_type",
    )
    g = {r["iot_id"]: r["qc_flag"] for r in got.select("iot_id", "qc_flag").collect()}
    w = {r["iot_id"]: r["qc_flag"] for r in want.select("iot_id", "qc_flag").collect()}
    assert g == w


def test_unconfigured_checks_are_noops(spark):
    obs = events_as_observations(spark, SF_DIR)
    cfg = QCConfig.from_dict({})
    out = run_registered_checks(obs, cfg, spark)
    assert out.where(F.col("qc_flag") != 0).count() == 0


def test_unknown_check_raises(spark):
    obs = events_as_observations(spark, SF_DIR)
    with pytest.raises(KeyError):
        run_registered_checks(obs, QCConfig(), spark, checks=["nope"])


def test_user_registered_check_participates(spark):
    @register_check("always_probably_bad_on_even")
    def _custom(df, cfg, spark_, stream_col):
        from qualityassurancetool_spark.flags import (
            QualityFlags,
            flag_from_bool,
            flag_merge,
        )

        return df.withColumn(
            "qc_flag",
            flag_merge(
                F.col("qc_flag"),
                flag_from_bool(
                    F.col("iot_id") % 2 == 0,
                    flag_on_true=QualityFlags.PROBABLY_BAD,
                ),
            ),
        )

    try:
        obs = events_as_observations(spark, SF_DIR)
        out = run_registered_checks(
            obs, QCConfig(), spark, checks=["always_probably_bad_on_even"]
        )
        rows = out.select("iot_id", "qc_flag").collect()
        assert all(
            (r["qc_flag"] == 3) == (r["iot_id"] % 2 == 0) for r in rows
        )
    finally:
        CHECK_REGISTRY.pop("always_probably_bad_on_even", None)


def test_stabilization_check_runs_first_and_propagates(spark):
    """The registered stabilization check: the independent stream's rows
    are BAD while time_up_since < dt_stabilization, and the later
    'dependent' check as-of-propagates those flags onto the dependent."""
    import datetime as dt

    from pyspark.sql import functions as F

    from qualityassurancetool_spark.config import QCConfig
    from qualityassurancetool_spark.plans.registry import (
        CHECK_REGISTRY,
        run_registered_checks,
    )

    assert list(CHECK_REGISTRY)[0] == "stabilization"  # reference order

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # independent "temp": in-range, then a 30s dropout (out of range), then
    # back in range -> post-recovery rows still "stabilizing" for 20s
    pat = [5.0, 5.0, 99.0, 99.0, 99.0, 5.0, 5.0, 5.0, 5.0]
    for i, v in enumerate(pat):
        rows.append((i, v, t0 + dt.timedelta(seconds=10 * i), 0, "temp"))
    # dependent "sal" sampled 1s after each temp row
    for i in range(len(pat)):
        rows.append(
            (100 + i, 35.0, t0 + dt.timedelta(seconds=10 * i + 1), 0, "sal")
        )
    df = spark.createDataFrame(
        rows,
        "iot_id long, result double, phenomenon_time timestamp, "
        "qc_flag tinyint, observation_type string",
    )
    cfg = QCConfig.from_dict(
        {
            "QC": [{"id": "temp", "range": {"min": 0.0, "max": 50.0}}],
            "QC_dependent": [
                {
                    "independent": "temp",
                    "dependent": "sal",
                    "dt_tolerance": "2s",
                    "dt_stabilization": "20s",
                    "max_allowed_downtime": "5s",
                }
            ],
        }
    )
    out = run_registered_checks(
        df, cfg, spark, checks=["stabilization", "dependent"]
    )
    flags = {
        r["iot_id"]: r["qc_flag"]
        for r in out.select("iot_id", F.col("qc_flag").cast("int")).collect()
    }
    # time_up_since counts from series start / the LAST exceedance row:
    # rows 0-1 are the sensor's own warm-up (0s, 10s < 20s) -> BAD;
    # rows 2-4 re-arm the clock while down (each exceedance resets it);
    # row 5 (10s after the t=40 exceedance) is still stabilizing -> BAD;
    # row 6 (20s, not strictly < dt_stabilization) has stabilized, as
    # have 7, 8.
    assert [flags[i] for i in range(9)] == [4, 4, 4, 4, 4, 4, 0, 0, 0]
    # dependent inherits each matched partner's flag via the as-of
    assert [flags[100 + i] for i in range(9)] == [4, 4, 4, 4, 4, 4, 0, 0, 0]


def test_zscore_strategy_bucketed_parity(spark):
    """zscore_strategy: bucketed routes the chain's z-score through the
    streams x buckets twin — identical flags, row for row (the measured
    low-stream-cardinality scale path, docs/SCALE.md)."""
    from qualityassurancetool_spark.config import ConfigError
    from qualityassurancetool_spark.plans.qc_pipeline import run_qc_pipeline

    obs = events_as_observations(spark, SF_DIR)
    base = {"QC": FULL_CFG["QC"], "zscore_time_window": "10min"}
    want = {
        r["iot_id"]: (r["qc_flag"], r["zscore"])
        for r in run_qc_pipeline(
            obs, QCConfig.from_dict(base), spark
        ).select("iot_id", "qc_flag", "zscore").collect()
    }
    got = {
        r["iot_id"]: (r["qc_flag"], r["zscore"])
        for r in run_qc_pipeline(
            obs,
            QCConfig.from_dict({**base, "zscore_strategy": "bucketed"}),
            spark,
        ).select("iot_id", "qc_flag", "zscore").collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        if want[k][1] is None:
            assert got[k][1] is None
        else:
            assert abs(got[k][1] - want[k][1]) < 1e-9
    import pytest as _pytest

    with _pytest.raises(ConfigError):
        QCConfig.from_dict({**base, "zscore_strategy": "nope"})


def test_window_strategy_bucketed_full_chain_parity(spark):
    """window_strategy: bucketed routes EVERY window stage of the chain
    (gradient AND z-score) through the streams x buckets twins —
    identical flags/gradient/zscore row for row, including null-ts rows
    (NULL stats in both paths, advisor r4)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from qualityassurancetool_spark.plans.qc_pipeline import run_qc_pipeline

    obs = events_as_observations(spark, SF_DIR)
    # plant two null-ts rows per stream to exercise the pinned semantic
    nulls = (
        obs.groupBy("observation_type")
        .agg(F.max("iot_id").alias("m"))
        .select(
            (F.col("m") + 1_000_000).alias("iot_id"),
            F.col("observation_type"),
            F.lit(None).cast("timestamp").alias("phenomenon_time"),
            F.lit(42.0).alias("result"),
        )
    )
    obs = obs.select(
        "iot_id", "observation_type", "phenomenon_time", "result"
    ).unionByName(nulls).withColumn(
        "qc_flag", F.lit(0).cast("tinyint")
    )
    base = {"QC": FULL_CFG["QC"], "zscore_time_window": "10min"}
    cols = ["iot_id", "qc_flag", "gradient", "zscore"]

    def run(cfg_d):
        return {
            r["iot_id"]: tuple(r[c] for c in cols[1:])
            for r in run_qc_pipeline(
                obs, QCConfig.from_dict(cfg_d), spark
            ).select(*cols).collect()
        }

    want = run(base)
    got = run({**base, "window_strategy": "bucketed"})
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0], k  # qc_flag exact
        for i in (1, 2):  # gradient, zscore
            if want[k][i] is None:
                assert got[k][i] is None, (k, i)
            else:
                assert abs(got[k][i] - want[k][i]) < 1e-9, (k, i)


def test_drift_check_ewma_cusum(spark):
    """`drift:` runs EWMA/CUSUM per stream inside the chain, merges
    PROBABLY_BAD by severity, equals manual composition, and is a
    no-op when unconfigured."""
    from qualityassurancetool_spark.flags import (
        QualityFlags,
        flag_from_bool,
        flag_merge,
    )
    from qualityassurancetool_spark.operators.cusum import cusum_anomaly
    from qualityassurancetool_spark.operators.ewma import ewma_anomaly

    obs = events_as_observations(spark, SF_DIR)
    cfg = QCConfig.from_dict(
        {
            "drift": {
                "ewma": {"alpha": 0.3, "window": 8, "nsigma": 2.0},
                "cusum": {"slack": 0.25, "threshold": 3.0},
            }
        }
    )
    got = run_registered_checks(obs, cfg, spark, checks=["drift"])
    assert "ewma_flag" not in got.columns  # internals dropped
    assert "cusum_pos" not in got.columns
    flagged = got.where(F.col("qc_flag") == 3).count()
    assert flagged > 0  # real event values drift enough to chart

    # manual composition parity
    order = ["phenomenon_time", "iot_id"]
    want = ewma_anomaly(
        obs, "result", order, ["observation_type"],
        alpha=0.3, window=8, nsigma=2.0, min_history=4,
    )
    want = want.withColumn(
        "qc_flag",
        flag_merge(
            F.col("qc_flag"),
            flag_from_bool(
                F.coalesce(F.col("ewma_flag"), F.lit(False)),
                flag_on_true=QualityFlags.PROBABLY_BAD,
                flag_on_false=QualityFlags.NO_QUALITY_CONTROL,
            ),
        ),
    ).drop("ewma_prev", "ewma_sigma", "ewma_dev", "ewma_flag")
    want = cusum_anomaly(
        want, "result", order, ["observation_type"],
        slack=0.25, threshold=3.0,
    )
    want = want.withColumn(
        "qc_flag",
        flag_merge(
            F.col("qc_flag"),
            flag_from_bool(
                F.coalesce(F.col("cusum_flag"), F.lit(False)),
                flag_on_true=QualityFlags.PROBABLY_BAD,
                flag_on_false=QualityFlags.NO_QUALITY_CONTROL,
            ),
        ),
    )
    g = {r["iot_id"]: r["qc_flag"] for r in got.select("iot_id", "qc_flag").collect()}
    w = {r["iot_id"]: r["qc_flag"] for r in want.select("iot_id", "qc_flag").collect()}
    assert g == w

    # unconfigured -> untouched plan, zero flags
    quiet = run_registered_checks(
        obs, QCConfig.from_dict({}), spark, checks=["drift"]
    )
    assert quiet.where(F.col("qc_flag") != 0).count() == 0


def test_drift_config_validation(spark):
    from qualityassurancetool_spark.config import ConfigError

    with pytest.raises(ConfigError):
        QCConfig.from_dict({"drift": {"nope": {}}})
    with pytest.raises(ConfigError):
        QCConfig.from_dict({"drift": {"ewma": {"bad_knob": 1}}})
    with pytest.raises(ConfigError):
        QCConfig.from_dict({"drift": [1, 2]})


def test_drift_window_strategy_bucketed_parity(spark):
    """`window_strategy: bucketed` routes the drift charts through the
    streams×buckets twins with identical flags (EWMA exact, CUSUM to
    fp-association tolerance on the underlying stats — flags equal)."""
    obs = events_as_observations(spark, SF_DIR)
    base = {
        "drift": {
            "ewma": {"alpha": 0.3, "window": 8, "nsigma": 2.0},
            "cusum": {"slack": 0.25, "threshold": 3.0},
        }
    }
    plain = run_registered_checks(
        obs, QCConfig.from_dict(base), spark, checks=["drift"]
    )
    buck = run_registered_checks(
        obs,
        QCConfig.from_dict({**base, "window_strategy": "bucketed"}),
        spark,
        checks=["drift"],
    )
    p = {r["iot_id"]: r["qc_flag"] for r in plain.select("iot_id", "qc_flag").collect()}
    b = {r["iot_id"]: r["qc_flag"] for r in buck.select("iot_id", "qc_flag").collect()}
    assert p == b
    assert any(v == 3 for v in p.values())


def test_drift_seasonal_in_chain(spark):
    from qualityassurancetool_spark.config import ConfigError

    obs = events_as_observations(spark, SF_DIR)
    cfg = QCConfig.from_dict(
        {"drift": {"seasonal": {"nsigma": 2.0, "loo": True}}}
    )
    out = run_registered_checks(obs, cfg, spark, checks=["drift"])
    assert "seasonal_flag" not in out.columns
    assert out.count() == obs.count()
    with pytest.raises(ConfigError):
        QCConfig.from_dict({"drift": {"seasonal": {"bad": 1}}})


def test_reference_parity_knobs_route_from_config(spark):
    """geo.distance / geo.marking / geo.threshold_mode flow from YAML
    config through the registry into the operators (the golden-replay
    semantics are reachable without code)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from qualityassurancetool_spark.config import QCConfig
    from qualityassurancetool_spark.plans.registry import (
        run_registered_checks,
    )

    cfg = QCConfig.from_dict(
        {
            "QC": [],
            "location": {
                "max_velocity": 90.0,
                "max_dx_dt": 300.0,
                "time_window": "5min",
                "distance": "exact",
                "marking": "reference",
                "threshold_mode": "span",
            },
        }
    )
    assert cfg.geo_distance == "exact"
    assert cfg.geo_marking == "reference"
    assert cfg.outlier_threshold_mode == "span"

    # the reference outlier grid through the CONFIG path: same rows flag
    base = pd.Timestamp("2024-01-01 12:00:00")
    pdf = pd.DataFrame(
        {
            "iot_id": range(10),
            "datastream_id": ["s"] * 10,
            "phenomenon_time": [
                base + pd.Timedelta(seconds=s) for s in range(5)
            ]
            * 2,
            "long": [i * 0.001 + 50.0 for i in range(10)],
            "lat": [i * 0.001 + 20.0 for i in range(10)],
        }
    )
    pdf.loc[[3, 4], "long"] += 0.1
    df = spark.createDataFrame(pdf).withColumn(
        "qc_flag", F.lit(0).cast("tinyint")
    )
    out = run_registered_checks(
        df, cfg, spark, checks=["spatial_outlier"],
        stream_col="datastream_id",
    )
    flagged = sorted(
        r["iot_id"]
        for r in out.where(F.col("qc_flag") == 4).collect()
    )
    assert flagged == [3, 4]


def test_reference_marking_flags_bad_through_config(spark):
    """marking='reference' via YAML must emit the reference's BAD(4)
    for velocity violations, not the chain's PROBABLY_BAD(3) — config
    parity reaches the FLAG, not just the bound test."""
    import pandas as pd
    from pyspark.sql import functions as F

    from qualityassurancetool_spark.config import QCConfig
    from qualityassurancetool_spark.plans.registry import (
        run_registered_checks,
    )

    base = pd.Timestamp("2024-01-01 12:00:00")
    pdf = pd.DataFrame(
        {
            "iot_id": range(5),
            "datastream_id": ["s"] * 5,
            "phenomenon_time": [
                base + pd.Timedelta(seconds=s) for s in range(5)
            ],
            "long": [50.0, 50.0, 50.0, 50.0, 51.0],  # big jump at (3,4)
            "lat": [20.0] * 5,
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "qc_flag", F.lit(0).cast("tinyint")
    )

    def run(marking):
        cfg = QCConfig.from_dict(
            {
                "QC": [],
                "location": {
                    "max_velocity": 90.0,
                    "marking": marking,
                },
            }
        )
        out = run_registered_checks(
            df, cfg, spark, checks=["velocity_acceleration"],
            stream_col="datastream_id",
        )
        return {
            int(r["qc_flag"])
            for r in out.where(F.col("qc_flag") > 0).collect()
        }

    assert run("reference") == {4}
    assert run("pair") == {3}


def test_qc_pipeline_without_iot_id_column(spark):
    """run_qc_pipeline is a public entry point: a frame lacking iot_id
    must degrade (no secondary sort key) instead of crashing with
    UNRESOLVED_COLUMN (review finding, round 8 — the registry's other
    checks already guard this column)."""
    import datetime as dt

    from qualityassurancetool_spark.config import QCConfig
    from qualityassurancetool_spark.plans.qc_pipeline import (
        run_qc_pipeline,
    )

    t0 = dt.datetime(2024, 1, 1)
    obs = spark.createDataFrame(
        [
            ("click", t0, 5.0, 0),
            ("click", t0 + dt.timedelta(minutes=1), 500.0, 0),
        ],
        "observation_type string, phenomenon_time timestamp,"
        " result double, qc_flag int",
    )
    cfg = QCConfig.from_dict(
        {"QC": [{"id": "click", "range": {"min": 0.0, "max": 100.0}}]}
    )
    out = run_qc_pipeline(obs, cfg, spark).collect()
    flags = {r["result"]: r["qc_flag"] for r in out}
    assert flags[500.0] == 4 and flags[5.0] in (0, 1)


def test_region_strategy_mask_matches_default(spark):
    """region_strategy: mask routes the configured region check through
    the rasterized land mask (built once, memoized on the config) —
    flags identical to the default dispatch, and the memoized mask is
    reused across windows of a run."""
    obs = events_as_observations(spark, SF_DIR)
    base = {
        "QC": FULL_CFG["QC"],
        "region_polygons": FULL_CFG["region_polygons"],
    }
    want = {
        r["iot_id"]: r["qc_flag"]
        for r in run_registered_checks(
            obs, QCConfig.from_dict(base), spark, checks=["region"]
        )
        .select("iot_id", "qc_flag")
        .collect()
    }
    cfg = QCConfig.from_dict(
        {**base, "region_strategy": "mask", "region_mask_cell_deg": 0.5}
    )
    got_df = run_registered_checks(obs, cfg, spark, checks=["region"])
    got = {
        r["iot_id"]: r["qc_flag"]
        for r in got_df.select("iot_id", "qc_flag").collect()
    }
    assert got == want
    mask1 = cfg._region_mask_cache
    assert mask1 is not None
    run_registered_checks(obs, cfg, spark, checks=["region"]).count()
    assert cfg._region_mask_cache is mask1  # rasterized once per config


def test_region_mask_cache_invalidated_on_coordinate_change(spark):
    """The memoized region mask keys on a digest of the polygon
    COORDINATES: JDBC-loaded polygons can change vertices while keeping
    the same names across windows of a long-lived config, and a
    names-only check would serve stale conclusive cells silently
    (advisor finding, round 11)."""
    obs = events_as_observations(spark, SF_DIR)
    base = {
        "QC": FULL_CFG["QC"],
        "region_polygons": FULL_CFG["region_polygons"],
        "region_strategy": "mask",
        "region_mask_cell_deg": 0.5,
    }
    cfg = QCConfig.from_dict(base)
    run_registered_checks(obs, cfg, spark, checks=["region"]).count()
    cached1 = cfg._region_mask_cache
    # same coordinates -> same digest -> same cached object
    run_registered_checks(obs, cfg, spark, checks=["region"]).count()
    assert cfg._region_mask_cache is cached1
    # shift every vertex, keep names -> digest differs -> mask rebuilt
    cfg.region_polygons = [
        (name, [(lon + 0.25, lat + 0.25) for lon, lat in verts])
        for name, verts in cfg.region_polygons
    ]
    run_registered_checks(obs, cfg, spark, checks=["region"]).count()
    cached2 = cfg._region_mask_cache
    assert cached2 is not cached1 and cached2[0] != cached1[0]
