"""Check registry — the reference's extension contract made literal
(SURVEY §2.10: adding a check = a YAML key + a registered builder;
``QCFlagConfig`` pattern at reference ``src/main.py:535-541``).

Each check is a named builder ``(df, cfg, spark, stream_col) -> df`` that
lazily appends its flag logic to the plan; ``run_registered_checks`` folds
the configured checks in the reference's execution order (order is
semantic: flags merge cumulatively and later guards read flag state —
reference ``src/main.py:518-805``).  New checks: decorate a builder with
``@register_check("name")`` and drive it from config.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from qualityassurancetool_spark.config import QCConfig

CheckFn = Callable[[DataFrame, QCConfig, SparkSession, str], DataFrame]

CHECK_REGISTRY: "OrderedDict[str, CheckFn]" = OrderedDict()


def register_check(name: str) -> Callable[[CheckFn], CheckFn]:
    def deco(fn: CheckFn) -> CheckFn:
        CHECK_REGISTRY[name] = fn
        return fn

    return deco


@register_check("stabilization")
def _check_stabilization(
    df: DataFrame, cfg: QCConfig, spark: SparkSession, stream_col: str
) -> DataFrame:
    """W1–W4 first, like the reference (src/main.py:409-496): for every
    dependency with ``dt_stabilization``, flag the *independent* stream's
    rows BAD while the sensor is still stabilizing after downtime; the
    later "dependent" check as-of-propagates those flags."""
    from qualityassurancetool_spark.flags import flag_merge
    from qualityassurancetool_spark.functions.timeutils import (
        parse_timedelta_seconds,
    )
    from qualityassurancetool_spark.operators.stabilization import (
        apply_stabilization,
    )
    from pyspark.sql import functions as F

    deps = [d for d in cfg.dependents if d.dt_stabilization is not None]
    for dep in deps:
        stream_cfg = next(
            (s for s in cfg.streams if s.stream_id == dep.independent), None
        )
        rng = (stream_cfg.range if stream_cfg else None) or cfg.global_qc.get(
            "range"
        )
        if rng is None or rng[0] is None or rng[1] is None:
            continue
        is_ind = F.col(stream_col) == F.lit(dep.independent)
        mad = parse_timedelta_seconds(dep.max_allowed_downtime or 0.0)
        dst = parse_timedelta_seconds(dep.dt_stabilization)
        df = df.withColumns(
            {
                "_stab_rmin": F.when(is_ind, F.lit(float(rng[0]))),
                "_stab_rmax": F.when(is_ind, F.lit(float(rng[1]))),
                "_stab_mad": F.when(is_ind, F.lit(float(mad))),
                "_stab_dst": F.when(is_ind, F.lit(float(dst))),
            }
        )
        df = apply_stabilization(
            df,
            group_cols=[stream_col],
            min_col="_stab_rmin",
            max_col="_stab_rmax",
            max_allowed_downtime_col="_stab_mad",
            dt_stabilization_col="_stab_dst",
            flag_col="_stab_flag",
            keep_intermediate=False,
            strategy=(
                "bucketed"
                if getattr(cfg, "window_strategy", "window") == "bucketed"
                else "window"
            ),
        )
        df = df.withColumn(
            "qc_flag", flag_merge(F.col("qc_flag"), F.col("_stab_flag"))
        ).drop("_stab_flag", "_stab_rmin", "_stab_rmax", "_stab_mad", "_stab_dst")
    return df


def _polygon_digest(polys) -> str:
    """Cheap content digest of a polygon set (names AND coordinates) —
    the region-mask cache key.  Coordinates hash via their raw float64
    bytes, so any vertex move invalidates the cached mask."""
    import hashlib

    import numpy as np

    h = hashlib.sha256()
    for name, verts in polys:
        h.update(str(name).encode("utf-8", "surrogatepass"))
        h.update(b"\x00")
        h.update(np.asarray(verts, dtype=np.float64).tobytes())
        h.update(b"\x01")
    return h.hexdigest()


@register_check("region")
def _check_region(
    df: DataFrame, cfg: QCConfig, spark: SparkSession, stream_col: str
) -> DataFrame:
    """P6/P7 (+J5 when polygons configured): assign region from config
    polygons if the column is absent, then null/MAINLAND flags.  With
    ``cfg.feature_flags`` the on-land verdict is also recorded per
    FeatureOfInterest in ``feature_qc_flag`` (reference
    ``src/main.py:577-592``)."""
    from qualityassurancetool_spark.operators.region import (
        apply_feature_region_check,
        apply_region_checks,
    )
    from qualityassurancetool_spark.sources.spatial import assign_region

    polys = getattr(cfg, "region_polygons", None)
    jdbc_spec = getattr(cfg, "region_polygons_jdbc", None)
    if polys is None and jdbc_spec:
        # strict S5: polygons from a live database (the reference's
        # PostGIS SeaVox source).  Resolved here because it needs the
        # SparkSession; memoized on the config so repeated windows of a
        # batch run read the DB once.
        from qualityassurancetool_spark.sources.polygon_files import (
            load_polygons_jdbc,
        )

        spec = dict(jdbc_spec)
        polys = load_polygons_jdbc(spark, spec.pop("url"), **spec)
        cfg.region_polygons = polys
    if "region" not in df.columns:
        if not polys:
            return df
        strategy = getattr(cfg, "region_strategy", "auto")
        if strategy == "mask":
            # rasterized land mask (conclusive-cell lookup + exact
            # boundary fallback): built once and memoized on the config
            # so repeated windows of a batch run rasterize once — the
            # polys memoization discipline above
            from qualityassurancetool_spark.sources.spatial import (
                assign_region_masked,
                build_region_mask,
            )

            # cache key = digest of the polygon COORDINATES, not just
            # their names: JDBC-loaded polygons can change vertices
            # while keeping names across windows of a long-lived
            # config, and a names-only check would serve stale
            # conclusive cells silently (advisor finding, round 11)
            digest = _polygon_digest(polys)
            cached = getattr(cfg, "_region_mask_cache", None)
            if cached is not None and cached[0] == digest:
                mask = cached[1]
            else:
                mask = build_region_mask(
                    polys,
                    cell_deg=getattr(cfg, "region_mask_cell_deg", 0.25),
                )
                cfg._region_mask_cache = (digest, mask)
            df = assign_region_masked(df, polys, mask=mask)
        else:
            df = assign_region(df, polys, strategy=strategy)
    df = apply_region_checks(df)
    if getattr(cfg, "feature_flags", False):
        df = apply_feature_region_check(
            df, overwrite=getattr(cfg, "overwrite_feature_flags", True)
        )
    return df


@register_check("spatial_outlier")
def _check_spatial_outlier(
    df: DataFrame, cfg: QCConfig, spark: SparkSession, stream_col: str
) -> DataFrame:
    if cfg.outlier_max_dx_dt is None:
        return df
    from qualityassurancetool_spark.operators.spatial_outlier import (
        apply_spatial_outlier_check,
    )

    return apply_spatial_outlier_check(
        df,
        max_dx_dt=cfg.outlier_max_dx_dt,
        time_window=cfg.outlier_time_window,
        partition_cols=[stream_col],
        strategy=(
            "bucketed"
            if getattr(cfg, "window_strategy", "window") == "bucketed"
            else "window"
        ),
        threshold_mode=getattr(cfg, "outlier_threshold_mode", "nominal"),
    )


@register_check("velocity_acceleration")
def _check_velocity(
    df: DataFrame, cfg: QCConfig, spark: SparkSession, stream_col: str
) -> DataFrame:
    if cfg.velocity_max is None and cfg.acceleration_max is None:
        return df
    from qualityassurancetool_spark.operators.geotrack import (
        apply_velocity_acceleration_check,
    )

    from qualityassurancetool_spark.flags import QualityFlags

    marking = getattr(cfg, "geo_marking", "pair")
    return apply_velocity_acceleration_check(
        df,
        # `is not None`, NOT truthiness: max_velocity 0 is a real bound
        # (reference test_exceed_max_velocity_2 flags EVERY row at 0 in
        # reference marking) — `0 or inf` would silently disable it
        max_velocity_ms=(
            cfg.velocity_max
            if cfg.velocity_max is not None
            else float("inf")
        ),
        max_acceleration_ms2=(
            cfg.acceleration_max
            if cfg.acceleration_max is not None
            else float("inf")
        ),
        partition_cols=[stream_col],
        order_extra=["iot_id"] if "iot_id" in df.columns else None,
        distance=getattr(cfg, "geo_distance", "haversine"),
        marking=marking,
        # reference parity all the way to the FLAG: the reference
        # pipeline marks velocity violations BAD (src/main.py:663-705);
        # this chain's own convention stays PROBABLY_BAD for "pair"
        flag_on_true=(
            QualityFlags.BAD
            if marking == "reference"
            else QualityFlags.PROBABLY_BAD
        ),
    )


@register_check("range_gradient_zscore")
def _check_threshold_family(
    df: DataFrame, cfg: QCConfig, spark: SparkSession, stream_col: str
) -> DataFrame:
    """P5/W7/W6 family — one broadcast thresholds join feeds all three
    (strict range, gradient range, guarded z-score), like the reference's
    :723-:761 block."""
    if not cfg.streams and not cfg.global_qc:
        return df
    from qualityassurancetool_spark.plans.qc_pipeline import run_qc_pipeline

    return run_qc_pipeline(df, cfg, spark, stream_key=stream_col)


@register_check("drift")
def _check_drift(
    df: DataFrame, cfg: QCConfig, spark: SparkSession, stream_col: str
) -> DataFrame:
    """Control-chart family (config ``drift:``): EWMA and/or CUSUM per
    stream — the persistent-shift companions to the per-point checks
    (a 1σ drift never trips a 3σ range/z-score test; the charts
    accumulate it).  Each chart is one window family over the SAME
    (stream, time) partitioning as the other QC windows and merges a
    PROBABLY_BAD flag by severity.  Runs after the threshold family
    (reference ordering: cheap per-point flags first) and before the
    dependent as-of propagation, so drifting independents propagate.
    """
    dc = getattr(cfg, "drift", None)
    if not dc:
        return df
    from pyspark.sql import functions as F

    from qualityassurancetool_spark.flags import (
        QualityFlags,
        flag_from_bool,
        flag_merge,
    )

    bucketed = (
        getattr(cfg, "window_strategy", "window") == "bucketed"
    )
    extra = ["iot_id"] if "iot_id" in df.columns else []
    order = ["phenomenon_time"] + extra
    ew = dc.get("ewma")
    if ew is not None:
        from qualityassurancetool_spark.operators.ewma import (
            ewma_anomaly,
            ewma_anomaly_bucketed,
        )

        k = ew if isinstance(ew, dict) else {}
        knobs = dict(
            alpha=float(k.get("alpha", 0.3)),
            window=int(k.get("window", 16)),
            nsigma=float(k.get("nsigma", 3.0)),
            min_history=int(k.get("min_history", 4)),
        )
        if bucketed:
            df = ewma_anomaly_bucketed(
                df, "result", "phenomenon_time", [stream_col],
                order_extra=extra, **knobs,
            )
        else:
            df = ewma_anomaly(
                df, "result", order, [stream_col], **knobs
            )
        new = flag_from_bool(
            F.coalesce(F.col("ewma_flag"), F.lit(False)),
            flag_on_true=QualityFlags.PROBABLY_BAD,
            flag_on_false=QualityFlags.NO_QUALITY_CONTROL,
        )
        df = df.withColumn(
            "qc_flag", flag_merge(F.col("qc_flag"), new)
        ).drop("ewma_prev", "ewma_sigma", "ewma_dev", "ewma_flag")
    se = dc.get("seasonal")
    if se is not None:
        from qualityassurancetool_spark.operators.seasonal import (
            seasonal_zscore,
        )

        k = se if isinstance(se, dict) else {}
        df = seasonal_zscore(
            df,
            "result",
            "phenomenon_time",
            [stream_col],
            period=str(k.get("period", "hour_of_day")),
            nsigma=float(k.get("nsigma", 3.0)),
            min_samples=int(k.get("min_samples", 5)),
            loo=bool(k.get("loo", False)),
        )
        new = flag_from_bool(
            F.coalesce(F.col("seasonal_flag"), F.lit(False)),
            flag_on_true=QualityFlags.PROBABLY_BAD,
            flag_on_false=QualityFlags.NO_QUALITY_CONTROL,
        )
        df = df.withColumn(
            "qc_flag", flag_merge(F.col("qc_flag"), new)
        ).drop(
            "seasonal_mu", "seasonal_sigma", "seasonal_dev",
            "seasonal_flag",
        )
    cu = dc.get("cusum")
    if cu is not None:
        from qualityassurancetool_spark.operators.cusum import (
            cusum_anomaly,
            cusum_anomaly_bucketed,
        )

        k = cu if isinstance(cu, dict) else {}
        knobs = dict(
            target=k.get("target"),
            sigma=k.get("sigma"),
            slack=float(k.get("slack", 0.5)),
            threshold=float(k.get("threshold", 5.0)),
        )
        if bucketed:
            df = cusum_anomaly_bucketed(
                df, "result", "phenomenon_time", [stream_col],
                order_extra=extra, **knobs,
            )
        else:
            df = cusum_anomaly(
                df, "result", order, [stream_col], **knobs
            )
        new = flag_from_bool(
            F.coalesce(F.col("cusum_flag"), F.lit(False)),
            flag_on_true=QualityFlags.PROBABLY_BAD,
            flag_on_false=QualityFlags.NO_QUALITY_CONTROL,
        )
        df = df.withColumn(
            "qc_flag", flag_merge(F.col("qc_flag"), new)
        ).drop("cusum_pos", "cusum_neg", "cusum_flag")
    return df


@register_check("dependent")
def _check_dependent(
    df: DataFrame, cfg: QCConfig, spark: SparkSession, stream_col: str
) -> DataFrame:
    """J3/J4: as-of flag propagation + secondary value check per
    configured dependency (reference :771-:805)."""
    from qualityassurancetool_spark.operators.asof import (
        qc_dependent_quantity_base,
        qc_dependent_quantity_secondary,
    )

    materialize = getattr(cfg, "asof_materialize", False)
    # the chain input here is the whole upstream check DAG — the one-pass
    # window strategy keeps a single consumer of it (see
    # operators/asof.asof_nearest_context); "join" re-executes it 3x
    strategy = getattr(cfg, "asof_strategy", "window")
    for dep in cfg.dependents:
        df = qc_dependent_quantity_base(
            df,
            independent=dep.independent,
            dependent=dep.dependent,
            dt_tolerance=dep.dt_tolerance,
            stream_col=stream_col,
            flag_when_missing=dep.flag_when_missing,
            materialize=materialize,
            strategy=strategy,
        )
        if dep.qc_range is not None:
            df = qc_dependent_quantity_secondary(
                df,
                independent=dep.independent,
                dependent=dep.dependent,
                range_=dep.qc_range,
                dt_tolerance=dep.dt_tolerance,
                stream_col=stream_col,
                materialize=materialize,
                strategy=strategy,
            )
    return df


def run_registered_checks(
    df: DataFrame,
    cfg: QCConfig,
    spark: SparkSession,
    checks: list[str] | None = None,
    stream_col: str = "observation_type",
) -> DataFrame:
    """Fold the named checks (default: every registered check, in
    registration = reference order) over the observations plan.  Each
    call builds the chain afresh, so a rebuild sees the current input
    frame, config and any live source (JDBC polygons) as they are now."""
    names = checks if checks is not None else list(CHECK_REGISTRY)
    for name in names:
        if name not in CHECK_REGISTRY:
            raise KeyError(
                f"unknown check {name!r}; registered: {list(CHECK_REGISTRY)}"
            )
    out = df
    for name in names:
        out = CHECK_REGISTRY[name](out, cfg, spark, stream_col)
    return out
