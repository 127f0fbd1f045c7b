"""Discrete distribution fitting (SURVEY §7.2 phase 7; reference
discrete_fitter.py / discrete_fitting.py capabilities).

Same spine as the continuous engine: the column is reduced to a
distributed empirical PMF (``histogram.empirical_pmfs_multi``, one
stacked ``groupBy(column, floor(value)).count()`` — map-side combined,
~cardinality rows to the driver; the whole prelude), then D
optimizer-MLE fits fan out over the cluster. The <=10k fitting sample
is drawn from those counts on the driver (``sample_from_counts``), so
it ignores partition layout and row order. Discrete SSE is computed
against the PMF, K-S against the ECDF over the distinct support points.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from spark_bestfit_spark.functions import metrics as M
from spark_bestfit_spark.functions.distributions.registry import (
    DistributionRegistry,
)
from spark_bestfit_spark.operators.fit import (
    FIT_RESULT_SCHEMA,
    _fit_bins,
    _packed_fanout,
    _sentinel_row,
    compute_data_stats,
)
from spark_bestfit_spark.plans.config import FitterConfig

__all__ = [
    "fit_single_discrete",
    "parallel_fit_discrete_columns",
]


def fit_single_discrete(
    dist_name: str,
    data: np.ndarray,
    x_values: np.ndarray,
    pmf: np.ndarray,
    column: str,
    stats: dict,
    config: FitterConfig,
    registry: DistributionRegistry,
) -> dict:
    """Fit one discrete distribution; never raises (sentinel on failure)."""
    try:
        dist = registry.resolve(dist_name)
        params = tuple(float(p) for p in dist.fit(data))
        sse = M.compute_discrete_sse(dist, params, x_values, pmf)
        if not np.isfinite(sse):
            return _sentinel_row(column, dist_name, stats, (None, None))
        aic, bic = M.compute_discrete_information_criteria(dist, params, data)
        row = {
            "column_name": column,
            "distribution": dist_name,
            "parameters": list(params),
            "sse": sse,
            "aic": aic,
            "bic": bic,
            "ks_statistic": None,
            "pvalue": None,
            "ad_statistic": None,
            "ad_pvalue": None,
            **stats,
            "lower_bound": None,
            "upper_bound": None,
        }
        if not config.lazy_metrics:
            ks, p = M.compute_discrete_ks(dist, params, data)
            row["ks_statistic"] = ks if np.isfinite(ks) else None
            row["pvalue"] = p if np.isfinite(p) else None
        return row
    except Exception:  # noqa: BLE001
        return _sentinel_row(column, dist_name, stats, (None, None))


def parallel_fit_discrete_columns(
    spark: SparkSession,
    plans: dict,
    config: FitterConfig,
    registry: DistributionRegistry,
    broadcast_registry: list | None = None,
) -> DataFrame:
    """ONE (column, distribution) fan-out for many discrete columns
    (mirror of the continuous parallel_fit_columns, same bin sizing and
    the same ``broadcast_registry``)."""
    b_plans = spark.sparkContext.broadcast(
        {
            c: (
                p["sample"], p["x_values"], p["pmf"],
                compute_data_stats(p["sample"]),
            )
            for c, p in plans.items()
        }
    )
    if broadcast_registry is not None:
        broadcast_registry.append(b_plans)
    cfg = config
    bins = _fit_bins(
        spark, registry, {c: p["names"] for c, p in plans.items()}
    )

    def fit_bin(items):
        reg = DistributionRegistry(custom_exclusions=set())
        artifacts = b_plans.value
        rows = []
        for col, name in items:
            sample, xs, ps, stats = artifacts[col]
            rows.append(
                fit_single_discrete(
                    name, sample, xs, ps, col, stats, cfg, reg
                )
            )
        return rows

    result = _packed_fanout(
        spark, bins, fit_bin, FIT_RESULT_SCHEMA, broadcast_registry
    )
    return result.filter(F.col("sse") < F.lit(float("inf")))
