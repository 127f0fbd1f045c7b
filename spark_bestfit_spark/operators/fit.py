"""parallel_fit: the engine's core distributed operator (SURVEY §2.9).

Dataflow (reference backends/spark.py:76-209, re-expressed Spark-first):

    broadcast (histogram, fitting sample, custom dists, LPT bins)
      -> spark.range(n_bins) task relation, one weight-balanced bin per
         partition (pure JVM — no Python-RDD round-trip)
      -> mapInPandas(fit kernel) with FIT_RESULT_SCHEMA
      -> filter(sse < inf)        # sentinel failed fits
      -> collect, once, into the FitResults driver snapshot

Why this scales: the raw data is reduced to a ~KB histogram + <=10k-row
sample ONCE per column (single full scan, map-side combined); the D-way
fit fan-out is embarrassingly parallel over tiny broadcast state, so the
cost is O(scan) + O(D / executors) regardless of table size. Python-task
skew (slow scipy-style kernels) is handled explicitly — AQE cannot see
Python task cost, so the plan bin-packs the kernels by measured weight
(greedy longest-processing-time) instead of round-robin repartitioning,
which could co-locate two stragglers and stretch the wave's tail.

How many bins: one per core, so every fit is ONE task wave. A Python
task wave has a fixed launch cost — an empty 4-task mapInPandas wave
takes 0.37-0.50 s on local[4] and an 8-task wave 0.63-0.73 s, with the
workers reused (about half of it is the worker's per-task
``importlib.invalidate_caches()``, which re-reads the directory of every
zip archive on its sys.path). A second wave of smaller bins buys no
balance the weights do not already give: on the full 91-distribution
registry (one column, 4 cores) the one-wave fit was not slower than the
two-wave one (median op 5.37 s vs 5.64 s over 16 alternated pairs),
because the slowest kernel (``nct``) bounds both layouts.
"""

from __future__ import annotations

from itertools import zip_longest

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from spark_bestfit_spark.functions import metrics as M
from spark_bestfit_spark.functions.distributions.registry import (
    DistributionRegistry,
)
from spark_bestfit_spark.plans.config import FitterConfig

_D = DoubleType()

FIT_RESULT_SCHEMA = StructType(
    [
        StructField("column_name", StringType()),
        StructField("distribution", StringType()),
        StructField("parameters", ArrayType(DoubleType())),
        StructField("sse", _D),
        StructField("aic", _D),
        StructField("bic", _D),
        StructField("ks_statistic", _D),
        StructField("pvalue", _D),
        StructField("ad_statistic", _D),
        StructField("ad_pvalue", _D),
        StructField("data_min", _D),
        StructField("data_max", _D),
        StructField("data_mean", _D),
        StructField("data_stddev", _D),
        StructField("data_count", _D),
        StructField("data_kurtosis", _D),
        StructField("data_skewness", _D),
        StructField("lower_bound", _D),
        StructField("upper_bound", _D),
    ]
)


def compute_data_stats(data: np.ndarray) -> dict:
    """Provenance stats attached to every result row (reference
    estimation.py:81-102)."""
    n = data.size
    if n == 0:
        return {k: float("nan") for k in (
            "data_min", "data_max", "data_mean", "data_stddev",
            "data_count", "data_kurtosis", "data_skewness",
        )}
    # Declared overflow policy: at adversarial magnitudes (|x| ~ 1e300)
    # the variance square and the z-score powers overflow float64. The
    # sentinel is deliberate — std becomes inf and the shape moments
    # become nan (an inf std carries no shape information) — so the
    # overflow is silenced here rather than leaking numpy's internal
    # RuntimeWarning from var/std.
    with np.errstate(over="ignore", invalid="ignore"):
        mean = float(np.mean(data))
        std = float(np.std(data))
        if not (np.isfinite(mean) and np.isfinite(std)):
            kurt, skew = float("nan"), float("nan")
        elif std > 0:
            zc = (data - mean) / std
            kurt = float(np.mean(zc**4) - 3.0)
            skew = float(np.mean(zc**3))
        else:
            kurt, skew = 0.0, 0.0
    return {
        "data_min": float(np.min(data)),
        "data_max": float(np.max(data)),
        "data_mean": mean,
        "data_stddev": std,
        "data_count": float(n),
        "data_kurtosis": kurt,
        "data_skewness": skew,
    }


def _sentinel_row(column: str, dist_name: str, stats: dict, bounds) -> dict:
    """Failed-fit sentinel (sse = inf) — filtered after the fan-out, so a
    single bad kernel can never fail the job (reference O17)."""
    return {
        "column_name": column,
        "distribution": dist_name,
        "parameters": [],
        "sse": float("inf"),
        "aic": float("inf"),
        "bic": float("inf"),
        "ks_statistic": None,
        "pvalue": None,
        "ad_statistic": None,
        "ad_pvalue": None,
        **stats,
        "lower_bound": bounds[0],
        "upper_bound": bounds[1],
    }


def fit_single_distribution(
    dist_name: str,
    data: np.ndarray,
    hist_density: np.ndarray,
    bin_edges: np.ndarray,
    column: str,
    stats: dict,
    config: FitterConfig,
    registry: DistributionRegistry,
    bounds=(None, None),
    method: str = "mle",
    censor_mask: np.ndarray | None = None,
) -> dict:
    """Fit one distribution to the broadcast sample; never raises.

    method: 'mle' (default) or 'mse' (maximum spacing — heavy tails).
    censor_mask: True = observed, False = right-censored; when present,
    the censored MLE is used and K-S / A-D are skipped (reference
    estimation.py:694-697 behavior).
    bounds: when set, all metrics are computed against the truncated
    view of the fitted distribution (frozen-dist variants).
    """
    try:
        dist = registry.resolve(dist_name)
        if censor_mask is not None:
            from spark_bestfit_spark.functions.estimation import censored_fit

            params = tuple(censored_fit(dist, data, censor_mask))
            data = data[np.asarray(censor_mask, dtype=bool)]
        elif method == "mse":
            from spark_bestfit_spark.functions.estimation import mse_fit

            params = tuple(mse_fit(dist, data))
        else:
            params = tuple(float(p) for p in dist.fit(data))

        truncated = bounds[0] is not None or bounds[1] is not None
        if truncated:
            from spark_bestfit_spark.functions.truncated import (
                TruncatedDistribution,
            )

            metric_dist = TruncatedDistribution(
                dist, params, bounds[0], bounds[1]
            )
        else:
            metric_dist = dist

        sse = M.compute_sse(metric_dist, params, hist_density, bin_edges)
        if not np.isfinite(sse):
            return _sentinel_row(column, dist_name, stats, bounds)
        aic, bic = M.compute_information_criteria(metric_dist, params, data)
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
            "lower_bound": bounds[0],
            "upper_bound": bounds[1],
        }
        if not config.lazy_metrics and censor_mask is None:
            ks, p = M.compute_ks(metric_dist, params, data)
            ad = M.compute_ad(metric_dist, params, data)
            row["ks_statistic"] = ks if np.isfinite(ks) else None
            row["pvalue"] = p if np.isfinite(p) else None
            row["ad_statistic"] = ad if np.isfinite(ad) else None
            # A-D p-value tables assume the untruncated family
            row["ad_pvalue"] = (
                None if truncated
                else M.compute_ad_pvalue(ad, dist_name, data.size)
            )
        return row
    except Exception:  # noqa: BLE001
        return _sentinel_row(column, dist_name, stats, bounds)


def _lpt_bins(items: list, weight_fn, n_bins: int) -> list:
    """Greedy longest-processing-time bin packing: heaviest item into the
    currently-lightest bin. Returns non-empty bins; the per-bin weighted
    load spread is what bounds the fan-out wave's tail."""
    import heapq

    if not items:
        return [items]
    n_bins = max(1, min(n_bins, len(items)))
    heap = [(0.0, i) for i in range(n_bins)]
    heapq.heapify(heap)
    bins: list = [[] for _ in range(n_bins)]
    for it in sorted(items, key=weight_fn, reverse=True):
        load, i = heapq.heappop(heap)
        bins[i].append(it)
        heapq.heappush(heap, (load + weight_fn(it), i))
    return [b for b in bins if b]


def _fit_bins(
    spark: SparkSession, registry: DistributionRegistry, names: dict
) -> list:
    """Bin-pack the (column, distribution) pairs of ``names`` (column ->
    distribution list) into ``min(cores, pairs)`` bins: one task wave
    (module docstring). Pairs are dealt round-robin across columns, so
    equal-weight kernels of different columns spread over the bins."""
    per_column = [
        [(c, n) for n in registry.interleave(ns)] for c, ns in names.items()
    ]
    pairs = [p for rnd in zip_longest(*per_column) for p in rnd if p]
    cores = spark.sparkContext.defaultParallelism
    return _lpt_bins(pairs, lambda p: registry.weight(p[1]), cores)


def _packed_fanout(
    spark: SparkSession,
    bins: list,
    process,
    schema,
    broadcast_registry: list | None = None,
) -> DataFrame:
    """Run ``process(bin_items) -> list[dict]`` once per weight-balanced
    bin, one task per bin (``_fit_bins`` sizes the bins to one wave).

    The task relation is ``spark.range(n_bins)`` with exactly one id per
    partition — a pure-JVM local relation, so each task runs ONE Python
    runner (the mapInPandas that fits). The previous parallelize-RDD
    route chained two Python evals per task (RDD pickle pipe feeding
    ArrowEval), which alone cost ~0.4 s of fixed wall-clock per fan-out
    wave at any data size. Bin contents ride a broadcast keyed by id, so
    explicit partition membership survives without an exchange."""
    sc = spark.sparkContext
    b_bins = sc.broadcast(bins)
    if broadcast_registry is not None:
        broadcast_registry.append(b_bins)

    def run(batches):
        bb = b_bins.value
        for pdf in batches:
            for bid in pdf["id"]:
                rows = process(bb[int(bid)])
                if rows:
                    yield pd.DataFrame(rows)

    n = len(bins)
    return spark.range(n, numPartitions=n).mapInPandas(run, schema)


def _kernel_args(plan: dict) -> tuple:
    """One column's plan as the fit kernel's per-column arguments:
    (sample, censor_mask, density, edges, stats, method). A censored
    plan's provenance stats describe its observed rows only."""
    sample, mask = plan["sample"], plan.get("censor_mask")
    observed = sample if mask is None else sample[np.asarray(mask, bool)]
    return (
        sample, mask, plan["density"], plan["edges"],
        compute_data_stats(observed), plan.get("method", "mle"),
    )


def parallel_fit_columns(
    spark: SparkSession,
    plans: dict,
    config: FitterConfig,
    registry: DistributionRegistry,
    bounds=(None, None),
    broadcast_registry: list | None = None,
) -> DataFrame:
    """ONE fan-out for many columns: the task relation is (column,
    distribution) pairs, so C columns x D distributions fill the cluster
    in a single wave instead of C sequential jobs.

    ``plans`` maps column -> dict(names, sample, density, edges, and
    optionally method and censor_mask). Broadcast payload is all
    per-column artifacts (~C x 90KB). ``broadcast_registry``: optional
    list the created broadcast variables are appended to so the caller
    can release them once the results are collected (reference O2
    cleanup discipline).
    """
    sc = spark.sparkContext
    b_plans = sc.broadcast({c: _kernel_args(p) for c, p in plans.items()})
    b_custom = sc.broadcast(registry.custom_distributions)
    if broadcast_registry is not None:
        broadcast_registry += [b_plans, b_custom]
    cfg = config
    bins = _fit_bins(
        spark, registry, {c: p["names"] for c, p in plans.items()}
    )

    def fit_bin(items):
        reg = DistributionRegistry(custom_exclusions=set())
        for name, dist in b_custom.value.items():
            reg.register_distribution(name, dist, overwrite=True)
        artifacts = b_plans.value
        rows = []
        for col, name in items:
            sample, mask, density, edges, stats, method = artifacts[col]
            rows.append(
                fit_single_distribution(
                    name, sample, density, edges, col, stats, cfg,
                    reg, bounds, method, mask,
                )
            )
        return rows

    result = _packed_fanout(
        spark, bins, fit_bin, FIT_RESULT_SCHEMA, broadcast_registry
    )
    return result.filter(F.col("sse") < F.lit(float("inf")))


def local_fit_columns(
    spark: SparkSession,
    plans: dict,
    config: FitterConfig,
    registry: DistributionRegistry,
    bounds=(None, None),
) -> DataFrame:
    """Driver-side execution of a tiny fit plan: same kernels and result
    schema as ``parallel_fit_columns``, but the (column, distribution)
    pairs run in-process and the result is a local relation
    (LocalTableScan — no fan-out job, no broadcast, no shuffle).

    Dispatch happens in ``DistributionFitter.fit`` when the weighted fit
    count is at most ``config.local_fit_threshold``: at that size the
    per-task overhead of a cluster round-trip exceeds the kernel cost,
    exactly like Catalyst executing small plans locally."""
    rows = []
    for c, p in plans.items():
        sample, mask, density, edges, stats, method = _kernel_args(p)
        for name in p["names"]:
            row = fit_single_distribution(
                name, sample, density, edges, c, stats, config, registry,
                bounds, method, mask,
            )
            if row["sse"] < float("inf"):
                rows.append(row)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in FIT_RESULT_SCHEMA])
        if rows else pd.DataFrame(columns=[f.name for f in FIT_RESULT_SCHEMA]),
        schema=FIT_RESULT_SCHEMA,
    )
