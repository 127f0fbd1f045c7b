"""Bootstrap confidence intervals for fitted parameters (reference
estimation.py:826-943 capability, Spark-first execution).

The reference loops B resamples on the driver; the idiomatic scale-up
(SURVEY F19) fans the resamples out: a B-row task relation, the fitting
sample broadcast once, each task refits its resample — embarrassingly
parallel, one job, B x k floats back to the driver.

Semantics kept from the reference: percentile bootstrap (default 1000
resamples), per-parameter 3 x IQR outlier filtering, >= 10 successful
refits required.
"""

from __future__ import annotations

import inspect

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from spark_bestfit_spark.functions.distributions.registry import (
    DistributionRegistry,
)
from spark_bestfit_spark.functions.text import portable_hash64

__all__ = ["bootstrap_ci", "bootstrap_ci_local",
           "poisson_bootstrap_means", "poisson_bootstrap_ci"]

MIN_SUCCESSES = 10
_IQR_MULT = 3.0


def _percentile_ci(
    samples: np.ndarray, confidence: float
) -> tuple:
    """(lo, hi) percentile interval after 3xIQR outlier removal."""
    q1, q3 = np.percentile(samples, [25, 75])
    iqr = q3 - q1
    keep = samples
    if iqr > 0:
        keep = samples[
            (samples >= q1 - _IQR_MULT * iqr)
            & (samples <= q3 + _IQR_MULT * iqr)
        ]
        if keep.size < MIN_SUCCESSES:
            keep = samples
    alpha = (1.0 - confidence) / 2.0
    lo, hi = np.percentile(keep, [100 * alpha, 100 * (1.0 - alpha)])
    return float(lo), float(hi)


def _intervals_from_params(
    all_params: np.ndarray, param_names: list, confidence: float
) -> dict:
    if all_params.shape[0] < MIN_SUCCESSES:
        raise ValueError(
            f"only {all_params.shape[0]} bootstrap refits succeeded "
            f"(need >= {MIN_SUCCESSES}); data may be degenerate"
        )
    return {
        name: _percentile_ci(all_params[:, j], confidence)
        for j, name in enumerate(param_names)
    }


def bootstrap_ci(
    spark: SparkSession,
    dist_name: str,
    data: np.ndarray,
    n_resamples: int = 1000,
    confidence: float = 0.95,
    seed: int = 42,
    registry: DistributionRegistry | None = None,
) -> dict:
    """Distributed percentile-bootstrap CIs: param_name -> (lo, hi)."""
    if not (0.0 < confidence < 1.0):
        raise ValueError("confidence must be in (0, 1)")
    registry = registry or DistributionRegistry()
    dist = registry.resolve(dist_name)
    data = np.asarray(data, dtype=np.float64)
    data = data[np.isfinite(data)]
    if data.size < 2:
        raise ValueError("need >= 2 finite points")
    param_names = dist.param_names()
    k = len(param_names)

    # point estimate once on the driver: every resample refit warm-starts
    # its simplex here, cutting the per-refit optimizer budget severalfold
    # (the resample optimum is a small perturbation of the full-data one).
    # Discrete kernels don't take a start (their MLEs are closed-form or
    # 1-D searches) — feature-detect instead of special-casing names.
    point = None
    if "start" in inspect.signature(dist.fit).parameters:
        try:
            point = tuple(float(p) for p in dist.fit(data))
        except Exception:  # noqa: BLE001 — cold-start refits still work
            point = None

    sc = spark.sparkContext
    b_data = sc.broadcast((data, point))
    n_parts = max(1, min(n_resamples, sc.defaultParallelism * 2))
    # numPartitions on range(): contiguous id blocks per task, no shuffle
    plan = spark.range(n_resamples, numPartitions=n_parts)

    def refit(batches):
        sample, start = b_data.value
        n = sample.size
        reg = DistributionRegistry(custom_exclusions=set())
        d = reg.resolve(dist_name)
        for pdf in batches:
            rows = []
            for idx in pdf["id"]:
                rng = np.random.default_rng(seed + int(idx))
                resample = sample[rng.integers(0, n, n)]
                try:
                    if start is not None:
                        params = tuple(
                            float(p) for p in d.fit(resample, start=start)
                        )
                    else:
                        params = tuple(float(p) for p in d.fit(resample))
                    if len(params) == k and all(
                        np.isfinite(p) for p in params
                    ):
                        rows.append({f"p{j}": params[j] for j in range(k)})
                except Exception:  # noqa: BLE001 — failed refit dropped
                    pass
            if rows:
                yield pd.DataFrame(rows)

    schema = ", ".join(f"p{j} double" for j in range(k))
    fitted = plan.mapInPandas(refit, schema=schema)
    fitted = fitted.filter(
        F.greatest(*[F.abs(F.col(f"p{j}")) for j in range(k)])
        < F.lit(float("inf"))
    )
    pdf = fitted.toPandas()
    all_params = pdf.to_numpy(dtype=np.float64)
    return _intervals_from_params(all_params, param_names, confidence)


def bootstrap_ci_local(
    dist_name: str,
    data: np.ndarray,
    n_resamples: int = 200,
    confidence: float = 0.95,
    seed: int = 42,
    registry: DistributionRegistry | None = None,
) -> dict:
    """Driver-local variant for small B / interactive use."""
    registry = registry or DistributionRegistry()
    dist = registry.resolve(dist_name)
    data = np.asarray(data, dtype=np.float64)
    data = data[np.isfinite(data)]
    if data.size < 2:
        raise ValueError("need >= 2 finite points")
    param_names = dist.param_names()
    k = len(param_names)
    point = None
    if "start" in inspect.signature(dist.fit).parameters:
        try:
            point = tuple(float(p) for p in dist.fit(data))
        except Exception:  # noqa: BLE001
            point = None
    out = []
    n = data.size
    for idx in range(n_resamples):
        rng = np.random.default_rng(seed + idx)
        resample = data[rng.integers(0, n, n)]
        try:
            if point is not None:
                params = tuple(
                    float(p) for p in dist.fit(resample, start=point)
                )
            else:
                params = tuple(float(p) for p in dist.fit(resample))
            if len(params) == k and all(np.isfinite(p) for p in params):
                out.append(params)
        except Exception:  # noqa: BLE001
            pass
    return _intervals_from_params(
        np.asarray(out, dtype=np.float64).reshape(-1, k),
        param_names, confidence,
    )


# Poisson(1) CDF thresholds for the Poisson bootstrap weight draw
# (P(X <= k) for k = 0..7; weights cap at 8 — P(X > 8) ~ 1e-6).
_POIS1_CDF = [
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253,
]


def poisson_bootstrap_means(
    df,
    value_col: str,
    id_col: str,
    n_replicates: int = 200,
    seed: int = 42,
) -> "pyspark.sql.DataFrame":  # noqa: F821
    """Distributed bootstrap of the mean in ONE linear pass — the
    Poisson bootstrap (Chamandy et al. 2012, "Estimating uncertainty
    for massive data streams", the standard cluster-scale form):
    classical resampling-with-replacement needs n coordinated draws
    over a distributed index (impossible at 100 TB), but each row's
    resample multiplicity is asymptotically Poisson(1), so every row
    can draw its own weight per replicate independently, map-side.

    Weights come from the SQL-portable md5 hash of
    ``id:replicate:seed`` inverted through the Poisson(1) CDF —
    deterministic, partition-layout invariant, and replicable in any
    engine (no ``rand()``).

    .. warning:: ``id_col`` MUST be unique per row (after the string
       cast). Rows sharing an id hash to the SAME weight in every
       replicate — perfectly correlated draws that understate
       replicate variance and silently narrow the CI. Pass a true row
       id (or a composite like ``concat(orderkey, '~', linenumber)``);
       the hash input deliberately contains nothing else, so
       determinism cannot rescue a non-unique id.

    The explode is n x B rows of CPU (the
    honest cost of B replicates) but the shuffle carries only
    ``partitions x B`` partial sums: map-side combine collapses each
    replicate inside every task.

    Returns the B-row relation ``(replicate, n_eff, mean_v)`` —
    ``n_eff`` the total resample weight, ``mean_v`` the weighted
    replicate mean rounded to 6 (null for an all-zero-weight
    replicate, only possible at tiny n). Feed it to
    :func:`poisson_bootstrap_ci` for the percentile interval.
    """
    if n_replicates < 2:
        raise ValueError("n_replicates must be >= 2")
    valid = df.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    )
    exploded = valid.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(value_col).cast("double").alias("_v"),
        F.explode(
            F.sequence(F.lit(0), F.lit(int(n_replicates) - 1))
        ).alias("replicate"),
    )
    u = portable_hash64(
        F.concat_ws(
            ":",
            F.col("_id"),
            F.col("replicate").cast("string"),
            F.lit(str(int(seed))),
        )
    ) / F.lit(float(1 << 56))
    w = F.lit(8)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    per_rep = exploded.groupBy("replicate").agg(
        F.sum(w).cast("long").alias("n_eff"),
        F.round(
            F.sum(w.cast("double") * F.col("_v")) / F.sum(w), 6
        ).alias("mean_v"),
    )
    return per_rep


def poisson_bootstrap_ci(
    df,
    value_col: str,
    id_col: str,
    n_replicates: int = 200,
    seed: int = 42,
    alpha: float = 0.05,
) -> dict:
    """Percentile CI for the mean from :func:`poisson_bootstrap_means`
    (collects exactly B floats — never data-sized)."""
    means = sorted(
        r["mean_v"]
        for r in poisson_bootstrap_means(
            df, value_col, id_col, n_replicates, seed
        ).collect()
        if r["mean_v"] is not None
    )
    if len(means) < 2:
        raise ValueError("not enough successful replicates")
    lo_i = int(np.floor(alpha / 2 * (len(means) - 1)))
    hi_i = int(np.ceil((1 - alpha / 2) * (len(means) - 1)))
    return {
        "mean": float(np.mean(means)),
        "lower": means[lo_i],
        "upper": means[hi_i],
        "n_replicates": len(means),
    }
