"""Estimation methods beyond plain MLE: maximum-spacing (MSE), censored
MLE, and the heavy-tail detector that drives ``method='auto'``.

Reference semantics (estimation.py:126-477) re-derived from public
statistics:

- **MSE** (Cheng & Amin 1983 maximum product of spacings): maximize the
  mean log spacing of CDF-transformed order statistics — robust for
  heavy-tailed data where the likelihood is unbounded. MLE warm start,
  Nelder-Mead refinement.
- **Censored MLE** (right-censoring / survival): LL = Σ logpdf(observed)
  + Σ logsf(censored). Warns above 80% censoring; optimizer starts from
  the MLE on the observed subset.
- **Heavy-tail detection**: excess kurtosis > 6 or max/p99 ratio > 3.
"""

from __future__ import annotations

import warnings

import numpy as np

from spark_bestfit_spark.functions.optimize import nelder_mead

__all__ = [
    "mse_fit",
    "censored_fit",
    "detect_heavy_tail",
    "HEAVY_TAIL_KURTOSIS",
    "HEAVY_TAIL_RATIO",
]

HEAVY_TAIL_KURTOSIS = 6.0
HEAVY_TAIL_RATIO = 3.0
_CENSOR_WARN_FRACTION = 0.8
_SPACING_EPS = 1e-12


def detect_heavy_tail(data: np.ndarray) -> bool:
    """True when the sample looks heavy-tailed (reference F14)."""
    x = np.asarray(data, dtype=np.float64)
    x = x[np.isfinite(x)]
    if x.size < 10:
        return False
    mean = x.mean()
    std = x.std()
    if std <= 0:
        return False
    kurt = float(np.mean(((x - mean) / std) ** 4) - 3.0)
    if kurt > HEAVY_TAIL_KURTOSIS:
        return True
    p99 = float(np.quantile(x, 0.99))
    mx = float(x.max())
    if p99 > 0 and mx / p99 > HEAVY_TAIL_RATIO:
        return True
    return False


def _spacing_objective(dist, data_sorted: np.ndarray):
    """Negative mean log spacing of CDF-transformed order statistics."""
    n = data_sorted.size

    def objective(params) -> float:
        try:
            shapes = params[:-2]
            if not dist._check_shapes(shapes):
                return 1e12
            scale = params[-1]
            if scale <= 0 or not np.all(np.isfinite(params)):
                return 1e12
            u = np.asarray(dist.cdf(data_sorted, *params), dtype=np.float64)
            if not np.all(np.isfinite(u)):
                return 1e12
            # spacings include the 0 and 1 end intervals
            spacings = np.diff(np.concatenate(([0.0], u, [1.0])))
            spacings = np.clip(spacings, _SPACING_EPS, None)
            return -float(np.mean(np.log(spacings)))
        except Exception:  # noqa: BLE001
            return 1e12

    return objective


def mse_fit(dist, data: np.ndarray, warm_start=None) -> tuple:
    """Maximum-spacing estimate; falls back to the warm start (MLE) when
    the refinement does not improve the spacing objective."""
    x = np.sort(np.asarray(data, dtype=np.float64))
    x = np.unique(x[np.isfinite(x)])  # ties break log spacings
    if x.size < dist.n_params + 1:
        raise ValueError("not enough distinct points for MSE")
    start = tuple(
        float(p) for p in (warm_start if warm_start is not None
                           else dist.fit(x))
    )
    objective = _spacing_objective(dist, x)
    f0 = objective(np.asarray(start, dtype=np.float64))
    best, fbest, _ = nelder_mead(
        objective, np.asarray(start, dtype=np.float64), maxiter=400
    )
    if fbest < f0 and np.all(np.isfinite(best)):
        return tuple(float(p) for p in best)
    return start


def censored_fit(
    dist, values: np.ndarray, observed_mask: np.ndarray
) -> tuple:
    """Right-censored MLE: observed points contribute logpdf, censored
    points contribute logsf. ``observed_mask`` True = event observed."""
    values = np.asarray(values, dtype=np.float64)
    observed_mask = np.asarray(observed_mask, dtype=bool)
    finite = np.isfinite(values)
    values, observed_mask = values[finite], observed_mask[finite]
    obs = values[observed_mask]
    cens = values[~observed_mask]
    if obs.size < dist.n_params:
        raise ValueError("not enough observed (uncensored) points")
    frac_censored = cens.size / max(values.size, 1)
    if frac_censored > _CENSOR_WARN_FRACTION:
        warnings.warn(
            f"{frac_censored:.0%} of rows are censored; censored-MLE "
            "estimates will be unstable", stacklevel=2
        )
    start = np.asarray(dist.fit(obs), dtype=np.float64)
    if cens.size == 0:
        return tuple(float(p) for p in start)

    def objective(params) -> float:
        try:
            shapes = params[:-2]
            if not dist._check_shapes(shapes):
                return 1e12
            if params[-1] <= 0 or not np.all(np.isfinite(params)):
                return 1e12
            logpdf = dist.logpdf(obs, *params)
            logsf = dist.logsf(cens, *params)
            # declared sentinel: -inf (outside the support) + inf (at a
            # pole) sums to nan, mapped to 1e12 below — silence numpy
            with np.errstate(invalid="ignore"):
                ll = np.sum(logpdf) + np.sum(logsf)
            if not np.isfinite(ll):
                return 1e12
            return -float(ll)
        except Exception:  # noqa: BLE001
            return 1e12

    best, fbest, _ = nelder_mead(objective, start, maxiter=400)
    if np.all(np.isfinite(best)) and fbest < objective(start):
        return tuple(float(p) for p in best)
    return tuple(float(p) for p in start)
