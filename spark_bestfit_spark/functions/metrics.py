"""Goodness-of-fit metrics: CDF-based SSE, AIC/BIC, K-S, Anderson-Darling.

Semantics match the reference's metric definitions
(/root/reference/src/spark_bestfit/metrics.py, discrete_fitting.py):

- SSE compares histogram *density* to the model's expected per-bin density
  computed from CDF differences (2-10x more accurate than midpoint PDF).
- AIC = 2k - 2LL, BIC = k ln n - 2LL over the fitting sample.
- K-S uses the two-sided sup distance with the Stephens small-sample
  correction for the p-value; parameters fitted on the same data make the
  p-values conservative (same caveat as the reference).
- A-D uses the standard A² formula with epsilon-clipped CDF values;
  p-values come from the published Stephens critical-value tables for the
  distributions that have them (norm/expon/logistic/gumbel families).
"""

from __future__ import annotations

import numpy as np

from spark_bestfit_spark.functions import special as sp

NUMERICAL_EPSILON: float = 1e-10

# Stephens (1974/1986) upper-tail critical values at significance levels
# 15%, 10%, 5%, 2.5%, 1% — the same tables scipy.stats.anderson uses.
_AD_TABLES: dict = {
    "norm": (np.array([0.576, 0.656, 0.787, 0.918, 1.092]), "norm"),
    "expon": (np.array([0.922, 1.078, 1.341, 1.606, 1.957]), "expon"),
    "logistic": (np.array([0.426, 0.563, 0.660, 0.769, 0.906]), "logistic"),
    "gumbel_r": (np.array([0.474, 0.637, 0.757, 0.877, 1.038]), "gumbel"),
    "gumbel_l": (np.array([0.474, 0.637, 0.757, 0.877, 1.038]), "gumbel"),
}
_AD_SIG = np.array([0.15, 0.10, 0.05, 0.025, 0.01])

AD_PVALUE_DISTRIBUTIONS = set(_AD_TABLES)


def expected_bin_density(dist, params, bin_edges: np.ndarray) -> np.ndarray:
    """Model density per bin from CDF differences (reference F6)."""
    cdf_vals = dist.cdf(bin_edges, *params)
    probs = np.diff(cdf_vals)
    widths = np.diff(bin_edges)
    with np.errstate(divide="ignore", invalid="ignore"):
        return probs / widths


def compute_sse(
    dist, params, hist_density: np.ndarray, bin_edges: np.ndarray
) -> float:
    """CDF-difference SSE between the empirical histogram density and the
    fitted model."""
    try:
        expected = expected_bin_density(dist, params, bin_edges)
        if not np.all(np.isfinite(expected)):
            return float("inf")
        # Declared sentinel: at adversarial magnitudes (~1e300) the squared
        # residual overflows; clamp to inf explicitly instead of letting the
        # RuntimeWarning leak (inf SSE == "this fit is unusable", by design).
        with np.errstate(over="ignore"):
            sse = float(np.sum((hist_density - expected) ** 2))
        return sse if np.isfinite(sse) else float("inf")
    except Exception:  # noqa: BLE001
        return float("inf")


def compute_information_criteria(dist, params, data: np.ndarray):
    """(AIC, BIC) from the log-likelihood on the fitting sample."""
    try:
        n = len(data)
        k = len(params)
        logpdf = dist.logpdf(data, *params)
        # Declared sentinel: -inf (outside the support) + inf (at a pole)
        # sums to nan, reported as (inf, inf) below — silence numpy's warning
        with np.errstate(invalid="ignore"):
            ll = float(np.sum(logpdf))
        if not np.isfinite(ll):
            return float("inf"), float("inf")
        return 2.0 * k - 2.0 * ll, k * float(np.log(n)) - 2.0 * ll
    except Exception:  # noqa: BLE001
        return float("inf"), float("inf")


def compute_ks(dist, params, data: np.ndarray):
    """Two-sided K-S statistic + asymptotic p-value (Stephens correction)."""
    try:
        x = np.sort(np.asarray(data, dtype=np.float64))
        n = x.size
        if n == 0:
            return float("nan"), float("nan")
        cdf = np.asarray(dist.cdf(x, *params), dtype=np.float64)
        if not np.all(np.isfinite(cdf)):
            return float("inf"), 0.0
        ecdf_hi = np.arange(1, n + 1) / n
        ecdf_lo = np.arange(0, n) / n
        d = float(max(np.max(ecdf_hi - cdf), np.max(cdf - ecdf_lo)))
        sqn = np.sqrt(n)
        p = float(
            np.asarray(sp.kolmogorov_sf(d * (sqn + 0.12 + 0.11 / sqn))).ravel()[0]
        )
        return d, min(max(p, 0.0), 1.0)
    except Exception:  # noqa: BLE001
        return float("inf"), 0.0


def compute_ks_and_ad(dist, params, sorted_x: np.ndarray):
    """K-S statistic + p-value AND Anderson-Darling A² from ONE model
    CDF evaluation over an already-sorted sample.

    The lazy-metrics recompute path calls this once per candidate: the
    separate compute_ks/compute_ad entry points each re-sort the data
    and re-evaluate the CDF, which doubles the dominant cost (the CDF
    of quadrature-backed kernels) for callers that want both. Values
    are bit-identical to the separate functions for ANY model CDF:
    the K-S branch uses the raw CDF and returns (inf, 0) when it is
    non-finite (compute_ks), while the A-D branch always works on the
    epsilon-clipped copy, so +/-inf CDF values still yield the same
    finite A² compute_ad reports (NaNs propagate to inf in both).

    Returns (d, p, a2)."""
    try:
        x = np.asarray(sorted_x, dtype=np.float64)
        n = x.size
        if n == 0:
            return float("nan"), float("nan"), float("nan")
        cdf = np.asarray(dist.cdf(x, *params), dtype=np.float64)
        i = np.arange(1, n + 1)
        if np.all(np.isfinite(cdf)):
            d = float(max(np.max(i / n - cdf), np.max(cdf - (i - 1) / n)))
            sqn = np.sqrt(n)
            p = float(
                np.asarray(
                    sp.kolmogorov_sf(d * (sqn + 0.12 + 0.11 / sqn))
                ).ravel()[0]
            )
            p = min(max(p, 0.0), 1.0)
        else:
            d, p = float("inf"), 0.0
        clipped = np.clip(cdf, NUMERICAL_EPSILON, 1.0 - NUMERICAL_EPSILON)
        s = np.sum(
            (2 * i - 1) * (np.log(clipped) + np.log(1.0 - clipped[::-1]))
        )
        a2 = -n - s / n
        return d, p, float(a2) if np.isfinite(a2) else float("inf")
    except Exception:  # noqa: BLE001
        return float("inf"), 0.0, float("inf")


def compute_ad(dist, params, data: np.ndarray) -> float:
    """Anderson-Darling A² with epsilon-clipped CDF values."""
    try:
        x = np.sort(np.asarray(data, dtype=np.float64))
        n = x.size
        if n == 0:
            return float("nan")
        cdf = np.clip(
            np.asarray(dist.cdf(x, *params), dtype=np.float64),
            NUMERICAL_EPSILON,
            1.0 - NUMERICAL_EPSILON,
        )
        i = np.arange(1, n + 1)
        s = np.sum((2 * i - 1) * (np.log(cdf) + np.log(1.0 - cdf[::-1])))
        a2 = -n - s / n
        return float(a2) if np.isfinite(a2) else float("inf")
    except Exception:  # noqa: BLE001
        return float("inf")


def compute_ad_pvalue(a2: float, dist_name: str, n: int):
    """Approximate A-D p-value by interpolating the Stephens critical-value
    table; only defined for the classic families (reference metrics.py:24-30,
    269-322). Returns None when unsupported."""
    if dist_name not in _AD_TABLES or not np.isfinite(a2) or n < 2:
        return None
    cvs, family = _AD_TABLES[dist_name]
    # small-sample adjustment of the statistic (D'Agostino & Stephens)
    if family == "norm":
        a2 = a2 * (1.0 + 0.75 / n + 2.25 / (n * n))
    elif family == "expon":
        a2 = a2 * (1.0 + 0.6 / n)
    if a2 <= cvs[0]:
        return 0.15
    if a2 >= cvs[-1]:
        return 0.01
    # log-linear interpolation of significance level between critical values
    logsig = np.interp(a2, cvs, np.log(_AD_SIG))
    return float(np.exp(logsig))


# ------------------------------------------------------------------ discrete
def compute_discrete_sse(
    dist, params, x_values: np.ndarray, empirical_pmf: np.ndarray
) -> float:
    """Sum of squared PMF errors on observed support points (reference
    discrete_fitting.py:184-209)."""
    try:
        model = np.asarray(dist.pmf(x_values, *params), dtype=np.float64)
        if not np.all(np.isfinite(model)):
            return float("inf")
        return float(np.sum((empirical_pmf - model) ** 2))
    except Exception:  # noqa: BLE001
        return float("inf")


def compute_discrete_information_criteria(dist, params, data: np.ndarray):
    try:
        n = len(data)
        k = len(params)
        ll = float(np.sum(dist.logpmf(data, *params)))
        if not np.isfinite(ll):
            return float("inf"), float("inf")
        return 2.0 * k - 2.0 * ll, k * float(np.log(n)) - 2.0 * ll
    except Exception:  # noqa: BLE001
        return float("inf"), float("inf")


def compute_discrete_ks(dist, params, data: np.ndarray):
    """Two-sided K-S for an integer-lattice model, D = max(D+, D-) over
    the distinct support points k of the sample, so tied observations
    are one ECDF jump: D+ = max(ECDF(k) - F(k)) and
    D- = max(F(k - 1) - ECDF(k-)), the exact sup of |ECDF - F|.
    Asymptotic p via the Kolmogorov limit at n = sample size (reference
    discrete_fitting.py:256-320)."""
    try:
        x = np.asarray(data, dtype=np.float64)
        n = x.size
        if n == 0:
            return float("nan"), float("nan")
        k, counts = np.unique(x, return_counts=True)
        cdf = np.asarray(dist.cdf(k, *params), dtype=np.float64)
        below = np.asarray(dist.cdf(k - 1.0, *params), dtype=np.float64)
        if not (np.all(np.isfinite(cdf)) and np.all(np.isfinite(below))):
            return float("inf"), 0.0
        cum = np.cumsum(counts)
        d = float(max(
            np.max(cum / n - cdf), np.max(below - (cum - counts) / n)
        ))
        p = float(np.asarray(sp.kolmogorov_sf(np.sqrt(n) * d)).ravel()[0])
        return d, min(max(p, 0.0), 1.0)
    except Exception:  # noqa: BLE001
        return float("inf"), 0.0
