"""Continuous distribution implementations (standard forms, pure NumPy).

Names, shape conventions and supports are scipy.stats-compatible so results
are comparable with the reference engine (which fits scipy distributions —
/root/reference/src/spark_bestfit/distributions.py:78). Every distribution
defines a closed-form ``_cdf`` (and ``_ppf`` where one exists) so that
CDF-based SSE and K-S statistics are fast and accurate.
"""

from __future__ import annotations

import numpy as np

from spark_bestfit_spark.functions import special as sp
from spark_bestfit_spark.functions.distributions.base import (
    ContinuousDistribution,
)

_LOG_SQRT2PI = 0.5 * np.log(2.0 * np.pi)
_SQRT2 = np.sqrt(2.0)


def _std_moments(data):
    # same declared-overflow policy as compute_data_stats: at |x|~1e300
    # the variance square overflows and the scale is inf, silently
    with np.errstate(over="ignore", invalid="ignore"):
        m = float(np.mean(data))
        s = float(np.std(data))
    return m, (s if s > 0 else 1.0)


# --------------------------------------------------------------------------
# Location-scale families (no shape parameters)
# --------------------------------------------------------------------------
class Norm(ContinuousDistribution):
    name = "norm"

    def _logpdf(self, z):
        return -0.5 * z * z - _LOG_SQRT2PI

    def _cdf(self, z):
        return sp.ndtr(z)

    def _sf(self, z):
        return sp.norm_sf(z)

    def _logsf(self, z):
        return sp.log_ndtr(-np.asarray(z))

    def _ppf(self, q):
        return sp.ndtri(q)

    def _fit_closed(self, data):
        m, s = _std_moments(data)
        return (m, s)


class Expon(ContinuousDistribution):
    name = "expon"
    a = 0.0

    def _logpdf(self, z):
        return -z

    def _cdf(self, z):
        return -np.expm1(-z)

    def _sf(self, z):
        return np.exp(-z)

    def _logsf(self, z):
        return -np.asarray(z, dtype=np.float64)

    def _ppf(self, q):
        return -np.log1p(-q)

    def _fit_closed(self, data):
        loc = float(np.min(data))
        scale = float(np.mean(data)) - loc
        return (loc, scale if scale > 0 else 1e-12)


class Uniform(ContinuousDistribution):
    name = "uniform"
    a, b = 0.0, 1.0

    def _logpdf(self, z):
        return np.zeros_like(np.asarray(z, dtype=np.float64))

    def _cdf(self, z):
        return np.clip(z, 0.0, 1.0)

    def _ppf(self, q):
        return q

    def _fit_closed(self, data):
        lo = float(np.min(data))
        hi = float(np.max(data))
        return (lo, (hi - lo) or 1e-12)


class Logistic(ContinuousDistribution):
    name = "logistic"

    def _logpdf(self, z):
        return -z - 2.0 * np.log1p(np.exp(-z))

    def _cdf(self, z):
        return 1.0 / (1.0 + np.exp(-z))

    def _ppf(self, q):
        with np.errstate(divide="ignore"):
            return np.log(q / (1.0 - q))

    def _fit_start(self, data):
        m, s = _std_moments(data)
        return (m, s * np.sqrt(3.0) / np.pi)


class Laplace(ContinuousDistribution):
    name = "laplace"

    def _logpdf(self, z):
        return -np.abs(z) - np.log(2.0)

    def _cdf(self, z):
        z = np.asarray(z, dtype=np.float64)
        return np.where(z < 0, 0.5 * np.exp(z), 1.0 - 0.5 * np.exp(-z))

    def _ppf(self, q):
        q = np.asarray(q, dtype=np.float64)
        with np.errstate(divide="ignore"):
            return np.where(
                q < 0.5, np.log(2.0 * q), -np.log(2.0 * (1.0 - q))
            )

    def _fit_closed(self, data):
        loc = float(np.median(data))
        scale = float(np.mean(np.abs(data - loc)))
        return (loc, scale if scale > 0 else 1e-12)


class Cauchy(ContinuousDistribution):
    name = "cauchy"

    def _logpdf(self, z):
        return -np.log(np.pi) - np.log1p(z * z)

    def _cdf(self, z):
        return 0.5 + np.arctan(z) / np.pi

    def _ppf(self, q):
        return np.tan(np.pi * (np.asarray(q, dtype=np.float64) - 0.5))

    def _fit_start(self, data):
        q25, q50, q75 = np.percentile(data, [25, 50, 75])
        return (float(q50), float(q75 - q25) / 2.0 or 1.0)


class GumbelR(ContinuousDistribution):
    name = "gumbel_r"

    def _logpdf(self, z):
        return -z - np.exp(-z)

    def _cdf(self, z):
        return np.exp(-np.exp(-z))

    def _ppf(self, q):
        with np.errstate(divide="ignore"):
            return -np.log(-np.log(q))

    def _fit_start(self, data):
        m, s = _std_moments(data)
        scale = s * np.sqrt(6.0) / np.pi
        return (m - 0.57721566 * scale, scale)


class GumbelL(ContinuousDistribution):
    name = "gumbel_l"

    def _logpdf(self, z):
        return z - np.exp(z)

    def _cdf(self, z):
        return -np.expm1(-np.exp(z))

    def _ppf(self, q):
        with np.errstate(divide="ignore"):
            return np.log(-np.log1p(-q))

    def _fit_start(self, data):
        m, s = _std_moments(data)
        scale = s * np.sqrt(6.0) / np.pi
        return (m + 0.57721566 * scale, scale)


class HalfNorm(ContinuousDistribution):
    name = "halfnorm"
    a = 0.0

    def _logpdf(self, z):
        return 0.5 * np.log(2.0 / np.pi) - 0.5 * z * z

    def _cdf(self, z):
        return sp.erf(np.asarray(z) / _SQRT2)

    def _ppf(self, q):
        return sp.ndtri((1.0 + np.asarray(q, dtype=np.float64)) / 2.0)

    def _fit_start(self, data):
        loc = float(np.min(data))
        return (loc, float(np.std(data)) or 1.0)


class HalfLogistic(ContinuousDistribution):
    name = "halflogistic"
    a = 0.0

    def _logpdf(self, z):
        return np.log(2.0) - z - 2.0 * np.log1p(np.exp(-z))

    def _cdf(self, z):
        return np.tanh(np.asarray(z, dtype=np.float64) / 2.0)

    def _ppf(self, q):
        q = np.asarray(q, dtype=np.float64)
        with np.errstate(divide="ignore"):
            return np.log((1.0 + q) / (1.0 - q))

    def _fit_start(self, data):
        return (float(np.min(data)), float(np.std(data)) or 1.0)


class HalfCauchy(ContinuousDistribution):
    name = "halfcauchy"
    a = 0.0

    def _logpdf(self, z):
        return np.log(2.0 / np.pi) - np.log1p(z * z)

    def _cdf(self, z):
        return 2.0 / np.pi * np.arctan(z)

    def _ppf(self, q):
        return np.tan(np.pi * np.asarray(q, dtype=np.float64) / 2.0)

    def _fit_start(self, data):
        loc = float(np.min(data))
        return (loc, float(np.median(data) - loc) or 1.0)


class Rayleigh(ContinuousDistribution):
    name = "rayleigh"
    a = 0.0

    def _logpdf(self, z):
        with np.errstate(divide="ignore"):
            return np.log(z) - 0.5 * z * z

    def _cdf(self, z):
        return -np.expm1(-0.5 * z * z)

    def _ppf(self, q):
        return np.sqrt(-2.0 * np.log1p(-np.asarray(q, dtype=np.float64)))

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        scale = float(np.std(data)) / 0.6551 or 1.0
        return (loc, scale)


class Maxwell(ContinuousDistribution):
    name = "maxwell"
    a = 0.0

    def _logpdf(self, z):
        with np.errstate(divide="ignore"):
            return (
                0.5 * np.log(2.0 / np.pi) + 2.0 * np.log(z) - 0.5 * z * z
            )

    def _cdf(self, z):
        return sp.gammainc(1.5, 0.5 * np.asarray(z) ** 2)

    def _ppf(self, q):
        return np.sqrt(2.0 * sp.gammaincinv(1.5, q))

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (loc, float(np.std(data)) / 0.673 or 1.0)


class HypSecant(ContinuousDistribution):
    name = "hypsecant"

    def _logpdf(self, z):
        # log(sech(pi z / 2) / 2) computed overflow-safe
        t = np.abs(np.pi * np.asarray(z, dtype=np.float64) / 2.0)
        return np.log(2.0) - t - np.log1p(np.exp(-2.0 * t)) - np.log(2.0)

    def _cdf(self, z):
        return 2.0 / np.pi * np.arctan(np.exp(np.pi * np.asarray(z) / 2.0))

    def _ppf(self, q):
        with np.errstate(divide="ignore"):
            return (
                2.0
                / np.pi
                * np.log(np.tan(np.pi * np.asarray(q, dtype=np.float64) / 2.0))
            )


class Anglit(ContinuousDistribution):
    name = "anglit"
    a, b = -np.pi / 4.0, np.pi / 4.0

    def _logpdf(self, z):
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.log(np.cos(2.0 * np.asarray(z, dtype=np.float64)))

    def _cdf(self, z):
        return np.sin(np.asarray(z, dtype=np.float64) + np.pi / 4.0) ** 2

    def _ppf(self, q):
        return np.arcsin(np.sqrt(np.asarray(q, dtype=np.float64))) - np.pi / 4.0


class Cosine(ContinuousDistribution):
    name = "cosine"
    a, b = -np.pi, np.pi

    def _logpdf(self, z):
        with np.errstate(divide="ignore"):
            return np.log1p(np.cos(z)) - np.log(2.0 * np.pi)

    def _cdf(self, z):
        z = np.asarray(z, dtype=np.float64)
        return (np.pi + z + np.sin(z)) / (2.0 * np.pi)


class Semicircular(ContinuousDistribution):
    name = "semicircular"
    a, b = -1.0, 1.0

    def _logpdf(self, z):
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.log(2.0 / np.pi) + 0.5 * np.log1p(-np.asarray(z) ** 2)

    def _cdf(self, z):
        z = np.asarray(z, dtype=np.float64)
        return 0.5 + (z * np.sqrt(np.clip(1.0 - z * z, 0, 1)) + np.arcsin(z)) / np.pi


class Arcsine(ContinuousDistribution):
    name = "arcsine"
    a, b = 0.0, 1.0

    def _logpdf(self, z):
        with np.errstate(divide="ignore", invalid="ignore"):
            return -np.log(np.pi) - 0.5 * (np.log(z) + np.log1p(-z))

    def _cdf(self, z):
        return 2.0 / np.pi * np.arcsin(np.sqrt(np.asarray(z, dtype=np.float64)))

    def _ppf(self, q):
        return np.sin(np.pi * np.asarray(q, dtype=np.float64) / 2.0) ** 2


class Levy(ContinuousDistribution):
    name = "levy"
    a = 0.0

    def _logpdf(self, z):
        with np.errstate(divide="ignore"):
            return (
                -_LOG_SQRT2PI - 1.5 * np.log(z) - 0.5 / np.asarray(z)
            )

    def _cdf(self, z):
        z = np.asarray(z, dtype=np.float64)
        with np.errstate(divide="ignore"):
            return sp.erfc(np.sqrt(0.5 / np.clip(z, 1e-320, None)))

    def _ppf(self, q):
        q = np.asarray(q, dtype=np.float64)
        # erfcinv(q) = -ndtri(q/2)/sqrt(2)
        x = -sp.ndtri(q / 2.0) / _SQRT2
        with np.errstate(divide="ignore"):
            return 1.0 / (2.0 * x * x)

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (loc, float(np.median(data) - loc) or 1.0)


# --------------------------------------------------------------------------
# One-shape families
# --------------------------------------------------------------------------
class LogNorm(ContinuousDistribution):
    name = "lognorm"
    shapes = ("s",)
    a = 0.0

    def _logpdf(self, z, s):
        with np.errstate(divide="ignore"):
            lz = np.log(z)
        return -(lz * lz) / (2.0 * s * s) - np.log(s) - lz - _LOG_SQRT2PI

    def _cdf(self, z, s):
        with np.errstate(divide="ignore"):
            return sp.ndtr(np.log(np.clip(z, 1e-320, None)) / s)

    def _ppf(self, q, s):
        return np.exp(s * sp.ndtri(q))

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 1e-4 * rng
        y = np.log(data - loc)
        s = float(np.std(y)) or 0.5
        return (s, loc, float(np.exp(np.mean(y))))


class Gibrat(ContinuousDistribution):
    name = "gibrat"
    a = 0.0

    def _logpdf(self, z):
        with np.errstate(divide="ignore"):
            lz = np.log(z)
        return -(lz * lz) / 2.0 - lz - _LOG_SQRT2PI

    def _cdf(self, z):
        with np.errstate(divide="ignore"):
            return sp.ndtr(np.log(np.clip(z, 1e-320, None)))

    def _ppf(self, q):
        return np.exp(sp.ndtri(q))

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 1e-4 * rng
        y = np.log(data - loc)
        return (loc, float(np.exp(np.mean(y))))


class Gamma(ContinuousDistribution):
    name = "gamma"
    shapes = ("a_",)
    a = 0.0

    def _logpdf(self, z, a_):
        with np.errstate(divide="ignore"):
            return (a_ - 1.0) * np.log(z) - z - sp.gammaln(a_)

    def _cdf(self, z, a_):
        return sp.gammainc(a_, z)

    def _ppf(self, q, a_):
        return sp.gammaincinv(a_, q)

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 0.01 * rng
        d = data - loc
        m = float(np.mean(d))
        v = float(np.var(d)) or 1.0
        a_ = max(m * m / v, 0.05)
        return (a_, loc, v / m if m > 0 else 1.0)


class Erlang(Gamma):
    name = "erlang"


class Chi2(ContinuousDistribution):
    name = "chi2"
    shapes = ("df",)
    a = 0.0

    def _logpdf(self, z, df):
        h = df / 2.0
        with np.errstate(divide="ignore"):
            return (h - 1.0) * np.log(z) - z / 2.0 - h * np.log(2.0) - sp.gammaln(h)

    def _cdf(self, z, df):
        return sp.gammainc(df / 2.0, np.asarray(z) / 2.0)

    def _ppf(self, q, df):
        return 2.0 * sp.gammaincinv(df / 2.0, q)

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 0.01 * rng
        return (max(float(np.mean(data - loc)), 0.5), loc, 1.0)


class Chi(ContinuousDistribution):
    name = "chi"
    shapes = ("df",)
    a = 0.0

    def _logpdf(self, z, df):
        h = df / 2.0
        with np.errstate(divide="ignore"):
            return (
                (df - 1.0) * np.log(z)
                - 0.5 * z * z
                - (h - 1.0) * np.log(2.0)
                - sp.gammaln(h)
            )

    def _cdf(self, z, df):
        return sp.gammainc(df / 2.0, np.asarray(z) ** 2 / 2.0)

    def _ppf(self, q, df):
        return np.sqrt(2.0 * sp.gammaincinv(df / 2.0, q))

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (2.0, loc, float(np.std(data)) or 1.0)


class Nakagami(ContinuousDistribution):
    name = "nakagami"
    shapes = ("nu",)
    a = 0.0

    def _logpdf(self, z, nu):
        with np.errstate(divide="ignore"):
            return (
                np.log(2.0)
                + nu * np.log(nu)
                - sp.gammaln(nu)
                + (2.0 * nu - 1.0) * np.log(z)
                - nu * z * z
            )

    def _cdf(self, z, nu):
        return sp.gammainc(nu, nu * np.asarray(z) ** 2)

    def _ppf(self, q, nu):
        return np.sqrt(sp.gammaincinv(nu, q) / nu)

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        d = data - loc
        return (1.0, loc, float(np.sqrt(np.mean(d * d))) or 1.0)


class WeibullMin(ContinuousDistribution):
    name = "weibull_min"
    shapes = ("c",)
    a = 0.0

    def _logpdf(self, z, c):
        with np.errstate(divide="ignore", over="ignore"):
            return np.log(c) + (c - 1.0) * np.log(z) - z**c

    def _cdf(self, z, c):
        with np.errstate(over="ignore"):
            return -np.expm1(-np.asarray(z, dtype=np.float64) ** c)

    def _ppf(self, q, c):
        return (-np.log1p(-np.asarray(q, dtype=np.float64))) ** (1.0 / c)

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 0.01 * rng
        d = data - loc
        m = float(np.mean(d))
        cv = float(np.std(d)) / m if m > 0 else 1.0
        c0 = max(0.2, min(10.0, cv**-1.086)) if cv > 0 else 1.2
        return (c0, loc, m or 1.0)


class WeibullMax(ContinuousDistribution):
    name = "weibull_max"
    shapes = ("c",)
    b = 0.0
    a = -np.inf

    def _logpdf(self, z, c):
        nz = -np.asarray(z, dtype=np.float64)
        with np.errstate(divide="ignore", over="ignore"):
            return np.log(c) + (c - 1.0) * np.log(nz) - nz**c

    def _cdf(self, z, c):
        nz = -np.asarray(z, dtype=np.float64)
        with np.errstate(over="ignore"):
            return np.exp(-(nz**c))

    def _ppf(self, q, c):
        with np.errstate(divide="ignore"):
            return -((-np.log(np.asarray(q, dtype=np.float64))) ** (1.0 / c))

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.max(data)) + 0.01 * rng
        d = loc - data
        m = float(np.mean(d))
        cv = float(np.std(d)) / m if m > 0 else 1.0
        c0 = max(0.2, min(10.0, cv**-1.086)) if cv > 0 else 1.2
        return (c0, loc, m or 1.0)


class InvWeibull(ContinuousDistribution):
    name = "invweibull"
    shapes = ("c",)
    a = 0.0

    def _logpdf(self, z, c):
        with np.errstate(divide="ignore", over="ignore"):
            zc = np.asarray(z, dtype=np.float64) ** (-c)
            return np.log(c) - (c + 1.0) * np.log(z) - zc

    def _cdf(self, z, c):
        with np.errstate(divide="ignore", over="ignore"):
            return np.exp(-np.clip(np.asarray(z, dtype=np.float64), 1e-320, None) ** (-c))

    def _ppf(self, q, c):
        with np.errstate(divide="ignore"):
            return (-np.log(np.asarray(q, dtype=np.float64))) ** (-1.0 / c)

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 0.01 * rng
        return (2.0, loc, float(np.median(data) - loc) or 1.0)


class Pareto(ContinuousDistribution):
    name = "pareto"
    shapes = ("b_",)
    a = 1.0

    def _logpdf(self, z, b_):
        with np.errstate(divide="ignore"):
            return np.log(b_) - (b_ + 1.0) * np.log(z)

    def _cdf(self, z, b_):
        return -np.expm1(-b_ * np.log(np.asarray(z, dtype=np.float64)))

    def _ppf(self, q, b_):
        return np.exp(-np.log1p(-np.asarray(q, dtype=np.float64)) / b_)

    def _fit_start(self, data):
        mn = float(np.min(data))
        if mn > 0:
            loc, scale = 0.0, mn * 0.999
        else:
            loc = mn - 1.0
            scale = 0.999
        with np.errstate(divide="ignore", invalid="ignore"):
            hill = np.log((data - loc) / scale)
            hill = hill[hill > 0]
        b_ = 1.0 / float(np.mean(hill)) if hill.size else 1.5
        return (max(b_, 0.1), loc, scale)


class Lomax(ContinuousDistribution):
    name = "lomax"
    shapes = ("c",)
    a = 0.0

    def _logpdf(self, z, c):
        return np.log(c) - (c + 1.0) * np.log1p(z)

    def _cdf(self, z, c):
        return -np.expm1(-c * np.log1p(z))

    def _ppf(self, q, c):
        return np.expm1(-np.log1p(-np.asarray(q, dtype=np.float64)) / c)

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (1.5, loc, float(np.median(data) - loc) or 1.0)


class Fisk(ContinuousDistribution):
    name = "fisk"
    shapes = ("c",)
    a = 0.0

    def _logpdf(self, z, c):
        with np.errstate(divide="ignore", over="ignore"):
            lz = np.log(z)
            return np.log(c) + (c - 1.0) * lz - 2.0 * np.log1p(z**c)

    def _cdf(self, z, c):
        with np.errstate(divide="ignore", over="ignore"):
            return 1.0 / (1.0 + np.clip(z, 1e-320, None) ** (-c))

    def _ppf(self, q, c):
        q = np.asarray(q, dtype=np.float64)
        with np.errstate(divide="ignore"):
            return (q / (1.0 - q)) ** (1.0 / c)

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (2.0, loc, float(np.median(data) - loc) or 1.0)


class GenPareto(ContinuousDistribution):
    name = "genpareto"
    shapes = ("c",)
    shape_pos = (False,)
    a = 0.0

    def _get_support(self, c):
        return (0.0, np.inf) if c >= 0 else (0.0, -1.0 / c)

    def _logpdf(self, z, c):
        if abs(c) < 1e-9:
            return -np.asarray(z, dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            return -(1.0 + 1.0 / c) * np.log1p(c * np.asarray(z))

    def _cdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        if abs(c) < 1e-9:
            return -np.expm1(-z)
        with np.errstate(divide="ignore", invalid="ignore"):
            return -np.expm1(-np.log1p(c * z) / c)

    def _ppf(self, q, c):
        q = np.asarray(q, dtype=np.float64)
        if abs(c) < 1e-9:
            return -np.log1p(-q)
        return np.expm1(-c * np.log1p(-q)) / c

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.001 * (np.ptp(data) or 1.0)
        return (0.1, loc, float(np.mean(data - loc)) or 1.0)


class GenExtreme(ContinuousDistribution):
    name = "genextreme"
    shapes = ("c",)
    shape_pos = (False,)

    def _get_support(self, c):
        if c > 1e-9:
            return (-np.inf, 1.0 / c)
        if c < -1e-9:
            return (1.0 / c, np.inf)
        return (-np.inf, np.inf)

    def _logpdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        if abs(c) < 1e-9:
            return -z - np.exp(-z)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            t = np.log1p(-c * z) / c  # -log of (1 - c z)^{-1/c}... careful
            # scipy: cdf = exp(-(1 - c z)^{1/c}); pdf log:
            return (1.0 / c - 1.0) * np.log1p(-c * z) - np.exp(
                np.log1p(-c * z) / c
            )

    def _cdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        if abs(c) < 1e-9:
            return np.exp(-np.exp(-z))
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            return np.exp(-np.exp(np.log1p(-c * z) / c))

    def _ppf(self, q, c):
        q = np.asarray(q, dtype=np.float64)
        with np.errstate(divide="ignore"):
            y = -np.log(q)
        if abs(c) < 1e-9:
            return -np.log(y)
        return -np.expm1(c * np.log(y)) / c

    def _fit_start(self, data):
        m, s = _std_moments(data)
        scale = s * np.sqrt(6.0) / np.pi
        return (0.05, m - 0.57721566 * scale, scale)


class PowerLaw(ContinuousDistribution):
    name = "powerlaw"
    shapes = ("a_",)
    a, b = 0.0, 1.0

    def _logpdf(self, z, a_):
        with np.errstate(divide="ignore"):
            return np.log(a_) + (a_ - 1.0) * np.log(z)

    def _cdf(self, z, a_):
        with np.errstate(divide="ignore"):
            return np.clip(z, 0.0, 1.0) ** a_

    def _ppf(self, q, a_):
        return np.asarray(q, dtype=np.float64) ** (1.0 / a_)

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 0.001 * rng
        scale = rng * 1.002
        z = (data - loc) / scale
        m = float(np.mean(z))
        a0 = max(m / max(1.0 - m, 1e-6), 0.1)
        return (a0, loc, scale)


class Bradford(ContinuousDistribution):
    name = "bradford"
    shapes = ("c",)
    a, b = 0.0, 1.0

    def _logpdf(self, z, c):
        return np.log(c) - np.log1p(c * z) - np.log(np.log1p(c))

    def _cdf(self, z, c):
        return np.log1p(c * np.asarray(z, dtype=np.float64)) / np.log1p(c)

    def _ppf(self, q, c):
        return np.expm1(np.asarray(q, dtype=np.float64) * np.log1p(c)) / c

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        return (1.0, float(np.min(data)) - 0.001 * rng, rng * 1.002)


class Triang(ContinuousDistribution):
    name = "triang"
    shapes = ("c",)
    shape_pos = (False,)
    a, b = 0.0, 1.0

    def _check_shapes(self, shapes):
        (c,) = shapes
        return np.isfinite(c) and 0.0 <= c <= 1.0

    def _logpdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            left = np.log(2.0) + np.log(z) - np.log(c)
            right = np.log(2.0) + np.log1p(-z) - np.log1p(-c)
        return np.where(z < c, left, right)

    def _cdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(
                z < c, z * z / c, 1.0 - (1.0 - z) ** 2 / (1.0 - c)
            )

    def _ppf(self, q, c):
        q = np.asarray(q, dtype=np.float64)
        with np.errstate(invalid="ignore"):
            return np.where(
                q < c,
                np.sqrt(q * c),
                1.0 - np.sqrt((1.0 - q) * (1.0 - c)),
            )

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 0.001 * rng
        scale = rng * 1.002
        mode = (float(np.mean(data)) * 3.0 - loc - (loc + scale)) / scale
        return (min(max(mode, 0.05), 0.95), loc, scale)

    def _transform(self, full_params):
        c = min(max(full_params[0], 1e-6), 1 - 1e-6)
        return np.array(
            [np.log(c / (1 - c)), full_params[1], np.log(max(full_params[2], 1e-12))]
        )

    def _untransform(self, theta):
        return (
            float(1.0 / (1.0 + np.exp(-theta[0]))),
            float(theta[1]),
            float(np.exp(theta[2])),
        )


class InvGauss(ContinuousDistribution):
    name = "invgauss"
    shapes = ("mu",)
    a = 0.0

    def _logpdf(self, z, mu):
        with np.errstate(divide="ignore"):
            return (
                -0.5 * np.log(2.0 * np.pi)
                - 1.5 * np.log(z)
                - (z - mu) ** 2 / (2.0 * mu * mu * z)
            )

    def _cdf(self, z, mu):
        z = np.clip(np.asarray(z, dtype=np.float64), 1e-320, None)
        sz = np.sqrt(z)
        u1 = (z / mu - 1.0) / sz
        u2 = -(z / mu + 1.0) / sz
        with np.errstate(over="ignore"):
            return sp.ndtr(u1) + np.exp(2.0 / mu + sp.log_ndtr(u2))

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        d = data - loc
        m = float(np.mean(d))
        v = float(np.var(d)) or 1.0
        # scale*mu = mean; var = scale^2 mu^3 -> mu = v/(m*scale)...
        scale = m**3 / v if v > 0 else m
        mu = m / scale if scale > 0 else 1.0
        return (max(mu, 1e-3), loc, max(scale, 1e-9))


class T(ContinuousDistribution):
    name = "t"
    shapes = ("df",)

    def _logpdf(self, z, df):
        return (
            sp.gammaln((df + 1.0) / 2.0)
            - sp.gammaln(df / 2.0)
            - 0.5 * np.log(df * np.pi)
            - (df + 1.0) / 2.0 * np.log1p(z * z / df)
        )

    def _cdf(self, z, df):
        z = np.asarray(z, dtype=np.float64)
        x = df / (df + z * z)
        tail = 0.5 * sp.betainc(df / 2.0, 0.5, x)
        return np.where(z > 0, 1.0 - tail, tail)

    def _ppf(self, q, df):
        q = np.asarray(q, dtype=np.float64)
        qq = np.minimum(q, 1.0 - q)
        w = sp.betaincinv(df / 2.0, 0.5, 2.0 * qq)
        with np.errstate(divide="ignore"):
            z = np.sqrt(df * (1.0 - w) / np.clip(w, 1e-320, None))
        return np.where(q < 0.5, -z, z)

    def _fit_start(self, data):
        m, s = _std_moments(data)
        return (6.0, m, s * np.sqrt(4.0 / 6.0))


class F(ContinuousDistribution):
    name = "f"
    shapes = ("dfn", "dfd")
    a = 0.0

    def _logpdf(self, z, dfn, dfd):
        hn, hd = dfn / 2.0, dfd / 2.0
        with np.errstate(divide="ignore"):
            return (
                hn * np.log(dfn / dfd)
                + (hn - 1.0) * np.log(z)
                - (hn + hd) * np.log1p(dfn * z / dfd)
                - sp.betaln(hn, hd)
            )

    def _cdf(self, z, dfn, dfd):
        z = np.asarray(z, dtype=np.float64)
        x = dfn * z / (dfn * z + dfd)
        return sp.betainc(dfn / 2.0, dfd / 2.0, x)

    def _ppf(self, q, dfn, dfd):
        w = sp.betaincinv(dfn / 2.0, dfd / 2.0, q)
        with np.errstate(divide="ignore"):
            return dfd * w / (dfn * np.clip(1.0 - w, 1e-320, None))

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (5.0, 10.0, loc, 1.0)


class Beta(ContinuousDistribution):
    name = "beta"
    shapes = ("a_", "b_")
    a, b = 0.0, 1.0

    def _logpdf(self, z, a_, b_):
        with np.errstate(divide="ignore"):
            return (
                (a_ - 1.0) * np.log(z)
                + (b_ - 1.0) * np.log1p(-z)
                - sp.betaln(a_, b_)
            )

    def _cdf(self, z, a_, b_):
        return sp.betainc(a_, b_, np.asarray(z, dtype=np.float64))

    def _ppf(self, q, a_, b_):
        return sp.betaincinv(a_, b_, q)

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 0.001 * rng
        scale = rng * 1.002
        z = (data - loc) / scale
        m = float(np.mean(z))
        v = float(np.var(z)) or 0.05
        common = max(m * (1.0 - m) / v - 1.0, 0.1)
        return (max(m * common, 0.05), max((1.0 - m) * common, 0.05), loc, scale)


class BetaPrime(ContinuousDistribution):
    name = "betaprime"
    shapes = ("a_", "b_")
    a = 0.0

    def _logpdf(self, z, a_, b_):
        with np.errstate(divide="ignore"):
            return (
                (a_ - 1.0) * np.log(z)
                - (a_ + b_) * np.log1p(z)
                - sp.betaln(a_, b_)
            )

    def _cdf(self, z, a_, b_):
        z = np.asarray(z, dtype=np.float64)
        return sp.betainc(a_, b_, z / (1.0 + z))

    def _ppf(self, q, a_, b_):
        w = sp.betaincinv(a_, b_, q)
        with np.errstate(divide="ignore"):
            return w / np.clip(1.0 - w, 1e-320, None)

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (2.0, 3.0, loc, float(np.median(data) - loc) or 1.0)


class Burr(ContinuousDistribution):
    """Burr Type III (scipy 'burr'): cdf = (1 + z^-c)^-d."""

    name = "burr"
    shapes = ("c", "d")
    a = 0.0

    def _logpdf(self, z, c, d):
        with np.errstate(divide="ignore", over="ignore"):
            lz = np.log(z)
            return (
                np.log(c)
                + np.log(d)
                - (c + 1.0) * lz
                - (d + 1.0) * np.log1p(np.exp(-c * lz))
            )

    def _cdf(self, z, c, d):
        with np.errstate(divide="ignore", over="ignore"):
            return np.exp(
                -d * np.log1p(np.clip(z, 1e-320, None) ** (-c))
            )

    def _ppf(self, q, c, d):
        q = np.asarray(q, dtype=np.float64)
        with np.errstate(divide="ignore"):
            return (np.expm1(-np.log(q) / d)) ** (-1.0 / c)

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (2.0, 1.0, loc, float(np.median(data) - loc) or 1.0)


class Burr12(ContinuousDistribution):
    """Burr Type XII: cdf = 1 - (1 + z^c)^-d."""

    name = "burr12"
    shapes = ("c", "d")
    a = 0.0

    def _logpdf(self, z, c, d):
        with np.errstate(divide="ignore", over="ignore"):
            lz = np.log(z)
            return (
                np.log(c)
                + np.log(d)
                + (c - 1.0) * lz
                - (d + 1.0) * np.log1p(z**c)
            )

    def _cdf(self, z, c, d):
        with np.errstate(over="ignore"):
            return -np.expm1(-d * np.log1p(np.asarray(z) ** c))

    def _ppf(self, q, c, d):
        q = np.asarray(q, dtype=np.float64)
        return (np.expm1(-np.log1p(-q) / d)) ** (1.0 / c)

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (2.0, 1.0, loc, float(np.median(data) - loc) or 1.0)


class LogLaplace(ContinuousDistribution):
    name = "loglaplace"
    shapes = ("c",)
    a = 0.0

    def _logpdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        with np.errstate(divide="ignore"):
            lz = np.log(z)
        return np.log(c / 2.0) + np.where(z < 1.0, (c - 1.0) * lz, -(c + 1.0) * lz)

    def _cdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        with np.errstate(divide="ignore", over="ignore"):
            return np.where(
                z < 1.0,
                0.5 * z**c,
                1.0 - 0.5 * np.clip(z, 1e-320, None) ** (-c),
            )

    def _ppf(self, q, c):
        q = np.asarray(q, dtype=np.float64)
        with np.errstate(divide="ignore"):
            return np.where(
                q < 0.5,
                (2.0 * q) ** (1.0 / c),
                (2.0 * (1.0 - q)) ** (-1.0 / c),
            )

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (2.0, loc, float(np.median(data) - loc) or 1.0)


class Gompertz(ContinuousDistribution):
    name = "gompertz"
    shapes = ("c",)
    a = 0.0

    def _logpdf(self, z, c):
        with np.errstate(over="ignore"):
            return np.log(c) + z - c * np.expm1(z)

    def _cdf(self, z, c):
        with np.errstate(over="ignore"):
            return -np.expm1(-c * np.expm1(np.asarray(z, dtype=np.float64)))

    def _ppf(self, q, c):
        return np.log1p(-np.log1p(-np.asarray(q, dtype=np.float64)) / c)

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.001 * (np.ptp(data) or 1.0)
        return (1.0, loc, float(np.std(data)) or 1.0)


class GenLogistic(ContinuousDistribution):
    name = "genlogistic"
    shapes = ("c",)

    def _logpdf(self, z, c):
        return np.log(c) - z - (c + 1.0) * np.log1p(np.exp(-z))

    def _cdf(self, z, c):
        return np.exp(-c * np.log1p(np.exp(-np.asarray(z, dtype=np.float64))))

    def _ppf(self, q, c):
        q = np.asarray(q, dtype=np.float64)
        with np.errstate(divide="ignore"):
            return -np.log(np.expm1(-np.log(q) / c))

    def _fit_start(self, data):
        m, s = _std_moments(data)
        return (1.0, m, s * np.sqrt(3.0) / np.pi)


class DWeibull(ContinuousDistribution):
    name = "dweibull"
    shapes = ("c",)

    def _logpdf(self, z, c):
        az = np.abs(np.asarray(z, dtype=np.float64))
        with np.errstate(divide="ignore"):
            return np.log(c / 2.0) + (c - 1.0) * np.log(az) - az**c

    def _cdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        az = np.abs(z)
        with np.errstate(over="ignore"):
            half = 0.5 * np.exp(-(az**c))
        return np.where(z < 0, half, 1.0 - half)

    def _ppf(self, q, c):
        q = np.asarray(q, dtype=np.float64)
        with np.errstate(divide="ignore"):
            lo = -((-np.log(2.0 * q)) ** (1.0 / c))
            hi = (-np.log(2.0 * (1.0 - q))) ** (1.0 / c)
        return np.where(q < 0.5, lo, hi)

    def _fit_start(self, data):
        m, s = _std_moments(data)
        return (1.5, float(np.median(data)), s)


class DGamma(ContinuousDistribution):
    name = "dgamma"
    shapes = ("a_",)

    def _logpdf(self, z, a_):
        az = np.abs(np.asarray(z, dtype=np.float64))
        with np.errstate(divide="ignore"):
            return (a_ - 1.0) * np.log(az) - az - np.log(2.0) - sp.gammaln(a_)

    def _cdf(self, z, a_):
        z = np.asarray(z, dtype=np.float64)
        az = np.abs(z)
        q = sp.gammaincc(a_, az)
        return np.where(z < 0, 0.5 * q, 1.0 - 0.5 * q)

    def _ppf(self, q, a_):
        q = np.asarray(q, dtype=np.float64)
        lo = -sp.gammaincinv(a_, np.clip(1.0 - 2.0 * q, 0, 1))
        hi = sp.gammaincinv(a_, np.clip(2.0 * q - 1.0, 0, 1))
        # invert via upper tail for accuracy
        neg = -_ginv_upper(a_, 2.0 * q)
        pos = _ginv_upper(a_, 2.0 * (1.0 - q))
        return np.where(q < 0.5, neg, pos)

    def _fit_start(self, data):
        m, s = _std_moments(data)
        return (1.5, float(np.median(data)), s / 1.5)


def _ginv_upper(a_, qq):
    """x with Q(a, x) = qq."""
    return sp.gammaincinv(a_, np.clip(1.0 - qq, 0.0, 1.0))


class FoldNorm(ContinuousDistribution):
    name = "foldnorm"
    shapes = ("c",)
    shape_pos = (False,)
    a = 0.0

    def _check_shapes(self, shapes):
        (c,) = shapes
        return np.isfinite(c) and c >= 0

    def _logpdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        with np.errstate(over="ignore", under="ignore"):
            p = np.exp(-0.5 * (z - c) ** 2) + np.exp(-0.5 * (z + c) ** 2)
        with np.errstate(divide="ignore"):
            return np.log(p) - _LOG_SQRT2PI

    def _cdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        return sp.ndtr(z - c) + sp.ndtr(z + c) - 1.0

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        d = data - loc
        m, s = _std_moments(d)
        return (max(m / s, 0.1), loc, s)


class FoldCauchy(ContinuousDistribution):
    name = "foldcauchy"
    shapes = ("c",)
    shape_pos = (False,)
    a = 0.0

    def _check_shapes(self, shapes):
        (c,) = shapes
        return np.isfinite(c) and c >= 0

    def _logpdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        with np.errstate(divide="ignore"):
            return np.log(
                1.0 / (1.0 + (z - c) ** 2) + 1.0 / (1.0 + (z + c) ** 2)
            ) - np.log(np.pi)

    def _cdf(self, z, c):
        z = np.asarray(z, dtype=np.float64)
        return (np.arctan(z - c) + np.arctan(z + c)) / np.pi

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (1.0, loc, float(np.median(data) - loc) or 1.0)


class Alpha(ContinuousDistribution):
    name = "alpha"
    shapes = ("a_",)
    a = 0.0

    def _logpdf(self, z, a_):
        z = np.clip(np.asarray(z, dtype=np.float64), 1e-320, None)
        lognorm_const = np.log(sp.ndtr(np.asarray(a_)))
        return (
            -2.0 * np.log(z)
            - 0.5 * (a_ - 1.0 / z) ** 2
            - _LOG_SQRT2PI
            - lognorm_const
        )

    def _cdf(self, z, a_):
        z = np.clip(np.asarray(z, dtype=np.float64), 1e-320, None)
        return sp.ndtr(a_ - 1.0 / z) / sp.ndtr(np.asarray(a_))

    def _ppf(self, q, a_):
        u = np.asarray(q, dtype=np.float64) * sp.ndtr(np.asarray(a_))
        with np.errstate(divide="ignore"):
            return 1.0 / (a_ - sp.ndtri(u))

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (3.0, loc, float(np.median(data) - loc) * 3.0 or 1.0)


class JohnsonSU(ContinuousDistribution):
    name = "johnsonsu"
    shapes = ("a_", "b_")
    shape_pos = (False, True)

    def _logpdf(self, z, a_, b_):
        t = a_ + b_ * np.arcsinh(z)
        return (
            np.log(b_)
            - 0.5 * np.log(z * z + 1.0)
            - 0.5 * t * t
            - _LOG_SQRT2PI
        )

    def _cdf(self, z, a_, b_):
        return sp.ndtr(a_ + b_ * np.arcsinh(np.asarray(z, dtype=np.float64)))

    def _ppf(self, q, a_, b_):
        return np.sinh((sp.ndtri(q) - a_) / b_)

    def _fit_start(self, data):
        m, s = _std_moments(data)
        return (0.0, 1.5, m, s)


class JohnsonSB(ContinuousDistribution):
    name = "johnsonsb"
    shapes = ("a_", "b_")
    shape_pos = (False, True)
    a, b = 0.0, 1.0

    def _logpdf(self, z, a_, b_):
        with np.errstate(divide="ignore"):
            t = a_ + b_ * (np.log(z) - np.log1p(-z))
            return (
                np.log(b_)
                - np.log(z)
                - np.log1p(-z)
                - 0.5 * t * t
                - _LOG_SQRT2PI
            )

    def _cdf(self, z, a_, b_):
        z = np.clip(np.asarray(z, dtype=np.float64), 1e-320, 1 - 1e-16)
        return sp.ndtr(a_ + b_ * (np.log(z) - np.log1p(-z)))

    def _ppf(self, q, a_, b_):
        y = (sp.ndtri(q) - a_) / b_
        return 1.0 / (1.0 + np.exp(-y))

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        return (0.0, 1.0, float(np.min(data)) - 0.001 * rng, rng * 1.002)


class TruncExpon(ContinuousDistribution):
    name = "truncexpon"
    shapes = ("b_",)

    def _get_support(self, b_):
        return 0.0, b_

    def _logpdf(self, z, b_):
        return -z - np.log(-np.expm1(-b_))

    def _cdf(self, z, b_):
        return -np.expm1(-np.asarray(z, dtype=np.float64)) / -np.expm1(-b_)

    def _ppf(self, q, b_):
        return -np.log1p(np.asarray(q, dtype=np.float64) * np.expm1(-b_))

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 0.001 * rng
        scale = float(np.std(data)) or 1.0
        return (rng * 1.1 / scale, loc, scale)


class ExponWeib(ContinuousDistribution):
    name = "exponweib"
    shapes = ("a_", "c")
    a = 0.0

    def _logpdf(self, z, a_, c):
        with np.errstate(divide="ignore", over="ignore"):
            zc = z**c
            return (
                np.log(a_)
                + np.log(c)
                + (a_ - 1.0) * np.log(-np.expm1(-zc))
                - zc
                + (c - 1.0) * np.log(z)
            )

    def _cdf(self, z, a_, c):
        with np.errstate(over="ignore", divide="ignore"):
            return np.exp(
                a_ * np.log(-np.expm1(-np.asarray(z, dtype=np.float64) ** c))
            )

    def _ppf(self, q, a_, c):
        q = np.asarray(q, dtype=np.float64)
        with np.errstate(divide="ignore"):
            return (-np.log1p(-(q ** (1.0 / a_)))) ** (1.0 / c)

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.01 * (np.ptp(data) or 1.0)
        return (1.0, 1.2, loc, float(np.mean(data - loc)) or 1.0)


class GenNorm(ContinuousDistribution):
    name = "gennorm"
    shapes = ("beta",)

    def _logpdf(self, z, beta):
        return (
            np.log(beta / 2.0)
            - sp.gammaln(1.0 / beta)
            - np.abs(np.asarray(z, dtype=np.float64)) ** beta
        )

    def _cdf(self, z, beta):
        z = np.asarray(z, dtype=np.float64)
        half = 0.5 * sp.gammaincc(1.0 / beta, np.abs(z) ** beta)
        return np.where(z < 0, half, 1.0 - half)

    def _ppf(self, q, beta):
        q = np.asarray(q, dtype=np.float64)
        qq = np.minimum(q, 1.0 - q)
        x = _ginv_upper(1.0 / beta, 2.0 * qq) ** (1.0 / beta)
        return np.where(q < 0.5, -x, x)

    def _fit_start(self, data):
        m, s = _std_moments(data)
        return (2.0, m, s * np.sqrt(2.0))


class LogGamma(ContinuousDistribution):
    name = "loggamma"
    shapes = ("c",)

    def _logpdf(self, z, c):
        with np.errstate(over="ignore"):
            return c * z - np.exp(z) - sp.gammaln(c)

    def _cdf(self, z, c):
        with np.errstate(over="ignore"):
            return sp.gammainc(c, np.exp(np.asarray(z, dtype=np.float64)))

    def _ppf(self, q, c):
        with np.errstate(divide="ignore"):
            return np.log(sp.gammaincinv(c, q))

    def _fit_start(self, data):
        return (1.5, float(np.mean(data)), float(np.std(data)) or 1.0)


class PowerLogNorm(ContinuousDistribution):
    name = "powerlognorm"
    shapes = ("c", "s")
    a = 0.0

    def _logpdf(self, z, c, s):
        with np.errstate(divide="ignore"):
            lz = np.log(z) / s
        phi = np.exp(-0.5 * lz * lz) / np.sqrt(2.0 * np.pi)
        big_phi = sp.ndtr(-lz)
        with np.errstate(divide="ignore"):
            return (
                np.log(c)
                - np.log(s)
                - np.log(z)
                + np.log(phi)
                + (c - 1.0) * np.log(np.clip(big_phi, 1e-320, None))
            )

    def _cdf(self, z, c, s):
        with np.errstate(divide="ignore"):
            lz = np.log(np.clip(np.asarray(z, dtype=np.float64), 1e-320, None)) / s
        return 1.0 - sp.ndtr(-lz) ** c

    def _ppf(self, q, c, s):
        q = np.asarray(q, dtype=np.float64)
        u = (1.0 - q) ** (1.0 / c)
        return np.exp(-s * sp.ndtri(u))

    def _fit_start(self, data):
        rng = np.ptp(data) or 1.0
        loc = float(np.min(data)) - 1e-4 * rng
        y = np.log(data - loc)
        return (1.0, float(np.std(y)) or 0.5, loc, float(np.exp(np.mean(y))))


class GenExpon(ContinuousDistribution):
    """scipy genexpon(a,b,c): cdf = 1-exp(-a z - b z + b/c (1-exp(-c z)))."""

    name = "genexpon"
    shapes = ("a_", "b_", "c")
    a = 0.0

    def _hazard_int(self, z, a_, b_, c):
        return a_ * z + b_ * z + b_ / c * np.expm1(-c * z)

    def _logpdf(self, z, a_, b_, c):
        with np.errstate(over="ignore"):
            H = self._hazard_int(z, a_, b_, c)
            h = a_ + b_ * (1.0 - np.exp(-c * z))
        with np.errstate(divide="ignore"):
            return np.log(h) - H

    def _cdf(self, z, a_, b_, c):
        with np.errstate(over="ignore"):
            return -np.expm1(
                -self._hazard_int(np.asarray(z, dtype=np.float64), a_, b_, c)
            )

    def _fit_start(self, data):
        loc = float(np.min(data)) - 0.001 * (np.ptp(data) or 1.0)
        m = float(np.mean(data - loc)) or 1.0
        return (1.0, 1.0, 2.0, loc, m)


# --------------------------------------------------------------------------
# registry construction
# --------------------------------------------------------------------------
_CONTINUOUS_CLASSES = [
    Alpha,
    Anglit,
    Arcsine,
    Beta,
    BetaPrime,
    Bradford,
    Burr,
    Burr12,
    Cauchy,
    Chi,
    Chi2,
    Cosine,
    DGamma,
    DWeibull,
    Erlang,
    Expon,
    ExponWeib,
    F,
    Fisk,
    FoldCauchy,
    FoldNorm,
    Gamma,
    GenExpon,
    GenExtreme,
    GenLogistic,
    GenNorm,
    GenPareto,
    Gibrat,
    Gompertz,
    GumbelL,
    GumbelR,
    HalfCauchy,
    HalfLogistic,
    HalfNorm,
    HypSecant,
    InvGauss,
    InvWeibull,
    JohnsonSB,
    JohnsonSU,
    Laplace,
    Levy,
    LogGamma,
    LogLaplace,
    LogNorm,
    Logistic,
    Lomax,
    Maxwell,
    Nakagami,
    Norm,
    Pareto,
    PowerLaw,
    PowerLogNorm,
    Rayleigh,
    Semicircular,
    T,
    Triang,
    TruncExpon,
    Uniform,
    WeibullMax,
    WeibullMin,
]

CONTINUOUS: dict = {cls().name: cls() for cls in _CONTINUOUS_CLASSES}
