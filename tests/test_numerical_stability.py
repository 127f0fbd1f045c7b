"""Adversarial numerical-stability tests — reference test layer 4
(test_numerical_stability.py scope): NaN fractions, all-NaN columns,
±inf mixes, extreme magnitudes, near-zero variance, all-zeros, constant
and near-singular correlation inputs. The engine must degrade to empty
or sentinel-free results, never raise out of the public API."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spark_bestfit_spark.fitter import (
    DiscreteDistributionFitter,
    DistributionFitter,
)

DISTS = ["norm", "expon", "uniform", "lognorm"]


def _fit(spark, values, **kw):
    df = spark.createDataFrame(pd.DataFrame({"v": values}))
    return DistributionFitter(spark).fit(
        df, column="v", distributions=kw.pop("distributions", DISTS), **kw
    )


class TestDirtyInputs:
    def test_half_nan_column(self, spark):
        rng = np.random.default_rng(0)
        vals = rng.normal(10, 2, 2000)
        vals[::2] = np.nan
        res = _fit(spark, vals)
        assert res.count() >= 2
        best = res.best(1, metric="sse")
        assert abs(best.data_mean - 10.0) < 0.5  # stats on clean values only

    def test_all_nan_column_empty_results(self, spark):
        res = _fit(spark, [float("nan")] * 50)
        assert res.count() == 0
        assert res.best(1, metric="sse") is None

    def test_inf_mixed_column(self, spark):
        rng = np.random.default_rng(1)
        vals = rng.normal(5, 1, 1000).tolist() + [np.inf, -np.inf] * 10
        res = _fit(spark, vals)
        assert res.count() >= 2
        best = res.best(1, metric="sse")
        assert np.isfinite(best.data_max)

    def test_all_null_column(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"v": pd.array([None] * 30, dtype="Float64")})
        )
        res = DistributionFitter(spark).fit(
            df, column="v", distributions=DISTS
        )
        assert res.count() == 0


class TestExtremeMagnitudes:
    def test_huge_values_1e300(self, spark):
        rng = np.random.default_rng(2)
        vals = rng.uniform(1e299, 1e300, 500)
        res = _fit(spark, vals, distributions=["uniform", "norm"])
        # must not raise; any finite-sse rows are acceptable
        assert res.count() >= 0

    def test_data_stats_overflow_is_declared_sentinel(self):
        """compute_data_stats at 1e300 magnitudes overflows the variance
        square; the policy is std=inf, shape moments nan — and declared,
        so no RuntimeWarning may leak (numpy's internal var/std used to
        warn here)."""
        import warnings

        from spark_bestfit_spark.operators.fit import compute_data_stats

        rng = np.random.default_rng(2)
        vals = rng.uniform(1e299, 1e300, 500)
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            stats = compute_data_stats(vals)
        assert stats["data_stddev"] == float("inf")
        assert np.isnan(stats["data_kurtosis"])
        assert np.isnan(stats["data_skewness"])
        assert np.isfinite(stats["data_mean"])

    def test_norm_closed_fit_overflow_is_declared(self):
        """Norm's closed-form MLE at 1e300 magnitudes: the same declared
        policy — the scale is inf, the loc the finite mean, and no
        RuntimeWarning leaks from numpy's std."""
        import warnings

        from spark_bestfit_spark.functions.distributions.continuous import (
            Norm,
        )

        rng = np.random.default_rng(2)
        vals = rng.uniform(1e299, 1e300, 500)
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            params = Norm().fit(vals)
        assert params == (float(np.mean(vals)), float("inf"))

    def test_sse_overflow_is_declared_sentinel(self):
        """compute_sse at adversarial magnitudes must clamp to inf with NO
        RuntimeWarning leaking — the overflow sentinel is declared, not
        incidental."""
        import warnings

        from spark_bestfit_spark.functions.distributions.registry import (
            get_continuous,
        )
        from spark_bestfit_spark.functions.metrics import compute_sse

        dist = get_continuous("norm")
        edges = np.linspace(0.0, 1.0, 11)
        density = np.full(10, 1e300)  # squared residual overflows
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            sse = compute_sse(dist, (0.5, 0.1), density, edges)
        assert sse == float("inf")

    def test_tiny_values_1e_300(self, spark):
        rng = np.random.default_rng(3)
        vals = rng.uniform(1e-300, 1e-299, 500)
        res = _fit(spark, vals, distributions=["uniform", "norm"])
        assert res.count() >= 0

    def test_near_zero_variance(self, spark):
        rng = np.random.default_rng(4)
        vals = 42.0 + rng.normal(0, 1e-12, 500)
        res = _fit(spark, vals, distributions=["norm", "uniform"])
        assert res.count() >= 0  # degenerate fits may all be sentinels

    def test_exactly_constant_column(self, spark):
        res = _fit(spark, [7.5] * 200)
        # single-bin histogram; fits may succeed or sentinel, never raise
        assert res.count() >= 0

    def test_all_zeros(self, spark):
        res = _fit(spark, [0.0] * 200)
        assert res.count() >= 0


class TestExtremeEvaluation:
    def test_pdf_cdf_at_extreme_x(self, spark):
        rng = np.random.default_rng(5)
        res = _fit(spark, rng.normal(0, 1, 2000), distributions=["norm"])
        best = res.best(1, metric="sse")
        x = np.array([-1e308, -1e10, 0.0, 1e10, 1e308])
        pdf = best.pdf(x)
        cdf = best.cdf(x)
        assert np.all(np.isfinite(pdf)) and np.all(pdf >= 0)
        assert np.all((cdf >= 0) & (cdf <= 1))
        assert cdf[0] == 0.0 and cdf[-1] == 1.0

    def test_ppf_at_boundaries(self, spark):
        rng = np.random.default_rng(6)
        res = _fit(spark, rng.gamma(2, 2, 2000), distributions=["gamma"])
        best = res.best(1, metric="sse")
        q = np.array([0.0, 1e-12, 0.5, 1 - 1e-12, 1.0])
        out = best.ppf(q)
        assert not np.any(np.isnan(out[1:-1]))


class TestCorrelationDegeneracy:
    def test_constant_column_correlation(self, spark):
        from spark_bestfit_spark.models.copula import spearman_correlation

        rng = np.random.default_rng(7)
        pdf = pd.DataFrame({
            "a": rng.normal(0, 1, 500),
            "b": np.full(500, 3.0),  # zero variance
        })
        corr = spearman_correlation(spark.createDataFrame(pdf), ["a", "b"])
        # constant column yields NaN correlation; shape intact, no raise
        assert corr.shape == (2, 2)

    def test_near_singular_copula_cholesky(self, spark):
        from spark_bestfit_spark.models.copula import GaussianCopula, _Marginal

        corr = np.array([[1.0, 0.9999999999], [0.9999999999, 1.0]])
        cop = GaussianCopula(
            ["a", "b"],
            {c: _Marginal("norm", (0.0, 1.0)) for c in ("a", "b")},
            corr,
        )
        s = cop.sample(100, seed=0)
        assert np.all(np.isfinite(s["a"])) and np.all(np.isfinite(s["b"]))

    def test_duplicated_column_mvn(self, spark):
        from spark_bestfit_spark.models import MultivariateNormalFitter

        rng = np.random.default_rng(8)
        a = rng.normal(0, 1, 400)
        pdf = pd.DataFrame({"a": a, "b": a})  # rank-deficient cov
        with pytest.warns(UserWarning):
            res = MultivariateNormalFitter(spark).fit(
                spark.createDataFrame(pdf), ["a", "b"]
            )
        s = res.sample(50, seed=1)
        assert np.all(np.isfinite(s))


class TestDiscreteDegeneracy:
    def test_single_support_point(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"v": [3.0] * 100}))
        res = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["poisson", "randint"]
        )
        assert res.count() >= 0  # never raises

    def test_negative_integers(self, spark):
        rng = np.random.default_rng(9)
        df = spark.createDataFrame(
            pd.DataFrame({"v": (rng.poisson(4, 500) - 10).astype(float)})
        )
        res = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["poisson", "dlaplace", "randint"]
        )
        assert res.count() >= 1  # loc-shifted fits cover negative support


class TestMetricsFusedParity:
    """compute_ks_and_ad must match the separate compute_ks/compute_ad
    entry points for ANY model CDF — including non-finite values, where
    the A-D branch clips (like compute_ad) instead of early-returning
    inf (ADVICE r5: the lazy recompute path reported ad=inf where the
    eager path reported a finite A²)."""

    class _FakeDist:
        def __init__(self, cdf_values):
            self._cdf = np.asarray(cdf_values, dtype=np.float64)

        def cdf(self, x, *params):
            return self._cdf[: len(np.atleast_1d(x))]

    def test_nonfinite_cdf_ad_matches_compute_ad(self):
        from spark_bestfit_spark.functions import metrics as M

        x = np.sort(np.random.default_rng(5).normal(0, 1, 8))
        cdf = np.linspace(0.05, 0.95, 8)
        cdf[2] = np.inf
        cdf[5] = -np.inf
        dist = self._FakeDist(cdf)
        d, p, a2 = M.compute_ks_and_ad(dist, (), x)
        assert d == float("inf") and p == 0.0
        a2_sep = M.compute_ad(dist, (), x)
        assert np.isfinite(a2)
        assert a2 == a2_sep

    def test_finite_cdf_bit_identical(self):
        from spark_bestfit_spark.functions import metrics as M

        rng = np.random.default_rng(6)
        x = np.sort(rng.normal(0, 1, 64))
        cdf = np.sort(rng.uniform(0.01, 0.99, 64))
        dist = self._FakeDist(cdf)
        d, p, a2 = M.compute_ks_and_ad(dist, (), x)
        d_sep, p_sep = M.compute_ks(dist, (), x)
        a2_sep = M.compute_ad(dist, (), x)
        assert (d, p, a2) == (d_sep, p_sep, a2_sep)

    def test_nan_cdf_inf_in_both(self):
        from spark_bestfit_spark.functions import metrics as M

        x = np.sort(np.random.default_rng(7).normal(0, 1, 8))
        cdf = np.linspace(0.05, 0.95, 8)
        cdf[3] = np.nan
        dist = self._FakeDist(cdf)
        _, _, a2 = M.compute_ks_and_ad(dist, (), x)
        assert a2 == float("inf") == M.compute_ad(dist, (), x)
