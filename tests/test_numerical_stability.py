"""Adversarial numerical-stability tests — reference test layer 4
(test_numerical_stability.py scope): NaN fractions, all-NaN columns,
±inf mixes, extreme magnitudes, near-zero variance, all-zeros, constant
and near-singular correlation inputs. The engine must degrade to empty
or sentinel-free results, never raise out of the public API."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from spark_bestfit_spark.fitter import (
    DiscreteDistributionFitter,
    DistributionFitter,
)

DISTS = ["norm", "expon", "uniform", "lognorm"]


def _record_warnings(setup: str, call: str) -> tuple:
    """Evaluate ``call`` after ``setup`` in a fresh interpreter with
    every warning recorded; return (warning messages, the call's value
    as a list of floats). The session-wide Spark connections of earlier
    tests live in this process, and their sockets can be finalized from
    any thread while a window is open (an ``unclosed <socket>``
    ResourceWarning, seen even with the cyclic collector off); a fresh
    interpreter holds none, so the window records only the call's own
    warnings."""
    script = (
        "import json, warnings\nimport numpy as np\n" + setup
        + "with warnings.catch_warnings(record=True) as caught:\n"
        "    warnings.simplefilter('always')\n"
        f"    value = {call}\n"
        "print(json.dumps([[str(w.message) for w in caught],"
        " [float(v) for v in value]]))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, capture_output=True,
        text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    return tuple(json.loads(proc.stdout.splitlines()[-1]))


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


    def test_information_criteria_sentinel_is_silent(self):
        """A sample point at a density pole (+inf) next to one outside
        the support (-inf) yields the declared (inf, inf) sentinel
        without numpy's 'invalid value' RuntimeWarning."""
        caught, ic = _record_warnings(
            "from spark_bestfit_spark.functions import metrics as M\n"
            "from spark_bestfit_spark.functions.distributions.registry"
            " import get_continuous\n"
            "gamma = get_continuous('gamma')\n"
            "data = np.array([0.0, -1.0, 1.0])\n",
            "M.compute_information_criteria(gamma, (0.5, 0.0, 1.0), data)",
        )
        assert ic == [float("inf"), float("inf")]
        assert caught == []

    def test_censored_objective_sentinel_is_silent(self):
        """arcsine's censored likelihood at a trial point sums -inf and
        +inf; the objective maps that to its declared 1e12 sentinel
        without numpy's 'invalid value' RuntimeWarning. (Warnings are
        recorded rather than raised: the objective's own ``except``
        would map a raised warning to the same sentinel.)"""
        caught, params = _record_warnings(
            "from spark_bestfit_spark.functions.distributions.registry"
            " import get_continuous\n"
            "from spark_bestfit_spark.functions.estimation import"
            " censored_fit\n"
            "rng = np.random.default_rng(3)\n"
            "values = rng.uniform(900, 2100, 2000)\n"
            "observed = rng.random(2000) < 0.5\n",
            "censored_fit(get_continuous('arcsine'), values, observed)",
        )
        assert caught == []
        assert np.all(np.isfinite(params))


class TestCorrelationDegeneracy:
    def test_constant_column_correlation(self, spark):
        import warnings

        from spark_bestfit_spark.models.copula import spearman_correlation

        rng = np.random.default_rng(7)
        pdf = pd.DataFrame({
            "a": rng.normal(0, 1, 500),
            "b": np.full(500, 3.0),  # zero variance
        })
        df = spark.createDataFrame(pdf)
        for method in ("spearman", "pearson"):
            with warnings.catch_warnings():
                warnings.simplefilter("error", RuntimeWarning)
                corr = spearman_correlation(df, ["a", "b"], method)
            # constant column yields NaN off the diagonal, 1.0 on it;
            # no raise and no numpy warning
            assert corr.shape == (2, 2)
            assert np.isnan(corr[0, 1]) and np.isnan(corr[1, 0])
            assert corr[0, 0] == corr[1, 1] == 1.0

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
