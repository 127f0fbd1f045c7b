"""Tests for copula / multivariate-normal / Gaussian-mixture models."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from spark_bestfit_spark.models import (
    GaussianCopula,
    GaussianMixtureFitter,
    MultivariateNormalFitter,
    MultivariateNormalResult,
)
from spark_bestfit_spark.models.copula import spearman_correlation


@pytest.fixture(scope="module")
def corr_df(spark):
    """Two strongly correlated columns + one independent."""
    rng = np.random.default_rng(42)
    n = 4000
    x = rng.normal(50, 10, n)
    y = 2.0 * x + rng.normal(0, 5, n)   # strong positive
    z = rng.exponential(5, n)           # independent
    return spark.createDataFrame(pd.DataFrame({"x": x, "y": y, "z": z}))


INF, NAN = float("inf"), float("nan")
# a: ties and -0.0 vs 0.0; b: ±inf; i: int ties; c: constant;
# d: one NaN and one null; rows 9 and 10 (0-based) hold a null and a NaN a
EDGE_SCHEMA = "a double, b double, i int, c double, d double"
EDGE_ROWS = [
    (1.0, 3.0, 1, 7.0, 0.5),
    (2.0, INF, 2, 7.0, 1.5),
    (2.0, -INF, 2, 7.0, 0.25),
    (-0.0, 1.0, 3, 7.0, 2.0),
    (0.0, 1.0, 3, 7.0, NAN),
    (5.0, 2.0, 1, 7.0, 3.0),
    (3.0, INF, 4, 7.0, None),
    (0.0, 0.5, 4, 7.0, 3.0),
    (4.0, 2.0, 5, 7.0, -1.0),
    (None, 9.0, 6, 7.0, 4.0),
    (NAN, 8.0, 7, 7.0, 4.5),
    (-0.0, -2.0, 2, 7.0, 0.5),
]
EDGE_SUBSETS = [
    ["a", "i"], ["a", "b"], ["b", "i"], ["i", "c"], ["a", "b", "i"],
    ["a", "c", "d"], ["a", "b", "i", "d"], ["a", "i", "d", "c"],
]


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(EDGE_ROWS, EDGE_SCHEMA)


def _reference_corr(cols, method):
    """Pure-Python oracle: keep the rows complete in ``cols`` (no null,
    no NaN), average 1-based ranks by counting, Pearson by the textbook
    sums (NaN when a mean or a variance is not finite and positive)."""
    names = [f.split()[0] for f in EDGE_SCHEMA.split(", ")]
    rows = [[r[names.index(c)] for c in cols] for r in EDGE_ROWS]
    rows = [r for r in rows if all(v is not None and v == v for v in r)]
    series = [list(map(float, s)) for s in zip(*rows)]
    if method == "spearman":
        series = [
            [sum(w < v for w in s) + (sum(w == v for w in s) + 1) / 2.0
             for v in s]
            for s in series
        ]

    def pearson(x, y):
        n = len(x)
        mx, my = sum(x) / n, sum(y) / n
        vx = sum((v - mx) ** 2 for v in x)
        vy = sum((v - my) ** 2 for v in y)
        if not (math.isfinite(vx) and math.isfinite(vy)) or 0 in (vx, vy):
            return NAN
        return sum((a - mx) * (b - my) for a, b in zip(x, y)) / math.sqrt(
            vx * vy
        )

    k = len(cols)
    return np.array([
        [1.0 if i == j else pearson(series[i], series[j]) for j in range(k)]
        for i in range(k)
    ])


class TestSpearman:
    def test_known_structure(self, corr_df):
        corr = spearman_correlation(corr_df, ["x", "y", "z"])
        assert corr.shape == (3, 3)
        assert np.allclose(np.diag(corr), 1.0)
        assert corr[0, 1] > 0.9
        assert abs(corr[0, 2]) < 0.1

    def test_null_rows_skipped(self, spark):
        pdf = pd.DataFrame({"a": [1.0, 2.0, None, 4.0], "b": [2.0, 4.0, 6.0, 8.0]})
        corr = spearman_correlation(spark.createDataFrame(pdf), ["a", "b"])
        assert abs(corr[0, 1] - 1.0) < 1e-9

    @pytest.mark.parametrize("method", ["spearman", "pearson"])
    @pytest.mark.parametrize("cols", EDGE_SUBSETS, ids="".join)
    def test_matches_average_rank_reference(self, edge_df, cols, method):
        """Rows with a null or NaN in any chosen column drop out; ±inf
        rows stay (ranked last/first; Pearson over them is NaN); ties,
        -0.0 vs 0.0 included, share their mean rank; a constant column
        is NaN off the diagonal."""
        got = spearman_correlation(edge_df, cols, method)
        want = _reference_corr(cols, method)
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-12,
                                   equal_nan=True)
        assert np.array_equal(got, got.T, equal_nan=True)

    @pytest.mark.parametrize("cols", [["x", "y"], ["x", "y", "z"],
                                      ["x", "y", "z", "w"]], ids=len)
    def test_matches_sql_spearman_on_finite_data(self, spark, corr_df,
                                                 cols):
        """Against the engine's in-plan SQL Spearman (rho rounded to 6
        places); the rounded copies carry ties."""
        from spark_bestfit_spark.operators.stats import spearman_corr

        df = corr_df.selectExpr(
            "round(x, 0) AS x", "round(y, -1) AS y", "z", "round(z) AS w"
        )
        corr = spearman_correlation(df, cols)
        assert np.all(np.diag(corr) == 1.0)
        for i, a in enumerate(cols):
            for j, b in enumerate(cols[:i]):
                rho = spearman_corr(df, a, b).first()["rho"]
                assert abs(corr[i, j] - rho) <= 5e-7, (a, b)
                assert corr[j, i] == corr[i, j]

    @pytest.mark.parametrize("pair", [
        ("a", "i"), ("a", "d"), ("i", "d"), ("i", "c"), ("a", "c"),
        ("c", "d"),
    ], ids="".join)
    def test_sql_spearman_matches_average_rank_reference(self, edge_df,
                                                         pair):
        """The in-plan SQL Spearman against the pure-Python reference
        (pairs without the ±inf column, which the SQL form drops): a
        constant column gives a null rho, not a round-off residue."""
        from spark_bestfit_spark.operators.stats import spearman_corr

        rho = spearman_corr(edge_df, *pair).first()["rho"]
        want = _reference_corr(list(pair), "spearman")[0, 1]
        if math.isnan(want):
            assert rho is None
        else:
            assert rho == pytest.approx(round(want, 6), abs=1e-12)

    def test_sql_spearman_constant_column_is_null(self, corr_df):
        from spark_bestfit_spark.operators.stats import spearman_corr

        df = corr_df.selectExpr("round(x, 0) AS x", "1.5 AS k")
        assert spearman_corr(df, "x", "k").first()["rho"] is None

    @pytest.mark.parametrize("rows", [
        [(1.0, 2.0)], [(1.0, None), (2.0, None)], [(1.0, float("nan"))],
    ], ids=["one_row", "all_null_column", "nan_only"])
    def test_fewer_than_two_complete_rows_raise(self, spark, rows):
        df = spark.createDataFrame(rows, "a double, b double")
        with pytest.raises(ValueError, match=">= 2 rows"):
            spearman_correlation(df, ["a", "b"])

    def test_unknown_method_raises(self, corr_df):
        with pytest.raises(ValueError, match="kendall"):
            spearman_correlation(corr_df, ["x", "y"], "kendall")

    def test_non_numeric_column_raises(self, spark):
        df = spark.createDataFrame(
            [(1.0, "a"), (2.0, "b")], "x double, s string"
        )
        with pytest.raises(TypeError, match="'s'"):
            spearman_correlation(df, ["x", "s"])


@pytest.fixture(scope="module")
def fitted_copula(spark, corr_df):
    from spark_bestfit_spark.fitter import DistributionFitter

    results = DistributionFitter(spark).fit(
        corr_df, columns=["x", "y", "z"],
        distributions=["norm", "gamma", "lognorm", "expon", "uniform"],
    )
    return GaussianCopula.fit(results, corr_df, metric="sse")


class TestCopula:
    def test_fit_shape(self, fitted_copula):
        c = fitted_copula
        assert c.column_names == ["x", "y", "z"]
        assert c.correlation.shape == (3, 3)
        assert set(c.marginals) == {"x", "y", "z"}

    def test_local_sample_preserves_correlation(self, fitted_copula):
        out = fitted_copula.sample(5000, seed=1)
        sx, sy = out["x"], out["y"]
        r = np.corrcoef(sx, sy)[0, 1]
        assert r > 0.8, f"copula lost correlation: {r}"
        assert abs(np.mean(sx) - 50.0) < 2.0

    def test_distributed_sample(self, spark, fitted_copula):
        df = fitted_copula.sample_distributed(spark, 8000, num_partitions=4)
        assert df.columns == ["x", "y", "z"]
        pdf = df.toPandas()
        assert len(pdf) == 8000
        r = np.corrcoef(pdf["x"], pdf["y"])[0, 1]
        assert r > 0.8

    def test_distributed_deterministic(self, spark, fitted_copula):
        a = fitted_copula.sample_distributed(spark, 1000, num_partitions=4, seed=5)
        b = fitted_copula.sample_distributed(spark, 1000, num_partitions=4, seed=5)
        pa = np.sort(a.toPandas()["x"].to_numpy())
        pb = np.sort(b.toPandas()["x"].to_numpy())
        assert np.allclose(pa, pb)

    def test_return_uniform(self, fitted_copula):
        u = fitted_copula.sample(2000, seed=3, return_uniform=True)
        for c in ("x", "y", "z"):
            assert u[c].min() >= 0.0 and u[c].max() <= 1.0
            assert abs(u[c].mean() - 0.5) < 0.05

    def test_serialization_roundtrip(self, fitted_copula, tmp_path):
        p = str(tmp_path / "copula.json")
        fitted_copula.save(p)
        loaded = GaussianCopula.load(p)
        assert loaded.column_names == fitted_copula.column_names
        assert np.allclose(loaded.correlation, fitted_copula.correlation)
        a = loaded.sample(100, seed=9)
        b = fitted_copula.sample(100, seed=9)
        for c in loaded.column_names:
            assert np.allclose(a[c], b[c])

    @pytest.mark.parametrize(
        "metric,lazy", [("sse", False), ("ks_statistic", True)]
    )
    def test_marginals_are_each_columns_best(self, spark, corr_df,
                                             metric, lazy):
        from spark_bestfit_spark.fitter import DistributionFitter

        res = DistributionFitter(spark).fit(
            corr_df, columns=["x", "y", "z"], lazy_metrics=lazy,
            distributions=["norm", "gamma", "lognorm", "expon", "uniform"],
        )
        cop = GaussianCopula.fit(res, corr_df, metric=metric)
        for c in ("x", "y", "z"):
            b = res.for_column(c).best(1, metric=metric)
            m = cop.marginals[c]
            assert (m.distribution, tuple(m.parameters), m.lower_bound,
                    m.upper_bound) == (b.distribution, tuple(b.parameters),
                                       b.lower_bound, b.upper_bound)

    def test_subset_ranks_only_its_columns(self, spark, corr_df):
        """A copula over some of the fitted columns recomputes deferred
        metrics from the samples of those columns only."""
        from spark_bestfit_spark.fitter import DistributionFitter

        res = DistributionFitter(spark).fit(
            corr_df, columns=["x", "y", "z"], lazy_metrics=True,
            distributions=["norm", "gamma", "expon"],
        )
        touched = []
        get_sample = res._get_sample
        res._get_sample = lambda c: touched.append(c) or get_sample(c)
        cop = GaussianCopula.fit(
            res, corr_df, columns=["x", "y"], metric="ks_statistic"
        )
        assert sorted(cop.marginals) == ["x", "y"]
        assert sorted(set(touched)) == ["x", "y"]

    def test_poor_ks_marginal_warns_like_best(self, spark, corr_df):
        """Uniform is the only candidate, and its K-S on the exponential
        column is > 0.5: the copula warns as ``best`` does for it."""
        from spark_bestfit_spark.fitter import DistributionFitter

        res = DistributionFitter(spark).fit(
            corr_df, columns=["x", "z"], distributions=["uniform"]
        )
        with pytest.warns(UserWarning, match="poor K-S"):
            res.for_column("z").best(1, metric="ks_statistic")
        with pytest.warns(UserWarning, match="poor K-S"):
            GaussianCopula.fit(res, corr_df, metric="ks_statistic")

    def test_column_without_fits_is_named(self, spark, corr_df):
        from spark_bestfit_spark.fitter import DistributionFitter

        res = DistributionFitter(spark).fit(
            corr_df, columns=["x", "y"], distributions=["norm"]
        )
        with pytest.raises(ValueError, match="no successful fits for column 'z'"):
            GaussianCopula.fit(res, corr_df, columns=["x", "y", "z"])

    def test_requires_two_columns(self, spark, corr_df):
        from spark_bestfit_spark.fitter import DistributionFitter

        res = DistributionFitter(spark).fit(
            corr_df, column="x", distributions=["norm"]
        )
        with pytest.raises(ValueError):
            GaussianCopula.fit(res, corr_df, columns=["x"])


class TestMultivariateNormal:
    def test_fit_recovers_moments(self, spark, corr_df):
        res = MultivariateNormalFitter(spark).fit(corr_df, ["x", "y"])
        assert abs(res.mean[0] - 50.0) < 1.0
        assert abs(res.mean[1] - 100.0) < 2.0
        # var(x) ~ 100; cov(x,y) ~ 200; var(y) ~ 425
        assert abs(res.cov[0, 0] - 100.0) < 15.0
        assert abs(res.cov[0, 1] - 200.0) < 25.0

    def test_matches_numpy_cov_exactly(self, spark):
        rng = np.random.default_rng(0)
        pdf = pd.DataFrame(rng.normal(0, 1, (500, 3)), columns=["a", "b", "c"])
        res = MultivariateNormalFitter(spark).fit(
            spark.createDataFrame(pdf), ["a", "b", "c"]
        )
        np_cov = np.cov(pdf.to_numpy().T, ddof=1)
        assert np.allclose(res.cov, np_cov, rtol=1e-8)
        assert np.allclose(res.mean, pdf.mean().to_numpy(), rtol=1e-10)

    def test_sample_local_and_distributed(self, spark, corr_df):
        res = MultivariateNormalFitter(spark).fit(corr_df, ["x", "y"])
        local = res.sample(5000, seed=2)
        assert abs(np.corrcoef(local[:, 0], local[:, 1])[0, 1] - 0.97) < 0.05
        dist = res.sample_distributed(spark, 5000, num_partitions=4)
        pdf = dist.toPandas()
        assert len(pdf) == 5000
        assert abs(pdf["x"].mean() - res.mean[0]) < 1.0

    def test_pdf_integrates_sanely(self, spark, corr_df):
        res = MultivariateNormalFitter(spark).fit(corr_df, ["x", "y"])
        p_at_mean = res.pdf(res.mean[None, :])[0]
        p_far = res.pdf((res.mean + 50)[None, :])[0]
        assert p_at_mean > p_far

    def test_serialization_roundtrip(self, spark, corr_df, tmp_path):
        res = MultivariateNormalFitter(spark).fit(corr_df, ["x", "y"])
        p = str(tmp_path / "mvn.json")
        res.save(p)
        loaded = MultivariateNormalResult.load(p)
        assert np.allclose(loaded.cov, res.cov)
        assert np.allclose(loaded.sample(50, seed=1), res.sample(50, seed=1))


class TestGaussianMixture:
    @pytest.fixture(scope="class")
    def bimodal(self):
        rng = np.random.default_rng(42)
        return np.concatenate(
            [rng.normal(-5, 1, 2000), rng.normal(5, 1, 3000)]
        )

    def test_recovers_two_modes(self, bimodal):
        res = GaussianMixtureFitter(n_components=2, n_init=2).fit(bimodal)
        means = sorted(res.means.ravel())
        assert abs(means[0] - (-5)) < 0.5
        assert abs(means[1] - 5) < 0.5
        w = sorted(res.weights)
        assert abs(w[0] - 0.4) < 0.05 and abs(w[1] - 0.6) < 0.05
        assert res.converged

    def test_aic_bic_prefer_right_k(self, bimodal):
        r1 = GaussianMixtureFitter(n_components=1).fit(bimodal)
        r2 = GaussianMixtureFitter(n_components=2, n_init=2).fit(bimodal)
        assert r2.bic < r1.bic
        assert r2.aic < r1.aic

    def test_predict_separates_modes(self, bimodal):
        res = GaussianMixtureFitter(n_components=2, n_init=2).fit(bimodal)
        lab_lo = res.predict(np.array([[-5.0]]))[0]
        lab_hi = res.predict(np.array([[5.0]]))[0]
        assert lab_lo != lab_hi
        proba = res.predict_proba(np.array([[-5.0]]))
        assert proba.shape == (1, 2)
        assert abs(proba.sum() - 1.0) < 1e-9

    def test_sample_roundtrip(self, bimodal):
        res = GaussianMixtureFitter(n_components=2, n_init=2).fit(bimodal)
        s = res.sample(5000, seed=3).ravel()
        # refit on the sample recovers the same modes
        res2 = GaussianMixtureFitter(n_components=2, n_init=2).fit(s)
        assert np.allclose(
            sorted(res.means.ravel()), sorted(res2.means.ravel()), atol=0.5
        )

    def test_multivariate_fit(self):
        rng = np.random.default_rng(1)
        a = rng.multivariate_normal([0, 0], np.eye(2), 1500)
        b = rng.multivariate_normal([8, 8], np.eye(2), 1500)
        res = GaussianMixtureFitter(n_components=2, n_init=2).fit(
            np.vstack([a, b])
        )
        got = sorted(res.means[:, 0])
        assert abs(got[0]) < 0.5 and abs(got[1] - 8) < 0.5

    def test_distributed_fit(self, spark, corr_df):
        res = GaussianMixtureFitter(n_components=2, max_iter=30).fit_distributed(
            corr_df, ["x", "y"]
        )
        assert res.n_components == 2
        assert res.means.shape == (2, 2)
        assert res.n_samples == 4000
        s = res.sample(100, seed=1)
        assert s.shape == (100, 2)

    def test_serialization_roundtrip(self, bimodal, tmp_path):
        res = GaussianMixtureFitter(n_components=2).fit(bimodal)
        p = str(tmp_path / "gmm.json")
        res.save(p)
        from spark_bestfit_spark.models import GaussianMixtureResult

        loaded = GaussianMixtureResult.load(p)
        assert np.allclose(loaded.weights, res.weights)
        assert np.allclose(loaded.means, res.means)
        assert abs(loaded.bic - res.bic) < 1e-9
