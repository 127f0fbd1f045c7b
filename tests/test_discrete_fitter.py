"""Tests for the discrete fitter (phase 7): empirical PMF, optimizer MLE,
discrete metrics, end-to-end recovery of known distributions."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spark_bestfit_spark.fitter import DiscreteDistributionFitter
from spark_bestfit_spark.operators.histogram import empirical_pmfs_multi


def empirical_pmf(df, column):
    x, pmf, _ = empirical_pmfs_multi(df, [column])[column]
    return x, pmf


class TestEmpiricalPmf:
    def test_known_counts(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"v": [0, 0, 1, 1, 1, 2, 5]})
        )
        x, p = empirical_pmf(df, "v")
        assert list(x) == [0.0, 1.0, 2.0, 5.0]
        assert np.allclose(p, [2 / 7, 3 / 7, 1 / 7, 1 / 7])
        assert p.sum() == pytest.approx(1.0)

    def test_nulls_dropped(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"v": [1.0, None, 2.0, float("nan")]})
        )
        x, p = empirical_pmf(df, "v")
        assert list(x) == [1.0, 2.0]
        assert np.allclose(p, [0.5, 0.5])

    def test_infinities_dropped(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"v": [1.0, float("inf"), 2.7, float("-inf")]})
        )
        x, p = empirical_pmf(df, "v")
        assert list(x) == [1.0, 2.0]
        assert np.allclose(p, [0.5, 0.5])

    def test_several_columns(self, spark):
        df = spark.createDataFrame(pd.DataFrame({
            "a": [0, 0, 1, 3], "b": [None, 2.5, 2.0, float("nan")],
            "c": [None, None, None, None],
        }).astype({"c": "float64"}))
        out = empirical_pmfs_multi(df, ["a", "b", "c"])
        assert list(out["a"][0]) == [0.0, 1.0, 3.0]
        assert np.allclose(out["a"][1], [0.5, 0.25, 0.25])
        assert list(out["b"][0]) == [2.0]
        assert np.allclose(out["b"][1], [1.0])
        assert out["c"][0].size == 0 and out["c"][1].size == 0


class TestDiscreteFitter:
    def test_fit_releases_fan_out_broadcasts(self, spark, monkeypatch):
        """The discrete fan-out registers its broadcasts (plans and
        bins), and the fitter releases them after its one collect."""
        from pyspark.broadcast import Broadcast

        from spark_bestfit_spark.operators import discrete_fit

        registered, released = [], []
        fan_out = discrete_fit.parallel_fit_discrete_columns

        def spy_fan_out(*args, broadcast_registry=None, **kwargs):
            df = fan_out(
                *args, broadcast_registry=broadcast_registry, **kwargs
            )
            registered.extend(broadcast_registry or [])
            return df

        unpersist = Broadcast.unpersist

        def spy_unpersist(self, blocking=False):
            released.append(self)
            return unpersist(self, blocking)

        monkeypatch.setattr(
            discrete_fit, "parallel_fit_discrete_columns", spy_fan_out
        )
        monkeypatch.setattr(Broadcast, "unpersist", spy_unpersist)
        df = spark.createDataFrame(pd.DataFrame(
            {"v": np.random.default_rng(1).poisson(3.0, 500).astype(float)}
        ))
        res = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["poisson", "geom"]
        )
        assert res.count() == 2
        assert len(registered) == 2
        assert all(any(b is r for r in released) for b in registered)

    @pytest.mark.parametrize("inf", [np.inf, -np.inf])
    def test_infinite_rows_do_not_enter_the_pmf(self, spark, inf):
        """fit(), fit_grouped() and fit() over the finite rows alone see
        the same PMF, so their SSEs agree: ±inf is not a support point
        (floor(+inf) used to become the bigint 9.2e18)."""
        v = np.random.default_rng(4).poisson(4.0, 2000).astype(float)
        v[::100] = inf
        pdf = pd.DataFrame({"v": v, "g": 1})
        fitter = DiscreteDistributionFitter(spark)

        def sse(res, column):
            return res.for_column(column).best(1, metric="sse").sse

        full = fitter.fit(
            spark.createDataFrame(pdf), column="v", distributions=["poisson"]
        )
        finite = fitter.fit(
            spark.createDataFrame(pdf[np.isfinite(v)]), column="v",
            distributions=["poisson"],
        )
        grouped = fitter.fit_grouped(
            spark.createDataFrame(pdf), "v", "g", distributions=["poisson"]
        )
        assert sse(full, "v") == pytest.approx(sse(finite, "v"), rel=1e-9)
        assert sse(full, "v") == pytest.approx(sse(grouped, "v[1]"), rel=1e-9)

    @pytest.mark.parametrize("bad", [
        {"fitting_sample_size": 1}, {"bins": 0},
        {"estimation_method": "bogus"},
    ])
    def test_invalid_config_raises_like_continuous(self, spark, bad):
        from spark_bestfit_spark.fitter import DistributionFitter

        df = spark.createDataFrame(pd.DataFrame({"v": [1.0, 2.0, 2.0, 3.0]}))
        fitter = DiscreteDistributionFitter(spark)
        with pytest.raises(ValueError):
            DistributionFitter(spark).fit(df, column="v", **bad)
        with pytest.raises(ValueError):
            fitter.fit(df, column="v", distributions=["poisson"], **bad)
        with pytest.raises(ValueError):
            fitter.fit_grouped(
                df.withColumn("g", df.v), "v", "g",
                distributions=["poisson"], **bad,
            )

    def test_recovers_poisson(self, spark):
        rng = np.random.default_rng(42)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.poisson(4.0, 8000).astype(float)})
        )
        res = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["poisson", "geom", "randint"]
        )
        best = res.best(1, metric="sse")
        assert best.distribution == "poisson"
        assert abs(best.parameters[0] - 4.0) < 0.15

    def test_recovers_geometric(self, spark):
        rng = np.random.default_rng(42)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.geometric(0.3, 8000).astype(float)})
        )
        res = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["geom", "poisson"]
        )
        best = res.best(1, metric="sse")
        assert best.distribution == "geom"
        assert abs(best.parameters[0] - 0.3) < 0.05

    def test_recovers_binomial_shape(self, spark):
        rng = np.random.default_rng(42)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.binomial(20, 0.4, 8000).astype(float)})
        )
        res = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["binom", "poisson"]
        )
        best = res.best(1, metric="sse")
        # binomial should beat poisson on under-dispersed data
        assert best.distribution == "binom"

    def test_full_registry_on_part_sizes(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
        res = DiscreteDistributionFitter(spark).fit(df, column="p_size")
        assert res.count() >= 5
        best = res.best(1, metric="sse")
        assert best.sse is not None and np.isfinite(best.sse)
        # ks present for eager discrete fits
        assert best.ks_statistic is not None

    def test_lazy_metrics_skips_ks(self, spark):
        rng = np.random.default_rng(0)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.poisson(3.0, 3000).astype(float)})
        )
        res = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["poisson", "geom"],
            lazy_metrics=True,
        )
        rows = res.df.select("ks_statistic").collect()
        assert all(r.ks_statistic is None for r in rows)

    def test_lazy_rows_equal_eager_rows(self, spark):
        """A lazy discrete result recomputes K-S with the discrete
        kernel and leaves A-D null, so it materializes to the eager
        rows."""
        rng = np.random.default_rng(6)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.poisson(4.0, 3000).astype(float)})
        )
        f = DiscreteDistributionFitter(spark)
        dists = ["poisson", "geom", "nbinom", "betabinom"]
        eager = f.fit(df, column="v", distributions=dists)
        lazy = f.fit(df, column="v", distributions=dists, lazy_metrics=True)
        assert all(r.ks_statistic is None for r in lazy._rows)
        assert sorted(lazy.materialize()._rows) == sorted(eager._rows)
        assert all(r.ad_statistic is None for r in eager._rows)

    def test_multi_column(self, spark):
        rng = np.random.default_rng(1)
        df = spark.createDataFrame(pd.DataFrame({
            "a": rng.poisson(2.0, 2000).astype(float),
            "b": rng.geometric(0.5, 2000).astype(float),
        }))
        res = DiscreteDistributionFitter(spark).fit(
            df, columns=["a", "b"], distributions=["poisson", "geom"]
        )
        per = res.best_per_column(1, metric="sse")
        assert set(per) == {"a", "b"}

    def test_new_discrete_distributions_roundtrip(self):
        import numpy as np

        from spark_bestfit_spark.functions.distributions.registry import (
            DISCRETE,
            get_discrete,
        )

        assert len(DISCRETE) >= 16
        rng = np.random.default_rng(42)
        cases = {
            "boltzmann": (0.35, 12.0, 0.0),
            "nhypergeom": (30.0, 20.0, 5.0, 0.0),
            "zipfian": (1.8, 50.0, 0.0),
        }
        for name, params in cases.items():
            d = get_discrete(name)
            lo, hi = d._get_support(*params[:-1])
            ks = np.arange(int(lo), int(hi) + 1)
            total = float(np.sum(d.pmf(ks, *params)))
            assert total == pytest.approx(1.0, abs=1e-6), name
            cdf = d.cdf(ks, *params)
            assert np.all(np.diff(cdf) >= -1e-12), name
            s = d.rvs(params, 3000, rng)
            assert s.min() >= lo and s.max() <= hi
            fitted = d.fit(s)
            # fitted likelihood within a whisker of the truth
            assert d.nnlf(fitted, s) <= d.nnlf(params, s) + 25.0, name

    def test_fitter_with_boltzmann_and_zipfian(self, spark):
        import numpy as np

        from spark_bestfit_spark.functions.distributions.registry import (
            get_discrete,
        )

        rng = np.random.default_rng(0)
        s = get_discrete("zipfian").rvs((1.5, 30.0, 0.0), 4000, rng)
        df = spark.createDataFrame(
            pd.DataFrame({"v": s.astype(float)})
        )
        res = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["zipfian", "geom", "poisson"]
        )
        best = res.best(1, metric="sse")
        assert best.distribution == "zipfian"

    def test_sentinel_on_empty(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"v": [float("nan")] * 10})
        )
        res = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["poisson"]
        )
        assert res.count() == 0


class TestDiscreteGroupedFitting:
    def test_each_group_recovers_its_family(self, spark):
        import pandas as pd

        from spark_bestfit_spark.fitter import DiscreteDistributionFitter

        rng = np.random.default_rng(4)
        pdf = pd.DataFrame(
            {
                "g": ["a"] * 3000 + ["b"] * 3000,
                "v": np.concatenate(
                    [rng.poisson(4.0, 3000), rng.integers(0, 10, 3000)]
                ).astype(float),
            }
        )
        df = spark.createDataFrame(pdf)
        res = DiscreteDistributionFitter(spark).fit_grouped(
            df, "v", "g", distributions=["poisson", "randint", "geom"]
        )
        best = res.best_per_column(n=1, metric="sse")
        assert best["v[a]"][0].distribution == "poisson"
        assert best["v[b]"][0].distribution == "randint"

    def test_small_groups_match_separate_fits(self, spark):
        import pandas as pd
        import pyspark.sql.functions as F

        from spark_bestfit_spark.fitter import DiscreteDistributionFitter

        rng = np.random.default_rng(5)
        pdf = pd.DataFrame(
            {
                "g": ["x"] * 800 + ["y"] * 900,
                "v": np.concatenate(
                    [rng.poisson(2.0, 800), rng.poisson(9.0, 900)]
                ).astype(float),
            }
        )
        df = spark.createDataFrame(pdf)
        f = DiscreteDistributionFitter(spark)
        dists = ["poisson", "geom"]
        grouped = {
            (r["column_name"], r["distribution"]): r
            for r in f.fit_grouped(df, "v", "g", distributions=dists)
            .df.collect()
        }
        for g in ("x", "y"):
            solo = f.fit(
                df.filter(F.col("g") == g), column="v",
                distributions=dists,
            )
            for r in solo.df.collect():
                gr = grouped[(f"v[{g}]", r["distribution"])]
                assert gr["parameters"] == r["parameters"], (g, r)
                assert gr["sse"] == r["sse"]

    def test_null_groups_and_cap_and_validation(self, spark):
        import pyspark.sql.functions as F

        from spark_bestfit_spark.fitter import DiscreteDistributionFitter

        f = DiscreteDistributionFitter(spark)
        df = spark.createDataFrame(
            [(None, 1.0), ("a", 2.0), ("a", 3.0), ("a", 2.0)] * 10,
            "g string, v double",
        )
        res = f.fit_grouped(df, "v", "g", distributions=["poisson"])
        assert {r["column_name"] for r in res.df.collect()} == {"v[a]"}
        wide = spark.range(300).select(
            F.col("id").cast("string").alias("g"),
            (F.col("id") % 7).cast("double").alias("v"),
        )
        with pytest.raises(ValueError, match="max_groups"):
            f.fit_grouped(wide, "v", "g", distributions=["poisson"])
        with pytest.raises(ValueError, match="not found"):
            f.fit_grouped(df, "v", "nope")
        empty = spark.createDataFrame([], "g string, v double")
        assert f.fit_grouped(empty, "v", "g").count() == 0


class TestDiscreteKS:
    @staticmethod
    def _reference_d(dist, params, data):
        """sup |ECDF - F| on the integer grid that holds both step
        functions' jumps, in plain Python."""
        data = sorted(int(v) for v in data)
        n, best = len(data), 0.0
        for x in range(data[0] - 1, data[-1] + 1):
            ecdf = sum(1 for v in data if v <= x) / n
            cdf = float(np.asarray(dist.cdf(float(x), *params)).ravel()[0])
            best = max(best, abs(ecdf - cdf))
        return best

    @pytest.mark.parametrize(
        "name", ["poisson", "geom", "binom", "betabinom", "dlaplace"]
    )
    def test_matches_plain_python_reference(self, name):
        from spark_bestfit_spark.functions import metrics as M
        from spark_bestfit_spark.functions.distributions.registry import (
            get_discrete,
        )

        data = np.random.default_rng(0).poisson(4.0, 5000).astype(float)
        dist = get_discrete(name)
        params = dist.fit(data)
        d, p = M.compute_discrete_ks(dist, params, data)
        assert d == pytest.approx(
            self._reference_d(dist, params, data), abs=1e-9
        )
        # the Kolmogorov limit at n = sample size
        assert 0.0 <= p <= 1.0

    def test_perfect_fit_is_accepted(self):
        """Ties are one ECDF jump: a Poisson sample scored against its
        own fitted Poisson has a small D and a large p-value."""
        from spark_bestfit_spark.functions import metrics as M
        from spark_bestfit_spark.functions.distributions.registry import (
            get_discrete,
        )

        data = np.random.default_rng(0).poisson(4.0, 5000).astype(float)
        dist = get_discrete("poisson")
        d, p = M.compute_discrete_ks(dist, dist.fit(data), data)
        assert d < 0.01 and p > 0.5


class TestSampleFromCounts:
    def test_within_target_is_the_whole_column(self):
        from spark_bestfit_spark.operators.sampling import sample_from_counts

        x, counts = np.array([0.0, 2.0, 5.0]), np.array([3, 1, 2])
        out = sample_from_counts(x, counts, 6, np.random.default_rng(0))
        assert out.tolist() == [0.0, 0.0, 0.0, 2.0, 5.0, 5.0]

    def test_above_target_draws_without_replacement(self):
        from spark_bestfit_spark.operators.sampling import sample_from_counts

        x = np.array([1.0, 2.0, 3.0])
        counts = np.array([4 * 10**11, 3 * 10**11, 3 * 10**11])
        out = sample_from_counts(x, counts, 10_000, np.random.default_rng(1))
        again = sample_from_counts(
            x, counts, 10_000, np.random.default_rng(1)
        )
        assert out.tobytes() == again.tobytes()
        assert out.size == 10_000 and np.all(np.diff(out) >= 0)
        share = np.array([(out == v).mean() for v in x])
        np.testing.assert_allclose(share, [0.4, 0.3, 0.3], atol=0.03)
        # without replacement: never more of a value than its count
        small = sample_from_counts(
            x, np.array([2, 50, 1]), 20, np.random.default_rng(2)
        )
        assert (small == 1.0).sum() <= 2 and (small == 3.0).sum() <= 1
