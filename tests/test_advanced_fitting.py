"""Tests for phase 5/6 features: truncated (bounded) fitting, censored
MLE, maximum-spacing estimation, heavy-tail auto mode, lazy metrics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spark_bestfit_spark.fitter import DistributionFitter
from spark_bestfit_spark.functions.distributions.registry import (
    get_continuous,
)
from spark_bestfit_spark.functions.estimation import (
    censored_fit,
    detect_heavy_tail,
    mse_fit,
)
from spark_bestfit_spark.functions.truncated import TruncatedDistribution


class TestTruncatedDistribution:
    def test_pdf_renormalized(self):
        norm = get_continuous("norm")
        t = TruncatedDistribution(norm, (0.0, 1.0), -1.0, 1.0)
        # mass in [-1,1] ~ 0.6827 -> pdf scaled up by 1/0.6827
        x = np.array([0.0])
        ratio = t.pdf(x)[0] / norm.pdf(x, 0.0, 1.0)[0]
        assert abs(ratio - 1.0 / 0.6826894921) < 1e-6
        assert t.pdf(np.array([2.0]))[0] == 0.0
        assert t.pdf(np.array([-2.0]))[0] == 0.0

    def test_cdf_endpoints_and_monotone(self):
        t = TruncatedDistribution(get_continuous("norm"), (0.0, 1.0), -1.0, 1.0)
        assert t.cdf(np.array([-1.0]))[0] == pytest.approx(0.0, abs=1e-12)
        assert t.cdf(np.array([1.0]))[0] == pytest.approx(1.0, abs=1e-12)
        x = np.linspace(-1, 1, 51)
        c = t.cdf(x)
        assert np.all(np.diff(c) >= 0)

    def test_ppf_inverts_cdf(self):
        t = TruncatedDistribution(get_continuous("gamma"), (2.0, 0.0, 2.0), 1.0, 8.0)
        q = np.linspace(0.01, 0.99, 21)
        x = t.ppf(q)
        assert x.min() >= 1.0 and x.max() <= 8.0
        assert np.allclose(t.cdf(x), q, atol=1e-6)

    def test_rvs_within_bounds(self):
        t = TruncatedDistribution(get_continuous("norm"), (50.0, 10.0), 45.0, 60.0)
        s = t.rvs(2000, np.random.default_rng(0))
        assert s.min() >= 45.0 and s.max() <= 60.0

    def test_analytic_moments_norm_match_mc(self):
        t = TruncatedDistribution(get_continuous("norm"), (0.0, 1.0), -1.0, 2.0)
        mc = t._mc_sample()
        assert abs(t.mean() - mc.mean()) < 0.03
        assert abs(t.std() - mc.std()) < 0.03

    def test_analytic_moments_uniform(self):
        t = TruncatedDistribution(get_continuous("uniform"), (0.0, 10.0), 2.0, 6.0)
        assert t.mean() == pytest.approx(4.0)
        assert t.std() == pytest.approx(4.0 / np.sqrt(12.0))

    def test_analytic_moments_expon(self):
        t = TruncatedDistribution(get_continuous("expon"), (0.0, 5.0), 0.0, 10.0)
        s = t.rvs(200_000, np.random.default_rng(1))
        assert abs(t.mean() - s.mean()) < 0.05
        assert abs(t.std() - s.std()) < 0.05

    def test_empty_mass_raises(self):
        with pytest.raises(ValueError):
            TruncatedDistribution(
                get_continuous("uniform"), (0.0, 1.0), 5.0, 6.0
            )

    def test_bad_bounds_raise(self):
        with pytest.raises(ValueError):
            TruncatedDistribution(get_continuous("norm"), (0.0, 1.0), 2.0, 1.0)


class TestTruncatedProperties:
    """Hypothesis-style invariants over a grid of (dist, bounds)."""

    CASES = [
        ("norm", (0.0, 1.0), -1.5, 1.0),
        ("norm", (50.0, 10.0), 45.0, None),
        ("gamma", (2.0, 0.0, 2.0), 0.5, 6.0),
        ("expon", (0.0, 5.0), 1.0, 12.0),
        ("lognorm", (0.5, 0.0, 3.0), 1.0, 10.0),
        ("uniform", (0.0, 10.0), 2.0, 7.0),
        ("laplace", (0.0, 2.0), None, 3.0),
    ]

    @pytest.mark.parametrize("name,params,lb,ub", CASES)
    def test_mass_conserved(self, name, params, lb, ub):
        """Integral of the truncated pdf over [lb, ub] must be 1."""
        t = TruncatedDistribution(get_continuous(name), params, lb, ub)
        lo = lb if lb is not None else t.ppf(np.array([1e-9]))[0]
        hi = ub if ub is not None else t.ppf(np.array([1 - 1e-9]))[0]
        x = np.linspace(lo, hi, 20001)
        mass = np.trapz(t.pdf(x), x)
        assert mass == pytest.approx(1.0, abs=5e-3)

    @pytest.mark.parametrize("name,params,lb,ub", CASES)
    def test_cdf_ppf_inverse(self, name, params, lb, ub):
        t = TruncatedDistribution(get_continuous(name), params, lb, ub)
        q = np.linspace(0.01, 0.99, 33)
        x = t.ppf(q)
        assert np.allclose(t.cdf(x), q, atol=1e-6)

    @pytest.mark.parametrize("name,params,lb,ub", CASES)
    def test_rvs_moments_match_model(self, name, params, lb, ub):
        t = TruncatedDistribution(get_continuous(name), params, lb, ub)
        s = t.rvs(60_000, np.random.default_rng(0))
        assert abs(t.mean() - s.mean()) < 0.05 * (abs(t.mean()) + 1.0)
        assert abs(t.std() - s.std()) < 0.1 * (t.std() + 1.0)


class TestMseFit:
    def test_recovers_normal_params(self):
        rng = np.random.default_rng(42)
        data = rng.normal(10.0, 2.0, 3000)
        norm = get_continuous("norm")
        params = mse_fit(norm, data)
        assert abs(params[0] - 10.0) < 0.2
        assert abs(params[1] - 2.0) < 0.2

    def test_heavy_tail_stability(self):
        # lognormal-ish heavy sample: MSE must return finite params
        rng = np.random.default_rng(1)
        data = np.exp(rng.normal(0, 1.5, 2000))
        d = get_continuous("lognorm")
        params = mse_fit(d, data)
        assert all(np.isfinite(params))


class TestCensoredFit:
    def test_right_censoring_recovers_scale(self):
        """Exponential data censored at t=8: naive MLE on observed
        underestimates the mean; censored MLE recovers it."""
        rng = np.random.default_rng(42)
        true_scale = 5.0
        t = rng.exponential(true_scale, 4000)
        censor_time = 8.0
        observed = t <= censor_time
        values = np.minimum(t, censor_time)
        expon = get_continuous("expon")
        params = censored_fit(expon, values, observed)
        naive = expon.fit(values[observed])
        # censored estimate within 10%; naive biased low by much more
        assert abs(params[-1] - true_scale) / true_scale < 0.10
        assert params[-1] > naive[-1]

    def test_no_censoring_equals_mle(self):
        rng = np.random.default_rng(0)
        data = rng.normal(5, 1, 500)
        norm = get_continuous("norm")
        a = censored_fit(norm, data, np.ones(500, dtype=bool))
        b = norm.fit(data)
        assert np.allclose(a, b, rtol=1e-9)

    def test_extreme_censoring_warns(self):
        rng = np.random.default_rng(0)
        values = rng.exponential(5, 500)
        mask = np.zeros(500, dtype=bool)
        mask[:50] = True
        with pytest.warns(UserWarning, match="censored"):
            censored_fit(get_continuous("expon"), values, mask)


class TestHeavyTailDetect:
    def test_normal_not_heavy(self):
        rng = np.random.default_rng(0)
        assert not detect_heavy_tail(rng.normal(0, 1, 5000))

    def test_pareto_is_heavy(self):
        rng = np.random.default_rng(0)
        heavy = rng.pareto(1.5, 5000)
        assert detect_heavy_tail(heavy)


class TestBoundedFitting:
    def test_bounds_stored_and_data_filtered(self, spark):
        rng = np.random.default_rng(42)
        pdf = pd.DataFrame({"v": rng.normal(50, 10, 8000)})
        df = spark.createDataFrame(pdf)
        res = DistributionFitter(spark).fit(
            df, column="v", distributions=["norm", "uniform"],
            lower_bound=40.0, upper_bound=65.0,
        )
        best = res.best(1, metric="sse")
        assert best.lower_bound == 40.0
        assert best.upper_bound == 65.0
        # provenance stats describe the truncated relation
        assert best.data_min >= 40.0
        assert best.data_max <= 65.0

    def test_truncated_view_metrics(self, spark):
        """Bounded fitting = plain MLE params evaluated through the
        truncated frozen view (reference estimation.py:666-671): metrics
        must be finite, differ from the plain fit, and A-D p-value is
        undefined for truncated families."""
        rng = np.random.default_rng(42)
        raw = rng.normal(50, 10, 40_000)
        cut = raw[(raw >= 45) & (raw <= 60)]
        df = spark.createDataFrame(pd.DataFrame({"v": cut}))
        bounded = DistributionFitter(spark).fit(
            df, column="v", distributions=["norm"],
            lower_bound=45.0, upper_bound=60.0,
        ).best(1, metric="ks_statistic")
        plain = DistributionFitter(spark).fit(
            df, column="v", distributions=["norm"],
        ).best(1, metric="ks_statistic")
        # same MLE params either way; metrics go through different views
        assert np.allclose(bounded.parameters, plain.parameters, rtol=1e-6)
        assert np.isfinite(bounded.ks_statistic)
        assert bounded.ks_statistic != plain.ks_statistic
        assert bounded.ks_statistic < 0.15
        assert bounded.ad_pvalue is None  # no A-D table when truncated

    def test_sampling_respects_bounds(self, spark):
        rng = np.random.default_rng(42)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.normal(50, 10, 5000)})
        )
        res = DistributionFitter(spark).fit(
            df, column="v", distributions=["norm"],
            lower_bound=45.0, upper_bound=60.0,
        )
        best = res.best(1, metric="sse")
        # model ops on a bounded result go through the truncated view
        # (reference storage.py:368-432: samples guaranteed in-bounds,
        # CDF pinned to 0/1 at the bounds)
        s = best.sample(1000, random_state=7)
        assert s.min() >= 45.0 and s.max() <= 60.0
        assert np.asarray(best.cdf(45.0)).item() == 0.0
        assert np.asarray(best.cdf(60.0)).item() == 1.0
        q = best.ppf(np.array([0.0, 0.5, 1.0]))
        assert q[0] >= 45.0 and q[2] <= 60.0
        from spark_bestfit_spark.operators.generate import sample_best_fit

        out = sample_best_fit(spark, best, 2000, num_partitions=2)
        import pyspark.sql.functions as SF

        mm = out.agg(SF.min(best.column_name), SF.max(best.column_name)).first()
        assert mm[0] >= 45.0 and mm[1] <= 60.0


class TestCensoredFitting:
    def test_end_to_end_survival_fit(self, spark):
        rng = np.random.default_rng(42)
        t = rng.exponential(5.0, 6000)
        censor_time = 8.0
        pdf = pd.DataFrame({
            "duration": np.minimum(t, censor_time),
            "event": (t <= censor_time).astype(int),
        })
        df = spark.createDataFrame(pdf)
        res = DistributionFitter(spark).fit(
            df, column="duration", distributions=["expon", "norm"],
            censoring_column="event",
        )
        rows = {r.distribution: r for r in res.best(2, metric="aic")}
        assert "expon" in rows
        scale = rows["expon"].parameters[-1]
        assert abs(scale - 5.0) / 5.0 < 0.15
        # KS/AD skipped for censored fits
        assert rows["expon"].ks_statistic is None

    def test_censoring_column_type_validated(self, spark):
        pdf = pd.DataFrame({"v": [1.0, 2.0], "c": ["a", "b"]})
        df = spark.createDataFrame(pdf)
        with pytest.raises(TypeError):
            DistributionFitter(spark).fit(
                df, column="v", censoring_column="c",
                distributions=["norm"],
            )


class TestAutoMethod:
    def test_auto_warns_on_heavy_tail(self, spark):
        rng = np.random.default_rng(0)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.pareto(1.5, 5000) + 1.0})
        )
        with pytest.warns(UserWarning, match="heavy-tailed"):
            DistributionFitter(spark).fit(
                df, column="v", distributions=["lognorm", "expon"],
                estimation_method="auto",
            )


class TestPrefilter:
    def test_left_skewed_drops_right_skew_families(self):
        from spark_bestfit_spark.fitter import prefilter_distributions

        rng = np.random.default_rng(42)
        left_skewed = -rng.lognormal(0, 1, 5000)  # strongly left-skewed
        names = ["norm", "gamma", "lognorm", "gumbel_l", "expon"]
        kept, dropped = prefilter_distributions(names, left_skewed, True)
        assert "norm" in kept and "gumbel_l" in kept
        dropped_names = {n for n, _ in dropped}
        assert {"gamma", "lognorm", "expon"} <= dropped_names

    def test_symmetric_data_keeps_all(self):
        from spark_bestfit_spark.fitter import prefilter_distributions

        rng = np.random.default_rng(0)
        sym = rng.normal(0, 1, 5000)
        kept, dropped = prefilter_distributions(
            ["norm", "gamma", "uniform"], sym, True
        )
        assert dropped == []

    def test_aggressive_drops_platykurtic_on_heavy_tails(self):
        from spark_bestfit_spark.fitter import prefilter_distributions

        rng = np.random.default_rng(1)
        heavy = rng.standard_t(2.1, 5000)
        kept, dropped = prefilter_distributions(
            ["norm", "uniform", "cosine"], heavy, "aggressive"
        )
        dropped_names = {n for n, _ in dropped}
        assert {"uniform", "cosine"} <= dropped_names
        assert "norm" in kept
        # conservative mode keeps them
        kept2, dropped2 = prefilter_distributions(
            ["norm", "uniform", "cosine"], heavy, True
        )
        assert dropped2 == []

    def test_off_mode_is_identity(self):
        from spark_bestfit_spark.fitter import prefilter_distributions

        kept, dropped = prefilter_distributions(["gamma"], [-5.0] * 100, False)
        assert kept == ["gamma"] and dropped == []

    def test_end_to_end_fit_with_prefilter(self, spark):
        rng = np.random.default_rng(42)
        df = spark.createDataFrame(
            pd.DataFrame({"v": -rng.lognormal(0.5, 0.8, 4000)})
        )
        res = DistributionFitter(spark).fit(
            df, column="v", prefilter=True, lazy_metrics=True
        )
        fitted = {r.distribution for r in res.df.select("distribution").collect()}
        assert "gamma" not in fitted and "lognorm" not in fitted
        assert res.count() > 10


@pytest.fixture(scope="module")
def messy_df(spark):
    """30k rows in 3 partitions: ``v`` normal with 5% NaN and ~8% nulls
    (so its valid count is the lowest), ``w`` gamma, ``k`` Poisson
    counts, ``obs`` an event flag."""
    import pyspark.sql.functions as F

    rng = np.random.default_rng(42)
    n = 30_000
    v = rng.normal(50, 10, n)
    v[rng.random(n) < 0.05] = np.nan
    pdf = pd.DataFrame({
        "v": v, "w": rng.gamma(2.0, 3.0, n),
        "k": rng.poisson(4.0, n).astype(float), "obs": rng.random(n) < 0.8,
    })
    df = spark.createDataFrame(pdf).withColumn(
        "v", F.when(F.col("w") < 1.5, F.lit(None)).otherwise(F.col("v"))
    )
    df = df.repartition(3).cache()
    df.count()
    yield df
    df.unpersist()


class TestSampleRecreation:
    """SA5: with the cached samples gone, the lazy recreation redraws
    each column with the fit's own sampler and valid count, so its
    bytes equal the fit's sample."""

    DISTS = ["norm", "gamma", "uniform"]

    @staticmethod
    def _assert_exact(res):
        cached = {c: np.array(s, copy=True) for c, s in res._samples.items()}
        assert cached
        res._samples.clear()  # simulate losing the driver-side cache
        for c, sample in cached.items():
            assert res._get_sample(c).tobytes() == sample.tobytes(), c

    def test_lazy_metrics_after_sample_loss(self, spark):
        rng = np.random.default_rng(42)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.normal(50, 10, 6000)})
        )
        res = DistributionFitter(spark).fit(
            df, column="v", lazy_metrics=True, distributions=self.DISTS,
        )
        with_cache = res.best(1, metric="ks_statistic")
        res._samples.clear()
        res._sorted_samples.clear()
        recreated = res.best(1, metric="ks_statistic")
        assert recreated.distribution == with_cache.distribution
        assert recreated.ks_statistic == with_cache.ks_statistic

    def test_nan_and_null_column(self, spark, messy_df):
        res = DistributionFitter(spark).fit(
            messy_df, column="v", lazy_metrics=True,
            distributions=self.DISTS,
        )
        self._assert_exact(res)

    def test_unbalanced_multi_column(self, spark, messy_df):
        res = DistributionFitter(spark).fit(
            messy_df, columns=["v", "w"], lazy_metrics=True,
            distributions=self.DISTS,
        )
        self._assert_exact(res)

    def test_bounded_fit(self, spark, messy_df):
        res = DistributionFitter(spark).fit(
            messy_df, columns=["v", "w"], lazy_metrics=True,
            distributions=self.DISTS, lower_bound=0.5, upper_bound=60.0,
        )
        self._assert_exact(res)

    def test_censored_fit(self, spark, messy_df):
        res = DistributionFitter(spark).fit(
            messy_df, columns=["v", "w"], lazy_metrics=True,
            distributions=["norm", "expon"], censoring_column="obs",
        )
        self._assert_exact(res)

    def test_discrete_fit(self, spark, messy_df):
        """A discrete sample is drawn again from the kept value counts:
        byte for byte the fit's, and without a Spark job."""
        from spark_bestfit_spark.fitter import DiscreteDistributionFitter

        res = DiscreteDistributionFitter(spark).fit(
            messy_df, column="k", lazy_metrics=True,
            distributions=["poisson", "geom"],
        )
        sc = spark.sparkContext
        sc.setJobGroup("discrete-recreation", "recreation")
        try:
            self._assert_exact(res)
        finally:
            sc.setJobGroup(None, None)
        assert not sc.statusTracker().getJobIdsForGroup("discrete-recreation")

    def test_discrete_fit_ignores_censoring(self, spark, messy_df):
        """A discrete fit samples without the censoring column, so its
        recreation must too: ``ev`` has unknown events, which a
        censored draw would drop."""
        import pyspark.sql.functions as F

        from spark_bestfit_spark.fitter import DiscreteDistributionFitter

        df = messy_df.withColumn(
            "ev", F.when(F.col("w") > 8.0, None).otherwise(F.col("obs"))
        )
        res = DiscreteDistributionFitter(spark).fit(
            df, column="k", lazy_metrics=True,
            distributions=["poisson", "geom"], censoring_column="ev",
        )
        self._assert_exact(res)

    def test_sample_independent_of_neighbours(self, spark, messy_df):
        """A column's sample is sized from its own valid count, so it
        is the same whether fitted alone or next to a sparser column."""
        f = DistributionFitter(spark)
        pair = f.fit(messy_df, columns=["v", "w"], distributions=["norm"])
        for c in ("v", "w"):
            alone = f.fit(messy_df, column=c, distributions=["norm"])
            assert alone._samples[c].tobytes() == pair._samples[c].tobytes()

    def test_clear_error_without_source(self, spark):
        from spark_bestfit_spark.operators.fit import FIT_RESULT_SCHEMA
        from spark_bestfit_spark.results import FitResults

        row = (
            "v", "norm", [0.0, 1.0], 0.1, 1.0, 1.0, None, None, None,
            None, 0.0, 1.0, 0.5, 0.2, 100.0, 0.0, 0.0, None, None,
        )
        fr = FitResults(
            spark.createDataFrame([row], schema=FIT_RESULT_SCHEMA),
        )
        with pytest.raises(ValueError, match="no cached sample"):
            fr.best(1, metric="ks_statistic")


class TestSampleCollect:
    def test_sparse_column_bounds_the_collect(self, spark, monkeypatch):
        """A column with 0.1% valid values keeps every row it has, but
        the rows of the dense column next to it are not collected for
        it: the job's filter keeps only rows some column keeps, so the
        collect stays near 1.3x the target per column."""
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.sampling import (
            build_fitting_samples_multi,
        )
        from spark_bestfit_spark.operators.stats import multi_column_stats
        from spark_bestfit_spark.plans.config import FitterConfig

        n, target = 100_000, 1_000
        df = spark.range(n).select(
            F.randn(1).alias("dense"),
            F.when(F.col("id") % 1000 == 0, F.randn(2)).alias("sparse"),
        )
        stats = multi_column_stats(df, ["dense", "sparse"])
        counts = {c: int(s["count"]) for c, s in stats.items()}
        assert counts == {"dense": n, "sparse": n // 1000}
        collected = []
        to_pandas = type(df).toPandas

        def spy(self):
            pdf = to_pandas(self)
            collected.append(len(pdf))
            return pdf

        monkeypatch.setattr(type(df), "toPandas", spy)
        out = build_fitting_samples_multi(
            df, ["dense", "sparse"],
            FitterConfig(fitting_sample_size=target), counts,
        )
        assert out["dense"].size == target
        assert out["sparse"].size == n // 1000
        assert len(collected) == 1
        assert collected[0] < 1.3 * target * 1.2 + n // 1000


class TestAdaptiveSampling:
    """SA2/SA3: only a column above ``sample_threshold`` (with
    ``adaptive_sampling`` on) pays for its own pilot-skewness job, and a
    skewed one for its own strata jobs; every other column stays in the
    one shared sample job."""

    @staticmethod
    def _spy(monkeypatch):
        from spark_bestfit_spark.operators import sampling

        calls = {"pilot": [], "strata": []}
        pilot, strata = sampling.pilot_skewness, sampling.stratified_sample

        def spy_pilot(df, column, config):
            calls["pilot"].append(column)
            return pilot(df, column, config)

        def spy_strata(df, column, *args, **kwargs):
            calls["strata"].append(column)
            return strata(df, column, *args, **kwargs)

        monkeypatch.setattr(sampling, "pilot_skewness", spy_pilot)
        monkeypatch.setattr(sampling, "stratified_sample", spy_strata)
        return calls

    def test_nan_column_pilot_is_uniform(self, spark, monkeypatch):
        """One NaN made the pilot skew NaN, which chose 'stratified'
        for a symmetric column: the skew reads valid values only."""
        from spark_bestfit_spark.operators.sampling import (
            choose_sampling_mode,
            pilot_skewness,
        )
        from spark_bestfit_spark.plans.config import FitterConfig

        rng = np.random.default_rng(3)
        n = 40_000
        v = rng.normal(0.0, 1.0, n)
        v[rng.random(n) < 0.05] = np.nan
        df = spark.createDataFrame(pd.DataFrame({"v": v})).cache()
        skew = pilot_skewness(df, "v", FitterConfig())
        assert np.isfinite(skew)
        assert choose_sampling_mode(skew) == ("uniform", 0)
        calls = self._spy(monkeypatch)
        DistributionFitter(spark).fit(
            df, column="v", distributions=["norm"],
            sample_threshold=20_000, fitting_sample_size=2_000,
        )
        assert calls == {"pilot": ["v"], "strata": []}
        df.unpersist()

    def test_only_column_above_threshold_is_stratified(
        self, spark, monkeypatch
    ):
        rng = np.random.default_rng(5)
        n = 30_000
        sparse = rng.normal(5.0, 1.0, n)
        sparse[rng.random(n) < 0.9] = np.nan  # ~3k valid: below threshold
        df = spark.createDataFrame(pd.DataFrame({
            "big": rng.lognormal(0.0, 1.0, n), "sparse": sparse,
        })).repartition(3).cache()
        df.count()
        f = DistributionFitter(spark)
        opts = dict(
            distributions=["norm", "lognorm"], sample_threshold=10_000,
            fitting_sample_size=1_000,
        )
        calls = self._spy(monkeypatch)
        res = f.fit(df, columns=["big", "sparse"], lazy_metrics=True, **opts)
        assert calls == {"pilot": ["big"], "strata": ["big"]}
        # the neighbour stays in the shared job: its sample is the one
        # a fit of it alone draws (which runs no pilot at all)
        alone = f.fit(df, column="sparse", **opts)
        assert calls["pilot"] == ["big"]
        assert (
            alone._samples["sparse"].tobytes()
            == res._samples["sparse"].tobytes()
        )
        # the stratified sample is recreated exactly, by the same jobs
        big = np.array(res._samples["big"], copy=True)
        assert big.size == 1_000
        res._samples.clear()
        assert res._get_sample("big").tobytes() == big.tobytes()
        assert calls["strata"] == ["big", "big"]
        df.unpersist()


class TestPartitionLayout:
    def test_fit_within_target_is_layout_free(self, spark):
        """Within the fitting sample a fit reads every valid value, so
        the same rows in the same order give identical result rows
        whether they sit in 1, 3 or 7 partitions. (Above the target the
        sample is Spark's per-partition Bernoulli draw and they do
        not.)"""
        rng = np.random.default_rng(12)
        pdf = pd.DataFrame({
            "i": np.arange(4000), "a": rng.gamma(2.0, 3.0, 4000),
            "b": rng.normal(10.0, 2.0, 4000),
        })
        fitter = DistributionFitter(spark)
        outs = []
        for parts in (1, 3, 7):
            df = (
                spark.createDataFrame(pdf)
                .repartitionByRange(parts, "i")
                .sortWithinPartitions("i")
            )
            assert df.rdd.getNumPartitions() == parts
            res = fitter.fit(
                df, columns=["a", "b"],
                distributions=["norm", "gamma", "expon"],
            )
            outs.append(sorted(res._rows))
        assert outs[0] == outs[1] == outs[2]

    @pytest.mark.parametrize("target", [10_000, 1_000])
    def test_discrete_fit_is_layout_free(self, spark, target):
        """A discrete sample is drawn from the value counts, so the
        same rows in any order and partition layout give identical
        result rows, within the fitting sample (4,000 rows) and above
        it, for fit() and fit_grouped() alike."""
        from spark_bestfit_spark.fitter import DiscreteDistributionFitter

        rng = np.random.default_rng(13)
        base = spark.createDataFrame(pd.DataFrame({
            "k": rng.poisson(4.0, 4000), "n": rng.geometric(0.3, 4000),
            "g": rng.integers(0, 3, 4000),
        }))
        fitter = DiscreteDistributionFitter(spark)
        opts = dict(
            distributions=["poisson", "geom", "nbinom"],
            fitting_sample_size=target,
        )
        outs, grouped = [], []
        for parts in (1, 3, 7):
            df = base.repartition(parts)  # round-robin: a shuffled order
            assert df.rdd.getNumPartitions() == parts
            res = fitter.fit(df, columns=["k", "n"], **opts)
            outs.append(sorted(res._rows))
            res = fitter.fit_grouped(df, "k", "g", **opts)
            grouped.append(sorted(res._rows))
        assert len(outs[0]) == 6 and len(grouped[0]) == 9
        assert outs[0] == outs[1] == outs[2]
        assert grouped[0] == grouped[1] == grouped[2]


class TestCustomDistributionFit:
    def test_custom_distribution_fits_on_executors(self, spark):
        """User-registered distribution participates in the distributed
        fan-out (broadcast to executors, resolved inside the kernel —
        reference continuous_fitter.py:107-172 semantics). The object
        must be picklable from an importable module — here an instance
        of a library class registered under a new name."""
        from spark_bestfit_spark.functions.distributions.continuous import (
            Expon,
        )

        custom = Expon()
        custom.name = "user_expon"
        rng = np.random.default_rng(42)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.exponential(4.0, 5000)})
        )
        fitter = DistributionFitter(spark)
        fitter.register_distribution("user_expon", custom)
        res = fitter.fit(
            df, column="v", distributions=["norm", "user_expon"]
        )
        rows = {r.distribution for r in res.best(2, metric="aic")}
        assert "user_expon" in rows
        best = res.best(1, metric="aic")
        assert best.distribution == "user_expon"
        assert abs(best.parameters[-1] - 4.0) < 0.3

    def test_name_conflict_rejected(self, spark):
        fitter = DistributionFitter(spark)
        with pytest.raises(ValueError):
            fitter.register_distribution(
                "norm", object.__new__(DistributionFitter)
            )


class TestLazyMetrics:
    @pytest.fixture(scope="class")
    def lazy_results(self, spark):
        rng = np.random.default_rng(42)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.normal(50, 10, 6000)})
        )
        return DistributionFitter(spark).fit(
            df, column="v", lazy_metrics=True,
            distributions=["norm", "gamma", "lognorm", "uniform", "expon",
                           "laplace", "logistic"],
        )

    def test_fit_skips_ks(self, lazy_results):
        rows = lazy_results.df.select("ks_statistic").collect()
        assert all(r.ks_statistic is None for r in rows)

    def test_best_by_ks_recomputes(self, lazy_results):
        best = lazy_results.best(1, metric="ks_statistic")
        assert best.ks_statistic is not None
        assert best.distribution == "norm"
        assert best.ks_statistic < 0.05

    def test_best_by_pvalue_descending(self, lazy_results):
        top = lazy_results.best(3, metric="pvalue")
        ps = [r.pvalue for r in top]
        assert ps == sorted(ps, reverse=True)

    def test_best_per_column_recomputes_like_best(self, spark):
        """A deferred metric ranks each column the way ``best`` does
        (AIC pre-selection, driver recompute), never by its null
        placeholder column."""
        rng = np.random.default_rng(5)
        df = spark.createDataFrame(pd.DataFrame({
            "g": rng.gamma(2.0, 3.0, 4000), "n": rng.normal(0, 1, 4000),
        }))
        res = DistributionFitter(spark).fit(
            df, columns=["g", "n"], lazy_metrics=True,
            distributions=["cauchy", "expon", "gamma", "laplace",
                           "logistic", "lognorm", "norm", "uniform",
                           "weibull_min"],
        )

        def key(rows):
            return [(r.distribution, r.parameters, r.ks_statistic,
                     r.pvalue, r.ad_statistic) for r in rows]

        for n, metric in ((1, "ks_statistic"), (2, "pvalue")):
            per = res.best_per_column(n, metric=metric)
            assert sorted(per) == ["g", "n"]
            for c, rows in per.items():
                want = res.for_column(c).best(n, metric=metric)
                want = [want] if n == 1 else want
                assert key(rows) == key(want), (c, metric)
                assert all(r.ks_statistic is not None for r in rows)

    def test_tied_pvalues_rank_like_eager(self, spark):
        """Every p-value of a two-mode sample is 0.0: the lazy ranking
        breaks the ties by (column, distribution) ascending, exactly as
        the eager and the materialized rankings do."""
        rng = np.random.default_rng(3)
        data = np.concatenate(
            [rng.normal(0, 1, 5000), rng.normal(40, 1, 5000)]
        )
        df = spark.createDataFrame(pd.DataFrame({"v": data}))
        dists = ["cauchy", "expon", "gamma", "laplace", "logistic",
                 "lognorm", "norm", "uniform"]
        fitter = DistributionFitter(spark)
        lazy = fitter.fit(df, column="v", lazy_metrics=True,
                          distributions=dists)
        eager = fitter.fit(df, column="v", distributions=dists)
        for metric in ("pvalue", "ad_pvalue"):
            want = [
                (r.distribution, getattr(r, metric))
                for r in eager.best(8, metric=metric)
            ]
            for res in (lazy, lazy.materialize()):
                got = [
                    (r.distribution, getattr(r, metric))
                    for r in res.best(8, metric=metric)
                ]
                assert got == want, metric
        assert {r.pvalue for r in eager.best(8, metric="pvalue")} == {0.0}

    def test_materialize_fills_all(self, lazy_results):
        mat = lazy_results.materialize()
        rows = mat.df.select("distribution", "ks_statistic").collect()
        assert all(r.ks_statistic is not None for r in rows)
        # eager best on materialized equals lazy best
        a = mat.best(1, metric="ks_statistic")
        b = lazy_results.best(1, metric="ks_statistic")
        assert a.distribution == b.distribution

    def test_lazy_vs_eager_agree(self, spark):
        rng = np.random.default_rng(7)
        df = spark.createDataFrame(pd.DataFrame({"v": rng.gamma(2, 2, 5000)}))
        dists = ["norm", "gamma", "lognorm", "expon"]
        lazy = DistributionFitter(spark).fit(
            df, column="v", lazy_metrics=True, distributions=dists
        ).best(1, metric="ks_statistic")
        eager = DistributionFitter(spark).fit(
            df, column="v", distributions=dists
        ).best(1, metric="ks_statistic")
        assert lazy.distribution == eager.distribution
        assert abs(lazy.ks_statistic - eager.ks_statistic) < 0.02


class TestGroupedFitting:
    """fit_grouped: per-group fits with constant job count (Spark-first
    extension — the single-node reference has no grouped fitting)."""

    @pytest.fixture(scope="class")
    def grouped_df(self, spark):
        rng = np.random.default_rng(3)
        pdf = pd.DataFrame(
            {
                "g": ["a"] * 4000 + ["b"] * 4000 + ["c"] * 4000,
                "v": np.concatenate(
                    [
                        rng.normal(10, 2, 4000),
                        rng.exponential(5.0, 4000),
                        rng.uniform(0, 1, 4000),
                    ]
                ),
            }
        )
        return spark.createDataFrame(pdf).cache()

    def test_each_group_recovers_its_family(self, spark, grouped_df):
        from spark_bestfit_spark.fitter import DistributionFitter

        res = DistributionFitter(spark).fit_grouped(
            grouped_df, "v", "g",
            distributions=["norm", "expon", "uniform", "gamma", "lognorm"],
        )
        best = res.best_per_column(n=1, metric="sse")
        assert best["v[a]"][0].distribution == "norm"
        assert best["v[b]"][0].distribution in ("expon", "gamma")
        assert best["v[c]"][0].distribution == "uniform"

    def test_small_groups_exactly_match_separate_fits(
        self, spark, grouped_df
    ):
        """Groups under the fitting-sample size take ALL their rows, so
        the grouped fit must be bit-identical to fitting each group's
        filtered relation separately."""
        import pyspark.sql.functions as F

        from spark_bestfit_spark.fitter import DistributionFitter

        f = DistributionFitter(spark)
        dists = ["norm", "expon", "uniform"]
        grouped = f.fit_grouped(grouped_df, "v", "g", distributions=dists)
        grows = {
            (r["column_name"], r["distribution"]): r
            for r in grouped.df.collect()
        }
        for g in ("a", "b", "c"):
            solo = f.fit(
                grouped_df.filter(F.col("g") == g), column="v",
                distributions=dists,
            )
            for r in solo.df.collect():
                gr = grows[(f"v[{g}]", r["distribution"])]
                assert gr["parameters"] == r["parameters"], (g, r)
                assert gr["sse"] == r["sse"]
                assert gr["aic"] == r["aic"]
                assert gr["data_count"] == r["data_count"]

    def test_null_groups_excluded_and_group_cap(self, spark):
        import pyspark.sql.functions as F

        from spark_bestfit_spark.fitter import DistributionFitter

        df = spark.createDataFrame(
            [(None, 1.0), ("a", 2.0), ("a", 3.0), ("a", 2.5)] * 10,
            "g string, v double",
        )
        f = DistributionFitter(spark)
        res = f.fit_grouped(df, "v", "g", distributions=["norm"])
        labels = {r["column_name"] for r in res.df.collect()}
        assert labels == {"v[a]"}
        wide = spark.range(300).select(
            F.col("id").cast("string").alias("g"),
            (F.col("id") * 1.0).alias("v"),
        )
        with pytest.raises(ValueError, match="max_groups"):
            f.fit_grouped(wide, "v", "g", distributions=["norm"])

    def test_censored_config_rejected(self, spark, grouped_df):
        """A censored config would silently produce uncensored
        per-group fits (the grouped sample pass carries no event
        mask) — fit_grouped must refuse it loudly."""
        from spark_bestfit_spark.fitter import DistributionFitter

        with pytest.raises(NotImplementedError, match="censoring"):
            DistributionFitter(spark).fit_grouped(
                grouped_df.withColumn(
                    "ev", grouped_df["v"] > grouped_df["v"]
                ),
                "v", "g", distributions=["norm"],
                censoring_column="ev",
            )

    def test_truncation_order_independent(self):
        """The over-budget truncation must depend only on the group's
        value multiset + seed: shuffled/reversed inputs and different
        groupby appearance orders all yield the same sample."""
        from spark_bestfit_spark.operators.sampling import (
            truncate_group_sample,
        )

        rng = np.random.default_rng(11)
        arr = rng.normal(0, 1, 5000)
        base = truncate_group_sample(arr, 500, 42, "a")
        assert base.size == 500
        shuffled = arr.copy()
        rng.shuffle(shuffled)
        for variant in (shuffled, arr[::-1].copy()):
            out = truncate_group_sample(variant, 500, 42, "a")
            np.testing.assert_array_equal(np.sort(out), np.sort(base))
        # different groups draw from independent streams
        other = truncate_group_sample(arr, 500, 42, "b")
        assert not np.array_equal(np.sort(other), np.sort(base))
        # under-budget arrays pass through untouched
        small = arr[:100]
        np.testing.assert_array_equal(
            truncate_group_sample(small, 500, 42, "a"), small
        )

    def test_grouped_fit_stable_across_repartitionings(self, spark):
        """Groups within the 1.3x oversample window collect ALL their
        rows (sampleBy fraction 1.0), so with the value-based
        truncation the per-group fit must be BIT-IDENTICAL regardless
        of how the input relation is partitioned — the old shared-rng
        truncation consumed Spark's collection order and broke this."""
        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(8)
        pdf = pd.DataFrame(
            {
                "g": ["x"] * 600 + ["y"] * 620,
                "v": np.concatenate(
                    [rng.normal(5, 1, 600), rng.gamma(2.0, 3.0, 620)]
                ),
            }
        )
        f = DistributionFitter(spark)
        outs = []
        for parts in (1, 7):
            df = spark.createDataFrame(pdf).repartition(parts)
            res = f.fit_grouped(
                df, "v", "g", distributions=["norm", "gamma", "expon"],
                fitting_sample_size=500,
            )
            outs.append(
                sorted(
                    (r["column_name"], r["distribution"], r["parameters"],
                     r["sse"], r["aic"])
                    for r in res.df.collect()
                )
            )
        assert outs[0] == outs[1]

    def test_lazy_metrics_per_group(self, spark, grouped_df):
        from spark_bestfit_spark.fitter import DistributionFitter

        res = DistributionFitter(spark).fit_grouped(
            grouped_df, "v", "g",
            distributions=["norm", "expon", "uniform"],
            lazy_metrics=True,
        )
        per = res.best_per_column(n=1, metric="aic")
        assert set(per) == {"v[a]", "v[b]", "v[c]"}
        # per-group lazy KS recompute uses the per-group cached sample
        b = res.for_column("v[a]").best(metric="ks_statistic")
        assert b is not None and b.ks_statistic is not None
