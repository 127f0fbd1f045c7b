"""Tests for fast_ppf + distributed generation (SURVEY §2.8 G1-G2, F18)."""

from __future__ import annotations

import numpy as np
import pytest

from spark_bestfit_spark.functions import fast_ppf as fp
from spark_bestfit_spark.functions.distributions.registry import (
    get_continuous,
)
from spark_bestfit_spark.operators.generate import (
    _partition_plan,
    generate_samples,
    sample_distribution,
)

Q = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])

CASES = [
    ("norm", (50.0, 10.0)),
    ("expon", (0.0, 5.0)),
    ("uniform", (2.0, 8.0)),
    ("lognorm", (0.5, 0.0, 3.0)),
    ("gamma", (2.0, 0.0, 2.0)),
    ("beta", (2.0, 3.0, 0.0, 1.0)),
    ("weibull_min", (1.5, 0.0, 2.0)),
    ("gumbel_r", (1.0, 2.0)),
    ("gumbel_l", (1.0, 2.0)),
    ("logistic", (0.0, 1.0)),
    ("laplace", (0.0, 2.0)),
    ("cauchy", (0.0, 1.0)),
    ("rayleigh", (0.0, 2.0)),
    ("pareto", (3.0, 0.0, 1.0)),
    ("chi2", (4.0, 0.0, 1.0)),
    ("weibull_max", (1.5, 0.0, 2.0)),
    ("invweibull", (2.0, 0.0, 1.0)),
    ("halfnorm", (0.0, 2.0)),
    ("halflogistic", (0.0, 1.0)),
    ("halfcauchy", (0.0, 1.0)),
    ("lomax", (2.5, 0.0, 1.0)),
    ("maxwell", (0.0, 1.5)),
    ("fisk", (2.0, 0.0, 1.0)),
    ("genpareto", (0.3, 0.0, 1.0)),
]


class TestFastPpf:
    @pytest.mark.parametrize("name,params", CASES)
    def test_matches_distribution_ppf(self, name, params):
        fast = fp.fast_ppf(name, Q, params)
        ref = get_continuous(name).ppf(Q, *params)
        assert np.allclose(fast, ref, rtol=1e-5, atol=1e-8), (name, fast, ref)

    @pytest.mark.parametrize("name,params", CASES)
    def test_cdf_roundtrip(self, name, params):
        d = get_continuous(name)
        x = fp.fast_ppf(name, Q, params)
        back = d.cdf(x, *params)
        assert np.allclose(back, Q, atol=1e-6), (name, back)

    def test_fallback_for_unlisted_distribution(self):
        assert not fp.has_fast_ppf("triang")
        out = fp.fast_ppf("triang", Q, (0.5, 0.0, 1.0))
        ref = get_continuous("triang").ppf(Q, 0.5, 0.0, 1.0)
        assert np.allclose(out, ref, rtol=1e-6)

    def test_truncated_ppf_respects_bounds(self):
        out = fp.truncated_ppf("norm", Q, (50.0, 10.0), 45.0, 60.0)
        assert out.min() >= 45.0 and out.max() <= 60.0
        # untruncated call passes through
        full = fp.truncated_ppf("norm", Q, (50.0, 10.0))
        assert np.allclose(full, fp.fast_ppf("norm", Q, (50.0, 10.0)))

    def test_truncated_ppf_is_monotone(self):
        q = np.linspace(0.001, 0.999, 101)
        out = fp.truncated_ppf("gamma", q, (2.0, 0.0, 2.0), 1.0, 10.0)
        assert np.all(np.diff(out) >= 0)


class TestPartitionPlan:
    def test_plan_sums_to_n(self):
        for n, p in [(100, 7), (5, 8), (1, 1), (1000, 32)]:
            plan = _partition_plan(n, p)
            assert sum(c for _, c in plan) == n
            assert all(c > 0 for _, c in plan)

    def test_remainder_spread(self):
        plan = dict(_partition_plan(10, 4))
        assert plan == {0: 3, 1: 3, 2: 2, 3: 2}


class TestGenerateSamples:
    def test_row_count_and_schema(self, spark):
        df = generate_samples(
            spark, 1000,
            lambda rng, n: {"a": rng.normal(0, 1, n), "b": rng.uniform(0, 1, n)},
            ["a", "b"], num_partitions=4,
        )
        assert df.columns == ["a", "b"]
        assert df.count() == 1000

    def test_deterministic_given_seed_and_partitions(self, spark):
        mk = lambda: generate_samples(  # noqa: E731
            spark, 500, lambda rng, n: {"v": rng.normal(0, 1, n)},
            ["v"], num_partitions=4, seed=7,
        ).toPandas()["v"].sort_values().to_numpy()
        assert np.allclose(mk(), mk())

    def test_partition_seeds_differ(self, spark):
        vals = generate_samples(
            spark, 400, lambda rng, n: {"v": rng.normal(0, 1, n)},
            ["v"], num_partitions=4, seed=7,
        ).toPandas()["v"].to_numpy()
        # 4 partitions with distinct seeds: essentially no duplicate values
        assert len(np.unique(np.round(vals, 12))) > 390

    def test_partition_row_counts_follow_the_plan(self, spark):
        import pyspark.sql.functions as F

        df = generate_samples(
            spark, 10, lambda rng, n: {"v": rng.normal(0, 1, n)},
            ["v"], num_partitions=4,
        )
        counts = {
            r["pid"]: r["n"]
            for r in df.groupBy(F.spark_partition_id().alias("pid"))
            .count().withColumnRenamed("count", "n").collect()
        }
        assert counts == dict(_partition_plan(10, 4))

    def test_rejects_bad_n(self, spark):
        with pytest.raises(ValueError):
            generate_samples(spark, 0, lambda rng, n: {"v": []}, ["v"])


class TestSampleDistribution:
    def test_normal_moments(self, spark):
        df = sample_distribution(
            spark, "norm", (50.0, 10.0), 20_000, num_partitions=8
        )
        pdf = df.toPandas()["sample"]
        assert abs(pdf.mean() - 50.0) < 0.5
        assert abs(pdf.std() - 10.0) < 0.5

    def test_truncated_stays_in_bounds(self, spark):
        df = sample_distribution(
            spark, "norm", (50.0, 10.0), 5_000,
            lower_bound=45.0, upper_bound=60.0, num_partitions=4,
        )
        row = df.agg({"sample": "min"}).first()
        import pyspark.sql.functions as F
        mm = df.agg(F.min("sample"), F.max("sample")).first()
        assert mm[0] >= 45.0 and mm[1] <= 60.0

    def test_end_to_end_from_fit(self, spark, lineitem):
        from spark_bestfit_spark.fitter import DistributionFitter
        from spark_bestfit_spark.operators.generate import sample_best_fit

        res = DistributionFitter(spark).fit(
            lineitem, column="l_extendedprice",
            distributions=["norm", "lognorm", "gamma"],
        )
        best = res.best(1, metric="sse")
        out = sample_best_fit(spark, best, 10_000, num_partitions=4)
        pdf = out.toPandas()[best.column_name]
        real_mean = lineitem.agg({"l_extendedprice": "avg"}).first()[0]
        assert abs(pdf.mean() - real_mean) / real_mean < 0.3
