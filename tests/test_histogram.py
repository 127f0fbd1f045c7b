"""Distributed histogram + stats operator tests (vs numpy ground truth)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spark_bestfit_spark.operators.histogram import (
    compute_histogram,
    compute_histograms_grouped,
    compute_histograms_multi,
    empirical_pmfs_multi,
    sample_histogram,
)
from spark_bestfit_spark.operators.stats import (
    column_moments,
    column_stats,
    multi_column_minmax,
)


class TestHistogram:
    def test_matches_numpy(self, spark, normal_data):
        df = spark.createDataFrame(pd.DataFrame({"value": normal_data}))
        density, edges = compute_histogram(df, "value", bins=50)
        np_density, np_edges = np.histogram(normal_data, bins=50, density=True)
        assert len(density) == 50
        assert len(edges) == 51
        # Same edges modulo the +eps top edge
        np.testing.assert_allclose(edges[:-1], np_edges[:-1], rtol=1e-9)
        np.testing.assert_allclose(density, np_density, rtol=1e-6, atol=1e-9)
        # area integrates to 1
        assert np.sum(density * np.diff(edges)) == pytest.approx(1.0)

    def test_max_value_in_last_bin(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"value": [0.0, 1.0, 2.0, 3.0, 4.0]})
        )
        density, edges = compute_histogram(df, "value", bins=4)
        counts = density * (5 * np.diff(edges))
        # reference semantics: edges = linspace(min, max+eps, bins+1), so
        # interior integer points fall in the LOWER bin and max is kept
        np.testing.assert_allclose(counts, [2, 1, 1, 1], atol=1e-6)
        assert counts.sum() == pytest.approx(5.0)  # max not dropped

    def test_constant_column_single_bin(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"value": [42.0] * 100}))
        density, edges = compute_histogram(df, "value", bins=50)
        np.testing.assert_array_equal(density, [1.0])
        np.testing.assert_array_equal(edges, [42.0])

    def test_rice_rule(self, spark, normal_data):
        df = spark.createDataFrame(pd.DataFrame({"value": normal_data}))
        density, edges = compute_histogram(df, "value", use_rice_rule=True)
        expected_bins = int(np.ceil(10_000 ** (1 / 3)) * 2)
        assert len(density) == expected_bins

    def test_nulls_and_nans_excluded(self, spark):
        pdf = pd.DataFrame({"value": [1.0, 2.0, 3.0, np.nan, None, np.inf]})
        df = spark.createDataFrame(pdf)
        density, edges = compute_histogram(df, "value", bins=2)
        total = np.sum(density * np.diff(edges))
        assert total == pytest.approx(1.0)
        assert edges[0] == 1.0

    def test_all_null_raises(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"value": pd.array([None, None], dtype="Float64")})
        )
        with pytest.raises(ValueError, match="no valid values"):
            compute_histogram(df, "value", bins=10)

    @pytest.mark.parametrize("rice", [False, True])
    def test_every_path_bins_alike(self, spark, rice):
        """The single-column, multi-column, grouped and driver-side
        histograms share one edge rule and one density rule: on the
        same values they return identical (density, edges), including
        the degenerate min == max IR."""
        from spark_bestfit_spark.operators.stats import (
            column_stats,
            multi_column_stats,
            valid_column,
        )

        rng = np.random.default_rng(8)
        values = {
            "a": np.append(rng.gamma(2.0, 3.0, 1197), [np.nan, np.inf, -np.inf]),
            "b": np.full(1200, 7.5),
        }
        pdf = pd.DataFrame(values)
        df = spark.createDataFrame(pdf)
        stats = multi_column_stats(df, ["a", "b"])
        multi = compute_histograms_multi(df, ["a", "b"], stats, 20, rice)
        long = pd.DataFrame({
            "g": np.repeat(["a", "b"], 1200),
            "v": np.concatenate([values["a"], values["b"]]),
        })
        clean = valid_column(spark.createDataFrame(long), "v")
        grouped = compute_histograms_grouped(clean, "v", "g", stats, 20, rice)
        for c in ("a", "b"):
            single = compute_histogram(df, c, bins=20, use_rice_rule=rice)
            vals = values[c][np.isfinite(values[c])]
            local = sample_histogram(vals, column_stats(df, c), 20, rice)
            for other in (multi[c], grouped[c], local):
                np.testing.assert_array_equal(other[0], single[0])
                np.testing.assert_array_equal(other[1], single[1])
        # Rice: ceil(1197 ** (1/3)) * 2 bins
        assert len(multi["a"][0]) == (22 if rice else 20)
        np.testing.assert_array_equal(multi["b"][0], [1.0])
        np.testing.assert_array_equal(multi["b"][1], [7.5])

    def test_explicit_edges(self, spark, uniform_data):
        df = spark.createDataFrame(pd.DataFrame({"value": uniform_data}))
        edges = np.array([0.0, 25.0, 50.0, 75.0, 100.0 + 1e-6])
        density, out_edges = compute_histogram(df, "value", bins=edges)
        np.testing.assert_array_equal(out_edges, edges)
        np_density, _ = np.histogram(uniform_data, bins=edges, density=True)
        np.testing.assert_allclose(density, np_density, rtol=1e-6)


class TestDiscretePmf:
    def test_matches_numpy(self, spark):
        rng = np.random.default_rng(42)
        data = rng.poisson(5, 5000)
        df = spark.createDataFrame(pd.DataFrame({"k": data.astype("int32")}))
        x, pmf, raw = empirical_pmfs_multi(df, ["k"])["k"]
        vals, counts = np.unique(data, return_counts=True)
        np.testing.assert_array_equal(x, vals.astype(float))
        np.testing.assert_array_equal(raw, counts)
        np.testing.assert_allclose(pmf, counts / counts.sum(), rtol=1e-12)
        assert pmf.sum() == pytest.approx(1.0)


class TestStats:
    def test_column_stats(self, spark, normal_data):
        df = spark.createDataFrame(pd.DataFrame({"value": normal_data}))
        s = column_stats(df, "value")
        assert s["count"] == 10_000
        assert s["min"] == pytest.approx(normal_data.min())
        assert s["max"] == pytest.approx(normal_data.max())

    def test_multi_column_minmax_single_job(self, spark):
        pdf = pd.DataFrame({"a": [1.0, 5.0], "b": [-2.0, 7.0]})
        df = spark.createDataFrame(pdf)
        out = multi_column_minmax(df, ["a", "b"])
        assert out["a"] == (1.0, 5.0)
        assert out["b"] == (-2.0, 7.0)

    def test_column_moments(self, spark, normal_data):
        df = spark.createDataFrame(pd.DataFrame({"value": normal_data}))
        m = column_moments(df, "value")
        assert m["mean"] == pytest.approx(normal_data.mean(), rel=1e-9)
        assert m["stddev"] == pytest.approx(normal_data.std(), rel=1e-9)
        assert abs(m["skewness"]) < 0.1  # normal data


class TestResponseCurve:
    def test_recovers_known_relationship(self, spark):
        import numpy as np

        from spark_bestfit_spark.operators.histogram import response_curve

        rng = np.random.default_rng(93)
        x = rng.uniform(0, 10, 5000)
        y = 2.0 * x + rng.normal(0, 0.5, 5000)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(x, y)],
            "x double, y double",
        )
        rows = sorted(
            response_curve(df, "x", "y", bins=10).collect(),
            key=lambda r: r.bin_id,
        )
        assert len(rows) == 10
        # equal-mass bins, monotone response, mean_y tracks 2 * mean_x
        assert all(400 < r.n < 600 for r in rows)
        means = [r.mean_y for r in rows]
        assert means == sorted(means)
        for r in rows:
            assert r.mean_y == __import__("pytest").approx(
                2 * r.mean_x, abs=0.15
            )
            assert r.se_y is not None and r.se_y < 0.05

    def test_validation(self, spark):
        import pytest

        from spark_bestfit_spark.operators.histogram import response_curve

        df = spark.createDataFrame([(1.0, 1.0)], "x double, y double")
        with pytest.raises(ValueError, match="bins"):
            response_curve(df, "x", "y", bins=1)


class TestGainsCurve:
    def test_informative_score_concentrates_gains(self, spark):
        import numpy as np

        from spark_bestfit_spark.operators.histogram import gains_curve

        rng = np.random.default_rng(113)
        score = rng.uniform(0, 1, 5000)
        label = (rng.uniform(0, 1, 5000) < score**2).astype(int)
        df = spark.createDataFrame(
            [(float(s), int(y)) for s, y in zip(score, label)],
            "s double, y int",
        )
        rows = {r.decile: r for r in gains_curve(df, "s", "y", 10).collect()}
        assert len(rows) == 10
        # top decile beats the base rate strongly; curve is monotone
        assert rows[1].cum_lift > 2.0
        captures = [rows[d].cum_capture for d in range(1, 11)]
        assert captures == sorted(captures)
        assert captures[-1] == 1.0
        # frac_pos decays from best to worst decile (noisy but ordered
        # at the ends)
        assert rows[1].frac_pos > rows[10].frac_pos

    def test_reference_counts(self, spark):
        import numpy as np

        from spark_bestfit_spark.operators.histogram import gains_curve

        rng = np.random.default_rng(7)
        s = rng.permutation(1000).astype(float)
        y = (s >= 900).astype(int)  # top 100 scores are positive
        df = spark.createDataFrame(
            [(float(a), int(b)) for a, b in zip(s, y)], "s double, y int"
        )
        rows = {r.decile: r for r in gains_curve(df, "s", "y", 10).collect()}
        assert rows[1].n_pos in (99, 100, 101)  # edge rounding
        assert rows[1].cum_capture >= 0.99
        assert rows[2].cum_capture == 1.0
