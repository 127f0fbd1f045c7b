"""Tests for bootstrap CIs (distributed + local), progress tracking, and
headless plotting helpers."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spark_bestfit_spark import plotting
from spark_bestfit_spark.operators.bootstrap import (
    bootstrap_ci,
    bootstrap_ci_local,
)
from spark_bestfit_spark.progress import ProgressTracker


class TestBootstrapCI:
    @pytest.fixture(scope="class")
    def normal_sample(self):
        return np.random.default_rng(42).normal(50.0, 10.0, 2000)

    def test_distributed_ci_covers_sample_estimate(self, spark, normal_sample):
        ci = bootstrap_ci(
            spark, "norm", normal_sample, n_resamples=200, seed=42
        )
        assert set(ci) == {"loc", "scale"}
        lo, hi = ci["loc"]
        # percentile bootstrap brackets the point estimate (sample mean)
        assert lo < normal_sample.mean() < hi
        assert hi - lo < 2.0  # tight at n=2000
        lo_s, hi_s = ci["scale"]
        assert lo_s < normal_sample.std() < hi_s

    def test_local_matches_distributed_shape(self, normal_sample):
        ci = bootstrap_ci_local("norm", normal_sample, n_resamples=50)
        assert set(ci) == {"loc", "scale"}
        lo, hi = ci["loc"]
        assert lo < hi

    def test_deterministic_given_seed(self, spark, normal_sample):
        a = bootstrap_ci(spark, "norm", normal_sample, n_resamples=100, seed=7)
        b = bootstrap_ci(spark, "norm", normal_sample, n_resamples=100, seed=7)
        assert a == b

    def test_confidence_width_ordering(self, normal_sample):
        narrow = bootstrap_ci_local(
            "norm", normal_sample, n_resamples=100, confidence=0.5
        )
        wide = bootstrap_ci_local(
            "norm", normal_sample, n_resamples=100, confidence=0.99
        )
        assert (
            wide["loc"][1] - wide["loc"][0]
            > narrow["loc"][1] - narrow["loc"][0]
        )

    def test_rejects_degenerate_input(self):
        with pytest.raises(ValueError):
            bootstrap_ci_local("norm", np.array([1.0]))

    def test_result_method_end_to_end(self, spark):
        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(42)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.normal(20.0, 4.0, 3000)})
        )
        best = DistributionFitter(spark).fit(
            df, column="v", distributions=["norm"]
        ).best(1, metric="sse")
        ci = best.confidence_intervals(spark, n_resamples=100)
        assert ci["loc"][0] < 20.0 < ci["loc"][1]
        ci_local = best.confidence_intervals(n_resamples=50)
        assert ci_local["loc"][0] < ci_local["loc"][1]


class TestProgressTracker:
    def test_callback_sees_completion(self, spark):
        seen = []

        def cb(completed, total, elapsed):
            seen.append((completed, total))

        tracker = ProgressTracker(spark, callback=cb, poll_interval=0.02)
        with tracker.track("test job"):
            spark.range(0, 1_000_000, 1, 8).selectExpr(
                "sum(id)"
            ).collect()
        # polling is best-effort; job may finish before first poll,
        # but tracker must stop cleanly and never raise
        assert tracker._thread is None
        for completed, total in seen:
            assert 0 <= completed <= total

    def test_start_stop_idempotent(self, spark):
        t = ProgressTracker(spark)
        t.start()
        t.stop()
        t.stop()  # second stop is a no-op

    @pytest.mark.parametrize("kind", ["grouped", "censored", "discrete"])
    def test_every_fit_kind_reports_progress(self, spark, kind):
        """The fan-out's one collect runs under the tracker for grouped,
        censored and discrete fits too, not only for ``fit()``."""
        from spark_bestfit_spark.fitter import (
            DiscreteDistributionFitter,
            DistributionFitter,
        )

        rng = np.random.default_rng(8)
        n = 3000
        df = spark.createDataFrame(pd.DataFrame({
            "v": rng.gamma(2.0, 3.0, n),
            "k": rng.poisson(4.0, n).astype(float),
            "g": rng.integers(0, 3, n),
            "obs": rng.random(n) < 0.7,
        }))
        seen = []
        kw = {"progress_callback": lambda *a: seen.append(a)}
        names = ["expon", "gamma", "lognorm", "weibull_min", "norm"]
        if kind == "grouped":
            res = DistributionFitter(spark).fit_grouped(
                df, "v", "g", distributions=names, **kw
            )
        elif kind == "censored":
            res = DistributionFitter(spark).fit(
                df, column="v", distributions=names,
                censoring_column="obs", **kw
            )
        else:
            res = DiscreteDistributionFitter(spark).fit(
                df, column="k", distributions=["poisson", "geom", "nbinom"],
                **kw
            )
        assert res.count() > 0
        assert seen, kind
        for completed, total, _ in seen:
            assert 0 <= completed <= total

    def test_fit_with_progress_keeps_callers_job_group(self, spark):
        from spark_bestfit_spark.fitter import DistributionFitter

        sc = spark.sparkContext
        df = spark.createDataFrame(
            pd.DataFrame({"v": np.random.default_rng(3).normal(size=2000)})
        )
        sc.setJobGroup("caller-progress", "caller job")
        try:
            DistributionFitter(spark).fit(
                df, column="v", distributions=["norm", "expon"],
                progress_callback=lambda *a: None,
            ).unpersist()
            assert sc.getLocalProperty("spark.jobGroup.id") == (
                "caller-progress"
            )
            assert sc.getLocalProperty("spark.job.description") == (
                "caller job"
            )
        finally:
            sc.setJobGroup(None, None)


class TestPlottingHelpers:
    @pytest.fixture(scope="class")
    def fitted(self, spark):
        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(42)
        self_data = rng.normal(0.0, 1.0, 4000)
        df = spark.createDataFrame(pd.DataFrame({"v": self_data}))
        res = DistributionFitter(spark).fit(
            df, column="v", distributions=["norm"]
        ).best(1, metric="sse")
        return res, self_data

    def test_blom_positions(self):
        p = plotting.blom_positions(10)
        assert p.shape == (10,)
        assert 0 < p[0] < p[-1] < 1
        assert np.allclose(p[0], 0.625 / 10.25)

    def test_qq_data_near_diagonal(self, fitted):
        res, data = fitted
        theo, ordered = qq = plotting.qq_data(res, data)
        # middle quantiles should sit near the diagonal for a good fit
        mid = slice(len(theo) // 4, 3 * len(theo) // 4)
        assert np.corrcoef(theo[mid], ordered[mid])[0, 1] > 0.99

    def test_pp_data_in_unit_square(self, fitted):
        res, data = fitted
        theo, emp = plotting.pp_data(res, data)
        assert theo.min() >= 0 and theo.max() <= 1
        assert np.max(np.abs(theo - emp)) < 0.05

    def test_residual_data_small_for_good_fit(self, fitted, spark):
        res, data = fitted
        density, edges = np.histogram(data, bins=40, density=True)
        resid = plotting.residual_data(res, density, edges)
        assert resid.shape == (40,)
        assert np.max(np.abs(resid)) < 0.08

    def test_cdf_comparison_data(self, fitted):
        res, data = fitted
        grid, model, ex, ey = plotting.cdf_comparison_data(res, data)
        assert np.all(np.diff(model) >= 0)
        assert ey[-1] == pytest.approx(1.0)

    def test_plot_functions_gated_without_mpl(self, fitted):
        res, data = fitted
        if plotting._HAS_MPL:
            ax = plotting.plot_qq(res, data)
            assert ax is not None
        else:
            with pytest.raises(ImportError, match="matplotlib"):
                plotting.plot_qq(res, data)
            with pytest.raises(ImportError, match="matplotlib"):
                plotting.plot_diagnostics(res, data)
            with pytest.raises(ImportError, match="matplotlib"):
                plotting.plot_comparison([res], data)
            with pytest.raises(ImportError, match="matplotlib"):
                plotting.plot_discrete_distribution(res, data)

    def test_comparison_data_shared_grid(self, spark):
        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(21)
        data = rng.gamma(3.0, 2.0, 4000)
        df = spark.createDataFrame(pd.DataFrame({"v": data}))
        results = DistributionFitter(spark).fit(
            df, column="v", distributions=["gamma", "norm", "lognorm"]
        ).best(n=3, metric="sse")
        grid, curves = plotting.comparison_data(results, data)
        assert set(curves) == {"gamma", "norm", "lognorm"}
        assert grid[0] == pytest.approx(data.min())
        assert grid[-1] == pytest.approx(data.max())
        for pdf in curves.values():
            assert pdf.shape == grid.shape
            assert np.all(np.isfinite(pdf[1:-1]))
        # the generating family dominates the overlay near the mode
        mode_i = int(np.argmax(curves["gamma"]))
        assert curves["gamma"][mode_i] > 0
        with pytest.raises(ValueError, match="at least one"):
            plotting.comparison_data([], data)

    def test_discrete_pmf_data(self, spark):
        from spark_bestfit_spark.fitter import DiscreteDistributionFitter

        rng = np.random.default_rng(22)
        data = rng.poisson(4.0, 3000).astype(float)
        df = spark.createDataFrame(pd.DataFrame({"v": data}))
        res = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["poisson"]
        ).best(1, metric="sse")
        vals, emp, x_range, theo = plotting.discrete_pmf_data(res, data)
        assert emp.sum() == pytest.approx(1.0)
        assert x_range[0] == max(0, vals.min() - 2)
        assert x_range[-1] == vals.max() + 2
        # model PMF tracks the empirical PMF on the observed support
        lut = dict(zip(x_range.tolist(), theo.tolist()))
        err = max(
            abs(lut[int(v)] - e) for v, e in zip(vals.tolist(), emp.tolist())
        )
        assert err < 0.05
        with pytest.raises(ValueError, match="non-empty"):
            plotting.discrete_pmf_data(res, np.array([]))


class TestInstantPlotWrappers:
    """Cache-first plot wrappers (reference 'instant plotting' v2.10):
    the numeric resolution must hit the cached sample with ZERO Spark
    jobs; the render path stays behind the matplotlib gate."""

    @pytest.fixture(scope="class")
    def fit_pack(self, spark):
        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(30)
        data = rng.normal(10.0, 2.0, 4000)
        df = spark.createDataFrame(pd.DataFrame({"v": data}))
        fitter = DistributionFitter(spark)
        results = fitter.fit(
            df, column="v", distributions=["norm", "expon", "uniform"]
        )
        return fitter, results, df

    def test_fitter_plot_data_uses_cached_sample(self, spark, fit_pack):
        fitter, results, df = fit_pack
        best = results.best(1, metric="sse")
        sc = spark.sparkContext
        sc.setJobGroup("plot-cache-probe", "instant plotting must be free")
        try:
            data, density, edges = fitter._plot_data(
                best, None, None, 50, False
            )
        finally:
            sc.setJobGroup("default", "")
        jobs = sc.statusTracker().getJobIdsForGroup("plot-cache-probe")
        assert len(jobs) == 0  # NO Spark job: the cached sample is hit
        assert data is not None and density is None
        np.testing.assert_array_equal(data, best._sample)

    def test_fitter_plot_data_force_recompute(self, fit_pack):
        fitter, results, df = fit_pack
        best = results.best(1, metric="sse")
        data, density, edges = fitter._plot_data(
            best, df, "v", 40, True
        )
        assert data is None
        assert len(density) == 40 and len(edges) == 41
        # density integrates to ~1 like any histogram density
        assert float(np.sum(density * np.diff(edges))) == pytest.approx(
            1.0, rel=1e-6
        )
        with pytest.raises(ValueError, match="cached sample"):
            fitter._plot_data(best, None, None, 40, True)

    def test_df_with_cached_sample_warns_and_uses_cache(self, fit_pack):
        """Reference v3.0.3 contract: passing df while a cached sample
        exists emits FutureWarning and still uses the cache (no Spark
        evaluation); force_recompute=True opts into df."""
        import warnings as W

        fitter, results, df = fit_pack
        best = results.best(1, metric="sse")
        with pytest.warns(FutureWarning, match="cached fitting sample"):
            data, density, edges = fitter._plot_data(
                best, df, "v", 50, False
            )
        assert data is not None and density is None
        with W.catch_warnings():
            W.simplefilter("error", FutureWarning)
            # no warning when df is omitted or recompute is explicit
            fitter._plot_data(best, None, None, 50, False)
            fitter._plot_data(best, df, "v", 30, True)
        with pytest.warns(FutureWarning, match="cached fitting sample"):
            fitter._plot_sample(best, df, "v", False)

    def test_fallback_sample_reads_valid_values_only(self, spark, fit_pack):
        """Without a cached sample the point-wise plots read the source
        column's valid values only: ±inf, NaN and null stay out of the
        Q-Q / P-P / comparison data."""
        fitter, results, _ = fit_pack
        best = results.best(1, metric="sse")
        inf = float("inf")
        df = spark.createDataFrame(
            [(v,) for v in (1.0, 2.0, inf, -inf, float("nan"), 3.0, None)],
            "v double",
        )
        data = fitter._plot_sample(best, df, "v", True)
        assert sorted(data.tolist()) == [1.0, 2.0, 3.0]

    def test_results_plot_target_cache_first(self, fit_pack):
        _, results, _ = fit_pack
        res, sample = results._plot_target(None, "sse")
        assert res.distribution == "norm"
        np.testing.assert_array_equal(
            sample, results._samples[res.column_name]
        )

    def test_wrappers_render_or_gate(self, fit_pack):
        fitter, results, df = fit_pack
        best = results.best(1, metric="sse")
        if plotting._HAS_MPL:
            assert fitter.plot(best) is not None
            assert fitter.plot_comparison(
                results.best(n=2, metric="sse")
            ) is not None
            assert results.plot() is not None
        else:
            with pytest.raises(ImportError, match="matplotlib"):
                fitter.plot(best)
            with pytest.raises(ImportError, match="matplotlib"):
                fitter.plot_qq(best)
            with pytest.raises(ImportError, match="matplotlib"):
                results.plot_comparison(n=2)
            with pytest.raises(ImportError, match="matplotlib"):
                results.plot_diagnostics()

    def test_comparison_column_none_restricts_to_top_column(
        self, spark, monkeypatch
    ):
        """ADVICE r6: plot_comparison(column=None) on a multi-column
        result must never overlay fits of different source columns on
        one sample — the overlay is restricted to the top result's
        column (capture the selected results by stubbing the renderer,
        so this runs with or without matplotlib)."""
        from spark_bestfit_spark import plotting as P
        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(7)
        df = spark.createDataFrame(
            pd.DataFrame({
                "a": rng.normal(0.0, 1.0, 2000),
                "b": rng.exponential(5.0, 2000),
            })
        )
        results = DistributionFitter(spark).fit(
            df, columns=["a", "b"],
            distributions=["norm", "expon", "uniform"],
        )
        captured = {}

        def _fake(results_list, data, **kwargs):
            captured["results"] = list(results_list)
            captured["n_data"] = len(data)
            return "rendered"

        monkeypatch.setattr(P, "plot_comparison", _fake)
        assert results.plot_comparison(n=3) == "rendered"
        cols = {r.column_name for r in captured["results"]}
        assert len(cols) == 1  # never mixes source columns
        top_col = results.best(1, metric="sse").column_name
        assert cols == {top_col}
        # still a real comparison: more than one candidate overlaid,
        # on the top column's own cached sample
        assert len(captured["results"]) >= 2
        assert captured["n_data"] == len(results._samples[top_col])
        # explicit column= still honored
        results.plot_comparison(n=2, column="b")
        assert {r.column_name for r in captured["results"]} == {"b"}

    def test_discrete_plot_wrapper_gated(self, spark):
        from spark_bestfit_spark.fitter import DiscreteDistributionFitter

        rng = np.random.default_rng(31)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.poisson(3.0, 1000).astype(float)})
        )
        f = DiscreteDistributionFitter(spark)
        best = f.fit(df, column="v", distributions=["poisson"]).best(
            1, metric="sse"
        )
        assert best._sample is not None
        if plotting._HAS_MPL:
            assert f.plot(best) is not None
        else:
            with pytest.raises(ImportError, match="matplotlib"):
                f.plot(best)


@pytest.mark.skipif(
    not plotting._HAS_MPL,
    reason="matplotlib not installed — rendering tests activate wherever "
    "it exists (mirrors the PIL gate in multimodal)",
)
class TestPlottingRendered:
    """Figure-rendering coverage, auto-skipped without matplotlib: every
    figure function must produce a non-empty Agg canvas (reference ships
    8 rendered-figure functions, plotting.py:281-1127)."""

    @pytest.fixture(scope="class")
    def fitted(self, spark):
        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(42)
        data = rng.normal(0.0, 1.0, 4000)
        df = spark.createDataFrame(pd.DataFrame({"v": data}))
        res = DistributionFitter(spark).fit(
            df, column="v", distributions=["norm"]
        ).best(1, metric="sse")
        return res, data

    def _png_bytes(self, fig):
        import io

        buf = io.BytesIO()
        fig.savefig(buf, format="png")
        return buf.getvalue()

    def test_each_figure_renders_to_png(self, fitted):
        import matplotlib.pyplot as plt

        res, data = fitted
        density, edges = np.histogram(data, bins=40, density=True)
        expect = [
            (plotting.plot_distribution(res, data), "Density"),
            (plotting.plot_qq(res, data), "Sample Quantiles"),
            (plotting.plot_pp(res, data), "Empirical"),
            (plotting.plot_cdf_comparison(res, data), "Cumulative"),
            (plotting.plot_residual_histogram(res, density, edges),
             "Residual"),
        ]
        for ax, ylabel_frag in expect:
            png = self._png_bytes(ax.figure)
            assert png[:8] == b"\x89PNG\r\n\x1a\n" and len(png) > 1000
            assert ylabel_frag.lower() in ax.get_ylabel().lower(), (
                ylabel_frag, ax.get_ylabel()
            )
        plt.close("all")

    def test_comparison_overlay_renders(self, spark):
        import matplotlib.pyplot as plt

        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(5)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.gamma(3.0, 2.0, 3000)})
        )
        results = DistributionFitter(spark).fit(
            df, column="v", distributions=["gamma", "lognorm", "norm"]
        )
        ax = plotting.plot_comparison(
            results.best(n=3, metric="sse"),
            results._samples["v"],
        )
        # one histogram + one line per overlaid fit, all legended
        assert len(ax.get_lines()) == 3
        labels = [t.get_text() for t in ax.get_legend().get_texts()]
        assert any("gamma" in lb for lb in labels)
        assert len(self._png_bytes(ax.figure)) > 1000
        plt.close("all")

    def test_discrete_figure_renders(self, spark):
        import matplotlib.pyplot as plt

        from spark_bestfit_spark.fitter import DiscreteDistributionFitter

        rng = np.random.default_rng(13)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.poisson(4.0, 2000).astype(float)})
        )
        best = DiscreteDistributionFitter(spark).fit(
            df, column="v", distributions=["poisson"]
        ).best(1, metric="sse")
        ax = plotting.plot_discrete_distribution(best, best._sample)
        assert "probability" in ax.get_ylabel().lower()
        assert len(self._png_bytes(ax.figure)) > 1000
        plt.close("all")

    def test_diagnostics_panel_has_four_axes(self, fitted):
        import matplotlib.pyplot as plt

        res, data = fitted
        fig = plotting.plot_diagnostics(res, data)
        assert len(fig.get_axes()) == 4
        assert len(self._png_bytes(fig)) > 1000
        plt.close("all")


class TestPoissonBootstrap:
    """One-pass distributed bootstrap (Poisson weights from the
    portable hash): deterministic, partition-invariant, CI covers the
    truth, weights genuinely Poisson(1)-shaped."""

    def test_deterministic_and_partition_invariant(self, spark):
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.bootstrap import (
            poisson_bootstrap_means,
        )

        df = spark.range(0, 2000).select(
            F.col("id").alias("row_id"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        a = sorted(map(tuple, poisson_bootstrap_means(
            df, "v", "row_id", n_replicates=20).collect()))
        b = sorted(map(tuple, poisson_bootstrap_means(
            df.repartition(13), "v", "row_id", n_replicates=20
        ).collect()))
        assert a == b
        assert len(a) == 20
        # resample sizes concentrate near n (Poisson(1) sum ~ n)
        for _, n_eff, _ in a:
            assert 1800 <= n_eff <= 2200

    def test_ci_covers_true_mean(self, spark):
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.bootstrap import (
            poisson_bootstrap_ci,
        )

        df = spark.range(0, 5000).select(
            F.col("id").alias("row_id"),
            (F.col("id") % 100).cast("double").alias("v"),
        )
        ci = poisson_bootstrap_ci(
            df, "v", "row_id", n_replicates=100
        )
        assert ci["lower"] <= 49.5 <= ci["upper"]
        assert ci["upper"] - ci["lower"] < 5.0  # sane width at n=5000
        assert ci["n_replicates"] == 100

    def test_shuffle_carries_only_replicates(self, spark):
        """Map-side combine: the exchange is keyed on replicate, so
        the shuffled relation is partitions x B, never n x B."""
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.bootstrap import (
            poisson_bootstrap_means,
        )

        df = spark.range(0, 1000).select(
            F.col("id").alias("row_id"),
            F.col("id").cast("double").alias("v"),
        )
        plan = (
            poisson_bootstrap_means(df, "v", "row_id", 10)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1
        assert "partial" in plan.lower()  # map-side partial aggregate

    def test_validation(self, spark):
        import pyspark.sql.functions as F
        import pytest as _pt

        from spark_bestfit_spark.operators.bootstrap import (
            poisson_bootstrap_means,
        )

        df = spark.range(3).select(
            F.col("id").alias("row_id"),
            F.col("id").cast("double").alias("v"),
        )
        with _pt.raises(ValueError, match="n_replicates"):
            poisson_bootstrap_means(df, "v", "row_id", 1)
