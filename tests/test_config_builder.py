"""Tests for the fluent FitterConfig builder and progress wiring."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spark_bestfit_spark.plans.config import FitterConfig


class TestBuilder:
    def test_fields_settable(self):
        cfg = (
            FitterConfig.builder()
            .with_bins(100)
            .with_lazy_metrics()
            .with_estimation_method("mse")
            .with_random_seed(7)
            .with_max_distributions(12)
            .build()
        )
        assert cfg.bins == 100
        assert cfg.lazy_metrics is True
        assert cfg.estimation_method == "mse"
        assert cfg.random_seed == 7
        assert cfg.max_distributions == 12

    def test_with_bounds(self):
        cfg = FitterConfig.builder().with_bounds(1.0, 9.0).build()
        assert cfg.lower_bound == 1.0 and cfg.upper_bound == 9.0

    def test_unknown_field_rejected(self):
        with pytest.raises(AttributeError, match="no field"):
            FitterConfig.builder().with_nope(1)

    @pytest.mark.parametrize(
        "name", ["max_sample_size", "stratified_bins", "max_sample_fraction"]
    )
    def test_unread_sampling_fields_are_gone(self, name):
        """No code read these three; setting one now raises instead of
        being silently ignored."""
        with pytest.raises(TypeError):
            FitterConfig(**{name: 1})
        with pytest.raises(AttributeError, match="no field"):
            getattr(FitterConfig.builder(), f"with_{name}")(1)

    def test_build_validates(self):
        with pytest.raises(ValueError):
            FitterConfig.builder().with_bins(0).build()
        with pytest.raises(ValueError):
            FitterConfig.builder().with_bounds(5.0, 1.0).build()

    def test_defaults_preserved(self):
        cfg = FitterConfig.builder().build()
        assert cfg == FitterConfig()


class TestProgressWiring:
    def test_callback_invoked_during_fit(self, spark):
        from spark_bestfit_spark.fitter import DistributionFitter

        seen = []
        df = spark.createDataFrame(
            pd.DataFrame({"v": np.random.default_rng(0).normal(0, 1, 4000)})
        )
        res = DistributionFitter(spark).fit(
            df, column="v",
            distributions=["norm", "gamma", "lognorm", "uniform", "expon"],
            progress_callback=lambda c, t, e: seen.append((c, t, e)),
        )
        assert res.count() == 5
        # polling is time-based; at minimum the tracker ran and stopped
        for c, t, e in seen:
            assert 0 <= c <= t
            assert e >= 0
