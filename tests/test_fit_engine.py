"""End-to-end engine tests: DistributionFitter + FitResults."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spark_bestfit_spark.fitter import DistributionFitter
from spark_bestfit_spark.plans.config import FitterConfig
from spark_bestfit_spark.results import DistributionFitResult

CORE = ["norm", "expon", "gamma", "lognorm", "uniform"]


@pytest.fixture(scope="module")
def fitter(spark):
    return DistributionFitter(spark)


@pytest.fixture(scope="module")
def normal_results(spark):
    data = np.random.default_rng(42).normal(50.0, 10.0, 10_000)
    df = spark.createDataFrame(pd.DataFrame({"value": data}))
    return DistributionFitter(spark).fit(
        df, column="value", distributions=CORE
    )


class TestFitHappyPath:
    def test_norm_wins_on_normal_data(self, normal_results):
        best = normal_results.best(1, metric="ks_statistic")
        assert best.distribution == "norm"
        assert best.parameters[0] == pytest.approx(50.0, rel=0.05)
        assert best.parameters[1] == pytest.approx(10.0, rel=0.05)
        assert best.ks_statistic < 0.02

    def test_result_count(self, normal_results):
        assert normal_results.count() == len(CORE)

    def test_metrics_populated(self, normal_results):
        best = normal_results.best(1, metric="aic")
        assert np.isfinite(best.aic) and np.isfinite(best.bic)
        assert best.pvalue is not None
        assert best.ad_statistic is not None
        assert best.data_count == 10_000

    def test_best_n_ordering(self, normal_results):
        top = normal_results.best(3, metric="sse")
        sses = [r.sse for r in top]
        assert sses == sorted(sses)

    def test_invalid_metric_raises(self, normal_results):
        with pytest.raises(ValueError, match="invalid metric"):
            normal_results.best(1, metric="bogus")

    def test_model_roundtrip(self, normal_results):
        best = normal_results.best(1, metric="ks_statistic")
        x = best.sample(1000, random_state=7)
        assert x.mean() == pytest.approx(50.0, abs=2.0)
        q = best.cdf(best.ppf(np.array([0.25, 0.5, 0.75])))
        np.testing.assert_allclose(q, [0.25, 0.5, 0.75], atol=1e-9)


class TestResultsQueries:
    def test_filter_thresholds(self, normal_results):
        ks_best = normal_results.best(1, metric="ks_statistic").ks_statistic
        filtered = normal_results.filter(max_ks_statistic=ks_best + 1e-12)
        assert filtered.count() >= 1
        assert filtered.count() < len(CORE)

    def test_for_column(self, normal_results):
        sub = normal_results.for_column("value")
        assert sub.count() == normal_results.count()
        assert normal_results.for_column("nope").count() == 0

    def test_summary_shape(self, normal_results):
        s = normal_results.summary()
        assert s["n_fits"] == len(CORE)
        assert s["n_columns"] == 1
        assert s["sse"]["min"] <= s["sse"]["mean"] <= s["sse"]["max"]

    def test_quality_report(self, normal_results):
        rep = normal_results.quality_report(n=3)
        assert len(rep["top_fits"]) >= 2
        assert rep["n_acceptable"] >= 1
        assert rep["summary"]["n_fits"] == len(CORE)

    def test_columns_listing(self, normal_results):
        assert normal_results.columns() == ["value"]


NAN, INF = float("nan"), float("inf")
# column, distribution, sse, aic, bic, ks_statistic, pvalue,
# ad_statistic, ad_pvalue: NaN, +-inf, nulls and exact ties, within and
# across two columns and a null column name
SNAPSHOT_METRICS = [
    ("a", "d1", 0.5, 10.0, 12.0, 0.1, 0.5, 1.0, 0.15),
    ("a", "d2", 0.5, NAN, 12.0, None, 0.5, INF, None),
    ("a", "d3", NAN, -INF, INF, 0.1, NAN, 1.0, 0.01),
    ("a", "d4", INF, 10.0, None, 0.3, 0.0, None, 0.15),
    ("b", "d1", 0.5, 10.0, NAN, 0.1, 0.5, 1.0, NAN),
    ("b", "d2", 0.2, INF, 12.0, NAN, None, -INF, 0.15),
    ("b", "d3", -INF, None, -INF, 0.05, 1.0, 2.0, None),
    ("b", None, 0.2, 10.0, 12.0, 0.1, INF, NAN, 0.15),
    (None, "d1", 0.5, 10.0, 12.0, 0.1, 0.5, 1.0, 0.15),
    (None, "d2", None, 5.0, 12.0, 0.2, NAN, 0.5, -INF),
]


def _nan_safe(v):
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_nan_safe(x) for x in v)
    return v


class TestSnapshotMatchesSpark:
    """Every query on the driver snapshot returns what the Spark
    expression it replaced returns over the same relation: the
    ``orderBy``, the per-column ``row_number`` window, the filter
    predicates and the summary aggregate."""

    @pytest.fixture(scope="class")
    def res(self, spark):
        from spark_bestfit_spark.operators.fit import FIT_RESULT_SCHEMA
        from spark_bestfit_spark.results import FitResults

        rows = [
            (*m[:2], [1.0, 2.0], *m[2:], 0.0, 1.0, 0.5, 0.2, 100.0,
             0.0, 0.0, None, None)
            for m in SNAPSHOT_METRICS
        ]
        return FitResults(
            spark.createDataFrame(rows, schema=FIT_RESULT_SCHEMA)
        )

    @staticmethod
    def _order(metric):
        import pyspark.sql.functions as F

        col = F.col(metric)
        if metric in ("pvalue", "ad_pvalue"):
            return col.desc_nulls_last()
        return col.asc_nulls_last()

    @staticmethod
    def _keys(records):
        return [(r.column_name, r.distribution) for r in records]

    def test_ranking(self, res):
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        from spark_bestfit_spark.results import VALID_METRICS

        for metric in VALID_METRICS:
            for n in (1, 3, len(SNAPSHOT_METRICS)):
                spark_top = res.df.orderBy(
                    self._order(metric), "column_name", "distribution"
                ).limit(n)
                best = res.best(n, metric)
                best = [best] if n == 1 else best
                assert self._keys(best) == self._keys(
                    spark_top.collect()
                ), (metric, n)
                assert [_nan_safe(tuple(r)) for r in
                        res.best_df(n, metric).collect()] == [
                    _nan_safe(tuple(r)) for r in spark_top.collect()
                ], (metric, n)
                w = Window.partitionBy("column_name").orderBy(
                    self._order(metric), F.col("distribution")
                )
                ranked = (
                    res.df.withColumn("_rank", F.row_number().over(w))
                    .filter(F.col("_rank") <= n)
                    .collect()
                )
                ranked.sort(key=lambda r: (
                    r["column_name"] is not None, r["column_name"] or "",
                    r["_rank"],
                ))
                want: dict = {}
                for r in ranked:
                    want.setdefault(r["column_name"], []).append(
                        (r["column_name"], r["distribution"])
                    )
                got = res.best_per_column(n, metric)
                assert list(got) == list(want), (metric, n)
                assert {c: self._keys(v) for c, v in got.items()} == want

    def test_filters_and_reports(self, res):
        import pyspark.sql.functions as F

        df = res.df

        def rows(frame):
            return sorted(
                (_nan_safe(tuple(r)) for r in frame.collect()), key=repr
            )

        thresholds = [
            {"max_sse": 0.5}, {"max_aic": 10.0}, {"max_bic": INF},
            {"max_ks_statistic": 0.1}, {"min_pvalue": 0.5},
            {"max_ad_statistic": NAN}, {"min_pvalue": NAN},
            {"max_sse": 0.5, "min_pvalue": 0.0, "max_ad_statistic": 1.0},
        ]
        ops = {
            "max_sse": ("sse", "<="), "max_aic": ("aic", "<="),
            "max_bic": ("bic", "<="), "max_ks_statistic": (
                "ks_statistic", "<="),
            "min_pvalue": ("pvalue", ">="),
            "max_ad_statistic": ("ad_statistic", "<="),
        }
        for kw in thresholds:
            want = df
            for arg, bound in kw.items():
                col, op = ops[arg]
                c = F.col(col)
                want = want.filter(c <= bound if op == "<=" else c >= bound)
            assert rows(res.filter(**kw).df) == rows(want), kw
        for column in ("a", "b", "zzz"):
            assert rows(res.for_column(column).df) == rows(
                df.filter(F.col("column_name") == F.lit(column))
            ), column
        assert res.columns() == [
            r["column_name"] for r in
            df.select("column_name").filter(F.col("column_name").isNotNull())
            .distinct().orderBy("column_name").collect()
        ]
        for min_p, max_ks in ((0.05, None), (0.5, 0.1), (NAN, None)):
            want = df.filter(F.col("pvalue") >= min_p)
            if max_ks is not None:
                want = want.filter(F.col("ks_statistic") <= max_ks)
            assert res.n_acceptable(min_p, max_ks) == want.count()
        metrics = ("sse", "aic", "bic", "ks_statistic", "pvalue")
        agg = df.agg(
            F.count("*").alias("n"),
            *[f(m).alias(f"{m}_{f.__name__}") for m in metrics
              for f in (F.min, F.mean, F.max)],
        ).first()
        summary = res.summary()
        assert summary["n_fits"] == agg["n"]
        assert summary["n_columns"] == 2
        for m in metrics:
            for stat, f in (("min", "min"), ("max", "max")):
                assert _nan_safe(summary[m][stat]) == _nan_safe(
                    agg[f"{m}_{f}"]
                ), (m, stat)
            got, want = summary[m]["mean"], agg[f"{m}_mean"]
            assert _nan_safe(got) == _nan_safe(want) or got == pytest.approx(
                want, rel=1e-12
            ), m


class TestMultiColumn:
    def test_two_columns_one_fit(self, spark):
        rng = np.random.default_rng(42)
        pdf = pd.DataFrame(
            {"a": rng.normal(0, 1, 4000), "b": rng.exponential(2.0, 4000)}
        )
        df = spark.createDataFrame(pdf)
        res = DistributionFitter(spark).fit(df, columns=["a", "b"], distributions=CORE)
        assert sorted(res.columns()) == ["a", "b"]
        per = res.best_per_column(1, metric="ks_statistic")
        assert per["a"][0].distribution == "norm"
        assert per["b"][0].distribution in ("expon", "gamma")

    def test_best_per_column_rank_width(self, spark):
        rng = np.random.default_rng(1)
        pdf = pd.DataFrame({"a": rng.normal(0, 1, 2000)})
        df = spark.createDataFrame(pdf)
        res = DistributionFitter(spark).fit(df, column="a", distributions=CORE)
        per = res.best_per_column(3, metric="aic")
        assert len(per["a"]) == 3


class TestEdgeCases:
    def test_missing_column_raises(self, spark, fitter):
        df = spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0]}))
        with pytest.raises(ValueError, match="not found"):
            fitter.fit(df, column="y", distributions=CORE)

    def test_non_numeric_column_raises(self, spark, fitter):
        df = spark.createDataFrame(pd.DataFrame({"s": ["a", "b"]}))
        with pytest.raises(TypeError, match="non-numeric"):
            fitter.fit(df, column="s", distributions=CORE)

    def test_all_nan_column_empty_results(self, spark, fitter):
        pdf = pd.DataFrame({"v": np.full(100, np.nan)})
        df = spark.createDataFrame(pdf)
        res = fitter.fit(df, column="v", distributions=CORE)
        assert res.count() == 0

    def test_constant_column_does_not_raise(self, spark, fitter):
        df = spark.createDataFrame(pd.DataFrame({"v": [5.0] * 500}))
        res = fitter.fit(df, column="v", distributions=CORE)
        # degenerate single-bin histogram; fits may fail -> sentinel-filtered
        assert res.count() >= 0

    def test_nan_mixed_column(self, spark, fitter):
        rng = np.random.default_rng(3)
        vals = rng.normal(10, 2, 1000)
        vals[::10] = np.nan
        df = spark.createDataFrame(pd.DataFrame({"v": vals}))
        res = fitter.fit(df, column="v", distributions=CORE)
        best = res.best(1, metric="ks_statistic")
        assert best.distribution == "norm"
        assert best.data_count == 900

    def test_lazy_metrics_nulls(self, spark, fitter):
        rng = np.random.default_rng(4)
        df = spark.createDataFrame(
            pd.DataFrame({"v": rng.normal(0, 1, 2000)})
        )
        res = fitter.fit(
            df, column="v", distributions=CORE, lazy_metrics=True
        )
        row = res.df.filter("distribution = 'norm'").first()
        assert row["ks_statistic"] is None
        assert np.isfinite(row["aic"])


class TestSerialization:
    def test_json_roundtrip(self, normal_results, tmp_path):
        best = normal_results.best(1, metric="sse")
        p = str(tmp_path / "model.json")
        best.save(p, format="json")
        loaded = DistributionFitResult.load(p)
        assert loaded.distribution == best.distribution
        assert loaded.parameters == pytest.approx(best.parameters)
        assert loaded.sse == pytest.approx(best.sse)

    def test_pickle_roundtrip(self, normal_results, tmp_path):
        best = normal_results.best(1, metric="sse")
        p = str(tmp_path / "model.pkl")
        best.save(p, format="pickle")
        loaded = DistributionFitResult.load(p, format="pickle")
        assert loaded.distribution == best.distribution

    def test_bad_format_raises(self, normal_results, tmp_path):
        best = normal_results.best(1, metric="sse")
        with pytest.raises(ValueError, match="unknown format"):
            best.save(str(tmp_path / "x"), format="yaml")

    def test_load_v10_fixture(self, tmp_path):
        """Schema v1.0 artifact (pre-1.1: no lower/upper_bound keys —
        reference serialization.py:21-22) must load and be usable."""
        import json

        v10 = {
            "schema_version": "1.0",
            "column_name": "v",
            "distribution": "norm",
            "parameters": [2.0, 3.0],
            "sse": 0.0125,
            "aic": 110.5,
            "bic": 115.25,
            "ks_statistic": 0.04,
            "pvalue": 0.61,
        }
        p = str(tmp_path / "v10.json")
        with open(p, "w") as f:
            json.dump(v10, f)
        m = DistributionFitResult.load(p)
        assert m.distribution == "norm"
        assert m.lower_bound is None and m.upper_bound is None
        assert m.sse == pytest.approx(0.0125)
        # the model must be executable, not just parseable
        assert m.cdf(2.0) == pytest.approx(0.5)
        assert m.ppf(0.5) == pytest.approx(2.0)

    def test_load_nested_metrics_layout(self, tmp_path):
        """The reference's nested {"metrics": {...}} JSON layout
        (serialization.py:85-140 supports both) must load too."""
        import json

        nested = {
            "schema_version": "1.1",
            "distribution": "expon",
            "parameters": [0.0, 2.0],
            "metrics": {"sse": 0.002, "aic": 90.0, "ks_statistic": 0.03},
            "data_min": 0.001,
            "data_max": 14.2,
        }
        p = str(tmp_path / "nested.json")
        with open(p, "w") as f:
            json.dump(nested, f)
        m = DistributionFitResult.load(p)
        assert m.aic == pytest.approx(90.0)
        assert m.ks_statistic == pytest.approx(0.03)
        assert m.column_name is None
        assert m.cdf(0.0) == pytest.approx(0.0)

    def test_load_future_schema_ignores_unknown_fields(self, tmp_path):
        """Forward compatibility: a newer-schema payload with unknown
        fields loads, keeping every known field."""
        import json

        future = {
            "schema_version": "9.9",
            "column_name": "x",
            "distribution": "uniform",
            "parameters": [0.0, 1.0],
            "sse": 0.1,
            "brand_new_field": {"anything": [1, 2, 3]},
            "another_unknown": "zzz",
        }
        p = str(tmp_path / "future.json")
        with open(p, "w") as f:
            json.dump(future, f)
        m = DistributionFitResult.load(p)
        assert m.distribution == "uniform"
        assert m.sse == pytest.approx(0.1)

    def test_load_missing_required_raises(self, tmp_path):
        import json

        p = str(tmp_path / "bad.json")
        with open(p, "w") as f:
            json.dump({"schema_version": "1.1", "distribution": "norm"}, f)
        with pytest.raises(ValueError, match="required"):
            DistributionFitResult.load(p)


class TestPandasInput:
    """Duck-typed input contract (reference base_fitter.py:560-611):
    pandas DataFrames are accepted directly and converted internally."""

    def test_pandas_input_end_to_end(self, spark):
        data = np.random.default_rng(7).normal(20.0, 4.0, 5_000)
        pdf = pd.DataFrame({"value": data})
        res = DistributionFitter(spark).fit(
            pdf, column="value", distributions=CORE
        )
        rows = {r["distribution"]: r for r in res.df.collect()}
        assert set(rows) == set(CORE)
        # the normal row recovers the generating parameters; the overall
        # winner may be lognorm (a high-loc lognorm mimics a normal)
        norm_row = rows["norm"]
        assert norm_row["parameters"][0] == pytest.approx(20.0, rel=0.05)
        assert norm_row["parameters"][1] == pytest.approx(4.0, rel=0.05)
        assert norm_row["ks_statistic"] < 0.02

    def test_pandas_input_discrete(self, spark):
        from spark_bestfit_spark.fitter import DiscreteDistributionFitter

        data = np.random.default_rng(8).poisson(6.0, 4_000)
        pdf = pd.DataFrame({"k": data})
        res = DiscreteDistributionFitter(spark).fit(
            pdf, column="k", distributions=["poisson", "geom"]
        )
        rows = {r["distribution"] for r in res.df.collect()}
        assert rows == {"poisson", "geom"}

    def test_rejects_unknown_input_type(self, spark):
        with pytest.raises(TypeError, match="Spark or pandas"):
            DistributionFitter(spark).fit(
                {"value": [1, 2, 3]}, column="value"
            )
