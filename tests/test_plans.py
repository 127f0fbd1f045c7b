"""Physical-plan assertions: the properties that make operators scale —
column pruning reaching the parquet scan, filter pushdown, broadcast
joins for small sides, no shuffle in map-only paths — pinned as tests so
a refactor that silently de-optimizes a plan fails CI."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestScanPruning:
    def test_read_table_prunes_columns(self, spark):
        from spark_bestfit_spark.sources.tables import read_table

        df = read_table(
            spark, f"{SF_DIR}/lineitem.parquet",
            columns=["l_extendedprice", "l_quantity"],
        )
        plan = _physical(df)
        assert "l_extendedprice" in plan
        assert "l_comment" not in plan  # pruned at the scan

    def test_filter_pushdown_reaches_scan(self, spark):
        import pyspark.sql.functions as F

        df = (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") < 100)
            .select("doc_id")
        )
        plan = _physical(df)
        assert "PushedFilters" in plan
        assert "LessThan(doc_id,100)" in plan.replace(" ", "")

    def test_bounded_fit_filter_is_pushed(self, spark):
        """The bounded-fitting range restriction must reach the scan."""
        import pyspark.sql.functions as F

        df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        src = df.filter(F.col("l_extendedprice") >= 2000.0).filter(
            F.col("l_extendedprice") <= 50000.0
        ).select("l_extendedprice")
        plan = _physical(src)
        assert "GreaterThanOrEqual(l_extendedprice,2000.0)" in plan.replace(
            " ", ""
        )


class TestJoinStrategies:
    def test_exact_dedup_has_no_join_and_one_exchange(self, spark):
        """The keeper set is corpus-sized (one row per distinct doc);
        any join against it — and especially a forced broadcast — is a
        100 TB scale hazard. The window form keeps the winner inside
        the single fingerprint exchange."""
        from spark_bestfit_spark.operators.dedup import exact_dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = _physical(exact_dedup(docs))
        assert "Join" not in plan  # no BroadcastHashJoin / SortMergeJoin
        assert plan.count("Exchange") == 1

    def test_decontaminate_broadcasts_probes(self, spark):
        from spark_bestfit_spark.operators.curation import (
            decontaminate_by_ngrams,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        probes = spark.createDataFrame([("a b c",)], "ngram string")
        clean, _ = decontaminate_by_ngrams(docs, probes)
        plan = _physical(clean)
        assert "BroadcastHashJoin" in plan


class TestMapOnlyPaths:
    def test_generation_has_no_shuffle(self, spark):
        from spark_bestfit_spark.operators.generate import (
            sample_distribution,
        )

        df = sample_distribution(
            spark, "gamma", (2.0, 0.0, 2.0), 10_000, num_partitions=4
        )
        plan = _physical(df)
        assert "Exchange" not in plan  # pure map-only generation

    def test_scoring_has_no_shuffle(self, spark):
        from spark_bestfit_spark.operators.score import score_column

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        scored = score_column(li, "l_quantity", "norm", (25.0, 14.0))
        assert "Exchange" not in _physical(scored)

    def test_exact_ks_has_no_global_sort(self, spark):
        """The exact K-S window must be HASH-partitioned by bucket — a
        single-partition global sort here is the 100 TB scale-killer the
        two-phase prefix sum exists to avoid."""
        from spark_bestfit_spark.operators.stats import two_sample_ks_df

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        a = li.filter("l_returnflag = 'A'")
        n = li.filter("l_returnflag = 'N'")
        exact_row = two_sample_ks_df(a, n, "l_quantity", exact=True)
        plan = _physical(exact_row)
        assert "Window" in plan
        # the window's required ordering is satisfied per-bucket: the
        # exchange feeding it hashes on bk, and no Sort in the plan is
        # global (physical Sort prints "..., <global>, 0")
        assert "hashpartitioning(bk" in plan
        # plan text is parent-first: the first Exchange BELOW the Window
        # node (its input) must be the hash exchange on bk, never a
        # SinglePartition exchange of the data-sized relation
        below_window = plan.split("Window")[-1]
        first_exchange = below_window.split("Exchange", 1)[1]
        assert first_exchange.lstrip().startswith("hashpartitioning(bk")

    def test_training_shards_window_is_hash_partitioned(self, spark):
        """The shard cumsum must run as a per-bucket window fed by a
        hash exchange on _bk — the same two-phase prefix-sum shape as
        exact K-S; a SinglePartition window here dies at 100 TB."""
        from spark_bestfit_spark.operators.curation import (
            assign_training_shards,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = assign_training_shards(docs, tokens_per_shard=2000)
        plan = _physical(out)
        assert "Window" in plan
        assert "hashpartitioning(_bk" in plan
        below_window = plan.split("Window")[-1]
        first_exchange = below_window.split("Exchange", 1)[1]
        assert first_exchange.lstrip().startswith("hashpartitioning(_bk")

    def test_grid_ks_avoids_global_window(self, spark):
        from spark_bestfit_spark.operators.stats import two_sample_ks_df

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        a = li.filter("l_returnflag = 'A'")
        n = li.filter("l_returnflag = 'N'")
        # grid path materializes through groupBy counts only — the
        # returned relation is a local one-row DataFrame, no Window ran
        grid_row = two_sample_ks_df(
            a, n, "l_quantity", exact=False, grid_size=64
        )
        assert "Window" not in _physical(grid_row)


class TestAggregationShape:
    def test_multi_stats_single_aggregate(self, spark):
        """C columns of stats must stay ONE aggregate over ONE scan."""
        from spark_bestfit_spark.operators.stats import multi_column_stats

        # plan inspection needs the DataFrame, so rebuild the agg the
        # operator runs (same exprs) and check it collapses
        import pyspark.sql.functions as F

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        cols = ["l_quantity", "l_extendedprice", "l_discount"]
        aggs = []
        for c in cols:
            aggs += [F.min(c), F.max(c), F.count(c)]
        plan = _physical(li.agg(*aggs))
        assert plan.count("Scan parquet") == 1
        assert plan.count("HashAggregate") <= 2  # partial + final


class TestJobCount:
    """Guard the fit prelude's job economy (SURVEY O-series).

    Absolute job counts are brittle under AQE (a shuffle query can
    materialize as several jobs), so the durable invariants are
    relational: fitting C columns must cost the same number of driver
    jobs as fitting one (batched planning), and the count must stay in
    the same small band (catches accidental eager actions like a stray
    .count() sneaking into an operator).
    """

    @staticmethod
    def _jobs_during(spark, fn):
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        sc.setJobGroup("jobcount-marker", "marker")
        spark.range(1).count()
        sc.setJobGroup(None, None)
        before = max(tracker.getJobIdsForGroup("jobcount-marker"))
        fn()
        sc.setJobGroup("jobcount-marker", "marker")
        spark.range(1).count()
        sc.setJobGroup(None, None)
        after = max(tracker.getJobIdsForGroup("jobcount-marker"))
        return after - before - 1

    def test_fit_job_count_independent_of_columns(self, spark):
        import numpy as np
        import pandas as pd

        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(7)
        n = 20_000  # > fitting_sample_size so the full prelude runs
        pdf = pd.DataFrame(
            {
                "a": rng.gamma(2.0, 3.0, n),
                "b": rng.normal(10.0, 2.0, n),
                "c": rng.exponential(4.0, n),
            }
        )
        df = spark.createDataFrame(pdf).repartition(4).cache()
        df.count()
        fitter = DistributionFitter(spark)
        dists = ["norm", "gamma", "expon"]

        def fit_one():
            r = fitter.fit(df, column="a", distributions=dists,
                           lazy_metrics=True)
            r.count()
            r.unpersist()

        def fit_three():
            r = fitter.fit(df, columns=["a", "b", "c"],
                           distributions=dists, lazy_metrics=True)
            r.count()
            r.unpersist()

        fit_one()  # warm codegen/broadcast paths out of the measurement
        j1 = self._jobs_during(spark, fit_one)
        j3 = self._jobs_during(spark, fit_three)
        # batched planning: stats/sample/histogram/fan-out are all ONE
        # job each regardless of column count
        assert j3 == j1, (j1, j3)
        # absolute band: probe + stats + sample + histogram + fan-out,
        # each at most ~2 physical jobs under AQE/Arrow
        assert j1 <= 12, j1
        df.unpersist()

    def test_censored_fit_plans_all_columns_together(self, spark):
        """A censored fit runs one stats job, one histogram job and one
        sample job (values with their event masks) for all its columns,
        so 1, 2 and 4 columns cost the same number of jobs."""
        import numpy as np
        import pandas as pd

        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(9)
        n = 20_000
        df = spark.createDataFrame(pd.DataFrame({
            "a": rng.gamma(2.0, 3.0, n), "b": rng.normal(10.0, 2.0, n),
            "c": rng.exponential(4.0, n), "d": rng.normal(0.0, 1.0, n),
            "obs": rng.random(n) < 0.8,
        })).repartition(4).cache()
        df.count()
        fitter = DistributionFitter(spark)

        def fit(cols):
            return lambda: fitter.fit(
                df, columns=cols, distributions=["norm", "expon"],
                censoring_column="obs", lazy_metrics=True,
            ).count()

        fit(["a"])()  # warm codegen/broadcast paths
        jobs = [
            self._jobs_during(spark, fit(cols))
            for cols in (["a"], ["a", "b"], ["a", "b", "c", "d"])
        ]
        assert jobs[0] == jobs[1] == jobs[2], jobs
        df.unpersist()

    def test_fit_within_target_runs_no_sample_job(self, spark, monkeypatch):
        """A relation within the fitting sample is read by the limit
        probe, so the fit calls no sampler. With the raced stats job
        and the results collect that is at most 4 jobs (the probe may
        scan its partitions in two rounds), for 1 column as for 3."""
        import numpy as np
        import pandas as pd

        from spark_bestfit_spark import fitter as fitter_mod
        from spark_bestfit_spark.fitter import DistributionFitter

        sampled = []
        monkeypatch.setattr(
            fitter_mod, "build_fitting_samples_multi",
            lambda *args, **kwargs: sampled.append(args),
        )

        rng = np.random.default_rng(9)
        n = 5_000
        df = spark.createDataFrame(pd.DataFrame({
            "a": rng.gamma(2.0, 3.0, n), "b": rng.normal(10.0, 2.0, n),
            "c": rng.exponential(4.0, n),
        })).repartition(4).cache()
        df.count()
        fitter = DistributionFitter(spark)

        def fit(cols):
            return lambda: fitter.fit(
                df, columns=cols, distributions=["norm", "expon"],
                lazy_metrics=True,
            ).count()

        fit(["a"])()  # warm codegen/broadcast paths
        j1 = self._jobs_during(spark, fit(["a"]))
        j3 = self._jobs_during(spark, fit(["a", "b", "c"]))
        assert j1 <= 4 and j3 <= 4, (j1, j3)
        assert not sampled
        df.unpersist()

    def test_discrete_prelude_is_the_pmf_job(self, spark, monkeypatch):
        """A discrete fit() runs ONE prelude job, the stacked PMF
        aggregation, for 1 column as for 3, and fit_grouped() two, the
        group counts and the per-group PMFs: the samples come from the
        value counts on the driver. The fan-out is stubbed out, so only
        the prelude is counted, in units of one PMF collect (an
        aggregation can run as two physical jobs under AQE)."""
        import numpy as np
        import pandas as pd

        from spark_bestfit_spark.fitter import DiscreteDistributionFitter
        from spark_bestfit_spark.operators.histogram import (
            empirical_pmfs_multi,
        )

        rng = np.random.default_rng(3)
        n = 20_000  # > fitting_sample_size
        df = spark.createDataFrame(pd.DataFrame({
            "a": rng.poisson(4.0, n), "b": rng.geometric(0.3, n),
            "g": rng.integers(0, 9, n),
        })).repartition(4).cache()
        df.count()
        monkeypatch.setattr(
            DiscreteDistributionFitter, "_fan_out", lambda *a, **k: None
        )
        fitter = DiscreteDistributionFitter(spark)
        overhead = self._jobs_during(spark, lambda: None)

        def jobs(call):
            call()  # warm codegen paths
            return self._jobs_during(spark, call) - overhead

        pmf_job = jobs(lambda: empirical_pmfs_multi(df, ["a"]))
        assert pmf_job >= 1
        assert jobs(lambda: fitter.fit(df, column="a")) == pmf_job
        assert jobs(lambda: fitter.fit(df, columns=["a", "b", "g"])) == (
            pmf_job
        )
        assert jobs(lambda: fitter.fit_grouped(df, "a", "g")) == 2 * pmf_job
        df.unpersist()

    def test_prelude_jobs_stay_in_callers_job_group(self, spark):
        """Every job a fit launches — including the prelude jobs raced
        from helper driver threads — is attributed to the caller's job
        group: the group's job list equals the jobs between markers."""
        import numpy as np
        import pandas as pd

        from spark_bestfit_spark.fitter import (
            DiscreteDistributionFitter,
            DistributionFitter,
        )

        rng = np.random.default_rng(11)
        n = 20_000  # > fitting_sample_size: both race waves run
        pdf = pd.DataFrame(
            {"a": rng.gamma(2.0, 3.0, n), "g": rng.integers(0, 3, n)}
        )
        df = spark.createDataFrame(pdf).repartition(4).cache()
        df.count()
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        fitter = DistributionFitter(spark)
        dists = ["norm", "gamma", "expon"]
        calls = {
            "caller-fit": lambda: fitter.fit(
                df, column="a", distributions=dists, lazy_metrics=True
            ),
            "caller-fit-grouped": lambda: fitter.fit_grouped(
                df, "a", "g", distributions=dists, lazy_metrics=True
            ),
            "caller-discrete-fit-grouped": lambda: (
                DiscreteDistributionFitter(spark).fit_grouped(
                    df, "a", "g", distributions=["poisson", "geom"]
                )
            ),
        }
        # the closing marker's count can itself run more than one job
        # under AQE; an empty measurement calibrates that overhead out
        overhead = self._jobs_during(spark, lambda: None)
        for group, call in calls.items():

            def run():
                sc.setJobGroup(group, "caller")
                try:
                    r = call()
                    r.count()
                    r.unpersist()
                finally:
                    sc.setJobGroup(None, None)

            jobs = self._jobs_during(spark, run) - overhead
            assert jobs > 0
            assert jobs == len(tracker.getJobIdsForGroup(group)), group
        df.unpersist()

    def test_queries_after_fit_run_no_jobs(self, spark):
        """fit() collects its fan-out once; every ranking and report
        call after it reads the driver snapshot and runs no Spark job,
        for stored and for lazily recomputed metrics alike."""
        import numpy as np
        import pandas as pd

        from spark_bestfit_spark.fitter import DistributionFitter

        rng = np.random.default_rng(5)
        df = spark.createDataFrame(pd.DataFrame({
            "a": rng.gamma(2.0, 3.0, 3000), "b": rng.normal(10, 2, 3000),
        }))
        dists = ["norm", "gamma", "expon", "lognorm", "uniform",
                 "logistic", "laplace"]
        overhead = self._jobs_during(spark, lambda: None)
        for lazy in (False, True):
            res = DistributionFitter(spark).fit(
                df, columns=["a", "b"], distributions=dists,
                lazy_metrics=lazy,
            )
            calls = {
                "best": lambda: res.best(3),
                "best ks": lambda: res.best(1, metric="ks_statistic"),
                "best pvalue": lambda: res.best(2, metric="pvalue"),
                "best_per_column": lambda: res.best_per_column(2, "aic"),
                "best_per_column ad": lambda: res.best_per_column(
                    1, "ad_statistic", columns=["b"]
                ),
                "for_column": lambda: res.for_column("a").best(2, "bic"),
                "filter": lambda: res.filter(
                    max_sse=1.0, min_pvalue=0.0
                ).best(1),
                "columns": res.columns,
                "count": res.count,
                "summary": res.summary,
                "n_acceptable": lambda: res.n_acceptable(
                    max_ks_statistic=0.5
                ),
                "quality_report": res.quality_report,
                "materialize": lambda: res.materialize().best(
                    1, metric="ad_statistic"
                ),
                "unpersist": res.unpersist,
            }
            for name, call in calls.items():
                jobs = self._jobs_during(spark, call) - overhead
                assert jobs == 0, (lazy, name, jobs)

    def test_spearman_and_copula_fit_are_one_job(self, spark):
        """The copula's correlation is one collect of the complete rows
        (MLlib's distributed Correlation ran 6 jobs on this table), and
        after fit() the marginals cost no job, so GaussianCopula.fit is
        one job too."""
        import numpy as np
        import pandas as pd

        from spark_bestfit_spark.fitter import DistributionFitter
        from spark_bestfit_spark.models import GaussianCopula
        from spark_bestfit_spark.models.copula import spearman_correlation

        rng = np.random.default_rng(13)
        n = 20_000
        x = rng.normal(0.0, 1.0, n)
        df = spark.createDataFrame(pd.DataFrame({
            "a": np.exp(x), "b": x + rng.normal(0.0, 0.5, n),
            "c": rng.exponential(2.0, n),
        })).repartition(4).cache()
        df.count()
        cols = ["a", "b", "c"]
        res = DistributionFitter(spark).fit(
            df, columns=cols, distributions=["norm", "expon", "lognorm"]
        )
        spearman_correlation(df, cols)  # warm the Arrow collect path
        overhead = self._jobs_during(spark, lambda: None)
        jobs = self._jobs_during(
            spark, lambda: spearman_correlation(df, cols)
        ) - overhead
        assert jobs == 1, jobs
        jobs = self._jobs_during(
            spark, lambda: GaussianCopula.fit(res, df, cols)
        ) - overhead
        assert jobs == 1, jobs
        df.unpersist()

    def test_start_reraises_from_result(self, spark):
        from spark_bestfit_spark.session import start_job

        def boom(x):
            raise RuntimeError(f"boom {x}")

        with pytest.raises(RuntimeError, match="boom 7"):
            start_job(spark, boom, 7).result()


class TestRound5PlanShapes:
    def test_bloom_probe_is_map_only_until_flagged_distinct(self, spark):
        """The bloom corpus pass must never JOIN the probe relation:
        the only exchange is the distinct over the (tiny) flagged-id
        set, and the membership test is a single ArrowEvalPython over
        JVM-computed positions."""
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.curation import (
            decontaminate_by_ngrams_bloom,
        )
        from spark_bestfit_spark.operators.dedup import word_shingles

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        probes = docs.filter(F.col("doc_id") < 5).select(
            F.explode(word_shingles("text", 8)).alias("ngram")
        )
        _, flagged = decontaminate_by_ngrams_bloom(docs, probes)
        plan = _physical(flagged)
        assert "Join" not in plan  # probe side travels as a broadcast var
        assert plan.count("ArrowEvalPython") == 1
        assert plan.count("Exchange") == 1  # the flagged-id distinct only
        assert "hashpartitioning(doc_id" in plan

    def test_grouped_fit_histogram_is_one_broadcast_join_scan(self, spark):
        """The per-group histogram relation: one scan, the per-group
        bounds arriving via BroadcastHashJoin (never a shuffle join of
        the corpus), one (group, bin) aggregation exchange."""
        from spark_bestfit_spark.operators.histogram import (
            grouped_histogram_df,
        )

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        counts = grouped_histogram_df(
            li, "l_extendedprice", "l_returnflag",
            {"A": (900.0, 100000.0, 50), "N": (900.0, 100000.0, 50)},
        )
        plan = _physical(counts)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # exchanges: the bounds broadcast + ONE hash exchange for the
        # (group, bin) aggregate — never a corpus-sized shuffle join
        assert "hashpartitioning(_g" in plan


class TestRound6PlanShapes:
    def test_bm25_has_no_shuffle_join(self, spark):
        """bm25_topk must never shuffle a full-corpus relation through
        a join: the doc length rides the exploded token stream (no
        doclen join — VERDICT r5 #3), the idf and corpus-stats sides
        arrive by broadcast, so every Join in the plan is a broadcast
        join and every Exchange carries only term-matched rows."""
        from spark_bestfit_spark.operators.textstats import bm25_topk

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        top = bm25_topk(docs, ["data", "model", "training"], k=5)
        plan = _physical(top)
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    def test_chunk_documents_is_map_only(self, spark):
        """Within-document chunking is pure JVM column work (sequence +
        HOF filter + posexplode + slice): the plan must contain ZERO
        exchanges and no Python evaluation — at 100 TB it is one scan
        writing partition-local output."""
        from spark_bestfit_spark.operators.curation import chunk_documents

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = chunk_documents(docs, chunk_tokens=64, overlap=8)
        plan = _physical(out)
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "Generate" in plan  # the posexplode


class TestRound7PlanShapes:
    def test_latest_by_key_is_one_agg_exchange_no_window(self, spark):
        """Changelog compaction must be the map-side-combinable max_by
        aggregate, not the row_number idiom: exactly ONE hash exchange
        on the key and NO Window node (no per-group sort of data
        rows)."""
        from spark_bestfit_spark.operators.asof import latest_by_key

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        out = latest_by_key(
            ev.select("user_id", "event_id", "ts", "value"),
            "user_id", "ts", tiebreak_col="event_id",
        )
        plan = _physical(out)
        assert "Window" not in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_heavy_hitters_never_shuffle_joins(self, spark):
        """Both joins in the heavy-hitter plan (candidate left-semi
        probe, 1-row total) must arrive by broadcast — the wide
        relation is never sort-merge/shuffle-hash joined, so the only
        exchanges carry MG candidates and candidate-keyed counts."""
        from spark_bestfit_spark.operators.frequency import heavy_hitters

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        toks = docs.selectExpr(
            "explode(split(lower(trim(text)), '\\\\s+')) AS tok"
        )
        plan = _physical(heavy_hitters(toks, "tok", phi=0.002))
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_pivot_is_single_exchange_aggregate(self, spark):
        """Explicit-domain pivot compiles to the two-stage aggregate
        (count per (row, pivot) pair -> pivotfirst per row), so BOTH
        exchanges carry pre-aggregated rows bounded by |rows| x
        |values| — never data rows — from ONE scan, with no eager
        distinct pass."""
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.events import pivot_counts

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
            "day_id",
            F.expr(
                "unix_micros(to_utc_timestamp(ts, 'UTC')) * 1000"
                " div 86400000000000"
            ),
        )
        out = pivot_counts(
            ev, "day_id", "event_type",
            ["click", "error", "purchase", "signup", "view"],
        )
        plan = _physical(out)
        assert plan.count("Exchange hashpartitioning") == 2, plan
        # both exchange inputs are partial aggregates, not data rows
        assert plan.count("partial_") == 2, plan
        assert plan.count("Scan parquet") == 1
        assert "SinglePartition" not in plan

    def test_funnel_groupby_reuses_window_partitioning(self, spark):
        """The funnel's k chained window mins AND its final per-user
        collapse must ride ONE entity-hash exchange (groupBy satisfied
        by Window.partitionBy) — plan-level proof the operator costs
        what any single per-entity pass costs."""
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.events import funnel

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
            "ts",
            F.expr("unix_micros(to_utc_timestamp(ts, 'UTC')) * 1000"),
        )
        out = funnel(
            ev, ["view", "click", "purchase"], window=7 * 24 * 3600 * 10**9
        )
        plan = _physical(out)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "SinglePartition" not in plan

    def test_golden_record_is_one_grouped_pass(self, spark):
        """Survivorship must cost ONE entity-hash exchange fed by a
        partial (map-side) aggregate — no pivot, no window sort over
        data rows, no join."""
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.asof import golden_record

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
            "ts",
            F.expr("unix_micros(to_utc_timestamp(ts, 'UTC')) * 1000"),
        )
        out = golden_record(
            ev, "user_id", "event_type", "value", "ts",
            ["click", "view"], "event_id",
        )
        plan = _physical(out)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "partial" in plan, plan
        assert "Window" not in plan and "Join" not in plan
        assert "SinglePartition" not in plan

    def test_interval_join_bucketed_is_hash_join(self, spark):
        """The bucketed interval-overlap join must be a hash equi-join
        on (key, bucket) — never a nested loop / cartesian — with the
        exactly-once anchor predicate applied as a join-level filter,
        not a downstream distinct (no aggregate over the pairs)."""
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.asof import interval_join

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
            "ts",
            F.expr("unix_micros(to_utc_timestamp(ts, 'UTC')) * 1000"),
        )
        a = ev.select(
            "user_id", F.col("ts").alias("as_"),
            (F.col("ts") + 10**12).alias("ae"),
        )
        b = ev.select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("bs"), (F.col("ts") + 10**12).alias("be"),
        )
        out = interval_join(
            a, b, "as_", "ae", "bs", "be",
            by=["user_id"], bucket_width=10**12,
        )
        plan = _physical(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "HashAggregate" not in plan  # no dedup pass

    def test_fuzzy_join_is_equi_join_never_cartesian(self, spark):
        """The PassJoin candidate join must compile to a key-hashed
        equi-join on the hashed (length, segment#, piece) key: no
        CartesianProduct / BroadcastNestedLoopJoin anywhere, and
        segment/substring generation stays map-side (explodes, no
        extra exchanges beyond the join's own and the pair
        distinct)."""
        from spark_bestfit_spark.operators.linkage import fuzzy_join

        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        out = fuzzy_join(
            cust, cust, "c_name", "c_name", "c_custkey", "c_custkey", 2
        )
        plan = _physical(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        # one candidate equi-join + one pair distinct; allow AQE to
        # broadcast the small side at this SF, but the join key must
        # be the CONTENT hash (r12: the (length, seg#, piece) key is
        # reduced to xxhash64 before the exchange so no piece string
        # crosses it — content-keyed, not length-only)
        assert "xxhash64" in plan


class TestRound8Plans:
    def test_hll_register_fold_is_map_combinable(self, spark):
        from spark_bestfit_spark.operators.stats import hll_distinct

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        plan = _physical(hll_distinct(li, "l_orderkey"))
        # sketch path: partial aggregate below the exchange (registers
        # merge by max map-side), never a sort or window
        assert "SortMergeJoin" not in plan
        assert "Window" not in plan
        assert plan.count("Exchange") <= 6  # register fold + exact agg + 1-row joins

    def test_cms_cells_merge_map_side(self, spark):
        from spark_bestfit_spark.operators.frequency import (
            cms_token_counts,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = _physical(cms_token_counts(docs, "text", width=64))
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_kneser_ney_has_no_position_self_join(self, spark):
        from spark_bestfit_spark.operators.textstats import (
            kneser_ney_bigrams,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = _physical(kneser_ney_bigrams(docs, "text", k=5))
        # bigrams come from one map-side transform/explode into a
        # checkpointed vocab-sized relation: the four consumers read
        # the checkpoint (Scan ExistingRDD), so the corpus parquet is
        # scanned AT MOST once in the final plan — never once per
        # consumer (the pre-checkpoint plan scanned it 4x)
        assert plan.count("Scan parquet") <= 1
        assert "Scan ExistingRDD" in plan

    def test_pr_metrics_never_single_partition_sorts_data(self, spark):
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.stats import pr_metrics

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumn(
            "y", (F.col("l_returnflag") == "R").cast("int")
        )
        plan = _physical(pr_metrics(li, "l_extendedprice", "y"))
        # the sweep rides bucket-hash windows + TakeOrdered(1);
        # a global ORDER BY of the score relation would show as a
        # rangepartitioning Sort
        assert "rangepartitioning" not in plan.lower()

    def test_jw_blocked_is_hash_join_never_cartesian(self, spark):
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.linkage import (
            jaro_winkler_join,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        keys = docs.select(
            "doc_id",
            F.substring("text", 1, 20).alias("k"),
            F.substring("text", 1, 2).alias("blk"),
        )
        a = keys.select(
            F.col("doc_id").alias("ia"),
            F.col("k").alias("ka"),
            F.col("blk").alias("ba"),
        )
        b = keys.select(
            F.col("doc_id").alias("ib"),
            F.col("k").alias("kb"),
            F.col("blk").alias("bb"),
        )
        plan = _physical(
            jaro_winkler_join(
                a, b, "ka", "kb", "ia", "ib", 0.9,
                left_block="ba", right_block="bb",
            )
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_cuped_is_single_aggregate_scan(self, spark):
        from spark_bestfit_spark.operators.stats import cuped_ab_test

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        plan = _physical(
            cuped_ab_test(
                li, "l_returnflag", "l_extendedprice", "l_quantity",
                "A", "N",
            )
        )
        assert plan.count("Scan parquet") == 1
        assert "Join" not in plan

    def test_scd2_snapshot_filter_is_map_side(self, spark):
        import datetime

        from spark_bestfit_spark.operators.asof import (
            scd2_history,
            scd2_snapshot,
        )

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        hist = scd2_history(ev, "user_id", "ts", tiebreak_col="event_id")
        plan = _physical(
            scd2_snapshot(hist, datetime.datetime(2024, 1, 15))
        )
        # exactly the history's one window exchange — the snapshot
        # itself adds no shuffle
        assert plan.count("Exchange") == 1

    def test_heaps_law_avoids_doc_sized_global_window(self, spark):
        from spark_bestfit_spark.operators.textstats import heaps_law

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = _physical(heaps_law(docs, "text", "doc_id"))
        # the growth-curve prefix sums ride bucket-hash windows over
        # the (doc-id) spine — a doc-sized single-partition sort would
        # show as rangepartitioning
        assert "rangepartitioning" not in plan.lower()

    def test_validate_rules_single_scan_many_rules(self, spark):
        from spark_bestfit_spark.operators.quality import validate_rules

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        rules = {f"r{i}": f"l_quantity > {i}" for i in range(25)}
        plan = _physical(validate_rules(li, rules))
        # 25 expectations, ONE scan
        assert plan.count("Scan parquet") == 1


class TestRound12Plans:
    """The certified-approximation tiers must keep their two-bounded-
    scan shape: one parquet scan in the returned (lazy) plan (the
    stats scan already ran eagerly), bucket aggregation map-combined,
    the only window over the <= grid_size bucket totals — never a
    per-value relation."""

    def test_ks_approx_plan_is_bucket_sized(self, spark):
        from spark_bestfit_spark.operators.stats import (
            two_sample_ks_approx_df,
        )

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        out = two_sample_ks_approx_df(
            li.filter("l_returnflag = 'A'"),
            li.filter("l_returnflag = 'N'"),
            "l_quantity", grid_size=256,
        )
        plan = _physical(out)
        # one scan per union side in the lazy plan; no join anywhere
        assert plan.count("Scan parquet") == 2
        assert "Join" not in plan
        # bucket agg is two-phase (partial below a hash exchange on the
        # inlined bucket expression); Catalyst rewrites the bk alias to
        # _groupingexpression
        assert "partial_sum" in plan
        assert (
            "hashpartitioning(_groupingexpression" in plan
            or "hashpartitioning(bk" in plan
        )
        # the only SinglePartition exchange feeds the window AFTER the
        # bucket aggregate — it carries <= grid_size rows by
        # construction, never data rows
        assert plan.count("Exchange SinglePartition") == 1

    def test_grouped_ks_approx_no_per_value_window(self, spark):
        from spark_bestfit_spark.operators.stats import (
            two_sample_ks_approx_by_group,
        )

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        out = two_sample_ks_approx_by_group(
            li.filter("l_linestatus = 'F'"),
            li.filter("l_linestatus = 'O'"),
            "l_quantity", "l_returnflag", grid_size=256,
        )
        plan = _physical(out)
        # the window partitions by the GROUP over bucket totals; the
        # exact tier's per-(group, value) jump relation must not exist
        assert "Window" in plan
        assert "hashpartitioning(g#" in plan
        assert plan.count("Scan parquet") == 4  # 2 sides x (bounds+counts)
        # bounds join is the broadcast of a tiny aggregate, never SMJ
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_w1_approx_empty_run_lead_rides_bucket_window(self, spark):
        from spark_bestfit_spark.operators.stats import (
            wasserstein_approx_df,
        )

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        out = wasserstein_approx_df(
            li.filter("l_returnflag = 'A'"),
            li.filter("l_returnflag = 'N'"),
            "l_quantity", grid_size=256,
        )
        plan = _physical(out)
        assert plan.count("Scan parquet") == 2
        assert "Join" not in plan
        assert (
            "hashpartitioning(_groupingexpression" in plan
            or "hashpartitioning(bk" in plan
        )

    def test_grouped_w1_approx_no_per_value_window(self, spark):
        from spark_bestfit_spark.operators.stats import (
            wasserstein_approx_by_group,
        )

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        out = wasserstein_approx_by_group(
            li.filter("l_linestatus = 'F'"),
            li.filter("l_linestatus = 'O'"),
            "l_extendedprice", "l_returnflag", grid_size=256,
        )
        plan = _physical(out)
        # same pinned shape as the grouped K-S tier: group-partitioned
        # window over bucket totals, broadcast bounds, no per-value
        # jump relation, 2 sides x (bounds + counts) scans
        assert "Window" in plan
        assert "hashpartitioning(g#" in plan
        assert plan.count("Scan parquet") == 4
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_kn_doc_logprob_single_ref_and_target_scan(self, spark):
        from spark_bestfit_spark.operators.textstats import kn_doc_logprob

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = kn_doc_logprob(
            docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0")
        )
        plan = _physical(out)
        # the reference corpus is checkpoint-reused: ONE parquet scan
        # for the target pairs is the only corpus read in the lazy
        # plan (the LM relations read the checkpointed bigram counts)
        assert plan.count("Scan parquet") == 1
        assert plan.count("Scan ExistingRDD") >= 1


class TestLateRound12Plans:
    def test_winnow_fingerprints_needs_no_exchange(self, spark):
        """The selection is pure per-row array algebra: normalization,
        k-gram hashing and the window argmin never leave the row —
        zero exchanges in the physical plan (ensure_parallelism's
        repartition only fires on under-parallelized inputs)."""
        from spark_bestfit_spark.operators.dedup import (
            winnow_fingerprints,
        )

        docs = spark.read.parquet(
            f"{SF_DIR}/documents.parquet"
        ).repartition(8)
        plan = _physical(winnow_fingerprints(docs))
        # the single Exchange is the test's own round-robin
        # repartition(8) of the input — the operator adds NO hash
        # exchange of its own
        assert plan.count("Exchange") == 1
        assert "hashpartitioning" not in plan
        assert "Join" not in plan

    def test_kn_trigram_single_target_scan(self, spark):
        """Trigram tier inherits the bigram plan shape: the reference
        collapses ONCE into the checkpointed trigram-count relation;
        the lazy plan's only parquet scan is the target."""
        from spark_bestfit_spark.operators.textstats import (
            kn_doc_logprob3,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = kn_doc_logprob3(
            docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0")
        )
        plan = _physical(out)
        assert plan.count("Scan parquet") == 1
        assert plan.count("Scan ExistingRDD") >= 1

    def test_dsir_lms_are_broadcast(self, spark):
        """Scoring joins the two <= B-row bucket LMs and the 1-row
        totals by BROADCAST — the corpus-sized feature relation never
        shuffles for the join (its only exchange is the map-combined
        (id, bucket) groupBy + the final doc re-agg)."""
        from spark_bestfit_spark.operators.curation import (
            dsir_logweights,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = dsir_logweights(
            docs.filter("doc_id % 2 = 1"),
            docs.filter("doc_id % 2 = 0"),
            n_buckets=256,
        )
        plan = _physical(out)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals

    def test_quantiles_certified_window_sees_buckets_only(self, spark):
        """The global-ordered window runs POST-aggregation over the
        <= grid_size bucket totals — the first Exchange below the
        Window is the single-partition gather of bucket counts, never
        a data-sized sort."""
        from spark_bestfit_spark.operators.stats import (
            quantiles_approx_certified,
        )

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        out = quantiles_approx_certified(
            li, "l_extendedprice", qs=(0.5,), grid_size=128
        )
        plan = _physical(out)
        assert "Window" in plan
        below_window = plan.split("Window", 1)[1]
        first_exchange = below_window.split("Exchange", 1)[1]
        # the window's input partitioning gathers BUCKET totals
        assert "HashAggregate" in below_window.split("Exchange", 1)[1]

    def test_containment_pairs_one_shingle_exchange_reused(self, spark):
        """The row_number bucket cap partitions on the same shingle
        key as the pair groupBy — Catalyst reuses the hash exchange;
        the per-doc size relation joins broadcast-side."""
        from spark_bestfit_spark.operators.dedup import (
            containment_pairs,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = _physical(containment_pairs(docs, threshold=0.5))
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_corpus_diff_ships_fingerprints_only(self, spark):
        """No text column survives past the fingerprint projection —
        the full-outer join's exchanges carry (id, 32-byte md5) rows
        only."""
        from spark_bestfit_spark.operators.pipeline import corpus_diff

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = corpus_diff(
            docs.filter("doc_id < 100"),
            docs.filter("doc_id >= 50").filter("doc_id < 150"),
        )
        opt = _optimized(out)
        # the optimized plan projects md5(...) before the join: 'text'
        # appears only inside the md5 projection, never as a join-side
        # output attribute
        plan = _physical(out)
        assert "FullOuter" in plan or "full_outer" in plan.lower()
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


class TestInputSpreadPlans:
    def test_fuzzy_join_spreads_single_partition_input(self, spark):
        """A one-file input otherwise runs the whole deletion1
        enumerate->broadcast-join->verify pipeline as ONE task (the
        index side broadcasts, so no exchange ever widens the probe):
        the operator must round-robin under-parallelized inputs before
        key enumeration, and must NOT add that exchange when the input
        is already wide."""
        from spark_bestfit_spark.operators.linkage import fuzzy_join

        cust = spark.read.parquet(
            f"{SF_DIR}/customer.parquet"
        ).coalesce(1)
        out = fuzzy_join(
            cust, cust, "c_name", "c_name", "c_custkey", "c_custkey", 1
        )
        assert "RoundRobinPartitioning" in _physical(out)
        wide = spark.read.parquet(
            f"{SF_DIR}/customer.parquet"
        ).repartition(64)
        out_wide = fuzzy_join(
            wide, wide, "c_name", "c_name", "c_custkey", "c_custkey", 1
        )
        # only the test's own repartition(64) round-robin is present
        assert (
            _physical(out_wide).count("RoundRobinPartitioning(64") > 0
        )

    def test_tfidf_prefix_spreads_single_partition_input(self, spark):
        """Same property for the tokenize/shingle map stages of
        tfidf_neardup_pairs."""
        from spark_bestfit_spark.operators.textstats import (
            tfidf_neardup_pairs,
        )

        docs = spark.read.parquet(
            f"{SF_DIR}/documents.parquet"
        ).coalesce(1)
        out = tfidf_neardup_pairs(
            docs, threshold=0.9, candidates="prefix"
        )
        assert "RoundRobinPartitioning" in _physical(out)


def _exchange_outputs(df) -> list[dict[str, str]]:
    """``{column: type}`` of every exchange in the physical plan (the
    initial plan under AQE: the query must not have run yet)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if "Exchange" in node.nodeName():
            attrs = node.output()
            out.append({
                attrs.apply(i).name(): attrs.apply(i).dataType().simpleString()
                for i in range(attrs.size())
            })
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


class TestTextKernelPlans:
    def test_repetition_ratio_has_no_exchange(self, spark):
        """Shingling, the distinct count and the ratio are per-row array
        algebra over the shared k-gram kernel — map-only."""
        from spark_bestfit_spark.operators.textstats import (
            with_repetition_ratio,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        assert "Exchange" not in _physical(with_repetition_ratio(docs))

    def test_clip_spans_exchanges_carry_gram_keys_not_strings(self, spark):
        """Each positional gram is reduced to its two xxhash64 keys at
        explode time: no exchange carries a string column, and the
        duplicated-gram passes shuffle the (g1, g2) bigint pair."""
        from spark_bestfit_spark.operators.dedup import clip_duplicate_spans

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        outs = _exchange_outputs(clip_duplicate_spans(docs, n=8))
        assert outs
        for cols in outs:
            assert "string" not in cols.values(), cols
        keyed = [c for c in outs if "g1" in c and "g2" in c]
        assert keyed
        for cols in keyed:
            assert cols["g1"] == cols["g2"] == "bigint"


class TestFitFanOut:
    """The (column, distribution) fit fan-out runs ONE Python task wave:
    one weight-balanced bin per core, or one per pair when there are
    fewer pairs than cores. The task count is the partition count of
    the result relation; reading it builds the plan without running the
    kernels."""

    CHEAP = ["norm", "expon", "uniform", "logistic", "laplace", "cauchy"]

    @staticmethod
    def _plans(n_cols, names, discrete=False, size=2000):
        import numpy as np

        rng = np.random.default_rng(3)
        plans = {}
        for i in range(n_cols):
            if discrete:
                sample = rng.poisson(4.0, size).astype(float)
                xs, counts = np.unique(sample, return_counts=True)
                art = {"x_values": xs, "pmf": counts / counts.sum()}
            else:
                sample = rng.gamma(2.0, 3.0, size)
                density, edges = np.histogram(sample, bins=30, density=True)
                art = {"density": density, "edges": edges}
            plans[f"c{i}"] = {"names": list(names), "sample": sample, **art}
        return plans

    def _assert_one_wave(self, spark, fan_out, names, discrete):
        from spark_bestfit_spark.functions.distributions.registry import (
            DistributionRegistry,
        )
        from spark_bestfit_spark.plans.config import FitterConfig

        reg = DistributionRegistry()
        cores = spark.sparkContext.defaultParallelism
        # fewer pairs than cores, a few columns, and a load of many
        # weight units per core
        for n_cols, k in ((1, 2), (2, len(names)), (40, len(names))):
            plans = self._plans(n_cols, names[:k], discrete, size=50)
            df = fan_out(spark, plans, FitterConfig(), reg)
            pairs = n_cols * k
            assert df.rdd.getNumPartitions() == min(cores, pairs), n_cols

    def test_continuous_fit_is_one_task_wave(self, spark):
        from spark_bestfit_spark.operators.fit import parallel_fit_columns

        self._assert_one_wave(spark, parallel_fit_columns, self.CHEAP, False)

    def test_discrete_fit_is_one_task_wave(self, spark):
        from spark_bestfit_spark.operators.discrete_fit import (
            parallel_fit_discrete_columns,
        )

        names = ["poisson", "geom", "nbinom", "binom", "planck"]
        self._assert_one_wave(
            spark, parallel_fit_discrete_columns, names, True
        )

    def test_results_do_not_depend_on_layout(self, spark):
        """Driver-local and fanned-out runs of the same plans return
        identical rows: the bins only move kernels."""
        from spark_bestfit_spark.functions.distributions.registry import (
            DistributionRegistry,
        )
        from spark_bestfit_spark.operators.fit import (
            local_fit_columns,
            parallel_fit_columns,
        )
        from spark_bestfit_spark.plans.config import FitterConfig

        reg = DistributionRegistry()
        cfg = FitterConfig()
        for n_cols in (2, 9):
            plans = self._plans(n_cols, self.CHEAP, size=500)
            local = sorted(
                tuple(r) for r in
                local_fit_columns(spark, plans, cfg, reg).collect()
            )
            fanned = sorted(
                tuple(r) for r in
                parallel_fit_columns(spark, plans, cfg, reg).collect()
            )
            assert len(local) == n_cols * len(self.CHEAP)
            assert local == fanned, n_cols

    def test_censored_plan_runs_alike_locally(self, spark):
        """Both executors honour a plan's censor mask: censored MLE, and
        provenance stats from the observed rows only."""
        import numpy as np

        from spark_bestfit_spark.functions.distributions.registry import (
            DistributionRegistry,
        )
        from spark_bestfit_spark.operators.fit import (
            local_fit_columns,
            parallel_fit_columns,
        )
        from spark_bestfit_spark.plans.config import FitterConfig

        reg = DistributionRegistry()
        cfg = FitterConfig()
        plans = self._plans(2, ["expon", "norm", "weibull_min"], size=300)
        rng = np.random.default_rng(4)
        for p in plans.values():
            p["censor_mask"] = rng.random(p["sample"].size) < 0.7
        local = sorted(local_fit_columns(spark, plans, cfg, reg).collect())
        fanned = sorted(parallel_fit_columns(spark, plans, cfg, reg).collect())
        assert len(local) == 6
        assert local == fanned
        observed = {c: float(p["censor_mask"].sum()) for c, p in plans.items()}
        assert {r.column_name: r.data_count for r in local} == observed
