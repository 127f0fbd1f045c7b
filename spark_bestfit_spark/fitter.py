"""DistributionFitter — the engine's main entry point (SURVEY §3.1).

Query lifecycle per fit (all columns batched):

1. validate (catalog + config)                  — driver
2. limit-probe ∥ min/max/count stats            — wave 1 (concurrent jobs)
3. fitting sample ∥ histogram                   — wave 2 (concurrent jobs)
4. prefilter + interleave distribution list     — driver
5. fan-out (mapInPandas), collected once        — wave 3

Waves 1 and 2 each run two independent Spark jobs, one of them from a
helper driver thread (``start_job``), so the prelude costs two job
latencies, not four. The helper thread inherits the caller's job group,
description and tags, so the racing jobs are attributed to the caller
like inline ones. Everything the executors need is broadcast (~KBs), so
the fit cost is independent of table size beyond the scan.

A censored fit has no probe: one stats job for all columns, then one
histogram job for all columns raced against one sample job for all
columns (each value travels with its event mask), then the same fan-out.
A discrete fit's prelude is the one PMF job: its sample comes from the
value counts on the driver.

Every binning rule — equi-width edges, density, empirical PMF — comes
from ``operators/histogram.py``, and every sampling rule from
``operators/sampling.py``; this module holds no bin or sample
arithmetic. Results keep each column's valid count with the source
relation, so a lazy recreation of a sample draws it with the fit's own
call.
"""

from __future__ import annotations

import warnings
from contextlib import nullcontext
from functools import partial

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import NumericType

from spark_bestfit_spark.functions.distributions.registry import (
    DistributionRegistry,
)
from spark_bestfit_spark.functions.estimation import detect_heavy_tail
from spark_bestfit_spark.operators.fit import (
    FIT_RESULT_SCHEMA,
    local_fit_columns,
    parallel_fit_columns,
)
from spark_bestfit_spark.operators.histogram import (
    compute_histogram,
    compute_histograms_grouped,
    compute_histograms_multi,
    empirical_pmfs_multi,
    grouped_pmfs,
    sample_histogram,
)
from spark_bestfit_spark.operators.sampling import (
    build_fitting_samples_multi,
    group_rng,
    grouped_samples,
    sample_from_counts,
)
from spark_bestfit_spark.operators.stats import (
    multi_column_stats,
    valid_column,
)
from spark_bestfit_spark.plans.config import FitterConfig
from spark_bestfit_spark.progress import ProgressTracker
from spark_bestfit_spark.results import FitResults
from spark_bestfit_spark.session import start_job

# P7 prefilter (reference continuous_fitter.py:966-1063 semantics):
# filter on intrinsic SHAPE properties only — never on support bounds,
# because MLE's loc/scale can shift any distribution onto any data range.
# Layer 1 (~95% reliable): drop intrinsically right-skew-only families
# when the sample is clearly left-skewed. Layer 2 ('aggressive' only):
# drop intrinsically platykurtic families for very heavy-tailed samples.
_RIGHT_SKEW_ONLY = {
    "expon", "gamma", "lognorm", "chi2", "weibull_min", "pareto",
    "rayleigh", "invgamma", "exponweib", "genpareto", "invweibull",
    "fisk", "burr", "burr12", "loggamma", "invgauss", "genextreme",
    "gompertz", "halfnorm", "halfcauchy", "halflogistic", "halfgennorm",
    "nakagami", "gibrat", "lomax", "maxwell", "erlang", "fatiguelife",
    "powerlognorm", "kappa3", "levy", "truncpareto", "alpha",
}
# excess kurtosis is intrinsically negative for these (flat/bounded)
_PLATYKURTIC = {"uniform", "arcsine", "semicircular", "anglit", "cosine"}

_SKEW_FILTER_THRESHOLD = -1.0
_KURT_FILTER_THRESHOLD = 10.0


def prefilter_distributions(
    names: list, data, mode: bool | str = True
) -> tuple:
    """(kept, [(dropped, reason), ...]) — shape-compatibility prefilter."""
    if not mode:
        return list(names), []
    x = np.asarray(data, dtype=np.float64)
    x = x[np.isfinite(x)]
    # same declared-overflow policy as compute_data_stats: at |x|~1e300
    # the variance square overflows — std becomes inf, the shape filter
    # has nothing to say, and numpy's internal warning must not leak
    with np.errstate(over="ignore", invalid="ignore"):
        if x.size < 10:
            return list(names), []
        sd = float(np.std(x))
        if sd == 0 or not np.isfinite(sd):
            return list(names), []
        z = (x - x.mean()) / sd
        skew = float(np.mean(z**3))
        kurt = float(np.mean(z**4) - 3.0)
    kept, dropped = [], []
    for n in names:
        if skew < _SKEW_FILTER_THRESHOLD and n in _RIGHT_SKEW_ONLY:
            dropped.append((n, "right-skew-only family, left-skewed data"))
        elif (
            mode == "aggressive"
            and kurt > _KURT_FILTER_THRESHOLD
            and n in _PLATYKURTIC
        ):
            dropped.append((n, "platykurtic family, heavy-tailed data"))
        else:
            kept.append(n)
    return kept, dropped


def _ensure_spark_df(spark: SparkSession, df):
    """Duck-type the input relation like the reference's storage layer
    (reference storage.py:105-131, base_fitter.py:560-611 accept Spark,
    pandas, and Ray datasets): a pandas DataFrame is converted with
    ``spark.createDataFrame``; Spark DataFrames pass through. Anything
    else raises with the accepted types spelled out."""
    if isinstance(df, DataFrame):
        return df
    try:
        import pandas as pd
    except ImportError:  # pragma: no cover — pandas ships with pyspark
        pd = None
    if pd is not None and isinstance(df, pd.DataFrame):
        return spark.createDataFrame(df)
    raise TypeError(
        f"expected a Spark or pandas DataFrame, got {type(df).__name__}"
    )


def _recreate_sample(
    src: DataFrame, config, counts: dict, censor, column
) -> np.ndarray:
    """One column's fitting sample drawn again by the fit's own sampler
    call; results hold it as a ``partial`` over the fit's arguments. A
    censored sample drops its event mask."""
    sample = build_fitting_samples_multi(
        src, [column], config, counts, censor=censor
    )[column]
    return sample[0] if censor else sample


def _counts_sample(pmfs: dict, config, column) -> np.ndarray:
    """A discrete column's fitting sample, from its value counts and
    the seed alone: the discrete fit draws it, and results hold it as a
    ``partial`` over the kept counts, so recreating it runs no job."""
    x_values, _, counts = pmfs[column]
    return sample_from_counts(
        x_values, counts, config.fitting_sample_size,
        np.random.default_rng(config.random_seed),
    )


def _merge_config(config: FitterConfig | None, overrides: dict):
    """The caller's config (or the defaults) with keyword overrides,
    validated — the one place both fitters check their config."""
    config = (config or FitterConfig()).with_(**overrides)
    config.validate()
    return config


def _check_numeric(df: DataFrame, columns: list) -> dict:
    """Raise unless every column exists and is numeric; returns the
    ``{name: dataType}`` schema map."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    for c in columns:
        if c not in schema:
            raise ValueError(f"column {c!r} not found in DataFrame")
        if not isinstance(schema[c], NumericType):
            raise TypeError(
                f"column {c!r} has non-numeric type {schema[c].simpleString()}"
            )
    return schema


def _grouped_counts(
    df: DataFrame, column: str, group_col: str, max_groups: int, *aggs
):
    """Grouped-fit prelude head: valid values of ``column`` in non-null
    groups (a null key names no group), and ONE groupBy collecting
    ``aggs`` plus the row count ``n`` per group. Returns (clean rows,
    collected group rows); raises past ``max_groups``, because the
    per-group samples and histograms/PMFs are driver-resident."""
    clean = valid_column(df, column).filter(F.col(group_col).isNotNull())
    rows = (
        clean.groupBy(group_col)
        .agg(*aggs, F.count("*").alias("n"))
        .collect()
    )
    if len(rows) > max_groups:
        raise ValueError(
            f"fit_grouped: {len(rows)} groups exceed "
            f"max_groups={max_groups}; the per-group histograms/PMFs and "
            "samples are driver-resident — aggregate or bucket the "
            "key first, or raise max_groups deliberately"
        )
    return clean, rows


class _Fitter:
    """What the continuous and discrete fitters share: the session and
    registry, name validation, the collect of a fan-out into results,
    the empty result and the cached-sample plot data."""

    def __init__(
        self,
        spark: SparkSession,
        registry: DistributionRegistry | None = None,
    ):
        self.spark = spark
        self.registry = registry or DistributionRegistry()

    def _validate_names(self, names: list) -> None:
        """Fail fast on unknown distribution names: a typo'd name would
        otherwise just fan out, hit the resolve failure inside the kernel
        and vanish as a filtered sentinel row — a silent empty result."""
        unknown = []
        for n in names:
            try:
                self.registry.resolve(n)
            except Exception:  # noqa: BLE001
                unknown.append(n)
        if unknown:
            raise ValueError(
                f"unknown distribution(s): {unknown!r}; see "
                "DistributionRegistry.get_distributions() / "
                "register_distribution() for the available set"
            )

    def _results(
        self, result_df: DataFrame, plans: dict, samples: dict, config,
        broadcasts: list, source=None,
    ) -> FitResults:
        """The fit's one Spark action: collect the fan-out's result
        relation into the results snapshot — under a ProgressTracker
        when the config has a progress_callback (reference progress.py
        role) — then release the broadcasts the fan-out registered."""
        track = nullcontext()
        if config.progress_callback is not None:
            n_fits = sum(len(p["names"]) for p in plans.values())
            track = ProgressTracker(
                self.spark, callback=config.progress_callback
            ).track(f"fitting {n_fits} distributions")
        try:
            with track:
                return FitResults(
                    result_df, registry=self.registry, samples=samples,
                    source=source,
                )
        finally:
            for b in broadcasts:
                b.unpersist()

    def _empty_results(self) -> FitResults:
        empty = self.spark.createDataFrame([], schema=FIT_RESULT_SCHEMA)
        return FitResults(empty, registry=self.registry)

    @staticmethod
    def _cached_sample(result, df, force_recompute: bool):
        """Cache-first plot data (reference 'instant plotting' v2.10,
        continuous_fitter.py:648-757): the result's cached fitting
        sample — zero Spark jobs — unless ``force_recompute=True``;
        None when ``df`` must be read instead. Passing ``df`` while a
        cached sample exists emits a FutureWarning and still uses the
        cache (reference v3.0.3 CHANGELOG). The warning points at the
        public plot method's caller."""
        if force_recompute or getattr(result, "_sample", None) is None:
            if df is None:
                raise ValueError(
                    "result has no cached sample (or force_recompute=True)"
                    ": pass the source df (and column if it differs from "
                    "result.column_name)"
                )
            return None
        if df is not None:
            warnings.warn(
                "a cached fitting sample is available; df is ignored "
                "— pass force_recompute=True to re-evaluate the "
                "DataFrame",
                FutureWarning,
                stacklevel=4,
            )
        return result._sample

    def _plot_sample(self, result, df, column, force_recompute: bool):
        """Raw-sample resolution for the point-wise plots (Q-Q / P-P /
        comparison / discrete PMF need actual observations, not a
        histogram): the cached sample, else up to 100k non-null rows of
        ``df``."""
        data = self._cached_sample(result, df, force_recompute)
        if data is not None:
            return data
        df = _ensure_spark_df(self.spark, df)
        col = column or result.column_name
        return (
            df.select(col).dropna().limit(100_000).toPandas()[col]
            .to_numpy(dtype=np.float64)
        )


class DistributionFitter(_Fitter):
    """Fits a library of continuous distributions to numeric columns.

    Accepts Spark DataFrames natively and pandas DataFrames by
    conversion (the reference's duck-typed input contract)."""

    # ------------------------------------------------------------ plumbing
    def register_distribution(self, name: str, dist, overwrite: bool = False):
        return self.registry.register_distribution(name, dist, overwrite)

    def _validate(self, df: DataFrame, columns: list, config: FitterConfig):
        schema = _check_numeric(df, columns)
        if config.censoring_column is not None:
            cc = config.censoring_column
            if cc not in schema:
                raise ValueError(f"censoring column {cc!r} not found")
            from pyspark.sql.types import BooleanType, IntegerType, LongType

            if not isinstance(
                schema[cc], (BooleanType, IntegerType, LongType)
            ):
                raise TypeError(
                    f"censoring column {cc!r} must be boolean/int/long, "
                    f"got {schema[cc].simpleString()}"
                )

    def _select_distributions(
        self, config: FitterConfig, data: np.ndarray
    ) -> list:
        names = self.registry.get_distributions(
            support_at_zero=config.support_at_zero,
            additional_exclusions=list(config.additional_exclusions),
        )
        if config.prefilter:
            names, _ = prefilter_distributions(names, data, config.prefilter)
        if config.max_distributions is not None:
            names = names[: config.max_distributions]
        return names

    # ---------------------------------------------------------------- fit
    def fit(
        self,
        df: DataFrame,
        column: str | None = None,
        columns: list | None = None,
        distributions: list | None = None,
        config: FitterConfig | None = None,
        **kwargs,
    ) -> FitResults:
        """Fit distributions to one or more numeric columns.

        kwargs are FitterConfig overrides (bins=, lazy_metrics=, ...).
        """
        if column is None and columns is None:
            raise ValueError("provide column= or columns=")
        df = _ensure_spark_df(self.spark, df)
        cols = list(columns) if columns else [column]
        config = _merge_config(config, kwargs)
        self._validate(df, cols, config)
        if distributions:
            self._validate_names(distributions)

        # bounded fitting: restrict the relation to [lb, ub] up front so
        # the histogram, sample and stats all describe the retained mass
        # (Catalyst pushes this filter into the scan)
        bounds = (config.lower_bound, config.upper_bound)
        src = df
        if bounds[0] is not None or bounds[1] is not None:
            for c in cols:
                if bounds[0] is not None:
                    src = src.filter(F.col(c) >= bounds[0])
                if bounds[1] is not None:
                    src = src.filter(F.col(c) <= bounds[1])

        if config.censoring_column is not None:
            return self._fit_censored(src, cols, distributions, config, bounds)

        # batched planning: stats for ALL columns in one scan, histograms
        # for ALL columns in one scan, samples in one collect, ONE
        # (column, distribution) fan-out — job count is constant in the
        # number of columns (the 100 TB multi-column win)
        #
        # limit-probe first: collect up to fitting_sample_size + 1 rows
        # in one cheap job (CollectLimit scans one partition of a big
        # table). If the table is smaller than the limit, the probe IS
        # the complete data — stats, histograms, and samples all derive
        # from it driver-side and the fit needs no further scan.
        #
        # prelude jobs run CONCURRENTLY (start_job): probe races the stats
        # aggregation, then the sample collect races the histogram —
        # 5 sequential job latencies become 3. The stats job is wasted
        # only when the probe comes back small, i.e. when the relation
        # is tiny and the duplicate agg scan costs microseconds; on a
        # big table both results are needed anyway, so starting stats
        # early is pure wall-clock win. Results are unchanged (same
        # seeds, same plans) — only the submission order differs.
        probe_rows = config.fitting_sample_size + 1
        stats_future = start_job(self.spark, multi_column_stats, src, cols)
        probe = src.select(*cols).limit(probe_rows).toPandas()
        sample_map = None
        if len(probe) < probe_rows:
            all_stats, sample_map = {}, {}
            import pandas as pd

            for c in cols:
                # to_numeric handles Decimal/object columns uniformly
                vals = pd.to_numeric(probe[c], errors="coerce").to_numpy(
                    dtype=np.float64
                )
                vals = vals[np.isfinite(vals)]
                all_stats[c] = {
                    "min": float(vals.min()) if vals.size else None,
                    "max": float(vals.max()) if vals.size else None,
                    "count": int(vals.size),
                }
                sample_map[c] = vals
        else:
            all_stats = stats_future.result()
        live_cols = [c for c in cols if all_stats[c]["count"] > 0]
        if not live_cols:
            return self._empty_results()
        counts = {c: int(all_stats[c]["count"]) for c in live_cols}
        # small-data shortcut: when every column's valid count fits in
        # the fitting sample (always true for a complete probe), the
        # sample IS the complete data — the histogram can be counted
        # driver-side from it over the same edges, saving one cluster job
        all_small = all(
            all_stats[c]["count"] <= config.fitting_sample_size
            for c in live_cols
        )
        histograms = {}
        if sample_map is None:
            # sample collect and histogram agg are independent given the
            # stats — run them as concurrent Spark jobs (second prelude
            # fusion; wall-clock = max of the two, not the sum)
            hist_future = None if all_small else start_job(
                self.spark, compute_histograms_multi, src, live_cols,
                all_stats, config.bins, config.use_rice_rule,
            )
            sample_map = build_fitting_samples_multi(
                src, live_cols, config, counts
            )
            if hist_future is not None:
                histograms = hist_future.result()
        if all_small:
            for c in live_cols:
                sample = sample_map.get(c)
                if sample is None or sample.size == 0:
                    continue
                histograms[c] = sample_histogram(
                    sample, all_stats[c], config.bins, config.use_rice_rule
                )

        plans: dict = {}
        samples: dict = {}
        for c in live_cols:
            sample = sample_map.get(c)
            if sample is None or sample.size < 2 or c not in histograms:
                continue
            samples[c] = sample
            plans[c] = self._plan(
                sample, histograms[c], distributions, config
            )
            if (
                config.estimation_method == "auto"
                and plans[c]["method"] == "mse"
            ):
                warnings.warn(
                    f"column {c!r} looks heavy-tailed; using "
                    "maximum-spacing estimation", stacklevel=2
                )
        if not plans:
            return self._empty_results()
        return self._fan_out(
            plans, samples, config, bounds,
            partial(_recreate_sample, src, config, counts, None),
        )

    def _plan(self, sample, histogram, distributions, config) -> dict:
        """One column's fan-out plan: its distribution list, sample,
        histogram and estimation method ('auto' resolved per sample)."""
        method = config.estimation_method
        if method == "auto":
            method = "mse" if detect_heavy_tail(sample) else "mle"
        density, edges = histogram
        return {
            "names": (
                list(distributions) if distributions
                else self._select_distributions(config, sample)
            ),
            "sample": sample,
            "density": density,
            "edges": edges,
            "method": method,
        }

    def _fan_out(
        self, plans: dict, samples: dict, config, bounds, source=None
    ) -> FitResults:
        """ONE (column, distribution) fan-out over the planned columns,
        collected into the results snapshot. A fit with a progress
        callback always fans out, so the callback sees its tasks."""
        broadcasts: list = []
        effective = sum(
            self.registry.effective_count(p["names"]) for p in plans.values()
        )
        if (
            0 < effective <= config.local_fit_threshold
            and config.progress_callback is None
        ):
            # tiny plan: kernels run in-process, result is a local
            # relation — no broadcast/fan-out/shuffle round-trip
            result_df = local_fit_columns(
                self.spark, plans, config, self.registry, bounds=bounds
            )
        else:
            result_df = parallel_fit_columns(
                self.spark, plans, config, self.registry, bounds=bounds,
                broadcast_registry=broadcasts,
            )
        return self._results(
            result_df, plans, samples, config, broadcasts, source
        )

    # ------------------------------------------------------ instant plotting
    def _plot_data(
        self, result, df, column, bins: int, force_recompute: bool
    ):
        """Cache-first plot data for the histogram plot: the cached
        fitting sample (see ``_cached_sample``), else the distributed
        histogram of ``df``. Returns (data, hist_density, bin_edges)
        with exactly one side populated."""
        data = self._cached_sample(result, df, force_recompute)
        if data is not None:
            return data, None, None
        df = _ensure_spark_df(self.spark, df)
        density, edges = compute_histogram(
            df, column or result.column_name, bins=bins
        )
        return None, density, edges

    def plot(
        self, result, df=None, column=None, bins: int = 50,
        force_recompute: bool = False, ax=None,
    ):
        """Histogram + fitted-PDF overlay, cached-sample-first
        (reference continuous_fitter.py:648: ``fitter.plot(best)``
        after a fit draws instantly, no DAG recompute)."""
        from spark_bestfit_spark import plotting as P

        data, density, edges = self._plot_data(
            result, df, column, bins, force_recompute
        )
        return P.plot_distribution(
            result, data, bins=bins, ax=ax,
            hist_density=density, bin_edges=edges,
        )

    def plot_comparison(
        self, results, df=None, column=None, bins: int = 50,
        force_recompute: bool = False, ax=None,
    ):
        """Multi-fit overlay (reference continuous_fitter.py:757 /
        plotting.py:409), cached-sample-first."""
        from spark_bestfit_spark import plotting as P

        if not results:
            raise ValueError("plot_comparison needs at least one result")
        data = self._plot_sample(results[0], df, column, force_recompute)
        return P.plot_comparison(results, data, bins=bins, ax=ax)

    def plot_qq(
        self, result, df=None, column=None,
        force_recompute: bool = False, ax=None,
    ):
        """Q-Q plot, cached-sample-first (reference
        continuous_fitter.py:1065)."""
        from spark_bestfit_spark import plotting as P

        data = self._plot_sample(result, df, column, force_recompute)
        return P.plot_qq(result, data, ax=ax)

    def plot_pp(
        self, result, df=None, column=None,
        force_recompute: bool = False, ax=None,
    ):
        """P-P plot, cached-sample-first (reference
        continuous_fitter.py:1179)."""
        from spark_bestfit_spark import plotting as P

        data = self._plot_sample(result, df, column, force_recompute)
        return P.plot_pp(result, data, ax=ax)

    def fit_grouped(
        self,
        df: DataFrame,
        column: str,
        group_col: str,
        distributions: list | None = None,
        config: FitterConfig | None = None,
        max_groups: int = 200,
        **kwargs,
    ) -> FitResults:
        """Fit the distribution library to one column PER GROUP — a
        Spark-first extension the single-node reference cannot express:
        every per-group prelude is batched into one cluster pass, so
        the job count is constant in the number of groups.

        - per-group min/max/count: ONE groupBy aggregation;
        - per-group histograms: ONE scan (``compute_histograms_grouped``:
          each row bucketed against its group's own bounds joined in
          by broadcast, then a (group, bin) groupBy — map-side
          combined, <= G x bins rows collected);
        - per-group fitting samples: ONE `sampleBy` pass (per-group
          fractions sized to the fitting sample), truncated
          deterministically driver-side;
        - ONE (group, distribution) fan-out through the same
          LPT-packed engine as multi-column fits.

        Results land in the standard relation with
        ``column_name = f"{column}[{group}]"``, so the whole query
        surface — ``best_per_column``, thresholds, lazy metrics —
        works per group unchanged.

        Driver memory holds G histograms + G samples (~90 KB each), so
        the operator targets grouping keys with up to ``max_groups``
        distinct values (domains, return flags, languages...) and
        raises beyond that; rows with a null group are excluded (a
        null key names no group). At 100 TB: two full scans + one
        sample pass, all shuffles carrying <= G x bins rows.
        """
        df = _ensure_spark_df(self.spark, df)
        config = _merge_config(config, kwargs)
        if config.censoring_column is not None:
            raise NotImplementedError(
                "fit_grouped does not support censoring_column: the "
                "grouped sample pass carries no event mask, so a "
                "censored config would silently produce uncensored "
                "per-group fits — use fit() per group for censored data"
            )
        self._validate(df, [column], config)
        if group_col not in df.columns:
            raise ValueError(f"group column {group_col!r} not found")
        if distributions:
            self._validate_names(distributions)
        clean, stats_rows = _grouped_counts(
            df, column, group_col, max_groups,
            F.min(column).alias("lo"), F.max(column).alias("hi"),
        )
        if not stats_rows:
            return self._empty_results()
        gstats = {
            r[group_col]: {
                "min": float(r["lo"]), "max": float(r["hi"]),
                "count": int(r["n"]),
            }
            for r in stats_rows
        }
        # the sample pass and the histogram scan are independent given
        # the stats — race them (same prelude fusion as fit():
        # wall-clock = max of the two job latencies, not the sum)
        hist_future = start_job(
            self.spark, compute_histograms_grouped, clean, column,
            group_col, gstats, config.bins, config.use_rice_rule,
        )
        samples_by_group = grouped_samples(
            clean, column, group_col,
            {g: s["count"] for g, s in gstats.items()}, config,
        )
        hist_by_group = hist_future.result()
        plans: dict = {}
        samples: dict = {}
        for g in gstats:
            sample = samples_by_group.get(g)
            if sample is None or sample.size < 2 or g not in hist_by_group:
                continue
            label = f"{column}[{g}]"
            samples[label] = sample
            plans[label] = self._plan(
                sample, hist_by_group[g], distributions, config
            )
        if not plans:
            return self._empty_results()
        return self._fan_out(
            plans, samples, config, (config.lower_bound, config.upper_bound)
        )

    def _fit_censored(
        self, src: DataFrame, cols: list, distributions, config, bounds
    ) -> FitResults:
        """Censored (survival) path: planned like ``fit()`` — one stats
        job, then one histogram job for all columns raced against one
        sample job for all columns (each value carries its event mask)
        — then ONE fan-out."""
        all_stats = multi_column_stats(src, cols)
        live_cols = [c for c in cols if all_stats[c]["count"] > 0]
        if not live_cols:
            return self._empty_results()
        counts = {c: int(all_stats[c]["count"]) for c in live_cols}
        hist_future = start_job(
            self.spark, compute_histograms_multi, src, live_cols,
            all_stats, config.bins, config.use_rice_rule,
        )
        censored = build_fitting_samples_multi(
            src, live_cols, config, counts, censor=config.censoring_column
        )
        histograms = hist_future.result()
        plans: dict = {}
        samples: dict = {}
        for c, (sample, censor_mask) in censored.items():
            if sample.size < 2:
                continue
            samples[c] = sample
            plans[c] = {
                **self._plan(sample, histograms[c], distributions, config),
                "censor_mask": censor_mask,
            }
        if not plans:
            return self._empty_results()
        return self._fan_out(
            plans, samples, config, bounds,
            partial(
                _recreate_sample, src, config, counts,
                config.censoring_column,
            ),
        )


class DiscreteDistributionFitter(_Fitter):
    """Fits the discrete distribution library to integer-valued columns
    (reference DiscreteFitter capability, same engine spine)."""

    def _select_distributions(self, config: FitterConfig) -> list:
        names = self.registry.get_discrete_distributions(
            additional_exclusions=list(config.additional_exclusions)
        )
        if config.max_distributions is not None:
            names = names[: config.max_distributions]
        return names

    def _fan_out(self, drawn: dict, distributions, config, source=None):
        """ONE (key, distribution) fan-out over the ``drawn`` keys
        ``{key: ((x_values, pmf, counts), sample)}`` whose sample holds
        at least two values, collected into the results snapshot."""
        from spark_bestfit_spark.operators.discrete_fit import (
            parallel_fit_discrete_columns,
        )

        names = distributions or self._select_distributions(config)
        plans = {
            key: {
                "names": list(names), "sample": sample,
                "x_values": x_values, "pmf": pmf,
            }
            for key, ((x_values, pmf, _), sample) in drawn.items()
            if sample.size >= 2
        }
        if not plans:
            return self._empty_results()
        broadcasts: list = []
        result_df = parallel_fit_discrete_columns(
            self.spark, plans, config, self.registry,
            broadcast_registry=broadcasts,
        )
        samples = {key: p["sample"] for key, p in plans.items()}
        return self._results(
            result_df, plans, samples, config, broadcasts, source
        )

    def fit(
        self,
        df: DataFrame,
        column: str | None = None,
        columns: list | None = None,
        distributions: list | None = None,
        config: FitterConfig | None = None,
        **kwargs,
    ) -> FitResults:
        """Fit the discrete library to integer-valued columns. The
        prelude is ONE job, the stacked PMF aggregation: each column's
        fitting sample is drawn from its value counts on the driver."""
        if column is None and columns is None:
            raise ValueError("provide column= or columns=")
        df = _ensure_spark_df(self.spark, df)
        cols = list(columns) if columns else [column]
        config = _merge_config(config, kwargs)
        _check_numeric(df, cols)
        if distributions:
            self._validate_names(distributions)
        pmfs = empirical_pmfs_multi(df, cols)
        draw = partial(_counts_sample, pmfs, config)
        return self._fan_out(
            {c: (pmfs[c], draw(c)) for c in cols}, distributions, config,
            draw,
        )

    def fit_grouped(
        self,
        df: DataFrame,
        column: str,
        group_col: str,
        distributions: list | None = None,
        config: FitterConfig | None = None,
        max_groups: int = 200,
        **kwargs,
    ) -> FitResults:
        """Discrete fitting PER GROUP — the discrete twin of
        ``DistributionFitter.fit_grouped`` with the same constant job
        count in the number of groups:

        - per-group counts: ONE groupBy aggregation (+ max_groups
          guard, null groups excluded);
        - per-group empirical PMFs: ONE (group, floored-value)
          aggregation — map-side combined, the shuffle carries one row
          per (group, support point);
        - per-group samples: no job, drawn from each group's value
          counts with its own (seed, crc32(str(group))) generator;
        - ONE (group, distribution) fan-out; results address as
          ``column[group]``.
        """
        df = _ensure_spark_df(self.spark, df)
        _check_numeric(df, [column])
        if group_col not in df.columns:
            raise ValueError(f"group column {group_col!r} not found")
        config = _merge_config(config, kwargs)
        if distributions:
            self._validate_names(distributions)
        clean, counts = _grouped_counts(df, column, group_col, max_groups)
        if not counts:
            return self._empty_results()
        pmfs = grouped_pmfs(
            clean, column, group_col, [r[group_col] for r in counts]
        )
        target, seed = config.fitting_sample_size, config.random_seed
        return self._fan_out(
            {
                f"{column}[{g}]": (
                    (x, pmf, n),
                    sample_from_counts(x, n, target, group_rng(seed, g)),
                )
                for g, (x, pmf, n) in pmfs.items()
            },
            distributions, config,
        )

    def plot(
        self, result, df=None, column=None,
        force_recompute: bool = False, ax=None,
    ):
        """Empirical-PMF bars + fitted-PMF stems, cached-sample-first
        (reference discrete_fitter.py:518 / plotting.py:735)."""
        from spark_bestfit_spark import plotting as P

        data = self._plot_sample(result, df, column, force_recompute)
        return P.plot_discrete_distribution(result, data, ax=ax)
