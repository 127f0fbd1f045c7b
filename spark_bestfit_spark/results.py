"""Fit-results snapshot + fluent query surface (SURVEY §1.3, §2.5, §2.12).

A fit's result relation is small (at most C × D rows), so ``FitResults``
collects it ONCE into an immutable driver-side snapshot and answers the
reference's query API (collection.py:51-1175) from it with no further
Spark job:

- ``best``: rows ranked by one key in Spark's order — the metric ASC
  NULLS LAST (DESC NULLS LAST for pvalue/ad_pvalue, NaN above every
  number), then column_name and distribution, so top-k is reproducible
  (oracle-checkable);
- ``best_per_column``: the same key within each column (SURVEY T2,
  replacing the reference's per-column loop);
- ``filter`` / ``n_acceptable``: metric thresholds with Spark's
  comparison rules (a null never passes);
- ``summary`` / ``quality_report``: one pass over the snapshot.

``df`` and ``best_df`` stay Spark relations, built from the snapshot on
first use.
"""

from __future__ import annotations

import copy
import json
import pickle
import warnings
from collections import namedtuple
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from spark_bestfit_spark.functions.distributions.base import (
    DiscreteDistribution,
)
from spark_bestfit_spark.functions.distributions.registry import (
    DistributionRegistry,
)

VALID_METRICS = (
    "sse",
    "aic",
    "bic",
    "ks_statistic",
    "pvalue",
    "ad_statistic",
    "ad_pvalue",
)

SCHEMA_VERSION = "1.1"


@dataclass
class DistributionFitResult:
    """One (column, distribution) fit — a serializable model object
    (reference storage.py:240-709)."""

    column_name: str
    distribution: str
    parameters: tuple
    sse: float = float("nan")
    aic: float = float("nan")
    bic: float = float("nan")
    ks_statistic: float | None = None
    pvalue: float | None = None
    ad_statistic: float | None = None
    ad_pvalue: float | None = None
    data_min: float = float("nan")
    data_max: float = float("nan")
    data_mean: float = float("nan")
    data_stddev: float = float("nan")
    data_count: float = float("nan")
    data_kurtosis: float = float("nan")
    data_skewness: float = float("nan")
    lower_bound: float | None = None
    upper_bound: float | None = None
    _registry: DistributionRegistry | None = field(
        default=None, repr=False, compare=False
    )
    _sample: np.ndarray | None = field(default=None, repr=False, compare=False)

    # ------------------------------------------------------------ model ops
    def _dist(self):
        reg = self._registry or DistributionRegistry()
        return reg.resolve(self.distribution)

    def _bounded(self) -> bool:
        def _set(v):
            return v is not None and np.isfinite(v)

        return _set(self.lower_bound) or _set(self.upper_bound)

    def _truncated_view(self):
        """Truncation-wrapped frozen model for bounded fits (reference
        storage.py:368-432: model ops on a bounded result go through
        TruncatedFrozenDist, not the raw distribution)."""
        from spark_bestfit_spark.functions.truncated import (
            TruncatedDistribution,
        )

        return TruncatedDistribution(
            self._dist(), tuple(self.parameters),
            self.lower_bound, self.upper_bound,
        )

    def pdf(self, x):
        x = np.asarray(x, dtype=np.float64)
        if self._bounded():
            return self._truncated_view().pdf(x)
        return self._dist().pdf(x, *self.parameters)

    def cdf(self, x):
        x = np.asarray(x, dtype=np.float64)
        if self._bounded():
            return self._truncated_view().cdf(x)
        return self._dist().cdf(x, *self.parameters)

    def ppf(self, q):
        q = np.asarray(q, dtype=np.float64)
        if self._bounded():
            return self._truncated_view().ppf(q)
        return self._dist().ppf(q, *self.parameters)

    def sample(self, size: int = 1, random_state=None):
        if self._bounded():
            return self._truncated_view().rvs(size, random_state)
        return self._dist().rvs(tuple(self.parameters), size, random_state)

    def get_param_names(self) -> list:
        return self._dist().param_names()

    def confidence_intervals(
        self,
        spark=None,
        n_resamples: int = 1000,
        confidence: float = 0.95,
        seed: int = 42,
    ) -> dict:
        """Percentile-bootstrap CIs for the fitted parameters, using the
        cached fitting sample. With a SparkSession the resamples fan out
        over the cluster; without one a smaller driver-local bootstrap
        runs (SURVEY F19)."""
        if self._sample is None:
            raise ValueError(
                "no cached fitting sample on this result; refit and query "
                "through FitResults to attach one"
            )
        from spark_bestfit_spark.operators import bootstrap as B

        if spark is not None:
            return B.bootstrap_ci(
                spark, self.distribution, self._sample,
                n_resamples=n_resamples, confidence=confidence, seed=seed,
                registry=self._registry,
            )
        return B.bootstrap_ci_local(
            self.distribution, self._sample,
            n_resamples=min(n_resamples, 200), confidence=confidence,
            seed=seed, registry=self._registry,
        )

    # -------------------------------------------------------- serialization
    def to_dict(self) -> dict:
        d = {
            "schema_version": SCHEMA_VERSION,
            "column_name": self.column_name,
            "distribution": self.distribution,
            "parameters": [float(p) for p in self.parameters],
        }
        for k in (
            "sse", "aic", "bic", "ks_statistic", "pvalue", "ad_statistic",
            "ad_pvalue", "data_min", "data_max", "data_mean", "data_stddev",
            "data_count", "data_kurtosis", "data_skewness", "lower_bound",
            "upper_bound",
        ):
            v = getattr(self, k)
            d[k] = None if v is None else float(v)
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "DistributionFitResult":
        """Schema-versioned load (reference serialization.py:21-23,
        85-140): accepts v1.0 payloads (no ``lower_bound`` /
        ``upper_bound`` — added in 1.1), the reference's NESTED
        ``{"metrics": {...}}`` layout as well as the flat layout, and
        ignores unknown fields so newer-schema artifacts still load
        (forward compatibility). ``distribution`` and ``parameters``
        are required."""
        if "distribution" not in d or "parameters" not in d:
            raise ValueError(
                "model payload missing required fields "
                "'distribution'/'parameters'"
            )
        merged = dict(d)
        # nested-metrics layout: lift into the flat namespace
        metrics = merged.pop("metrics", None)
        if isinstance(metrics, dict):
            for k, v in metrics.items():
                merged.setdefault(k, v)
        known = {
            "column_name", "distribution", "parameters", "sse", "aic",
            "bic", "ks_statistic", "pvalue", "ad_statistic", "ad_pvalue",
            "data_min", "data_max", "data_mean", "data_stddev",
            "data_count", "data_kurtosis", "data_skewness",
            "lower_bound", "upper_bound",
        }
        kept = {k: v for k, v in merged.items() if k in known}
        kept["parameters"] = tuple(kept.get("parameters", ()))
        kept.setdefault("column_name", None)
        return cls(**kept)

    def save(self, path: str, format: str = "json") -> None:
        if format == "json":
            with open(path, "w") as f:
                json.dump(self.to_dict(), f, indent=2)
        elif format == "pickle":
            with open(path, "wb") as f:
                pickle.dump(self, f)
        else:
            raise ValueError(f"unknown format {format!r} (json|pickle)")

    @classmethod
    def load(cls, path: str, format: str = "json") -> "DistributionFitResult":
        if format == "json":
            with open(path) as f:
                return cls.from_dict(json.load(f))
        if format == "pickle":
            with open(path, "rb") as f:
                obj = pickle.load(f)  # noqa: S301 — user-owned artifact
            if not isinstance(obj, cls):
                raise TypeError(f"{path} does not contain a {cls.__name__}")
            return obj
        raise ValueError(f"unknown format {format!r} (json|pickle)")


_ROW_FIELDS = [
    "column_name", "distribution", "parameters", "sse", "aic", "bic",
    "ks_statistic", "pvalue", "ad_statistic", "ad_pvalue", "data_min",
    "data_max", "data_mean", "data_stddev", "data_count", "data_kurtosis",
    "data_skewness", "lower_bound", "upper_bound",
]

# one snapshot row: FIT_RESULT_SCHEMA's fields, parameters as a tuple
_Row = namedtuple("_Row", _ROW_FIELDS)


def _metric_key(v, descending: bool = False) -> tuple:
    """Sort key of a double in Spark's order: NaN is greater than every
    number (+inf too) and equal to itself; a null sorts last in either
    direction."""
    if v is None:
        return (2, 0.0)
    if v != v:
        return (0 if descending else 1, 0.0)
    return (1, -v) if descending else (0, v)


def _name_key(v) -> tuple:
    """Spark's ascending order of a string: nulls first."""
    return (v is not None, v or "")


def _rank_key(metric: str):
    """Row -> sort key of Spark's ``ORDER BY metric ASC NULLS LAST (DESC
    NULLS LAST for pvalue/ad_pvalue, where larger is better),
    column_name, distribution`` — the one ranking every query uses; works
    on snapshot rows and on hydrated records alike."""
    descending = metric in ("pvalue", "ad_pvalue")
    return lambda r: (
        _metric_key(getattr(r, metric), descending),
        _name_key(r.column_name), _name_key(r.distribution),
    )


def _passes(v, bound, at_most: bool) -> bool:
    """Spark's ``v <= bound`` (``v >= bound`` when not ``at_most``): a
    null never passes, and NaN compares as in ``_metric_key``."""
    if v is None:
        return False
    a, b = _metric_key(v), _metric_key(bound)
    return a <= b if at_most else a >= b


class FitResults:
    """Query surface over an immutable driver-side snapshot of the
    fit-results relation."""

    def __init__(
        self,
        df: DataFrame,
        registry: DistributionRegistry | None = None,
        samples: dict | None = None,
        source=None,
    ):
        # the results' one Spark action: every query reads this snapshot
        self._rows = tuple(
            _Row(**{f: d.get(f) for f in _ROW_FIELDS})._replace(
                parameters=tuple(d.get("parameters") or ())
            )
            for d in (r.asDict() for r in df.collect())
        )
        self._spark = df.sparkSession
        self._df: DataFrame | None = None
        self._registry = registry or DistributionRegistry()
        self._samples = samples or {}
        self._sorted_samples: dict = {}
        # column -> that column's fitting sample, drawn again by the
        # fit's own sampler call (reference SA5: same df + seed => same
        # sample)
        self._source = source

    def _view(self, rows) -> "FitResults":
        """These results restricted to (or recomputed as) ``rows``, with
        the same registry, samples and source — no Spark job."""
        view = copy.copy(self)
        view._rows = tuple(rows)
        view._df = None
        return view

    # ------------------------------------------------------------- plumbing
    @property
    def df(self) -> DataFrame:
        """The snapshot as a Spark relation (built on first use)."""
        if self._df is None:
            self._df = self._relation(self._rows)
        return self._df

    def _relation(self, rows) -> DataFrame:
        from spark_bestfit_spark.operators.fit import FIT_RESULT_SCHEMA

        return self._spark.createDataFrame(
            [r._replace(parameters=list(r.parameters)) for r in rows],
            schema=FIT_RESULT_SCHEMA,
        )

    def count(self) -> int:
        return len(self._rows)

    def unpersist(self, blocking: bool = False) -> None:
        """No-op: the results hold no Spark state (the fitter releases
        the fan-out's broadcast variables right after its collect,
        reference O2)."""

    def columns(self) -> list:
        """Distinct source column names (SURVEY P5)."""
        return sorted(
            {r.column_name for r in self._rows if r.column_name is not None}
        )

    def _hydrate(self, row: _Row) -> DistributionFitResult:
        """A fresh record for a snapshot row (the lazy recompute fills
        records in place, so a snapshot row is never handed out)."""
        return DistributionFitResult(
            **row._asdict(),
            _registry=self._registry,
            _sample=self._samples.get(row.column_name),
        )

    def _top(self, rows, n: int, metric: str) -> list:
        """Fresh records of the n best ``rows`` by ``metric``."""
        ranked = sorted(rows, key=_rank_key(metric))
        return [self._hydrate(r) for r in ranked[:n]]

    @staticmethod
    def _check_metric(metric: str) -> None:
        if metric not in VALID_METRICS:
            raise ValueError(
                f"invalid metric {metric!r}; choose from {VALID_METRICS}"
            )

    # --------------------------------------------------------- lazy metrics
    _LAZY_METRICS = ("ks_statistic", "pvalue", "ad_statistic", "ad_pvalue")

    def _metric_is_deferred(self, metric: str) -> bool:
        """True when the requested metric was skipped at fit time
        (lazy_metrics=True, or a censored fit) and must be recomputed
        from the sample: there are rows and all of them are null for
        it."""
        return (
            metric in self._LAZY_METRICS
            and bool(self._rows)
            and all(getattr(r, metric) is None for r in self._rows)
        )

    def _get_sample(self, column: str):
        """Cached fitting sample, or its recreation from the source
        relation (same df + seed => same sample, reference
        SA5/collection.py:173-228): the fit's own sampler call, made
        for this one column, redraws exactly the fit's sample."""
        sample = self._samples.get(column)
        if sample is not None:
            return sample
        if self._source is None:
            raise ValueError(
                f"no cached sample for column {column!r} and no source "
                "relation attached; lazy metrics need the originating "
                "fit's sample (refit with lazy_metrics=False or keep "
                "the results object)"
            )
        try:
            sample = self._source(column)
        except Exception as exc:  # noqa: BLE001
            raise ValueError(
                f"could not recreate the fitting sample for {column!r} "
                f"from the source relation (source unpersisted or session "
                f"gone?): {exc}"
            ) from exc
        self._samples[column] = sample
        return sample

    def _get_sorted_sample(self, column: str):
        """Sorted view of the fitting sample, cached per column: every
        lazy-metric recompute over the same column shares one sort
        instead of re-sorting per candidate distribution."""
        cached = self._sorted_samples.get(column)
        if cached is None:
            cached = np.sort(
                np.asarray(self._get_sample(column), dtype=np.float64)
            )
            self._sorted_samples[column] = cached
        return cached

    def _recompute_metrics(self, result: DistributionFitResult) -> None:
        """Fill KS/AD (+p-values) in place from the cached fitting sample
        (reference lazy path: collection.py:1008-1120, metrics.py:325-382).

        One model-CDF evaluation per candidate over the shared
        pre-sorted sample serves both statistics — the CDF (often a
        quadrature-backed kernel) dominates this path, so the batched
        form halves the recompute cost vs separate KS and AD passes."""
        sample = self._get_sorted_sample(result.column_name)
        from spark_bestfit_spark.functions import metrics as M

        dist = self._registry.resolve(result.distribution)
        params = tuple(result.parameters)
        if isinstance(dist, DiscreteDistribution):
            # the eager discrete row: K-S over the support, no A-D
            ks, p = M.compute_discrete_ks(dist, params, sample)
            result.ks_statistic = ks if np.isfinite(ks) else None
            result.pvalue = p if np.isfinite(p) else None
            return
        truncated = (
            result.lower_bound is not None or result.upper_bound is not None
        )
        if truncated:
            from spark_bestfit_spark.functions.truncated import (
                TruncatedDistribution,
            )

            dist = TruncatedDistribution(
                dist, params, result.lower_bound, result.upper_bound
            )
        ks, p, ad = M.compute_ks_and_ad(dist, params, sample)
        result.ks_statistic = ks if np.isfinite(ks) else None
        result.pvalue = p if np.isfinite(p) else None
        result.ad_statistic = ad if np.isfinite(ad) else None
        result.ad_pvalue = (
            None if truncated
            else M.compute_ad_pvalue(ad, result.distribution, sample.size)
        )

    @staticmethod
    def _lazy_pool(n: int) -> int:
        """AIC-ranked candidates a deferred top-n query recomputes."""
        return n * 3 + 5

    def _rerank(self, candidates: list, n: int, metric: str) -> list:
        """Recompute the deferred ``metric`` for the candidates on the
        driver and keep the best n."""
        for r in candidates:
            self._recompute_metrics(r)
        candidates.sort(key=_rank_key(metric))
        return candidates[:n]

    def materialize(self) -> "FitResults":
        """Eagerly fill deferred KS/AD for every row, returning new
        results over the filled snapshot."""
        results = [self._hydrate(r) for r in self._rows]
        for r in results:
            if r.ks_statistic is None:
                self._recompute_metrics(r)
        return self._view(
            _Row(*(getattr(r, f) for f in _ROW_FIELDS)) for r in results
        )

    # -------------------------------------------------------------- queries
    def best(self, n: int = 1, metric: str = "sse"):
        """Top-n fits by metric (SURVEY T1). Returns result records
        (n=1 returns the single record). When the metric was deferred
        (lazy_metrics=True), candidates are pre-selected by AIC and the
        metric is computed on the driver for candidates only."""
        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        self._check_metric(metric)
        if self._metric_is_deferred(metric):
            results = self._rerank(
                self._top(self._rows, self._lazy_pool(n), "aic"), n, metric
            )
        else:
            results = self._top(self._rows, n, metric)
        self._warn_if_poor(results, metric)
        if n == 1:
            return results[0] if results else None
        return results

    @staticmethod
    def _warn_if_poor(ranked: list, metric: str) -> None:
        """Warn (at the ranking call's caller) when the best fit by K-S
        is still a poor one."""
        if metric != "ks_statistic" or not ranked:
            return
        v = ranked[0].ks_statistic
        if v is not None and np.isfinite(v) and v > 0.5:
            warnings.warn(
                f"best fit has poor K-S statistic ({v:.3f}); "
                "data may not match any library distribution",
                stacklevel=3,
            )

    def best_df(self, n: int, metric: str = "sse") -> DataFrame:
        """Top-n relation (for oracle checks / composition)."""
        self._check_metric(metric)
        return self._relation(
            sorted(self._rows, key=_rank_key(metric))[:n]
        )

    def best_per_column(
        self, n: int = 1, metric: str = "sse", columns=None
    ) -> dict:
        """Per-group top-k (SURVEY T2): each column's rows ranked by
        ``best``'s key; the dict runs in column order, a null column
        name first as in Spark. ``columns`` restricts the query to
        those columns. A deferred metric (lazy_metrics=True) takes the
        same path as ``best``: AIC-ranked candidates per column,
        recomputed on the driver, so each column's list equals
        ``for_column(c).best(n)`` (and warns like it)."""
        self._check_metric(metric)
        rows = self._rows
        if columns is not None:
            wanted = set(columns)
            rows = [r for r in rows if r.column_name in wanted]
        deferred = self._metric_is_deferred(metric)
        k, by = (self._lazy_pool(n), "aic") if deferred else (n, metric)
        grouped: dict = {}
        for r in rows:
            grouped.setdefault(r.column_name, []).append(r)
        out = {
            c: self._top(grouped[c], k, by)
            for c in sorted(grouped, key=_name_key) if k > 0
        }
        if deferred:
            out = {c: self._rerank(rs, n, metric) for c, rs in out.items()}
        for ranked in out.values():
            self._warn_if_poor(ranked, metric)
        return out

    # ------------------------------------------------------ instant plotting
    def _plot_target(self, result, metric: str):
        """Resolve (result, cached sample) for the plot wrappers: the
        cached fitting sample is hit first (NO Spark job — reference
        'instant plotting', continuous_fitter.py:648-871); results of
        lazy provenance recreate it deterministically via _get_sample."""
        if result is None:
            result = self.best(metric=metric)
            if result is None:
                raise ValueError("no fit results to plot")
        return result, self._get_sample(result.column_name)

    def plot(self, result=None, metric: str = "sse", **kwargs):
        """Histogram + fitted-PDF overlay from the CACHED sample — no
        DAG recompute. ``result`` defaults to ``best(metric=...)``."""
        from spark_bestfit_spark import plotting as P

        result, data = self._plot_target(result, metric)
        return P.plot_distribution(result, data, **kwargs)

    def plot_comparison(
        self, n: int = 3, metric: str = "sse",
        column: str | None = None, **kwargs,
    ):
        """Top-n fits overlaid on one histogram (reference
        plot_comparison) from the cached sample.

        With ``column=None`` on a multi-column result the overlay is
        restricted to the TOP result's source column — fits of other
        columns never share the histogram (they'd be overlaid on the
        wrong sample); pass ``column=`` explicitly to pick another."""
        from spark_bestfit_spark import plotting as P

        res = self if column is None else self.for_column(column)
        results = res.best(n=max(n, 2), metric=metric)[:n]
        if not results:
            raise ValueError("no fit results to plot")
        if column is None:
            top_col = results[0].column_name
            results = [r for r in results if r.column_name == top_col]
            if len(results) < min(n, 2):
                # the head of the global ranking mixed columns — rank
                # within the top column instead so the overlay stays
                # a real comparison
                results = self.for_column(top_col).best(
                    n=max(n, 2), metric=metric
                )[:n]
        data = self._get_sample(results[0].column_name)
        return P.plot_comparison(results, data, **kwargs)

    def plot_qq(self, result=None, metric: str = "sse", **kwargs):
        from spark_bestfit_spark import plotting as P

        result, data = self._plot_target(result, metric)
        return P.plot_qq(result, data, **kwargs)

    def plot_pp(self, result=None, metric: str = "sse", **kwargs):
        from spark_bestfit_spark import plotting as P

        result, data = self._plot_target(result, metric)
        return P.plot_pp(result, data, **kwargs)

    def plot_diagnostics(self, result=None, metric: str = "sse", **kwargs):
        from spark_bestfit_spark import plotting as P

        result, data = self._plot_target(result, metric)
        return P.plot_diagnostics(result, data, **kwargs)

    def for_column(self, column: str) -> "FitResults":
        """Restrict to one source column (SURVEY P4)."""
        return self._view(
            r for r in self._rows
            if column is not None and r.column_name == column
        )

    def filter(
        self,
        max_sse: float | None = None,
        max_aic: float | None = None,
        max_bic: float | None = None,
        max_ks_statistic: float | None = None,
        min_pvalue: float | None = None,
        max_ad_statistic: float | None = None,
    ) -> "FitResults":
        """Threshold filter over the metric columns (SURVEY P3); only
        ``pvalue`` is a lower bound."""
        bounds = {
            "sse": max_sse, "aic": max_aic, "bic": max_bic,
            "ks_statistic": max_ks_statistic, "pvalue": min_pvalue,
            "ad_statistic": max_ad_statistic,
        }
        tests = [(m, b) for m, b in bounds.items() if b is not None]
        return self._view(
            r for r in self._rows
            if all(_passes(getattr(r, m), b, m != "pvalue") for m, b in tests)
        )

    def summary(self) -> dict:
        """min/mean/max of each metric + counts (SURVEY A9), with Spark's
        aggregate rules: nulls are skipped, NaN is the largest value."""
        out: dict = {
            "n_fits": len(self._rows), "n_columns": len(self.columns()),
        }
        for m in ("sse", "aic", "bic", "ks_statistic", "pvalue"):
            vals = [getattr(r, m) for r in self._rows]
            vals = [v for v in vals if v is not None]
            out[m] = {
                "min": min(vals, key=_metric_key) if vals else None,
                "mean": sum(vals) / len(vals) if vals else None,
                "max": max(vals, key=_metric_key) if vals else None,
            }
        return out

    def n_acceptable(
        self,
        min_pvalue: float = 0.05,
        max_ks_statistic: float | None = None,
    ) -> int:
        """Count of fits passing quality thresholds (SURVEY A10)."""
        return self.filter(
            min_pvalue=min_pvalue, max_ks_statistic=max_ks_statistic
        ).count()

    def quality_report(self, n: int = 3, min_pvalue: float = 0.05) -> dict:
        """Top fits + summary + acceptability (SURVEY quality_report,
        collection.py:640-741)."""
        top = self.best(max(n, 2), metric="sse")
        summary = self.summary()
        n_ok = self.n_acceptable(min_pvalue=min_pvalue)
        warnings_list = []
        if summary["n_fits"] == 0:
            warnings_list.append("no successful fits")
        elif n_ok == 0:
            warnings_list.append(
                f"no fits pass pvalue >= {min_pvalue}; interpret with caution"
            )
        return {
            "top_fits": [
                {
                    "column": r.column_name,
                    "distribution": r.distribution,
                    "sse": r.sse,
                    "ks_statistic": r.ks_statistic,
                    "pvalue": r.pvalue,
                }
                for r in (top or [])
            ],
            "summary": summary,
            "n_acceptable": n_ok,
            "warnings": warnings_list,
        }
