"""Gaussian copula: correlated synthetic data from per-column marginals.

Capability parity with the reference (copula.py:43-390) on a Spark-first
plan:

- **fit**: best marginal per column (one query on the driver-resident
  results) + an exact Spearman correlation: ONE Spark job collects the
  complete rows of the k columns through Arrow, and the driver ranks
  them and takes Pearson over the ranks in numpy (the reference's local
  backend does the same, backends/local.py:300-316) + a cached
  Cholesky factor.
- **sample**: z ~ N(0, I) -> z @ L.T -> uniforms via the normal CDF
  (``ndtr``) -> marginal PPFs (closed-form fast path, truncation-aware).
- **sample_distributed**: the same math inside ``mapInPandas`` via
  ``generate_samples`` — the (cholesky, marginal-params) closure is a few
  KB; every sample row is born on an executor. One map-only stage, zero
  shuffles, scales linearly with partitions.
"""

from __future__ import annotations

import json
import warnings
from dataclasses import dataclass, field
from functools import reduce
from operator import and_

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BooleanType, NumericType

from spark_bestfit_spark.functions import special as sp
from spark_bestfit_spark.functions.fast_ppf import ppf_from_z
from spark_bestfit_spark.operators.generate import generate_samples

SCHEMA_VERSION = "1.1"

__all__ = ["GaussianCopula", "spearman_correlation"]


def _average_ranks(x: np.ndarray) -> np.ndarray:
    """1-based ranks of ``x`` with tied values sharing their mean rank
    (``==`` ties, so -0.0 ties with 0.0 and +inf with +inf)."""
    order = np.argsort(x, kind="stable")
    xs = x[order]
    starts = np.flatnonzero(np.r_[True, xs[1:] != xs[:-1]])
    ends = np.r_[starts[1:], x.size]
    ranks = np.empty(x.size, dtype=np.float64)
    ranks[order] = np.repeat((starts + ends + 1) / 2.0, ends - starts)
    return ranks


def spearman_correlation(
    df: DataFrame, columns: list, method: str = "spearman"
) -> np.ndarray:
    """k x k correlation matrix (reference A8: backends/spark.py:334-371,
    computed as in backends/local.py:300-316).

    ONE Spark job selects the columns, drops every row in which any of
    them is null or NaN (±inf rows stay) and collects the rest through
    Arrow. The driver then ranks each column (ties share their mean
    rank; ``method="pearson"`` skips ranking) and takes Pearson over the
    ranks. The diagonal is 1.0; a constant column gives NaN off it.

    Cost: the complete rows sit on the driver as float64, 8 * n * k
    bytes, and the collect is bounded by ``spark.driver.maxResultSize``
    (1 GB by default, about 40M complete rows at k = 3); above it Spark
    raises its own error. MLlib's ``Correlation`` (6 jobs around a
    distributed sort) is already impractical well below that: ~20 s for
    1M rows x 3 columns on a 4-core local[4] session, where this takes
    ~2.5 s. Raises ValueError for an unknown ``method`` or fewer than 2
    complete rows.
    """
    if method not in ("spearman", "pearson"):
        raise ValueError(
            f"method must be 'spearman' or 'pearson', got {method!r}"
        )
    sel = df.select(*columns)
    for f in sel.schema.fields:
        if not isinstance(f.dataType, (NumericType, BooleanType)):
            raise TypeError(
                f"column {f.name!r} has non-numeric type "
                f"{f.dataType.simpleString()}"
            )
    # positional names: duplicated or dotted column names stay apart
    names = [f"_{j}" for j in range(len(sel.columns))]
    x = (
        sel.toDF(*names)
        .select(*[F.col(c).cast("double").alias(c) for c in names])
        .filter(reduce(
            and_, [F.col(c).isNotNull() & ~F.isnan(c) for c in names]
        ))
        .toPandas()
        .to_numpy(dtype=np.float64)
    )
    if x.shape[0] < 2:
        raise ValueError(
            f"correlation needs >= 2 rows with every column of {columns!r} "
            f"non-null and non-NaN, got {x.shape[0]}"
        )
    if method == "spearman":
        x = np.column_stack([_average_ranks(col) for col in x.T])
    with np.errstate(divide="ignore", invalid="ignore"):
        lower = np.tril(np.atleast_2d(np.corrcoef(x, rowvar=False)), -1)
    # corrcoef's two-step scaling can differ by an ulp across the
    # diagonal; mirror one triangle so the matrix is exactly symmetric
    corr = lower + lower.T
    np.fill_diagonal(corr, 1.0)
    return corr


@dataclass
class _Marginal:
    distribution: str
    parameters: tuple
    lower_bound: float | None = None
    upper_bound: float | None = None

    def to_dict(self) -> dict:
        return {
            "distribution": self.distribution,
            "parameters": [float(p) for p in self.parameters],
            "lower_bound": self.lower_bound,
            "upper_bound": self.upper_bound,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "_Marginal":
        return cls(
            d["distribution"],
            tuple(d["parameters"]),
            d.get("lower_bound"),
            d.get("upper_bound"),
        )


@dataclass
class GaussianCopula:
    """column_names + marginals + Spearman correlation + cached Cholesky."""

    column_names: list
    marginals: dict  # name -> _Marginal
    correlation: np.ndarray
    _cholesky: np.ndarray = field(default=None, repr=False, compare=False)

    def __post_init__(self):
        self.correlation = np.asarray(self.correlation, dtype=np.float64)
        if self._cholesky is None:
            self._cholesky = self._compute_cholesky(self.correlation)

    @staticmethod
    def _compute_cholesky(corr: np.ndarray) -> np.ndarray:
        """Cholesky with diagonal jitter escalation for near-singular
        correlation matrices (constant columns, duplicated columns)."""
        jitter = 0.0
        for _ in range(8):
            try:
                return np.linalg.cholesky(
                    corr + jitter * np.eye(corr.shape[0])
                )
            except np.linalg.LinAlgError:
                jitter = max(jitter * 10.0, 1e-12)
        warnings.warn(
            "correlation matrix not positive definite; using nearest "
            "diagonal-loaded factor", stacklevel=2
        )
        return np.linalg.cholesky(
            corr + 1e-3 * np.eye(corr.shape[0])
        )

    # ------------------------------------------------------------------ fit
    @classmethod
    def fit(
        cls,
        results,
        df: DataFrame,
        columns: list | None = None,
        metric: str = "sse",
    ) -> "GaussianCopula":
        """Best marginal per column (one ranking query for all columns)
        + exact Spearman correlation (one Spark job)."""
        columns = list(columns or results.columns())
        if len(columns) < 2:
            raise ValueError("copula needs >= 2 columns")
        best = results.best_per_column(1, metric=metric, columns=columns)
        marginals = {}
        for c in columns:
            if c not in best:
                raise ValueError(f"no successful fits for column {c!r}")
            (b,) = best[c]
            marginals[c] = _Marginal(
                b.distribution, tuple(b.parameters),
                b.lower_bound, b.upper_bound,
            )
        corr = spearman_correlation(df, columns)
        return cls(columns, marginals, corr)

    # ------------------------------------------------------------- sampling
    def _transform(self, z: np.ndarray, return_uniform: bool) -> dict:
        """z (n, k) standard normals -> correlated -> marginal space.

        Marginal inversion runs in z-space (`ppf_from_z`): closed forms
        for norm/lognorm, cached Hermite quantile tables for iterative
        inversions — the uniforms are only materialized when asked for.
        """
        corr_z = z @ self._cholesky.T
        out = {}
        if return_uniform:
            u = sp.ndtr(corr_z)
            np.clip(u, 1e-12, 1.0 - 1e-12, out=u)
            for j, c in enumerate(self.column_names):
                out[c] = u[:, j]
            return out
        # clip z to the uniform-clip equivalent so tails match the old path
        np.clip(corr_z, -7.0344838377975063, 7.0344838377975063, out=corr_z)
        for j, c in enumerate(self.column_names):
            m = self.marginals[c]
            out[c] = ppf_from_z(
                m.distribution, corr_z[:, j], m.parameters,
                m.lower_bound, m.upper_bound,
            )
        return out

    def sample(
        self, n: int, seed: int = 42, return_uniform: bool = False
    ) -> dict:
        """Driver-local sampling -> dict of ndarrays (small n)."""
        rng = np.random.default_rng(seed)
        z = rng.standard_normal((n, len(self.column_names)))
        return self._transform(z, return_uniform)

    def sample_distributed(
        self,
        spark: SparkSession,
        n: int,
        num_partitions: int | None = None,
        seed: int = 42,
        return_uniform: bool = False,
    ) -> DataFrame:
        """Distributed sampling: the closure ships (cholesky, marginals);
        rows are generated per-partition with seed = base + pid."""
        cols = list(self.column_names)
        chol = self._cholesky
        marginals = {c: self.marginals[c] for c in cols}
        k = len(cols)

        def gen(rng: np.random.Generator, n_rows: int):
            z = rng.standard_normal((n_rows, k))
            corr_z = z @ chol.T
            out = {}
            if return_uniform:
                u = sp.ndtr(corr_z)
                np.clip(u, 1e-12, 1.0 - 1e-12, out=u)
                for j, c in enumerate(cols):
                    out[c] = u[:, j]
                return out
            np.clip(
                corr_z, -7.0344838377975063, 7.0344838377975063, out=corr_z
            )
            for j, c in enumerate(cols):
                m = marginals[c]
                out[c] = ppf_from_z(
                    m.distribution, corr_z[:, j], m.parameters,
                    m.lower_bound, m.upper_bound,
                )
            return out

        return generate_samples(
            spark, n, gen, cols, num_partitions=num_partitions, seed=seed
        )

    # -------------------------------------------------------- serialization
    def to_dict(self) -> dict:
        return {
            "schema_version": SCHEMA_VERSION,
            "model_type": "gaussian_copula",
            "column_names": list(self.column_names),
            "marginals": {
                c: m.to_dict() for c, m in self.marginals.items()
            },
            "correlation": self.correlation.tolist(),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "GaussianCopula":
        return cls(
            list(d["column_names"]),
            {c: _Marginal.from_dict(m) for c, m in d["marginals"].items()},
            np.asarray(d["correlation"], dtype=np.float64),
        )

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.to_dict(), f, indent=2)

    @classmethod
    def load(cls, path: str) -> "GaussianCopula":
        with open(path) as f:
            return cls.from_dict(json.load(f))
