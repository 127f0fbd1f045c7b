"""Gaussian copula: correlated synthetic data from per-column marginals.

Capability parity with the reference (copula.py:43-390) on a Spark-first
plan:

- **fit**: best marginal per column (a results-relation top-1 query per
  column) + a distributed Spearman correlation (``pyspark.ml.stat.
  Correlation`` over assembled vectors — rank transform and the k x k
  reduction run on executors; only the k x k matrix lands on the driver)
  + a cached Cholesky factor.
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

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from spark_bestfit_spark.functions import special as sp
from spark_bestfit_spark.functions.fast_ppf import ppf_from_z
from spark_bestfit_spark.operators.generate import generate_samples

SCHEMA_VERSION = "1.1"

__all__ = ["GaussianCopula", "spearman_correlation"]


def spearman_correlation(
    df: DataFrame, columns: list, method: str = "spearman"
) -> np.ndarray:
    """Distributed correlation matrix over k columns (reference A8:
    backends/spark.py:334-371). Null rows are skipped by the assembler."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    assembler = VectorAssembler(
        inputCols=list(columns), outputCol="_corr_vec", handleInvalid="skip"
    )
    assembled = assembler.transform(df.select(*columns))
    mat = Correlation.corr(assembled, "_corr_vec", method).head()[0]
    return np.asarray(mat.toArray(), dtype=np.float64)


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
        + distributed Spearman correlation."""
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
