"""Distributed synthetic-data generation (SURVEY §2.8 G1-G2, §2.9).

``generate_samples`` is the engine's one output-side dataflow operator
(reference backends/spark.py:429-514 semantics, Spark-first design):

    partition-plan DataFrame (partition_id, n_samples)   -- tiny
      -> repartition(num_partitions)                     -- one row/task
      -> mapInPandas(generator)                          -- all compute
    result stays a lazy distributed DataFrame

Scale notes: the driver only builds the O(partitions) plan table; every
sample row is born on an executor and never moves. Per-partition seeds
are ``base_seed + partition_id`` so results are reproducible for a fixed
partition count, independent of cluster size or scheduling order. At
100 TB-scale output, raise ``num_partitions`` so each task emits
~100 MB; generation remains map-only (zero shuffles).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, StructField, StructType

from spark_bestfit_spark.functions.fast_ppf import ppf_from_z

__all__ = ["generate_samples", "sample_distribution", "sample_best_fit"]

# Default-plan sizing: below ~60k rows/task the ~10 ms task launch cost
# dominates generation; above ~4M rows/task the per-task pandas batch
# (rows x cols x 8 B x a few temporaries) threatens executor memory.
_MIN_ROWS_PER_TASK = 60_000
_MAX_ROWS_PER_TASK = 4_000_000


def _partition_plan(n: int, num_partitions: int) -> list:
    """Spread n over partitions with the remainder distributed one-per-
    partition from the front (reference backends/spark.py:447-459)."""
    base, rem = divmod(n, num_partitions)
    return [
        (pid, base + (1 if pid < rem else 0))
        for pid in range(num_partitions)
        if base + (1 if pid < rem else 0) > 0
    ]


def generate_samples(
    spark: SparkSession,
    n: int,
    generator: Callable[[np.random.Generator, int], "pd.DataFrame | dict"],
    columns: list,
    num_partitions: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Fan a sample-generation closure out over the cluster.

    ``generator(rng, n_rows)`` runs once per partition with a
    partition-seeded ``numpy`` Generator and must return a mapping or
    pandas DataFrame with ``columns`` of length ``n_rows``.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    if num_partitions is None:
        # Scale the plan with n, not with the cluster: tiny requests get
        # few tasks (task launch ~10 ms dominates below ~60k rows/task),
        # huge requests get more tasks than cores so no task materializes
        # an unbounded batch. One wave at defaultParallelism in between.
        par = spark.sparkContext.defaultParallelism
        by_overhead = min(par, -(-n // _MIN_ROWS_PER_TASK))
        by_memory = -(-n // _MAX_ROWS_PER_TASK)
        num_partitions = max(1, by_overhead, by_memory)
    num_partitions = max(1, min(num_partitions, n))

    schema = StructType([StructField(c, DoubleType()) for c in columns])
    # spark.range(0, P, 1, P) natively places exactly one id per
    # partition with NO shuffle: the earlier repartitionByRange plan cost
    # a range-boundary sampling job plus an exchange stage per call, and
    # a hash repartition would leave ~1/e of the partitions empty.
    # Each partition's row count (O(partitions) ints) ships in the
    # closure instead.
    plan = spark.range(0, num_partitions, 1, num_partitions)
    rows = dict(_partition_plan(n, num_partitions))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for pid in pdf["id"]:
                pid = int(pid)
                # num_partitions <= n: every partition has a row
                rng = np.random.default_rng(seed + pid)
                out = generator(rng, rows[pid])
                frame = pd.DataFrame(out)
                yield frame[list(columns)].astype(np.float64)

    return plan.mapInPandas(gen, schema=schema)


def sample_distribution(
    spark: SparkSession,
    dist_name: str,
    params,
    n: int,
    column: str = "sample",
    num_partitions: int | None = None,
    seed: int = 42,
    lower_bound: float | None = None,
    upper_bound: float | None = None,
) -> DataFrame:
    """Distributed i.i.d. samples from one fitted distribution via
    inverse-CDF in z-space (truncation-aware).

    Drawing standard normals and inverting through ``ppf_from_z`` is
    distribution-identical to uniform draws through the PPF, but the
    iterative inversions (gamma/beta/chi2 and every truncated model)
    evaluate a cached Hermite quantile table instead of per-point
    Newton — ~30x for a gamma marginal at 1M rows."""
    params = tuple(float(p) for p in params)

    def gen(rng: np.random.Generator, n_rows: int):
        z = np.clip(rng.standard_normal(n_rows), -7.0344838377975063,
                    7.0344838377975063)
        return {column: ppf_from_z(dist_name, z, params,
                                   lower_bound, upper_bound)}

    return generate_samples(
        spark, n, gen, [column], num_partitions=num_partitions, seed=seed
    )


def sample_best_fit(
    spark: SparkSession,
    result,
    n: int,
    column: str | None = None,
    num_partitions: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Distributed samples from a ``DistributionFitResult`` (uses its
    stored bounds when the fit was truncated)."""
    return sample_distribution(
        spark,
        result.distribution,
        tuple(result.parameters),
        n,
        column=column or result.column_name,
        num_partitions=num_partitions,
        seed=seed,
        lower_bound=result.lower_bound,
        upper_bound=result.upper_bound,
    )
