"""Input-side sampling operators (SURVEY §2.7 SA1-SA5).

One rule draws every continuous fitting sample — for ``fit()``, censored
fits and the lazy recreation alike, so the same relation and seed give
the same sample (SA5). ONE job draws one ``rand(seed)`` per row; each
column keeps its valid values whose draw is below its own
:func:`sample_fraction` (~1.3x the target, from its own valid count, so
no column's sample depends on its neighbours). ``rand(seed) < frac``
keeps exactly the rows ``sample(frac, seed)`` keeps. The job filters to
rows that some column keeps, so it collects ~1.3x the target per column
however sparse a column is. Only a column above ``sample_threshold``
pays for its own pilot-skewness job, and a skewed one for its own
stratified ``sampleBy`` (approxQuantile strata, boosted tails); those
jobs run concurrently. The driver truncates each column to the target with
``default_rng(seed)``. Grouped fits draw all groups in one ``sampleBy``
pass under the same fraction rule, truncated per group by value.

Discrete fits use neither job: :func:`sample_from_counts` draws their
sample on the driver from the value counts of the empirical PMF.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import Window as _W

from spark_bestfit_spark.operators.stats import (
    quote,
    valid_column,
    valid_sql,
)
from spark_bestfit_spark.plans.config import FitterConfig
from spark_bestfit_spark.session import start_job

SKEW_STRATIFIED = 0.5
SKEW_MORE_BINS = 2.0


def sample_fraction(target: int, count: int) -> float:
    """Keep fraction that draws ~1.3x ``target`` of ``count`` rows:
    oversample, then truncate to the target on the driver."""
    return min(1.0, (target * 1.3) / max(count, 1))


def pilot_skewness(df: DataFrame, column: str, config: FitterConfig) -> float:
    """Skewness of the valid values in a 1% pilot sample: one cheap
    aggregate job, nothing collected (reference base_fitter.py:311-364
    collects <= 5k rows). Invalid values go first: one NaN makes the
    skew NaN."""
    pilot = df.sample(fraction=0.01, seed=config.random_seed)
    skew = valid_column(pilot, column).agg(F.skewness(column)).first()[0]
    return float(skew) if skew is not None else 0.0


def choose_sampling_mode(skew: float) -> tuple:
    """(mode, n_bins) from pilot skewness (reference ADR-0004)."""
    if abs(skew) < SKEW_STRATIFIED:
        return "uniform", 0
    return "stratified", (10 if abs(skew) >= SKEW_MORE_BINS else 5)


def stratified_sample(
    df: DataFrame,
    column: str,
    fraction: float,
    config: FitterConfig,
    n_strata: int = 5,
    carry: list = (),
):
    """Quantile-bucketed ``sampleBy`` with tail boost (reference
    base_fitter.py:388-477) over ``column``'s valid rows: a sparse
    stratum keeps at least ``tail_min_rows`` rows. Collects the column
    as double next to the ``carry`` columns."""
    df = valid_column(df, column)
    probs = list(np.linspace(0.0, 1.0, n_strata + 1))
    splits = sorted(set(df.approxQuantile(column, probs, 0.01)))
    if len(splits) < 3:
        rel = df.sample(fraction=fraction, seed=config.random_seed)
    else:
        lo, hi = splits[0], splits[-1]
        df = df.withColumn("_stratum", F.width_bucket(
            F.col(column), F.lit(lo), F.lit(hi + (hi - lo) * 1e-10),
            F.lit(len(splits) - 1),
        ))
        fractions = {
            b: max(fraction, min(1.0, config.tail_min_rows / n))
            for b, n in df.groupBy("_stratum").count().collect()
            if b is not None
        }
        rel = df.stat.sampleBy("_stratum", fractions, config.random_seed)
    return rel.select(F.col(column).cast("double"), *carry).toPandas()


def build_fitting_samples_multi(
    df: DataFrame,
    columns: list,
    config: FitterConfig,
    counts: dict,
    *,
    censor: str | None = None,
) -> dict:
    """Fitting samples for MANY columns in ONE collect job.

    ``counts`` holds each column's valid count. Every row draws one
    ``rand(seed)``; a column keeps its valid values whose draw is below
    its own :func:`sample_fraction`, and only rows some column keeps
    are collected. The driver truncates each column to
    ``fitting_sample_size``. Returns ``{column: values}``; with
    ``censor`` (a boolean/integer event column) a column keeps only
    rows whose event is known, as ``{column: (values, observed)}``."""
    target, seed = config.fitting_sample_size, config.random_seed
    fracs = {c: sample_fraction(target, counts[c]) for c in columns}
    obs = [F.col(censor).cast("boolean").alias("_obs")] if censor else []
    spark, floor = df.sparkSession, max(config.sample_threshold, target)
    # only a column above the threshold pays for pilot/strata jobs: the
    # pilots run concurrently, then the strata jobs beside the shared one
    pilots = {
        c: start_job(spark, pilot_skewness, df, c, config)
        for c in columns
        if config.adaptive_sampling and counts[c] > floor
    }
    own = {}
    for c, pilot in pilots.items():
        n_strata = choose_sampling_mode(pilot.result())[1]
        if n_strata:
            own[c] = start_job(
                spark, stratified_sample, df, c, fracs[c], config,
                n_strata, obs,
            )
    shared = [c for c in columns if c not in own]
    drawn = {}
    if shared:
        # SQL strings keep plan building to a few calls; each predicate
        # is parsed once, nulling what its column does not keep
        known = " AND _obs IS NOT NULL" if censor else ""
        pdf = (
            df.select(*shared, *obs, F.rand(seed).alias("_u"))
            .selectExpr(
                *[
                    f"CASE WHEN _u < {fracs[c]!r}D AND {valid_sql(df, c)}"
                    f"{known} THEN CAST({quote(c)} AS DOUBLE) END"
                    f" AS {quote(c)}"
                    for c in shared
                ],
                *(["_obs"] if censor else []),
            )
            .filter(" OR ".join(f"{quote(c)} IS NOT NULL" for c in shared))
            .toPandas()
        )
        drawn.update((c, pdf) for c in shared)
    drawn.update((c, future.result()) for c, future in own.items())
    out = {}
    for c in columns:
        values = drawn[c][c].to_numpy(dtype=np.float64)
        keep = np.isfinite(values)
        if censor:
            keep &= drawn[c]["_obs"].notna().to_numpy()
        kept = np.flatnonzero(keep)
        if kept.size > target:
            rng = np.random.default_rng(seed)
            kept = kept[rng.choice(kept.size, size=target, replace=False)]
        out[c] = values[kept]
        if censor:
            out[c] = (out[c], drawn[c]["_obs"].to_numpy()[kept].astype(bool))
    return out


def group_rng(seed: int, group) -> np.random.Generator:
    """A grouped fit's PER-GROUP generator: (seed, crc32(str(group)))."""
    return np.random.default_rng([int(seed), zlib.crc32(str(group).encode())])


def truncate_group_sample(
    arr: np.ndarray, target: int, seed: int, group
) -> np.ndarray:
    """Over-budget truncation for fit_grouped: value-sort the group's
    rows (erasing Spark's collection order), then draw WITHOUT
    replacement from the :func:`group_rng` generator. The result
    depends only on the group's value multiset and the seed — never on
    partitioning or iteration order."""
    if arr.size <= target:
        return arr
    return group_rng(seed, group).choice(
        np.sort(arr), size=target, replace=False
    )


def sample_from_counts(
    support: np.ndarray, counts: np.ndarray, target: int, rng
) -> np.ndarray:
    """A discrete fitting sample drawn from value counts WITHOUT
    replacement: the whole column in ascending order when its N rows fit
    in ``target``, else ``target`` sorted positions drawn by ``rng`` and
    mapped through the cumulative counts (works for any N)."""
    n = int(counts.sum())
    if n <= target:
        return np.repeat(support, counts)
    pos = np.sort(rng.choice(n, size=target, replace=False))
    return support[np.searchsorted(np.cumsum(counts), pos, side="right")]


def grouped_samples(
    clean: DataFrame, column: str, group_col: str, counts: dict, config
) -> dict:
    """Per-group fitting samples from ONE stratified ``sampleBy`` pass:
    each group keeps :func:`sample_fraction` of its count, then the
    deterministic per-group truncation."""
    target = config.fitting_sample_size
    fractions = {g: sample_fraction(target, n) for g, n in counts.items()}
    pdf = (
        clean.select(group_col, column)
        .sampleBy(group_col, fractions, seed=config.random_seed)
        .toPandas()
    )
    samples: dict = {}
    for g, sub in pdf.groupby(group_col, sort=False):
        arr = sub[column].to_numpy(dtype=np.float64)
        samples[g] = truncate_group_sample(
            arr[np.isfinite(arr)], target, config.random_seed, g
        )
    return samples


def neyman_allocation(
    df,
    stratum_col: str,
    value_col: str,
    total_n: int,
):
    """Neyman-optimal stratified sample allocation — size each
    stratum's sample proportional to ``N_h * sigma_h`` (population
    size x spread), the allocation that minimizes the variance of the
    stratified mean at a fixed budget (proportional allocation
    over-samples big HOMOGENEOUS strata; Neyman spends the budget
    where the uncertainty lives):

        n_h = total_n * N_h sigma_h / sum(N_h sigma_h),
        floored, remainder distributed by largest fractional part
        (ties by stratum), each capped at N_h.

    ONE grouped moment pass to the strata-sized relation; the
    rounding windows run on that relation, never the data. Returns
    ``(stratum, n_rows, sigma, allocated)``; strata with zero/null
    spread draw only from remainder distribution. The realized total
    can undershoot ``total_n`` only when strata saturate (allocated =
    population).
    """
    if total_n < 1:
        raise ValueError("total_n must be >= 1")
    base = df.filter(
        F.col(stratum_col).isNotNull() & F.col(value_col).isNotNull()
    )
    per = base.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.stddev_pop(value_col), F.lit(0.0)).alias("sigma"),
    )
    w_all = _W.partitionBy(F.lit(1))
    weighted = per.withColumn(
        "_wt", F.col("n_rows") * F.col("sigma")
    ).withColumn("_tot", F.sum("_wt").over(w_all))
    share = F.when(
        F.col("_tot") > 0,
        F.lit(float(total_n)) * F.col("_wt") / F.col("_tot"),
    ).otherwise(F.lit(0.0))
    staged = (
        weighted.withColumn("_share", share)
        .withColumn("_floor", F.floor("_share").cast("long"))
        .withColumn("_frac", F.col("_share") - F.col("_floor"))
        .withColumn("_used", F.sum("_floor").over(w_all))
    )
    w_rank = _W.partitionBy(F.lit(1)).orderBy(
        F.desc("_frac"), F.asc("stratum")
    )
    ranked = staged.withColumn("_rk", F.row_number().over(w_rank))
    alloc = F.least(
        F.col("_floor")
        + (
            F.col("_rk") <= (F.lit(total_n) - F.col("_used"))
        ).cast("long"),
        F.col("n_rows"),
    )
    return ranked.select(
        "stratum",
        F.col("n_rows").cast("long"),
        F.round("sigma", 6).alias("sigma"),
        alloc.cast("long").alias("allocated"),
    )


def neyman_sample(
    df,
    stratum_col: str,
    value_col: str,
    total_n: int,
    id_col: str,
    seed: int = 2,
):
    """Draw the :func:`neyman_allocation` sample deterministically:
    within each stratum keep the ``allocated`` rows with the smallest
    seeded Knuth-hash keys (ties by id) — rerun/partitioning/engine
    identical, fully in-plan (the allocation relation broadcasts onto
    one per-stratum window; no driver loop). Returns the sampled rows
    with all input columns.
    """
    from spark_bestfit_spark.operators.curation import _knuth_u

    alloc = neyman_allocation(df, stratum_col, value_col, total_n)
    base = df.filter(
        F.col(stratum_col).isNotNull() & F.col(value_col).isNotNull()
    )
    w = _W.partitionBy(stratum_col).orderBy(
        _knuth_u(F.col(id_col), seed), F.col(id_col)
    )
    ranked = base.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.join(
            F.broadcast(
                alloc.select(
                    F.col("stratum").alias(stratum_col), "allocated"
                )
            ),
            stratum_col,
        )
        .filter(F.col("_rn") <= F.col("allocated"))
        .drop("_rn", "allocated")
    )
