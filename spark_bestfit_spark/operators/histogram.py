"""Distributed histogram and empirical PMF: the keystone aggregates of
the engine (SURVEY A4, A5). Each binning rule exists once, here, and
every fitter path calls it:

- :func:`equi_width_edges` — bins from (min, max, count): the Rice rule
  when requested (bins = ceil(count^(1/3)) * 2), at least 2 bins, and a
  +epsilon top edge so the max value falls in the last bin; min == max
  gives the single point ``[v]``;
- :func:`to_density` — zero-filled bin counts to a density whose area
  is 1; the single-point edges give the degenerate ``([1.0], [v])``
  (:func:`sample_histogram` counts a complete sample on the driver
  over the same edges);
- ``_densities`` — (key, bin_id, count) rows to per-key densities;
- ``_pmfs`` — (key, floored value, count) rows to per-key sorted,
  normalised empirical PMFs with their raw counts.

Every relation keeps only valid values (``stats.valid_cond``: non-null,
non-NaN, finite). Semantics match the reference (spark_bestfit
histogram.py:51-132 + backends/spark.py:373-427).

Spark-first implementation: ``width_bucket`` (JVM, whole-stage codegen)
+ ``groupBy(key, bucket).count()`` — a single scan with map-side partial
aggregation; only ~keys x bins rows are collected. The multi-column
variant stacks (column, bin) rows, the grouped one buckets each row
against its group's bounds joined in by broadcast; at 100 TB each is
the only full-data pass its histograms need.

The equi-DEPTH binner (quantile edges, broadcast edges row, JVM
higher-order bin id) serves :func:`equidepth_histogram`,
:func:`response_curve` and :func:`gains_curve`.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from spark_bestfit_spark.operators.stats import (
    column_stats,
    valid_column,
    valid_cond,
)


def equi_width_edges(
    stats: dict, bins: int, use_rice_rule: bool = False
) -> np.ndarray:
    """Equi-width bin edges for a column (or group) with ``stats``
    min/max/count of valid values: ``bins + 1`` edges from min to
    max + (max - min) * 1e-10, or ``[min]`` when min == max."""
    lo, hi = float(stats["min"]), float(stats["max"])
    if lo == hi:
        return np.array([lo])
    if use_rice_rule:
        bins = np.ceil(int(stats["count"]) ** (1.0 / 3.0)) * 2
    bins = max(int(bins), 2)
    return np.linspace(lo, hi + (hi - lo) * 1e-10, bins + 1)


def to_density(counts, edges: np.ndarray) -> tuple:
    """The (density, edges) IR for per-bin ``counts`` over ``edges``:
    density integrates to 1 (all zeros when nothing was counted);
    single-point edges give the degenerate ``([1.0], [v])``."""
    if edges.size == 1:
        return np.array([1.0]), edges
    counts = np.asarray(counts, dtype=np.float64)
    total = counts.sum()
    return (counts / (total * np.diff(edges)) if total > 0 else counts), edges


def sample_histogram(
    sample: np.ndarray, stats: dict, bins: int, use_rice_rule: bool = False
) -> tuple:
    """(density, edges) counted on the driver from a sample that holds
    ALL of a column's valid values (``stats`` describes the same
    values): the distributed histogram's edges and density, with
    ``np.histogram``'s left-closed bins."""
    edges = equi_width_edges(stats, bins, use_rice_rule)
    counts = np.histogram(sample, bins=edges)[0] if edges.size > 1 else None
    return to_density(counts, edges)


def _densities(rows, edges_by_key: dict) -> dict:
    """``{key: (density, edges)}`` from collected (key, bin_id, count)
    rows, bin_id 1-based like ``width_bucket``; bins without a row are
    zero-filled and rows outside a key's bins are ignored."""
    counts = {
        k: np.zeros(e.size - 1) for k, e in edges_by_key.items()
        if e.size > 1
    }
    for key, b, n in rows:
        arr = counts.get(key)
        b = int(b)
        if arr is not None and 1 <= b <= arr.size:
            arr[b - 1] = float(n)
    return {k: to_density(counts.get(k), e) for k, e in edges_by_key.items()}


def histogram_df(
    df: DataFrame, column: str, bin_edges: np.ndarray, sort: bool = True
) -> DataFrame:
    """Lazy DataFrame of (bin_id, bin_count) for explicit, equi-width bin
    edges. bin_id is 1-based like ``width_bucket``; callers zero-fill.
    ``sort=False`` skips the final exchange when the caller indexes by
    bin_id anyway."""
    lo = float(bin_edges[0])
    hi = float(bin_edges[-1])
    n_bins = len(bin_edges) - 1
    out = (
        valid_column(df, column)
        .filter((F.col(column) >= F.lit(lo)) & (F.col(column) < F.lit(hi)))
        .select(
            F.width_bucket(F.col(column), F.lit(lo), F.lit(hi), F.lit(n_bins)).alias(
                "bin_id"
            )
        )
        .groupBy("bin_id")
        .agg(F.count("*").alias("bin_count"))
    )
    return out.orderBy("bin_id") if sort else out


def compute_histogram(
    df: DataFrame,
    column: str,
    bins: int | np.ndarray = 50,
    use_rice_rule: bool = False,
    stats: dict | None = None,
):
    """Compute (density, bin_edges) without collecting raw data.

    Returns the same IR the reference builds: density has n_bins values,
    bin_edges n_bins + 1 (degenerate case: ([1.0], [v])). ``bins`` may
    be explicit edges; the Rice rule overrides them.
    """
    if stats is None:
        stats = column_stats(df, column)
    if stats["min"] is None or stats["max"] is None or stats["count"] == 0:
        raise ValueError(
            f"Cannot compute histogram: column '{column}' has no valid values"
        )
    if use_rice_rule or isinstance(bins, (int, np.integer)):
        edges = equi_width_edges(stats, bins, use_rice_rule)
    else:
        edges = np.asarray(bins, dtype=np.float64)
    rows = []
    if edges.size > 1:
        # no orderBy: _densities places counts by bin_id
        rows = [
            (column, r["bin_id"], r["bin_count"])
            for r in histogram_df(df, column, edges, sort=False).collect()
        ]
    return _densities(rows, {column: edges})[column]


def compute_histograms_multi(
    df: DataFrame,
    columns: list,
    stats: dict,
    bins: int = 50,
    use_rice_rule: bool = False,
) -> dict:
    """(density, bin_edges) for MANY columns in ONE scan.

    Per-column ``width_bucket`` expressions are stacked into
    (column_name, bin_id) rows and aggregated together — map-side
    combine reduces each partition to at most C x bins groups, so the
    shuffle stays tiny no matter the table size. Degenerate (min==max)
    columns short-circuit to the single-bin IR without touching the
    cluster; columns without valid values are left out."""
    edges_by_col = {
        c: equi_width_edges(stats[c], bins, use_rice_rule)
        for c in columns
        if stats[c]["min"] is not None and stats[c]["count"] != 0
    }
    stack_args = []
    for c, edges in edges_by_col.items():
        if edges.size == 1:
            continue
        lo, hi = float(stats[c]["min"]), float(edges[-1])
        col = F.col(c)
        cond = valid_cond(df, c) & (col >= F.lit(lo)) & (col < F.lit(hi))
        bucket = F.when(
            cond, F.width_bucket(col, F.lit(lo), F.lit(hi), F.lit(edges.size - 1))
        )
        stack_args += [F.lit(c), bucket]
    rows = []
    if stack_args:
        rows = (
            df.select(
                F.stack(F.lit(len(stack_args) // 2), *stack_args).alias(
                    "column_name", "bin_id"
                )
            )
            .filter(F.col("bin_id").isNotNull())
            .groupBy("column_name", "bin_id")
            .agg(F.count("*").alias("bin_count"))
            .collect()
        )
    return _densities(rows, edges_by_col)


def grouped_histogram_df(
    df: DataFrame, column: str, group_col: str, bounds: dict
) -> DataFrame:
    """Lazy (_g, _bin, _c) per-group bin counts in ONE scan: the
    per-group ``bounds`` ``{group: (lo, hi, n_bins)}`` ride a broadcast
    join, each row is bucketed against its own group's [lo, hi), and
    one (group, bin) aggregation — map-side combined, <= G x bins rows
    — counts them. ``df`` holds valid values of ``column``."""
    gtype = df.schema[group_col].dataType.simpleString()
    bounds_df = df.sparkSession.createDataFrame(
        [(g, lo, hi, nb) for g, (lo, hi, nb) in bounds.items()],
        f"_g {gtype}, _lo double, _hi double, _nb int",
    )
    return (
        df.join(F.broadcast(bounds_df), df[group_col] == bounds_df["_g"])
        .filter((F.col(column) >= F.col("_lo")) & (F.col(column) < F.col("_hi")))
        .select(
            "_g",
            F.width_bucket(
                F.col(column), F.col("_lo"), F.col("_hi"), F.col("_nb")
            ).alias("_bin"),
        )
        .groupBy("_g", "_bin")
        .agg(F.count("*").alias("_c"))
    )


def compute_histograms_grouped(
    df: DataFrame,
    column: str,
    group_col: str,
    stats: dict,
    bins: int = 50,
    use_rice_rule: bool = False,
) -> dict:
    """(density, bin_edges) per group from ONE scan of
    :func:`grouped_histogram_df`; ``stats`` maps each group to the
    min/max/count of its valid values. Degenerate (min==max) groups
    short-circuit to the single-bin IR."""
    edges_by_group = {
        g: equi_width_edges(s, bins, use_rice_rule) for g, s in stats.items()
    }
    bounds = {
        g: (stats[g]["min"], float(e[-1]), e.size - 1)
        for g, e in edges_by_group.items()
        if e.size > 1
    }
    rows = []
    if bounds:
        rows = grouped_histogram_df(df, column, group_col, bounds).collect()
    return _densities(rows, edges_by_group)


def _pmfs(rows, keys) -> dict:
    """``{key: (x_values, pmf, counts)}`` from collected (key, k, count)
    rows: the support sorted ascending, the pmf normalised to 1 and the
    raw integer counts; a key without rows gets three empty arrays."""
    pairs: dict = {k: [] for k in keys}
    for key, k, n in rows:
        pairs[key].append((float(k), int(n)))
    out = {}
    for key, p in pairs.items():
        p.sort()
        x = np.array([v for v, _ in p], dtype=np.float64)
        counts = np.array([n for _, n in p], dtype=np.int64)
        out[key] = (x, counts / max(counts.sum(), 1), counts)
    return out


def empirical_pmfs_multi(df: DataFrame, columns: list) -> dict:
    """Empirical PMFs of floor(value) for MANY columns in ONE scan:
    each column's valid values are floored and stacked into
    (column_name, k) rows and aggregated together (map-side combined,
    ~cardinality rows to the driver) — the discrete histogram IR
    (reference discrete_fitting.py:127-149, distributed as SURVEY A5
    recommends). Returns ``{column: (x_values, pmf, counts)}``."""
    stack_args = []
    for c in columns:
        stack_args += [F.lit(c), F.when(valid_cond(df, c), F.floor(c))]
    rows = (
        df.select(
            F.stack(F.lit(len(columns)), *stack_args).alias(
                "column_name", "_k"
            )
        )
        .filter(F.col("_k").isNotNull())
        .groupBy("column_name", "_k")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    return _pmfs(rows, columns)


def grouped_pmfs(
    df: DataFrame, column: str, group_col: str, groups
) -> dict:
    """Empirical PMF of floor(column) per group from ONE (group, k)
    aggregation — map-side combined, one shuffled row per (group,
    support point). ``df`` holds valid values of ``column``. Returns
    ``{group: (x_values, pmf, counts)}``."""
    rows = (
        df.groupBy(group_col, F.floor(column).alias("_k"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    return _pmfs(rows, groups)


def _equidepth_bins(
    clean: DataFrame,
    column: str,
    bins: int,
    approx: bool,
    accuracy: int,
    bin_col: str = "bin_id",
) -> DataFrame:
    """``clean`` plus an equi-depth bin id ``bin_col`` in [0, bins):
    interior edges are the exact ``percentile`` of ``column`` at
    fractions ``i/bins`` (``approx=True``: Greenwald-Khanna
    ``approx_percentile``, the 100 TB path), rounded to 6 decimals
    BEFORE binning so assignment is a deterministic, engine-portable
    function of the value; a value equal to an edge falls in the LOWER
    bin. The 1-row edges relation rides a broadcast cross-join and the
    bin id is a JVM higher-order ``filter``/``size`` (no UDF)."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    pctl = "approx_percentile" if approx else "percentile"
    acc = f", {int(accuracy)}" if approx else ""
    fracs = ", ".join(str(i / bins) for i in range(1, bins))
    edges = clean.agg(
        F.expr(
            f"transform({pctl}({column}, array({fracs}){acc}), "
            "e -> round(e, 6))"
        ).alias("_edges")
    )
    return clean.crossJoin(F.broadcast(edges)).withColumn(
        bin_col,
        F.size(F.filter(F.col("_edges"), lambda e: F.col(column) > e)),
    )


def equidepth_histogram(
    df: DataFrame,
    column: str,
    bins: int = 10,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Equi-DEPTH histogram: ``bins`` buckets holding (approximately)
    equal row counts, bounded by the column's own quantiles — the
    complement of the equi-width :func:`compute_histogram` (uniform
    value axis) for skewed columns, where equi-width piles everything
    into one bar.

    Interior edges are the exact ``percentile`` at fractions
    ``i/bins`` (``approx=True`` swaps in Greenwald-Khanna
    ``approx_percentile`` — the 100 TB path; exact percentiles
    materialize the value multiset on an executor). Edges are rounded
    to 6 decimals BEFORE binning so bin assignment is a deterministic,
    engine-portable function of the value; a value equal to an edge
    falls in the LOWER bin (``v > edge`` counts edges strictly below).

    One lazy plan (``_equidepth_bins``: broadcast 1-row edges
    relation, JVM higher-order bin id, no UDF), and the per-bin
    aggregate is a combiner-friendly groupBy on <= ``bins`` keys.

    Returns ``(bin_id, n_rows, lo, hi, mean)`` — lo/hi are the bin's
    OBSERVED min/max (exact values, not interpolated edges), mean
    rounded to 6.
    """
    binned = _equidepth_bins(
        valid_column(df, column), column, bins, approx, accuracy
    )
    return binned.groupBy("bin_id").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min(column).alias("lo"),
        F.max(column).alias("hi"),
        F.round(F.avg(column), 6).alias("mean"),
    )


def response_curve(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bins: int = 10,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Binned response curve: the target's mean (with a standard
    error) across equal-mass buckets of a feature — the model-free
    partial-dependence diagnostic ("how does y move with x") and the
    monotonicity check before anyone fits anything.

    Binning is :func:`equidepth_histogram`'s (``_equidepth_bins``):
    exact (or Greenwald-Khanna, the 100 TB path) quantile edges rounded
    to 6 BEFORE assignment, broadcast 1-row edges relation, JVM HOF bin
    id, one combiner-friendly groupBy on <= ``bins`` keys.

    Returns (bin_id, n, x_lo, x_hi, mean_x, mean_y, se_y) rounded to
    6 — ``se_y = stddev_samp / sqrt(n)``, null for single-row bins.
    """
    clean = valid_column(
        valid_column(df.select(x_col, y_col), x_col), y_col
    )
    binned = _equidepth_bins(clean, x_col, bins, approx, accuracy)
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(x_col).alias("x_lo"),
        F.max(x_col).alias("x_hi"),
        F.round(F.avg(x_col), 6).alias("mean_x"),
        F.round(F.avg(y_col), 6).alias("mean_y"),
        F.round(
            F.stddev_samp(y_col) / F.sqrt(F.count(F.lit(1))), 6
        ).alias("se_y"),
    )


def gains_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Cumulative gains / lift table: equal-mass score bins ranked
    best-first, each with its positive count, the cumulative capture
    rate ("targeting the top k deciles catches X% of positives") and
    the lift over the base rate — the campaign-targeting companion to
    :func:`~spark_bestfit_spark.operators.stats.roc_auc`.

    Binning is the equi-depth scheme (``_equidepth_bins``: quantile
    edges rounded BEFORE assignment, broadcast edges, HOF bin id,
    ``approx=True`` for the 100 TB path); the cumulative legs ride a window over the <= bins
    result rows — nothing sorts data, only the tiny bin relation.

    Returns (decile 1 = best scores, n, n_pos, frac_pos,
    cum_capture, cum_lift) rounded to 6.
    """
    from pyspark.sql import Window as _W

    clean = valid_column(df.select(score_col, label_col), score_col).filter(
        F.col(label_col).isNotNull()
    )
    y = (F.col(label_col) > 0).cast("long")
    binned = _equidepth_bins(clean, score_col, bins, approx, accuracy, "_b")
    per = binned.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("n_pos"),
    )
    # decile 1 = highest scores = largest bin id
    per = per.withColumn("decile", (F.lit(bins) - F.col("_b")).cast("int"))
    w = (
        _W.partitionBy(F.lit(1)).orderBy("decile")
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    w_all = _W.partitionBy(F.lit(1))
    out = (
        per.withColumn("_cum_pos", F.sum("n_pos").over(w))
        .withColumn("_cum_n", F.sum("n").over(w))
        .withColumn("_tot_pos", F.sum("n_pos").over(w_all))
        .withColumn("_tot_n", F.sum("n").over(w_all))
    )
    return out.select(
        "decile",
        "n",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n"), 6).alias("frac_pos"),
        F.round(
            F.when(
                F.col("_tot_pos") > 0,
                F.col("_cum_pos") / F.col("_tot_pos"),
            ),
            6,
        ).alias("cum_capture"),
        F.round(
            F.when(
                F.col("_tot_pos") > 0,
                (F.col("_cum_pos") / F.col("_cum_n"))
                / (F.col("_tot_pos") / F.col("_tot_n")),
            ),
            6,
        ).alias("cum_lift"),
    )
