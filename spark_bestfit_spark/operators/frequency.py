"""Heavy hitters: exact frequent-item detection with sketch-bounded
shuffle.

The naive frequent-token query (``GROUP BY token HAVING count >= T``)
shuffles EVERY distinct key — at 100 TB of text that is billions of
n-grams moving through one wide exchange to find the few hundred items
anyone cares about. This module keeps the answer EXACT while bounding
the shuffle with a Misra-Gries summary:

* phase 1 (map-only): each partition folds its rows through a
  Misra-Gries sketch of ``k`` counters inside an Arrow-batched
  ``mapInPandas`` — O(k) memory, no shuffle. MG guarantees every item
  with partition frequency above ``n_p / (k+1)`` survives with a
  positive counter; by the averaging argument, any item with GLOBAL
  frequency >= phi * N exceeds that bar in at least one partition, so
  the union of per-partition candidates is a superset of the true
  heavy hitters whenever ``k + 1 > 1/phi`` (validated).
* phase 2: the driver folds the bounded sketch output (<= k + 1 rows
  per partition — one sentinel row per partition carries its row
  count, so the corpus total N comes from the SAME pass; this is the
  exact-K-S bucket-total convention of a constant-size driver action),
  broadcasts the candidate set back as a left-semi probe — map-only —
  and only the surviving rows pay a groupBy, whose key space is the
  candidate set, not the vocabulary. The whole operator is exactly TWO
  scans of the input, and the final ``HAVING``-style filter makes the
  output EXACTLY the naive query's answer — candidates are a
  superset, and the exact-count filter trims the superset back,
  independent of partitioning.

No reference-repo analog (the reference is a fitting library); this is
a first-class pipeline extra in the mold of `robust_stats_approx`
(sketch where it scales, exact where it's checkable).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from spark_bestfit_spark.functions.text import tokens

__all__ = ["heavy_hitters", "heavy_hitters_by_group"]


def heavy_hitters(
    df: DataFrame,
    col: str,
    phi: float,
    k: int | None = None,
) -> DataFrame:
    """All items whose frequency is at least ``ceil(phi * N)`` of the
    ``N`` non-null values in ``col``, with EXACT counts — computed with
    a Misra-Gries candidate pass so the wide shuffle is bounded by the
    candidate set instead of the column's full distinct cardinality
    (module docstring has the guarantee sketch).

    ``k`` is the sketch width (counters per partition); it defaults to
    ``max(ceil(2/phi), 16)`` and must satisfy ``k + 1 > 1/phi`` or the
    superset guarantee fails (validated loudly).

    Returns ``(item, n, frac)`` where ``item`` keeps the input
    column's type, ``n`` is the exact count, and ``frac = n / N``
    rounded to 6 decimals.
    """
    if not 0.0 < phi < 1.0:
        raise ValueError("phi must be in (0, 1)")
    if k is None:
        k = max(int(math.ceil(2.0 / phi)), 16)
    if (k + 1) * phi <= 1.0:
        raise ValueError(
            f"k={k} too small for phi={phi}: need k + 1 > 1/phi for the "
            "Misra-Gries superset guarantee"
        )
    src = df.select(F.col(col).alias("item")).filter(
        F.col("item").isNotNull()
    )
    item_type = src.schema["item"].dataType
    out_schema = T.StructType(
        [
            T.StructField("item", item_type),
            T.StructField("_lb", T.LongType()),
            T.StructField("_tot", T.BooleanType()),
        ]
    )

    def _mg(batches):
        import numpy as np
        import pandas as pd

        counters: dict = {}
        n_p = 0
        for pdf in batches:
            n_p += len(pdf)
            for item, c in pdf["item"].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                vals = np.fromiter(
                    counters.values(), dtype=np.int64, count=len(counters)
                )
                # subtract the (k+1)-th largest count from everything and
                # drop the non-positive — the mergeable-summaries MG
                # reduction (at most k survivors; total decremented mass
                # per reduction >= (k+1) * m, hence the n_p/(k+1) bound)
                m = np.partition(vals, len(vals) - (k + 1))[
                    len(vals) - (k + 1)
                ]
                counters = {
                    i: c - int(m) for i, c in counters.items() if c > m
                }
        # one sentinel row carries the partition's row count, so the
        # corpus total N needs NO third scan of the input — it is the
        # sum of the sentinels from the same sketch pass
        yield pd.DataFrame(
            {
                "item": list(counters.keys()) + [None],
                "_lb": list(counters.values()) + [n_p],
                "_tot": [False] * len(counters) + [True],
            }
        )

    # ONE bounded driver action folds the sketch (<= k + 1 rows per
    # partition, constant w.r.t. data size — the exact-K-S bucket-total
    # convention): candidate items + the corpus total N from the same
    # pass, so the whole operator is exactly TWO scans of the input
    # (sketch, then exact count) — a diamond on the lazy sketch
    # relation would re-run the sketch scan instead.
    collected = src.mapInPandas(_mg, schema=out_schema).collect()
    n = sum(int(r["_lb"]) for r in collected if r["_tot"])
    items = [
        r["item"]
        for r in collected
        if not r["_tot"] and r["item"] is not None
    ]
    spark = df.sparkSession
    cand = spark.createDataFrame(
        [(i,) for i in set(items)],
        T.StructType([T.StructField("item", item_type)]),
    )
    thresh = int(math.ceil(phi * n)) if n else 1
    return (
        src.join(F.broadcast(cand), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= F.lit(thresh))
        .select(
            "item",
            "n",
            F.round(F.col("n") / F.lit(float(max(n, 1))), 6).alias(
                "frac"
            ),
        )
    )


def heavy_hitters_by_group(
    df: DataFrame,
    col: str,
    group_col: str,
    phi: float,
    k: int | None = None,
) -> DataFrame:
    """Per-GROUP exact frequent items — :func:`heavy_hitters` keyed by
    ``group_col`` (domain, language, source...): every item whose
    frequency within ITS group reaches ``ceil(phi * N_group)``, with
    exact counts. The per-domain hot-token / hot-value report, with
    the same sketch-bounded shuffle.

    Phase 1 keeps one Misra-Gries sketch of width ``k`` PER GROUP per
    partition (memory O(k x groups-in-partition); the n_p/(k+1)
    undercount bound and the superset guarantee hold group-wise, since
    each group's mass reduces independently). One sentinel row per
    (partition, group) carries the group's row count, so per-group
    totals come from the same pass; the driver folds the bounded
    sketch output and broadcasts (group, item) candidates plus
    per-group thresholds back for the exact probe — two scans total,
    output independent of partitioning.

    Returns ``(group_col, item, n, frac)``; ``frac`` is within-group.
    """
    if not 0.0 < phi < 1.0:
        raise ValueError("phi must be in (0, 1)")
    if k is None:
        k = max(int(math.ceil(2.0 / phi)), 16)
    if (k + 1) * phi <= 1.0:
        raise ValueError(
            f"k={k} too small for phi={phi}: need k + 1 > 1/phi for the "
            "Misra-Gries superset guarantee"
        )
    src = df.select(
        F.col(group_col).alias("_g"), F.col(col).alias("item")
    ).filter(F.col("item").isNotNull() & F.col("_g").isNotNull())
    g_type = src.schema["_g"].dataType
    item_type = src.schema["item"].dataType
    out_schema = T.StructType(
        [
            T.StructField("_g", g_type),
            T.StructField("item", item_type),
            T.StructField("_lb", T.LongType()),
            T.StructField("_tot", T.BooleanType()),
        ]
    )

    def _mg(batches):
        import numpy as np
        import pandas as pd

        sketches: dict = {}
        totals: dict = {}
        for pdf in batches:
            vc = pdf.groupby(["_g", "item"], sort=False).size()
            bt = pdf.groupby("_g", sort=False).size()
            for g, c in bt.items():
                totals[g] = totals.get(g, 0) + int(c)
            for (g, item), c in vc.items():
                counters = sketches.setdefault(g, {})
                counters[item] = counters.get(item, 0) + int(c)
            for g, counters in sketches.items():
                if len(counters) > k:
                    vals = np.fromiter(
                        counters.values(), dtype=np.int64,
                        count=len(counters),
                    )
                    m = vals[np.argpartition(vals, len(vals) - (k + 1))[
                        len(vals) - (k + 1)
                    ]]
                    sketches[g] = {
                        i: c - int(m)
                        for i, c in counters.items()
                        if c > m
                    }
        rows_g, rows_i, rows_lb, rows_t = [], [], [], []
        for g, counters in sketches.items():
            for item, c in counters.items():
                rows_g.append(g)
                rows_i.append(item)
                rows_lb.append(c)
                rows_t.append(False)
        for g, n_p in totals.items():
            rows_g.append(g)
            rows_i.append(None)
            rows_lb.append(n_p)
            rows_t.append(True)
        if rows_g:
            yield pd.DataFrame(
                {"_g": rows_g, "item": rows_i, "_lb": rows_lb,
                 "_tot": rows_t}
            )

    collected = src.mapInPandas(_mg, schema=out_schema).collect()
    n_by_g: dict = {}
    items: set = set()
    for r in collected:
        if r["_tot"]:
            n_by_g[r["_g"]] = n_by_g.get(r["_g"], 0) + int(r["_lb"])
        elif r["item"] is not None:
            items.add((r["_g"], r["item"]))
    spark = df.sparkSession
    cand = spark.createDataFrame(
        list(items) or [],
        T.StructType(
            [T.StructField("_g", g_type), T.StructField("item", item_type)]
        ),
    )
    th = spark.createDataFrame(
        [
            (g, n, int(math.ceil(phi * n)))
            for g, n in n_by_g.items()
        ]
        or [],
        T.StructType(
            [
                T.StructField("_g", g_type),
                T.StructField("_n", T.LongType()),
                T.StructField("_th", T.LongType()),
            ]
        ),
    )
    return (
        src.join(F.broadcast(cand), ["_g", "item"], "left_semi")
        .groupBy("_g", "item")
        .agg(F.count("*").cast("long").alias("n"))
        .join(F.broadcast(th), "_g")
        .filter(F.col("n") >= F.col("_th"))
        .select(
            F.col("_g").alias(group_col),
            "item",
            "n",
            F.round(F.col("n") / F.col("_n"), 6).alias("frac"),
        )
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 5,
    max_basket_size: int | None = 1000,
    top_k: int = 100,
) -> DataFrame:
    """Pairwise market-basket association rules: for item pairs
    co-occurring in at least ``min_support`` baskets, the support,
    directional confidence P(b | a), and lift
    ``P(a, b) / (P(a) * P(b))`` — the classic co-purchase /
    co-occurrence miner (items = products, tags, tokens, hosts...).

    Scale shape (the MinHash bucket convention): baskets collapse to
    DISTINCT item arrays in one groupBy, i < j pairs explode INSIDE
    each basket with array higher-order functions (never a self-join
    of the item stream), and ``max_basket_size`` drops degenerate
    baskets whose quadratic pair count would dominate (a basket with
    10k items contributes 50M pairs — and no usable rule). Item
    marginals ride a second map-combinable groupBy; the basket count
    is a broadcast 1-row relation; final top-k by lift is a
    TakeOrdered heap.

    Emits each qualifying pair ONCE (item_a < item_b) with both
    directional confidences. Returns (item_a, item_b, n_pair, n_a,
    n_b, support, conf_a_to_b, conf_b_to_a, lift), rounded to 6.
    """
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    baskets = df.groupBy(basket_col).agg(
        F.array_sort(F.array_distinct(F.collect_list(item_col))).alias(
            "_items"
        )
    )
    if max_basket_size is not None:
        baskets = baskets.filter(F.size("_items") <= int(max_basket_size))
    n = F.size("_items")
    pair_structs = F.flatten(
        F.transform(
            "_items",
            lambda x, i: F.transform(
                F.slice("_items", i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pairs = baskets.select(F.explode(pair_structs).alias("_p")).select(
        F.col("_p.item_a"), F.col("_p.item_b")
    )
    pair_counts = pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    ).filter(F.col("n_pair") >= int(min_support))
    item_counts = baskets.select(
        F.explode("_items").alias("_it")
    ).groupBy("_it").agg(F.count(F.lit(1)).alias("_ni"))
    total = baskets.agg(F.count(F.lit(1)).alias("_nb"))
    joined = (
        pair_counts.join(
            item_counts.select(
                F.col("_it").alias("item_a"), F.col("_ni").alias("n_a")
            ),
            on="item_a",
        )
        .join(
            item_counts.select(
                F.col("_it").alias("item_b"), F.col("_ni").alias("n_b")
            ),
            on="item_b",
        )
        .crossJoin(F.broadcast(total))
    )
    out = joined.select(
        "item_a",
        "item_b",
        "n_pair",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.col("n_pair") / F.col("_nb"), 6).alias("support"),
        F.round(F.col("n_pair") / F.col("n_a"), 6).alias("conf_a_to_b"),
        F.round(F.col("n_pair") / F.col("n_b"), 6).alias("conf_b_to_a"),
        F.round(
            F.col("n_pair") * F.col("_nb")
            / (F.col("n_a") * F.col("n_b")),
            6,
        ).alias("lift"),
    )
    return out.orderBy(
        F.col("lift").desc(), "item_a", "item_b"
    ).limit(int(top_k))


def cms_token_counts(
    df: DataFrame,
    text_col: str = "text",
    width: int = 2048,
    depth: int = 4,
    k: int = 20,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) built white-box
    in pure column algebra, self-audited against exact counts — the
    bounded-memory frequency-estimate companion to the Misra-Gries
    :func:`heavy_hitters` (MG answers "which items are frequent?",
    CMS answers "how frequent is THIS item?" for any item, with a
    one-sided error guarantee: estimates never undercount, and
    overshoot is bounded by (e/width) * total with probability
    1 - e^-depth):

        cell(d, token) = hash_d(token) mod width (md5, salted by d);
        sketch = count per (d, cell)  —  at most depth * width cells;
        estimate(token) = min over d of sketch[d, hash_d(token)]

    Execution: one map-side explode of tokens x depth rows into a
    <= depth*width-key groupBy (map-combinable — this is WHY CMS
    scales: cells merge by +). The exact top-k token counts ride
    their own vocab-sized groupBy; probing joins each top token to
    its depth cells and folds min. Like :func:`hll_distinct`, the
    md5 hashing makes the ESTIMATE engine-reproducible, so the
    oracle twin checks the sketch bit-for-bit.

    Returns the top ``k`` exact tokens as ``(token, exact_count,
    cms_estimate, overcount)`` ordered by (exact desc, token);
    ``overcount = estimate - exact >= 0`` always (the CMS guarantee).
    """
    if width < 8 or depth < 1:
        raise ValueError("width must be >= 8 and depth >= 1")
    toks = (
        df.select(F.explode(tokens(text_col)).alias("_w"))
        .filter(F.col("_w") != "")
    )

    def _cell(d):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(str(d)), F.lit("|"), F.col("_w"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(width))

    rows = toks.select(
        "_w",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("_d"), _cell(d).alias("_c")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("_dc"),
    ).select("_w", "_dc._d", "_dc._c")
    sketch = rows.groupBy("_d", "_c").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    exact = (
        toks.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("_w"))
        .limit(int(k))
        # two consumers (probe fan-out + the output join) would each
        # re-run the exact top-k over the corpus; the k-row checkpoint
        # caps the final plan at two corpus scans (sketch + exact)
        .localCheckpoint(eager=False)
    )
    probes = exact.select(
        "_w",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("_d"), _cell(d).alias("_c")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("_dc"),
    ).select("_w", "exact_count", "_dc._d", "_dc._c")
    est = (
        probes.join(sketch, ["_d", "_c"], "inner")
        .groupBy("_w", "exact_count")
        .agg(F.min("_cnt").alias("cms_estimate"))
    )
    return est.select(
        F.col("_w").alias("token"),
        F.col("exact_count").cast("long"),
        F.col("cms_estimate").cast("long"),
        (F.col("cms_estimate") - F.col("exact_count"))
        .cast("long")
        .alias("overcount"),
    )
