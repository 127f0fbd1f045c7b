"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-conscious:

- **exact**: md5 fingerprint -> groupBy keep-first. One shuffle on the
  fingerprint; at 100 TB this is the cheapest possible dedup (hash
  partitioned, map-side combined).
- **MinHash + LSH**: shingle -> K permuted min-hashes -> band buckets ->
  candidate pairs from bucket joins -> exact Jaccard verification.
  The only shuffle is on (band, signature) keys; candidate verification
  touches candidate pairs only, never the full cross product.
- **SimHash**: 64-bit signatures; near-dup = small Hamming distance;
  banding over 4 x 16-bit chunks gives the same bucket-join shape.
- **n-gram Jaccard**: exact pairwise similarity inside small blocks
  (use only when a blocking key bounds the quadratic term).

Hashing is done with SQL-portable primitives (md5 prefix parsed as a
64-bit int) so results are reproducible in any engine — and oracle-
checkable in DuckDB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from spark_bestfit_spark.functions.text import (
    kgrams,
    portable_hash64,
    tokens,
    word_shingles,
    words,
)
from spark_bestfit_spark.functions.text import normalized as _normalized

# Mersenne-ish modulus and deterministic permutation coefficients for
# MinHash: perm_i(h) = (A[i] * h + B[i]) mod P  with h pre-reduced mod P
# so products stay inside int64.
_P = 1_000_000_007
_A = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]
_B = [101, 211, 307, 401, 503, 601, 701, 809, 907, 1009,
      1103, 1201, 1301, 1409, 1511, 1601]
DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the input is under-parallelized (fewer
    partitions than half the cluster's cores — e.g. one small parquet
    file). At real scale inputs already have thousands of partitions and
    this is a no-op, so no shuffle is added to the 100 TB path."""
    if df.isStreaming:
        # partitioning is the source's concern in a stream, and .rdd is
        # not defined on streaming DataFrames
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target)
    return df


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each exact-content group.

    Single exchange on the fingerprint, no join: the keeper set has one
    row per DISTINCT document, which at corpus scale is itself
    billions of rows — joining against it (let alone force-broadcasting
    it, as earlier versions did) is the scale hazard. ``row_number``
    over the fingerprint partition keeps the winner inside the one
    shuffle the semantics require.
    """
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_fp", F.md5(_normalized(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fingerprint, n_copies, keeper_id) per content group — the
    relational core of exact dedup (oracle-checkable)."""
    return (
        df.withColumn("fingerprint", F.md5(_normalized(text_col)))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def duplicated_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated n-gram detection — the candidate phase
    of substring-level dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better": long spans repeated across a
    corpus are memorization fuel; the scalable first step is finding
    which documents carry n-grams that other documents also carry).

    Per document: total distinct word n-grams, how many of them occur
    in >= ``min_docs`` distinct documents corpus-wide, and the shared
    fraction — the signal a curation pipeline thresholds to route
    documents into span-level clipping.

    Shuffle profile at 100 TB: one explode scan -> groupBy on the gram
    key with map-side partial counts (shingles are distinct per doc, so
    ``count(*)`` IS the distinct-document count — no countDistinct
    state); the surviving duplicated-gram set is far smaller than the
    gram relation and semi-joins back on the same gram key (hash
    partitioning reused, no extra exchange of the big side); final
    groupBy on the doc id. No all-pairs comparison anywhere — the same
    map-reduce shape the published suffix-array pipelines use for their
    candidate pass.

    Output: (id_col, n_grams, n_shared_grams, shared_fraction).
    """
    grams = df.select(
        F.col(id_col),
        F.explode(word_shingles(text_col, n)).alias("_gram"),
    )
    dup = (
        grams.groupBy("_gram")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_gram")
    )
    totals = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    shared = (
        grams.join(dup, on="_gram", how="left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )
    return (
        totals.join(shared, on=id_col, how="left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_shared_grams", F.lit(0))
            .cast("long")
            .alias("n_shared_grams"),
            (
                F.coalesce("n_shared_grams", F.lit(0))
                / F.col("n_grams")
            ).alias("shared_fraction"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, minhash array<bigint>) — K permuted min-hashes over the
    shingle set, fully vectorized with higher-order array functions."""
    df = ensure_parallelism(df)
    return df.select(
        id_col,
        minhash_signature_col(text_col, num_hashes, shingle_k).alias(
            "minhash"
        ),
    )


def minhash_signature_col(
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = 3,
) -> Column:
    """The MinHash signature as a single column expression
    (array<bigint>), usable on batch AND streaming DataFrames — all
    JVM higher-order functions, no Python."""
    if num_hashes > len(_A):
        raise ValueError(f"num_hashes must be <= {len(_A)}")
    hashes = F.transform(
        word_shingles(text_col, shingle_k),
        lambda s: portable_hash64(s) % F.lit(_P),
    )
    # bind the (md5-backed) shingle hashing ONCE through a one-element
    # transform: the K permutation minima reference the lambda variable,
    # not K copies of the hashing subtree — single evaluation guaranteed
    # without leaning on codegen subexpression elimination
    return F.transform(
        F.array(hashes),
        lambda hs: F.array(
            *[
                F.array_min(
                    F.transform(
                        hs,
                        lambda h: (F.lit(_A[i]) * h + F.lit(_B[i]))
                        % F.lit(_P),
                    )
                )
                for i in range(num_hashes)
            ]
        ),
    )[0]


def _bounded_banded(
    banded: DataFrame, id_col: str, max_bucket_size: int
) -> DataFrame:
    """Truncate each (band, band_sig) bucket to cap+1 rows BEFORE any
    aggregation: a million-copy viral bucket contributes at most cap+1
    rows downstream (the window sorter spills row-at-a-time; nothing
    ever holds the full bucket in memory). cap+1 — not cap — so the
    over-cap condition remains detectable after truncation."""
    wb = Window.partitionBy("band", "band_sig").orderBy(id_col)
    return (
        banded.withColumn("_bn", F.row_number().over(wb))
        .filter(F.col("_bn") <= max_bucket_size + 1)
        .drop("_bn")
    )


def _lsh_buckets(
    banded: DataFrame, id_col: str, max_bucket_size: int | None
) -> DataFrame:
    """(band, band_sig, _ids) buckets with BOUNDED aggregation state.

    When ``max_bucket_size`` is set, a ``row_number`` over the same
    (band, band_sig) key truncates each bucket to cap+1 rows BEFORE
    ``collect_list`` runs, so a million-copy viral bucket never
    materializes a million-element array anywhere — the window sorter
    spills row-at-a-time, and the collected state is <= cap+1. The
    window partitions on the exact groupBy key, so Catalyst reuses the
    one hash exchange (plan-asserted in tests). An array that arrives
    at cap+1 means the true bucket exceeded the cap, and the drop
    filter removes it — identical drop-over-cap semantics to filtering
    on the full size.
    """
    if max_bucket_size is not None:
        banded = _bounded_banded(banded, id_col, max_bucket_size)
    buckets = (
        banded.groupBy("band", "band_sig")
        .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket_size)
    return buckets


def banded_signatures(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band, band_sig) rows from a (id, minhash) relation — the
    LSH band projection, map-only. This relation IS the persistable
    incremental-dedup state: write it to parquet and new batches join
    their own bands against it without re-banding the corpus (see
    :func:`incremental_minhash_pairs`)."""
    n_hashes_col = F.size("minhash")
    rows_per_band = F.floor(n_hashes_col / num_bands)
    return signatures.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(
                            "minhash",
                            (b * rows_per_band + 1).cast("int"),
                            rows_per_band.cast("int"),
                        ),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
        ).alias("band", "band_sig"),
    )


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    num_bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """One-call snapshot state for incremental near-dup: text ->
    MinHash signatures -> (id, band, band_sig). Persist the result
    (parquet) and feed it to :func:`incremental_minhash_pairs` as each
    new batch arrives; append the new batch's index rows to roll the
    snapshot forward."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    return banded_signatures(sigs, id_col, num_bands)


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Shuffle profile: ONE exchange. Band buckets are built by groupBy on
    the (band, band_sig) key and the i<j pairs are exploded inside each
    bucket with array higher-order functions — a bucket is never joined
    against itself, so the signature relation is computed once instead
    of twice and there is no self-join to skew. The quadratic term stays
    bounded by bucket size (raise num_hashes/num_bands for selectivity);
    ``max_bucket_size`` optionally drops degenerate buckets — identical
    documents belong to the exact-dedup tier anyway.
    """
    banded = banded_signatures(signatures, id_col, num_bands)
    return _lsh_pairs_from_bands(banded, id_col, max_bucket_size)


def _lsh_pairs_from_bands(
    banded: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Bucket + i<j pair explosion over an existing (id, band,
    band_sig) relation — shared by :func:`minhash_lsh_candidates`
    (which bands first) and :func:`incremental_minhash_pairs` (which
    already banded the delta once and must not re-shingle it)."""
    buckets = _lsh_buckets(banded, id_col, max_bucket_size)
    n = F.size("_ids")
    pair_structs = F.flatten(
        F.transform(
            "_ids",
            lambda x, i: F.transform(
                F.slice("_ids", i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.5,
    shingle_k: int = 1,
) -> DataFrame:
    """Exact token/shingle-set Jaccard over pairs (optionally blocked).

    O(block^2) — always pass a blocking column at scale; the MinHash
    pipeline above is the unblocked scale path."""
    sh = df.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        word_shingles(text_col, shingle_k).alias("_s"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    cond = [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    if block_col:
        cond.append(F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = F.size(F.array_intersect(F.col("a._s"), F.col("b._s")))
    union = F.size(F.array_union(F.col("a._s"), F.col("b._s")))
    return (
        a.join(b, on=cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(inter / union.cast("double"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = DEFAULT_NUM_HASHES,
    num_bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: MinHash -> LSH candidates -> exact
    Jaccard verification on candidates only.

    ``max_bucket_size`` passes through to
    :func:`minhash_lsh_candidates`: a corpus with a VIRAL document
    family (one text exactly repeated k times — boilerplate, chain
    mail, licensing stubs) puts all k copies in one band bucket and
    the candidate stage emits k(k-1)/2 pairs from that bucket alone.
    Run :func:`exact_dedup` first (identical documents belong to the
    exact tier — a hash groupBy, no pair explosion) and/or cap the
    bucket: copies beyond the cap are dropped from CANDIDATE
    generation only, exactly like the guard's behavior everywhere
    else in this module."""
    df = ensure_parallelism(df)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    # Materialize the candidate pairs once: the relation is referenced
    # three times below (id collection + both verification joins), and
    # without the checkpoint each reference re-plans the whole
    # text -> MinHash -> band -> bucket pipeline. Candidates are the
    # SMALL relation by construction (LSH at the default band settings
    # is selective; viral buckets belong to the exact tier /
    # max_bucket_size), so the local materialization is bounded.
    cands = minhash_lsh_candidates(
        sigs, id_col, num_bands, max_bucket_size=max_bucket_size
    ).localCheckpoint(eager=False)
    # Verification is candidate-bounded (same shape as
    # incremental_minhash_pairs): semi-join the corpus down to
    # candidate-involved ids BEFORE computing shingle sets, so the
    # exact-Jaccard pass shingles only candidate documents instead of
    # the whole corpus twice. The broadcast is bounded by the candidate
    # set (distinct ids <= 2 * pairs).
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # r13 A/B: removing this lazy checkpoint (betting the cheaper
    # zip_with shingle kernel made recompute affordable) was a WASH on
    # the pair line and LOST ~1 s on the clusters line, which
    # re-references the verified pairs across label-propagation
    # rounds — the materialization stays.
    sh = df.join(F.broadcast(cand_ids), on=id_col, how="leftsemi").select(
        F.col(id_col), word_shingles(text_col, shingle_k).alias("_s")
    ).localCheckpoint(eager=False)
    # (r12 note: a melt-join-regroup rewrite that references the
    # shingle relation once was A/B-tested here and LOST — the
    # groupBy's collect_list ships the heavy shingle arrays through an
    # extra pair-keyed exchange, which costs more than the duplicated
    # text->shingle scan it saves: sf1 5.47 -> 5.71 s, clusters line
    # 6.46 -> 8.70 s. The double join over the candidate-bounded
    # shingle relation stays.)
    verified = (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_s", "_sa"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_s", "_sb"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("_sa", "_sb"))
                / F.size(F.array_union("_sa", "_sb")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def neardup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph: (id, cluster_id)
    with cluster_id = the smallest doc id in the component.

    Pairwise dedup alone is not transitive-safe (a~b, b~c leaves a and c
    in different "pairs" even though all three are one duplicate
    cluster); grouping by component is the principled keep-one-per-
    cluster semantics.

    Algorithm: one min-neighbor vertex contraction, then min-label
    propagation with path halving — each round every node takes the min
    of (its label, its neighbors' labels, its label's label), so
    convergence is O(log diameter) rounds, each one join+groupBy.
    Lineage is truncated per round with localCheckpoint; at 100 TB
    scale the edge relation stays hash-partitioned on the join key
    across rounds and nothing is ever collected to the driver.

    Cost-based small-graph path (r12, guide §1.2 — fix the
    distributed algorithm first): after the contraction the surviving
    edge relation is usually tiny (exact-duplicate cliques collapse to
    self-loops and near-dup components are shallow), yet every
    propagation round still costs two join jobs plus a checkpoint job
    of fixed scheduler latency. When the contracted edge count is at
    most ``driver_threshold`` (default 1M edges ≈ 16 MB of id pairs —
    the same bounded-collect convention as the K-S bucket-offset fold),
    the component labels are computed with a driver-side union-find
    over ONE Arrow collect instead of the O(log d)-round join loop:
    identical labels (component minimum), ~3 jobs instead of ~4 + 2
    per round. Corpora whose contracted graph exceeds the bound fall
    through to the iterative path unchanged; pass
    ``driver_threshold=0`` to force it.

    The contraction is correctness-preserving for ANY pair graph:
    rep(v) = min(v, direct neighbors) always lies inside v's component
    (one hop away), so rewriting edges to (rep(src), rep(dst)) neither
    merges nor splits components; and the component-minimum vertex m
    has rep(m) = m, so the propagated cluster_id (= component min) is
    unchanged. On dup-heavy corpora exact-duplicate cliques collapse
    to self-loops in this single map-combinable pass — typically
    removing most edges before the first propagation round (the
    "small-star" step of Kiveris et al., MR connected components)."""
    # One evaluation of the (possibly expensive) upstream pair
    # pipeline: everything downstream — the contraction and every
    # propagation round — reads the checkpointed edge relation, never
    # the candidate-generation lineage.
    raw_edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    # rep(v) = min(v, neighbors): one map-combinable groupBy (edges are
    # already bidirectional, so every vertex appears as src).
    rep = (
        raw_edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("_rv"),
            F.least(F.col("src"), F.col("_mn")).alias("_rep"),
        )
        .localCheckpoint()
    )
    edges = (
        raw_edges.join(rep, raw_edges["src"] == rep["_rv"])
        .select(F.col("_rep").alias("src"), "dst")
        .join(
            rep.select(
                F.col("_rv").alias("_dv"), F.col("_rep").alias("_dr")
            ),
            F.col("dst") == F.col("_dv"),
        )
        .select("src", F.col("_dr").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    if driver_threshold:
        # edges is localCheckpointed: count() scans the materialized
        # blocks (no recompute), and the Arrow collect is one job.
        n_edges = edges.count()
        if n_edges <= driver_threshold:
            spark = pairs.sparkSession
            epdf = edges.toPandas()
            parent: dict = {}

            def _find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            src_vals = epdf["src"].tolist()  # native py types for
            dst_vals = epdf["dst"].tolist()  # createDataFrame below
            for s, d in zip(src_vals, dst_vals):
                rs, rd = _find(s), _find(d)
                if rs != rd:
                    # union by label order keeps the smaller id the
                    # root, so the root IS the component minimum
                    if rd < rs:
                        rs, rd = rd, rs
                    parent[rd] = rs
            label_rows = [(v, _find(v)) for v in parent]
            id_type = edges.schema["src"].dataType
            from pyspark.sql.types import StructField as _SF
            from pyspark.sql.types import StructType as _ST

            labels = spark.createDataFrame(
                label_rows,
                _ST([_SF("v", id_type), _SF("label", id_type)]),
            )
            return (
                rep.join(labels, rep["_rep"] == labels["v"], "left")
                .select(
                    F.col("_rv").alias(id_col),
                    F.coalesce(F.col("label"), F.col("_rep")).alias(
                        "cluster_id"
                    ),
                )
            )
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["v"])
            .groupBy("src")
            .agg(F.min("label").alias("_nl"))
        )
        stepped = (
            labels.join(neighbor_min, labels["v"] == neighbor_min["src"], "left")
            .select(
                "v",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))
                ).alias("label"),
            )
        )
        # path halving: label <- label(label)
        lab2 = stepped.select(
            F.col("v").alias("_v2"), F.col("label").alias("_l2")
        )
        new_labels = (
            stepped.join(lab2, stepped["label"] == lab2["_v2"], "left")
            .select(
                "v",
                "_old",
                F.least(
                    F.col("label"), F.coalesce(F.col("_l2"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        # convergence probe reads the _old column carried through the
        # checkpointed relation — a filter scan of the tiny label
        # relation instead of the old labels-vs-new_labels join job
        changed = (
            new_labels.filter(F.col("label") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("v", "label")
        if changed == 0:
            break
    # Expand the contraction: every original vertex takes its rep's
    # propagated label; reps whose component fully collapsed (no
    # surviving contracted edges, so absent from `labels`) keep the
    # rep id itself — which IS the component min for collapsed cliques.
    return (
        rep.join(labels, rep["_rep"] == labels["v"], "left")
        .select(
            F.col("_rv").alias(id_col),
            F.coalesce(F.col("label"), F.col("_rep")).alias("cluster_id"),
        )
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """32-bit SimHash per document: sign of the per-bit sum of token
    hashes. Computed with higher-order functions (aggregate over the
    token array), no Python."""
    toks = F.array_distinct(tokens(text_col))
    df = ensure_parallelism(df)
    hashed = df.select(
        F.col(id_col),
        F.transform(toks, lambda t: portable_hash64(t)).alias("_h"),
    )
    bit_cols = []
    for b in range(bits):
        # +1 when bit set, -1 otherwise; simhash bit = majority sign
        contrib = F.aggregate(
            "_h",
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b) % 2 == 1, 1).otherwise(-1),
        )
        bit_cols.append(
            F.when(contrib > 0, F.lit(2**b).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig + c
    return hashed.select(id_col, sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 8-bit
    chunks (a pair within distance d <= 3 shares at least one of 4
    chunks untouched)."""
    sigs = simhash_signatures(df, text_col, id_col, bits)
    n_chunks = 4
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    chunks = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    (F.shiftright("simhash", i * chunk_bits) % F.lit(mask + 1)).cast(
                        "bigint"
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.chunk_idx") == F.col("b.chunk_idx"),
                F.col("a.chunk_val") == F.col("b.chunk_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_len: int = 10,
    max_posting: int = 50,
) -> DataFrame:
    """EXACT cross-document duplicate spans: every maximal run of >=
    ``min_len`` consecutive tokens shared verbatim between two
    documents, with its start position in each — the substring-level
    dedup of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"), which catches the partial copies
    (quoted paragraphs, license blocks, syndicated ledes) that
    whole-document MinHash misses, re-expressed relationally instead
    of via their suffix array:

    1. POSITIONED k-token shingles per document (JVM ``transform`` +
       ``posexplode`` — no UDF): a span of L shared tokens is exactly
       a run of L - k + 1 consecutive shingle matches.
    2. Inverted index with the engine's posting guard: only shingles
       occurring 2..``max_posting`` times survive ("count >= 2"
       prunes the unique bulk of the corpus before the join;
       ``max_posting`` caps the join's quadratic blowup the way
       MinHash's ``max_bucket_size`` and the TF-IDF prefix cap do —
       a shingle hotter than the cap is boilerplate, and boilerplate
       spans surface through the line-level strip instead).
    3. Self-join on the shingle (``doc_a < doc_b``), then the classic
       islands pass on each pair's DIAGONAL (``pos_a - pos_b``):
       consecutive matched positions on one diagonal are one shared
       run; a ``lag``/running-sum window over (pair, diagonal) splits
       the islands, and one groupBy emits each island's start + length.

    Every exchange is keyed (shingle, then pair-diagonal); the windows
    ride hash partitioning (never SinglePartition); span length is
    ``#matched shingles + k - 1`` tokens.

    Returns ``(doc_a, doc_b, start_a, start_b, span_tokens)`` with
    0-based token offsets.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if min_len < k:
        raise ValueError("min_len must be >= k (spans are measured in tokens)")
    if max_posting < 2:
        raise ValueError("max_posting must be >= 2")
    toks = tokens(text_col)
    n = F.size(toks)
    # positioned k-gram strings: element order IS the position, so
    # posexplode yields the (_pos, _sh) rows directly
    sh = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_t"), n.alias("_n"))
        .filter(F.col("_n") >= k)
        .select(
            "_id",
            F.posexplode(kgrams(F.col("_t"), k, F.col("_n"))).alias(
                "_pos", "_sh"
            ),
        )
    )
    # r12 (guide §2.1): the old shape computed the posting counts with
    # a groupBy + join back into the shingle stream, then SELF-JOINED
    # the indexed stream — Catalyst planned the text->positioned-
    # shingle pipeline four times (12 Exchanges / 8 scans for one
    # call). Now the posting count rides a count window over the SAME
    # _sh key the bucket groupBy uses (one exchange, reused — the
    # _lsh_buckets convention) and the cross-doc position pairs
    # explode INSIDE each bucket: the shingle pipeline is planned
    # once, and there is no self-join to skew. Aggregation state stays
    # bounded — the count filter runs BEFORE collect_list, so no
    # bucket ever materializes more than max_posting entries (same
    # guard semantics: count is the FULL posting size).
    wsh = Window.partitionBy("_sh")
    bucketed = (
        sh.withColumn("_c", F.count(F.lit(1)).over(wsh))
        .filter((F.col("_c") >= 2) & (F.col("_c") <= int(max_posting)))
        .groupBy("_sh")
        .agg(
            F.sort_array(F.collect_list(F.struct("_id", "_pos"))).alias(
                "_e"
            )
        )
    )
    n_e = F.size("_e")
    pair_structs = F.flatten(
        F.transform(
            "_e",
            lambda x, i: F.transform(
                F.slice("_e", i + 2, F.greatest(n_e - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x["_id"].alias("doc_a"),
                    y["_id"].alias("doc_b"),
                    x["_pos"].alias("_pa"),
                    y["_pos"].alias("_pb"),
                ),
            ),
        )
    )
    pairs = (
        bucketed.select(F.explode(pair_structs).alias("_p"))
        # sorted by (_id, _pos): i<j pairs have _p.doc_a <= _p.doc_b,
        # so != replicates the old doc_a < doc_b orientation exactly
        .filter(F.col("_p.doc_a") != F.col("_p.doc_b"))
        .select(
            F.col("_p.doc_a").alias("doc_a"),
            F.col("_p.doc_b").alias("doc_b"),
            F.col("_p._pa").alias("_pa"),
            F.col("_p._pb").alias("_pb"),
            (F.col("_p._pa") - F.col("_p._pb")).alias("_diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "_diag").orderBy("_pa")
    runs = pairs.withColumn(
        "_brk",
        F.when(F.col("_pa") - F.lag("_pa").over(w) == 1, 0).otherwise(1),
    ).withColumn(
        "_run",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        runs.groupBy("doc_a", "doc_b", "_diag", "_run")
        .agg(
            F.min("_pa").cast("long").alias("start_a"),
            F.min("_pb").cast("long").alias("start_b"),
            (F.count("*") + F.lit(k - 1)).cast("long").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= int(min_len))
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 20,
    block_col: str | None = None,
    max_block_size: int | None = None,
) -> DataFrame:
    """Edit-distance near-dup pairs: all document pairs within
    ``max_dist`` Levenshtein operations — the character-level dedup
    modality (catches small in-place edits on SHORT texts, where
    shingle/MinHash methods lose resolution because a one-character
    change flips every k-shingle it touches).

    Candidate generation is length-band bucketed, the necessary-
    condition prune: two strings within ``max_dist`` edits differ by
    at most ``max_dist`` characters of length, so docs bucket by
    ``length div max_dist`` and each doc probes only its own and
    adjacent buckets (|bucket gap| <= 1 is implied by the length
    bound — exactly one join hit per candidate pair, no dedup pass).
    Within ``block_col`` (language, source...) when given. The verify
    uses Spark's thresholded ``levenshtein(l, r, max_dist)`` — the JVM
    implementation early-exits above the threshold, so the per-pair
    cost is O(len * max_dist), not O(len^2).

    ``max_block_size`` drops (block, bucket) cells holding more docs
    than the bound — the engine's posting-guard convention (MinHash
    ``max_bucket_size``, TF-IDF ``max_posting_size``) for boilerplate-
    degenerate corpora where one length band holds everything.

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``.
    """
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    keys = [F.col(block_col).alias("_blk")] if block_col else [
        F.lit(0).alias("_blk")
    ]
    base = df.select(
        *keys,
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        (F.length(text_col) / F.lit(max_dist))
        .cast("long")
        .alias("_bkt"),
        F.length(text_col).alias("_len"),
    ).filter(F.col("_txt").isNotNull())
    if max_block_size is not None:
        sizes = (
            base.groupBy("_blk", "_bkt")
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") <= int(max_block_size))
            .select("_blk", "_bkt")
        )
        base = base.join(sizes, ["_blk", "_bkt"], "left_semi")
    probe = base.select(
        "_blk",
        F.col("_id").alias("id_a"),
        F.col("_txt").alias("_ta"),
        F.col("_len").alias("_la"),
        F.explode(
            F.array(
                F.col("_bkt") - 1, F.col("_bkt"), F.col("_bkt") + 1
            )
        ).alias("_jb"),
    )
    build = base.select(
        "_blk",
        F.col("_bkt").alias("_jb"),
        F.col("_id").alias("id_b"),
        F.col("_txt").alias("_tb"),
        F.col("_len").alias("_lb"),
    )
    cand = probe.join(build, ["_blk", "_jb"]).filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("_la") - F.col("_lb")) <= max_dist)
    )
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), int(max_dist))
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )


def clip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level dedup, the REMOVAL step of Lee et al. 2022
    (:func:`duplicated_ngram_stats` is the matching detector): every
    word position covered by an ``n``-gram that occurs in
    ``>= min_docs`` DISTINCT documents is clipped; the remaining words
    are re-joined with single spaces. Gram matching is lowercase (the
    detector's definition); the emitted words keep their original
    form.

    Shuffle profile at 100 TB — linear passes only, no all-pairs, and
    NO gram string ever crosses an exchange: each positional gram is
    reduced AT EXPLODE TIME to a 128-bit key — two INDEPENDENT
    ``xxhash64`` values, the second with the salt placed FIRST
    (``xxhash64(lit(1), s)``): Spark chains multi-column hashes, so
    ``xxhash64(s, lit(1))`` would equal ``XXH64(1, seed=xxhash64(s))``,
    a pure function of the first hash, collapsing the pair back to 64
    effective bits. Salt-first makes g2 = ``XXH64(s, seed=XXH64(1,42))``
    — a genuinely different seed over the same bytes, so joint
    collisions need both 64-bit hashes to collide (~2^-128 per pair;
    at trillions of grams, expected birthday collisions ~0 vs the
    certain ones a 64-bit key would give). The standard production
    trade for span dedup at corpus scale: every downstream pass
    shuffles 16-byte keys
    instead of ~n-word strings (measured: the sf10 duplicated-gram
    stage dropped ~4x when the string left the shuffle). Passes:
    (1) distinct (doc, key) projection -> key-keyed count
    (map-combinable; the distinct projection makes ``count(*)`` the
    distinct-doc count, the skew-safe two-stage shape); (2) the
    surviving duplicated-key set — far smaller than the gram relation
    — semi-joins back on the SAME key (hash partitioning reused);
    (3) covered positions explode (bounded by n per match) and the
    doc-keyed run/range rebuild (linear per document). Known
    Lee-et-al caveat, inherited deliberately: clipping can create NEW
    adjacencies, so a second pass may find fresh (rarer) duplicated
    grams; pipelines run it to a fixpoint or accept one pass.

    Returns (id_col, n_words, n_removed, clipped_text); documents with
    fewer than ``n`` words pass through unclipped.
    """
    base = df.select(F.col(id_col), words(text_col).alias("_w"))
    n_words = F.size("_w")

    # lowercased gram strings over the PER-WORD-lowered word array.
    # Lowering per word before joining equals lowering the joined gram:
    # Java/UTF8 case mapping is context-free except the final-sigma
    # rule, and a word-final sigma is followed by a space (non-letter)
    # in the joined gram — final form either way. Array order IS the
    # gram position, so posexplode replaces the carried pos field.
    gram_acc = kgrams(F.transform("_w", lambda w: F.lower(w)), n, n_words)
    grams = (
        base.filter(n_words >= n)
        .select(id_col, F.posexplode(gram_acc).alias("pos", "_s"))
        .select(
            id_col,
            "pos",
            F.xxhash64("_s").alias("g1"),
            # salt FIRST: xxhash64(lit(1), s) = XXH64(s, seed=XXH64(1,42)),
            # independent of g1; salt-last would chain off g1's value.
            F.xxhash64(F.lit(1), "_s").alias("g2"),
        )
    )
    dup = (
        grams.select(id_col, "g1", "g2")
        .distinct()
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("g1", "g2")
    )
    covered = (
        grams.join(dup, on=["g1", "g2"], how="left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_cov"))
    )
    joined = base.join(covered, on=id_col, how="left")
    cov = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    # Linear per-document rebuild (was: array_contains per word =
    # O(n_words * n_covered), quadratic for a long fully-duplicated
    # doc). Sort the covered positions once, find the boundaries of
    # each covered RUN by zip-merging the sorted array against itself
    # shifted by one (sentinels pad the ends; zip_with null-pads the
    # shorter side, and the filter drops those), turn the complement
    # into kept [start, len) ranges, and emit kept words as
    # flatten(slice(...)) — O(n_words + n_covered) per document.
    cs = F.sort_array(cov)
    m = F.size(cs)
    prev = F.concat(
        F.array(F.lit(-2)), F.slice(cs, 1, F.greatest(m - 1, F.lit(0)))
    )
    nxt = F.concat(
        F.slice(cs, 2, F.greatest(m - 1, F.lit(0))), F.array(F.lit(-10))
    )
    run_starts = F.filter(
        F.zip_with(cs, prev, lambda c, p: F.when(c != p + 1, c)),
        lambda x: x.isNotNull(),
    )
    run_ends = F.filter(
        F.zip_with(cs, nxt, lambda c, x: F.when(x != c + 1, c)),
        lambda x: x.isNotNull(),
    )
    n_words_c = F.size("_w")
    gap_starts = F.concat(
        F.array(F.lit(0)), F.transform(run_ends, lambda e: e + 1)
    )
    gap_ends = F.concat(run_starts, F.array(n_words_c))
    ranges = F.filter(
        F.zip_with(
            gap_starts,
            gap_ends,
            lambda a, b: F.struct(a.alias("a"), (b - a).alias("n")),
        ),
        lambda r: r["n"] > 0,
    )
    kept_words = F.flatten(
        F.transform(ranges, lambda r: F.slice("_w", r["a"] + 1, r["n"]))
    )
    return joined.select(
        id_col,
        F.size("_w").cast("long").alias("n_words"),
        F.size(cov).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept_words).alias("clipped_text"),
    )


# ---------------------------------------------------------------------------
# Incremental / snapshot dedup: a production corpus GROWS; re-running
# the batch operators rescans the world for every delivery. These
# operators dedup a NEW batch against persisted snapshot state (exact
# tier: the (fingerprint, keeper_id) relation; near-dup tier: the
# (id, band, band_sig) LSH index) and emit the rows that roll the
# snapshot forward — the corpus text is never re-fingerprinted, never
# re-shingled, never re-banded.
# ---------------------------------------------------------------------------


def incremental_exact_dedup(
    new_docs: DataFrame,
    state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-dedup a new batch against a persisted fingerprint
    snapshot. ``state`` is a (fingerprint, keeper_id) relation — build
    the initial snapshot with :func:`duplicate_groups` (drop
    n_copies) and append this function's kept rows' fingerprints to
    roll it forward.

    Returns one row per new document:
    (id_col, fingerprint, status, keeper_id) where status is
    ``'kept'`` (first copy anywhere — keeper_id = own id),
    ``'dup_of_state'`` (fingerprint already snapshotted — keeper_id =
    the state keeper) or ``'dup_in_batch'`` (first seen in this batch
    under a lower id — keeper_id = that id).

    Equivalence contract (pytest-pinned): with an append-only id
    order (every state id < every new id — the snapshot convention),
    the kept set equals ``exact_dedup(state_docs UNION new_docs)``
    restricted to new ids.

    Shuffle profile: the batch is fingerprinted map-side and joined
    against the state ON THE FINGERPRINT KEY — one hash exchange of
    the (32-byte fp, id) state relation, never of the corpus TEXT;
    the in-batch window shares the fingerprint key. A full recompute
    re-shuffles the raw text of the whole corpus; at a 100 TB corpus
    with kilobyte documents the state relation is ~2 orders of
    magnitude smaller.
    """
    fp = F.md5(_normalized(text_col))
    batch = (
        new_docs.select(F.col(id_col), fp.alias("fingerprint"))
        .withColumn("_batch_keeper", F.min(id_col).over(
            Window.partitionBy("fingerprint")
        ))
    )
    st = state.select(
        F.col("fingerprint"),
        F.col("keeper_id").alias("_state_keeper"),
    )
    joined = batch.join(st, on="fingerprint", how="left")
    status = (
        F.when(F.col("_state_keeper").isNotNull(), F.lit("dup_of_state"))
        .when(F.col("_batch_keeper") < F.col(id_col),
              F.lit("dup_in_batch"))
        .otherwise(F.lit("kept"))
    )
    keeper = (
        F.when(F.col("_state_keeper").isNotNull(), F.col("_state_keeper"))
        .when(F.col("_batch_keeper") < F.col(id_col),
              F.col("_batch_keeper"))
        .otherwise(F.col(id_col))
    )
    # keeper keeps the id column's NATIVE type (matching exact_dedup /
    # duplicate_groups); a forced long cast would silently null string
    # ids. _state_keeper may arrive as a different-but-castable type
    # from a reloaded snapshot — coalesce unifies on the id's type.
    return joined.select(
        id_col,
        "fingerprint",
        status.alias("status"),
        keeper.alias("keeper_id"),
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    band_index: DataFrame,
    corpus_texts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = DEFAULT_NUM_HASHES,
    num_bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch, against a persisted LSH
    snapshot — the incremental form of :func:`minhash_dedup_pairs`.

    ``band_index`` is the (id, band, band_sig) snapshot from
    :func:`minhash_band_index` covering all PREVIOUS documents (the
    new batch must not already be in it); ``corpus_texts`` is the
    (id, text) relation for previous documents, read only to exactly
    verify candidate pairs (candidates are joined by id, so the scan
    feeds a key join, never a pair explosion). Returns
    (id_a, id_b, jaccard) with id_a < id_b, exactly like the batch
    operator.

    Equivalence contract (pytest-pinned): the result equals
    ``minhash_dedup_pairs(previous UNION new)`` filtered to pairs
    with at least one new-batch id — banding the new batch and
    joining against the snapshot's band rows reaches exactly the
    buckets a full re-band would have co-located, because band keys
    are deterministic functions of the text.

    Shuffle profile: the new batch is signed and banded map-side and
    BROADCAST against the snapshot's band rows (a delivery batch is
    bounded by nature — the state side, the relation that grows with
    the corpus, is scanned map-only and never shuffled for the join);
    verification first semi-joins the text relations down to
    candidate-involved ids (broadcast — candidate near-dup sets are
    small), so shingle sets are computed and shuffled for candidates
    only, never for the whole state corpus. ``max_bucket_size``
    bounds viral buckets the same way as the batch operator — the
    state side of a bucket is capped with a deterministic
    lowest-ids-first rule, so the cap is reproducible across runs
    (the cap window is the one operation that does re-shuffle the
    state index; leave it None unless viral buckets are real).

    Roll the snapshot forward by appending
    ``minhash_band_index(new_docs)`` (already computed here — reuse
    it via the helper if the batch is large) to the persisted index.
    """
    new_sigs = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_k
    )
    # Materialize the banded delta once: both the state join and the
    # in-batch candidate explosion branch off this relation, and
    # without the checkpoint each branch re-shingles and re-MinHashes
    # the delta at action time. The delta is bounded (it is broadcast
    # below), so the local materialization is cheap by construction.
    new_bands = banded_signatures(new_sigs, id_col, num_bands) \
        .localCheckpoint(eager=False)
    # new-vs-state: band join against the snapshot. Cap the state
    # side per bucket deterministically (lowest ids first) when a
    # viral-bucket bound is requested.
    state_bands = band_index.select(
        F.col(id_col).alias("_sid"), "band", "band_sig"
    )
    if max_bucket_size is not None:
        wb = Window.partitionBy("band", "band_sig").orderBy("_sid")
        state_bands = (
            state_bands.withColumn("_bn", F.row_number().over(wb))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    vs_state = (
        F.broadcast(new_bands).join(state_bands, on=["band", "band_sig"])
        .filter(F.col(id_col) != F.col("_sid"))
        .select(
            F.least(F.col(id_col), F.col("_sid")).alias("id_a"),
            F.greatest(F.col(id_col), F.col("_sid")).alias("id_b"),
        )
    )
    # new-vs-new: the batch operator's bucket pair explosion, REUSING
    # the bands already built above — the delta is shingled and
    # MinHashed exactly once per action instead of once per lineage
    vs_new = _lsh_pairs_from_bands(
        new_bands, id_col, max_bucket_size=max_bucket_size
    )
    cands = vs_state.unionByName(vs_new).distinct()
    texts = corpus_texts.select(
        F.col(id_col), F.col(text_col)
    ).unionByName(new_docs.select(F.col(id_col), F.col(text_col)))
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # shingle CANDIDATE texts only: without this semi-join the
    # verification stage computes and shuffles shingle arrays for the
    # entire state corpus (the linear term that swamps the snapshot
    # win) instead of for the handful of candidate-involved docs
    sh = texts.join(F.broadcast(cand_ids), on=id_col, how="left_semi") \
        .select(
            F.col(id_col), word_shingles(text_col, shingle_k).alias("_s")
        )
    # broadcast the PAIR relation (two ids per row — delta-bounded by
    # construction, like cand_ids above): without the hint the planner
    # flips with the state size — small states broadcast the SHINGLE
    # relation (serial driver build of array-heavy rows), large states
    # sort-merge-join it (sorting shingle arrays across an exchange).
    # Pinning the fixed-width side keeps the first verification join
    # map-only over sh at ANY state size, so shingle arrays never
    # cross that exchange. Probe-scale walls are unchanged (~11/8 s at
    # sf1/sf10 — the small-end inversion is AQE-coalescing overhead on
    # a near-constant workload, measured: disabling coalescing makes
    # sf1 3x WORSE, so the plan is already right); the hint is for the
    # 100 TB shape, where an unhinted SMJ of unbounded-width arrays is
    # the hazard.
    return (
        F.broadcast(cands).join(
            sh.withColumnRenamed(id_col, "id_a")
            .withColumnRenamed("_s", "_sa"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed(id_col, "id_b")
            .withColumnRenamed("_s", "_sb"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("_sa", "_sb"))
                / F.size(F.array_union("_sa", "_sb")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def compact_exact_state(state: DataFrame) -> DataFrame:
    """Compact the exact-dedup fingerprint snapshot (snapshot hygiene
    for :func:`incremental_exact_dedup`): one row per fingerprint,
    keeping the MINIMUM keeper_id — the first-copy-anywhere rule the
    incremental operator itself applies under the append-only id
    convention.

    The raw snapshot grows monotonically with every delta append, and
    a sloppy pipeline (a delivery replayed after a failure, two
    deliveries appended with overlapping fingerprints) leaves the
    SAME fingerprint under one or more keepers. That is not just
    bloat: ``incremental_exact_dedup`` joins the delta on the
    fingerprint key, so a doubled state row DOUBLES every matching
    output row. Compaction restores the unique-fingerprint invariant
    and shrinks the relation back to one 32-byte-keyed row per
    distinct document ever kept.

    Equivalence contract (oracle-pinned in ``compact_exact``):
    ``incremental_exact_dedup(delta, compact_exact_state(s))`` equals
    ``incremental_exact_dedup(delta, s)`` row-for-row whenever ``s``
    respects append-only id order (every replay/overlap row carries a
    keeper >= the first one, so min() picks the original) — and on a
    corrupted state the compacted run is the CORRECT one.

    Shuffle profile: one map-combinable groupBy on the fingerprint
    key — the same single exchange of 32-byte keys the incremental
    query itself pays; never touches document text.
    """
    return state.groupBy("fingerprint").agg(
        F.min("keeper_id").alias("keeper_id")
    )


def compact_band_index(
    band_index: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Compact the LSH band-index snapshot (snapshot hygiene for
    :func:`incremental_minhash_pairs`): drop exact duplicate
    (id, band, band_sig) rows left by replayed deliveries, and — when
    ``max_bucket_size`` is given — re-cap viral buckets with the SAME
    deterministic lowest-ids-first rule the incremental query applies
    at probe time, so the cap is paid ONCE at compaction instead of
    re-sorting the bucket on every delivery.

    Equivalence contract (oracle-pinned in ``compact_band_index``):
    querying the compacted index with ``max_bucket_size=None`` equals
    querying the raw (distinct) index with ``max_bucket_size=cap`` —
    the candidate set, and therefore the verified pair set, is
    identical because both apply the same (band, band_sig,
    lowest-ids) truncation.

    Shuffle profile: one exchange on the (band, band_sig) key (the
    distinct and the cap window share it); rows are band-sig-sized,
    never text. Run it offline between deliveries — the hot path
    never pays the window.
    """
    out = band_index.select(id_col, "band", "band_sig").distinct()
    if max_bucket_size is not None:
        wb = Window.partitionBy("band", "band_sig").orderBy(id_col)
        out = (
            out.withColumn("_bn", F.row_number().over(wb))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    return out


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): character ``k``-gram hashes of
    the normalized text, winnowed by selecting the RIGHTMOST MINIMUM
    hash of every ``window`` consecutive k-grams. The guarantee that
    makes this the local-fingerprinting standard: any shared substring
    of length >= ``k + window - 1`` contributes at least one COMMON
    selected fingerprint to both documents, and no substring shorter
    than ``k`` ever matches — robust partial-overlap detection with a
    provable detection threshold, where MinHash sees only whole-set
    resemblance.

    Deterministic (the rightmost-min tie rule is the paper's robust
    winnowing) and value-replicable: the portable md5 k-gram hash and
    the window argmin replay bit-for-bit in ANSI SQL. Short-document
    contract: fewer than ``window`` k-grams → ONE window spanning all
    of them; text shorter than ``k`` → the whole normalized text is
    the single k-gram.

    Scale shape: map-only until the final distinct — normalization,
    k-gram explosion, hashing and the window scan are all per-row
    array algebra (JVM higher-order functions, no Python, no window
    exchange); each doc emits ~``2/(window+1)`` of its k-gram count
    as selected fingerprints. The only shuffle is the per-doc
    ``array_distinct`` (in-array, free) — the relation itself needs
    no exchange at all.

    Returns ``(id_col, fp bigint, pos int)`` — one row per distinct
    selected (fingerprint, position) pair per document.
    """
    sel = _winnow_selected(df, text_col, id_col, k, window)
    return (
        sel.select(
            id_col, F.explode(F.array_distinct("_sel")).alias("_s")
        )
        .select(
            id_col,
            F.col("_s.h").alias("fp"),
            F.col("_s.p").alias("pos"),
        )
    )


def _winnow_selected(
    df: DataFrame, text_col: str, id_col: str, k: int, window: int
) -> DataFrame:
    """Shared winnowing kernel: ``(id_col, _sel)`` where ``_sel`` is
    the per-doc array of selected ``struct(h, p)`` fingerprints (one
    per window, rightmost-minimum rule) — all map-side column
    algebra, no shuffle. :func:`winnow_fingerprints` explodes the
    structs; :func:`winnow_neardup_pairs` dedups the hash values
    in-array first so no per-position row ever crosses an exchange."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if window < 1:
        raise ValueError("window must be >= 1")
    df = ensure_parallelism(df)
    # bind the normalized text ONCE as a column: the k-gram transform
    # lambda references it per element, and an inline normalization
    # there would re-run regexp_replace+lower+trim PER K-GRAM
    # (~grams/doc times per row — 4.2x the whole hash stage)
    dn = df.select(F.col(id_col), _normalized(text_col).alias("_nt"))
    kgs = F.when(
        F.length("_nt") >= k,
        F.expr(
            f"transform(sequence(1, length(_nt) - {k} + 1),"
            f" i -> substring(_nt, i, {k}))"
        ),
    ).otherwise(F.array(F.col("_nt")))
    hs = F.transform(kgs, lambda g: portable_hash64(g))
    df2 = dn.select(F.col(id_col), hs.alias("_hs"))
    w = int(window)
    sel = F.expr(
        "transform(sequence(1, greatest(size(_hs) - {w} + 1, 1)), i ->"
        " aggregate(sequence(i, least(i + {w} - 1, size(_hs))),"
        "  struct(cast(9223372036854775807 as bigint) as h,"
        "         cast(-1 as int) as p),"
        "  (acc, j) -> if(_hs[j - 1] <= acc.h,"
        "                 struct(_hs[j - 1] as h, cast(j as int) as p),"
        "                 acc)))".format(w=w)
    )
    return df2.select(F.col(id_col), sel.alias("_sel"))


def winnow_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Partial-overlap candidate pairs via shared winnowing
    fingerprints: documents sharing >= ``min_shared`` distinct
    selected fingerprints — the MOSS match step. Because winnowing
    guarantees a common fingerprint for any shared run of
    ``k + window - 1`` characters, this surfaces PARTIAL overlap
    (a copied paragraph inside otherwise-different documents) that
    whole-document MinHash resemblance dilutes away.

    Scale shape: one exchange on the fingerprint key; viral
    fingerprints (boilerplate every doc shares) are capped at
    ``max_bucket_size`` docs and DROPPED (cap+1 detection, the
    band-bucket convention — a fingerprint shared by everyone carries
    no pair signal), so the pair fan-out per fingerprint is bounded.
    The pair count aggregation is map-combinable.

    Returns ``(id_a, id_b, shared_fps)`` with ``id_a < id_b``.
    """
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    # (id, fp) duplicates only exist WITHIN a document (the same hash
    # selected at several positions), so the per-doc dedup happens
    # in-array before the explode — no distinct exchange; the window
    # partitioning below is the operator's only fp-keyed shuffle and
    # the groupBy rides it.
    fps = _winnow_selected(df, text_col, id_col, k, window).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform("_sel", lambda s: s["h"])
            )
        ).alias("fp"),
    )
    wb = Window.partitionBy("fp").orderBy(id_col)
    bounded = (
        fps.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") <= max_bucket_size + 1)
    )
    over = (
        bounded.groupBy("fp")
        .agg(
            F.max("_rn").alias("_mx"),
            F.collect_list(id_col).alias("_ids"),
        )
        .filter(F.col("_mx") <= max_bucket_size)
    )
    pairs = over.select(
        F.explode(
            F.expr(
                "flatten(transform(_ids, (a, i) ->"
                " transform(slice(_ids, i + 2, size(_ids)),"
                " b -> struct(least(a, b) as id_a,"
                " greatest(a, b) as id_b))))"
            )
        ).alias("_p")
    ).select("_p.id_a", "_p.id_b")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle CONTAINMENT
    ``C(A,B) = |S(A) ∩ S(B)| / |S(A)|`` (Broder 1997's containment,
    the companion to resemblance) — the measure that catches a short
    document quoted inside a long one, which symmetric Jaccard
    dilutes toward zero as the host grows. A pair survives when
    EITHER direction's containment reaches ``threshold``.

    Exact (no sketch): distinct k-word shingles are reduced to
    portable 56-bit hash keys at explode time (nothing longer than a
    hash crosses the exchange; collision odds ~2^-56 per pair),
    bucket-joined on the shingle key with viral shingles capped at
    ``max_bucket_size`` docs and DROPPED (cap+1 detection — a shingle
    every doc shares carries no pair signal), intersection counts
    map-combined, and each side's shingle count joined back for the
    two ratios.

    Shuffle profile: one exchange on the shingle key + one
    map-combinable pair groupBy + two broadcast-size joins (the
    per-doc size relation is id-keyed, AQE broadcasts when it fits).

    Returns ``(id_a, id_b, n_common, size_a, size_b,
    containment_a, containment_b)`` with ``id_a < id_b``;
    containment_x = shared fraction of x's shingles, rounded to 6.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    df = ensure_parallelism(df)
    sh = df.select(
        F.col(id_col),
        F.explode(word_shingles(text_col, shingle_k)).alias("_s"),
    ).filter(F.col("_s") != "").select(
        id_col, portable_hash64(F.col("_s")).alias("_h")
    ).distinct()
    sizes = sh.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("_sz")
    )
    wb = Window.partitionBy("_h").orderBy(id_col)
    bounded = (
        sh.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") <= max_bucket_size + 1)
    )
    buckets = (
        bounded.groupBy("_h")
        .agg(
            F.max("_rn").alias("_mx"),
            F.collect_list(id_col).alias("_ids"),
        )
        .filter(F.col("_mx") <= max_bucket_size)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(_ids, (a, i) ->"
                " transform(slice(_ids, i + 2, size(_ids)),"
                " b -> struct(least(a, b) as id_a,"
                " greatest(a, b) as id_b))))"
            )
        ).alias("_p")
    ).select("_p.id_a", "_p.id_b")
    inter = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("_sz").alias("size_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("_sz").alias("size_b")
    )
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            "size_a",
            "size_b",
            F.round(
                F.col("n_common") / F.col("size_a").cast("double"), 6
            ).alias("containment_a"),
            F.round(
                F.col("n_common") / F.col("size_b").cast("double"), 6
            ).alias("containment_b"),
        )
    )
    return out.filter(
        (F.col("containment_a") >= threshold)
        | (F.col("containment_b") >= threshold)
    )
