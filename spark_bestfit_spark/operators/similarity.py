"""Similarity search over embedding columns (array<float>).

Two tiers:

- **brute-force cosine top-k** — the exact baseline. Dot products via
  ``zip_with`` + ``aggregate`` higher-order functions: JVM-side,
  codegen'd, no Python in the loop. The query side is broadcast, so the
  big side streams through a map-only stage followed by a per-query
  top-k (window) — one shuffle on query_id.
- **LSH-bucketed approximate top-k** — random-hyperplane signatures
  (deterministic seed), candidates from bucket collisions across L
  tables, exact cosine re-rank on candidates. At 100 TB the bucket join
  replaces the full cross product; recall is tuned by (n_planes, n_tables).

An IVF variant (KMeans coarse quantizer + nprobe search) is provided on
top of pyspark.ml for corpora where LSH recall is insufficient.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from spark_bestfit_spark.functions.text import portable_hash64, tokens

# Bound on the stacked ADC lookup tables a single query batch ships in
# its task closure (IvfPqIndex.query: Q x nprobe x m x n_codes float64).
# 256 MiB is far past any sane probe batch but far below the 1-2 GiB
# task-serialization cliffs; callers who hit it split the batch.
MAX_QUERY_LUT_BYTES = 256 * 2**20


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity_col(a: Column, b: Column) -> Column:
    """Cosine similarity between two array columns (JVM-side)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    queries is expected to be small (broadcast); vectors can be any
    size. Ties broken by neighbor id for determinism."""
    joined = vectors.crossJoin(F.broadcast(queries))
    sim = F.round(
        cosine_similarity_col(F.col(vec_col), F.col(query_vec_col)), 6
    )
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        sim.alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def self_topk(
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list | None = None,
) -> DataFrame:
    """Top-k neighbors within one table for a subset of query ids
    (excluding self-matches)."""
    q = vectors
    if query_ids is not None:
        q = vectors.filter(F.col(id_col).isin(query_ids))
    queries = q.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    out = brute_force_topk(
        vectors, queries, k + 1, id_col, vec_col, "query_id", "query_vec"
    )
    return (
        out.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cosine").desc(), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------- LSH tier
def _lloyd_kmeans(
    x: np.ndarray, k: int, seed: int, n_iter: int = 25
) -> np.ndarray:
    """Seeded k-means++ initialization + Lloyd iterations, pure numpy.
    Deterministic for a given (sample, k, seed); empty clusters are
    re-seeded from the point farthest from its center."""
    rng = np.random.default_rng(seed)
    n = x.shape[0]
    # k-means++ seeding
    centers = [x[rng.integers(0, n)]]
    d2 = np.sum((x - centers[0]) ** 2, axis=1)
    for _ in range(1, k):
        p = d2 / d2.sum() if d2.sum() > 0 else None
        idx = rng.choice(n, p=p)
        centers.append(x[idx])
        d2 = np.minimum(d2, np.sum((x - centers[-1]) ** 2, axis=1))
    c = np.asarray(centers)
    for _ in range(n_iter):
        dists = (
            np.sum(x * x, axis=1)[:, None]
            - 2.0 * (x @ c.T)
            + np.sum(c * c, axis=1)[None, :]
        )
        labels = np.argmin(dists, axis=1)
        new_c = c.copy()
        for j in range(k):
            mask = labels == j
            if mask.any():
                new_c[j] = x[mask].mean(axis=0)
            else:
                new_c[j] = x[np.argmax(dists.min(axis=1))]
        if np.allclose(new_c, c):
            c = new_c
            break
        c = new_c
    return c


def _hierarchical_kmeans(
    x: np.ndarray, k: int, seed: int
) -> tuple[np.ndarray, list, np.ndarray, np.ndarray]:
    """Two-level center FIT (the inverted-multi-index idea, Babenko &
    Lempitsky 2012, simplified to one coarse split): ``k1 = ceil(√k)``
    coarse Lloyd centers over the whole sample, then sub-centers fitted
    WITHIN each coarse cell, quota-allocated proportionally to cell
    population (largest-remainder, min 1) so the realized total NEVER
    exceeds ``k`` (it can be smaller when thin cells hold fewer points
    than their quota — documented contract).

    Why it exists: flat Lloyd is O(sample · k · d) per iteration (and
    its k-means++ seeding loops k times over the sample) — at the
    100 TB operating point (k ~ thousands) the driver-side FIT is the
    wall, not the data pass. Measured at the sf10 probe scale (100k
    sample, k=640, d=64): flat fit 67 s driver-side; this two-level
    fit ~3 s. The fitted centers are then used EXACTLY like flat
    Lloyd's — every vector is assigned by global argmin over the flat
    center list (see ``IvfIndex._build_local``), so cell semantics,
    ``query()`` probing, and ``save()``/``load()`` are identical in
    both modes. (Earlier versions assigned two-stage — nearest
    sub-center within the nearest coarse cell — which could disagree
    with query()'s global-argmin probe near coarse boundaries and
    cost recall at low nprobe; assignment is now always global.)

    Returns ``(coarse, subs, flat, offsets)``: coarse (k1, d); subs —
    list of per-cell (k_j, d) sub-center arrays; flat — vstack of
    subs, ``flat.shape[0] <= k``; offsets — index into flat of each
    coarse cell's first sub-center (fit introspection only)."""
    k1 = int(np.ceil(np.sqrt(k)))
    coarse = _lloyd_kmeans(x, k1, seed)
    scores = x @ coarse.T - 0.5 * np.sum(coarse * coarse, axis=1)
    lab = np.argmax(scores, axis=1)
    counts = np.bincount(lab, minlength=k1).astype(np.float64)
    # population-proportional quotas summing to exactly k, min 1 each
    # (largest-remainder): dense cells get more sub-centers, and the
    # realized total can never overshoot k the way a uniform
    # ceil(k/k1)-per-cell split could (k1 * ceil(k/k1) > k).
    shares = counts / max(counts.sum(), 1.0) * (k - k1)
    quota = np.ones(k1, dtype=np.int64) + np.floor(shares).astype(np.int64)
    remainder = k - int(quota.sum())
    if remainder > 0:
        frac = shares - np.floor(shares)
        for j in np.argsort(-frac, kind="stable")[:remainder]:
            quota[j] += 1
    subs: list = []
    offsets = np.zeros(k1, dtype=np.int64)
    off = 0
    for j in range(k1):
        pts = x[lab == j]
        kj = int(min(quota[j], max(pts.shape[0], 1)))
        if pts.shape[0] == 0:
            # empty coarse cell: keep its center so ids stay dense
            subs.append(coarse[j : j + 1].copy())
        elif kj == 1:
            subs.append(pts.mean(axis=0, keepdims=True))
        else:
            subs.append(_lloyd_kmeans(pts, kj, seed + j + 1))
        offsets[j] = off
        off += subs[-1].shape[0]
    return coarse, subs, np.vstack(subs), offsets


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int):
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def lsh_signatures(
    vectors: DataFrame,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, bucket) random-hyperplane signatures in ONE scan.

    All L tables' buckets are computed as an array column and
    ``posexplode``d — a union-of-tables design would re-scan the input
    L times, which at 100 TB is the whole job. The hyperplane tensor is
    tiny and goes into the plan as literals — no broadcast needed, no
    Python in the executors."""
    planes = _hyperplanes(dim, n_planes, n_tables, seed)
    bucket_exprs = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            w = planes[t, p]
            proj = F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(float(v)) for v in w]),
                    lambda x, c: x.cast("double") * c,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
        bucket = bits[0]
        for bcol in bits[1:]:
            bucket = bucket + bcol
        bucket_exprs.append(bucket.cast("bigint"))
    return vectors.select(
        F.col(id_col),
        F.posexplode(F.array(*bucket_exprs)).alias("table", "bucket"),
    )


def lsh_topk(
    vectors: DataFrame,
    dim: int,
    k: int = 5,
    query_ids: list | None = None,
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate self-top-k: LSH bucket candidates -> exact cosine
    re-rank. Candidates only — the cross product never materializes."""
    sigs = lsh_signatures(
        vectors, dim, n_planes, n_tables, seed, id_col, vec_col
    )
    qs = sigs if query_ids is None else sigs.filter(F.col(id_col).isin(query_ids))
    cand = (
        qs.alias("q")
        .join(
            sigs.alias("v"),
            on=[
                F.col("q.table") == F.col("v.table"),
                F.col("q.bucket") == F.col("v.bucket"),
                F.col(f"q.{id_col}") != F.col(f"v.{id_col}"),
            ],
        )
        .select(
            F.col(f"q.{id_col}").alias("query_id"),
            F.col(f"v.{id_col}").alias("neighbor_id"),
        )
        .distinct()
    )
    emb = vectors.select(F.col(id_col), F.col(vec_col))
    joined = (
        cand.join(
            emb.withColumnRenamed(id_col, "query_id").withColumnRenamed(
                vec_col, "_qv"
            ),
            "query_id",
        )
        .join(
            emb.withColumnRenamed(id_col, "neighbor_id").withColumnRenamed(
                vec_col, "_nv"
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity_col(F.col("_qv"), F.col("_nv")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return joined.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    use_lsh: bool = True,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    cosine >= threshold and id_a < id_b.

    ``use_lsh=True`` (the scale path) generates candidates from
    hyperplane-bucket collisions — near-identical vectors collide in
    some table with high probability — then verifies exactly; only
    candidate pairs are scored, never the cross product. With
    ``use_lsh=False`` the exact O(n^2) self-join runs (small inputs /
    oracle checks only)."""
    emb = vectors.select(F.col(id_col), F.col(vec_col))
    if use_lsh:
        if dim is None:
            dim = len(emb.select(vec_col).first()[0])
        sigs = lsh_signatures(
            vectors, dim, n_planes, n_tables, seed, id_col, vec_col
        )
        cand = (
            sigs.alias("a")
            .join(
                sigs.alias("b"),
                on=[
                    F.col("a.table") == F.col("b.table"),
                    F.col("a.bucket") == F.col("b.bucket"),
                    F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                ],
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
    else:
        a, b = emb.alias("a"), emb.alias("b")
        cand = a.join(
            b, on=[F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    scored = (
        cand.join(
            emb.withColumnRenamed(id_col, "id_a").withColumnRenamed(
                vec_col, "_va"
            ),
            "id_a",
        )
        .join(
            emb.withColumnRenamed(id_col, "id_b").withColumnRenamed(
                vec_col, "_vb"
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity_col(F.col("_va"), F.col("_vb")), 6).alias(
                "cosine"
            ),
        )
    )
    return scored.filter(F.col("cosine") >= threshold)


class IvfIndex:
    """Persistent IVF index: KMeans coarse quantizer fitted once, cell
    assignments cached (or written to parquet), then any number of
    queries probe only their ``nprobe`` nearest cells.

    Build cost is one KMeans fit + one assignment pass; each query costs
    a broadcast of the (tiny) centers, a cell-pruned candidate join and
    a per-query top-k window — no full scans of the corpus."""

    def __init__(self, assigned: DataFrame, centers: list,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
        self.assigned = assigned
        self.centers = [[float(v) for v in c] for c in centers]
        self.id_col = id_col
        self.vec_col = vec_col

    # ------------------------------------------------------------- build
    @classmethod
    def build(
        cls,
        vectors: DataFrame,
        n_clusters: int = 16,
        seed: int = 42,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        cache: bool = True,
        method: str = "ml",
        sample_size: int = 100_000,
        hierarchical: bool | None = None,
    ) -> "IvfIndex":
        """Fit the coarse quantizer and assign every vector to a cell.

        ``method="ml"`` (default): distributed ``pyspark.ml`` KMeans
        over the full corpus — the heavyweight, fully-distributed fit.

        ``method="local"``: the quantizer is fitted DRIVER-SIDE on a
        seeded sample of <= ``sample_size`` vectors (Lloyd iterations
        with k-means++ seeding, pure numpy), then every vector is
        assigned in ONE Arrow-batched map stage against the broadcast
        centers (argmin over a (batch, k) distance matmul). This is
        the standard shape for coarse quantizers at 100 TB: center
        quality needs only a sample, so the cluster never runs KMeans
        jobs over the corpus — the full-data pass is map-only.

        ``hierarchical`` (local method only): ``True`` fits the
        centers with the two-level quantizer
        (:func:`_hierarchical_kmeans` — √k coarse cells, then
        population-proportional sub-centers within each; fit cost
        ~2√k center-distances per point instead of k), ``False``
        forces flat Lloyd, ``None`` (default) picks two-level when
        ``n_clusters >= 128`` — the point where the flat fit's O(k)
        terms start dominating the whole build (measured sf10 probe:
        67 s of a 155 s semantic_dedup was the flat fit at k=640).
        The choice affects ONLY how the centers are fitted: every
        vector is assigned by global argmin over the flat center
        list in both modes, so query()/nprobe, save()/load(), and
        every downstream consumer see one contract, and an
        exact-match query always probes its own vector's cell first.
        ``len(centers)`` never exceeds ``n_clusters`` (it can be
        smaller when thin coarse cells hold fewer sample points than
        their quota).

        .. note:: behavior change (round 9/10): at ``n_clusters >=
           128`` with ``hierarchical=None`` the centers are now
           two-level-fitted, so cell assignments (and anything seeded
           off them, e.g. ``semantic_dedup`` keeper choices) differ
           from the flat-Lloyd cells older versions produced at the
           same seed. Pass ``hierarchical=False`` to reproduce the
           old geometry exactly."""
        if method == "local":
            return cls._build_local(
                vectors, n_clusters, seed, id_col, vec_col, cache,
                sample_size, hierarchical,
            )
        if method != "ml":
            raise ValueError("method must be 'ml' or 'local'")
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        ml_df = vectors.select(
            F.col(id_col),
            F.col(vec_col),
            array_to_vector(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("features"),
        )
        model = KMeans(
            k=n_clusters, seed=seed, featuresCol="features"
        ).fit(ml_df)
        assigned = model.transform(ml_df).select(
            id_col, vec_col, F.col("prediction").alias("cell")
        )
        if cache:
            assigned = assigned.cache()
        return cls(
            assigned, [c.tolist() for c in model.clusterCenters()],
            id_col, vec_col,
        )

    @classmethod
    def _build_local(
        cls, vectors, n_clusters, seed, id_col, vec_col, cache,
        sample_size, hierarchical=None,
    ) -> "IvfIndex":
        from pyspark.sql.functions import pandas_udf

        n_total = vectors.count()
        frac = min(1.0, (sample_size * 1.2) / max(n_total, 1))
        # bound the sample by fraction alone — a .limit() after
        # .sample() would take whatever rows the FIRST partitions
        # deliver, biasing the quantizer toward early partitions; the
        # 1.2x oversample overshoot is instead truncated driver-side
        # with the seeded rng (uniform over the collected sample, so
        # no partition is preferred)
        pdf = (
            vectors.select(vec_col)
            .sample(fraction=frac, seed=seed)
            .toPandas()
        )
        sample = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        if sample.shape[0] > sample_size:
            rng = np.random.default_rng(seed)
            keep = rng.choice(
                sample.shape[0], size=sample_size, replace=False
            )
            sample = sample[np.sort(keep)]
        if sample.shape[0] < n_clusters:
            raise ValueError(
                f"sample of {sample.shape[0]} vectors cannot seed "
                f"{n_clusters} clusters; lower n_clusters or raise "
                "sample_size"
            )
        if hierarchical is None:
            hierarchical = n_clusters >= 128
        if hierarchical:
            _, _, flat, _ = _hierarchical_kmeans(sample, n_clusters, seed)
            c_arr = flat.astype(np.float64)
        else:
            c_arr = _lloyd_kmeans(sample, n_clusters, seed).astype(
                np.float64
            )
        # Assignment is ALWAYS global argmin over the flat center list,
        # however the centers were fitted. query() picks its nprobe
        # cells by the same global argmin, so a vector's assigned cell
        # is by construction the FIRST cell any matching query probes
        # — the two-stage assignment this replaces (nearest sub-center
        # within the nearest coarse cell) could disagree with the
        # probe near coarse boundaries and miss even an exact-match
        # query at nprobe=1.
        c_sq = 0.5 * np.sum(c_arr * c_arr, axis=1)  # argmin ||v-c||^2

        @pandas_udf("int")
        def _assign(col: pd.Series) -> pd.Series:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in col]
            )
            if mat.size == 0:
                return pd.Series([], dtype="int32")
            scores = mat @ c_arr.T - c_sq  # argmax <=> nearest center
            return pd.Series(
                np.argmax(scores, axis=1).astype(np.int32)
            )

        assigned = vectors.select(
            F.col(id_col), F.col(vec_col),
            _assign(F.col(vec_col)).alias("cell"),
        )
        if cache:
            assigned = assigned.cache()
        idx = cls(assigned, c_arr.tolist(), id_col, vec_col)
        # introspection hook: how the centers were fitted (assignment
        # and query semantics are identical either way)
        idx._fit_mode = "hierarchical" if hierarchical else "flat"
        return idx

    # ------------------------------------------------------------- assign
    def assign(self, vectors: DataFrame) -> DataFrame:
        """Assign NEW vectors to this index's (frozen) cells — the
        same global-argmin rule build/query use, as one Arrow-batched
        map stage against the broadcast centers. Returns
        (id_col, vec_col, cell); the snapshot contract for
        incremental consumers (append the result to ``assigned`` to
        roll the index forward)."""
        from pyspark.sql.functions import pandas_udf

        c_arr = np.asarray(self.centers, dtype=np.float64)
        c_sq = 0.5 * np.sum(c_arr * c_arr, axis=1)

        @pandas_udf("int")
        def _assign(col: pd.Series) -> pd.Series:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in col]
            )
            if mat.size == 0:
                return pd.Series([], dtype="int32")
            scores = mat @ c_arr.T - c_sq
            return pd.Series(
                np.argmax(scores, axis=1).astype(np.int32)
            )

        return vectors.select(
            F.col(self.id_col),
            F.col(self.vec_col),
            _assign(F.col(self.vec_col)).alias("cell"),
        )

    # ------------------------------------------------------------- query
    def _centers_df(self, spark):
        rows = [(i, c) for i, c in enumerate(self.centers)]
        return spark.createDataFrame(rows, "cell int, center array<double>")

    def query(
        self, queries: DataFrame, k: int = 5, nprobe: int = 2
    ) -> DataFrame:
        """queries: (query_id, query_vec). Returns (query_id,
        neighbor_id, cosine, rank) for the top-k within the probed
        cells."""
        spark = self.assigned.sparkSession
        q_cells = (
            queries.crossJoin(F.broadcast(self._centers_df(spark)))
            .withColumn(
                "dist2",
                F.aggregate(
                    F.zip_with(
                        F.col("query_vec"), "center",
                        lambda x, c: (x.cast("double") - c)
                        * (x.cast("double") - c),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )
            .withColumn(
                "cell_rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.col("dist2"), F.col("cell")
                    )
                ),
            )
            .filter(F.col("cell_rank") <= nprobe)
            .select("query_id", "query_vec", "cell")
        )
        cand = q_cells.join(
            self.assigned.select(
                F.col(self.id_col).alias("neighbor_id"),
                F.col(self.vec_col).alias("_nv"),
                "cell",
            ),
            on="cell",
        )
        scored = cand.select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity_col(F.col("query_vec"), F.col("_nv")), 6
            ).alias("cosine"),
        ).distinct()
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    def query_ids(self, ids: list, k: int = 5, nprobe: int = 2) -> DataFrame:
        """Self-query by corpus ids (excludes the query row itself)."""
        queries = self.assigned.filter(
            F.col(self.id_col).isin(list(ids))
        ).select(
            F.col(self.id_col).alias("query_id"),
            F.col(self.vec_col).alias("query_vec"),
        )
        out = self.query(queries, k + 1, nprobe)
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        return (
            out.filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    # ----------------------------------------------------------- persist
    def save(self, path: str, mode: str = "error") -> None:
        import json

        self.assigned.write.mode(mode).parquet(f"{path}/assignments")
        meta = {
            "centers": self.centers,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
        }
        spark = self.assigned.sparkSession
        spark.createDataFrame(
            [(json.dumps(meta),)], "meta string"
        ).coalesce(1).write.mode(mode).json(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str, cache: bool = True) -> "IvfIndex":
        import json

        meta = json.loads(
            spark.read.json(f"{path}/meta").first()["meta"]
        )
        assigned = spark.read.parquet(f"{path}/assignments")
        if cache:
            assigned = assigned.cache()
        return cls(
            assigned, meta["centers"], meta["id_col"], meta["vec_col"]
        )

    def unpersist(self) -> None:
        try:
            self.assigned.unpersist()
        except Exception:  # noqa: BLE001
            pass


def ivf_topk(
    vectors: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 2,
    query_ids: list | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: KMeans coarse quantizer, search the
    nprobe nearest cells only. Uses pyspark.ml KMeans (distributed
    Lloyd's); assignment + search are joins on cell id."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ml_df = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features"),
    )
    km = KMeans(k=n_clusters, seed=seed, featuresCol="features")
    model = km.fit(ml_df)
    assigned = model.transform(ml_df).select(
        id_col, vec_col, F.col("prediction").alias("cell")
    )
    centers = model.clusterCenters()
    # nprobe cells per query: computed from the tiny centers matrix
    center_rows = [
        (int(i), [float(v) for v in c]) for i, c in enumerate(centers)
    ]
    spark = vectors.sparkSession
    centers_df = spark.createDataFrame(
        center_rows, "cell int, center array<double>"
    )
    q = assigned if query_ids is None else assigned.filter(
        F.col(id_col).isin(query_ids)
    )
    q_cells = (
        q.drop("cell")  # probe cells are re-derived below
        .crossJoin(F.broadcast(centers_df))
        .withColumn(
            "dist2",
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    "center",
                    lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .withColumn(
            "cell_rank",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col("dist2"), F.col("cell"))
            ),
        )
        .filter(F.col("cell_rank") <= nprobe)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), F.col("cell"))
    )
    cand = q_cells.join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_nv"),
            "cell",
        ),
        on="cell",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity_col(F.col("_qv"), F.col("_nv")), 6).alias(
            "cosine"
        ),
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _cell_cosine_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    tag_col: str | None = None,
) -> DataFrame:
    """In-cell duplicate-pair generation for the SemDeDup family:
    (id_a, id_b) for every same-cell pair with round(cosine, 6) >=
    threshold, id_a < id_b.

    r12 optimization (guide §4.2 — hand whole batches to vectorized
    native code): the old shape self-joined the assigned relation on
    the cell id and evaluated the cosine per pair with JVM
    higher-order functions — the cell relation crossed the exchange
    TWICE (both join sides) and the O(cell²) dot products ran through
    boxed array lambdas. This shape ships each cell ONCE into an
    Arrow-grouped pandas stage and computes all pairwise cosines as a
    blocked BLAS matmul over the L2-normalized matrix: identical
    pairs (rows are sorted by id so position order IS id order; ties
    impossible — ids are unique), ~2 orders of magnitude less
    per-pair overhead, and half the shuffled bytes.

    ``tag_col``: optional 0/1 column for the incremental case — pairs
    are emitted only when at least one member is tagged 1 (the new
    batch), i.e. state-vs-state pairs are skipped, exactly the
    vs_state + vs_new union of the old shape.
    """
    import numpy as np

    id_type = assigned.schema[id_col].dataType
    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST

    out_schema = _ST([_SF("id_a", id_type), _SF("id_b", id_type)])
    thr = float(threshold)
    tag = tag_col

    def gen(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            norms = np.sqrt(np.einsum("ij,ij->i", X, X))
            Xn = X / norms[:, None]
        Xn[~np.isfinite(Xn).all(axis=1)] = np.nan  # zero-norm rows
        tags = pdf[tag].to_numpy() if tag else None
        out_a, out_b = [], []
        B = 2048
        for s in range(0, n, B):
            blk = Xn[s:s + B] @ Xn.T  # (b, n) cosines
            # HALF_UP at 6 decimals like Spark's round(); NaN fails
            with np.errstate(invalid="ignore"):
                passed = np.floor(blk * 1e6 + 0.5) / 1e6 >= thr
            bi, bj = np.nonzero(passed)
            gi = bi + s
            keep = gi < bj  # upper triangle: id_a < id_b
            if tags is not None:
                keep = keep & ((tags[gi] == 1) | (tags[bj] == 1))
            out_a.append(ids[gi[keep]])
            out_b.append(ids[bj[keep]])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    cols = [F.col("cell"), F.col(id_col), F.col(vec_col)] + (
        [F.col(tag)] if tag else []
    )
    return (
        assigned.select(*cols)
        .groupBy("cell")
        .applyInPandas(gen, out_schema)
    )


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cluster_size: int = 100_000,
    index: IvfIndex | None = None,
    method: str = "ml",
) -> DataFrame:
    """Cluster-bucketed semantic deduplication (the SemDeDup recipe,
    Abbas et al. 2023): a KMeans coarse quantizer buckets the corpus,
    near-duplicate pairs (cosine >= threshold) are found WITHIN each
    cluster only, connected components merge transitive duplicates,
    and each component keeps its smallest id.

    Output: (id_col, rep_id, is_kept) for every input vector —
    ``rep_id`` is the component representative (own id for uniques),
    ``is_kept`` selects the dedup survivors.

    Scale shape: one KMeans fit + one assignment pass (reused from
    :class:`IvfIndex`; pass ``index=`` to amortize across thresholds;
    ``method="local"`` fits the quantizer driver-side on a seeded
    sample and assigns in one Arrow map stage — no KMeans jobs over
    the corpus, the recommended shape at 100 TB),
    ONE exchange on the cluster id for the in-cluster pair join
    (quadratic work confined inside clusters, guarded by
    ``max_cluster_size`` exactly like the MinHash bucket guard), then
    the label-propagation rounds over the (tiny) duplicate-pair graph.
    Pairs crossing cluster boundaries are missed by construction —
    that is the SemDeDup trade; the entry-query oracle pins a recall
    floor against the exact O(n^2) path and the guarantee that no
    exact-path survivor is ever dropped (our components refine the
    exact components, so exact keepers always remain keepers)."""
    from spark_bestfit_spark.operators.dedup import neardup_clusters

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    idx = index or IvfIndex.build(
        vectors, n_clusters=n_clusters, seed=seed,
        id_col=id_col, vec_col=vec_col, method=method,
    )
    assigned = idx.assigned
    big = (
        assigned.groupBy("cell").count()
        .filter(F.col("count") > max_cluster_size)
        .first()
    )
    if big is not None:
        raise ValueError(
            f"semantic_dedup: cluster {big['cell']} holds {big['count']} "
            f"vectors (> max_cluster_size={max_cluster_size}); raise "
            "n_clusters (or max_cluster_size deliberately) — in-cluster "
            "pair work is quadratic in the cluster size"
        )
    # r12: in-cell pairs via ONE Arrow-grouped BLAS stage instead of a
    # cell-keyed self-join + per-pair JVM lambdas (see
    # :func:`_cell_cosine_pairs`) — identical pair set, half the
    # shuffle, vectorized dot products.
    pairs = _cell_cosine_pairs(assigned, threshold, id_col, vec_col)
    comp = neardup_clusters(pairs, id_col=id_col)
    return (
        vectors.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("rep_id"),
            (
                F.coalesce("cluster_id", F.col(id_col)) == F.col(id_col)
            ).alias("is_kept"),
        )
    )


def incremental_semantic_dedup(
    new_vectors: DataFrame,
    index: IvfIndex,
    threshold: float = 0.95,
    max_cluster_size: int = 100_000,
) -> DataFrame:
    """SemDeDup for a GROWING corpus: dedup a new embedding batch
    against a persisted :class:`IvfIndex` whose ``assigned`` relation
    holds the current KEEPERS — the frozen-quantizer snapshot
    convention (cells never move, so two keepers sharing a cell are
    never >= threshold by induction, and the previous corpus is never
    re-assigned or re-paired).

    Returns (id_col, rep_id, is_kept) for every NEW vector, exactly
    :func:`semantic_dedup`'s contract: ``rep_id`` is an existing
    keeper's id when the new vector duplicates state (directly or
    transitively through other new vectors), the component-minimum new
    id for purely-in-batch duplicate groups, the vector's own id when
    unique. Equivalence (pytest-pinned): with append-only ids the
    result equals ``semantic_dedup(keepers UNION new, index=frozen)``
    restricted to new ids. Roll the snapshot forward by appending the
    kept new rows of ``index.assign(new_vectors)`` to the index.

    Shuffle profile: one Arrow map stage assigns the batch against the
    broadcast centers; ONE exchange on the cell id joins batch rows
    against state keepers and batch rows against each other (quadratic
    work confined to cells, ``max_cluster_size`` guards the COMBINED
    cell population); label propagation runs on the duplicate-edge
    graph only.
    """
    from spark_bestfit_spark.operators.dedup import neardup_clusters

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    id_col, vec_col = index.id_col, index.vec_col
    new_assigned = index.assign(new_vectors)
    state = index.assigned
    combined_counts = (
        state.select("cell").unionAll(new_assigned.select("cell"))
        .groupBy("cell").count()
        .filter(F.col("count") > max_cluster_size)
        .first()
    )
    if combined_counts is not None:
        raise ValueError(
            f"incremental_semantic_dedup: cell {combined_counts['cell']}"
            f" holds {combined_counts['count']} vectors (> "
            f"max_cluster_size={max_cluster_size}); raise n_clusters on"
            " the index (or max_cluster_size deliberately)"
        )
    # r12: one tagged BLAS stage replaces the two cell-keyed joins
    # (state-vs-new and new-vs-new); state-vs-state pairs are skipped
    # by the tag rule inside :func:`_cell_cosine_pairs`. The old
    # vs_state leg emitted (state_id, new_id) un-ordered; with the
    # append-only id convention (state ids < new ids — the documented
    # snapshot contract) the ordered (id_a < id_b) emission is the
    # same pair set.
    tagged = state.select(
        "cell", F.col(id_col), F.col(vec_col), F.lit(0).alias("_new")
    ).unionByName(
        new_assigned.select(
            "cell", F.col(id_col), F.col(vec_col), F.lit(1).alias("_new")
        )
    )
    pairs = _cell_cosine_pairs(
        tagged, threshold, id_col, vec_col, tag_col="_new"
    )
    comp = neardup_clusters(pairs, id_col=id_col)
    return (
        new_vectors.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("rep_id"),
            (
                F.coalesce("cluster_id", F.col(id_col)) == F.col(id_col)
            ).alias("is_kept"),
        )
    )


def compact_keeper_snapshot(
    state: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compact the semantic-dedup keeper snapshot (snapshot hygiene
    for :func:`incremental_semantic_dedup` — the third compaction
    tier beside :func:`~spark_bestfit_spark.operators.dedup.compact_exact_state`
    and :func:`~spark_bestfit_spark.operators.dedup.compact_band_index`):
    one ``(id, vector, cell)`` row per keeper id.

    The snapshot rolls forward by appending the kept rows of
    ``index.assign(new_vectors)`` after each delivery, so a replayed
    delivery appends the SAME keeper rows twice. Under the frozen
    quantizer that is worse than bloat: every duplicated keeper
    doubles its in-cell pair work on the next delivery AND inflates
    the combined-cell-population count that feeds the
    ``max_cluster_size`` guard, so replays can push a healthy cell
    over the guard and fail the pipeline. Compaction restores the
    one-row-per-keeper invariant.

    Determinism: replayed rows are bit-identical per id (append-only
    ids + frozen quantizer assign the same vector to the same cell),
    so min(cell) / min_by(vector, cell) reduce duplicates to exactly
    the original row. Equivalence contract (oracle-pinned in
    ``compact_keeper_snapshot``): incremental dedup of any delta
    against the compacted snapshot equals the run against the
    pristine never-replayed snapshot.

    Shuffle profile: ONE map-combinable groupBy on the id — the
    relation is keeper-sized (the post-dedup survivors), never the
    corpus, and nothing here scans vectors beyond carrying them.
    """
    return state.groupBy(id_col).agg(
        F.min_by(vec_col, "cell").alias(vec_col),
        F.min("cell").alias("cell"),
    )


def rrf_fuse(
    rankings: list,
    id_col: str,
    score_col: str = "score",
    k: int = 60,
    by: list | None = None,
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of candidate rankings — the standard way
    to combine heterogeneous retrieval signals (BM25 + embedding
    cosine + recency, ...) without calibrating their score scales:

        rrf(d) = sum over rankers r of 1 / (k + rank_r(d))

    Each input DataFrame carries (``by``..., ``id_col``,
    ``score_col``); ranks are assigned per ranker with a deterministic
    ``row_number`` over (score DESC, id) so equal scores fuse
    identically on every engine. Candidates missing from a ranker
    simply contribute nothing (the usual top-k-candidates semantics).

    Plan: one window per ranker over the ranker's OWN candidate list
    (top-k sized — the inputs are retrieval outputs, not corpora),
    a union, and ONE groupBy on (keys..., id). With ``by`` (batch
    multi-query fusion) every stage is per-query hash-partitioned;
    without it the rank windows run on the single implicit query's
    candidate list. ``top_n`` keeps the best fused rows per query.

    Returns (``by``..., ``id_col``, ``rrf_score`` rounded to 6,
    ``n_rankers``, ``best_rank``).
    """
    if not rankings:
        raise ValueError("rankings must be a non-empty list")
    if k <= 0:
        raise ValueError("k must be positive")
    keys = list(by or [])
    parts = []
    for df in rankings:
        w = (
            Window.partitionBy(*keys)
            if keys
            else Window.partitionBy(F.lit(1))
        ).orderBy(F.col(score_col).desc(), F.col(id_col))
        parts.append(
            df.select(*keys, id_col, score_col)
            .withColumn("_rank", F.row_number().over(w))
            .drop(score_col)
        )
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    out = allr.groupBy(*keys, id_col).agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("_rank"))), 6
        ).alias("rrf_score"),
        F.count(F.lit(1)).cast("long").alias("n_rankers"),
        F.min("_rank").cast("long").alias("best_rank"),
    )
    if top_n is not None:
        w = (
            Window.partitionBy(*keys)
            if keys
            else Window.partitionBy(F.lit(1))
        ).orderBy(F.col("rrf_score").desc(), F.col(id_col))
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(top_n))
            .drop("_rn")
        )
    return out


def ranking_metrics(
    results: DataFrame,
    qrels: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """Per-query retrieval evaluation over a ranked run and graded
    relevance judgments — recall@k, precision@k, reciprocal rank, MAP
    (average precision with the trec_eval ``|relevant|`` denominator),
    and nDCG@k with linear gain ``rel / log2(rank + 1)``.

    ``results`` carries (query, doc, rank) with rank 1-based (the
    shape :func:`rrf_fuse` / ``self_topk`` emit); ``qrels`` carries
    (query, doc, rel) with rel > 0 meaning relevant. Docs in the run
    but not judged count as rel 0 (the standard pooling convention);
    judged docs missing from the run cost recall/AP/nDCG exactly as
    they should.

    Plan: the run's top-k left-joins the judgments on (query, doc) —
    both relations are per-query candidate lists, so the join and
    every window ride one query-hash partitioning; the ideal DCG comes
    from the qrels alone via a per-query rank window. One final
    groupBy per side, one join of two |queries|-row relations. Nothing
    driver-side.

    Returns (query, n_rel, recall_k, precision_k, rr, ap, ndcg)
    rounded to 6; macro-average downstream.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    q, d, r = query_col, id_col, rank_col
    log2rank = F.log2(F.col(r) + F.lit(1.0))
    hits = (
        results.filter(F.col(r) <= k)
        .join(
            qrels.select(q, d, rel_col), on=[q, d], how="left"
        )
        .withColumn("_rel", F.coalesce(F.col(rel_col), F.lit(0.0)))
        .withColumn("_is_rel", (F.col("_rel") > 0).cast("double"))
    )
    w_cum = (
        Window.partitionBy(q)
        .orderBy(F.col(r))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hits = hits.withColumn("_cum_rel", F.sum("_is_rel").over(w_cum))
    run_agg = hits.groupBy(q).agg(
        F.sum("_is_rel").alias("_n_hit"),
        F.sum(F.col("_rel") / log2rank).alias("_dcg"),
        F.max(
            F.when(F.col("_is_rel") > 0, F.lit(1.0) / F.col(r))
        ).alias("_rr"),
        F.sum(
            F.when(
                F.col("_is_rel") > 0, F.col("_cum_rel") / F.col(r)
            )
        ).alias("_ap_num"),
    )
    w_ideal = Window.partitionBy(q).orderBy(
        F.col(rel_col).desc(), F.col(d)
    )
    rel_only = qrels.filter(F.col(rel_col) > 0)
    qrel_agg = (
        rel_only.withColumn("_pos", F.row_number().over(w_ideal))
        .groupBy(q)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rel"),
            F.sum(
                F.when(
                    F.col("_pos") <= k,
                    F.col(rel_col) / F.log2(F.col("_pos") + F.lit(1.0)),
                )
            ).alias("_idcg"),
        )
    )
    out = qrel_agg.join(run_agg, on=q, how="full")
    zero = F.lit(0.0)
    return out.select(
        q,
        F.coalesce("n_rel", F.lit(0)).cast("long").alias("n_rel"),
        F.round(
            F.when(
                F.col("n_rel") > 0,
                F.coalesce("_n_hit", zero) / F.col("n_rel"),
            ).otherwise(zero),
            6,
        ).alias("recall_k"),
        F.round(
            F.coalesce("_n_hit", zero) / F.lit(float(k)), 6
        ).alias("precision_k"),
        F.round(F.coalesce("_rr", zero), 6).alias("rr"),
        F.round(
            F.when(
                F.col("n_rel") > 0,
                F.coalesce("_ap_num", zero) / F.col("n_rel"),
            ).otherwise(zero),
            6,
        ).alias("ap"),
        F.round(
            F.when(
                F.col("_idcg") > 0,
                F.coalesce("_dcg", zero) / F.col("_idcg"),
            ).otherwise(zero),
            6,
        ).alias("ndcg"),
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding centroids (class prototypes): elementwise
    mean vector, member count, and centroid L2 norm — the seeds for
    nearest-class-mean classification, semantic-dedup quantizers, and
    drift checks between labeled embedding snapshots.

    Relational shape at 100 TB: ``posexplode`` to (label, dim, value)
    — rows x dim, the standard dense-vector aggregation layout — one
    map-combinable groupBy on (label, dim), then one (label) collapse
    reassembling the vector with an in-array sort. No driver-side
    vectors, no UDFs, dimensions never hardcoded.

    Returns (label_col, n, centroid array<double> rounded to 6, norm).
    """
    ex = df.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("_dim", "_v"),
    ).filter(F.col(label_col).isNotNull())
    per_dim = ex.groupBy(label_col, "_dim").agg(
        F.avg(F.col("_v").cast("double")).alias("_m"),
        F.count(F.lit(1)).alias("_c"),
    )
    out = per_dim.groupBy(label_col).agg(
        F.max("_c").cast("long").alias("n"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("_dim", F.round("_m", 6).alias("_m")))
            ),
            lambda s: s["_m"],
        ).alias("centroid"),
    )
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform("centroid", lambda x: x * x),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        6,
    )
    return out.withColumn("norm", norm)


def hash_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    signed: bool = True,
) -> DataFrame:
    """Feature hashing (the hashing trick): tokens hash into a fixed
    ``dim``-bucket vector — the vocabulary-free featurizer that keeps
    dimensionality constant at any corpus size (no fitted vocabulary
    to broadcast, no OOV handling). ``signed=True`` adds the standard
    +-1 sign hash so collisions cancel in expectation instead of
    biasing counts upward (Weinberger et al., ICML'09).

    Hashing is the engine's portable md5 scheme (SQL-replicable):
    bucket from the first 56 md5 bits, sign from the next hex digit's
    parity. Shape: explode -> (id, bucket) map-combinable groupBy ->
    one id-keyed collapse reassembling the dense array; missing
    buckets fill 0.0 via a dim-length map lookup, never a per-bucket
    union.

    Returns (id_col, features array<double>). Pick ``dim`` by
    collision budget (~n_distinct_tokens / dim collisions per doc).
    """
    if dim < 2:
        raise ValueError("dim must be >= 2")
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_tok"))
    h = portable_hash64(F.col("_tok"))
    bucket = F.pmod(h, F.lit(dim)).cast("int")
    sign_bit = F.conv(
        F.substring(F.md5(F.col("_tok")), 15, 1), 16, 10
    ).cast("int") % 2
    val = (
        (sign_bit * 2 - 1).cast("double") if signed else F.lit(1.0)
    )
    per_bucket = toks.select(
        id_col, bucket.alias("_b"), val.alias("_v")
    ).groupBy(id_col, "_b").agg(F.sum("_v").alias("_s"))
    assembled = per_bucket.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("_b", "_s"))
        ).alias("_m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at("_m", i.cast("int")), F.lit(0.0)
        ),
    )
    return assembled.select(id_col, dense.alias("features"))


def ncm_classify(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Nearest-class-mean classification over an embedding column: each
    vector is assigned to the label whose centroid has the highest
    cosine similarity — the strongest no-training baseline for labeled
    embeddings and the standard probe for "are these embeddings any
    good for this label set".

    ``centroids`` defaults to :func:`label_centroids` of ``df`` itself
    (resubstitution eval); pass held-out centroids for a proper split.
    The centroid relation (k rows) is BROADCAST and every vector
    scores all k prototypes map-side via JVM ``zip_with``/``aggregate``
    dot products — one pass over the vectors, no shuffle beyond the
    centroid build. Cosine is rounded to 6 BEFORE the argmax and ties
    take the smallest label, so assignments are engine-portable.

    Returns (id_col, label_col, predicted, cosine).
    """
    cents = centroids if centroids is not None else label_centroids(
        df, vec_col, label_col
    )
    cent = F.broadcast(
        cents.select(
            F.col(label_col).alias("_clabel"),
            F.col("centroid").alias("_cvec"),
        )
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cos = F.round(
        _dot(v, F.col("_cvec")) / (_norm(v) * _norm(F.col("_cvec"))),
        6,
    )
    scored = (
        df.select(id_col, label_col, vec_col)
        .crossJoin(cent)
        .withColumn("_cos", cos)
    )
    pick = F.max_by(
        F.struct(
            F.col("_clabel").alias("predicted"),
            F.col("_cos").alias("cosine"),
        ),
        F.struct(F.col("_cos"), (-F.col("_clabel")).alias("_nl")),
    )
    return scored.groupBy(id_col, label_col).agg(pick.alias("_p")).select(
        id_col, label_col, F.col("_p.predicted"), F.col("_p.cosine")
    )


def negative_samples(
    anchors: DataFrame,
    pool: DataFrame,
    anchor_id: str,
    pool_id: str,
    k: int = 5,
    seed: int = 0,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each anchor, ``k`` pool items chosen by a portable md5 hash of
    (anchor, pool item, seed) — reproducible across runs, engines, and
    partitionings (no rand()), uniform-ish per anchor, and different
    anchors draw different negatives.

    The pool is BROADCAST (pass a pre-sampled candidate pool — the
    standard practice; negatives need coverage, not the full corpus),
    each anchor scores it map-side, and one anchor-keyed groupBy
    assembles the k smallest hashes via an in-array sort over the
    pool-sized list. Anchor ids colliding with a pool id are excluded
    (an item is never its own negative).

    Returns (anchor_id, neg_id, rank) with rank 1..k by hash order.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    a = anchors.select(F.col(anchor_id).alias("_aid")).distinct()
    p = F.broadcast(pool.select(F.col(pool_id).alias("_pid")).distinct())
    scored = (
        a.crossJoin(p)
        .filter(F.col("_aid") != F.col("_pid"))
        .withColumn(
            "_h",
            portable_hash64(
                F.concat_ws(
                    ":",
                    F.col("_aid").cast("string"),
                    F.col("_pid").cast("string"),
                    F.lit(int(seed)).cast("string"),
                )
            ),
        )
    )
    picked = scored.groupBy("_aid").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("_h", "_pid"))),
            1,
            int(k),
        ).alias("_top")
    )
    return picked.select(
        F.col("_aid").alias(anchor_id),
        F.posexplode("_top").alias("_r", "_e"),
    ).select(
        anchor_id,
        F.col("_e._pid").alias("neg_id"),
        (F.col("_r") + 1).cast("int").alias("rank"),
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    upper_only: bool = True,
) -> DataFrame:
    """Population covariance matrix of an embedding column as a flat
    ``(i, j, n, cov)`` relation — the d x d Gram reduction that seeds
    PCA (:func:`pca_embeddings`), whitening, and Mahalanobis scoring.

    Scale shape: ``mapInPandas`` folds each input batch into ONE
    partial-sufficient-statistics block (count, per-dim sums and the
    d^2 cross-product sums as numpy matmuls — Arrow-batched, never a
    per-row Python loop), emitted as d^2 tiny rows per PARTITION; the
    final combine is a groupBy over (i, j) keys on those
    partials-only rows. At 100 TB the exchange carries
    ``partitions x d^2`` floats — data-sized work never shuffles, and
    there is no (row x dim x dim) explode-join. ``cov = E[xy] -
    E[x]E[y]`` (population; embeddings are near zero-mean so the
    one-pass form is numerically safe). Rows with null vectors are
    skipped; ragged dimensions raise inside the task.

    Returns ``(i, j, n, cov)`` with 0-based dims, ``i <= j`` when
    ``upper_only`` (the matrix is symmetric), cov rounded to 6.
    """
    import pandas as _pd

    def fold(batches):
        n = 0
        s = None
        g = None
        d = 0
        for pdf in batches:
            col = pdf[vec_col].dropna()
            if not len(col):
                continue
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in col]
            )
            if s is None:
                d = m.shape[1]
                s = np.zeros(d)
                g = np.zeros((d, d))
            elif m.shape[1] != d:
                raise ValueError(
                    f"ragged embedding dims: {m.shape[1]} != {d}"
                )
            n += m.shape[0]
            s += m.sum(axis=0)
            g += m.T @ m
        if n == 0:
            return
        ii, jj = np.meshgrid(
            np.arange(d), np.arange(d), indexing="ij"
        )
        yield _pd.DataFrame(
            {
                "i": ii.ravel().astype("int32"),
                "j": jj.ravel().astype("int32"),
                "n": np.full(d * d, n, dtype="int64"),
                "sx": np.repeat(s, d),
                "sy": np.tile(s, d),
                "sxy": g.ravel(),
            }
        )

    partials = df.select(vec_col).mapInPandas(
        fold, "i int, j int, n long, sx double, sy double, sxy double"
    )
    agg = partials.groupBy("i", "j").agg(
        F.sum("n").alias("_n"),
        F.sum("sx").alias("_sx"),
        F.sum("sy").alias("_sy"),
        F.sum("sxy").alias("_sxy"),
    )
    if upper_only:
        agg = agg.filter(F.col("i") <= F.col("j"))
    cov = (
        F.col("_sxy") / F.col("_n")
        - (F.col("_sx") / F.col("_n")) * (F.col("_sy") / F.col("_n"))
    )
    return agg.select(
        "i",
        "j",
        F.col("_n").cast("long").alias("n"),
        F.round(cov, 6).alias("cov"),
    )


def pca_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
):
    """PCA over an embedding column: distributed covariance
    (:func:`embedding_covariance` — one data pass, d^2-sized
    exchange), then an eigendecomposition of the TINY d x d matrix on
    the driver (numpy ``eigh``; d is 64-1024 for real embedding
    models, never data-sized) — the standard split for PCA at
    cluster scale (compute sufficient statistics distributed, solve
    the small dense problem locally).

    Returns ``(variance_df, components)``: a DataFrame
    ``(component, eigenvalue, explained_var, cum_var)`` for the top-k
    components (eigenvalue-descending, rounded to 6) and the
    ``(k, d)`` numpy array of principal axes (sign-normalized so each
    axis's largest-|coordinate| entry is positive — eigenvector sign
    is otherwise arbitrary and would break determinism).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    rows = embedding_covariance(df, vec_col, upper_only=False).collect()
    if not rows:
        raise ValueError("no embeddings to decompose")
    d = max(r["i"] for r in rows) + 1
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["i"], r["j"]] = r["cov"]
    # exact symmetry for eigh (the two triangles round independently)
    cov = (cov + cov.T) / 2.0
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    vals = vals[order]
    vecs = vecs[:, order]
    k = min(k, d)
    comps = vecs[:, :k].T.copy()
    for row in comps:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1.0
    total = float(vals.sum())
    spark = df.sparkSession
    out = []
    cum = 0.0
    for c in range(k):
        ev = float(vals[c])
        share = ev / total if total > 0 else None
        cum += share or 0.0
        out.append(
            (
                c,
                round(ev, 6),
                round(share, 6) if share is not None else None,
                round(cum, 6) if share is not None else None,
            )
        )
    vdf = spark.createDataFrame(
        out,
        "component int, eigenvalue double, explained_var double, "
        "cum_var double",
    )
    return vdf, comps


def project_embeddings(
    df: DataFrame,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project an embedding column onto PCA axes (k x d numpy array
    from :func:`pca_embeddings`): the components ride into the plan
    as ONE broadcast array literal and the projection is a JVM-side
    higher-order ``aggregate`` per axis — map-only, no shuffle, no
    Python in the row loop."""
    comps = [
        F.array(*[F.lit(float(x)) for x in row]) for row in components
    ]
    proj = F.array(
        *[_dot(F.col(vec_col), axis) for axis in comps]
    )
    return df.withColumn(out_col, proj)


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-label embedding outlier scores — cosine distance to the
    OWN label's centroid, z-scored within the label — the standard
    mislabeled-example / contamination detector for labeled embedding
    corpora (an example far from its class prototype relative to its
    class's spread is a labeling-error candidate).

    Three label-sized exchanges, all combiner-friendly: centroids
    (:func:`label_centroids`), per-label distance moments, and the
    final broadcast joins back onto the data — the row-sized work is
    two map-only passes (distance, then z). Distances are rounded to
    6 BEFORE the moment pass so the z-scores are engine-portable.

    Returns ``(id_col, label_col, dist, z, is_outlier)`` with dist/z
    rounded to 6; z null when the label's distance spread is zero or
    the label has a single member.
    """
    cents = label_centroids(df, vec_col, label_col)
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(id_col, label_col, vec_col)
    dist = F.round(
        F.lit(1.0)
        - _dot(F.col(vec_col), F.col("centroid"))
        / (_norm(F.col(vec_col)) * F.col("norm")),
        6,
    )
    with_d = base.join(
        F.broadcast(cents.select(label_col, "centroid", "norm")),
        label_col,
    ).select(id_col, label_col, dist.alias("dist"))
    mom = with_d.groupBy(label_col).agg(
        F.avg("dist").alias("_mu"),
        F.stddev_pop("dist").alias("_sd"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    z = F.when(
        (F.col("_sd") > 0) & (F.col("_cnt") > 1),
        F.round((F.col("dist") - F.col("_mu")) / F.col("_sd"), 6),
    )
    return (
        with_d.join(F.broadcast(mom), label_col)
        .select(
            id_col,
            label_col,
            "dist",
            z.alias("z"),
            F.coalesce(
                z > F.lit(float(z_threshold)), F.lit(False)
            ).alias("is_outlier"),
        )
    )


def silhouette_score(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per label — the
    clustering-quality audit for a labeled embedding corpus: how
    separable are the classes in embedding space?

        a(i) = cosine distance to the OWN label's centroid
        b(i) = min cosine distance to any OTHER label's centroid
        s(i) = (b - a) / max(a, b)        (0 when both are 0)

    The full silhouette needs all pairwise point distances (O(n^2) —
    a non-starter); the centroid form (Hruschka et al.'s simplified
    silhouette) replaces cluster means of distances with distances to
    cluster means, and is the standard at-scale variant. Execution:
    centroids from :func:`label_centroids`, then ONE broadcast cross
    of points x G centroids (G = #labels, tiny) folded back by a
    conditional min groupBy on the point id, one label groupBy for the
    averages. Distances rounded to 6 before s (engine portability,
    same convention as :func:`embedding_outliers`).

    Returns ``(label_col, n_points, avg_silhouette)`` rounded to 6;
    null average when there is a single label (b undefined).
    """
    cents = label_centroids(df, vec_col, label_col)
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(id_col, label_col, vec_col)
    cl = cents.select(
        F.col(label_col).alias("_cl"),
        F.col("centroid"),
        F.col("norm").alias("_cn"),
    )
    d = F.round(
        F.lit(1.0)
        - _dot(F.col(vec_col), F.col("centroid"))
        / (_norm(F.col(vec_col)) * F.col("_cn")),
        6,
    )
    dists = base.crossJoin(F.broadcast(cl)).select(
        id_col, label_col, "_cl", d.alias("_d")
    )
    per_point = dists.groupBy(id_col, label_col).agg(
        F.min(F.when(F.col("_cl") == F.col(label_col), F.col("_d")))
        .alias("_a"),
        F.min(F.when(F.col("_cl") != F.col(label_col), F.col("_d")))
        .alias("_b"),
    )
    s = F.when(
        F.greatest("_a", "_b") > 0,
        (F.col("_b") - F.col("_a")) / F.greatest("_a", "_b"),
    ).otherwise(
        F.when(F.col("_b").isNotNull(), F.lit(0.0))
    )
    return (
        per_point.withColumn("_s", F.round(s, 6))
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(F.avg("_s"), 6).alias("avg_silhouette"),
        )
    )


def embedding_cross_gram(
    pairs: DataFrame,
    vec_a: str = "emb_a",
    vec_b: str = "emb_b",
) -> DataFrame:
    """Cross-Gram matrix ``M = sum_i a_i b_i^T`` of matched embedding
    pairs as a flat ``(i, j, n, gram)`` relation — the sufficient
    statistic for orthogonal Procrustes alignment
    (:func:`procrustes_align`), canonical-correlation seeds and
    embedding-drift rotation tests. Same execution shape as
    :func:`embedding_covariance`: ``mapInPandas`` folds each partition
    into ONE d_a x d_b partial block (numpy matmul, Arrow-batched),
    and the only exchange is the (i, j)-keyed combine over
    partials-only rows — matched pairs never shuffle.

    ``pairs`` carries both vectors per row (join upstream by the id).
    Rows with either vector null are skipped; ragged dims raise.
    Returns 0-based ``(i, j, n, gram)`` rounded to 6 (row index i
    into a's dims, j into b's).
    """
    import pandas as _pd

    def fold(batches):
        n = 0
        g = None
        da = db = 0
        for pdf in batches:
            sub = pdf[[vec_a, vec_b]].dropna()
            if not len(sub):
                continue
            ma = np.stack(
                [np.asarray(v, dtype=np.float64) for v in sub[vec_a]]
            )
            mb = np.stack(
                [np.asarray(v, dtype=np.float64) for v in sub[vec_b]]
            )
            if g is None:
                da, db = ma.shape[1], mb.shape[1]
                g = np.zeros((da, db))
            elif ma.shape[1] != da or mb.shape[1] != db:
                raise ValueError("ragged embedding dims")
            n += ma.shape[0]
            g += ma.T @ mb
        if n == 0:
            return
        ii, jj = np.meshgrid(
            np.arange(da), np.arange(db), indexing="ij"
        )
        yield _pd.DataFrame(
            {
                "i": ii.ravel().astype("int32"),
                "j": jj.ravel().astype("int32"),
                "n": np.full(da * db, n, dtype="int64"),
                "g": g.ravel(),
            }
        )

    partials = pairs.select(vec_a, vec_b).mapInPandas(
        fold, "i int, j int, n long, g double"
    )
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("n").alias("_n"), F.sum("g").alias("_g"))
        .select(
            "i",
            "j",
            F.col("_n").cast("long").alias("n"),
            F.round("_g", 6).alias("gram"),
        )
    )


def procrustes_align(
    pairs: DataFrame,
    vec_a: str = "emb_a",
    vec_b: str = "emb_b",
):
    """Orthogonal Procrustes alignment of matched embedding snapshots
    (Schonemann 1966) — find the rotation R minimizing
    ``||A R - B||_F`` (the embedding-drift question: did the space
    ROTATE between model versions, and how much residual drift
    remains after the best rotation?):

        M = A^T B = U S V^T  ->  R = U V^T
        ||A R - B||^2 = ||A||^2 + ||B||^2 - 2 tr(S)
        disparity = that residual / ||B||^2

    Distributed work is the :func:`embedding_cross_gram` partial fold
    plus one map-side norm aggregation; the SVD runs driver-side on
    the tiny d x d matrix (the same split as the fit engine: cluster
    for sufficient statistics, local for the dense solve).

    Returns ``(rotation, summary)``: ``rotation`` a d x d numpy
    array, ``summary`` a one-row DataFrame ``(n_pairs, dim,
    norm_a_sq, norm_b_sq, trace_sigma, disparity)`` rounded to 6.
    """
    spark = pairs.sparkSession
    gram = embedding_cross_gram(pairs, vec_a, vec_b).collect()
    if not gram:
        return None, spark.createDataFrame(
            [(0, 0, None, None, None, None)],
            "n_pairs long, dim long, norm_a_sq double, "
            "norm_b_sq double, trace_sigma double, disparity double",
        )
    da = max(r["i"] for r in gram) + 1
    db = max(r["j"] for r in gram) + 1
    m = np.zeros((da, db))
    for r in gram:
        m[r["i"], r["j"]] = r["gram"]
    n_pairs = int(gram[0]["n"])
    u, s, vt = np.linalg.svd(m)
    rot = u @ vt
    sq = F.aggregate(
        F.transform(F.col("_v"), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norms = (
        pairs.filter(
            F.col(vec_a).isNotNull() & F.col(vec_b).isNotNull()
        )
        .select(
            F.col(vec_a).alias("_v")
        )
        .agg(F.sum(sq).alias("na"))
        .crossJoin(
            pairs.filter(
                F.col(vec_a).isNotNull() & F.col(vec_b).isNotNull()
            )
            .select(F.col(vec_b).alias("_v"))
            .agg(F.sum(sq).alias("nb"))
        )
        .first()
    )
    na, nb = float(norms["na"]), float(norms["nb"])
    tr = float(s.sum())
    resid = na + nb - 2.0 * tr
    disp = resid / nb if nb > 0 else None
    summary = spark.createDataFrame(
        [
            (
                n_pairs,
                int(min(da, db)),
                round(na, 6),
                round(nb, 6),
                round(tr, 6),
                round(disp, 6) if disp is not None else None,
            )
        ],
        "n_pairs long, dim long, norm_a_sq double, norm_b_sq double, "
        "trace_sigma double, disparity double",
    )
    return rot, summary


def embedding_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    vec_col: str = "embedding",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-dimension embedding drift between two snapshots — the
    two-sample mean comparison run on every dimension at once (did
    the space MOVE between model versions / data windows, and along
    which axes?). Complements :func:`procrustes_align` (which asks
    whether a rotation explains the change; this localizes raw
    coordinate shifts):

        z_d = (mean_b[d] - mean_a[d])
              / sqrt(var_a[d]/n_a + var_b[d]/n_b)

    (the per-dimension Welch z). Execution: ``posexplode`` both sides
    to (dim, value), ONE map-combinable (side, dim) moment groupBy —
    rows x dims rows but combiner-reduced to 2 x d before the
    exchange — and a d-row join. Returns per dimension: ``(dim, n_a,
    n_b, mean_a, mean_b, z, drifted)`` rounded to 6; z null where
    the pooled standard error is 0.
    """
    def _mom(df, side):
        return (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.posexplode(vec_col).alias("dim", "_v"))
            .groupBy("dim")
            .agg(
                F.count(F.lit(1)).alias(f"n_{side}"),
                F.avg(F.col("_v").cast("double")).alias(
                    f"mean_{side}"
                ),
                F.var_samp(F.col("_v").cast("double")).alias(
                    f"_var_{side}"
                ),
            )
        )

    j = _mom(df_a, "a").join(_mom(df_b, "b"), "dim", "inner")
    se = F.sqrt(
        F.col("_var_a") / F.col("n_a")
        + F.col("_var_b") / F.col("n_b")
    )
    z = F.when(
        se > 0, (F.col("mean_b") - F.col("mean_a")) / se
    )
    return j.select(
        F.col("dim").cast("int"),
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(z, 6).alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(float(z_threshold)), F.lit(False)
        ).alias("drifted"),
    )


# --------------------------------------------------------------------------
# int8 embedding quantization: 4x storage/IO cut for vector corpora.
# At 100 TB of float32 embeddings the scan itself is the ANN wall;
# per-dimension affine int8 keeps recall high (max error <= scale/2
# per dim) while quartering the bytes every index build and query
# candidate pass has to move.
# --------------------------------------------------------------------------


def embedding_quant_params(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> list:
    """Per-dimension (lo, hi) ranges in ONE aggregate pass.

    2*dim min/max expressions over ``vec[i]`` — deliberately NOT a
    ``posexplode`` + groupBy, which would shuffle n*dim rows to
    compute a 2*dim-float result; this shuffles nothing (single-row
    partial aggregate, map-side combined). Null vectors are skipped by
    min/max semantics. Returns ``[(lo_0, hi_0), ...]`` driver-side —
    the params are index metadata, sized like the IVF centers.

    Raises ``ValueError`` when the input is empty or a dimension is
    all-null (min/max would be null — an unusable range).
    """
    aggs = []
    for i in range(dim):
        x = F.col(vec_col)[i].cast("double")
        aggs.append(F.min(x).alias(f"_lo{i}"))
        aggs.append(F.max(x).alias(f"_hi{i}"))
    row = df.agg(*aggs).first()
    bad = [i for i in range(dim)
           if row[f"_lo{i}"] is None or row[f"_hi{i}"] is None]
    if bad:
        raise ValueError(
            "embedding_quant_params: no non-null values for "
            f"dimension(s) {bad[:8]}{'...' if len(bad) > 8 else ''} — "
            "input is empty or those vector positions are all null"
        )
    return [(float(row[f"_lo{i}"]), float(row[f"_hi{i}"]))
            for i in range(dim)]


def _quant_scale(lo: float, hi: float, bits: int) -> float:
    levels = (1 << bits) - 1
    return (hi - lo) / levels if hi > lo else 1.0


def quantize_embeddings(
    df: DataFrame,
    params: list,
    vec_col: str = "embedding",
    out_col: str = "q_embedding",
    bits: int = 8,
) -> DataFrame:
    """Map-only affine quantization: ``q_i = clamp(round((x_i - lo_i)
    / scale_i), 0, 2^bits - 1)`` stored as ``array<int>``. The per-dim
    lo/scale vectors enter the plan as literal arrays (like the LSH
    hyperplanes) — no broadcast variable, no Python in the executors,
    whole-stage codegen all the way."""
    levels = (1 << bits) - 1
    los = F.array(*[F.lit(float(lo)) for lo, _ in params])
    scales = F.array(
        *[F.lit(_quant_scale(lo, hi, bits)) for lo, hi in params]
    )
    q = F.transform(
        F.col(vec_col),
        lambda x, i: F.least(
            F.lit(levels),
            F.greatest(
                F.lit(0),
                F.round(
                    (x.cast("double") - F.element_at(los, i + 1))
                    / F.element_at(scales, i + 1)
                ).cast("int"),
            ),
        ),
    )
    return df.withColumn(out_col, q)


def dequantize_embeddings(
    df: DataFrame,
    params: list,
    q_col: str = "q_embedding",
    out_col: str = "embedding_hat",
    bits: int = 8,
) -> DataFrame:
    """Inverse map: ``x_hat_i = lo_i + q_i * scale_i`` (map-only)."""
    los = F.array(*[F.lit(float(lo)) for lo, _ in params])
    scales = F.array(
        *[F.lit(_quant_scale(lo, hi, bits)) for lo, hi in params]
    )
    xh = F.transform(
        F.col(q_col),
        lambda q, i: F.element_at(los, i + 1)
        + q.cast("double") * F.element_at(scales, i + 1),
    )
    return df.withColumn(out_col, xh)


def quantization_error_report(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Per-dimension reconstruction audit of the int8 round-trip:
    ``(dim_idx, lo, hi, scale, max_abs_err, within_bound)``.

    Affine quantization's guarantee is ``|x - x_hat| <= scale/2`` for
    every in-range value (lo/hi are the exact data range, so nothing
    clamps); ``within_bound`` verifies it value-by-value. TWO full
    scans total (one for the ranges, one fused max-error aggregate
    with the quant/dequant formula inlined per dim) and no shuffle —
    both are single-row partial aggregates. MAX is merge-order
    invariant, so the report is bit-stable under any partition layout.
    """
    params = embedding_quant_params(df, dim, vec_col)
    levels = (1 << bits) - 1
    aggs = []
    for i, (lo, hi) in enumerate(params):
        scale = _quant_scale(lo, hi, bits)
        x = F.col(vec_col)[i].cast("double")
        q = F.least(
            F.lit(levels),
            F.greatest(
                F.lit(0),
                F.round((x - F.lit(lo)) / F.lit(scale)).cast("int"),
            ),
        )
        xh = F.lit(lo) + q.cast("double") * F.lit(scale)
        aggs.append(F.max(F.abs(x - xh)).alias(f"_e{i}"))
    row = df.agg(*aggs).first()
    spark = df.sparkSession
    out = []
    for i, (lo, hi) in enumerate(params):
        scale = _quant_scale(lo, hi, bits)
        err = float(row[f"_e{i}"])
        out.append((i, lo, hi, scale, err,
                    bool(err <= scale * 0.5000001)))
    raw = spark.createDataFrame(
        out,
        "dim_idx int, lo double, hi double, scale double,"
        " max_abs_err double, within_bound boolean",
    )
    # round with F.round (HALF_UP, matching SQL ROUND), NOT Python's
    # banker's-rounding round() — keeps the relation replica-exact
    return raw.select(
        "dim_idx",
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
        F.round("scale", 9).alias("scale"),
        F.round("max_abs_err", 9).alias("max_abs_err"),
        "within_bound",
    )


def mine_hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    lo: float = 0.3,
    hi: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_id_col: str = "anchor_id",
    anchor_vec_col: str = "anchor_vec",
) -> DataFrame:
    """Hard negatives for contrastive training (the ANCE/RocketQA
    shape): for each anchor, the ``k`` most-similar corpus vectors
    whose cosine falls in ``[lo, hi)`` — similar enough to be
    informative, strictly below the near-dup band where a "negative"
    is really an unlabeled positive.

    ``anchors`` is a (``anchor_id_col``, ``anchor_vec_col``) relation
    (defaults anchor_id/anchor_vec; a clear error names the missing
    column otherwise) and is
    BROADCAST — anchors are a training batch or probe set, bounded by
    nature (same reasoning as the decontamination benchmark side).
    The corpus side is ONE map-only scan: cosine against the broadcast
    anchors, band filter applied before anything shuffles, so the only
    exchange carries band-surviving candidates keyed by anchor for the
    top-k window. Never an all-pairs corpus join. Rows where
    ``negative_id == anchor_id`` are excluded (shared id space
    self-match guard; harmless when id spaces are disjoint).

    Returns (anchor_id, negative_id, cosine, rank) with cosine rounded
    to 6 and rank 1..k by cosine desc, ties broken by negative_id.
    """
    missing = [c for c in (anchor_id_col, anchor_vec_col)
               if c not in anchors.columns]
    if missing:
        raise ValueError(
            f"anchors relation is missing column(s) {missing}; pass "
            "anchor_id_col/anchor_vec_col to name your columns "
            f"(anchors has: {anchors.columns})"
        )
    anchors = anchors.select(
        F.col(anchor_id_col).alias("anchor_id"),
        F.col(anchor_vec_col).alias("anchor_vec"),
    )
    cos = F.round(
        cosine_similarity_col(F.col("anchor_vec"), F.col(vec_col)), 6
    )
    cand = (
        corpus.crossJoin(F.broadcast(anchors))
        .select(
            "anchor_id",
            F.col(id_col).alias("negative_id"),
            cos.alias("cosine"),
        )
        .filter(
            (F.col("cosine") >= F.lit(float(lo)))
            & (F.col("cosine") < F.lit(float(hi)))
            & (F.col("negative_id") != F.col("anchor_id"))
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search" — the FAISS workhorse): split each vector
# into m subvectors, k-means each subspace to k centroids, store m
# small codes per vector. At 100 TB this is the difference between
# scanning 256 B/vector (float32 d=64) and scanning m bytes/vector,
# with query-time distances from per-query lookup tables (ADC).
# --------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 256,
    sample_size: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    n_total: int | None = None,
) -> list:
    """Train m per-subspace codebooks driver-side on a seeded sample
    (codebook quality needs only a sample — the IVF coarse-quantizer
    reasoning; the cluster never runs KMeans jobs over the corpus).
    ``sample_size`` defaults to ``128 * n_codes`` (the FAISS
    points-per-centroid convention: beyond ~100-256 training points
    per centroid the codebook stops improving, while the driver-side
    Lloyd cost keeps growing linearly — measured: the 100k default
    made pq_train 6x the cost of encoding 2M vectors).
    ``n_total``: pass a known corpus count to skip the sizing scan
    (it is used only to size the sampling fraction).
    Returns a list of m (n_codes, dim/m) numpy arrays."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} must be divisible by m={m}")
    if sample_size is None:
        sample_size = 128 * int(n_codes)
    sub = dim // m
    if n_total is None:
        n_total = df.count()
    frac = min(1.0, (sample_size * 1.2) / max(n_total, 1))
    pdf = df.select(vec_col).sample(fraction=frac, seed=seed).toPandas()
    sample = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
    )
    if sample.shape[0] > sample_size:
        rng = np.random.default_rng(seed)
        keep = rng.choice(
            sample.shape[0], size=sample_size, replace=False
        )
        sample = sample[np.sort(keep)]
    return _fit_subspace_codebooks(sample, m, n_codes, seed)


def _fit_subspace_codebooks(
    sample: "np.ndarray", m: int, n_codes: int, seed: int
) -> list:
    """Per-subspace Lloyd fits over a driver-side sample matrix —
    shared by :func:`pq_train` (raw vectors) and
    :class:`IvfPqIndex` (cell residuals)."""
    sub = sample.shape[1] // m
    k = int(min(n_codes, sample.shape[0]))
    return [
        _lloyd_kmeans(
            sample[:, j * sub:(j + 1) * sub], k, seed + j
        )
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Map-only encoding: per subspace, argmin distance to the
    broadcast codebook (one (batch, k) matmul per subspace inside an
    Arrow-batched pandas UDF — never per-row Python). Output:
    ``array<int>`` of length m."""
    from pyspark.sql.functions import pandas_udf

    books = [b.astype(np.float64) for b in codebooks]
    sqs = [0.5 * np.sum(b * b, axis=1) for b in books]
    sub = books[0].shape[1]

    @pandas_udf("array<int>")
    def _enc(col: pd.Series) -> pd.Series:
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in col]
        )
        if mat.size == 0:
            return pd.Series([], dtype=object)
        codes = np.empty((mat.shape[0], len(books)), dtype=np.int32)
        for j, (b, sq) in enumerate(zip(books, sqs)):
            x = mat[:, j * sub:(j + 1) * sub]
            codes[:, j] = np.argmax(x @ b.T - sq, axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _enc(F.col(vec_col)))


def pq_topk(
    encoded: DataFrame,
    codebooks: list,
    queries: list,
    k: int = 5,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k, ONE corpus scan for the whole
    query batch: each query keeps full precision; per query an
    (m, n_codes) lookup table of squared subspace distances is built
    driver-side, ALL tables are stacked into one (Q, m, n_codes)
    ndarray shipped in a single closure (tiny — Q*m*256 floats), and
    one Arrow-batched pass emits every query's ADC sum per corpus
    vector as an array<double> that ``posexplode`` fans out to
    (query_id, neighbor_id, adc_dist) rows. The scan count is
    independent of Q — a batch of hundreds of probe queries still
    reads the encoded corpus exactly once (the previous per-query
    loop launched Q scans and unioned them).

    ``queries``: list of (query_id, vector) tuples; must be
    non-empty. ``exclude_self=True`` (default) drops rows where
    ``neighbor_id == query_id`` — the self-match convention for
    corpus-id queries; queries from an EXTERNAL id space that may
    collide with corpus ids should pass ``exclude_self=False`` (same
    contract as :func:`mine_hard_negatives`'s self-exclusion).
    Returns (query_id, neighbor_id, adc_dist<rounded 6>, rank).
    """
    from pyspark.sql.functions import pandas_udf

    if not queries:
        raise ValueError(
            "pq_topk requires a non-empty queries list of "
            "(query_id, vector) tuples"
        )
    books = [b.astype(np.float64) for b in codebooks]
    sub = books[0].shape[1]
    qids = sorted(int(qid) for qid, _ in queries)
    by_id = {int(qid): np.asarray(qv, dtype=np.float64)
             for qid, qv in queries}
    if len(by_id) != len(qids):
        raise ValueError(
            "pq_topk: duplicate query ids in `queries` — each id's "
            "LUT row would be duplicated and the per-query row_number "
            "ranks would interleave, corrupting top-k; dedupe the "
            "batch before calling"
        )
    # (Q, m, n_codes): stacked per-query subspace distance tables
    lut = np.stack([
        np.stack([
            np.sum(
                (books[j] - by_id[qid][j * sub:(j + 1) * sub]) ** 2,
                axis=1,
            )
            for j in range(len(books))
        ])
        for qid in qids
    ])

    @pandas_udf("array<double>")
    def _adc_all(codes: pd.Series) -> pd.Series:
        c = np.asarray([np.asarray(v, dtype=np.int64) for v in codes])
        if c.size == 0:
            return pd.Series([], dtype=object)
        d = np.zeros((c.shape[0], lut.shape[0]))
        for j in range(lut.shape[1]):
            # lut[:, j, :] is (Q, n_codes); fancy-index by the batch's
            # j-th code column -> (Q, B); transpose accumulates (B, Q)
            d += lut[:, j, c[:, j]].T
        return pd.Series(list(d))

    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    scored = (
        encoded.select(
            F.col(id_col).alias("neighbor_id"),
            _adc_all(F.col(code_col)).alias("_d"),
        )
        .select(
            "neighbor_id",
            F.posexplode("_d").alias("_pos", "adc_dist"),
        )
        .select(
            F.element_at(qid_arr, F.col("_pos") + 1).alias("query_id"),
            "neighbor_id",
            F.round("adc_dist", 6).alias("adc_dist"),
        )
    )
    if exclude_self:
        scored = scored.filter(
            F.col("neighbor_id") != F.col("query_id")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= k)


class IvfPqIndex:
    """IVF + PQ composed index (the FAISS ``IVFADC`` shape — Jégou et
    al. 2011 §IV, the production ANN layout at 100 TB): an IVF coarse
    quantizer assigns every vector to a cell, PQ codebooks are trained
    on the RESIDUALS (vector minus its cell center — residual energy
    is far smaller than raw-vector energy, so the same code budget
    quantizes much finer), and the stored relation is just
    (id, cell, m-byte code). Queries probe only their ``nprobe``
    nearest cells and score candidates by asymmetric distance against
    per-(query, cell) residual lookup tables.

    Scale shape: build is one coarse-quantizer fit (driver-side Lloyd
    on a seeded sample, :meth:`IvfIndex.build` ``method="local"``), a
    residual-sample collect sized like the PQ training budget, and ONE
    Arrow-batched assign+encode pass over the corpus. A query batch is
    ONE scan of the encoded relation filtered to the union of probed
    cells (cell-partitioned storage via :meth:`save` turns that filter
    into partition pruning on a loaded index), against lookup tables
    shipped in a single closure — never a per-query scan, mirroring
    :func:`pq_topk`'s batch contract.

    ``opq=True`` composes the full FAISS production default
    (``OPQ..,IVF..,PQ..``): an OPQ rotation (Ge et al. 2013 parametric
    solution — PCA + eigenvalue allocation, see :func:`opq_train`) is
    fitted ON THE CELL RESIDUALS (the space the PQ codebooks actually
    quantize — rotating raw vectors would mis-balance the residual
    variances), the codebooks are trained on rotated residuals, and
    the corpus pays one extra matmul inside the SAME Arrow encode
    batch. Queries rotate their per-cell residual driver-side before
    LUT construction — the rotation is orthonormal, so rotated-space
    L2 equals residual-space L2 and the single-scan batch contract is
    unchanged (plan-asserted in pytest).
    """

    def __init__(self, encoded: DataFrame, centers: list,
                 codebooks: list, id_col: str = "vec_id",
                 rotation=None):
        self.encoded = encoded
        self.centers = [[float(v) for v in c] for c in centers]
        self.codebooks = [np.asarray(b, dtype=np.float64)
                          for b in codebooks]
        self.id_col = id_col
        self.rotation = (
            None if rotation is None
            else np.asarray(rotation, dtype=np.float64)
        )

    # ------------------------------------------------------------- build
    @classmethod
    def build(
        cls,
        vectors: DataFrame,
        n_clusters: int = 16,
        m: int = 8,
        n_codes: int = 256,
        seed: int = 42,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_size: int | None = None,
        cache: bool = True,
        opq: bool = False,
        n_total: int | None = None,
    ) -> "IvfPqIndex":
        """Fit coarse centers, train residual codebooks on a seeded
        sample (``sample_size`` defaults to ``128 * n_codes``, the
        FAISS points-per-centroid convention — see :func:`pq_train`),
        then assign + residual-encode the corpus in one map-only
        Arrow pass. The raw vector column is DROPPED from the stored
        relation — the index carries m bytes + a cell id per vector.

        ``opq=True`` additionally fits an OPQ rotation on the residual
        training sample (same collect — no extra scan) and trains the
        codebooks in the rotated residual space; encode rotates inside
        the same Arrow batch. ``n_total``: pass a known corpus count
        to skip the fraction-sizing scan.
        """
        from pyspark.sql.functions import pandas_udf

        first = vectors.select(vec_col).first()
        if first is None:
            raise ValueError("IvfPqIndex.build: input is empty")
        dim = len(first[0])
        if dim % m != 0:
            raise ValueError(f"dim={dim} must be divisible by m={m}")
        if sample_size is None:
            sample_size = 128 * int(n_codes)
        ivf = IvfIndex.build(
            vectors, n_clusters, seed, id_col, vec_col,
            cache=False, method="local",
        )
        c_arr = np.asarray(ivf.centers, dtype=np.float64)
        # residual training sample: seeded sample of (vec, cell),
        # residuals computed driver-side against the tiny center matrix
        if n_total is None:
            n_total = vectors.count()
        frac = min(1.0, (sample_size * 1.2) / max(n_total, 1))
        pdf = (
            ivf.assigned.select(vec_col, "cell")
            .sample(fraction=frac, seed=seed)
            .toPandas()
        )
        sample = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        if sample.shape[0] == 0:
            raise ValueError(
                "IvfPqIndex.build: empty training sample; raise "
                "sample_size or check the input"
            )
        resid = sample - c_arr[pdf["cell"].to_numpy()]
        if resid.shape[0] > sample_size:
            rng = np.random.default_rng(seed)
            keep = rng.choice(
                resid.shape[0], size=sample_size, replace=False
            )
            resid = resid[np.sort(keep)]
        rot = None
        if opq:
            # OPQ rotation fitted where it matters: on the RESIDUALS
            # the codebooks quantize. Same parametric solution as
            # opq_train (PCA + eigenvalue allocation), same sample —
            # no extra scan or collect.
            mu = resid.mean(axis=0)
            cov = np.cov((resid - mu).T)
            eigvals, eigvecs = np.linalg.eigh(cov)
            perm = _eigenvalue_allocation(eigvals, m)
            rot = eigvecs[:, perm].T
            resid = resid @ rot.T
        books = _fit_subspace_codebooks(resid, m, n_codes, seed)
        sqs = [0.5 * np.sum(b * b, axis=1) for b in books]
        sub = dim // m

        @pandas_udf("array<int>")
        def _enc(vec: pd.Series, cell: pd.Series) -> pd.Series:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vec]
            )
            if mat.size == 0:
                return pd.Series([], dtype=object)
            r = mat - c_arr[cell.to_numpy()]
            if rot is not None:
                r = r @ rot.T
            codes = np.empty((r.shape[0], len(books)), dtype=np.int32)
            for j, (b, sq) in enumerate(zip(books, sqs)):
                x = r[:, j * sub:(j + 1) * sub]
                codes[:, j] = np.argmax(x @ b.T - sq, axis=1)
            return pd.Series(list(codes))

        encoded = ivf.assigned.select(
            F.col(id_col),
            F.col("cell"),
            _enc(F.col(vec_col), F.col("cell")).alias("pq_code"),
        )
        if cache:
            encoded = encoded.cache()
        return cls(encoded, ivf.centers, books, id_col, rotation=rot)

    # ------------------------------------------------------------- query
    def query(
        self,
        queries: list,
        k: int = 5,
        nprobe: int = 2,
        exclude_self: bool = True,
    ) -> DataFrame:
        """Batch ADC top-k within the probed cells. ``queries`` is a
        non-empty list of (query_id, vector) tuples; probe cells are
        chosen driver-side against the tiny center matrix (global
        argmin order, matching the assignment rule, so an exact-match
        query always probes its own vector's cell first). Returns
        (query_id, neighbor_id, adc_dist<rounded 6>, rank).

        ``exclude_self`` drops neighbor_id == query_id rows (corpus-id
        query convention); pass False for external query id spaces
        that may collide with corpus ids."""
        from pyspark.sql.functions import pandas_udf

        if not queries:
            raise ValueError(
                "IvfPqIndex.query requires a non-empty queries list "
                "of (query_id, vector) tuples"
            )
        if len({int(qid) for qid, _ in queries}) != len(queries):
            raise ValueError(
                "IvfPqIndex.query: duplicate query ids in `queries` — "
                "duplicated LUT rows would interleave the per-query "
                "row_number ranks and corrupt top-k; dedupe the batch "
                "before calling"
            )
        books = self.codebooks
        sub = books[0].shape[1]
        mlen = len(books)
        n_codes = books[0].shape[0]
        # Closure-size guard: each (query, probed cell) ships an
        # (m, n_codes) float64 LUT. Bound the total at ~256 MiB (the
        # max_bucket_size/max_posting convention: loud error, named
        # knobs) — past that, split the query batch or lower nprobe.
        lut_bytes = len(queries) * int(nprobe) * mlen * n_codes * 8
        if lut_bytes > MAX_QUERY_LUT_BYTES:
            raise ValueError(
                f"IvfPqIndex.query: the batch LUT closure would be "
                f"{lut_bytes / 2**20:.0f} MiB "
                f"(Q={len(queries)} x nprobe={int(nprobe)} x m={mlen} "
                f"x n_codes={n_codes} x 8B) — over the "
                f"{MAX_QUERY_LUT_BYTES // 2**20} MiB bound shipped to "
                f"every task. Split the query batch into smaller "
                f"chunks or lower nprobe."
            )
        c_arr = np.asarray(self.centers, dtype=np.float64)
        rot = self.rotation
        luts: dict = {}
        probe_rows = []
        for qid, qv in queries:
            q = np.asarray(qv, dtype=np.float64)
            d2 = np.sum((c_arr - q) ** 2, axis=1)
            order = np.lexsort((np.arange(len(d2)), d2))
            for cell in order[: int(nprobe)]:
                r = q - c_arr[cell]
                if rot is not None:
                    # rotate the residual into codebook space; the
                    # rotation is orthonormal so ADC distances equal
                    # residual-space L2 — probing order (raw-space
                    # center distances) is unaffected
                    r = rot @ r
                luts[(int(qid), int(cell))] = np.stack([
                    np.sum(
                        (books[j] - r[j * sub:(j + 1) * sub]) ** 2,
                        axis=1,
                    )
                    for j in range(mlen)
                ])
                probe_rows.append((int(qid), int(cell)))
        spark = self.encoded.sparkSession
        probes = spark.createDataFrame(
            probe_rows, "query_id long, cell int"
        )
        probed_cells = sorted({c for _, c in probe_rows})

        @pandas_udf("double")
        def _adc(qid: pd.Series, cell: pd.Series,
                 codes: pd.Series) -> pd.Series:
            c = np.asarray(
                [np.asarray(v, dtype=np.int64) for v in codes]
            )
            if c.size == 0:
                return pd.Series([], dtype="float64")
            out = np.zeros(c.shape[0])
            key = pd.DataFrame(
                {"q": qid.to_numpy(), "c": cell.to_numpy()}
            )
            for (qv, cv), idx in key.groupby(
                ["q", "c"], sort=False
            ).indices.items():
                lut = luts[(int(qv), int(cv))]
                sel = c[idx]
                d = np.zeros(len(idx))
                for j in range(mlen):
                    d += lut[j][sel[:, j]]
                out[idx] = d
            return pd.Series(out)

        cand = (
            self.encoded
            # explicit cell filter BEFORE the join: partition pruning
            # on a cell-partitioned saved index, plain predicate
            # pushdown otherwise
            .filter(F.col("cell").isin(probed_cells))
            .join(F.broadcast(probes), on="cell")
            .select(
                "query_id",
                F.col(self.id_col).alias("neighbor_id"),
                F.round(
                    _adc(
                        F.col("query_id"), F.col("cell"),
                        F.col("pq_code"),
                    ),
                    6,
                ).alias("adc_dist"),
            )
        )
        if exclude_self:
            cand = cand.filter(
                F.col("neighbor_id") != F.col("query_id")
            )
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").asc(), F.col("neighbor_id")
        )
        return cand.withColumn(
            "rank", F.row_number().over(w)
        ).filter(F.col("rank") <= k)

    # ----------------------------------------------------------- persist
    def save(self, path: str, mode: str = "error") -> None:
        """Write the encoded relation parquet PARTITIONED BY cell (so
        a loaded index turns the query-time cell filter into partition
        pruning) plus a meta json with centers and codebooks."""
        import json

        self.encoded.write.mode(mode).partitionBy("cell").parquet(
            f"{path}/encoded"
        )
        meta = {
            "centers": self.centers,
            "codebooks": [b.tolist() for b in self.codebooks],
            "id_col": self.id_col,
            "rotation": (
                None if self.rotation is None else self.rotation.tolist()
            ),
        }
        spark = self.encoded.sparkSession
        spark.createDataFrame(
            [(json.dumps(meta),)], "meta string"
        ).coalesce(1).write.mode(mode).json(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str, cache: bool = False) -> "IvfPqIndex":
        import json

        meta = json.loads(
            spark.read.json(f"{path}/meta").first()["meta"]
        )
        encoded = spark.read.parquet(f"{path}/encoded")
        if cache:
            encoded = encoded.cache()
        return cls(
            encoded, meta["centers"], meta["codebooks"], meta["id_col"],
            # .get: reads pre-rotation saves (rotation absent -> None)
            rotation=meta.get("rotation"),
        )

    def unpersist(self) -> None:
        try:
            self.encoded.unpersist()
        except Exception:  # noqa: BLE001
            pass


# --------------------------------------------------------------------------
# Optimized Product Quantization, parametric solution (Ge et al. 2013,
# "Optimized Product Quantization for Approximate Nearest Neighbor
# Search" §4: for Gaussian-ish data the optimal rotation is the PCA
# basis with principal directions PERMUTED so every PQ subspace gets a
# balanced share of the variance — "eigenvalue allocation"). One
# driver-side eigendecomposition of the d x d covariance; the corpus
# pays a single extra matmul inside the same Arrow batch that encodes.
# --------------------------------------------------------------------------


def _eigenvalue_allocation(eigvals: "np.ndarray", m: int) -> "np.ndarray":
    """Permutation assigning PCA directions to m subspaces so the
    per-subspace variance PRODUCTS balance (greedy: largest eigenvalue
    first, into the emptiest non-full bucket — Ge et al.'s log-sum
    balancing)."""
    d = len(eigvals)
    cap = d // m
    order = np.argsort(-eigvals)
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = np.zeros(m)
    for idx in order:
        open_b = [j for j in range(m) if len(buckets[j]) < cap]
        j = min(open_b, key=lambda b: logs[b])
        buckets[j].append(int(idx))
        logs[j] += float(np.log(max(eigvals[idx], 1e-12)))
    return np.asarray([i for b in buckets for i in b])


def opq_train(
    df: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 256,
    sample_size: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    n_total: int | None = None,
) -> tuple:
    """Parametric OPQ: returns ``(rotation, codebooks)`` where
    ``rotation`` is the (dim, dim) PCA-with-eigenvalue-allocation
    matrix (rows = output dims) and ``codebooks`` are PQ codebooks
    trained on the ROTATED sample. Covariance and rotation are fitted
    on the same seeded driver-side sample the codebooks use — one
    sample collect total; the cluster never runs an eigen job.

    On anisotropic/correlated embeddings the rotation equalizes
    subspace variances, which provably lowers quantization error vs
    plain :func:`pq_train` (pytest pins the MSE win on correlated
    Gaussians); on isotropic data it degrades to a no-op-quality
    rotation and recall matches plain PQ. ``n_total``: pass a known
    corpus count to skip the fraction-sizing scan.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} must be divisible by m={m}")
    if sample_size is None:
        sample_size = 128 * int(n_codes)
    if n_total is None:
        n_total = df.count()
    frac = min(1.0, (sample_size * 1.2) / max(n_total, 1))
    pdf = df.select(vec_col).sample(fraction=frac, seed=seed).toPandas()
    sample = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
    )
    if sample.shape[0] == 0:
        raise ValueError("opq_train: empty training sample")
    if sample.shape[0] > sample_size:
        rng = np.random.default_rng(seed)
        keep = rng.choice(
            sample.shape[0], size=sample_size, replace=False
        )
        sample = sample[np.sort(keep)]
    mu = sample.mean(axis=0)
    cov = np.cov((sample - mu).T)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    perm = _eigenvalue_allocation(eigvals, m)
    rotation = eigvecs[:, perm].T  # rows: allocated principal dirs
    books = _fit_subspace_codebooks(sample @ rotation.T, m, n_codes, seed)
    return rotation, books


def opq_encode(
    df: DataFrame,
    rotation: "np.ndarray",
    codebooks: list,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Map-only rotate-then-encode: the rotation matmul and the
    per-subspace argmin run in the SAME Arrow batch (one pass, no
    intermediate rotated column materialized)."""
    from pyspark.sql.functions import pandas_udf

    rot = np.asarray(rotation, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sqs = [0.5 * np.sum(b * b, axis=1) for b in books]
    sub = books[0].shape[1]

    @pandas_udf("array<int>")
    def _enc(col: pd.Series) -> pd.Series:
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in col]
        )
        if mat.size == 0:
            return pd.Series([], dtype=object)
        r = mat @ rot.T
        codes = np.empty((r.shape[0], len(books)), dtype=np.int32)
        for j, (b, sq) in enumerate(zip(books, sqs)):
            x = r[:, j * sub:(j + 1) * sub]
            codes[:, j] = np.argmax(x @ b.T - sq, axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _enc(F.col(vec_col)))


def opq_topk(
    encoded: DataFrame,
    rotation: "np.ndarray",
    codebooks: list,
    queries: list,
    k: int = 5,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    exclude_self: bool = True,
) -> DataFrame:
    """Batch ADC over OPQ codes: queries are rotated driver-side
    (rotation is orthonormal, so rotated-space L2 == original L2) and
    the single-scan :func:`pq_topk` does the rest."""
    rot = np.asarray(rotation, dtype=np.float64)
    rotated = [
        (qid, (np.asarray(qv, dtype=np.float64) @ rot.T))
        for qid, qv in queries
    ]
    return pq_topk(
        encoded, codebooks, rotated, k=k,
        id_col=id_col, code_col=code_col, exclude_self=exclude_self,
    )


# --------------------------------------------------------------------------
# Residual quantization (Chen, Guan & Wang 2010, "Approximate nearest
# neighbor search by residual vector quantization"; the additive-
# quantizer family FAISS ships as ResidualQuantizer): L full-dimension
# codebooks fitted stage-wise — each level quantizes the residual the
# previous levels left. Complementary to PQ's subspace split: RQ
# spends its code budget adaptively across the whole space, which
# wins when variance is concentrated (clustered corpora) rather than
# axis-separable.
# --------------------------------------------------------------------------


def rq_train(
    df: DataFrame,
    dim: int,
    n_levels: int = 2,
    n_codes: int = 256,
    sample_size: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    n_total: int | None = None,
) -> list:
    """Stage-wise residual codebooks on a seeded driver-side sample
    (same collect budget as :func:`pq_train`: ``128 * n_codes``).
    Returns ``n_levels`` (n_codes, dim) arrays; level l is a KMeans
    fit of the residuals after levels < l. ``n_total``: pass a known
    corpus count to skip the fraction-sizing scan."""
    if n_levels < 1:
        raise ValueError("n_levels must be >= 1")
    if sample_size is None:
        sample_size = 128 * int(n_codes)
    if n_total is None:
        n_total = df.count()
    frac = min(1.0, (sample_size * 1.2) / max(n_total, 1))
    pdf = df.select(vec_col).sample(fraction=frac, seed=seed).toPandas()
    sample = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
    )
    if sample.shape[0] == 0:
        raise ValueError("rq_train: empty training sample")
    if sample.shape[0] > sample_size:
        rng = np.random.default_rng(seed)
        keep = rng.choice(
            sample.shape[0], size=sample_size, replace=False
        )
        sample = sample[np.sort(keep)]
    books = []
    resid = sample.copy()
    for lvl in range(int(n_levels)):
        k = int(min(n_codes, resid.shape[0]))
        c = _lloyd_kmeans(resid, k, seed + lvl)
        books.append(c)
        sq = 0.5 * np.sum(c * c, axis=1)
        codes = np.argmax(resid @ c.T - sq, axis=1)
        resid = resid - c[codes]
    return books


def rq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    out_col: str = "rq_code",
) -> DataFrame:
    """Map-only stage-wise encoding (one Arrow batch: L argmin
    matmuls, each against the residual the previous level left).
    Output: ``array<int>`` of length n_levels."""
    from pyspark.sql.functions import pandas_udf

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sqs = [0.5 * np.sum(b * b, axis=1) for b in books]

    @pandas_udf("array<int>")
    def _enc(col: pd.Series) -> pd.Series:
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in col]
        )
        if mat.size == 0:
            return pd.Series([], dtype=object)
        resid = mat.copy()
        codes = np.empty((mat.shape[0], len(books)), dtype=np.int32)
        for lvl, (b, sq) in enumerate(zip(books, sqs)):
            c = np.argmax(resid @ b.T - sq, axis=1)
            codes[:, lvl] = c
            resid -= b[c]
        return pd.Series(list(codes))

    return df.withColumn(out_col, _enc(F.col(vec_col)))


def rq_topk(
    encoded: DataFrame,
    codebooks: list,
    queries: list,
    k: int = 5,
    id_col: str = "vec_id",
    code_col: str = "rq_code",
    exclude_self: bool = True,
) -> DataFrame:
    """Batch EXACT-ADC top-k over RQ codes, one corpus scan for the
    whole query batch (the :func:`pq_topk` shape): with the additive
    reconstruction x_hat = sum_l C_l[c_l],

        ||q - x_hat||^2 = ||q||^2 - 2 sum_l q.C_l[c_l]
                          + sum_l ||C_l[c_l]||^2
                          + 2 sum_{l<l'} C_l[c_l].C_l'[c_l']

    so the scan needs only per-query dot LUTs (Q, L, n_codes), the
    per-level squared norms, and the query-independent cross-level
    Gram tables (L(L-1)/2 of n_codes x n_codes floats) — all shipped
    in ONE closure, no raw vectors touched. Returns (query_id,
    neighbor_id, adc_dist<rounded 6>, rank).
    """
    from pyspark.sql.functions import pandas_udf

    if not queries:
        raise ValueError(
            "rq_topk requires a non-empty queries list of "
            "(query_id, vector) tuples"
        )
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    L = len(books)
    norms = [np.sum(b * b, axis=1) for b in books]
    grams = {
        (a, b): books[a] @ books[b].T
        for a in range(L) for b in range(a + 1, L)
    }
    qids = sorted(int(qid) for qid, _ in queries)
    by_id = {int(qid): np.asarray(qv, dtype=np.float64)
             for qid, qv in queries}
    if len(by_id) != len(qids):
        raise ValueError(
            "rq_topk: duplicate query ids in `queries` — each id's "
            "LUT row would be duplicated and the per-query row_number "
            "ranks would interleave, corrupting top-k; dedupe the "
            "batch before calling"
        )
    qsq = {q: float(by_id[q] @ by_id[q]) for q in qids}
    # (Q, L, n_codes) stacked q . C_l tables
    lut = np.stack([
        np.stack([books[lv] @ by_id[q] for lv in range(L)])
        for q in qids
    ])
    qsq_arr = np.asarray([qsq[q] for q in qids])

    @pandas_udf("array<double>")
    def _adc_all(codes: pd.Series) -> pd.Series:
        c = np.asarray([np.asarray(v, dtype=np.int64) for v in codes])
        if c.size == 0:
            return pd.Series([], dtype=object)
        # query-independent reconstruction norm per row
        base = np.zeros(c.shape[0])
        for lv in range(L):
            base += norms[lv][c[:, lv]]
        for (a, b), g in grams.items():
            base += 2.0 * g[c[:, a], c[:, b]]
        # per-query: ||q||^2 - 2 q.x_hat + ||x_hat||^2 -> (B, Q)
        dot = np.zeros((c.shape[0], lut.shape[0]))
        for lv in range(L):
            dot += lut[:, lv, c[:, lv]].T
        d = qsq_arr[None, :] - 2.0 * dot + base[:, None]
        return pd.Series(list(d))

    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    scored = (
        encoded.select(
            F.col(id_col).alias("neighbor_id"),
            _adc_all(F.col(code_col)).alias("_d"),
        )
        .select(
            "neighbor_id",
            F.posexplode("_d").alias("_pos", "adc_dist"),
        )
        .select(
            F.element_at(qid_arr, F.col("_pos") + 1).alias("query_id"),
            "neighbor_id",
            F.round("adc_dist", 6).alias("adc_dist"),
        )
    )
    if exclude_self:
        scored = scored.filter(
            F.col("neighbor_id") != F.col("query_id")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= k)


# --------------------------------------------------------------------------
# Persisted quantizer artifacts: a frozen OPQ rotation or RQ codebook
# set must be shippable the way IvfPqIndex.save ships a whole index —
# train once on one delivery, reload for every later delivery (the
# incremental-dedup snapshot convention applied to vector compression).
# Storage is the same meta-json shape as IvfPqIndex.save, written and
# read through Spark so the path can be any Hadoop-visible filesystem
# (local, HDFS, s3a) — no driver-local file I/O.
# --------------------------------------------------------------------------


def _save_quantizer_meta(spark, path: str, meta: dict,
                         mode: str = "error") -> None:
    import json

    spark.createDataFrame(
        [(json.dumps(meta),)], "meta string"
    ).coalesce(1).write.mode(mode).json(f"{path}/meta")


def _load_quantizer_meta(spark, path: str, expected_kind: str) -> dict:
    import json

    meta = json.loads(spark.read.json(f"{path}/meta").first()["meta"])
    kind = meta.get("kind")
    if kind != expected_kind:
        raise ValueError(
            f"quantizer at {path!r} is kind={kind!r}, expected "
            f"{expected_kind!r} — wrong loader for this artifact"
        )
    return meta


def save_opq(spark, path: str, rotation, codebooks: list,
             mode: str = "error") -> None:
    """Persist a frozen OPQ quantizer (:func:`opq_train`'s
    ``(rotation, codebooks)``) as a meta-json artifact. Reload with
    :func:`load_opq`; the round trip is bit-exact (json floats are
    repr'd shortest-round-trip), so encodes and ADC queries against
    the reloaded quantizer reproduce the in-memory ones bit-for-bit
    (pytest + the ``opq_persisted_recall`` oracle pin this)."""
    _save_quantizer_meta(spark, path, {
        "kind": "opq",
        "rotation": np.asarray(rotation, dtype=np.float64).tolist(),
        "codebooks": [
            np.asarray(b, dtype=np.float64).tolist() for b in codebooks
        ],
    }, mode)


def load_opq(spark, path: str) -> tuple:
    """Load a persisted OPQ quantizer -> ``(rotation, codebooks)``
    with the exact arrays :func:`save_opq` froze."""
    meta = _load_quantizer_meta(spark, path, "opq")
    return (
        np.asarray(meta["rotation"], dtype=np.float64),
        [np.asarray(b, dtype=np.float64) for b in meta["codebooks"]],
    )


def save_rq(spark, path: str, codebooks: list,
            mode: str = "error") -> None:
    """Persist a frozen residual-quantizer codebook set
    (:func:`rq_train`'s list of (n_codes, dim) arrays)."""
    _save_quantizer_meta(spark, path, {
        "kind": "rq",
        "codebooks": [
            np.asarray(b, dtype=np.float64).tolist() for b in codebooks
        ],
    }, mode)


def load_rq(spark, path: str) -> list:
    """Load a persisted RQ codebook set -> list of ndarray."""
    meta = _load_quantizer_meta(spark, path, "rq")
    return [np.asarray(b, dtype=np.float64) for b in meta["codebooks"]]


def save_pq(spark, path: str, codebooks: list,
            mode: str = "error") -> None:
    """Persist a frozen plain-PQ codebook set (:func:`pq_train`)."""
    _save_quantizer_meta(spark, path, {
        "kind": "pq",
        "codebooks": [
            np.asarray(b, dtype=np.float64).tolist() for b in codebooks
        ],
    }, mode)


def load_pq(spark, path: str) -> list:
    """Load a persisted PQ codebook set -> list of ndarray."""
    meta = _load_quantizer_meta(spark, path, "pq")
    return [np.asarray(b, dtype=np.float64) for b in meta["codebooks"]]
