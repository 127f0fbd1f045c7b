"""Record-linkage operators: string-similarity joins across tables.

The flagship is :func:`fuzzy_join` — an edit-distance join between TWO
relations with LOSSLESS segment blocking (the PassJoin scheme, Li,
Deng & Feng, VLDB 2011): every true pair within ``max_dist`` edits is
guaranteed to surface as a candidate, and every candidate is verified
with Spark's thresholded JVM ``levenshtein``, so the result is exact.

Why not reuse the length-band blocking of
:func:`spark_bestfit_spark.operators.dedup.edit_distance_pairs`?
Length bands are CONTENT-BLIND: for record linkage over keys of
near-constant length (names, codes, normalized addresses) one band
holds the whole table and the candidate join degenerates quadratic.
Segment blocking keys candidates on actual substring content, so two
records only meet when one record contains one of the other's
segments — near-linear candidate volume on realistic key corpora.

How the blocking works (pigeonhole): split each right-side string s
(|s| = l) into ``max_dist + 1`` contiguous segments. If
``edit(t, s) <= max_dist``, fewer than ``max_dist + 1`` segments can
be touched by an edit, so at least one segment survives UNCHANGED in
t — as a contiguous substring whose start position is displaced from
its home position by at most ``max_dist`` (each indel shifts the
alignment by one). So the index side emits its ``max_dist + 1``
segments keyed by ``(l, segment#, segment)``, and the probe side
emits, for every plausible right length ``l`` within ``max_dist`` of
its own, every substring of segment length within the +-``max_dist``
position window. The equi-join of those two key streams is a SUPERSET
of the true pair set; a thresholded ``levenshtein`` filters it to the
exact answer.

Shuffle shape at 100 TB: both key streams are generated map-side
(sequence/transform/substr — no shuffle, no UDF) and reduced to
8-byte xxhash64 keys before anything wide (a hash collision only adds
a candidate; the exact verify removes it); the only wide operations
are the candidate equi-join on that key — content hashing spreads
near-uniformly — and one distinct on the VERIFIED pairs (output-sized
rows, after the levenshtein filter, so no key string ever crosses a
pair-keyed exchange). Per-record row counts are small constants: the index emits
``max_dist + 1`` rows; the probe at most
``(2 * max_dist + 1)^2 * (max_dist + 1)`` before per-row
``array_distinct`` (d=2: <= 75, typically far fewer). Verification is
Spark's early-exit ``levenshtein(l, r, threshold)`` — O(len * d) per
candidate, JVM-side.

Reference parity: the reference engine exposes no record-linkage
surface at all; this module is part of the training-data-pipeline
tier this engine adds on top (SURVEY.md §2 extensions).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _seg_bounds(l: Column, j: int, d: int) -> tuple[Column, Column]:
    """(start, length) of segment ``j`` (0-based) of a length-``l``
    string split into ``d + 1`` even segments — short segments first,
    the deterministic convention both index and probe must share.
    1-based start, matching SQL ``substring``."""
    nseg = d + 1
    base = F.floor(l / F.lit(nseg)).cast("int")
    rem = (l % F.lit(nseg)).cast("int")
    n_short = F.lit(nseg) - rem  # segments 0..n_short-1 have len=base
    sl = base + F.when(F.lit(j) >= n_short, F.lit(1)).otherwise(F.lit(0))
    start = (
        F.lit(1)
        + F.lit(j) * base
        + F.greatest(F.lit(0), F.lit(j) - n_short)
    )
    return start.cast("int"), sl.cast("int")


def _deletion1_keys(s: Column) -> Column:
    """The string plus every single-character deletion of it — the
    FastSS/SymSpell depth-1 deletion neighborhood. Two strings within
    edit distance 1 ALWAYS share a key (substitution: delete the
    differing position from both; indel: delete the inserted char
    from the longer), so the key join is a lossless candidate
    generator whose posting lists stay match-sized even on
    adversarial shared-prefix corpora."""
    length = F.length(s)
    dels = F.transform(
        F.sequence(F.lit(1), length),
        lambda i: F.concat(
            s.substr(F.lit(1), (i - F.lit(1)).cast("int")),
            s.substr((i + F.lit(1)).cast("int"), length),
        ),
    )
    return F.array_distinct(
        F.concat(
            F.array(s),
            F.when(length >= 1, dels).otherwise(
                F.array().cast("array<string>")
            ),
        )
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_id: str,
    right_id: str,
    max_dist: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """Exact edit-distance join: every (left, right) pair whose key
    strings are within ``max_dist`` Levenshtein operations.

    Two lossless blocking schemes, both verified by a thresholded JVM
    ``levenshtein`` so the result set is identical either way:

    - ``"passjoin"`` — segment blocking (module docstring). Candidate
      volume tracks SEGMENT selectivity: near-linear on natural text
      keys, but a corpus of near-constant-prefix keys (``Customer#
      000000001``...) makes one segment's posting list the whole
      table and the candidate join quadratic.
    - ``"deletion1"`` (``max_dist == 1`` only) — FastSS deletion
      neighborhoods: each side emits its string and every
      single-character deletion (``len + 1`` keys); true pairs always
      share a key, and posting lists stay match-sized no matter how
      much structure the keys share. The robust choice for id-like
      keys; costs O(len) keys of O(len) bytes per record.
    - ``"auto"`` — ``deletion1`` when ``max_dist == 1``, else
      ``passjoin``.

    Returns ``(id_l, id_r, dist)`` — one row per qualifying pair,
    ``dist`` the exact edit distance. Null keys never match. Either
    path is a single lazy plan: key generation is map-side
    (sequence/transform/substr, no UDF) with keys hashed to 8 bytes,
    then one hash-keyed equi-join, the levenshtein verify, and one
    distinct over the verified output-sized pairs.

    For a self-join pass the same DataFrame twice and filter
    ``id_l < id_r`` on the result (each unordered pair appears with
    both orderings before the filter; the internal pair distinct has
    already removed duplicate key collisions).
    """
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    if strategy not in ("auto", "passjoin", "deletion1"):
        raise ValueError(
            "strategy must be 'auto', 'passjoin', or 'deletion1'"
        )
    d = int(max_dist)
    if strategy == "auto":
        strategy = "deletion1" if d == 1 else "passjoin"
    # spread under-parallelized inputs (e.g. one small parquet file)
    # BEFORE the map-side key enumeration: with a single input
    # partition the whole enumerate->broadcast-join->verify pipeline
    # otherwise runs as one task. No-op at real scale (guide §2.6).
    from spark_bestfit_spark.operators.dedup import ensure_parallelism

    left = ensure_parallelism(left)
    right = ensure_parallelism(right) if right is not left else left
    if strategy == "deletion1":
        if d != 1:
            raise ValueError("deletion1 blocking requires max_dist=1")
        # deletion keys are hashed to 8 bytes before the equi-join
        # (shuffle carries xxhash64(_k), never the key string); a hash
        # collision only ADDS a candidate, which the exact levenshtein
        # verify removes — lossless. The pair distinct runs AFTER
        # verification: deduping ~output-sized (id, id, dist) rows is
        # far cheaper than deduping candidate rows that still carry
        # both key strings, and re-verifying the few duplicate
        # candidates costs less than the wide distinct it replaces.
        index = (
            right.select(
                F.col(right_id).alias("id_r"),
                F.col(right_on).alias("_sr"),
            )
            .filter(F.col("_sr").isNotNull())
            .select(
                "id_r",
                "_sr",
                F.explode(
                    F.transform(
                        _deletion1_keys(F.col("_sr")),
                        lambda k: F.xxhash64(k),
                    )
                ).alias("_h"),
            )
        )
        probe = (
            left.select(
                F.col(left_id).alias("id_l"),
                F.col(left_on).alias("_sl"),
            )
            .filter(F.col("_sl").isNotNull())
            .select(
                "id_l",
                "_sl",
                F.explode(
                    F.transform(
                        _deletion1_keys(F.col("_sl")),
                        lambda k: F.xxhash64(k),
                    )
                ).alias("_h"),
            )
        )
        dist = F.levenshtein(F.col("_sl"), F.col("_sr"), d)
        return (
            probe.join(index, "_h")
            .withColumn("dist", dist)
            .filter(F.col("dist") >= 0)
            .select(
                "id_l", "id_r", F.col("dist").cast("int").alias("dist")
            )
            .distinct()
        )

    idx_base = right.select(
        F.col(right_id).alias("id_r"),
        F.col(right_on).alias("_sr"),
        F.length(right_on).cast("int").alias("_lr"),
    ).filter(F.col("_sr").isNotNull())
    seg_structs = []
    for j in range(d + 1):
        p, sl = _seg_bounds(F.col("_lr"), j, d)
        seg_structs.append(
            F.struct(
                F.lit(j).alias("j"),
                F.col("_sr").substr(p, sl).alias("piece"),
            )
        )
    # the (length, segment#, piece) key is hashed to 8 bytes before
    # the equi-join — collisions only add candidates, removed by the
    # exact verify (same convention as the deletion1 branch)
    index = idx_base.select(
        "id_r",
        "_sr",
        "_lr",
        F.explode(F.array_distinct(F.array(*seg_structs))).alias("_k"),
    ).select(
        "id_r",
        "_sr",
        F.xxhash64("_lr", "_k.j", "_k.piece").alias("_h"),
    )

    probe_base = left.select(
        F.col(left_id).alias("id_l"),
        F.col(left_on).alias("_sl"),
        F.length(left_on).cast("int").alias("_ll"),
    ).filter(F.col("_sl").isNotNull())
    # candidate right-lengths within the edit bound (l >= 0; l = 0
    # only pairs with left strings of length <= d, via empty pieces)
    probe_l = probe_base.select(
        "id_l",
        "_sl",
        "_ll",
        F.explode(
            F.sequence(
                F.greatest(F.col("_ll") - d, F.lit(0)),
                F.col("_ll") + d,
            )
        ).alias("_cl"),
    )
    def _window_pieces(j: int):
        p, sl = _seg_bounds(F.col("_cl"), j, d)
        lo = F.greatest(p - d, F.lit(1))
        hi = F.least(p + d, F.col("_ll") - sl + F.lit(1))

        def _piece(s):
            return F.struct(
                F.lit(j).alias("j"),
                F.col("_sl").substr(s, sl).alias("piece"),
            )

        return F.when(
            lo <= hi, F.transform(F.sequence(lo, hi), _piece)
        ).otherwise(F.array().cast("array<struct<j:int,piece:string>>"))

    piece_arrays = [_window_pieces(j) for j in range(d + 1)]
    probe = probe_l.select(
        "id_l",
        "_sl",
        F.col("_cl").alias("_lr"),
        F.explode(
            F.array_distinct(F.flatten(F.array(*piece_arrays)))
        ).alias("_k"),
    ).select(
        "id_l",
        "_sl",
        F.xxhash64("_lr", "_k.j", "_k.piece").alias("_h"),
    )

    # verify-then-distinct: dedupe output-sized (id, id, dist) rows
    # instead of candidate rows still carrying both strings
    dist = F.levenshtein(F.col("_sl"), F.col("_sr"), d)
    return (
        probe.join(index, "_h")
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("id_l", "id_r", F.col("dist").cast("int").alias("dist"))
        .distinct()
    )


def set_similarity_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_id: str,
    right_id: str,
    threshold: float = 0.8,
    max_posting: int | None = None,
) -> DataFrame:
    """LOSSLESS Jaccard set-similarity join between two relations —
    the prefix-filtering scheme of PPJoin (Xiao, Wang, Lin & Yu,
    WWW'08), token tier: every pair whose DISTINCT-token Jaccard
    reaches ``threshold`` is guaranteed to surface, and every candidate
    is verified exactly. The third member of the linkage family:
    :func:`fuzzy_join` covers edit distance (character tier), fuzzy
    MinHash decontamination covers probabilistic recall; this one is
    exact Jaccard with a lossless index.

    Prefix-filter theorem: order every record's tokens by a GLOBAL
    canonical order (ascending document frequency, ties by token — the
    rarest tokens first). If ``J(a, b) >= t`` then the first
    ``|a| - ceil(t * |a|) + 1`` tokens of a and the first
    ``|b| - ceil(t * |b|) + 1`` tokens of b must share at least one
    token. So each side indexes only its prefix, candidates come from
    a token equi-join of the two prefix streams, a map-side LENGTH
    filter (``t*|a| <= |b| <= |a|/t``) plus PPJoin's POSITIONAL
    filter (for a shared prefix token at 1-based positions ``i`` in a
    and ``j`` in b, the overlap can be at most
    ``1 + min(|a|-i, |b|-j)``; the first common token of a true pair
    always passes, so the filter is lossless) prune impossible pairs,
    and an exact intersect/union verifies.

    Tokens are DICTIONARY-ENCODED before anything wide: the
    vocabulary relation is sorted by ``(df, token)`` and assigned
    order-consistent integer ids (``monotonically_increasing_id`` over
    the range-partitioned sort — ids are not dense, but they are
    injective and sort in canonical order, which is all ordering and
    intersection need). The id relation is lazily localCheckpoint-ed:
    that pins ONE materialization, so every reference sees the same
    token -> id mapping (ids from a recomputed sort could differ —
    checkpointing is a correctness fence here, not a cache), and the
    doc-keyed exchanges, the candidate join and the verify all carry
    8-byte ids instead of token strings.

    Shuffle shape at 100 TB: one token-df aggregation over both
    relations (map-combinable), one vocabulary sort, one token-keyed
    join per side to encode tokens, one doc-keyed groupBy per side to
    assemble ordered int-id sets, the prefix-token candidate equi-join
    (int keys), one pair distinct, and a broadcast-candidate verify
    (corpus relations are never re-shuffled for verification).
    ``max_posting`` drops prefix tokens whose
    posting list exceeds the cap on EITHER side — rare-by-rank can be
    common-by-count (boilerplate); the cap bounds the join's quadratic
    term exactly like MinHash's ``max_bucket_size``, at the cost of
    losing pairs whose ONLY shared prefix token was dropped (None =
    lossless, the default).

    Returns ``(left_id, right_id, jaccard)`` (rounded to 6) for every
    pair at-or-above the threshold. Id/token column names must differ
    across the two inputs (alias upstream).
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    if max_posting is not None and max_posting < 1:
        raise ValueError("max_posting must be >= 1 (or None)")

    # NOTE (r12 A/B): an ensure_parallelism input spread here LOST
    # (sf0.1 warm 2.5-2.8 -> 2.9-3.8 s): unlike fuzzy_join, the first
    # exchange (token-df aggregation) arrives before any expensive
    # map work, and the added round-robin shuffle of both relations
    # plus an extra planning round outweighed the spread tokenize.
    def _toks(df, on, idc):
        return df.select(
            idc,
            F.explode(
                F.array_distinct(
                    F.split(F.lower(F.trim(F.col(on))), r"\s+")
                )
            ).alias("_tok"),
        )

    lt = _toks(left, left_on, left_id)
    rt = _toks(right, right_on, right_id)
    # global canonical order: df over BOTH relations, then an
    # order-consistent injective int id per token (the sort is a
    # range partition, so monotonically_increasing_id over it sorts
    # exactly like (_df, _tok)). The checkpoint is a CORRECTNESS
    # fence: range-partition boundaries are sampled, so a recomputed
    # sort could assign different ids — pinning one materialization
    # guarantees every downstream reference encodes with the SAME
    # mapping. The relation is vocabulary-sized, bounded state.
    tok_ids = (
        lt.select("_tok").unionByName(rt.select("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
        .orderBy("_df", "_tok")
        .withColumn("_tid", F.monotonically_increasing_id())
        .select("_tok", "_tid")
        .localCheckpoint(eager=False)
    )

    def _ordered_sets(toks, idc):
        encoded = toks.join(tok_ids, on="_tok", how="inner")
        return encoded.groupBy(idc).agg(
            F.array_sort(F.collect_list("_tid")).alias("_set"),
            F.count(F.lit(1)).cast("int").alias("_n"),
        )

    lsets = _ordered_sets(lt, left_id)
    rsets = _ordered_sets(rt, right_id)

    def _prefix(sets, idc):
        plen = (
            F.col("_n")
            - F.ceil(F.lit(float(threshold)) * F.col("_n")).cast("int")
            + F.lit(1)
        )
        out = sets.select(
            idc,
            F.col("_n"),
            F.posexplode(F.slice("_set", 1, plen)).alias("_p", "_tid"),
        )
        if max_posting is not None:
            from pyspark.sql import Window as _W

            w = _W.partitionBy("_tid")
            out = (
                out.withColumn("_pc", F.count(F.lit(1)).over(w))
                .filter(F.col("_pc") <= int(max_posting))
                .drop("_pc")
            )
        return out

    lpre = (
        _prefix(lsets, left_id)
        .withColumnRenamed("_n", "_nl")
        .withColumnRenamed("_p", "_pl")
    )
    rpre = (
        _prefix(rsets, right_id)
        .withColumnRenamed("_n", "_nr")
        .withColumnRenamed("_p", "_pr")
    )
    t = float(threshold)
    # positional filter: at 1-based positions (i, j) of the shared
    # prefix token, overlap <= 1 + min(|a|-i, |b|-j); a true pair's
    # FIRST common token always satisfies it (i <= |a|-overlap+1),
    # so pruning occurrences that fail it is lossless. The required
    # overlap is ceil(t/(1+t)*(|a|+|b|)), epsilon-padded DOWN so
    # float error can only admit candidates, never drop one.
    # posexplode is 0-based: i = _pl + 1.
    alpha = F.ceil(
        (F.lit(t) * (F.col("_nl") + F.col("_nr"))) / F.lit(1.0 + t)
        - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("_nl") - F.col("_pl") - F.lit(1),
        F.col("_nr") - F.col("_pr") - F.lit(1),
    )
    cand = (
        lpre.join(rpre, on="_tid", how="inner")
        .filter(
            (F.col("_nr") >= F.ceil(F.lit(t) * F.col("_nl")))
            & (F.col("_nr") * F.lit(t) <= F.col("_nl"))
            & (ubound >= alpha)
        )
        .select(left_id, right_id)
        .distinct()
    )
    # verification: attach both token sets to the candidate pairs by
    # id-keyed joins and compute exact Jaccard. Deliberately NOT a
    # forced broadcast — the candidate relation carries token arrays
    # once joined, and at 10x scale broadcasting it OOMs the driver
    # (observed at sf1); plain hash joins let AQE pick broadcast at
    # RUNTIME from actual sizes, which is the only safe call when the
    # candidate volume is data-dependent.
    # |A ∪ B| = |A| + |B| - |A ∩ B| for the (distinct-element) sets, so
    # the union scan is pure arithmetic on the carried set sizes — one
    # per-pair hash-set pass instead of two (same integers, identical
    # double division and rounding).
    lv = lsets.select(
        left_id, F.col("_n").alias("_na"), F.col("_set").alias("_sa")
    )
    rv = rsets.select(
        right_id, F.col("_n").alias("_nb"), F.col("_set").alias("_sb")
    )
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = (F.col("_na") + F.col("_nb")).cast("double") - inter
    return (
        cand.join(lv, on=left_id, how="inner")
        .join(rv, on=right_id, how="inner")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(left_id, right_id, "jaccard")
    )


def resolve_entities(
    df: DataFrame,
    on: str,
    id_col: str,
    max_dist: int = 1,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end entity resolution: candidate pairs from the lossless
    PassJoin blocking (:func:`fuzzy_join` self-join at ``max_dist``),
    transitive closure via min-label propagation (a~b, b~c must land in
    ONE entity even when a and c differ by more than ``max_dist``),
    singletons kept as their own entity. The MDM pipeline composed
    from the engine's own parts — pass ``pairs`` to supply candidates
    from another matcher (:func:`set_similarity_join`, a MinHash pass)
    instead.

    Returns ``(id_col, entity_id, entity_size)`` — ``entity_id`` is
    the smallest member id, ``entity_size`` the member count; the
    size window rides the entity-hash partitioning.
    """
    from pyspark.sql import Window as _W

    from spark_bestfit_spark.operators.dedup import neardup_clusters

    if pairs is None:
        # exact-key vertex contraction BEFORE the edit-distance join:
        # distance-0 records (identical keys) are trivially the same
        # entity, and edit distance between records equals the
        # distance between their distinct key strings — so the
        # expensive blocking join runs over DISTINCT keys (often
        # orders of magnitude fewer rows), clique edges inside an
        # equal-key group never materialize, and membership joins
        # back by key. The same contraction that makes
        # neardup_clusters scale.
        reps = (
            df.filter(F.col(on).isNotNull())
            .groupBy(F.col(on).alias("_key"))
            .agg(F.min(id_col).alias("_rep"))
        )
        rep_rel = reps.select(
            F.col("_rep").alias("_rid_key"), "_key"
        )
        pairs = fuzzy_join(
            rep_rel, rep_rel, "_key", "_key", "_rid_key", "_rid_key",
            max_dist,
        ).filter(F.col("id_l") < F.col("id_r"))
        member = df.select(F.col(id_col), F.col(on).alias("_key")).join(
            reps, "_key", "left"
        )
    else:
        member = df.select(
            F.col(id_col), F.col(id_col).alias("_rep")
        )
        pairs = pairs.filter(F.col("id_l") < F.col("id_r"))
    edges = pairs.select(
        F.col("id_l").alias("id_a"), F.col("id_r").alias("id_b")
    )
    comp = neardup_clusters(edges, id_col="_rid")
    out = (
        member.join(comp, F.col("_rep") == F.col("_rid"), "left")
        .select(
            id_col,
            F.coalesce(
                "cluster_id", F.col("_rep"), F.col(id_col)
            ).alias("entity_id"),
        )
    )
    w = _W.partitionBy("entity_id")
    return out.withColumn(
        "entity_size", F.count(F.lit(1)).over(w).cast("long")
    )


def canonical_key(
    df: DataFrame,
    on: str,
    output_col: str | None = None,
    drop_tokens: list | None = None,
) -> DataFrame:
    """Token-sorted canonical blocking key for record linkage:
    lowercase, strip punctuation, collapse whitespace, drop optional
    noise tokens (legal suffixes: "inc", "llc", ...), SORT the tokens,
    and rejoin — "Smith, John" and "john SMITH" collapse to the same
    key, so an exact groupBy on the key is the zero-cost first tier
    before :func:`fuzzy_join` spends edit-distance work on what
    remains.

    Pure map-side column algebra (regexp + split + array ops), no
    shuffle. Appends ``output_col`` (default ``{on}_key``).
    """
    out = output_col or f"{on}_key"
    cleaned = F.regexp_replace(
        F.lower(F.trim(F.col(on))), r"[^a-z0-9\s]", " "
    )
    toks = F.filter(
        F.split(F.regexp_replace(cleaned, r"\s+", " "), " "),
        lambda t: t != F.lit(""),
    )
    if drop_tokens:
        noise = F.array(*[F.lit(str(t).lower()) for t in drop_tokens])
        toks = F.filter(toks, lambda t: ~F.array_contains(noise, t))
    key = F.concat_ws(" ", F.array_sort(toks))
    # concat_ws swallows null inputs into "" — keep null names null
    return df.withColumn(
        out, F.when(F.col(on).isNotNull(), key)
    )


def _jaro_winkler(s1: str, s2: str) -> float:
    """Jaro-Winkler similarity, DuckDB-compatible variant: standard
    Jaro with match window ``floor(max(l1,l2)/2) - 1``, Winkler prefix
    boost (p=0.1, prefix capped at 4) applied only when Jaro > 0.7,
    and EITHER side empty (including both) scoring 0.0 — pinned by
    fuzz against DuckDB's ``jaro_winkler_similarity`` so the oracle
    comparison is exact to the rounded digit."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(max(l1, l2) // 2 - 1, 0)
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i in range(l1):
        lo = i - window
        if lo < 0:
            lo = 0
        hi = i + window + 1
        if hi > l2:
            hi = l2
        c = s1[i]
        for j in range(lo, hi):
            if not m2[j] and c == s2[j]:
                m1[i] = True
                m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / l1 + m / l2 + (m - t) / m) / 3.0
    if j <= 0.7:
        return j
    ell = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        ell += 1
    return j + ell * 0.1 * (1.0 - j)


def _jaro_winkler_chunk(A, B, l1, l2):
    """Vectorized :func:`_jaro_winkler` over one padded chunk.

    ``A``/``B`` are ``(n, L1)``/``(n, L2)`` char-code matrices
    (0-padded rows, uint8 or uint32); ``l1``/``l2`` the true lengths.
    Every arithmetic expression mirrors the scalar kernel term for
    term (same operand order, same int->float64 divisions), so the
    result is EXACTLY the scalar kernel's float, not an approximation
    — the greedy in-window match and the transposition count are
    integer-exact, and IEEE float64 ops on identical operands in
    identical order give identical bits.
    """
    import numpy as np

    n, L1 = A.shape
    L2 = B.shape[1]
    window = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)[:, None]
    col2 = np.arange(L2)
    # avail = s2 slots not yet consumed by a match, within |s2|
    avail = col2 < l2[:, None]
    m1 = np.zeros((n, L1), dtype=bool)
    m2 = np.zeros((n, L2), dtype=bool)
    l1_col = l1[:, None]
    for i in range(L1):
        cand = B == A[:, i : i + 1]
        cand &= avail
        cand &= np.abs(col2 - i) <= window
        if i > 0:
            # row inactive once past its own length (i=0 needs no
            # guard: l1==0 rows are masked to 0.0 at the end)
            cand &= i < l1_col
        has = cand.any(axis=1)
        j = cand.argmax(axis=1)  # first in-window unmatched equal char
        rows = np.nonzero(has)[0]
        jr = j[rows]
        avail[rows, jr] = False
        m2[rows, jr] = True
        m1[:, i] = has
    m = m1.sum(axis=1)
    # transpositions: both sides' matched chars in positional order;
    # rows beyond m are 0 on BOTH sides (equal match counts), so the
    # padded compare counts exactly the scalar kernel's mismatches
    Lm = min(L1, L2)
    S1 = np.zeros((n, Lm), dtype=A.dtype)
    S2 = np.zeros((n, Lm), dtype=B.dtype)
    r1 = np.cumsum(m1, axis=1) - 1
    rows, cols = np.nonzero(m1)
    S1[rows, r1[rows, cols]] = A[rows, cols]
    r2 = np.cumsum(m2, axis=1) - 1
    rows, cols = np.nonzero(m2)
    S2[rows, r2[rows, cols]] = B[rows, cols]
    t = (S1 != S2).sum(axis=1) // 2
    mf = m.astype(np.float64)
    P = min(4, L1, L2)
    if P > 0:
        # mask prefix positions by TRUE length, not by char value —
        # a real '\x00' in the shared prefix is a legitimate match,
        # only positions past min(l1, l2) are padding
        in_len = np.arange(P) < np.minimum(l1, l2)[:, None]
        eq = (A[:, :P] == B[:, :P]) & in_len
        ell = np.cumprod(eq, axis=1).sum(axis=1)
    else:
        ell = np.zeros(n, dtype=np.int64)
    # empty / no-match rows divide by zero here (NaN/inf, also through
    # the boost); the final where sets them to 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        j_sim = (mf / l1 + mf / l2 + (mf - t) / mf) / 3.0
        out = np.where(
            j_sim <= 0.7, j_sim, j_sim + ell * 0.1 * (1.0 - j_sim)
        )
    return np.where((m == 0) | (l1 == 0) | (l2 == 0), 0.0, out)


def _jaro_winkler_batch(a_seq, b_seq, chunk=8192):
    """Batch Jaro-Winkler: ``float64[n]`` of EXACTLY
    ``_jaro_winkler(a_seq[i], b_seq[i])`` for non-null string inputs.

    The Arrow verify kernel is the scale bottleneck of blocked
    :func:`jaro_winkler_join` (guide §4 — the per-pair Python loop
    cost ~15us/pair); this runs the same greedy algorithm as
    whole-batch numpy column algebra, ~6x the scalar loop, with a
    uint8 fast path when every char fits a byte (linkage keys are
    overwhelmingly Latin-1). Chunks are ordered by max pair length so
    each pads only to its own width; the O(L^2) per-row work matches
    the scalar kernel's window scan.
    """
    import numpy as np

    n = len(a_seq)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    A = np.asarray(a_seq, dtype="U")
    B = np.asarray(b_seq, dtype="U")
    # true Python lengths — np.char.str_len treats a trailing '\x00'
    # as a C terminator ('ab\x00' -> 2), which silently shrank the
    # match window and the Jaro denominators for NUL-tailed strings
    l1 = np.fromiter((len(x) for x in a_seq), dtype=np.int64, count=n)
    l2 = np.fromiter((len(x) for x in b_seq), dtype=np.int64, count=n)
    LA = max(A.dtype.itemsize // 4, 1)
    LB = max(B.dtype.itemsize // 4, 1)
    A32 = np.frombuffer(A.tobytes(), dtype=np.uint32).reshape(n, LA)
    B32 = np.frombuffer(B.tobytes(), dtype=np.uint32).reshape(n, LB)
    if A32.max(initial=0) < 256 and B32.max(initial=0) < 256:
        A32 = A32.astype(np.uint8)
        B32 = B32.astype(np.uint8)
    out = np.empty(n, dtype=np.float64)
    order = np.argsort(np.maximum(l1, l2), kind="stable")
    for s in range(0, n, chunk):
        idx = order[s : s + chunk]
        c1 = l1[idx]
        c2 = l2[idx]
        w1 = max(int(c1.max()), 1)
        w2 = max(int(c2.max()), 1)
        out[idx] = _jaro_winkler_chunk(
            A32[idx, :w1], B32[idx, :w2], c1, c2
        )
    return out


def jaro_winkler_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_id: str,
    right_id: str,
    threshold: float = 0.9,
    max_posting: int | None = None,
    left_block: str | None = None,
    right_block: str | None = None,
    max_candidates: int | None = None,
    allow_dense: bool = False,
) -> DataFrame:
    """LOSSLESS Jaro-Winkler similarity join — the fourth member of
    the linkage family (edit distance :func:`fuzzy_join`, token
    Jaccard :func:`set_similarity_join`, probabilistic MinHash
    decontamination; this one covers the name-matching metric record
    linkage actually standardizes on, Winkler 1990).

    Blocking is a CHARACTER-MULTISET prefix filter, sound by this
    chain of necessary conditions: a qualifying pair has Jaro
    ``j >= j_min`` where ``j_min = t`` for ``t <= 0.7`` (no boost
    below the 0.7 gate) else ``max(0.7, (t - 0.4) / 0.6)`` (the boost
    adds at most ``0.4 * (1 - j)``); Jaro's matched-character count m
    then satisfies ``j <= (m/l1 + m/l2 + 1) / 3``, i.e.
    ``m >= (3*j_min - 1) * l1 * l2 / (l1 + l2)``; and every matched
    character consumes one occurrence on each side, so the CHARACTER
    MULTISETS intersect in at least m elements — window and order
    drop out entirely. With records tokenized as ``(char, occ#)`` and
    globally ordered by ascending document frequency, the standard
    prefix-filter theorem applies verbatim: each side indexes only its
    ``l - ceil(m_lb) + 1`` rarest character-occurrences, candidates
    come from one token equi-join, and the same m bound yields the
    length band ``l_other in [l * (3*j_min - 2), l / (3*j_min - 2)]``
    applied map-side. Every ceil/floor is epsilon-padded in the SAFE
    direction (longer prefix, wider band), so float error can only add
    candidates, never drop a true pair. Exact verification runs an
    Arrow-batched pandas UDF of the pinned DuckDB-variant kernel over
    candidates only.

    Shuffle shape at 100 TB: one map-combinable char-df aggregation
    over both relations, one (char,occ)-keyed candidate equi-join
    (content-hashed, near-uniform — occurrence numbering splits the
    heavy letters across keys), one pair distinct, two id-keyed joins
    to attach keys for the verify. The per-record occurrence-numbering
    transform is O(len^2) MAP-SIDE column algebra on linkage keys
    (names, codes — short by nature); nothing shuffles data-sized
    rows more than once. ``max_posting`` bounds degenerate prefix
    postings exactly like :func:`set_similarity_join` (None =
    lossless, the default).

    SCALE HONESTY — why ``left_block``/``right_block`` exist: on
    natural-language keys the character multiset carries little
    information (measured on 40-char text heads: ~16% of ALL pairs
    genuinely satisfy the multiset bound at t = 0.9 while ~0.002%
    pass the exact verify), so NO lossless character-level blocking
    can be selective — the candidate set itself is dense. That is a
    property of the metric, not the algorithm; production record
    linkage therefore always runs JW INSIDE explicit blocks (first
    token, phonetic code, :func:`canonical_key`, a geography). Pass
    block columns (precomputed on each input; equal-block pairs only)
    to get the standard blocked join: candidates come from one
    block-keyed equi-join instead of the prefix index, then the same
    multiset pre-verify and exact kernel run within blocks. Blocked
    mode is exact WITHIN blocks and misses only cross-block pairs —
    the documented, deliberate tradeoff (analogous to MinHash
    banding). The lossless default remains correct at any size and
    fast for classic linkage inputs (up to ~10^4 keys per block).

    SAFE BY DEFAULT: because the unblocked candidate set is provably
    dense on natural text, the unblocked mode REFUSES to run unless
    the caller either sets ``max_candidates`` (a hard cap on verified
    candidate pairs — the join materializes the candidate relation,
    counts it, and raises ``RuntimeError`` past the cap, mirroring
    ``max_bucket_size`` in the MinHash family) or passes
    ``allow_dense=True`` (an explicit I-accept-quadratic-risk opt-in
    for classic short-key linkage inputs). ``max_candidates`` also
    applies in blocked mode when set (guards degenerate giant blocks);
    note it makes this call EAGER — one Spark job runs at call time to
    materialize and count candidates before verification.

    Returns ``(left_id, right_id, jw)`` (rounded to 6) for every pair
    at-or-above ``threshold``. Column names must differ across the two
    inputs (alias upstream); empty/null keys never match (DuckDB
    semantics: either side empty scores 0).
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    if max_posting is not None and max_posting < 1:
        raise ValueError("max_posting must be >= 1 (or None)")
    if (left_block is None) != (right_block is None):
        raise ValueError("pass both block columns or neither")
    if max_candidates is not None and max_candidates < 1:
        raise ValueError("max_candidates must be >= 1 (or None)")
    if left_block is None and max_candidates is None and not allow_dense:
        raise ValueError(
            "unblocked jaro_winkler_join is quadratic-dense on natural "
            "text (the lossless char-multiset bound admits ~16% of all "
            "pairs at t=0.9): pass left_block/right_block for the "
            "production blocked mode, set max_candidates=N for a hard "
            "loud-failure cap, or opt in with allow_dense=True for "
            "classic short-key linkage inputs"
        )
    t = float(threshold)
    j_min = t if t <= 0.7 else max(0.7, (t - 0.4) / 0.6)
    r = 3.0 * j_min - 2.0  # length-band ratio (vacuous when <= 0)
    EPS = 1e-9

    def _keyed(df, on, idc, block=None):
        keyed = df.select(
            F.col(idc),
            *([F.col(block).alias("_blk")] if block else []),
            F.lower(F.trim(F.col(on))).alias("_k"),
        ).filter(F.col("_k").isNotNull() & (F.length("_k") > 0))
        # (char, occ#) multiset tokens: occurrence numbering is an
        # indexed-lambda scan over the char array — map-side, O(l^2)
        # on short linkage keys, no UDF.
        blk = ["_blk"] if block else []
        return keyed.select(
            idc,
            *blk,
            "_k",
            F.length("_k").cast("int").alias("_len"),
            F.expr(
                "transform(sequence(1, length(_k)),"
                " i -> substring(_k, i, 1))"
            ).alias("_chars"),
        ).select(
            idc,
            *blk,
            "_k",
            "_len",
            F.expr(
                "transform(_chars, (c, i) -> concat(c, '#', cast("
                "size(filter(_chars, (d, j) -> j < i AND d = c)) + 1"
                " AS string)))"
            ).alias("_toks"),
        )

    lk = _keyed(left, left_on, left_id, left_block)
    rk = _keyed(right, right_on, right_id, right_block)

    # per-record required-overlap lower bound, minimized over the
    # length band (partner length unknown until the join): alpha(l) =
    # ceil((3*j_min - 1) * l * lb_min / (l + lb_min)) with lb_min the
    # band floor; prefix = the l - alpha + 1 RAREST (char, occ#)s.
    def _prefix(keyed, toks, idc):
        l = F.col("_len").cast("double")
        if r > 0:
            lb_min = F.greatest(
                F.lit(1.0), F.ceil(l * F.lit(r) - F.lit(EPS)).cast("double")
            )
        else:
            lb_min = F.lit(1.0)
        need = (F.lit(3.0 * j_min - 1.0) * l * lb_min) / (l + lb_min)
        alpha = F.greatest(
            F.lit(1), F.ceil(need - F.lit(EPS)).cast("int")
        )
        plen = F.greatest(
            F.lit(1), F.col("_len") - alpha + F.lit(1)
        )
        ranked = toks.join(dfreq, on="_tok", how="inner")
        ordered = ranked.groupBy(idc).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_df", "_tok"))),
                lambda s: s["_tok"],
            ).alias("_ord")
        )
        out = (
            keyed.select(idc, "_len")
            .join(ordered, on=idc, how="inner")
            .select(
                idc,
                "_len",
                "_ord",
                F.explode(F.slice("_ord", 1, plen)).alias("_tok"),
            )
        )
        if max_posting is not None:
            from pyspark.sql import Window as _W

            w = _W.partitionBy("_tok")
            out = (
                out.withColumn("_pc", F.count(F.lit(1)).over(w))
                .filter(F.col("_pc") <= int(max_posting))
                .drop("_pc")
            )
        return out

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _jw_udf(a, b):
        # batch kernel: exact float-for-float replica of
        # _jaro_winkler, vectorized with numpy across the Arrow batch
        # (fuzz-pinned in tests/test_linkage.py). Null keys keep the
        # scalar path's behavior (TypeError at the kernel edge).
        if a.isna().any() or b.isna().any():
            return pd.Series(
                [_jaro_winkler(x, y) for x, y in zip(a, b)],
                dtype="float64",
            )
        return pd.Series(_jaro_winkler_batch(a, b), dtype="float64")

    def _enforce_cap(df, what):
        # loud-failure candidate cap: materialize once (the verify
        # reuses the persisted relation), count, refuse past the cap
        if max_candidates is None:
            return df
        from pyspark.storagelevel import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        n = df.count()
        if n > max_candidates:
            df.unpersist()
            raise RuntimeError(
                f"jaro_winkler_join {what} candidate set has {n:,} "
                f"pairs > max_candidates={max_candidates:,}; the key "
                "column is too dense for this bound — block the join "
                "(left_block/right_block), raise the threshold, or "
                "raise max_candidates if the verify volume is truly "
                "acceptable"
            )
        return df

    if left_block is not None:
        # blocked mode: candidates = equal-block pairs, verified
        # DIRECTLY — each pair meets exactly once (one block value per
        # record: no distinct), and shuffling the two raw keys
        # (~80 bytes) beats shuffling token arrays or re-joining them
        # back by id (~3 KB/pair — measured 5x the whole join cost);
        # the kernel on the equal-block volume is the cheap part.
        lcand = lk.select(
            left_id,
            F.col("_blk"),
            F.col("_len").alias("_ll"),
            F.col("_k").alias("_ka"),
        )
        rcand = rk.select(
            right_id,
            F.col("_blk"),
            F.col("_len").alias("_lr"),
            F.col("_k").alias("_kb"),
        )
        pairs = lcand.join(rcand, on="_blk", how="inner")
        if r > 0:
            band = (
                (
                    F.col("_lr")
                    >= F.ceil(F.col("_ll") * F.lit(r) - F.lit(EPS))
                )
                & (
                    F.col("_ll")
                    >= F.ceil(F.col("_lr") * F.lit(r) - F.lit(EPS))
                )
            )
            pairs = pairs.filter(band)
        pairs = _enforce_cap(pairs, "blocked")
        # spread the kernel: the batched numpy JW kernel still costs
        # ~2-3us/pair — orders of magnitude more than moving an
        # 80-byte pair row — and AQE coalesces the small block-join
        # shuffle to a couple of partitions, serializing the kernel.
        # A round-robin repartition to cluster parallelism before the
        # kernel is negligible exchange cost at any scale relative to
        # the kernel it parallelizes (measured: sf1 blocked join
        # 5.3 s -> 1.6 s at local[32], row-at-a-time era).
        pairs = pairs.repartition(
            pairs.sparkSession.sparkContext.defaultParallelism
        )
        return (
            pairs.withColumn("jw", F.round(_jw_udf("_ka", "_kb"), 6))
            .filter(F.col("jw") >= F.lit(t))
            .select(left_id, right_id, "jw")
        )
    else:
        ltok = lk.select(left_id, F.explode("_toks").alias("_tok"))
        rtok = rk.select(right_id, F.explode("_toks").alias("_tok"))
        dfreq = (
            ltok.select("_tok").unionByName(rtok.select("_tok"))
            .groupBy("_tok")
            .agg(F.count(F.lit(1)).alias("_df"))
        )
        lpre = (
            _prefix(lk, ltok, left_id)
            .withColumnRenamed("_len", "_ll")
            .withColumnRenamed("_ord", "_orda")
        )
        rpre = (
            _prefix(rk, rtok, right_id)
            .withColumnRenamed("_len", "_lr")
            .withColumnRenamed("_ord", "_ordb")
        )
        cand = lpre.join(rpre, on="_tok", how="inner")
    if r > 0:
        band = (
            (F.col("_lr") >= F.ceil(F.col("_ll") * F.lit(r) - F.lit(EPS)))
            & (F.col("_ll") >= F.ceil(F.col("_lr") * F.lit(r) - F.lit(EPS)))
        )
        cand = cand.filter(band)
    # lossless JVM pre-verify: the full multiset-overlap bound with the
    # ACTUAL pair lengths — m = |multiset(a) /\ multiset(b)| must reach
    # ceil((3 j_min - 1) la lb / (la + lb)) for Jaro to reach j_min
    # ((char, occ#) tokens are unique per record, so array_intersect IS
    # the multiset intersection). The shared-prefix-token condition
    # admits ~1000x more candidates than this on small alphabets;
    # filtering here keeps the expensive Arrow kernel — and the pair
    # distinct's shuffle — to near-miss volume.
    ll = F.col("_ll").cast("double")
    lr = F.col("_lr").cast("double")
    need_pair = F.ceil(
        (F.lit(3.0 * j_min - 1.0) * ll * lr) / (ll + lr) - F.lit(EPS)
    )
    cand = cand.filter(
        F.size(F.array_intersect("_orda", "_ordb")) >= need_pair
    )
    cand = cand.select(left_id, right_id).distinct()
    cand = _enforce_cap(cand, "unblocked")

    lv = lk.select(left_id, F.col("_k").alias("_ka"))
    rv = rk.select(right_id, F.col("_k").alias("_kb"))
    attached = (
        cand.join(lv, on=left_id, how="inner")
        .join(rv, on=right_id, how="inner")
        # spread the kernel across the cluster (see blocked path):
        # AQE coalesces the near-miss-sized join output to a couple
        # of partitions, serializing the Arrow JW kernel
        .repartition(cand.sparkSession.sparkContext.defaultParallelism)
    )
    return (
        attached.withColumn("jw", F.round(_jw_udf("_ka", "_kb"), 6))
        .filter(F.col("jw") >= F.lit(t))
        .select(left_id, right_id, "jw")
    )
