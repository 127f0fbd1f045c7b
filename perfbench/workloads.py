"""Seeded workloads for the fit -> rank -> synthesize benchmark.

Each workload builds its inputs from the seed in ``prepare`` and then
exposes two forms of the same operation:

- ``op()``: the call sequence a user makes, with no tracing. It returns
  True only when the operation's output passes the workload's check.
- ``traced_op(tracer)``: the same work split into the public calls of
  each layer, every call under its own Spark job group
  ``<workload>:<layer>`` and timed by ``tracer``.

Inputs depend only on the seed: tables are generated by Spark's seeded
``rand``/``randn`` over a fixed partition count, and the text corpus by
a seeded numpy generator.
"""

from __future__ import annotations

import contextlib
import math

import numpy as np
from pyspark.sql import functions as F

from spark_bestfit_spark import DistributionFitter, FitterConfig, GaussianCopula
from spark_bestfit_spark.models.copula import spearman_correlation
from spark_bestfit_spark.operators.dedup import (
    clip_duplicate_spans,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
)
from spark_bestfit_spark.operators.histogram import compute_histograms_multi
from spark_bestfit_spark.operators.sampling import build_fitting_samples_multi
from spark_bestfit_spark.operators.stats import multi_column_stats
from spark_bestfit_spark.operators.textstats import tfidf_neardup_pairs

# Fixed partition count for generated tables: Spark's seeded rand/randn
# are deterministic for a given seed AND partitioning, so this must not
# follow the core count.
GEN_PARTITIONS = 8


class _NoTrace:
    """Tracer of the plain op: no job groups, nothing recorded."""

    @staticmethod
    def span(*_args, **_kwargs):
        return contextlib.nullcontext()

    @staticmethod
    def count(*_args):
        pass


NO_TRACE = _NoTrace()


def _close(a, b, rel=1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


def _same_fits(a: list, b: list) -> bool:
    """Two lists of (column, distribution, params) agree exactly up to
    float round-off."""
    if len(a) != len(b):
        return False
    for (ca, da, pa), (cb, db, pb) in zip(a, b):
        if ca != cb or da != db or len(pa) != len(pb):
            return False
        if not all(_close(x, y) for x, y in zip(pa, pb)):
            return False
    return True


def _fit_key(rows) -> list:
    return [
        (r.column_name, r.distribution, tuple(float(p) for p in r.parameters))
        for r in rows
    ]


class Workload:
    name = ""
    # source rows (or documents) one op consumes
    input_rows = 0

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self._first = None

    def prepare(self) -> None:
        """Generate and cache the inputs (part of set-up)."""
        raise NotImplementedError

    def release(self) -> None:
        """Drop what ``prepare`` cached, so it can run again."""

    def op(self) -> bool:
        raise NotImplementedError

    def traced_op(self, tracer) -> bool:
        raise NotImplementedError

    def _consistent(self, key) -> bool:
        """The first op's output is the reference for every later op."""
        if self._first is None:
            self._first = key
            return True
        return self._same(self._first, key)

    @staticmethod
    def _same(a, b) -> bool:
        return a == b


# ---------------------------------------------------------------- fitting
class _FitWorkload(Workload):
    """Shared traced path of the two fitting workloads: the prelude
    layers are called directly (their job counts are exact there), then
    ``fit()`` itself, the fan-out and the ranking calls."""

    columns: list = []
    distributions = None

    def _table(self):
        raise NotImplementedError

    def prepare(self) -> None:
        self.df = self._table().cache()
        self.df.count()
        self.fitter = DistributionFitter(self.spark)
        names = self.distributions or self.fitter.registry.get_distributions()
        self.pairs_attempted = len(names) * len(self.columns)

    def release(self) -> None:
        self.df.unpersist(blocking=True)

    def _fit(self):
        return self.fitter.fit(
            self.df, columns=self.columns, distributions=self.distributions
        )

    def _rank(self, res, tracer=NO_TRACE):
        raise NotImplementedError

    def _check(self, ranked) -> bool:
        raise NotImplementedError

    def op(self) -> bool:
        res = self._fit()
        try:
            return self._check(self._rank(res))
        finally:
            res.unpersist(blocking=True)

    def traced_op(self, tracer) -> bool:
        config = FitterConfig()
        with tracer.span("stats"):
            stats = multi_column_stats(self.df, self.columns)
        with tracer.span("histogram"):
            compute_histograms_multi(
                self.df, self.columns, stats, config.bins,
                config.use_rice_rule,
            )
        with tracer.span("sampling"):
            samples = build_fitting_samples_multi(
                self.df, self.columns, config,
                {c: int(stats[c]["count"]) for c in self.columns},
            )
        tracer.count("sampling.rows_collected",
                     sum(int(s.size) for s in samples.values()))
        with tracer.span("fitter", "prelude"):
            res = self._fit()
        try:
            # the fan-out keeps only fits with a finite SSE
            with tracer.span("fit", "fanout"):
                tracer.count("fit.rows", res.count())
            tracer.count("fit.pairs", self.pairs_attempted)
            return self._check(self._rank(res, tracer))
        finally:
            res.unpersist(blocking=True)


class FitScan(_FitWorkload):
    """Tall table, five differently shaped columns, a small list of
    distributions: the prelude scans dominate the op."""

    name = "fit_scan"
    rows = 1_000_000
    columns = ["c_norm", "c_lognorm", "c_gamma", "c_uniform", "c_sparse"]
    # An explicit short list rather than max_distributions=k: the
    # registry is alphabetical, so a prefix would leave out ``norm``,
    # which the check below needs.
    distributions = ["norm", "lognorm", "gamma", "uniform", "expon", "logistic"]
    input_rows = rows
    NORM_LOC, NORM_SCALE = 50.0, 10.0

    def _table(self):
        s = self.seed * 16
        u = F.rand(s + 5)
        return self.spark.range(0, self.rows, 1, GEN_PARTITIONS).select(
            (self.NORM_LOC + self.NORM_SCALE * F.randn(s)).alias("c_norm"),
            F.exp(0.5 * F.randn(s + 1)).alias("c_lognorm"),
            # Gamma(shape 2, scale 3) as a sum of two exponentials
            (-3.0 * (F.log(F.rand(s + 2)) + F.log(F.rand(s + 3)))).alias(
                "c_gamma"
            ),
            (10.0 * F.rand(s + 4)).alias("c_uniform"),
            # ~1% nulls and ~0.5% NaN on an otherwise normal column
            F.when(u < 0.01, F.lit(None).cast("double"))
            .when(u < 0.015, F.lit(float("nan")))
            .otherwise(5.0 + 2.0 * F.randn(s + 6))
            .alias("c_sparse"),
        )

    def _rank(self, res, tracer=NO_TRACE):
        with tracer.span("results", "best_per_column"):
            return res.best_per_column(len(self.distributions))

    def _check(self, ranked) -> bool:
        if sorted(ranked) != sorted(self.columns):
            return False
        norm = [r for r in ranked["c_norm"] if r.distribution == "norm"]
        if len(norm) != 1:
            return False
        loc, scale = norm[0].parameters[-2:]
        if abs(loc - self.NORM_LOC) > 0.05 * self.NORM_SCALE:
            return False
        if abs(scale - self.NORM_SCALE) > 0.05 * self.NORM_SCALE:
            return False
        best = _fit_key(ranked[c][0] for c in sorted(ranked))
        return self._consistent(best)

    _same = staticmethod(_same_fits)


class FitRegistry(_FitWorkload):
    """One column, the full default registry: the kernel fan-out and
    the ranking dominate, the scans are tiny."""

    name = "fit_registry"
    rows = 100_000
    input_rows = rows
    columns = ["x"]
    # Fits with a finite SSE, out of the 91 default distributions; the
    # seeded gamma-like column fits all but a few.
    MIN_OK_FITS = 80

    def _table(self):
        s = self.seed * 16
        return self.spark.range(0, self.rows, 1, GEN_PARTITIONS).select(
            (
                1.0 - 2.0 * (F.log(F.rand(s)) + F.log(F.rand(s + 1))
                             + F.log(F.rand(s + 2)))
            ).alias("x"),
        )

    def _rank(self, res, tracer=NO_TRACE):
        with tracer.span("results", "best"):
            top = res.best(5)
        with tracer.span("results", "quality_report"):
            report = res.quality_report()
        return top, report

    def _check(self, ranked) -> bool:
        top, report = ranked
        n_fits = report["summary"]["n_fits"]
        if len(top) != 5 or n_fits < self.MIN_OK_FITS:
            return False
        if any(not np.isfinite(r.sse) for r in top):
            return False
        if [r.sse for r in top] != sorted(r.sse for r in top):
            return False
        return self._consistent((_fit_key(top), n_fits, report["n_acceptable"]))

    @staticmethod
    def _same(a, b) -> bool:
        return _same_fits(a[0], b[0]) and a[1:] == b[1:]


# ------------------------------------------------------------- synthesis
def _marginals_key(copula) -> dict:
    return {c: (m.distribution, tuple(m.parameters))
            for c, m in copula.marginals.items()}


class Synth(Workload):
    """Fit marginals, fit a Gaussian copula, generate correlated rows:
    the only workload where the copula and generate layers work."""

    name = "synth"
    rows = 20_000
    input_rows = rows
    gen_rows = 1_000_000
    columns = ["s_base", "s_mono", "s_indep"]
    distributions = ["lognorm", "gamma", "expon", "weibull_min"]
    # Every column is positive; fitting with [0, UPPER] makes every
    # marginal a truncated (bounded) one whose samples must stay inside.
    LOWER, UPPER = 0.0, 1000.0
    SPEARMAN_TOL = 0.05
    CHECK_ROWS = 20_000

    def prepare(self) -> None:
        s = self.seed * 16
        base = F.exp(0.4 * F.randn(s))
        self.df = (
            self.spark.range(0, self.rows, 1, GEN_PARTITIONS)
            .select(
                base.alias("s_base"),
                (-2.0 * F.log(F.rand(s + 1))).alias("_e"),
                (-1.5 * (F.log(F.rand(s + 2)) + F.log(F.rand(s + 3)))).alias(
                    "s_indep"
                ),
            )
            # monotone link plus noise: rank-correlated, not linear
            .withColumn("s_mono", F.pow("s_base", 2.0) + 0.3 * F.col("_e"))
            .select(*self.columns)
            .cache()
        )
        self.df.count()
        self.fitter = DistributionFitter(self.spark)
        self.pairs_attempted = len(self.distributions) * len(self.columns)

    def release(self) -> None:
        self.df.unpersist(blocking=True)

    def _fit(self):
        return self.fitter.fit(
            self.df, columns=self.columns, distributions=self.distributions,
            lower_bound=self.LOWER, upper_bound=self.UPPER,
        )

    def _generate_and_check(self, copula) -> bool:
        """One pass over the generated rows: count, per-column range and
        a ~CHECK_ROWS row sample, picked by row hash (an aggregate
        takes no random expression), for the rank correlation."""
        gen = copula.sample_distributed(
            self.spark, self.gen_rows, seed=self.seed
        )
        aggs = [F.count("*").alias("n")]
        for c in self.columns:
            aggs += [F.min(c).alias(f"{c}_lo"), F.max(c).alias(f"{c}_hi")]
        keep = F.abs(F.xxhash64(*self.columns)) % (
            self.gen_rows // self.CHECK_ROWS
        ) == 0
        aggs.append(F.collect_list(
            F.when(keep, F.array(*self.columns))
        ).alias("sample"))
        row = gen.agg(*aggs).first()
        if row["n"] != self.gen_rows:
            return False
        for c in self.columns:
            m = copula.marginals[c]
            lo = m.lower_bound if m.lower_bound is not None else -np.inf
            hi = m.upper_bound if m.upper_bound is not None else np.inf
            if not (lo <= row[f"{c}_lo"] and row[f"{c}_hi"] <= hi):
                return False
        sample = np.asarray(row["sample"], dtype=np.float64)
        ranks = np.argsort(np.argsort(sample, axis=0), axis=0)
        observed = np.corrcoef(ranks, rowvar=False)
        return bool(
            np.max(np.abs(observed - copula.correlation)) <= self.SPEARMAN_TOL
        )

    def op(self) -> bool:
        res = self._fit()
        try:
            copula = GaussianCopula.fit(res, self.df, self.columns)
            ok = self._generate_and_check(copula)
        finally:
            res.unpersist(blocking=True)
        return ok and self._consistent(_marginals_key(copula))

    def traced_op(self, tracer) -> bool:
        with tracer.span("fitter", "prelude"):
            res = self._fit()
        try:
            with tracer.span("fit", "fanout"):
                tracer.count("fit.rows", res.count())
            tracer.count("fit.pairs", self.pairs_attempted)
            # GaussianCopula.fit is exactly these two public steps
            with tracer.span("copula", "marginals"):
                marginals = {
                    c: res.for_column(c).best(1) for c in self.columns
                }
            with tracer.span("copula", "spearman"):
                corr = spearman_correlation(self.df, self.columns)
            copula = GaussianCopula.from_dict({
                "column_names": self.columns,
                "marginals": {
                    c: {
                        "distribution": b.distribution,
                        "parameters": list(b.parameters),
                        "lower_bound": b.lower_bound,
                        "upper_bound": b.upper_bound,
                    }
                    for c, b in marginals.items()
                },
                "correlation": corr.tolist(),
            })
            with tracer.span("generate", "sample"):
                ok = self._generate_and_check(copula)
            tracer.count("generate.rows", self.gen_rows)
        finally:
            res.unpersist(blocking=True)
        return ok and self._consistent(_marginals_key(copula))

    @staticmethod
    def _same(a, b) -> bool:
        return a.keys() == b.keys() and all(
            a[c][0] == b[c][0] and all(map(_close, a[c][1], b[c][1]))
            for c in a
        )


# ------------------------------------------------------------ text dedup
def make_corpus(seed: int, n_docs: int, n_families: int, words: int):
    """Seeded corpus with planted near-duplicate families.

    Documents draw ``words`` tokens from a Zipf-like vocabulary, so
    unrelated documents share no 3-word shingle in practice. Each family
    is a base document plus one variant, so no bucket or posting list
    grows with the corpus. Half the variants change only case and
    spacing: their shingle sets equal the base's (Jaccard 1), so LSH
    must pair them. The other half append one word (Jaccard
    (w-2)/(w-1)); MinHash LSH may miss such a pair.

    Returns (rows, exact, near): rows = [(doc_id, text)]; exact and
    near are the sorted planted (id_a, id_b) pairs, id_a < id_b.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(20_000)])
    weights = 1.0 / np.arange(1, vocab.size + 1) ** 1.05
    weights /= weights.sum()
    n_base = n_docs - n_families
    bodies = [list(b) for b in rng.choice(vocab, size=(n_base, words), p=weights)]
    rows = [(i, " ".join(b)) for i, b in enumerate(bodies)]
    exact, near = [], []
    sources = rng.choice(n_base, size=n_families, replace=False)
    for j, src in enumerate(sources):
        doc_id = n_base + j
        body = bodies[src]
        if j % 2 == 0:
            text = "  ".join(w.upper() if k % 7 == 0 else w
                             for k, w in enumerate(body))
            exact.append((int(src), doc_id))
        else:
            text = " ".join(body + [str(rng.choice(vocab))])
            near.append((int(src), doc_id))
        rows.append((doc_id, text))
    order = rng.permutation(len(rows))
    return [rows[i] for i in order], sorted(exact), sorted(near)


class TextDedup(Workload):
    """MinHash near-duplicate pairs and duplicate-span clipping over a
    corpus with bounded planted families: the only workload for the
    dedup and textstats layers. TF-IDF near-duplicate pairs run in the
    traced op only, outside the op's timing (see README.md)."""

    name = "text_dedup"
    n_docs = 2_000
    n_families = 100
    words = 120
    input_rows = n_docs
    THRESHOLD = 0.7

    def prepare(self) -> None:
        rows, self.exact, near = make_corpus(
            self.seed, self.n_docs, self.n_families, self.words
        )
        self.planted = set(self.exact) | set(near)
        sc = self.spark.sparkContext
        self.docs = (
            self.spark.createDataFrame(rows, "doc_id long, text string")
            .repartition(sc.defaultParallelism)
            .cache()
        )
        self.docs.count()

    def release(self) -> None:
        self.docs.unpersist(blocking=True)

    def _minhash(self):
        return minhash_dedup_pairs(self.docs, threshold=self.THRESHOLD).collect()

    def _clip(self):
        return clip_duplicate_spans(self.docs).agg(
            F.sum("n_removed").alias("removed"),
            F.sum(F.when(F.col("n_removed") > 0, 1).otherwise(0)).alias("docs"),
        ).first()

    def _recovered(self, pairs) -> bool:
        """Every case/spacing variant is paired with its base, and every
        pair found is a planted one."""
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        return set(self.exact) <= found <= self.planted

    def _check(self, pairs, clipped) -> bool:
        if not self._recovered(pairs):
            return False
        # every family member shares long spans with its twin, so all of
        # them are clipped
        if clipped["docs"] < 2 * len(self.planted):
            return False
        return self._consistent(
            (len(pairs), clipped["removed"], clipped["docs"])
        )

    def op(self) -> bool:
        return self._check(self._minhash(), self._clip())

    def traced_op(self, tracer) -> bool:
        with tracer.span("dedup", "minhash"):
            pairs = self._minhash()
        with tracer.span("dedup", "clip"):
            clipped = self._clip()
        with tracer.span("textstats", "tfidf", extra=True):
            tfidf = tfidf_neardup_pairs(
                self.docs, threshold=0.9, candidates="prefix"
            ).collect()
        # candidate count through the public LSH stages, outside any
        # layer's job group so it does not inflate the layer totals
        with tracer.span(None, "candidates", extra=True):
            n_cand = minhash_lsh_candidates(
                minhash_signatures(self.docs)
            ).count()
        tracer.count("dedup.candidate_pairs", n_cand)
        tracer.count("dedup.verified_pairs", len(pairs))
        return self._check(pairs, clipped) and self._recovered(tfidf)


WORKLOADS = {w.name: w for w in (FitScan, FitRegistry, Synth, TextDedup)}
