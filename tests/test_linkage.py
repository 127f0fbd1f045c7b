"""fuzzy_join: lossless PassJoin segment-blocked edit-distance join.

The load-bearing property is EXACTNESS: the blocked join must return
precisely the pairs a brute-force cross join + levenshtein filter
returns, for every max_dist — losslessness of the segment blocking is
the whole contract (the oracle_sql twin re-checks it against DuckDB's
levenshtein at sf0.01).
"""

import random

import pyspark.sql.functions as F
import pytest

from spark_bestfit_spark.operators.linkage import fuzzy_join


def _brute(df_a, df_b, d, self_join):
    a, b = df_a.alias("a"), df_b.alias("b")
    cond = (
        F.col("a.id") < F.col("b.id")
        if self_join
        else F.lit(True)
    )
    return {
        (r.id_l, r.id_r, r.dist)
        for r in a.crossJoin(b)
        .filter(cond)
        .select(
            F.col("a.id").alias("id_l"),
            F.col("b.id").alias("id_r"),
            F.levenshtein("a.name", "b.name").alias("dist"),
        )
        .filter(F.col("dist") <= d)
        .collect()
    }


def _corpus(spark, seed, n, alphabet, max_len):
    rng = random.Random(seed)
    rows = [
        (
            i,
            "".join(
                rng.choice(alphabet)
                for _ in range(rng.randint(0, max_len))
            ),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, name string")


class TestFuzzyJoinExactness:
    @pytest.mark.parametrize("d", [1, 2, 3])
    def test_self_join_matches_brute_force(self, spark, d):
        # tiny alphabet maximizes near-collisions, lengths 0..12
        # cover segments shorter than max_dist + 1 and empty strings
        df = _corpus(spark, seed=101 + d, n=100, alphabet="ab", max_len=12)
        got = {
            (r.id_l, r.id_r, r.dist)
            for r in fuzzy_join(df, df, "name", "name", "id", "id", d)
            .filter("id_l < id_r")
            .collect()
        }
        assert got == _brute(df, df, d, self_join=True)

    def test_two_table_join_matches_brute_force(self, spark):
        left = _corpus(spark, seed=7, n=80, alphabet="abc", max_len=10)
        right = _corpus(spark, seed=8, n=60, alphabet="abc", max_len=10)
        got = {
            (r.id_l, r.id_r, r.dist)
            for r in fuzzy_join(
                left, right, "name", "name", "id", "id", 2
            ).collect()
        }
        assert got == _brute(left, right, 2, self_join=False)

    def test_variable_length_words(self, spark):
        # realistic key shapes: shared vocabulary, varied lengths
        words = ["red", "green", "navy", "small", "widget", "ring"]
        rng = random.Random(3)
        rows = [
            (i, " ".join(rng.sample(words, rng.randint(1, 3))))
            for i in range(90)
        ]
        df = spark.createDataFrame(rows, "id long, name string")
        got = {
            (r.id_l, r.id_r, r.dist)
            for r in fuzzy_join(df, df, "name", "name", "id", "id", 3)
            .filter("id_l < id_r")
            .collect()
        }
        assert got == _brute(df, df, 3, self_join=True)


class TestFuzzyJoinEdges:
    def test_exact_duplicates_surface_at_distance_zero(self, spark):
        df = spark.createDataFrame(
            [(1, "same"), (2, "same"), (3, "other")],
            "id long, name string",
        )
        rows = {
            (r.id_l, r.id_r, r.dist)
            for r in fuzzy_join(df, df, "name", "name", "id", "id", 1)
            .filter("id_l < id_r")
            .collect()
        }
        assert (1, 2, 0) in rows
        assert all(p[:2] == (1, 2) for p in rows)

    def test_null_keys_never_match(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, None), (3, "x")], "id long, name string"
        )
        out = fuzzy_join(df, df, "name", "name", "id", "id", 2).filter(
            "id_l < id_r"
        )
        assert out.count() == 0

    def test_empty_and_short_strings(self, spark):
        df = spark.createDataFrame(
            [(1, ""), (2, "a"), (3, "ab"), (4, "xyz")],
            "id long, name string",
        )
        got = {
            (r.id_l, r.id_r, r.dist)
            for r in fuzzy_join(df, df, "name", "name", "id", "id", 2)
            .filter("id_l < id_r")
            .collect()
        }
        assert got == _brute(df, df, 2, self_join=True)

    def test_rejects_nonpositive_max_dist(self, spark):
        df = spark.createDataFrame([(1, "a")], "id long, name string")
        with pytest.raises(ValueError, match="max_dist"):
            fuzzy_join(df, df, "name", "name", "id", "id", 0)

    def test_deterministic_across_runs(self, spark):
        df = _corpus(spark, seed=55, n=70, alphabet="ab", max_len=8)
        j = lambda: sorted(
            map(
                tuple,
                fuzzy_join(df, df, "name", "name", "id", "id", 2)
                .filter("id_l < id_r")
                .collect(),
            )
        )
        assert j() == j()


class TestFuzzyJoinAnsi:
    def test_identical_under_ansi_mode(self, spark):
        """The engine's standing ANSI pin: no arithmetic in the
        blocking (floor/mod on lengths, sequence bounds) may change
        results or raise under spark.sql.ansi.enabled."""
        df = _corpus(spark, seed=99, n=60, alphabet="ab", max_len=9)

        def run():
            return sorted(
                map(
                    tuple,
                    fuzzy_join(df, df, "name", "name", "id", "id", 2)
                    .filter("id_l < id_r")
                    .collect(),
                )
            )

        before = run()
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            after = run()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", "false")
        assert before == after


class TestSetSimilarityJoin:
    @staticmethod
    def _brute_jaccard(la, lb, t):
        out = set()
        for ia, ta in la:
            sa = set(ta.lower().split())
            for ib, tb in lb:
                sb = set(tb.lower().split())
                j = len(sa & sb) / len(sa | sb)
                if round(j, 6) >= t:
                    out.add((ia, ib, round(j, 6)))
        return out

    def _corpora(self, seed=0, n=60, vocab=40):
        rng = random.Random(seed)
        words = [f"w{i}" for i in range(vocab)]

        def mk(n, base):
            rows = []
            for i in range(n):
                k = rng.randint(3, 12)
                rows.append((base + i, " ".join(rng.sample(words, k))))
            # plant near-duplicates across the two id ranges
            return rows
        la = mk(n, 0)
        lb = mk(n, 1000)
        for i in range(8):  # planted high-jaccard pairs
            toks = la[i][1].split()
            drop = toks[:-1] if len(toks) > 3 else toks
            lb[i] = (1000 + i, " ".join(drop))
        return la, lb

    def test_lossless_against_brute_force(self, spark):
        from spark_bestfit_spark.operators.linkage import (
            set_similarity_join,
        )

        la, lb = self._corpora()
        left = spark.createDataFrame(la, "id_l bigint, ta string")
        right = spark.createDataFrame(lb, "id_r bigint, tb string")
        for t in (0.5, 0.7, 0.9):
            got = {
                (r.id_l, r.id_r, r.jaccard)
                for r in set_similarity_join(
                    left, right, "ta", "tb", "id_l", "id_r", t
                ).collect()
            }
            assert got == self._brute_jaccard(la, lb, t), t

    def test_max_posting_is_subset_and_validation(self, spark):
        from spark_bestfit_spark.operators.linkage import (
            set_similarity_join,
        )

        la, lb = self._corpora(seed=3)
        left = spark.createDataFrame(la, "id_l bigint, ta string")
        right = spark.createDataFrame(lb, "id_r bigint, tb string")
        full = {
            (r.id_l, r.id_r)
            for r in set_similarity_join(
                left, right, "ta", "tb", "id_l", "id_r", 0.6
            ).collect()
        }
        capped = {
            (r.id_l, r.id_r)
            for r in set_similarity_join(
                left, right, "ta", "tb", "id_l", "id_r", 0.6,
                max_posting=2,
            ).collect()
        }
        assert capped <= full
        with pytest.raises(ValueError, match="threshold"):
            set_similarity_join(
                left, right, "ta", "tb", "id_l", "id_r", 0.0
            )
        with pytest.raises(ValueError, match="max_posting"):
            set_similarity_join(
                left, right, "ta", "tb", "id_l", "id_r", 0.5,
                max_posting=0,
            )

    def test_verify_never_cartesian_or_forced_broadcast(self, spark):
        """The verify stage must never degenerate to a cartesian
        product, and must NOT force-broadcast the candidate relation:
        candidates carry token arrays once joined, and a forced
        broadcast OOMs the driver when the candidate volume grows
        with the data (observed at sf1). Strategy is left to AQE's
        runtime sizing, so the static plan shows plain joins."""
        from spark_bestfit_spark.operators.linkage import (
            set_similarity_join,
        )

        left = spark.createDataFrame(
            [(1, "a b c")], "id_l bigint, ta string"
        )
        right = spark.createDataFrame(
            [(2, "a b c")], "id_r bigint, tb string"
        )
        df = set_similarity_join(
            left, right, "ta", "tb", "id_l", "id_r", 0.8
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        logical = df._jdf.queryExecution().logical().toString()
        # no UnresolvedHint/ResolvedHint forcing broadcast on the
        # candidate verify joins
        assert "hint" not in logical.lower(), logical


class TestResolveEntities:
    def test_transitive_merge_and_singletons(self, spark):
        from spark_bestfit_spark.operators.linkage import resolve_entities

        rows = [
            (1, "acme corp"),
            (2, "acme gorp"),   # 1 edit from #1
            (3, "acme gorps"),  # 1 edit from #2, 2 edits from #1
            (4, "zzz totally different"),
        ]
        df = spark.createDataFrame(rows, "id bigint, name string")
        got = {
            r.id: (r.entity_id, r.entity_size)
            for r in resolve_entities(df, "name", "id", 1).collect()
        }
        # a~b, b~c -> one entity rooted at the smallest id, despite
        # edit(1, 3) = 2 > max_dist
        assert got[1] == (1, 3) and got[2] == (1, 3) and got[3] == (1, 3)
        assert got[4] == (4, 1)  # singleton survives as its own entity

    def test_injected_pairs_path(self, spark):
        import pyspark.sql.functions as F

        from spark_bestfit_spark.operators.linkage import resolve_entities

        df = spark.createDataFrame(
            [(i, f"r{i}") for i in range(5)], "id bigint, name string"
        )
        pairs = spark.createDataFrame(
            [(0, 3), (3, 4)], "id_l bigint, id_r bigint"
        )
        got = {
            r.id: r.entity_id
            for r in resolve_entities(
                df, "name", "id", pairs=pairs
            ).collect()
        }
        assert got == {0: 0, 3: 0, 4: 0, 1: 1, 2: 2}


class TestCanonicalKey:
    def test_reordered_and_punctuated_names_collapse(self, spark):
        from spark_bestfit_spark.operators.linkage import canonical_key

        rows = [
            (1, "Smith, John"),
            (2, "john  SMITH!"),
            (3, "Acme Corp, Inc."),
            (4, "ACME CORP"),
            (5, "totally different"),
        ]
        df = spark.createDataFrame(rows, "id bigint, name string")
        got = {
            r.id: r.name_key
            for r in canonical_key(
                df, "name", drop_tokens=["inc", "llc"]
            ).collect()
        }
        assert got[1] == got[2] == "john smith"
        assert got[3] == got[4] == "acme corp"
        assert got[5] == "different totally"

    def test_empty_and_symbol_only(self, spark):
        from spark_bestfit_spark.operators.linkage import canonical_key

        df = spark.createDataFrame(
            [(1, ""), (2, "?!#"), (3, None)], "id bigint, name string"
        )
        got = {r.id: r.name_key for r in canonical_key(df, "name").collect()}
        assert got[1] == "" and got[2] == ""
        assert got[3] is None


# ---------------------------------------------------------------------------
# jaro_winkler_join: DuckDB-pinned kernel + lossless prefix blocking
# ---------------------------------------------------------------------------

from spark_bestfit_spark.operators.linkage import (  # noqa: E402
    _jaro_winkler,
    jaro_winkler_join,
)


class TestJaroWinklerKernel:
    def test_pinned_textbook_values(self):
        # Winkler's own examples, matching DuckDB to the last digit
        assert round(_jaro_winkler("martha", "marhta"), 6) == 0.961111
        assert round(_jaro_winkler("dwayne", "duane"), 6) == 0.84
        assert round(_jaro_winkler("dixon", "dicksonx"), 6) == 0.813333

    def test_edges_match_duckdb_convention(self):
        assert _jaro_winkler("abc", "abc") == 1.0
        assert _jaro_winkler("", "abc") == 0.0
        assert _jaro_winkler("abc", "") == 0.0
        # DuckDB scores BOTH-empty 0, not 1 — pinned by fuzz
        assert _jaro_winkler("", "") == 0.0
        assert _jaro_winkler("a", "a") == 1.0
        assert _jaro_winkler("a", "b") == 0.0

    def test_boost_gate_at_070(self):
        # shared prefix but jaro <= 0.7: Winkler boost must NOT apply
        import itertools
        import random

        rng = random.Random(5)
        found = 0
        for _ in range(500):
            a = "ab" + "".join(rng.choice("cdef") for _ in range(6))
            b = "ab" + "".join(rng.choice("ghij") for _ in range(6))
            base = _jaro_winkler(a, b)
            # recompute raw jaro by stripping any boost algebraically:
            # if boost applied, jw = j + l*0.1*(1-j) > j > 0.7
            if base <= 0.7:
                found += 1
        assert found > 0  # gate actually exercised

    def test_fuzz_against_duckdb(self):
        import random

        duckdb = pytest.importorskip("duckdb")
        con = duckdb.connect()
        rng = random.Random(11)
        for _ in range(400):
            a = "".join(
                rng.choice("abcde") for _ in range(rng.randint(0, 10))
            )
            b = "".join(
                rng.choice("abcde") for _ in range(rng.randint(0, 10))
            )
            want = con.execute(
                "SELECT jaro_winkler_similarity(?, ?)", [a, b]
            ).fetchone()[0]
            assert abs(_jaro_winkler(a, b) - want) < 1e-12, (a, b)
        con.close()

    def test_batch_kernel_exactly_matches_scalar(self):
        # the vectorized Arrow-batch kernel must be float-for-float
        # IDENTICAL to the pinned scalar kernel (== on the raw
        # float64, no tolerance): dense-collision alphabets, window
        # edge lengths, unicode past Latin-1 (kills the uint8 fast
        # path), repetitive strings, empties
        import random

        from spark_bestfit_spark.operators.linkage import (
            _jaro_winkler_batch,
        )

        rng = random.Random(29)
        regimes = [
            ("ab", 12),
            ("abc", 20),
            ("abcdefgh", 40),
            ("abcdefghijklmnopqrstuvwxyz ", 45),
            ("abé中\U0001f600", 25),
            ("aaab", 60),
            ("ab\xff\x01", 30),
            ("ab\x00", 30),  # NUL must not read as padding
        ]
        a, b = [], []
        for alphabet, maxlen in regimes:
            for _ in range(3000):
                a.append(
                    "".join(
                        rng.choice(alphabet)
                        for _ in range(rng.randint(0, maxlen))
                    )
                )
                b.append(
                    "".join(
                        rng.choice(alphabet)
                        for _ in range(rng.randint(0, maxlen))
                    )
                )
        for x, y in [
            ("", ""), ("", "abc"), ("abc", ""), ("a", "a"), ("a", "b"),
            ("martha", "marhta"), ("dwayne", "duane"),
            ("dixon", "dicksonx"), ("aaaa", "aaaa"), ("ab", "ba"),
            ("x" * 80, "x" * 80), ("\x00a", "a\x00"), ("Ā", "ÿ"),
            # NUL in a SHARED prefix with j > 0.7 — the padding-vs-NUL
            # regression case (Winkler boost must count the NUL)
            ("\x00ab", "\x00ax"), ("\x00\x00abc", "\x00\x00abd"),
            ("a\x00bc", "a\x00bd"),
        ]:
            a.append(x)
            b.append(y)
        got = _jaro_winkler_batch(a, b, chunk=1024)
        for i in range(len(a)):
            assert got[i] == _jaro_winkler(a[i], b[i]), (a[i], b[i])
        # the no-match and empty pairs (empty vs a NUL-bearing string
        # matches padding, so it divides by a zero length) must score
        # without leaking a numpy RuntimeWarning
        import warnings

        ea = ["", "", "abc", "a", "ab", "", ""]
        eb = ["", "abc", "", "b", "cd", "\x00b", "b\x00a"]
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            edge = _jaro_winkler_batch(ea, eb)
        assert edge.tolist() == [_jaro_winkler(x, y) for x, y in zip(ea, eb)]


class TestJaroWinklerJoin:
    def _brute_pairs(self, rows, t):
        out = {}
        for i, a in rows:
            for j, b in rows:
                if i < j:
                    s = round(
                        _jaro_winkler(a.lower().strip(), b.lower().strip()),
                        6,
                    )
                    if s >= t:
                        out[(i, j)] = s
        return out

    @pytest.mark.parametrize("threshold", [0.8, 0.9])
    def test_lossless_vs_brute_force(self, spark, threshold):
        rng = random.Random(23)
        rows = [
            (
                i,
                "".join(
                    rng.choice("abcdef ")
                    for _ in range(rng.randint(3, 14))
                ),
            )
            for i in range(120)
        ]
        df = spark.createDataFrame(rows, "id long, name string")
        a = df.select(
            F.col("id").alias("id_l"), F.col("name").alias("na")
        )
        b = df.select(
            F.col("id").alias("id_r"), F.col("name").alias("nb")
        )
        got = {
            (r.id_l, r.id_r): r.jw
            for r in jaro_winkler_join(
                a, b, "na", "nb", "id_l", "id_r", threshold,
                allow_dense=True,
            )
            .filter(F.col("id_l") < F.col("id_r"))
            .collect()
        }
        want = self._brute_pairs(rows, threshold)
        assert got == want

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "x")], "id long, name string")
        with pytest.raises(ValueError):
            jaro_winkler_join(
                df, df, "name", "name", "id", "id", 0.0, allow_dense=True
            )
        with pytest.raises(ValueError):
            jaro_winkler_join(
                df, df, "name", "name", "id", "id", 0.9, max_posting=0,
                allow_dense=True,
            )

    def test_unblocked_requires_optin(self, spark):
        # SAFE BY DEFAULT: the unblocked mode is quadratic-dense on
        # natural text (measured ~16% of all pairs pass the lossless
        # multiset bound at t=0.9), so it must refuse to run without
        # an explicit cap or opt-in.
        df = spark.createDataFrame([(1, "x")], "id long, name string")
        with pytest.raises(ValueError, match="allow_dense"):
            jaro_winkler_join(df, df, "name", "name", "id", "id", 0.9)
        with pytest.raises(ValueError):
            jaro_winkler_join(
                df, df, "name", "name", "id", "id", 0.9, max_candidates=0
            )

    def test_max_candidates_trips_loudly(self, spark):
        # 30 identical keys -> C(30,2)*2 + 30 ordered candidate pairs,
        # far above a cap of 10: the guard must raise, not truncate.
        rows = [(i, "samekey") for i in range(30)]
        df = spark.createDataFrame(rows, "id long, name string")
        a = df.select(F.col("id").alias("id_l"), F.col("name").alias("na"))
        b = df.select(F.col("id").alias("id_r"), F.col("name").alias("nb"))
        with pytest.raises(RuntimeError, match="max_candidates"):
            jaro_winkler_join(
                a, b, "na", "nb", "id_l", "id_r", 0.9, max_candidates=10
            ).collect()
        # under the cap the same call answers exactly
        got = {
            (r.id_l, r.id_r)
            for r in jaro_winkler_join(
                a, b, "na", "nb", "id_l", "id_r", 0.9,
                max_candidates=10_000,
            )
            .filter(F.col("id_l") < F.col("id_r"))
            .collect()
        }
        assert got == {(i, j) for i in range(30) for j in range(30) if i < j}

    def test_blocked_max_candidates_guards_giant_blocks(self, spark):
        rows = [(i, "samekey", "b0") for i in range(30)]
        df = spark.createDataFrame(rows, "id long, name string, blk string")
        a = df.select(
            F.col("id").alias("id_l"),
            F.col("name").alias("na"),
            F.col("blk").alias("ba"),
        )
        b = df.select(
            F.col("id").alias("id_r"),
            F.col("name").alias("nb"),
            F.col("blk").alias("bb"),
        )
        with pytest.raises(RuntimeError, match="max_candidates"):
            jaro_winkler_join(
                a, b, "na", "nb", "id_l", "id_r", 0.9,
                left_block="ba", right_block="bb", max_candidates=10,
            ).collect()

    def test_empty_and_null_keys_never_match(self, spark):
        df = spark.createDataFrame(
            [(1, ""), (2, None), (3, "abc"), (4, "abc")],
            "id long, name string",
        )
        a = df.select(F.col("id").alias("id_l"), F.col("name").alias("na"))
        b = df.select(F.col("id").alias("id_r"), F.col("name").alias("nb"))
        got = {
            (r.id_l, r.id_r)
            for r in jaro_winkler_join(
                a, b, "na", "nb", "id_l", "id_r", 0.9, allow_dense=True
            )
            .filter(F.col("id_l") < F.col("id_r"))
            .collect()
        }
        assert got == {(3, 4)}

    def test_blocked_mode_exact_within_blocks(self, spark):
        rng = random.Random(41)
        rows = [
            (
                i,
                "".join(rng.choice("abcd") for _ in range(rng.randint(4, 10))),
                rng.choice(["x", "y", "z"]),
            )
            for i in range(150)
        ]
        df = spark.createDataFrame(rows, "id long, name string, blk string")
        a = df.select(
            F.col("id").alias("id_l"),
            F.col("name").alias("na"),
            F.col("blk").alias("ba"),
        )
        b = df.select(
            F.col("id").alias("id_r"),
            F.col("name").alias("nb"),
            F.col("blk").alias("bb"),
        )
        got = {
            (r.id_l, r.id_r): r.jw
            for r in jaro_winkler_join(
                a, b, "na", "nb", "id_l", "id_r", 0.85,
                left_block="ba", right_block="bb",
            )
            .filter(F.col("id_l") < F.col("id_r"))
            .collect()
        }
        want = {}
        for i, na, ba in rows:
            for j, nb, bb in rows:
                if i < j and ba == bb:
                    s = round(_jaro_winkler(na, nb), 6)
                    if s >= 0.85:
                        want[(i, j)] = s
        assert got == want

    def test_blocked_mode_validation(self, spark):
        df = spark.createDataFrame(
            [(1, "x", "b")], "id long, name string, blk string"
        )
        with pytest.raises(ValueError):
            jaro_winkler_join(
                df, df, "name", "name", "id", "id", 0.9, left_block="blk"
            )
