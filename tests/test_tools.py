"""Pins tools/compare_bench.py against the two real payload formats:
the driver's BENCH_r{N}.json wrapper (headline embedded in a truncated
``tail`` string) and the full sidecar/stdout shape with a top-level
``queries`` map."""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import compare_bench  # noqa: E402


def test_loads_sidecar_shape(tmp_path):
    p = tmp_path / "s.json"
    p.write_text(json.dumps(
        {"metric": "headline_total", "queries": {"q_a": 1.5, "q_b": 0.25}}
    ))
    assert compare_bench.load_queries(str(p)) == {"q_a": 1.5, "q_b": 0.25}


def test_loads_driver_wrapper_with_truncated_tail(tmp_path):
    headline = json.dumps(
        {"metric": "headline_total", "value": 2.0, "queries": {"q_x": 2.0}},
        separators=(",", ":"),
    )
    # tail truncated at the START (mid-object garbage), never the end;
    # the full payload line ALSO contains a {"metric" prefix — rfind
    # must pick the final compact headline
    wrapper = {
        "n": 9, "rc": 0,
        "tail": 'jobs": 3}}\n{"metric": "headline_total", "queries": '
                '{"q_old": 9.9}, "detail": {}}\n' + headline + "\n",
    }
    p = tmp_path / "w.json"
    p.write_text(json.dumps(wrapper))
    assert compare_bench.load_queries(str(p)) == {"q_x": 2.0}


def test_loads_real_round_files():
    got = compare_bench.load_queries(os.path.join(REPO, "BENCH_r08.json"))
    assert got.get("q_two_sample_ks_sf1") == 2.075
    assert len(got) >= 60


def test_check_oracle_rejects_unknown_query_names():
    """A mistyped query name must hard-fail BEFORE any Spark session
    starts — never report a vacuous ALL GREEN over zero executed
    queries (the guard fires pre-get_spark, so this test is
    instant)."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
         "definitely_not_a_query"],
        capture_output=True, text=True, timeout=120, cwd=REPO,
    )
    assert proc.returncode == 1
    assert "unknown query name" in proc.stdout


def test_invariance_sweep_always_includes_generation_queries():
    """The partition-layout sweep must re-prove per-partition-seed
    generator determinism on EVERY targeted run: the resolved query
    list appends the pinned-seed generation queries to any explicit
    selection (r9 verdict task 7 — structural, not by convention)."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "invariance_sweep.py"),
         "--list", "histogram_price"],
        capture_output=True, text=True, timeout=60, cwd=REPO,
    )
    assert proc.returncode == 0
    got = proc.stdout.split()
    assert got[0] == "histogram_price"
    for q in ("generate_univariate", "copula_sample", "gmm_fit"):
        assert q in got
    # full-registry mode (no selection) stays full-registry
    proc2 = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "invariance_sweep.py"),
         "--list"],
        capture_output=True, text=True, timeout=60, cwd=REPO,
    )
    assert "<full registry>" in proc2.stdout


def test_slow_manifest_guard_flags_only_wholly_collected_files():
    """tests/conftest.py fails collection on a manifest node id that no
    longer names a collected test — but only in files collected whole,
    since a ``file::test`` selection collects the rest of the file out."""
    from conftest import _stale_manifest_entries

    manifest = {
        "tests/a.py::T::test_kept",
        "tests/a.py::T::test_renamed",
        "tests/b.py::test_other_in_partial_file",
        "tests/c.py::test_in_uncollected_file",
    }
    collected = ["tests/a.py::T::test_kept", "tests/b.py::test_one"]
    assert _stale_manifest_entries(manifest, collected, set()) == [
        "tests/a.py::T::test_renamed",
        "tests/b.py::test_other_in_partial_file",
    ]
    assert _stale_manifest_entries(manifest, collected, {"tests/b.py"}) == [
        "tests/a.py::T::test_renamed",
    ]


def test_fit_digest_scenario_is_stable_and_row_sensitive(spark):
    """tools/fit_digest.py: one scenario digests to the same sha256 on
    a rerun, dropping a result row changes it, and an unknown scenario
    name fails before any fit runs."""
    import fit_digest

    fit = fit_digest.SCENARIOS["discrete_2_names"]
    res = fit(spark)
    first = fit_digest.digest(res)
    assert len(first) == 64
    assert fit_digest.digest(fit(spark)) == first
    assert fit_digest.digest(res._view(res._rows[1:])) != first
    assert fit_digest.main(["no_such_scenario"]) == 1
