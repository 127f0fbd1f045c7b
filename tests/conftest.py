"""Shared fixtures: session-scoped local SparkSession + seeded data.

Mirrors the reference harness shape (local session, Arrow on, few shuffle
partitions, UI off — /root/reference/tests/conftest.py:19-41) without
copying it.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

# ---------------------------------------------------------------------------
# Slow-test split (r13): the full suite outgrew the external gate's
# pytest window (45 min measured), so long-running tests are marked
# `slow` and excluded from the default run (pytest.ini addopts).
# Three sources of slowness, all still runnable with `pytest -m slow`
# (or `-m ""` for everything):
#   - tests/test_oracle_parity.py — duplicates the driver's own
#     oracle gate (CORRECTNESS_*.json), per-query Spark+DuckDB runs
#   - tests/test_examples.py — end-to-end example scripts
#   - every nodeid in tests/slow_manifest.txt (>= 3 s in the r13
#     --durations=0 profile)
# ---------------------------------------------------------------------------

_SLOW_FILES = ("test_oracle_parity.py", "test_examples.py")


def _slow_manifest() -> set[str]:
    path = os.path.join(os.path.dirname(__file__), "slow_manifest.txt")
    try:
        with open(path) as fh:
            return {
                ln.strip()
                for ln in fh
                if ln.strip() and not ln.startswith("#")
            }
    except OSError:
        return set()


def _stale_manifest_entries(manifest, nodeids, skip_files) -> list[str]:
    """Manifest node ids that match no collected test in a file that
    was collected whole. A renamed or deleted slow test would otherwise
    drop out of the manifest silently and its (renamed) body would run
    in the default tier."""
    files = {n.split("::", 1)[0] for n in nodeids} - set(skip_files)
    ids = set(nodeids)
    return sorted(
        m for m in manifest
        if m.split("::", 1)[0] in files and m not in ids
    )


# files whose collection failed (in part, under
# --continue-on-collection-errors): their missing tests are not stale
_COLLECT_ERRORS: set[str] = set()


def pytest_collectreport(report):
    if report.failed:
        _COLLECT_ERRORS.add(report.nodeid.split("::", 1)[0])


# tryfirst: mark and check the FULL collection, before -m/-k/--deselect
# drop items from it
@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    manifest = _slow_manifest()
    marker = pytest.mark.slow
    for item in items:
        fname = os.path.basename(str(item.fspath))
        if fname in _SLOW_FILES or item.nodeid in manifest:
            item.add_marker(marker)
    # files named with a ::selection were collected in part only
    root = str(config.rootpath)
    partial = {
        os.path.relpath(
            os.path.join(str(config.invocation_params.dir), a.split("::")[0]),
            root,
        ).replace(os.sep, "/")
        for a in config.args
        if "::" in a
    }
    stale = _stale_manifest_entries(
        manifest, [i.nodeid for i in items], partial | _COLLECT_ERRORS
    )
    if stale:
        raise pytest.UsageError(
            "tests/slow_manifest.txt names tests that were not collected "
            "(renamed or deleted? update the manifest):\n  "
            + "\n  ".join(stale)
        )


@pytest.fixture(scope="session")
def spark():
    from spark_bestfit_spark.session import get_spark

    s = get_spark(
        app_name="bestfit-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def normal_data():
    return np.random.default_rng(42).normal(50.0, 10.0, 10_000)


@pytest.fixture(scope="session")
def exponential_data():
    return np.random.default_rng(42).exponential(5.0, 10_000)


@pytest.fixture(scope="session")
def gamma_data():
    return np.random.default_rng(42).gamma(2.0, 2.0, 10_000)


@pytest.fixture(scope="session")
def uniform_data():
    return np.random.default_rng(42).uniform(0.0, 100.0, 10_000)


@pytest.fixture
def normal_df(spark, normal_data):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(normal_data)), "value": normal_data})
    )


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
