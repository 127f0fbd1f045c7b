#!/usr/bin/env python
"""Seeded fit digests for a before/after identity check.

Runs a fixed set of seeded fit scenarios on local[N] and prints one line
per scenario, ``<scenario> <sha256>``. The digest covers the result rows,
sorted, and each column's cached fitting-sample bytes, so two checkouts
that print the same lines fit the same samples to the same rows. Row
order and the driver-local vs fanned-out choice do not enter it.

Run it in both checkouts and diff the output:

    python tools/fit_digest.py > after.txt
    (cd ../other-checkout && python tools/fit_digest.py) > before.txt
    diff before.txt after.txt

Usage:
    python tools/fit_digest.py [--cores N] [scenario ...]
    python tools/fit_digest.py --list
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CONTINUOUS = ["norm", "gamma", "expon", "lognorm", "weibull_min",
              "logistic", "laplace", "uniform"]
SURVIVAL = ["expon", "weibull_min", "lognorm", "gamma", "norm"]
DISCRETE = ["poisson", "geom"]


def _frame(n: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "a": rng.gamma(2.0, 3.0, n),
        "b": rng.normal(10.0, 2.0, n),
        "c": rng.exponential(4.0, n),
        "t": rng.standard_t(2.0, n),
        "k": rng.poisson(4.0, n),
        "m": rng.geometric(0.3, n),
        "g": rng.integers(0, 4, n),
        "obs": rng.random(n) < 0.7,
    })


def _fit(spark, discrete: bool, pdf, *args, grouped=False, **kwargs):
    from spark_bestfit_spark import fitter

    cls = (
        fitter.DiscreteDistributionFitter if discrete
        else fitter.DistributionFitter
    )
    fit = cls(spark).fit_grouped if grouped else cls(spark).fit
    return fit(spark.createDataFrame(pdf), *args, **kwargs)


# name -> fit(spark) -> FitResults; each builds its own seeded input
SCENARIOS = {
    "continuous_full_prelude": lambda s: _fit(
        s, False, _frame(20_000, 1), columns=["a", "b"],
        distributions=CONTINUOUS,
    ),
    "continuous_probe": lambda s: _fit(
        s, False, _frame(3_000, 2), columns=["a", "b"],
        distributions=CONTINUOUS[:3],
    ),
    "continuous_bounded": lambda s: _fit(
        s, False, _frame(20_000, 3), column="b", distributions=CONTINUOUS,
        lower_bound=8.0, upper_bound=13.0,
    ),
    "continuous_lazy": lambda s: _fit(
        s, False, _frame(20_000, 4), columns=["a", "c"],
        distributions=CONTINUOUS, lazy_metrics=True,
    ),
    "continuous_auto_method": lambda s: _fit(
        s, False, _frame(20_000, 5), columns=["b", "t"],
        distributions=CONTINUOUS, estimation_method="auto",
    ),
    "continuous_grouped": lambda s: _fit(
        s, False, _frame(20_000, 6), "a", "g", grouped=True,
        distributions=CONTINUOUS[:5],
    ),
    "censored_1_column": lambda s: _fit(
        s, False, _frame(20_000, 7), column="a",
        distributions=SURVIVAL[:3], censoring_column="obs",
    ),
    "censored_3_columns": lambda s: _fit(
        s, False, _frame(20_000, 8), columns=["a", "b", "c"],
        distributions=SURVIVAL, censoring_column="obs",
    ),
    "discrete_default_list": lambda s: _fit(
        s, True, _frame(3_000, 9), column="k"
    ),
    "discrete_2_names": lambda s: _fit(
        s, True, _frame(20_000, 10), columns=["k", "m"],
        distributions=DISCRETE,
    ),
    "discrete_grouped": lambda s: _fit(
        s, True, _frame(20_000, 11), "k", "g", grouped=True
    ),
    "full_registry": lambda s: _fit(s, False, _frame(2_000, 12), column="b"),
}


def digest(results) -> str:
    """sha256 over the sorted rows and each column's fitting sample."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in results._rows):
        h.update(line.encode())
        h.update(b"\n")
    for column in sorted(results._samples):
        h.update(column.encode())
        h.update(np.ascontiguousarray(results._samples[column]).tobytes())
    return h.hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("scenarios", nargs="*", help="default: all")
    ap.add_argument("--cores", type=int, default=4, help="local[N]")
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args(argv)
    names = args.scenarios or list(SCENARIOS)
    unknown = [n for n in names if n not in SCENARIOS]
    if unknown:
        print(f"unknown scenario(s): {unknown}; known: {list(SCENARIOS)}")
        return 1
    if args.list:
        print("\n".join(names))
        return 0

    from spark_bestfit_spark.session import get_spark

    spark = get_spark(master=f"local[{args.cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        print(name, digest(SCENARIOS[name](spark)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
