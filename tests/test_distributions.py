"""Distribution library tests: round trips, support, fit recovery."""

from __future__ import annotations

import numpy as np
import pytest

from spark_bestfit_spark.functions.distributions.continuous import CONTINUOUS
from spark_bestfit_spark.functions.distributions.discrete import DISCRETE
from spark_bestfit_spark.functions.distributions.registry import (
    DistributionRegistry,
)

# Valid standard-form shape parameters per multi/odd-shape distribution
SHAPE_CASES = {
    "beta": (2.0, 3.0),
    "betaprime": (2.0, 3.0),
    "f": (5.0, 10.0),
    "burr": (2.0, 1.5),
    "burr12": (2.0, 1.5),
    "exponweib": (1.5, 1.2),
    "johnsonsu": (0.5, 1.5),
    "johnsonsb": (0.3, 1.2),
    "genexpon": (1.0, 1.0, 2.0),
    "powerlognorm": (1.5, 0.8),
    "triang": (0.4,),
    "genextreme": (0.2,),
    "genpareto": (0.3,),
    "foldnorm": (1.5,),
    "foldcauchy": (1.5,),
    # extended library — shapes with ordering / range constraints
    "loguniform": (1.0, 8.0),
    "reciprocal": (1.0, 8.0),
    "truncnorm": (-1.0, 2.0),
    "truncpareto": (1.8, 5.0),
    "trapezoid": (0.2, 0.7),
    "skewcauchy": (0.5,),
    "wrapcauchy": (0.5,),
    "crystalball": (1.5, 3.0),
    "norminvgauss": (1.5, 0.5),
    "truncweibull_min": (1.7, 0.1, 2.0),
    # excluded-set library — constrained shapes (|b| < a, alpha <= 2,
    # k > 1) or finite-n statistics where n ~ 1.5 is meaningless
    "genhyperbolic": (0.8, 1.6, 0.4),
    "levy_stable": (1.6, 0.2),
    "kstwo": (40.0,),
    "ksone": (40.0,),
    "studentized_range": (3.0, 10.0),
    "ncf": (5.0, 9.0, 1.5),
    "ncx2": (4.0, 2.5),
    "kappa4": (0.3, 0.2),
    "gausshyper": (2.0, 3.0, 1.0, 0.8),
    "tukeylambda": (0.14,),
    "geninvgauss": (1.2, 1.5),
}

QS = np.array([0.001, 0.01, 0.1, 0.3, 0.5, 0.7, 0.9, 0.99, 0.999])


def _params_for(name):
    d = CONTINUOUS[name]
    shapes = SHAPE_CASES.get(name, tuple([1.5] * d.numargs))
    return shapes + (0.0, 1.0)


@pytest.mark.parametrize("name", sorted(CONTINUOUS))
class TestContinuousContract:
    def test_ppf_cdf_roundtrip(self, name):
        d = CONTINUOUS[name]
        params = _params_for(name)
        x = d.ppf(QS, *params)
        assert np.all(np.isfinite(x)), f"{name}: non-finite ppf {x}"
        q2 = d.cdf(x, *params)
        np.testing.assert_allclose(q2, QS, atol=5e-7, err_msg=name)

    def test_cdf_monotone_in_0_1(self, name):
        d = CONTINUOUS[name]
        params = _params_for(name)
        x = d.ppf(np.linspace(0.02, 0.98, 40), *params)
        c = d.cdf(x, *params)
        assert np.all(np.diff(c) >= -1e-12)
        assert np.all((c >= 0) & (c <= 1))

    def test_pdf_nonnegative(self, name):
        d = CONTINUOUS[name]
        params = _params_for(name)
        x = d.ppf(np.linspace(0.05, 0.95, 19), *params)
        assert np.all(d.pdf(x, *params) >= 0)

    def test_logpdf_outside_support(self, name):
        d = CONTINUOUS[name]
        params = _params_for(name)
        shapes = params[:-2]
        lo, hi = d._get_support(*shapes)
        if np.isfinite(lo):
            assert d.logpdf(np.array([lo - 1.0]), *params)[0] == -np.inf

    def test_rvs_within_support(self, name):
        d = CONTINUOUS[name]
        params = _params_for(name)
        x = d.rvs(params, 500, np.random.default_rng(7))
        lo, hi = d.support(*params)
        assert np.all(x >= lo - 1e-9) and np.all(x <= hi + 1e-9)


FIT_CASES = [
    ("norm", (50.0, 10.0)),
    ("expon", (5.0, 3.0)),
    ("uniform", (10.0, 20.0)),
    ("lognorm", (0.8, 0.0, 3.0)),
    ("gamma", (2.0, 0.0, 2.0)),
    ("beta", (2.0, 5.0, 0.0, 1.0)),
    ("weibull_min", (1.8, 0.0, 4.0)),
    ("gumbel_r", (10.0, 3.0)),
    ("logistic", (5.0, 2.0)),
    ("laplace", (1.0, 2.0)),
    ("rayleigh", (0.0, 3.0)),
    ("t", (8.0, 0.0, 1.0)),
    ("triang", (0.4, 0.0, 10.0)),
    ("chi2", (5.0, 0.0, 1.0)),
]


@pytest.mark.parametrize("name,params", FIT_CASES)
def test_fit_recovers_likelihood(name, params):
    """Fitted NLL must match or beat truth NLL; K-S must be small."""
    d = CONTINUOUS[name]
    data = d.rvs(params, 5000, np.random.default_rng(42))
    fitted = d.fit(data)
    assert d.nnlf(fitted, data) <= d.nnlf(params, data) + 5.0
    ecdf = np.arange(1, len(data) + 1) / len(data)
    ks = np.max(np.abs(d.cdf(np.sort(data), *fitted) - ecdf))
    assert ks < 0.05, f"{name}: ks={ks}"


def test_norm_param_recovery():
    d = CONTINUOUS["norm"]
    data = np.random.default_rng(42).normal(50, 10, 10_000)
    loc, scale = d.fit(data)
    assert loc == pytest.approx(50, rel=0.05)
    assert scale == pytest.approx(10, rel=0.05)


class TestDiscrete:
    def test_poisson_fit(self):
        d = DISCRETE["poisson"]
        data = np.random.default_rng(42).poisson(7.0, 10_000).astype(float)
        (mu, loc) = d.fit(data)
        assert mu == pytest.approx(7.0, rel=0.05)

    def test_binom_fit(self):
        d = DISCRETE["binom"]
        data = np.random.default_rng(42).binomial(20, 0.3, 5000).astype(float)
        n, p, loc = d.fit(data)
        assert n == pytest.approx(20, abs=3)
        assert n * p == pytest.approx(6.0, rel=0.1)

    def test_nbinom_fit(self):
        d = DISCRETE["nbinom"]
        data = (
            np.random.default_rng(42)
            .negative_binomial(5, 0.4, 5000)
            .astype(float)
        )
        n, p, loc = d.fit(data)
        truth_nll = d.nnlf((5.0, 0.4, 0.0), data)
        assert d.nnlf((n, p, loc), data) <= truth_nll + 5.0

    @pytest.mark.parametrize("name", sorted(DISCRETE))
    def test_pmf_sums_to_one(self, name):
        d = DISCRETE[name]
        params = {
            "bernoulli": (0.7, 0.0),
            "betabinom": (10.0, 2.0, 3.0, 0.0),
            "binom": (20.0, 0.3, 0.0),
            "dlaplace": (0.8, 0.0),
            "geom": (0.3, 0.0),
            "hypergeom": (50.0, 20.0, 10.0, 0.0),
            "logser": (0.6, 0.0),
            "nbinom": (5.0, 0.4, 0.0),
            "planck": (0.5, 0.0),
            "poisson": (7.0, 0.0),
            "randint": (2.0, 9.0, 0.0),
            "yulesimon": (3.0, 0.0),
            "zipf": (3.0, 0.0),
            "boltzmann": (0.4, 12.0, 0.0),
            "nhypergeom": (30.0, 20.0, 5.0, 0.0),
            "zipfian": (1.8, 50.0, 0.0),
        }[name]
        ks = np.arange(-50, 2000)
        total = d.pmf(ks, *params).sum()
        assert total == pytest.approx(1.0, abs=5e-3), name

    @pytest.mark.parametrize("name", sorted(DISCRETE))
    def test_ppf_cdf_consistency(self, name):
        params = {
            "bernoulli": (0.7, 0.0),
            "betabinom": (10.0, 2.0, 3.0, 0.0),
            "binom": (20.0, 0.3, 0.0),
            "dlaplace": (0.8, 0.0),
            "geom": (0.3, 0.0),
            "hypergeom": (50.0, 20.0, 10.0, 0.0),
            "logser": (0.6, 0.0),
            "nbinom": (5.0, 0.4, 0.0),
            "planck": (0.5, 0.0),
            "poisson": (7.0, 0.0),
            "randint": (2.0, 9.0, 0.0),
            "yulesimon": (3.0, 0.0),
            "zipf": (3.0, 0.0),
            "boltzmann": (0.4, 12.0, 0.0),
            "nhypergeom": (30.0, 20.0, 5.0, 0.0),
            "zipfian": (1.8, 50.0, 0.0),
        }[name]
        d = DISCRETE[name]
        qs = np.array([0.05, 0.3, 0.5, 0.9])
        k = d.ppf(qs, *params)
        # smallest k with CDF(k) >= q
        assert np.all(d.cdf(k, *params) >= qs - 1e-9)
        assert np.all(d.cdf(k - 1, *params) < qs + 1e-9)


class TestRegistry:
    def test_default_exclusions_applied(self):
        reg = DistributionRegistry()
        names = reg.get_distributions()
        assert "dpareto_lognorm" not in names
        assert "norm" in names and "genexpon" in names
        assert len(names) >= 50

    def test_support_at_zero(self):
        reg = DistributionRegistry()
        pos = reg.get_distributions(support_at_zero=True)
        assert "expon" in pos and "gamma" in pos
        assert "norm" not in pos and "cauchy" not in pos

    def test_additional_exclusions(self):
        reg = DistributionRegistry()
        names = reg.get_distributions(additional_exclusions=["norm"])
        assert "norm" not in names

    def test_custom_distribution_roundtrip(self):
        reg = DistributionRegistry()
        custom = CONTINUOUS["norm"].__class__()
        reg.register_distribution("my_norm", custom)
        assert "my_norm" in reg.get_distributions()
        with pytest.raises(ValueError):
            reg.register_distribution("my_norm", custom)
        reg.unregister_distribution("my_norm")
        assert "my_norm" not in reg.get_distributions()

    def test_interleave_spreads_slow(self):
        reg = DistributionRegistry()
        # three members of the CURRENT measured slow set among five fast
        names = ["skewnorm", "f", "norm", "expon", "uniform", "gamma",
                 "truncnorm", "cauchy"]
        mixed = reg.interleave(names)
        assert sorted(mixed) == sorted(names)
        # slow ones must not be adjacent at the front
        slow_idx = [mixed.index(n) for n in ("skewnorm", "f", "truncnorm")]
        assert max(slow_idx) - min(slow_idx) >= 2

    def test_effective_count_weights_slow(self):
        reg = DistributionRegistry()
        # fast kernels weigh 1; measured-slow kernels carry their
        # calibrated weight (> 1); effective_count is the weighted sum
        assert DistributionRegistry.weight("norm") == 1
        assert DistributionRegistry.weight("skewnorm") > 1
        assert DistributionRegistry.weight("powerlognorm") > 1
        assert reg.effective_count(["norm", "skewnorm"]) == (
            1 + DistributionRegistry.weight("skewnorm")
        )

    def test_nct_is_packed_alone(self):
        """nct is the registry's slowest default kernel by far on skewed
        samples (seconds, vs <0.6 s for every other one): packed with
        the 90 other defaults into 4 bins it must get a bin of its own,
        or it stretches the fan-out tail."""
        from spark_bestfit_spark.operators.fit import _lpt_bins

        reg = DistributionRegistry()
        names = reg.get_distributions()
        assert len(names) == 91
        bins = _lpt_bins(names, reg.weight, 4)
        assert [b for b in bins if "nct" in b] == [["nct"]]
