"""FitterConfig — the frozen 'logical plan' of a fit.

Mirrors the knob surface of the reference config
(/root/reference/src/spark_bestfit/config.py:35-109) with the same
defaults where they are observable behavior (seed 42, 10k fitting sample,
10M sampling threshold, 50 bins).
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields, replace


@dataclass(frozen=True)
class FitterConfig:
    # histogram
    bins: int = 50
    use_rice_rule: bool = False

    # sampling
    sample_threshold: int = 10_000_000
    fitting_sample_size: int = 10_000
    random_seed: int = 42
    adaptive_sampling: bool = True
    tail_min_rows: int = 500

    # registry / selection
    support_at_zero: bool = False
    additional_exclusions: tuple = ()
    max_distributions: int | None = None

    # estimation
    estimation_method: str = "mle"  # mle | mse | auto
    lazy_metrics: bool = False
    # shape-based distribution prefilter: False | True ("conservative",
    # skew-sign layer only) | "aggressive" (adds the kurtosis layer)
    prefilter: bool | str = False

    # bounds / censoring
    lower_bound: float | None = None
    upper_bound: float | None = None
    censoring_column: str | None = None

    # execution
    # tiny plans (weighted fit count <= this) run their kernels on the
    # driver and return a local relation — same kernels, same schema,
    # no fan-out job (analog of Spark's own LocalTableScan strategy);
    # 0 disables
    local_fit_threshold: int = 12
    # progress: Callable[[int, int, float], None] — (completed tasks,
    # total tasks, elapsed seconds), polled during the fit fan-out
    progress_callback: object = None

    def validate(self) -> None:
        if self.bins < 1:
            raise ValueError(f"bins must be >= 1, got {self.bins}")
        if self.fitting_sample_size < 2:
            raise ValueError("fitting_sample_size must be >= 2")
        if self.estimation_method not in ("mle", "mse", "auto"):
            raise ValueError(
                f"estimation_method must be mle|mse|auto, got "
                f"{self.estimation_method!r}"
            )
        if self.prefilter not in (False, True, "aggressive"):
            raise ValueError(
                f"prefilter must be False|True|'aggressive', got "
                f"{self.prefilter!r}"
            )
        if (
            self.lower_bound is not None
            and self.upper_bound is not None
            and self.lower_bound >= self.upper_bound
        ):
            raise ValueError("lower_bound must be < upper_bound")

    def with_(self, **kwargs) -> "FitterConfig":
        return replace(self, **kwargs)

    @staticmethod
    def builder() -> "FitterConfigBuilder":
        return FitterConfigBuilder()


class FitterConfigBuilder:
    """Fluent builder over FitterConfig (reference config.py:149-410
    API shape): ``FitterConfig.builder().with_bins(100)
    .with_lazy_metrics().build()``.

    Any config field is settable via ``with_<field>(value)``; boolean
    fields default their argument to True.
    """

    _FIELDS = {f.name for f in fields(FitterConfig)}

    def __init__(self):
        self._values: dict = {}

    def __getattr__(self, name: str):
        if not name.startswith("with_"):
            raise AttributeError(name)
        field_name = name[5:]
        if field_name not in self._FIELDS:
            raise AttributeError(
                f"FitterConfig has no field {field_name!r}"
            )

        def setter(value=True):
            self._values[field_name] = value
            return self

        return setter

    def with_bounds(
        self, lower: float | None = None, upper: float | None = None
    ) -> "FitterConfigBuilder":
        self._values["lower_bound"] = lower
        self._values["upper_bound"] = upper
        return self

    def build(self) -> FitterConfig:
        cfg = FitterConfig(**self._values)
        cfg.validate()
        return cfg
