"""Metric names and units, and the per-layer metrics of a traced run.

``BENCHMARK.json`` lists the same names; ``selftest.py`` checks that
the two agree.
"""

from __future__ import annotations

import statistics

import eventlog

# workloads BENCHMARK.json lists come first; fit_registry also runs by
# hand (see README.md)
WORKLOADS = ("fit_scan", "synth", "text_dedup", "fit_registry")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "input_rows_per_s": "1/s",
    "driver_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.prepare_s": "s",
    "setup.warmup_s": "s",
    "setup.warmup_ops": "count",
    "stats.wall_s": "s",
    "stats.jobs": "count",
    "stats.executor_cpu_s": "s",
    "histogram.wall_s": "s",
    "histogram.jobs": "count",
    "histogram.shuffle_write_bytes": "B",
    "histogram.executor_cpu_s": "s",
    "sampling.wall_s": "s",
    "sampling.rows_collected": "count",
    "sampling.result_bytes": "B",
    "fitter.prelude_s": "s",
    "fitter.overlap_s": "s",
    "fit.fanout_s": "s",
    "fit.tasks": "count",
    "fit.task_p50_s": "s",
    "fit.task_max_s": "s",
    "fit.skew_ratio": "ratio",
    "fit.executor_cpu_s": "s",
    "fit.executor_run_s": "s",
    "fit.gc_s": "s",
    "fit.ok_ratio": "ratio",
    "fits_per_s": "1/s",
    "results.best_s": "s",
    "results.best_per_column_s": "s",
    "results.quality_report_s": "s",
    "results.jobs": "count",
    "copula.marginals_s": "s",
    "copula.spearman_s": "s",
    "copula.shuffle_bytes": "B",
    "copula.spill_bytes": "B",
    "generate.sample_s": "s",
    "generate.tasks": "count",
    "generate.rows_per_s": "1/s",
    "gen_rows_per_s": "1/s",
    "dedup.minhash_s": "s",
    "dedup.clip_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_ratio": "ratio",
    "dedup.shuffle_bytes": "B",
    "dedup.spill_bytes": "B",
    "textstats.tfidf_s": "s",
    "textstats.shuffle_bytes": "B",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "spark.stages": "count",
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_s": "s",
}


def _with_units(values: dict, units: dict) -> dict:
    missing = units.keys() - values.keys()
    extra = values.keys() - units.keys()
    if missing or extra:
        raise KeyError(f"missing {sorted(missing)}, unknown {sorted(extra)}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def end_to_end(values: dict) -> dict:
    return _with_units(values, END_TO_END)


def per_layer(name: str, tracer, totals: dict, n: int, timings: dict) -> dict:
    """Per-layer metrics of a traced run.

    Span times are medians over the traced ops. Event-log quantities are
    totals over the traced ops' job groups divided by the op count
    ``n``. Layers the workload ``name`` does not call report 0.
    """
    def group(layer):
        return totals.get(f"{name}:{layer}", eventlog.GroupTotals())

    stats, hist, sampling = group("stats"), group("histogram"), group("sampling")
    fit, results = group("fit"), group("results")
    copula, gen = group("copula"), group("generate")
    dedup, text = group("dedup"), group("textstats")
    every = eventlog.merged(
        totals, [g for g in totals if g and g.startswith(f"{name}:")]
    )
    # the fan-out is the fit layer's Python stage: one task per bin
    task_s = sorted(fit.python_task_run_s)
    task_p50 = statistics.median(task_s) if task_s else 0.0
    task_max = task_s[-1] if task_s else 0.0

    m = tracer.median
    prelude = m("fitter.prelude_s")
    # only where the prelude layers were also called directly
    overlap = statistics.median([
        op["stats.wall_s"] + op["histogram.wall_s"] + op["sampling.wall_s"]
        - op["fitter.prelude_s"]
        for op in tracer.ops
    ]) if "stats.wall_s" in tracer.ops[0] else 0.0
    fit_rows = m("fit.rows")
    pairs = m("fit.pairs")
    candidates = m("dedup.candidate_pairs")
    gen_s = m("generate.sample_s")
    gen_rows = m("generate.rows")
    plain_p50 = timings["trace.untraced_op_p50_s"]

    values = {
        **timings,
        "stats.wall_s": m("stats.wall_s"),
        "stats.jobs": stats.jobs / n,
        "stats.executor_cpu_s": stats.executor_cpu_s / n,
        "histogram.wall_s": m("histogram.wall_s"),
        "histogram.jobs": hist.jobs / n,
        "histogram.shuffle_write_bytes": hist.shuffle_write_bytes / n,
        "histogram.executor_cpu_s": hist.executor_cpu_s / n,
        "sampling.wall_s": m("sampling.wall_s"),
        "sampling.rows_collected": m("sampling.rows_collected"),
        "sampling.result_bytes": sampling.result_bytes / n,
        "fitter.prelude_s": prelude,
        "fitter.overlap_s": overlap,
        "fit.fanout_s": m("fit.fanout_s"),
        "fit.tasks": len(task_s) / n,
        "fit.task_p50_s": task_p50,
        "fit.task_max_s": task_max,
        "fit.skew_ratio": task_max / task_p50 if task_p50 else 0.0,
        "fit.executor_cpu_s": fit.executor_cpu_s / n,
        "fit.executor_run_s": fit.executor_run_s / n,
        "fit.gc_s": fit.gc_s / n,
        "fit.ok_ratio": fit_rows / pairs if pairs else 0.0,
        "fits_per_s": fit_rows / plain_p50 if plain_p50 else 0.0,
        "results.best_s": m("results.best_s"),
        "results.best_per_column_s": m("results.best_per_column_s"),
        "results.quality_report_s": m("results.quality_report_s"),
        "results.jobs": results.jobs / n,
        "copula.marginals_s": m("copula.marginals_s"),
        "copula.spearman_s": m("copula.spearman_s"),
        "copula.shuffle_bytes": copula.shuffle_write_bytes / n,
        "copula.spill_bytes": copula.spill_bytes / n,
        "generate.sample_s": gen_s,
        "generate.tasks": len(gen.python_task_run_s) / n,
        "generate.rows_per_s": gen_rows / gen_s if gen_s else 0.0,
        "gen_rows_per_s": gen_rows / plain_p50 if plain_p50 else 0.0,
        "dedup.minhash_s": m("dedup.minhash_s"),
        "dedup.clip_s": m("dedup.clip_s"),
        "dedup.candidate_pairs": candidates,
        "dedup.verified_ratio": (
            m("dedup.verified_pairs") / candidates if candidates else 0.0
        ),
        "dedup.shuffle_bytes": dedup.shuffle_write_bytes / n,
        "dedup.spill_bytes": dedup.spill_bytes / n,
        "textstats.tfidf_s": m("textstats.tfidf_s"),
        "textstats.shuffle_bytes": text.shuffle_write_bytes / n,
        "spark.gc_s": every.gc_s / n,
        "spark.failed_tasks": every.failed_tasks / n,
        "spark.stages": every.stages / n,
        "trace.overhead_s": timings["trace.op_p50_s"] - plain_p50,
    }
    return _with_units(values, PER_LAYER)
