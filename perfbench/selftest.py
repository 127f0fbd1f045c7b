"""Self-test of the event-log parser and the metric names.

    python3 perfbench/selftest.py

Needs neither Spark nor the package. It checks that

- the parser attributes a small captured event log (``testdata/``) to
  its job groups with the expected totals;
- a traced run emits exactly the per-layer names of ``BENCHMARK.json``,
  with the same units, and an untraced run exactly its end-to-end names;
- every workload ``BENCHMARK.json`` lists is one ``run.py`` accepts.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import eventlog
import metrics

HERE = Path(__file__).resolve().parent
TINY_LOG = HERE / "testdata" / "tiny_eventlog.jsonl"


def check_parser() -> None:
    totals = eventlog.parse_file(TINY_LOG)
    assert set(totals) == {None, "fit_scan:stats", "fit_scan:histogram"}, totals
    stats, hist, rest = (
        totals["fit_scan:stats"], totals["fit_scan:histogram"], totals[None]
    )
    # each layer call ran a two-stage aggregate (AQE submits the final
    # stage as its own job): 2 jobs, 2 stages, 2 + 1 tasks
    assert (stats.jobs, stats.stages, stats.tasks) == (2, 2, 3), stats
    assert (hist.jobs, hist.stages, hist.tasks) == (2, 2, 3), hist
    assert hist.shuffle_write_bytes == hist.shuffle_read_bytes == 667, hist
    # no Python UDF ran
    assert hist.python_task_run_s == [] and stats.python_task_run_s == []
    assert all(g.failed_tasks == 0 for g in totals.values())
    # the set-up jobs outside any group stay out of the layers
    assert (rest.jobs, rest.tasks) == (3, 5), rest

    # Python-UDF tasks are told apart by their SQL metric; a failed one
    # is counted but kept out of the per-task distribution
    def task(reason, run_ms):
        return json.dumps({
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Accumulables": [
                {"Name": eventlog.PYTHON_METRIC, "Update": "10"}
            ]},
            "Task Metrics": {"Executor Run Time": run_ms},
        })

    start = json.dumps({
        "Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
        "Properties": {eventlog.GROUP_KEY: "w:fit"},
    })
    g = eventlog.parse(
        [start, task("Success", 250), task("ExceptionFailure", 5)]
    )["w:fit"]
    assert (g.tasks, g.failed_tasks) == (2, 1), g
    assert g.python_task_run_s == [0.25], g


class _Tracer:
    ops = [{
        "stats.wall_s": 0.2, "histogram.wall_s": 0.3,
        "sampling.wall_s": 0.1, "fitter.prelude_s": 0.5,
    }]

    def median(self, name):
        return self.ops[0].get(name, 0)


def check_names() -> None:
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    want_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}

    timings = {
        "session.start_s": 1.0, "setup.prepare_s": 1.0,
        "setup.warmup_s": 1.0, "setup.warmup_ops": 2,
        "trace.op_p50_s": 1.5, "trace.untraced_op_p50_s": 1.0,
    }
    layer = metrics.per_layer(
        "fit_scan", _Tracer(), eventlog.parse_file(TINY_LOG), 1, timings
    )
    emitted = {k: v["unit"] for k, v in layer.items()}
    assert emitted == want_layer, (
        sorted(emitted.keys() ^ want_layer.keys())
        or [k for k in emitted if emitted[k] != want_layer[k]]
    )
    assert layer["stats.jobs"]["value"] == 2
    assert layer["histogram.shuffle_write_bytes"]["value"] == 667
    assert layer["trace.overhead_s"]["value"] == 0.5
    assert abs(layer["fitter.overlap_s"]["value"] - 0.1) < 1e-12

    e2e = metrics.end_to_end(dict.fromkeys(metrics.END_TO_END, 1.0))
    assert {k: v["unit"] for k, v in e2e.items()} == want_e2e

    names = [w["name"] for w in bench["workloads"]]
    assert set(names) <= set(metrics.WORKLOADS), names


def main() -> int:
    check_parser()
    check_names()
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
