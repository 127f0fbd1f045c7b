"""Per-layer Spark metrics from an uncompressed, non-rolling event log.

Spark writes one JSON object per line. A job carries its job group in
``SparkListenerJobStart``'s ``Properties["spark.jobGroup.id"]`` and lists
its stage ids; every ``SparkListenerTaskEnd`` and
``SparkListenerStageCompleted`` names its stage. So each task and stage
is attributed to the group of the job that submitted it. The benchmark
names groups ``<workload>:<layer>``.

Run as a script to print the per-group totals of a log:

    python3 perfbench/eventlog.py <event-log-file>
"""

from __future__ import annotations

import json
import sys
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
# SQL metric every Python-UDF operator reports per task
PYTHON_METRIC = "data sent to Python workers"


@dataclass
class GroupTotals:
    """Sums over every job of one job group."""

    jobs: int = 0
    stages: int = 0
    failed_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    # executor run time of each successful task that ran a Python UDF
    # (mapInPandas and friends), in seconds
    python_task_run_s: list = field(default_factory=list)


def parse(lines) -> dict:
    """Map job group (None for jobs outside any group) -> GroupTotals."""
    stage_group: dict = {}
    totals: dict = {}

    def group_of(stage_id):
        return totals.setdefault(stage_group.get(stage_id), GroupTotals())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get(GROUP_KEY)
            for sid in event.get("Stage IDs", []):
                stage_group[sid] = group
            totals.setdefault(group, GroupTotals()).jobs += 1
        elif kind == "SparkListenerStageCompleted":
            info = event["Stage Info"]
            g = group_of(info["Stage ID"])
            if info.get("Failure Reason"):
                g.failed_stages += 1
            else:
                g.stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = group_of(event["Stage ID"])
            g.tasks += 1
            reason = (event.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                g.failed_tasks += 1
            m = event.get("Task Metrics")
            if not m:
                continue
            run_s = m.get("Executor Run Time", 0) / 1e3
            g.executor_run_s += run_s
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.result_bytes += m.get("Result Size", 0)
            w = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += (
                r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            )
            accums = (event.get("Task Info") or {}).get("Accumulables") or []
            if reason == "Success" and any(
                a.get("Name") == PYTHON_METRIC for a in accums
            ):
                g.python_task_run_s.append(run_s)
    return totals


def parse_file(path) -> dict:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def merged(totals: dict, groups) -> GroupTotals:
    """One GroupTotals summing the named groups (absent ones count 0)."""
    out = GroupTotals()
    for name in groups:
        g = totals.get(name)
        if g is None:
            continue
        for key, value in vars(g).items():
            if key == "python_task_run_s":
                out.python_task_run_s.extend(value)
            else:
                setattr(out, key, getattr(out, key) + value)
    return out


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[-1].strip(), file=sys.stderr)
        return 2
    for group, g in sorted(
        parse_file(argv[1]).items(), key=lambda kv: str(kv[0])
    ):
        row = {k: v for k, v in vars(g).items() if k != "python_task_run_s"}
        row["python_tasks"] = len(g.python_task_run_s)
        print(json.dumps({"group": group, **row}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
