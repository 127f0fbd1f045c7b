"""Benchmark of the fit -> rank -> synthesize pipeline and the text
dedup layer.

    python3 perfbench/run.py --workload fit_scan --seed 1 --seconds 15 --trace 0

One process, one closed-loop client: each op starts when the previous
one has returned. The run starts a local Spark session on every core,
builds the workload's inputs from ``--seed``, warms up until the op
time stops falling, then runs ops for ``--seconds`` seconds. Every op
checks its own output; an op whose check fails, or that raises, counts
as failed.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also
writes a Spark event log, splits the window between plain ops and
traced ops (each layer call under job group ``<workload>:<layer>``) and
reports the per-layer metrics. Names and units are in ``metrics.py``.

It must be run from a checkout that holds the ``spark_bestfit_spark``
package next to this directory; without it the run exits with code 2.
"""

import time

_PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import metrics  # noqa: E402

REPO = Path(__file__).resolve().parent.parent
WORK_ROOT = REPO / ".perfbench_work"

# set-up is repeated this many times per run; setup_s uses the median
PREPARE_REPEATS = 3
# warm-up: at least MIN ops, at most MAX, and it ends at the first op
# that is not faster than every earlier op by more than FALL
WARMUP_MIN, WARMUP_MAX, WARMUP_FALL = 2, 5, 0.05


def _median(values):
    return statistics.median(values) if values else 0.0


def _run_op(fn, *args) -> tuple:
    """(seconds, ok) of one op; an exception is a failed op."""
    t = time.perf_counter()
    try:
        ok = bool(fn(*args))
    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        ok = False
    return time.perf_counter() - t, ok


class Tracer:
    """Spans around layer calls: each call runs under Spark job group
    ``<workload>:<layer>`` and its wall time is added to the current
    op's record; ``count`` adds a counter to the same record."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.ops: list = []

    def begin_op(self) -> None:
        self.ops.append({})

    @contextlib.contextmanager
    def span(self, layer, step=None, extra=False):
        """``extra`` marks a call that is not part of the op: its time
        is left out of the traced op time."""
        self.sc.setJobGroup(
            f"{self.workload}:{layer or 'probe'}", step or layer or "probe"
        )
        t = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            if layer is not None:
                self.count(f"{layer}.{step}_s" if step else f"{layer}.wall_s", dt)
            if extra:
                self.count("extra_s", dt)

    def count(self, name: str, value) -> None:
        op = self.ops[-1]
        op[name] = op.get(name, 0) + value

    def median(self, name: str) -> float:
        return _median([op.get(name, 0) for op in self.ops])


def _spark_conf(work: Path, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
        })
    return conf


def _measure(fn, seconds: float, *args) -> tuple:
    """Closed loop until the ops have taken ``seconds``: (op times,
    failed count). The timed window is the sum of the op times."""
    times, failed = [], 0
    while sum(times) < seconds:
        dt, ok = _run_op(fn, *args)
        times.append(dt)
        failed += not ok
    return times, failed


def _warm_up(w) -> tuple:
    """(seconds, ops, failed): untimed ops until the op time stops
    falling."""
    t0, times, failed = time.perf_counter(), [], 0
    while len(times) < WARMUP_MAX:
        dt, ok = _run_op(w.op)
        failed += not ok
        falling = not times or dt <= (1 - WARMUP_FALL) * min(times)
        times.append(dt)
        if len(times) >= WARMUP_MIN and not falling:
            break
    print(f"warm-up ops (s): {[round(t, 3) for t in times]}", file=sys.stderr)
    return time.perf_counter() - t0, len(times), failed


def _traced(w, tracer: Tracer) -> bool:
    tracer.begin_op()
    return w.traced_op(tracer)


def _stop(spark) -> None:
    """Stop Spark (which closes and renames the event log), then end the
    JVM it runs in and wait for it: pyspark leaves the JVM to exit on
    its own once the interpreter closes the JVM's stdin."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: Path) -> dict:
    from spark_bestfit_spark import get_spark

    import workloads

    trace = bool(args.trace)
    t = time.perf_counter()
    # interpreter start, imports and argument parsing
    launch_s = t - _PROCESS_T0
    spark = get_spark(extra_conf=_spark_conf(work, trace))
    session_start_s = time.perf_counter() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try:
        w = workloads.WORKLOADS[args.workload](spark, args.seed)
        prepare = []
        for i in range(PREPARE_REPEATS):
            if i:
                w.release()
            t = time.perf_counter()
            w.prepare()
            prepare.append(time.perf_counter() - t)
        warmup_s, warmup_ops, warmup_failed = _warm_up(w)
        setup_s = launch_s + session_start_s + _median(prepare) + warmup_s
        if warmup_failed:
            print(f"{warmup_failed} warm-up op(s) failed", file=sys.stderr)

        if not trace:
            times, failed = _measure(w.op, args.seconds)
            window = sum(times)
            print(f"timed ops (s): {[round(t, 3) for t in times]}",
                  file=sys.stderr)
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            return {
                "correct": failed == 0 and warmup_failed == 0,
                "attempted": len(times),
                "failed": failed,
                "metrics": metrics.end_to_end({
                    "setup_s": setup_s,
                    "op_p50_s": _median(times),
                    "ops_per_s": (len(times) - failed) / window,
                    "input_rows_per_s": (
                        (len(times) - failed) * w.input_rows / window
                    ),
                    "driver_rss_mb": rss_mb,
                }),
            }

        half = args.seconds / 2
        plain, plain_failed = _measure(w.op, half)
        tracer = Tracer(sc, w.name)
        traced, traced_failed = _measure(_traced, half, w, tracer)
    finally:
        _stop(spark)
    failed = plain_failed + traced_failed
    layer = metrics.per_layer(
        w.name, tracer, _event_log(work), len(traced),
        timings={
            "session.start_s": session_start_s,
            "setup.prepare_s": _median(prepare),
            "setup.warmup_s": warmup_s,
            "setup.warmup_ops": warmup_ops,
            "trace.op_p50_s": _median([
                t - op.get("extra_s", 0) for t, op in zip(traced, tracer.ops)
            ]),
            "trace.untraced_op_p50_s": _median(plain),
        },
    )
    return {
        "correct": failed == 0 and warmup_failed == 0,
        "attempted": len(plain) + len(traced),
        "failed": failed,
        "metrics": layer,
    }


def _event_log(work: Path) -> dict:
    import eventlog

    logs = [p for p in (work / "eventlog").iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {len(logs)}")
    return eventlog.parse_file(logs[0])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    p.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (REPO / "spark_bestfit_spark" / "__init__.py").is_file():
        print(f"no spark_bestfit_spark package in {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))

    work = WORK_ROOT / str(os.getpid())
    for sub in ("local", "tmp", "eventlog", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Spark's local dirs, the JVM's and the Python workers' temp files
    # stay inside the checkout; the environment variable would
    # otherwise override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    # every JVM (spark-submit's launcher and the driver): temp files in
    # the checkout, no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    )))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            WORK_ROOT.rmdir()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
