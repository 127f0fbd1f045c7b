"""Progress tracking for long fan-out jobs (reference progress.py:38-260
capability): a daemon thread polls the Spark status tracker for the
tagged job group and invokes a user callback ``(completed, total,
elapsed_seconds)``.
"""

from __future__ import annotations

import sys
import threading
import time
import uuid

__all__ = ["ProgressTracker", "console_progress"]

# the local properties SparkContext.setJobGroup writes
_JOB_GROUP_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


class ProgressTracker:
    """Polls active Spark stages for a job group at ``poll_interval`` and
    reports task completion to ``callback``.

    Usage::

        tracker = ProgressTracker(spark, callback=console_progress)
        with tracker.track("fitting 90 distributions"):
            rows = result_df.collect()  # runs under the group

    On exit the caller's own job group, description and interrupt flag
    are restored, not cleared.
    """

    def __init__(
        self,
        spark,
        callback=None,
        poll_interval: float = 0.1,
    ):
        self.spark = spark
        self.callback = callback
        self.poll_interval = poll_interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._group: str | None = None
        self._saved: dict | None = None
        self._t0 = 0.0

    # ------------------------------------------------------------- lifecycle
    def start(self, description: str = "") -> None:
        sc = self.spark.sparkContext
        self._saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS}
        self._group = f"bestfit-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(self._group, description or "spark-bestfit job")
        self._stop.clear()
        self._t0 = time.monotonic()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=2.0)
            self._thread = None
        # restore the caller's job group (None unsets a property)
        saved, self._saved = self._saved, None
        try:
            for key, value in (saved or {}).items():
                self.spark.sparkContext.setLocalProperty(key, value)
        except Exception:  # noqa: BLE001 — context may already be gone
            pass

    def track(self, description: str = ""):
        tracker = self

        class _Ctx:
            def __enter__(self):
                tracker.start(description)
                return tracker

            def __exit__(self, *exc):
                tracker.stop()
                return False

        return _Ctx()

    # --------------------------------------------------------------- polling
    def _poll(self) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        while not self._stop.is_set():
            try:
                stage_ids = []
                for jid in tracker.getJobIdsForGroup(self._group):
                    info = tracker.getJobInfo(jid)
                    if info is not None:
                        stage_ids.extend(info.stageIds)
                total = completed = 0
                for sid in stage_ids:
                    sinfo = tracker.getStageInfo(sid)
                    if sinfo is not None:
                        total += sinfo.numTasks
                        completed += sinfo.numCompletedTasks
                if self.callback is not None and total > 0:
                    self.callback(
                        completed, total, time.monotonic() - self._t0
                    )
            except Exception:  # noqa: BLE001 — polling must never raise
                pass
            self._stop.wait(self.poll_interval)


def console_progress(completed: int, total: int, elapsed: float) -> None:
    """Simple stderr progress line (reference console_progress helper)."""
    pct = 100.0 * completed / max(total, 1)
    sys.stderr.write(
        f"\r[{'=' * int(pct / 5):20s}] {completed}/{total} "
        f"({pct:5.1f}%) {elapsed:6.1f}s"
    )
    sys.stderr.flush()
