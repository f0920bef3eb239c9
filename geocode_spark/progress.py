"""A4: periodic progress reporting for distributed runs (SURVEY §2.4).

The reference logs a three-line status block every 10,000 processed rows
(`total % 10000 == 0` at reference geocode.py:256-258; block format at
geocode.py:150-162: "Total requests: N" / "Failure rate: P%" /
"Average score: S"). A distributed plan has no row order and the driver
never touches individual rows, so the Spark-native analog has two halves:

- **row cadence** — a row-count ACCUMULATOR wired into the extraction
  kernel's Arrow batches (one ``acc.add(len(batch))`` per multi-thousand-row
  batch: no per-row cost, no extra plan stage). Workers ship accumulator
  updates to the driver at task completion, so the cadence granularity is
  one task rather than one row — the honest distributed equivalent of the
  reference's per-row modulo check. Corollary: the counter reflects rows the
  kernel ACTUALLY processed — a plan that lets Catalyst prune the kernel
  entirely (e.g. a bare count(*) reading none of its columns) reports
  nothing, because no extraction work happened. A driver-side daemon thread samples the
  accumulator and emits one "Total requests: N" line per crossed `every`-row
  boundary, with elapsed time and running rate.
- **status block** — failure rate and average score exist only after the
  match (the same Arrow stage, whose accumulator counts rows, not
  outcomes). They are produced per committed batch by the ledger metrics
  (batching._ledger_metrics, A1-A3), and ``log_status_lines`` renders the
  reference's exact three-line block from running totals — emitted after
  every batch commit and at job end (A5 parity, geocode.py:260-261).

The kernel hook must capture the accumulator in the UDF **closure**
(``counting_pandas_udf``): forked Python workers re-import engine modules,
so a module-global set only on the driver would be None worker-side.
"""

from __future__ import annotations

import sys
import threading
import time

from pyspark.sql import functions as F

from .flowcontrol import format_time


def log_status_lines(total: int, fail: int, score_sum: float) -> list:
    """The reference's log_status block, behavior-identical (geocode.py:150-162).

    Divide-by-zero rules match: zero total -> failure rate 100%; zero
    successes -> average score 'n/a'. Rounding is round-half-even (python
    round), same builtin as the reference.
    """
    success = total - fail
    try:
        failure_rate = round(100 * fail / total)
    except ZeroDivisionError:
        failure_rate = 100
    if score_sum is None:
        # A ledger written by an engine version that predates score_sum:
        # the true sum is unknowable, so say so rather than dividing a
        # partial sum by all successes (silently-wrong average).
        average_score = "n/a"
    else:
        try:
            average_score = round(score_sum / success)
        except ZeroDivisionError:
            average_score = "n/a"
    return [
        f"Total requests: {total}",
        f"Failure rate: {failure_rate}%",
        f"Average score: {average_score}",
    ]


def counting_pandas_udf(batch_fn, out_type, acc):
    """Wrap a pandas batch kernel so every Arrow batch adds its row count to
    the accumulator `acc`. Semantics are untouched — same kernel, same output
    type, deterministic like the unwrapped kernels — so a resume counts only
    its pending batches' rows (tests/test_progress.py pins exactly-once).
    With no accumulator it is the plain pandas UDF of the kernel."""
    if acc is None:
        return F.pandas_udf(batch_fn, out_type)

    def fn(series):
        out = batch_fn(series)
        acc.add(len(out))
        return out

    return F.pandas_udf(fn, out_type)


class ProgressReporter:
    """Driver-side sampler emitting one progress line per `every` rows.

    Usage::

        rep = ProgressReporter(spark, every=10_000)
        result = geocode_pages(pages, locs, progress_acc=rep.acc)
        with rep:
            run_resumable(spark, result, out_dir, ...)
        # rep.boundaries == [10000, 20000, ...]

    The thread wakes every `interval` seconds, reads the accumulator, and
    emits one line per newly crossed boundary (so a 4-boundary jump from one
    big task logs 4 lines, keeping the every-N contract exact). stop() emits
    any boundaries crossed since the last tick before joining the thread.
    """

    def __init__(self, spark, every: int = 10_000, interval: float = 0.5,
                 log=None):
        if every <= 0:
            raise ValueError(f"every must be positive, got {every}")
        self.spark = spark
        self.every = int(every)
        self.interval = float(interval)
        self.log = log if log is not None else (
            lambda m: print(m, file=sys.stderr)
        )
        self.acc = spark.sparkContext.accumulator(0)
        self.boundaries: list = []
        self._stop = threading.Event()
        self._thread = None
        self._t0 = None
        self._base = 0

    # ---------------------------------------------------------------- emit
    def _emit_crossed(self):
        # Count only rows processed since start(): the health probe runs the
        # same instrumented plan BEFORE the reporter starts (geocode_job),
        # and those probe-batch rows must not back-fill boundaries or inflate
        # "Total requests" (reference counts each request once,
        # geocode.py:256-258).
        n = int(self.acc.value) - self._base
        last = self.boundaries[-1] if self.boundaries else 0
        while last + self.every <= n:
            last += self.every
            self.boundaries.append(last)
            elapsed = time.perf_counter() - self._t0
            rate = round(last / elapsed) if elapsed > 0 else 0
            self.log(
                f"Total requests: {last} "
                f"({format_time(elapsed)}, {rate} rows/s)"
            )

    # ------------------------------------------------------------ lifecycle
    def start(self):
        if self._thread is not None:
            raise RuntimeError("reporter already started")
        self._t0 = time.perf_counter()
        self._base = int(self.acc.value)
        # a restarted reporter counts its own run from zero: _base re-bases to
        # the current accumulator value, so stale boundaries from a previous
        # start/stop cycle would swallow every line until the new count
        # exceeded the old run's last boundary
        self.boundaries = []
        self._stop.clear()

        def run():
            while not self._stop.wait(self.interval):
                self._emit_crossed()

        self._thread = threading.Thread(
            target=run, name="progress-reporter", daemon=True
        )
        self._thread.start()
        return self

    def stop(self):
        if self._thread is None:
            return
        self._stop.set()
        self._thread.join(timeout=30)
        self._thread = None
        self._emit_crossed()  # boundaries crossed since the last tick

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc):
        self.stop()
        return False
