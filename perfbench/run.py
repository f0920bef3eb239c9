#!/usr/bin/env python3
"""Geocode benchmark: one seeded workload per process, checked against the
repository's DuckDB oracles.

    python3 perfbench/run.py --workload pages_batch --seed 1 --seconds 14 \
        --trace 0 [--size full|tiny]

Run it from the repository root. The process starts one Spark session with
``local[N]`` task slots, N = the CPUs this process may use, generates (or
reuses) the seeded inputs under ``perfbench/.cache``, sets up, runs the
workload's phases for about ``--seconds`` in all and checks every output.
Scratch files go to ``perfbench/.work`` and are removed at exit; a traced
run writes its spans to ``perfbench/.traces``.

Workloads (phases in ``workloads.PHASES``):

``pages_batch``    the 4-batch page job and its resume. ``rows_per_cpu_s``:
                   pages per CPU second of the full job; ``followup_cpu_s``:
                   CPU seconds of the resume of 1 lost batch.
``address_table``  the address table, then the spatial join.
                   ``rows_per_cpu_s``: address rows per CPU second;
                   ``followup_cpu_s``: CPU seconds of one spatial-join pass.

The timed metrics count CPU seconds (user + system) of the Spark driver JVM
and its Python workers, read from ``/proc``, not wall seconds: on a shared
virtual machine the hypervisor lends the CPUs to other guests at random
(steal), which stretches wall time by up to a third from run to run but is
not charged as CPU time. The wall-clock figures (``<phase>.rows_per_s``,
``pages_batch.full_s``, ``pages_batch.resume_s``,
``spatial_join.pass_s_median``) are on the report line. The JVM runs with
its quick compiler only (``-XX:TieredStopAtLevel=1``): with the optimizing
compiler it kept compiling through a whole run, and a pass's CPU time fell
by 40% over a minute; the quick compiler is done within the warm-up pass.

A traced run runs all four phases whatever the workload, the open-loop
stream phase included; its per-file latencies are per-layer metrics
(``stream.latency_p50_s``, ``stream.latency_tail_s``).

stdout: one ``report`` line with further figures by name (``failed_share``
among them), then, as the last line, ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end metrics
(``END_TO_END``), measured untraced; with ``--trace 1`` they are the
per-layer metrics (``PER_LAYER``). ``attempted`` counts output rows checked
against the oracle and ``failed`` the rows missing or differing, plus any
raised operation.

Exit codes: 0 with a result; 1 when an operation raised (after printing
a result with ``correct`` false); 2 when the repository's engine is not
beside this directory; 3 when the stream phase's file generator fell behind
its schedule (an invalid run, not a slow one).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# rows per phase input; "tiny" is the smoke-test size. The stream phase's
# files (file_pages pages each) arrive every interval_s; the latency tail
# needs at least 11 of them.
SIZES = {
    "full": {"pages": 5_000, "addresses": 10_000, "points": 25_000,
             "files": 24, "file_pages": 5, "interval_s": 0.5},
    "tiny": {"pages": 600, "addresses": 400, "points": 600,
             "files": 11, "file_pages": 20, "interval_s": 0.25},
}

DRIVER_MEM = "2g"

END_TO_END = {
    "rows_per_cpu_s": "1/s",
    "followup_cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "geocode.pack_build_s": "s",
    "geocode.pack_keys": "count",
    "geocode.pack_candidates": "count",
    "geocode.pack_max_candidates": "count",
    "extraction.busy_s": "s",
    "extraction.rows_per_s": "1/s",
    "extraction.rows_with_address": "count",
    "extraction.error_rows": "count",
    "grammar.busy_s": "s",
    "grammar.parsed_rows": "count",
    "geocode.match_busy_s": "s",
    "geocode.probe_rows": "count",
    "geocode.candidates_scanned": "count",
    "geocode.matched_rows": "count",
    "geocode.match_yield": "ratio",
    "geocode.hot_zone_share": "ratio",
    "projection.busy_s": "s",
    "projection.rows": "count",
    "spatial.knn_busy_s": "s",
    "spatial.knn_pairs": "count",
    "spatial.pip_busy_s": "s",
    "spatial.pip_assigned": "count",
    "spatial.tile_busy_s": "s",
    "spatial.tiles": "count",
    "batching.write_busy_s": "s",
    "batching.batches_committed": "count",
    "batching.resume_busy_s": "s",
    "batching.resume_ratio": "ratio",
    "stream.batches": "count",
    "stream.files_per_batch": "count",
    "stream.add_batch_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.wait_s_p50": "s",
    "stream.batch_rows_per_s": "1/s",
    "stream.latency_p50_s": "s",
    "stream.latency_tail_s": "s",
    "loadgen.lag_s_max": "s",
    "trace.untraced_s": "s",
    "trace.traced_s": "s",
    "trace.overhead_share": "ratio",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("pages_batch", "address_table"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args(argv)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: Path) -> None:
    """Point Spark, its JVM and its Python workers at this checkout.

    Must run before the JVM starts: the workers inherit this environment
    and import the engine from the repository root."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)  # the gateway's handshake files go there too
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _start_session(work: Path):
    from geocode_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark(
        "geocode-perfbench",
        parallelism=_cpus(),
        small_input=False,
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # the whole heap resident from the start, so that the driver's
            # RSS does not depend on when garbage collection ran; the quick
            # compiler only (see above); no hsperfdata file, which the JVM
            # would write under /tmp
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                "-XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every worker have exited."""
    from pyspark import SparkContext

    from procmem import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits at end of its stdin
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _metrics(run, trace: bool) -> dict:
    if trace:
        layers = {
            "session.start_s": run.spans.busy("session.start"),
            "session.warm_s": run.spans.busy("session.warm"),
            **run.layers,
        }
        return {k: {"value": float(layers[k]), "unit": u}
                for k, u in PER_LAYER.items()}
    return {k: {"value": float(run.e2e[k]), "unit": u}
            for k, u in END_TO_END.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "geocode_spark" / "__init__.py").is_file():
        print(f"perfbench: no geocode_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import inputs
    import workloads
    from spans import Spans

    size = SIZES[args.size]
    nfiles = 2 * _cpus()
    fix = inputs.ensure_inputs(HERE / ".cache", args.seed, args.size, size,
                               nfiles)

    import check

    expected = check.expected(
        fix, workloads.oracles(args.workload, bool(args.trace)))
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    spans = Spans()
    run = None
    spark = None
    raised = 0
    try:
        t_setup = time.perf_counter()
        with spans.span("session.start"):
            spark = _start_session(work)
        run = workloads.Run(args.workload, spark, fix, work, args.seed,
                            args.seconds, bool(args.trace), size, spans,
                            t_setup)
        run.expected = expected
        workloads.run_all(run)
    except workloads.InvalidRun as ex:
        print(f"perfbench: invalid run: {ex}", file=sys.stderr)
        return 3
    except Exception:
        traceback.print_exc()
        raised = 1
    finally:
        if spark is not None:
            _stop_session(spark)
        for r in spans.records:  # timeline on stderr, for diagnosis
            if r["end"] is not None:
                print(f"perfbench: span {r['name']} {r['end'] - r['start']:.3f} s",
                      file=sys.stderr)
        if args.trace:
            (HERE / ".traces").mkdir(exist_ok=True)
            spans.write(HERE / ".traces"
                        / f"{args.workload}-s{args.seed}-{os.getpid()}.json")
        shutil.rmtree(work, ignore_errors=True)

    attempted = max(1, (run.attempted if run else 0) + raised)
    failed = (run.failed if run else 0) + raised
    if raised:
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1
    report = {
        **run.e2e,
        **run.report,
        "failed_share": failed / attempted,
        "workload": args.workload, "seed": args.seed, "cpus": _cpus(),
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": _metrics(run, bool(args.trace)),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
