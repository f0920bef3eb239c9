#!/usr/bin/env python3
"""Fixed cost per geocode query, in CPU seconds, under the benchmark's
session settings.

    python3 scripts/fixed_cost.py [--seed 1] [--reps 7] [--work DIR]

Starts one Spark session the way ``perfbench/run.py`` does (its
``_prepare_env`` and ``_start_session``: ``local[N]``, the quick-compiler
JVM, the 2 GB pre-touched heap), generates the benchmark's seeded inputs
(``perfbench/inputs.py``, full size) into the work directory, builds the
locator pack, and stages the 5,000 pages through ``extract_and_parse``.
It then times, after one unmeasured warm-up each, ``--reps`` repetitions
of:

``plan_build``        building the ``geocode_pages`` DataFrame
``executed_plan``     building it and planning it (``executedPlan()``)
``write_20``          a ``geocode_parsed`` write of 20 staged parsed rows
``write_5000``        a ``geocode_parsed`` write of all 5,000 staged rows
``knn_cell``          a ``knn_cell(k=3)`` write of the 25,000 points
                      against the address points
``point_in_polygon``  a ``point_in_polygon`` write of the points against
                      the grid polygons
``tile_rollup``       a ``tile_rollup`` write of the points
``geocode_26912``     a ``geocode()`` write of the 10,000 address rows in
                      the locators' native spatial reference
``geocode_4326``      the same write in WGS84 lon/lat (``address_table``'s
                      pass); the difference is the projection's cost

The spatial three are the benchmark's spatial pass (``address_table``'s
``followup_cpu_s``), one operator at a time.

and prints one JSON line: per step, the median and the quartiles of the
CPU seconds of the Spark JVM and its Python workers (``procmem.tree_cpu_s``,
the benchmark's CPU measure), the medians of the JVM's and the workers'
shares of it, the median CPU seconds of this driver process (plan
construction in Python runs there) and the median wall seconds.
The difference ``write_5000 - write_20`` is the per-row cost; ``write_20``
is almost all fixed cost.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PERFBENCH = ROOT / "perfbench"
sys.path[:0] = [str(ROOT), str(PERFBENCH)]

import inputs  # noqa: E402  (perfbench/inputs.py)
import run as perfrun  # noqa: E402  (perfbench/run.py)
from procmem import _TICK_S, _comm, _cpu_ticks, descendants  # noqa: E402

GEOCODE_KW = {"locators": "all", "pobox": True}


def _quartiles(xs: list[float]) -> list[float]:
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return [q[0], q[2]]


def _split_cpu_s() -> tuple[float, float]:
    """(JVM, Python workers) CPU seconds used so far by this process's
    descendants; their sum is ``procmem.tree_cpu_s``."""
    jvm = workers = 0
    for p in descendants(os.getpid()):
        if _comm(p) == "java":
            jvm += _cpu_ticks(p)
        else:
            workers += _cpu_ticks(p)
    return jvm * _TICK_S, workers * _TICK_S


def _measure(step, reps: int) -> dict:
    step()  # warm-up: lazy set-up and JIT compilation are not fixed cost
    tree, jvm, workers, driver, wall = [], [], [], [], []
    for _ in range(reps):
        t0, (j0, w0), d0 = (time.perf_counter(), _split_cpu_s(),
                            time.process_time())
        step()
        wall.append(time.perf_counter() - t0)
        j1, w1 = _split_cpu_s()
        jvm.append(j1 - j0)
        workers.append(w1 - w0)
        tree.append(jvm[-1] + workers[-1])
        driver.append(time.process_time() - d0)
    return {"cpu_s": statistics.median(tree), "cpu_s_iqr": _quartiles(tree),
            "jvm_cpu_s": statistics.median(jvm),
            "worker_cpu_s": statistics.median(workers),
            "driver_cpu_s": statistics.median(driver),
            "wall_s": statistics.median(wall)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--reps", type=int, default=7)
    p.add_argument("--work", help="scratch directory (default: a new "
                                  "temporary directory, removed at exit)")
    args = p.parse_args(argv)

    work = Path(args.work or tempfile.mkdtemp(prefix="fixed-cost-"))
    shutil.rmtree(work / "tmp", ignore_errors=True)
    perfrun._prepare_env(work)
    fix = inputs.ensure_inputs(work / "inputs", args.seed, "full",
                               perfrun.SIZES["full"], 2 * perfrun._cpus())
    spark = perfrun._start_session(work)
    try:
        from geocode_spark.extraction import extract_and_parse
        from geocode_spark.operators.geocode import (
            geocode,
            geocode_parsed,
            pack_locators,
        )
        from geocode_spark.operators.spatial import (
            knn_cell,
            point_in_polygon,
            tile_rollup,
        )
        from geocode_spark.plans.pipeline import geocode_pages, load_locators

        locs = load_locators(spark, str(fix))
        pack_locators(**locs, **GEOCODE_KW).count()
        pages = spark.read.parquet(str(fix / "pages"))
        staged = str(work / "staged")
        extract_and_parse(pages).write.mode("overwrite").parquet(staged)
        parsed = spark.read.parquet(staged)
        few = parsed.orderBy("primary_key").limit(20)
        few.write.mode("overwrite").parquet(staged + "-20")
        few = spark.read.parquet(staged + "-20")
        out = str(work / "out")

        def plan_build():
            geocode_pages(pages, locs, **GEOCODE_KW)

        def executed_plan():
            geocode_pages(pages, locs, **GEOCODE_KW)._jdf \
                .queryExecution().executedPlan()

        def write(plan):
            return lambda: plan().write.mode("overwrite").parquet(out)

        def matched(rows):
            return write(lambda: geocode_parsed(rows, **locs, **GEOCODE_KW))

        def geocoded(wkid):
            return write(lambda: geocode(addresses, **locs, **GEOCODE_KW,
                                         spatial_reference=wkid))

        addresses = spark.read.parquet(str(fix / "addresses"))
        points = spark.read.parquet(str(fix / "points"))
        polys = spark.read.parquet(str(fix / "grid_polygons.parquet"))
        steps = {"plan_build": plan_build, "executed_plan": executed_plan,
                 "write_20": matched(few), "write_5000": matched(parsed),
                 "knn_cell": write(lambda: knn_cell(
                     points, locs["address_points"], k=3)),
                 "point_in_polygon": write(lambda: point_in_polygon(
                     points, polys)),
                 "tile_rollup": write(lambda: tile_rollup(points)),
                 "geocode_26912": geocoded(26912),
                 "geocode_4326": geocoded(4326)}
        result = {name: _measure(step, args.reps)
                  for name, step in steps.items()}
    finally:
        perfrun._stop_session(spark)
        if not args.work:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"seed": args.seed, "reps": args.reps,
                      "cpus": perfrun._cpus(), **result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
