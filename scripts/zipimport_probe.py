#!/usr/bin/env python3
"""Zip-directory reads and CPU per ``importlib.invalidate_caches()`` in a
PySpark worker, with the stock ``zipimporter`` and with the guard of the
engine worker module (``pyspark_geocode_worker``).

    python3 scripts/zipimport_probe.py

A Python worker imports pyspark from Spark's pyspark.zip and calls
``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). The probe re-runs itself in a
child process whose path starts with that zip and the py4j zip, as a
worker's does, imports ``pyspark.worker`` (the minimal worker imports; a
worker that has run a pandas UDF holds a few more zip importers), and then
times ``CALLS`` calls of ``importlib.invalidate_caches()``: first with
the stock importer, then after importing the worker module, whose first
call takes each archive's signature. It prints one JSON line: the number
of zip importers, and per form the ``zipimport._read_directory`` calls and
the CPU seconds per call.

If the stock form reads no directory per call, a PySpark or CPython
upgrade has fixed this upstream, and the worker module can be deleted.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import subprocess
import sys
import time
import zipimport

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLS = 20  # calls of importlib.invalidate_caches() averaged per form


def _worker_path() -> list[str]:
    """Spark's python/lib zips, in the order a worker's PYTHONPATH has them."""
    from pyspark.find_spark_home import _find_spark_home

    lib = os.path.join(_find_spark_home(), "python", "lib")
    return [os.path.join(lib, "pyspark.zip"),
            *sorted(glob.glob(os.path.join(lib, "py4j-*.zip")))]


def _per_call() -> dict:
    reads = [0]
    stock_read = zipimport._read_directory

    def counted(archive):
        reads[0] += 1
        return stock_read(archive)

    zipimport._read_directory = counted
    try:
        t0 = time.process_time()
        for _ in range(CALLS):
            importlib.invalidate_caches()
        cpu = time.process_time() - t0
    finally:
        zipimport._read_directory = stock_read
    return {"reads_per_call": reads[0] / CALLS, "cpu_s_per_call": cpu / CALLS}


def _child() -> dict:
    import pyspark
    import pyspark.worker  # noqa: F401

    if ".zip" not in pyspark.__file__:
        raise SystemExit(f"pyspark imported from {pyspark.__file__}, not a zip")
    importers = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
    stock = _per_call()
    import pyspark_geocode_worker  # noqa: F401  (installs the guard)

    importlib.invalidate_caches()  # takes each archive's signature
    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "zip_importers": importers,
        "calls": CALLS,
        "stock": stock,
        "guarded": _per_call(),
    }


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.child:
        print(json.dumps(_child()))
        return
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join([*_worker_path(), ROOT]))
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child"],
        env=env, capture_output=True, text=True, check=False)
    if proc.returncode != 0:
        sys.exit(proc.stderr)
    print(proc.stdout.strip())


if __name__ == "__main__":
    main()
