"""The engine worker module (pyspark_geocode_worker) against the stock worker.

Every session from `get_spark` runs its Python workers from
`pyspark_geocode_worker`, whose guard keeps `zipimporter.invalidate_caches`
from re-reading an unchanged archive before each task. These tests pin what
the guard must keep of the stock worker's import semantics (a zip shipped
with `addPyFile` mid-session imports; one replaced in place is re-read and
its new code runs), that it is what the workers run, that it saves the
re-reads, and that the engine returns the same rows under the stock worker
and from a driver whose working directory is outside the repository.
"""

import os
import subprocess
import sys
import uuid
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _by_worker(spark, fn, parts=1):
    """(pid, value) of each row of a pandas UDF over `parts` one-row tasks."""
    def run(s: pd.Series) -> pd.Series:
        return pd.Series([f"{os.getpid()}|{fn()}"] * len(s))

    rows = spark.range(0, parts, 1, parts).select(
        F.pandas_udf(run, "string")("id").alias("v")).collect()
    return [tuple(r.v.split("|", 1)) for r in rows]


def test_guard_installed_in_worker(spark):
    def guard():
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    assert {v for _, v in _by_worker(spark, guard, parts=4)} == {
        "pyspark_geocode_worker"}


def test_reused_worker_reads_no_unchanged_archive(spark):
    """A task's setup re-reads no zip directory in a reused worker: the
    stock worker re-reads pyspark.zip once per zip importer (~16 a task).

    The first task a worker runs here counts `_read_directory` calls from
    then on; every later task in that worker reports the count its own
    setup added, which must be 0."""
    def reads():
        import zipimport

        if not hasattr(zipimport, "_reads_seen"):
            stock = zipimport._read_directory
            zipimport._reads_seen = [0]

            def counted(archive):
                zipimport._reads_seen[0] += 1
                return stock(archive)

            zipimport._read_directory = counted
            return "first"
        seen, zipimport._reads_seen[0] = zipimport._reads_seen[0], 0
        return str(seen)

    counts: dict[str, list[str]] = {}
    # idle workers are reused first in, first out, so the run after one
    # per idle worker lands on a worker seen before
    for _ in range(64):
        ((pid, v),) = _by_worker(spark, reads)
        counts.setdefault(pid, []).append(v)
        if len(counts[pid]) > 1:
            break
    reused = [v for vs in counts.values() for v in vs if v != "first"]
    assert reused, counts
    assert set(reused) == {"0"}, counts


def _zip_module(path, name: str, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_zip_added_after_first_task_imports(spark, tmp_path):
    _by_worker(spark, lambda: "", parts=8)  # workers ran tasks before the zip
    name = f"zguard_added_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.zip"
    _zip_module(path, name, "added")
    spark.sparkContext.addPyFile(str(path))

    def value():
        import importlib

        return importlib.import_module(name).VALUE

    assert {v for _, v in _by_worker(spark, value, parts=8)} == {"added"}


def test_zip_replaced_in_place_is_reread(spark, tmp_path):
    """A zip rewritten in place (new mtime and size) is re-read before the
    next task, so a reload in a worker that imported the old archive runs
    the new code."""
    from pyspark import SparkFiles

    name = f"zguard_swap_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.zip"
    _zip_module(path, name, "old")
    spark.sparkContext.addPyFile(str(path))

    def value():
        import importlib

        return importlib.reload(importlib.import_module(name)).VALUE

    old = _by_worker(spark, value, parts=8)
    assert {v for _, v in old} == {"old"}
    shipped = SparkFiles.get(path.name)  # the copy the workers import from
    _zip_module(shipped, name, "new, and longer than the old")
    st = os.stat(shipped)
    os.utime(shipped, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    # until the new code has run in a worker that held the old directory
    # (idle workers are reused first in, first out)
    for _ in range(16):
        new = _by_worker(spark, value, parts=8)
        assert {v for _, v in new} == {"new, and longer than the old"}
        if {p for p, _ in old} & {p for p, _ in new}:
            break
    else:
        pytest.fail("no worker that imported the old archive ran again")


# ------------------------------------------------- engine rows, other workers
_GEOCODE = r"""
import sys
sys.path[:0] = [%(repo)r]
from geocode_spark.operators.geocode import geocode
from geocode_spark.plans.pipeline import load_locators
from geocode_spark.session import get_spark

spark = get_spark("worker-module-probe", parallelism=2, shuffle_partitions=2,
                  small_input=True, extra_conf=%(conf)r)
fix = %(fix)r
geocode(spark.read.parquet(fix + "/addresses.parquet"), pobox=True,
        **load_locators(spark, fix)).write.parquet(%(out)r)
print(spark.conf.get("spark.python.worker.module"))
spark.stop()
"""


@pytest.fixture(scope="module")
def session_rows(spark, fixtures_dir):
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import load_locators

    return _sorted(geocode(
        spark.read.parquet(f"{fixtures_dir}/addresses.parquet"), pobox=True,
        **load_locators(spark, fixtures_dir)).toPandas())


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values("primary_key", ignore_index=True)


def _geocode_in_subprocess(fixtures_dir, out, cwd, conf=None) -> str:
    """geocode() of the addresses fixture in a new driver process started
    in `cwd` with no PYTHONPATH; returns the worker module it ran."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _GEOCODE % {
            "repo": REPO, "fix": fixtures_dir, "out": str(out),
            "conf": conf or {}}],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.strip().splitlines()[-1]


def test_geocode_same_rows_under_stock_worker(session_rows, fixtures_dir,
                                              tmp_path):
    """The geocode pandas UDF returns identical rows with the stock
    pyspark.worker and with the engine worker module."""
    out = tmp_path / "stock"
    module = _geocode_in_subprocess(
        fixtures_dir, out, REPO,
        conf={"spark.python.worker.module": "pyspark.worker"})
    assert module == "pyspark.worker"
    pd.testing.assert_frame_equal(_sorted(pd.read_parquet(out)), session_rows)


def test_geocode_from_foreign_cwd(session_rows, fixtures_dir, tmp_path):
    """A driver whose working directory is outside the repository (as an
    external harness importing __spark_entry__ runs) still gets a daemon
    that imports the worker module, and the same rows as this session."""
    out = tmp_path / "foreign"
    module = _geocode_in_subprocess(fixtures_dir, out, tmp_path)
    assert module == "pyspark_geocode_worker"
    pd.testing.assert_frame_equal(_sorted(pd.read_parquet(out)), session_rows)
