"""F1 health probe, F9 batch ledger + resume, P4 time formatting, and a real
spark-submit --py-files run of jobs/geocode_job.py (north-rule mandate)."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from geocode_spark.batching import (
    completed_batches,
    read_results,
    run_resumable,
    with_batch_id,
)
from geocode_spark.flowcontrol import (
    ContinuousFailThresholdExceeded,
    InvalidAPIKeyException,
    format_time,
    health_probe,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --------------------------------------------------------------- P4 formatting
@pytest.mark.parametrize(
    "seconds,expected",
    [
        (0.5, "500 ms"),
        (29.999, "29999 ms"),
        (30, "30 seconds"),
        (89.555, "89.56 seconds"),
        (90, "1.5 minutes"),
        (60 * 89.9, "89.9 minutes"),
        (60 * 90, "1.5 hours"),
        (3600 * 10.25, "10.25 hours"),
    ],
)
def test_format_time(seconds, expected):
    # thresholds + rounding per reference geocode.py:65-81
    assert format_time(seconds) == expected


def test_exception_message_parity():
    ex = ContinuousFailThresholdExceeded()
    assert str(ex) == "Continuous fail threshold reached. Failing entire job."
    ex2 = InvalidAPIKeyException(7, "k1", "bad key")
    assert "primary_key: k1" in str(ex2)
    assert "Total rows processed: 7" in str(ex2)


# ------------------------------------------------------------------- F1 probe
def _result(spark, fixtures_dir, rows):
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import load_locators

    df = spark.createDataFrame(rows, "id string, street string, zone string")
    return geocode(df, pobox=True, **load_locators(spark, fixtures_dir))


def test_probe_aborts_when_all_fail(spark, fixtures_dir):
    # 25 rows of guaranteed garbage, mirroring tests/fail-fast.csv (25 leading
    # failures trip the breaker exactly at the probe boundary, geocode.py:190).
    bad = [(f"r{i}", "0 north 0 east", "null island") for i in range(25)]
    with pytest.raises(ContinuousFailThresholdExceeded):
        health_probe(_result(spark, fixtures_dir, bad))


def test_probe_ignore_failures_flag(spark, fixtures_dir):
    bad = [(f"r{i}", "0 north 0 east", "null island") for i in range(25)]
    stats = health_probe(_result(spark, fixtures_dir, bad), ignore_failures=True)
    assert stats == {"probed": 25, "failed": 25}


def test_probe_passes_with_any_success(spark, fixtures_dir, sf_dir):
    # one real fixture address among the garbage -> sequential_fails resets
    # (reference geocode.py:242) -> no abort.
    good = (
        spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
        .limit(200)
        .collect()
    )
    rows = [(f"b{i}", "xyzzy", "nowhere") for i in range(20)] + [
        (str(r["id"]), r["street"], r["zone"]) for r in good[:5]
    ]
    stats = health_probe(_result(spark, fixtures_dir, rows))
    assert stats["probed"] == 25 and stats["failed"] < 25


def test_probe_small_input_never_aborts(spark, fixtures_dir):
    # fewer rows than the probe window -> breaker can't trip (the reference
    # only checks at total == 25, geocode.py:190).
    bad = [(f"r{i}", "0 north 0 east", "null island") for i in range(10)]
    stats = health_probe(_result(spark, fixtures_dir, bad))
    assert stats == {"probed": 10, "failed": 10}


# ----------------------------------------------------------- F9 ledger/resume
def test_batch_id_deterministic(spark):
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.concat_ws("-", F.lit("k"), F.col("id")).alias("primary_key")
    )
    a = with_batch_id(df, 8).groupBy("batch_id").count().collect()
    b = with_batch_id(df.repartition(17), 8).groupBy("batch_id").count().collect()
    assert sorted((r["batch_id"], r["count"]) for r in a) == sorted(
        (r["batch_id"], r["count"]) for r in b
    )
    assert {r["batch_id"] for r in a} == set(range(8))


def test_run_resumable_and_resume(spark, fixtures_dir, tmp_path):
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import load_locators

    from pyspark.sql import functions as F

    # NOTE: the batch input must be deterministic (limit() is not — each
    # per-batch job re-executes the plan); use a pure filter of the key.
    addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet").filter(
        F.pmod(F.xxhash64("id"), F.lit(1000)) < 400
    )
    n_in = addr.count()
    result = geocode(addr, pobox=True, **load_locators(spark, fixtures_dir))
    out = str(tmp_path / "run1")

    s1 = run_resumable(spark, result, out, n_batches=4, log=lambda m: None)
    assert s1["total"] == n_in and s1["skipped"] == []
    assert completed_batches(out) == {0, 1, 2, 3}

    # ledger carries metrics + per-partition lineage
    with open(os.path.join(out, "_ledger", "batch-00002.json")) as fh:
        rec = json.load(fh)
    assert rec["total"] == rec["fail"] + rec["success"]
    assert rec["partitions"] and all(
        p["rows"] >= p["fail"] >= 0 for p in rec["partitions"]
    )
    assert sum(p["rows"] for p in rec["partitions"]) == rec["total"]

    # results round-trip with the 11-column contract
    got = read_results(spark, out)
    assert got.count() == n_in
    from geocode_spark import RESULT_COLUMNS

    assert tuple(sorted(got.columns)) == tuple(sorted(RESULT_COLUMNS))

    # simulate a crash: delete one batch's ledger + data, then resume
    shutil.rmtree(os.path.join(out, "batch_id=1"))
    os.remove(os.path.join(out, "_ledger", "batch-00001.json"))
    s2 = run_resumable(spark, result, out, n_batches=4, log=lambda m: None)
    assert s2["skipped"] == [0, 2, 3]  # only batch 1 recomputed
    assert s2["total"] == n_in
    assert read_results(spark, out).count() == n_in

    # resume=False recomputes everything
    s3 = run_resumable(spark, result, out, n_batches=4, resume=False,
                       log=lambda m: None)
    assert s3["skipped"] == [] and s3["total"] == n_in


# ------------------------------------------------- spark-submit --py-files run
def _build_pyfiles_zip(path: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        pkg = os.path.join(REPO, "geocode_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))


@pytest.mark.slow
def test_spark_submit_job_end_to_end(fixtures_dir, tmp_path):
    """The north-rule deployment shape: spark-submit --py-files geocode_spark.zip."""
    zip_path = str(tmp_path / "geocode_spark.zip")
    _build_pyfiles_zip(zip_path)
    out = str(tmp_path / "jobout")

    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(os.path.dirname(sys.executable)), "bin", "spark-submit"
    )
    if not (spark_submit and os.path.exists(spark_submit)):
        import pyspark

        spark_submit = os.path.join(pyspark.__path__[0], "bin", "spark-submit")

    cmd = [
        spark_submit, "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "geocode_job.py"),
        "--pages", f"{fixtures_dir}/pages.parquet",
        "--locators-dir", fixtures_dir,
        "--output", out, "--batches", "3", "--resume", "--pobox",
    ]
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                          env=env, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["status"] == "ok"
    assert summary["total"] > 0 and summary["batches"] == 3
    assert completed_batches(out) == {0, 1, 2}


@pytest.mark.slow
def test_spark_submit_csv_mode(fixtures_dir, tmp_path):
    """Reference-CLI parity path: header CSV in, user-named columns projected
    at the scan (geocode.py:324-344), timestamped header-CSV sink
    (geocode.py:168-174), exact 11-column HEADER (geocode.py:33-36)."""
    import csv as csvmod
    import glob

    import pandas as pd

    zip_path = str(tmp_path / "geocode_spark.zip")
    _build_pyfiles_zip(zip_path)
    out = str(tmp_path / "csvout")

    addr = pd.read_parquet(f"{fixtures_dir}/addresses.parquet")
    addr = addr.rename(columns={"id": "OBJECTID", "street": "ADDR", "zone": "ZIP"})
    csv_in = str(tmp_path / "addresses.csv")
    addr.to_csv(csv_in, index=False, quoting=csvmod.QUOTE_MINIMAL)

    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(os.path.dirname(sys.executable)), "bin", "spark-submit"
    )
    if not (spark_submit and os.path.exists(spark_submit)):
        import pyspark

        spark_submit = os.path.join(pyspark.__path__[0], "bin", "spark-submit")

    cmd = [
        spark_submit, "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "geocode_job.py"),
        "--addresses", csv_in,
        "--id-field", "OBJECTID", "--street-field", "ADDR", "--zone-field", "ZIP",
        "--locators-dir", fixtures_dir,
        "--output", out, "--batches", "2", "--pobox", "--csv-output",
    ]
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                          env=env, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["status"] == "ok"
    assert summary["total"] == len(addr)
    assert summary["csv_output"] and "geocoding_results_" in summary["csv_output"]

    parts = sorted(glob.glob(f"{summary['csv_output']}/part-*.csv"))
    assert parts
    got = pd.concat([pd.read_csv(p, dtype=str) for p in parts])
    # exact output header, reference geocode.py:33-36
    assert list(got.columns) == [
        "primary_key", "input_street", "input_zone", "x", "y", "score",
        "locator", "matchAddress", "standardizedAddress", "addressGrid",
        "message",
    ]
    assert len(got) == len(addr)
    assert set(got["primary_key"]) == set(addr["OBJECTID"].astype(str))


# ------------------------------------------------- S7 version walk-up (ported)
# Behavior ports of reference tests/test_geocode.py:36-71.
def _write_version(tmpdir, version="1.0.0"):
    from pathlib import Path

    v = Path(tmpdir) / "tool-version.json"
    v.write_text('{"PRO_VERSION_NUMBER": "%s"}' % version)
    return v


def test_get_local_finds_version_from_src(tmp_path):
    from geocode_spark import get_local_version

    _write_version(tmp_path)
    src = tmp_path / "module-folder" / "src" / "geocode.py"
    src.mkdir(parents=True)
    assert get_local_version(src) == "1.0.0"


def test_get_local_returns_null_3_levels_up(tmp_path):
    from geocode_spark import get_local_version

    _write_version(tmp_path)
    src = (tmp_path / "module-folder" / "another-folder" / "more-folders"
           / "too-many-folders" / "geocode.py")
    src.mkdir(parents=True)
    assert get_local_version(src) is None


def test_get_local_finds_version_from_sibling(tmp_path):
    from geocode_spark import get_local_version

    _write_version(tmp_path)
    assert get_local_version(tmp_path / "geocode.py") == "1.0.0"


def test_get_local_default_reads_repo_version():
    import geocode_spark

    assert geocode_spark.get_local_version() == geocode_spark.__version__


# ---------------------------------------------------- F2 invalid-config raise
def test_missing_locator_dir_raises_invalid_api_key(spark, tmp_path):
    from geocode_spark.flowcontrol import InvalidAPIKeyException
    from geocode_spark.plans.pipeline import load_locators

    with pytest.raises(InvalidAPIKeyException) as exc_info:
        load_locators(spark, str(tmp_path / "nope"))
    msg = exc_info.value.message
    # message format parity: reference geocode.py:299-308
    assert msg.startswith("\n\nError returned for primary_key: None \n")
    assert "API response message: locator table missing or unreadable" in msg
    assert "Total rows processed: 0" in msg


def test_batch_write_is_single_pass(spark, tmp_path):
    """The write job evaluates the source plan ONCE for all batches (the old
    per-batch-filter loop re-ran it n_batches times: n x scan amplification)."""
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def touch(s):
        acc.add(1)
        return s

    n = 1000
    df = spark.range(n).select(F.col("id").cast("string").alias("primary_key"))
    result = (
        df.withColumn("probe", touch("primary_key"))
        .withColumn("message", F.lit(None).cast("string"))
        .withColumn("score", F.lit(90).cast("bigint"))
    )
    s = run_resumable(spark, result, str(tmp_path / "one-pass"), n_batches=8,
                      log=lambda m: None)
    assert s["total"] == n
    assert acc.value == n  # one evaluation per row, not n_batches per row


def test_staged_resume_prunes_partitions(spark, fixtures_dir, tmp_path):
    """VERDICT r02 #8: bucket-aligned staging — a resumed run's pending
    filter must prune the staged source at the FILE level (PartitionFilters),
    not hash-filter a full scan; crash-resume over the staged path recomputes
    only the missing batch."""
    import glob

    from geocode_spark.batching import (
        read_staged_batches,
        run_resumable_staged,
        stage_batched_source,
    )

    addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
    staged = stage_batched_source(
        spark, addr, str(tmp_path / "staged"), n_batches=4, key="id"
    )

    pruned = read_staged_batches(spark, staged, [2])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "batch_id" in plan
    all_files = glob.glob(f"{staged}/batch_id=*/*.parquet")
    sel_files = glob.glob(f"{staged}/batch_id=2/*.parquet")
    assert 0 < len(sel_files) < len(all_files)
    assert pruned.count() == spark.read.parquet(f"{staged}/batch_id=2").count()

    out = str(tmp_path / "staged_out")
    s1 = run_resumable_staged(
        spark, staged, out, n_batches=4, key="id", log=lambda m: None
    )
    assert s1["total"] == addr.count() and s1["skipped"] == []

    # crash-resume: drop one ledger record; only that batch recomputes
    os.remove(os.path.join(out, "_ledger", "batch-00001.json"))
    s2 = run_resumable_staged(
        spark, staged, out, n_batches=4, key="id", log=lambda m: None
    )
    assert s2["skipped"] == [0, 2, 3]
    assert s2["total"] == s1["total"] and s2["fail"] == s1["fail"]


def _reference_record(spark, out, k):
    """A batch's ledger metrics computed the per-batch way: read
    ``batch_id=k`` alone and group it by partition id."""
    from pyspark.sql import functions as F

    batch_dir = os.path.join(out, f"batch_id={k}")
    if not os.path.isdir(batch_dir):
        return {"total": 0, "fail": 0, "success": 0, "score_sum": 0,
                "failure_rate": 100, "average_score": "n/a", "partitions": []}
    failed = F.col("message").isNotNull()
    rows = (
        spark.read.parquet(batch_dir).groupBy("_pid")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.when(failed, 1).otherwise(0)).alias("fail"),
            F.sum(F.when(~failed, F.col("score"))).alias("score_sum"),
        )
        .orderBy("_pid").collect()
    )
    total = sum(r["rows"] for r in rows)
    fail = sum(int(r["fail"]) for r in rows)
    score_sum = sum(int(r["score_sum"] or 0) for r in rows)
    success = total - fail
    return {
        "total": total, "fail": fail, "success": success,
        "score_sum": score_sum,
        "failure_rate": round(100 * fail / total) if total else 100,
        "average_score": round(score_sum / success) if success else "n/a",
        "partitions": [
            {"partition_id": r["_pid"], "rows": r["rows"],
             "fail": int(r["fail"])}
            for r in rows
        ],
    }


@pytest.mark.parametrize("n_rows,n_batches", [(1000, 4), (1000, 16), (5, 16)])
def test_ledger_parity_and_one_job(spark, tmp_path, monkeypatch, n_rows,
                                   n_batches):
    """Every ledger record equals (apart from ``seconds``) the per-batch
    reference, on a fresh run and on a resume of 2 lost batches, including
    empty batches (more batches than rows); the ledger step is exactly one
    Spark job whatever n_batches is."""
    from pyspark.sql import functions as F

    from geocode_spark import ENGINE_NAME, __version__, batching

    engine = f"{ENGINE_NAME}/{__version__}"
    sc = spark.sparkContext
    jobs = []
    real = batching._ledger_metrics

    def counted(*args, **kwargs):
        group = f"ledger-step-{len(jobs)}-{n_batches}-{n_rows}"
        sc.setJobGroup(group, "ledger step")
        try:
            return real(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(batching, "_ledger_metrics", counted)

    i = F.col("id")
    result = spark.range(0, n_rows, numPartitions=3).select(
        i.cast("string").alias("primary_key"),
        F.when(i % 7 == 0, F.lit("No address candidates found."))
        .alias("message"),
        F.when(i % 7 == 0, F.lit(0)).otherwise(70 + i % 31)
        .cast("bigint").alias("score"),
    )
    out = str(tmp_path / "run")

    def check_ledgers():
        for k in range(n_batches):
            with open(batching._ledger_path(out, k)) as fh:
                rec = json.load(fh)
            rec.pop("seconds")
            want = _reference_record(spark, out, k)
            assert rec == {"batch_id": k, "engine": engine, **want}, k

    s1 = run_resumable(spark, result, out, n_batches=n_batches,
                       log=lambda m: None)
    assert s1["total"] == n_rows
    check_ledgers()
    if n_rows < n_batches:
        assert sum(
            not os.path.isdir(os.path.join(out, f"batch_id={k}"))
            for k in range(n_batches)
        ) >= n_batches - n_rows  # the zero records were compared too

    lost = [k for k in range(n_batches)
            if os.path.isdir(os.path.join(out, f"batch_id={k}"))][:2]
    for k in lost:
        os.remove(batching._ledger_path(out, k))
        shutil.rmtree(os.path.join(out, f"batch_id={k}"))
    s2 = run_resumable(spark, result, out, n_batches=n_batches,
                       log=lambda m: None)
    assert s2["skipped"] == [k for k in range(n_batches) if k not in lost]
    assert s2["total"] == n_rows
    check_ledgers()
    assert jobs == [1, 1]
