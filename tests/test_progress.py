"""A4 periodic progress reporting + F8 run-level engine metadata.

The reference logs a status block every 10,000 rows (geocode.py:256-258,
block at 150-162) and stamps every HTTP request with its client version
header (geocode.py:83-96). The distributed analogs under test:

- ProgressReporter: an Arrow-batch row accumulator in the extraction kernel
  + a driver sampler thread emitting one line per crossed boundary;
- log_status_lines: the reference's exact three-line block (incl. both
  divide-by-zero rules) from running ledger totals;
- run_resumable(status_log=...): cumulative status block after every batch
  commit, computed from the committed ledgers;
- _run_meta.json: every run directory carries engine/version identification
  (the version-header analog for artifacts instead of requests).
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geocode_spark import ENGINE_NAME, __version__
from geocode_spark.progress import ProgressReporter, log_status_lines


def _result_plan(spark, fixtures_dir, sf_dir, progress_acc=None):
    from geocode_spark.plans.pipeline import geocode_pages, load_locators

    pages = spark.read.parquet(f"{fixtures_dir}/pages.parquet")
    locs = load_locators(spark, fixtures_dir)
    return geocode_pages(pages, locs, progress_acc=progress_acc)


def test_log_status_block_parity():
    # exact reference strings, including round() and both div-zero rules
    assert log_status_lines(10, 3, 850) == [
        "Total requests: 10",
        "Failure rate: 30%",
        "Average score: 121",  # 850 / 7 successes -> round() -> 121
    ]
    assert log_status_lines(0, 0, 0) == [
        "Total requests: 0",
        "Failure rate: 100%",  # ZeroDivisionError -> 100 (geocode.py:151-154)
        "Average score: n/a",  # zero successes -> n/a (geocode.py:155-158)
    ]
    assert log_status_lines(4, 4, 0)[2] == "Average score: n/a"
    # score_sum=None (a resumed pre-score_sum ledger): unknowable, never a
    # partial sum divided by all successes
    assert log_status_lines(10, 3, None)[2] == "Average score: n/a"


def test_reporter_excludes_rows_processed_before_start(
    spark, fixtures_dir, sf_dir
):
    # geocode_job runs the health probe on the SAME instrumented plan
    # before reporter.start(); rows the kernel counts before start() must
    # not back-fill boundaries or inflate "Total requests". (The probe's
    # limit() path usually drops its accumulator updates with the
    # early-terminated task, but whether they ship depends on partition
    # size vs probe_count — a partition smaller than the limit IS fully
    # consumed and DOES ship. Simulate the shipped case with a full
    # pre-start pass, the worst case.)
    lines = []
    rep = ProgressReporter(spark, every=500, interval=0.1, log=lines.append)
    result = _result_plan(spark, fixtures_dir, sf_dir, progress_acc=rep.acc)
    assert len(result.toPandas()) == 2000  # pre-start execution
    assert int(rep.acc.value) == 2000
    with rep:
        n = len(result.toPandas())
    assert n == 2000
    # boundaries reflect only post-start rows: exactly one dataset pass,
    # not [500..4000] back-filled from the pre-start counts
    assert rep.boundaries == [500, 1000, 1500, 2000]


def test_resume_over_ledger_without_score_sum(
    spark, fixtures_dir, sf_dir, tmp_path
):
    # A ledger written by an engine version that predates score_sum must
    # surface 'n/a', not a silently understated average
    from geocode_spark.batching import run_resumable, _ledger_path

    out = str(tmp_path / "run")
    result = _result_plan(spark, fixtures_dir, sf_dir)
    run_resumable(spark, result, out, n_batches=4, key="primary_key",
                  log=lambda m: None)
    # strip score_sum from one committed ledger (old-version artifact)
    lp = _ledger_path(out, 1)
    rec = json.load(open(lp))
    del rec["score_sum"]
    with open(lp, "w") as fh:
        json.dump(rec, fh)
    # force batch 2 pending so the resume recomputes and re-summarizes
    os.remove(_ledger_path(out, 2))
    blocks = []
    s2 = run_resumable(spark, result, out, n_batches=4, key="primary_key",
                       log=lambda m: None, status_log=blocks.append)
    assert s2["score_sum"] is None
    assert blocks[-1][2] == "Average score: n/a"
    # totals are still exact -- only the score average is unknowable
    assert s2["total"] == 2000


def test_progress_reporter_cadence_and_total(spark, fixtures_dir, sf_dir):
    lines = []
    rep = ProgressReporter(spark, every=500, interval=0.1, log=lines.append)
    result = _result_plan(spark, fixtures_dir, sf_dir, progress_acc=rep.acc)
    with rep:
        # consume result COLUMNS, not a bare count(): Catalyst prunes the
        # extraction kernel out of a count(*)-only plan (correctly — nothing
        # reads its output), and a pruned kernel reports no progress
        n = len(result.toPandas())
    assert n == 2000
    # the kernel processed every input row exactly once (asNondeterministic
    # keeps Catalyst from running the Arrow stage per pushed-down branch)
    assert int(rep.acc.value) == 2000
    # one report per crossed 500-row boundary, in order
    assert rep.boundaries == [500, 1000, 1500, 2000]
    assert [ln.split(" (")[0] for ln in lines] == [
        "Total requests: 500",
        "Total requests: 1000",
        "Total requests: 1500",
        "Total requests: 2000",
    ]


def test_progress_acc_does_not_change_results(spark, fixtures_dir, sf_dir):
    base = _result_plan(spark, fixtures_dir, sf_dir).orderBy("primary_key")
    rep = ProgressReporter(spark, every=10_000, log=lambda m: None)
    wired = _result_plan(
        spark, fixtures_dir, sf_dir, progress_acc=rep.acc
    ).orderBy("primary_key")
    assert base.columns == wired.columns
    a = base.toPandas()
    b = wired.toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)


def test_run_status_log_and_meta_sidecar(spark, fixtures_dir, sf_dir, tmp_path):
    from geocode_spark.batching import run_resumable

    out = str(tmp_path / "run")
    status_blocks = []
    result = _result_plan(spark, fixtures_dir, sf_dir)
    summary = run_resumable(
        spark, result, out, n_batches=4, key="primary_key",
        log=lambda m: None, status_log=status_blocks.append,
    )
    # one cumulative three-line block per committed batch
    assert len(status_blocks) == 4
    for block in status_blocks:
        assert len(block) == 3 and block[0].startswith("Total requests: ")
    # the final block's totals are the whole job's (cumulative, not per-batch)
    assert status_blocks[-1] == log_status_lines(
        summary["total"], summary["fail"], summary["score_sum"]
    )
    totals = [int(b[0].rsplit(" ", 1)[1]) for b in status_blocks]
    assert totals == sorted(totals) and totals[-1] == summary["total"]

    # F8: the run dir is stamped with engine identification
    meta = json.load(open(os.path.join(out, "_run_meta.json")))
    assert meta["engine"] == f"{ENGINE_NAME}/{__version__}"
    assert meta["spark_version"] == spark.version
    assert meta["n_batches"] == 4

    # resume with nothing pending: no new status blocks, meta intact
    status_blocks.clear()
    s2 = run_resumable(
        spark, result, out, n_batches=4, key="primary_key",
        log=lambda m: None, status_log=status_blocks.append,
    )
    assert s2["skipped"] == [0, 1, 2, 3] and status_blocks == []

    # a pure-RESUME run must keep the producing run's stamp...
    doctored = dict(meta, engine="older-engine/0.0")
    meta_path = os.path.join(out, "_run_meta.json")
    json.dump(doctored, open(meta_path, "w"))
    run_resumable(
        spark, result, out, n_batches=4, key="primary_key",
        log=lambda m: None,
    )
    assert json.load(open(meta_path))["engine"] == "older-engine/0.0"
    # ...but a resume=False re-run REWRITES every batch, so the stamp
    # must follow the engine that now produced the directory's contents
    run_resumable(
        spark, result, out, n_batches=4, key="primary_key",
        resume=False, log=lambda m: None,
    )
    assert (
        json.load(open(meta_path))["engine"] == f"{ENGINE_NAME}/{__version__}"
    )


def test_progress_counts_only_resumed_batch(spark, fixtures_dir, sf_dir,
                                            tmp_path):
    # the resume's batch-key filter runs below the counting kernel, so a
    # resume of 1 lost batch of 4 processes (and counts) only that batch's
    # rows, not the whole input
    import shutil

    from geocode_spark.batching import _ledger_path, run_resumable

    rep = ProgressReporter(spark, every=10_000, log=lambda m: None)
    result = _result_plan(spark, fixtures_dir, sf_dir, progress_acc=rep.acc)
    out = str(tmp_path / "run")
    run_resumable(spark, result, out, n_batches=4, key="primary_key",
                  log=lambda m: None)
    assert int(rep.acc.value) == 2000

    lost = json.load(open(_ledger_path(out, 2)))["total"]
    assert 0 < lost < 2000
    os.remove(_ledger_path(out, 2))
    shutil.rmtree(os.path.join(out, "batch_id=2"))
    before = int(rep.acc.value)
    s2 = run_resumable(spark, result, out, n_batches=4, key="primary_key",
                       log=lambda m: None)
    assert s2["skipped"] == [0, 1, 3] and s2["total"] == 2000
    assert int(rep.acc.value) - before == lost

    # a resume=False re-run rewrites every batch: its cumulative status
    # block starts from zero, not from the ledgers it replaces
    blocks = []
    run_resumable(spark, result, out, n_batches=4, key="primary_key",
                  resume=False, log=lambda m: None, status_log=blocks.append)
    assert blocks[-1][0] == "Total requests: 2000"
