"""Mid-run crash-resume for the staged curation and geocode pipelines
(round-3 verdict item #7).

The existing staged-resume test removes a ledger record after a CLEAN run;
this one injects a failure DURING the run — the process dies after 3 of 6
batch ledgers commit (the post-write ledger loop, the only crash window the
single-pass write leaves besides the write job itself) — then resumes and
must (a) skip exactly the committed batches, (b) scan only pending
partitions (partition-filter plan check), and (c) produce output equal to an
uninterrupted run.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geocode_spark.batching import (
    completed_batches,
    read_results,
    read_staged_batches,
    run_resumable_staged,
    stage_batched_source,
)

N_BATCHES = 6


class _InjectedCrash(RuntimeError):
    pass


def _curated_relation(spark, sf_dir):
    """The curation job's pre-staging relation (jobs/curation_job.py steps
    1-3): decontaminated, repetition-filtered, PII-redacted documents."""
    from pyspark.sql import functions as F

    from geocode_spark.textops.corpusops import decontaminate, doc_repetition
    from geocode_spark.textops.textstats import with_pii_columns

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clean = decontaminate(docs).filter(
        F.col("is_contaminated") == 0
    ).select("doc_id")
    keep_rep = doc_repetition(docs).filter(
        F.col("repetition_ratio") <= 0.5
    ).select("doc_id")
    return with_pii_columns(docs.join(clean, "doc_id").join(keep_rep, "doc_id"))


def test_curation_staged_pipeline_mid_run_crash_resume(spark, sf_dir, tmp_path):
    redacted = _curated_relation(spark, sf_dir)
    staged = stage_batched_source(
        spark, redacted, str(tmp_path / "staged"), n_batches=N_BATCHES,
        key="doc_id",
    )

    # uninterrupted reference run
    out_ref = str(tmp_path / "out_ref")
    ref = run_resumable_staged(
        spark, staged, out_ref, n_batches=N_BATCHES, key="doc_id",
        log=lambda m: None,
    )
    assert ref["skipped"] == [] and ref["total"] > 0

    # crashed run: die after the 3rd ledger commit (log fires post-commit)
    out = str(tmp_path / "out_crash")
    commits = {"n": 0}

    def crashing_log(msg):
        commits["n"] += 1
        if commits["n"] == 3:
            raise _InjectedCrash(msg)

    with pytest.raises(_InjectedCrash):
        run_resumable_staged(
            spark, staged, out, n_batches=N_BATCHES, key="doc_id",
            log=crashing_log,
        )
    committed = completed_batches(out)
    assert len(committed) == 3, committed

    # the resumed run reads the staged source through this exact
    # constructor — its pending filter must land as a PARTITION filter
    # (file pruning), not a hash filter over a full scan
    pending = [k for k in range(N_BATCHES) if k not in committed]
    plan = (
        read_staged_batches(spark, staged, pending)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "batch_id" in plan

    resumed = run_resumable_staged(
        spark, staged, out, n_batches=N_BATCHES, key="doc_id",
        log=lambda m: None,
    )
    assert sorted(resumed["skipped"]) == sorted(committed)
    assert resumed["total"] == ref["total"]
    assert resumed["fail"] == ref["fail"]

    got = (
        read_results(spark, out).toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        read_results(spark, out_ref).toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    assert got.columns.tolist() == want.columns.tolist()
    import pandas as pd

    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)]
    )


def test_geocode_staged_pipeline_mid_run_crash_resume(
    spark, fixtures_dir, tmp_path
):
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import load_locators

    addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
    staged = stage_batched_source(
        spark, addr, str(tmp_path / "staged"), n_batches=N_BATCHES, key="id",
    )
    locs = load_locators(spark, fixtures_dir)

    def transform(src):
        # primary_key is the address id as a string, so the output batch
        # of a row is the batch it was staged in
        return geocode(src, pobox=True, **locs)

    # uninterrupted reference run
    out_ref = str(tmp_path / "out_ref")
    ref = run_resumable_staged(
        spark, staged, out_ref, transform, n_batches=N_BATCHES,
        log=lambda m: None,
    )
    assert ref["skipped"] == [] and ref["total"] > 0

    # crashed run: die after the 3rd ledger commit (log fires post-commit)
    out = str(tmp_path / "out_crash")
    commits = {"n": 0}

    def crashing_log(msg):
        commits["n"] += 1
        if commits["n"] == 3:
            raise _InjectedCrash(msg)

    with pytest.raises(_InjectedCrash):
        run_resumable_staged(
            spark, staged, out, transform, n_batches=N_BATCHES,
            log=crashing_log,
        )
    committed = completed_batches(out)
    assert len(committed) == 3, committed

    # the resumed run reads the staged source through this exact
    # constructor — its pending filter must land as a PARTITION filter
    # (file pruning), not a hash filter over a full scan
    pending = [k for k in range(N_BATCHES) if k not in committed]
    plan = (
        read_staged_batches(spark, staged, pending)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "batch_id" in plan

    resumed = run_resumable_staged(
        spark, staged, out, transform, n_batches=N_BATCHES,
        log=lambda m: None,
    )
    assert sorted(resumed["skipped"]) == sorted(committed)
    assert resumed["total"] == ref["total"]
    assert resumed["fail"] == ref["fail"]

    got = (
        read_results(spark, out).toPandas()
        .sort_values("primary_key").reset_index(drop=True)
    )
    want = (
        read_results(spark, out_ref).toPandas()
        .sort_values("primary_key").reset_index(drop=True)
    )
    assert got.columns.tolist() == want.columns.tolist()
    import pandas as pd

    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)]
    )
