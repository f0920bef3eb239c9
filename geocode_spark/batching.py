"""Checkpoint-resumable batches + per-partition lineage (F9/A1, SURVEY §2.5).

The reference is crash-resumable only by accident: it flushes each result row
to the CSV as it goes (geocode.py:171-250), so a crashed run's completed rows
survive on disk, and every run writes a new timestamped file
(geocode.py:168-169). The Spark-native contract makes that explicit:

  * the input is split into ``n_batches`` deterministic batches,
    ``batch_id = pmod(xxhash64(primary_key), n)`` — a pure function of the
    key, independent of partitioning/parallelism, so batch membership is
    stable across runs and cluster sizes;
  * ONE job writes every pending batch to ``{out}/batch_id={k}/``, then ONE
    ledger job reads them back and a record per batch
    ``{out}/_ledger/batch-{k}.json`` is committed via tmp-file + rename;
  * resume = skip every batch whose ledger record exists (the anti-join of
    SURVEY F9 — done driver-side since the ledger is tiny); the pending
    filter on the key runs at the source scan, below the Arrow kernels;
  * the ledger record carries the reference's metrics (total/fail/success/
    failure-rate/avg-score, geocode.py:136-158) **plus per-partition
    lineage**: rows and failures per physical task partition, derived from a
    persisted ``_pid = spark_partition_id()`` provenance column. Lineage is
    computed by scanning the *committed* files, so the ledger describes what
    actually landed on disk, not the pre-commit plan.

At 10^12-document scale the batch predicate should align with the Iceberg
partition spec (``bucket(N, url)`` / ``days(warc_ts)``) so each batch prunes
to its own files; here it is a pushed-down-able hash filter on the key.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import ENGINE_NAME, __version__
from .flowcontrol import format_time

LINEAGE_COL = "_pid"


def with_batch_id(df: DataFrame, n_batches: int, key: str = "primary_key") -> DataFrame:
    """Deterministic batch assignment — pure function of the key value."""
    return df.withColumn(
        "batch_id", F.pmod(F.xxhash64(F.col(key)), F.lit(n_batches)).cast("int")
    )


def _ledger_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_ledger")


def _ledger_path(out_dir: str, batch_id: int) -> str:
    return os.path.join(_ledger_dir(out_dir), f"batch-{batch_id:05d}.json")


def completed_batches(out_dir: str) -> set[int]:
    """Batch ids whose ledger record exists (the resume anti-join set)."""
    d = _ledger_dir(out_dir)
    if not os.path.isdir(d):
        return set()
    out = set()
    for name in os.listdir(d):
        if name.startswith("batch-") and name.endswith(".json"):
            out.add(int(name[len("batch-"):-len(".json")]))
    return out


def _commit_ledger(out_dir: str, batch_id: int, record: dict) -> None:
    d = _ledger_dir(out_dir)
    os.makedirs(d, exist_ok=True)
    tmp = _ledger_path(out_dir, batch_id) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(record, fh, sort_keys=True)
    os.replace(tmp, _ledger_path(out_dir, batch_id))  # atomic on POSIX


def _pending_plan(result_df: DataFrame, n_batches: int, pending: list,
                  key: str) -> DataFrame:
    """The write plan for the ``pending`` batches. A partial run's batch
    filter goes on BEFORE the nondeterministic lineage column, so Catalyst
    can push it through the deterministic projections and Arrow kernels to
    the source scan (pinned by tests/test_plans.py)."""
    df = with_batch_id(result_df, n_batches, key=key)
    if len(pending) < n_batches:
        df = df.filter(F.col("batch_id").isin(pending))
    return df.withColumn(LINEAGE_COL, F.spark_partition_id())


def _ledger_metrics(spark: SparkSession, out_dir: str, written: StructType,
                    pending: list) -> dict:
    """{batch_id: metrics + per-partition lineage} of the ``pending``
    batches, from their committed files in ONE Spark job: the read names its
    schema (no inference job), and ``coalesce(1)`` keeps the aggregate in
    one task (a keyed groupBy's shuffle runs as a job of its own under
    adaptive execution). An empty batch has no directory: zero record."""
    # geocode batches carry (message, score); any other relation (e.g. the
    # corpus job's canonical docs) gets row lineage with zero/n-a metrics
    has_geo = {"message", "score"} <= set(written.names)
    groups = {k: [] for k in pending}
    dirs = [os.path.join(out_dir, f"batch_id={k}") for k in pending]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if dirs:
        cols = ["batch_id", LINEAGE_COL] + (["message", "score"] if has_geo else [])
        df = (
            spark.read.schema(StructType([written[c] for c in cols]))
            .option("basePath", out_dir).parquet(*dirs).coalesce(1)
        )
        failed = F.col("message").isNotNull() if has_geo else F.lit(False)
        score = F.col("score") if has_geo else F.lit(0)
        for r in (
            df.groupBy("batch_id", LINEAGE_COL)
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.when(failed, 1).otherwise(0)).alias("fail"),
                F.sum(F.when(~failed, score)).alias("score_sum"),
            )
            .orderBy("batch_id", LINEAGE_COL).collect()
        ):
            groups[r["batch_id"]].append(r)
    return {k: _batch_record(rows) for k, rows in groups.items()}


def _batch_record(rows: list) -> dict:
    """One batch's ledger metrics from its (rows, fail, score_sum) groups."""
    lineage = [
        {"partition_id": r[LINEAGE_COL], "rows": r["rows"], "fail": int(r["fail"])}
        for r in rows
    ]
    total = sum(p["rows"] for p in lineage)
    fail = sum(p["fail"] for p in lineage)
    score_sum = sum(int(r["score_sum"] or 0) for r in rows)
    success = total - fail
    return {
        "total": total,
        "fail": fail,
        "success": success,
        "score_sum": score_sum,  # lets later runs aggregate averages exactly
        # ZeroDivisionError -> 100 (reference geocode.py:151-154)
        "failure_rate": round(100 * fail / total) if total else 100,
        "average_score": round(score_sum / success) if success else "n/a",
        "partitions": lineage,
    }


def run_resumable(
    spark: SparkSession,
    result_df: DataFrame,
    out_dir: str,
    n_batches: int = 16,
    key: str = "primary_key",
    resume: bool = True,
    log=print,
    status_log=None,
) -> dict:
    """Execute `result_df` (an assembled, unexecuted 11-column geocode plan)
    as n_batches independently-committed, resumable batches.

    ONE source pass: every pending batch is written by a single
    ``partitionBy("batch_id")`` job under dynamic partition overwrite.
    Committed partitions are untouched on resume (dynamic overwrite replaces
    only the partitions the job writes; a crashed job left no ledger, so its
    partial partitions are rewritten wholesale). After the write, ONE ledger
    job reads back the rewritten batches and a record per batch is
    committed, so each record describes what is actually on disk.

    The key column must come from the source through deterministic
    projections (no ``limit()``, sampling or ``rand()``, no
    nondeterministic UDF in between): batch membership is a pure key
    function, and only then does a resume's pending-batch filter reach the
    source scan instead of running above the whole plan.

    status_log (A4, reference geocode.py:150-162,256-258): optional callback
    receiving the reference's three-line status block — cumulative Total
    requests / Failure rate / Average score over every committed ledger —
    after each batch commit (the distributed analog of the per-10k-row
    cadence; per-ROW cadence comes from progress.ProgressReporter).

    Returns a run summary {batches, skipped, total, fail, success,
    score_sum, seconds}.
    """
    t0 = time.perf_counter()
    _write_run_meta(spark, out_dir, n_batches, resume=resume)
    done = completed_batches(out_dir) if resume else set()
    pending = [k for k in range(n_batches) if k not in done]
    if pending:
        plan = _pending_plan(result_df, n_batches, pending, key)
        w0 = time.perf_counter()
        (
            plan.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        job_seconds = round(time.perf_counter() - w0, 3)
        # seeded from the batches committed BEFORE this call (the resume
        # case), then fed each record as it commits
        status_acc = (
            _StatusAccumulator(out_dir, done) if status_log is not None else None
        )
        for k, metrics in _ledger_metrics(spark, out_dir, plan.schema,
                                          pending).items():
            record = {
                "batch_id": k,
                "engine": f"{ENGINE_NAME}/{__version__}",
                "seconds": job_seconds,  # the shared single-pass write job
                **metrics,
            }
            _commit_ledger(out_dir, k, record)
            log(
                f"batch {k}/{n_batches}: {record['total']} rows, "
                f"{record['fail']} failed (job {format_time(job_seconds)})"
            )
            if status_acc is not None:
                status_acc.add(record)
                status_acc.emit(status_log)
    return _summarize(out_dir, n_batches, sorted(done), t0)


def _write_run_meta(
    spark, out_dir: str, n_batches: int, resume: bool = True
) -> None:
    """F8: stamp the run directory with engine identification — the
    distributed analog of the reference's per-request client version header
    (User-Agent at geocode.py:83-96). Underscore-prefixed, so Spark/DuckDB
    parquet readers skip it. Every artifact a run produces is attributable:
    per-batch ledgers carry engine/version per record; this sidecar carries
    the run-level stamp. A pure-RESUME run keeps the original stamp (the
    already-committed batches were produced by THAT version — overwriting
    would misattribute them to the resuming engine), but a resume=False
    re-run REWRITES every batch, so the stamp must follow the engine that
    actually produced the directory's contents."""
    os.makedirs(out_dir, exist_ok=True)
    if resume and os.path.exists(os.path.join(out_dir, "_run_meta.json")):
        return
    tmp = os.path.join(out_dir, "_run_meta.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "engine": f"{ENGINE_NAME}/{__version__}",
                "spark_version": spark.version,
                "n_batches": n_batches,
            },
            fh,
        )
    os.replace(tmp, os.path.join(out_dir, "_run_meta.json"))


class _StatusAccumulator:
    """Running totals over committed ledgers (the cumulative log_status
    block, and the run summary): seeded once from the ledgers of the
    batches ``done``, then fed each new record as it commits."""

    def __init__(self, out_dir: str, done):
        self.total = self.fail = 0
        self.score_sum: int | None = 0
        for k in done:
            with open(_ledger_path(out_dir, k)) as fh:
                self.add(json.load(fh))

    def add(self, rec: dict) -> None:
        self.total += rec["total"]
        self.fail += rec["fail"]
        if self.score_sum is not None and "score_sum" in rec:
            self.score_sum += rec["score_sum"]
        else:
            # a resumed ledger from an engine version without score_sum:
            # the cumulative sum is unknowable -> report 'n/a', never a
            # partial sum divided by all successes
            self.score_sum = None

    def emit(self, status_log) -> None:
        from .progress import log_status_lines

        status_log(log_status_lines(self.total, self.fail, self.score_sum))


def _summarize(out_dir: str, n_batches: int, skipped: list, t0: float) -> dict:
    acc = _StatusAccumulator(out_dir, range(n_batches))
    return {"batches": n_batches, "skipped": skipped, "total": acc.total,
            "fail": acc.fail, "success": acc.total - acc.fail,
            "score_sum": acc.score_sum,
            "seconds": round(time.perf_counter() - t0, 3)}


# ------------------------------------------------- bucket-aligned staged runs
def stage_batched_source(spark: SparkSession, df: DataFrame, staged_dir: str,
                         n_batches: int, key: str = "primary_key") -> str:
    """Land the INPUT relation partitioned by batch_id — the sandbox analog
    of an Iceberg ``bucket(N, url)`` partition spec (same deterministic hash
    batching, hive-style directories instead of Iceberg manifests).

    Staging costs one extra pass, but buys resume-time file pruning: a
    resumed run's pending-batch filter becomes a PARTITION filter on this
    layout and reads only the pending directories, instead of hash-filtering
    a full scan of the raw source — at 100 TB the difference between
    re-scanning everything to recover one crashed batch and reading 1/N of
    the files."""
    with_batch_id(df, n_batches, key=key).write.mode("overwrite").partitionBy(
        "batch_id"
    ).parquet(staged_dir)
    return staged_dir


def read_staged_batches(spark: SparkSession, staged_dir: str,
                        batch_ids: list) -> DataFrame:
    """Read only the given batches from a staged source — the filter lands
    as PartitionFilters (file pruning), pinned by tests/test_flowcontrol."""
    return (
        spark.read.option("basePath", staged_dir)
        .parquet(os.path.join(staged_dir, "batch_id=*"))
        .filter(F.col("batch_id").isin(batch_ids))
    )


def run_resumable_staged(
    spark: SparkSession,
    staged_dir: str,
    out_dir: str,
    transform=None,
    n_batches: int = 16,
    key: str = "primary_key",
    resume: bool = True,
    log=print,
    status_log=None,
) -> dict:
    """run_resumable over a bucket-aligned staged source: pending batches are
    read with partition pruning (only their directories are scanned), pushed
    through ``transform`` (e.g. the geocode plan builder; identity when
    None), and handed to run_resumable, which re-derives batch_id from the
    key after the transform — a pure key function, so staged assignment and
    output assignment always agree."""
    done = completed_batches(out_dir) if resume else set()
    pending = [k for k in range(n_batches) if k not in done]
    src = read_staged_batches(spark, staged_dir, pending).drop("batch_id")
    result = transform(src) if transform is not None else src
    return run_resumable(spark, result, out_dir, n_batches=n_batches, key=key,
                         resume=resume, log=log, status_log=status_log)


def read_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a completed run back as the 11-column contract (lineage dropped).

    Globs ``batch_id=*`` explicitly (with basePath for partition discovery)
    so non-partition siblings inside the run dir — a CSV export, the _ledger
    — can never confuse partition discovery."""
    return (
        spark.read.option("basePath", out_dir)
        .parquet(os.path.join(out_dir, "batch_id=*"))
        .drop(LINEAGE_COL, "batch_id")
    )
