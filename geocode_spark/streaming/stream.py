"""Structured-Streaming surface: incremental geocoding of a growing pages table.

The reference is a finite batch loop (reference geocode.py:189 — one pass over
an iterator), but its *deployment* story is incremental: users re-run the tool
as new address tables arrive, relying on the timestamped-output convention
(geocode.py:168-169) to keep runs apart. The Spark-native analog is a
Structured Streaming job over the pages directory: new parquet files are
discovered per micro-batch, each micro-batch runs the SAME batch geocode plan
via foreachBatch (primary keys are unique per page, so per-batch top-1 equals
global top-1 — no cross-batch state is needed), and the checkpoint directory
makes the job stop/resume-able (the streaming twin of the batch ledger in
batching.py).

Also here: a native streaming aggregation with watermark + event-time window
(pages per language per warc_ts window) demonstrating late-data handling for
monitoring-style rollups, per SURVEY §2.4 A4's progress-report role.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..plans.pipeline import geocode_pages

# BASELINE.json input_hint: (url:string, warc_ts:timestamp, html:binary,
# text:string, lang:string). Streaming file sources need an explicit schema.
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory of pages parquet files."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(pages_dir)


def stream_geocode(
    spark: SparkSession,
    pages_dir: str,
    locator_tables: dict,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    **geocode_kw,
):
    """Incrementally geocode a growing pages directory.

    Each micro-batch runs the full batch plan (one Arrow stage: extract,
    parse and match against the session's shared locator index, built once
    per locator set, not per batch) over only the newly-arrived files and
    appends the 11-column
    contract to `out_dir`. Correctness needs no cross-batch state: a page's
    url appears in exactly one file, so per-batch top-1 is global top-1.
    Restarting with the same checkpoint resumes after the last committed
    batch (exactly-once file-sink semantics come from the foreachBatch
    batchId + parquet commit protocol; re-run batches overwrite their own
    output via batchId-deterministic subdirs).

    Returns the started StreamingQuery; with available_now the caller should
    awaitTermination().
    """

    def _do_batch(batch_df: DataFrame, batch_id: int) -> None:
        result = geocode_pages(batch_df, locator_tables, **geocode_kw)
        # batchId-keyed subdir => idempotent on micro-batch replay
        (
            result.write.mode("overwrite")
            .parquet(f"{out_dir}/stream_batch={batch_id}")
        )

    src = read_pages_stream(spark, pages_dir, max_files_per_trigger)
    writer = (
        src.writeStream.foreachBatch(_do_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a stream_geocode output directory back as the 11-column contract."""
    return spark.read.option("basePath", out_dir).parquet(
        f"{out_dir}/stream_batch=*"
    ).drop("stream_batch")


def stream_dedup_pages(
    pages_stream: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup of a growing pages table by content hash.

    dropDuplicatesWithinWatermark keys on md5(normalized text): a re-crawled
    or mirrored page arriving within the watermark of its first sighting is
    dropped; state is bounded by the watermark window (the engine's T1
    exact-dedup applied to an unbounded stream — at 10^12 docs the state
    store holds one hash per distinct doc seen within the horizon, not the
    corpus). Emits the surviving pages with their fingerprint.
    """
    from ..textops.textstats import normalize_text

    fp = F.md5(normalize_text(F.col("text")))
    return (
        pages_stream.withColumn("fp_md5", fp)
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fp_md5"])
    )


def windowed_lang_counts(
    pages_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Native streaming agg: pages per (event-time window, lang).

    Watermark on warc_ts bounds state and admits late pages up to the
    watermark delay — the streaming analog of the reference's periodic
    progress report (geocode.py:256-258), grouped the way a crawl monitor
    would consume it.
    """
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
        )
    )
