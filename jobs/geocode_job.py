#!/usr/bin/env python
"""spark-submit entry point: web pages -> resumable geocode run (north rule).

    spark-submit --py-files geocode_spark.zip jobs/geocode_job.py \
        --pages /data/pages.parquet --locators-dir /data/locators \
        --output /data/out --batches 16 [--resume] \
        [--locators all|addressPoints|roadCenterlines] [--pobox] \
        [--accept-score 70] [--ignore-failures]

Mirrors the reference CLI surface (geocode.py:320-336: positional csv/fields
+ --locators/--pobox/--acceptScore/--ignore-failures) re-shaped for a
distributed run: health probe first (F1, geocode.py:190-191), then
checkpoint-resumable batches with per-partition lineage ledgers (F9), final
metrics report (A5, geocode.py:260-261). Prints ONE JSON summary line last.

The session is built WITHOUT a master so spark-submit / cluster manager
controls deployment; local testing passes --master local[N] to spark-submit.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from geocode_spark import DEFAULT_ACCEPT_SCORE


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet/iceberg path of web pages")
    src.add_argument("--addresses",
                     help="header CSV of address rows (the reference CLI's "
                          "input shape, geocode.py:338-344)")
    p.add_argument("--id-field", default="id",
                   help="--addresses column holding the primary key "
                        "(reference geocode.py:324)")
    p.add_argument("--street-field", default="street")
    p.add_argument("--zone-field", default="zone")
    p.add_argument("--csv-output", action="store_true",
                   help="also write geocoding_results_{YYYYmmddHHMMSS}.csv "
                        "(header CSV, reference geocode.py:168-174)")
    p.add_argument("--locators-dir", required=True,
                   help="dir with address_points/road_centerlines/pobox_points parquet")
    p.add_argument("--output", required=True, help="output run directory")
    p.add_argument("--batches", type=int, default=16)
    p.add_argument("--resume", action="store_true",
                   help="skip batches already committed to the ledger")
    p.add_argument("--locators", default="all",
                   choices=["all", "addressPoints", "roadCenterlines"])
    p.add_argument("--pobox", action="store_true")
    p.add_argument("--accept-score", type=int, default=DEFAULT_ACCEPT_SCORE)
    p.add_argument("--ignore-failures", action="store_true",
                   help="disable the 25-row health probe abort (F1)")
    p.add_argument("--probe-count", type=int, default=25)
    p.add_argument("--progress-every", type=int, default=10_000,
                   help="rows between progress report lines (A4 cadence, "
                        "reference geocode.py:256-258); 0 disables")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("geocode-spark-job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from pyspark.sql import functions as F

    from geocode_spark.batching import run_resumable
    from geocode_spark.flowcontrol import (
        ContinuousFailThresholdExceeded,
        format_time,
        health_probe,
    )
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import geocode_pages, load_locators

    from geocode_spark.progress import ProgressReporter, log_status_lines

    t0 = time.perf_counter()
    reporter = None
    # row-cadence reporting hooks the pages extraction kernel; the addresses
    # path still gets per-batch status blocks via status_log below
    if args.progress_every > 0 and args.pages:
        reporter = ProgressReporter(
            spark, every=args.progress_every,
            log=lambda m: print(m, file=sys.stderr),
        )
    kw = dict(locators=args.locators, pobox=args.pobox,
              accept_score=args.accept_score)
    locs = load_locators(spark, args.locators_dir)
    if args.pages:
        result = geocode_pages(
            spark.read.parquet(args.pages), locs,
            progress_acc=reporter.acc if reporter else None, **kw,
        )
    else:
        # Reference CLI shape: header CSV, user-named id/street/zone columns
        # projected at the scan (geocode.py:324-344); all values read as
        # strings exactly as csv.DictReader yields them.
        addr = (
            spark.read.option("header", True).option("encoding", "utf-8")
            .csv(args.addresses)
            .select(
                F.col(args.id_field).cast("string").alias("id"),
                F.col(args.street_field).cast("string").alias("street"),
                F.col(args.zone_field).cast("string").alias("zone"),
            )
        )
        result = geocode(addr, **locs, **kw)

    try:
        probe = health_probe(result, probe_count=args.probe_count,
                             ignore_failures=args.ignore_failures)
    except ContinuousFailThresholdExceeded as ex:
        print(json.dumps({"status": "aborted", "error": str(ex)}))
        spark.stop()
        return 2
    print(f"probe: {probe['failed']}/{probe['probed']} failed", file=sys.stderr)

    def status_log(block):
        # A4 cadence: the reference's three-line status block after each
        # committed batch (geocode.py:150-162,256-258)
        for line in block:
            print(line, file=sys.stderr)

    if reporter:
        reporter.start()
    try:
        summary = run_resumable(
            spark, result, args.output, n_batches=args.batches,
            resume=args.resume,
            log=lambda m: print(m, file=sys.stderr),
            status_log=status_log,
        )
    finally:
        if reporter:
            reporter.stop()
    csv_out = None
    if args.csv_output:
        # Timestamped CSV sink (S4/S5 parity, geocode.py:168-174): header-on
        # CSV directory named geocoding_results_{YYYYmmddHHMMSS}.csv, written
        # BESIDE the parquet run dir ({output}_csv/) so it can never collide
        # with the batch_id=* partition layout read_results scans.
        from geocode_spark.batching import read_results

        csv_out = f"{args.output}_csv/geocoding_results_" \
                  f"{time.strftime('%Y%m%d%H%M%S')}.csv"
        (
            read_results(spark, args.output)
            .write.option("header", True).mode("overwrite").csv(csv_out)
        )

    elapsed = time.perf_counter() - t0
    # A5 parity (geocode.py:260-261): 'Job Completed' then a final status block
    print("Job Completed", file=sys.stderr)
    for line in log_status_lines(summary["total"], summary["fail"],
                                 summary["score_sum"]):
        print(line, file=sys.stderr)
    print(json.dumps({
        "status": "ok",
        "output": args.output,
        "probe": probe,
        "elapsed": format_time(elapsed),
        "rows_per_sec": round(summary["total"] / elapsed, 1) if elapsed else None,
        "csv_output": csv_out,
        **summary,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
