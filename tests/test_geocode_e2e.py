"""End-to-end geocode pipeline vs the DuckDB oracle on deterministic fixtures.

Mirrors the reference's mocked end-to-end strategy (tests/test_geocode.py:104-177)
but with a real (synthetic) locator instead of a mocked HTTP API, plus exact
row-for-row comparison keyed on primary_key."""

import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geocode_spark.operators.geocode import geocode, geocode_metrics
from geocode_spark.oracle import geocode_oracle_sql

from compare_util import assert_frames_match, duck_to_pdf


def _locators(spark, fixtures_dir):
    return dict(
        address_points=spark.read.parquet(f"{fixtures_dir}/address_points.parquet"),
        road_centerlines=spark.read.parquet(
            f"{fixtures_dir}/road_centerlines.parquet"
        ),
        pobox_points=spark.read.parquet(f"{fixtures_dir}/pobox_points.parquet"),
    )


@pytest.fixture(scope="module")
def result(spark, fixtures_dir):
    addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
    return geocode(addr, pobox=True, **_locators(spark, fixtures_dir))


def test_matches_oracle_exactly(result, fixtures_dir):
    got = result.toPandas()
    want = duck_to_pdf(geocode_oracle_sql(fixtures_dir, pobox=True))
    assert_frames_match(got, want, label="geocode_all")


def test_row_accounting(result, spark, fixtures_dir):
    """One output row per input row (reference geocode.py:171-250)."""
    n_in = spark.read.parquet(f"{fixtures_dir}/addresses.parquet").count()
    assert result.count() == n_in
    assert result.select("primary_key").distinct().count() == n_in


def test_failure_rows_shape(result):
    """Failures: x=0, y=0, score=0, locator NULL, message set (geocode.py:182)."""
    fails = result.filter(F.col("message").isNotNull())
    bad = fails.filter(
        (F.col("x") != 0.0) | (F.col("y") != 0.0) | (F.col("score") != 0)
        | F.col("locator").isNotNull() | F.col("matchAddress").isNotNull()
    )
    assert bad.count() == 0
    assert fails.count() > 0


def test_success_rows_shape(result):
    ok = result.filter(F.col("message").isNull())
    bad = ok.filter(
        F.col("locator").isNull() | (F.col("score") < 70)
        | F.col("addressGrid").isNull() | F.col("standardizedAddress").isNull()
    )
    assert bad.count() == 0
    assert ok.count() > 0


def test_empty_zone_message_parity(result):
    """F4: empty cleansed zone -> 'Missing required parameters for URL: ...'
    (reference geocode.py:210-215, tests/test_geocode.py:139-155)."""
    rows = result.filter(F.col("input_zone") == "--").collect()
    assert rows, "fixture should contain '--' zones"
    for r in rows:
        assert r.message.startswith("Missing required parameters for URL")


def test_no_candidate_message_parity(result):
    """404 message pinned at reference tests/test_geocode.py:89."""
    msgs = (
        result.filter(F.col("message").isNotNull())
        .filter(~F.col("message").startswith("Missing required"))
        .select("message").distinct().collect()
    )
    assert msgs
    for m in msgs:
        assert m.message == (
            "No address candidates found with a score of 70 or better."
        )


def test_locator_selection(spark, fixtures_dir):
    """J1: locators='addressPoints' must yield no centerline matches."""
    addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
    only_ap = geocode(addr, locators="addressPoints", **_locators(spark, fixtures_dir))
    got = only_ap.select("locator").distinct().collect()
    names = {r.locator for r in got}
    assert "Centerlines.StatewideRoads" not in names
    want = duck_to_pdf(geocode_oracle_sql(fixtures_dir, locators="addressPoints"))
    assert_frames_match(only_ap.toPandas(), want, label="geocode_ap_only")


def test_metrics(result):
    m = geocode_metrics(result).first()
    assert m.total == m.success + m.fail
    assert 0 <= m.failure_rate <= 100
    assert m.average_score >= 70


def test_one_arrow_stage_no_join_in_plan(result):
    """The match runs inside the cleanse+parse Arrow stage against the
    shared locator index: one ArrowEvalPython, no join, no exchange."""
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "Join" not in plan and "Exchange" not in plan


_PARITY_PROBE = r"""
import sys
sys.path[:0] = [%(repo)r]
from geocode_spark.operators.geocode import geocode
from geocode_spark.plans.pipeline import geocode_pages, load_locators
from geocode_spark.session import get_spark

spark = get_spark("geocode-parity", parallelism=%(n)d,
                  shuffle_partitions=%(n)d, small_input=True)
fix = %(fix)r
locs = load_locators(spark, fix)
geocode_pages(spark.read.parquet(fix + "/pages.parquet"), locs).write.parquet(
    %(out)r + "/pages")
geocode(spark.read.parquet(fix + "/addresses.parquet"), pobox=True,
        spatial_reference=4326, **locs).write.parquet(%(out)r + "/addresses")
spark.stop()
"""


def test_local1_equals_local4(fixtures_dir, tmp_path):
    """The page and address pipelines give identical rows on one task slot
    and on four (each in its own JVM: one SparkContext per process)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = {}
    for n in (1, 4):
        out = str(tmp_path / f"local{n}")
        proc = subprocess.run(
            [sys.executable, "-c", _PARITY_PROBE % {
                "repo": repo, "n": n, "fix": fixtures_dir, "out": out}],
            capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        outs[n] = out
    for name in ("pages", "addresses"):
        one, four = (pd.read_parquet(f"{outs[n]}/{name}")
                     .sort_values("primary_key", ignore_index=True)
                     for n in (1, 4))
        assert len(one) > 0
        pd.testing.assert_frame_equal(one, four)
