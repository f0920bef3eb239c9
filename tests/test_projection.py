"""J7 spatial-reference tests: UTM 12N (26912) <-> WGS84 from-scratch math.

The formulas are step lists (projection.inverse_steps / forward_steps) that
both engines run staged; the anchors below check the math itself."""

import math

import duckdb
import pytest

from geocode_spark.operators.projection import (
    forward_steps,
    inverse_steps,
    reproject_result,
)
from geocode_spark.steps import steps_sql, with_steps


def test_forward_anchor_central_meridian():
    # equator on the zone-12 central meridian -> exactly (false easting, 0)
    fw = steps_sql("(VALUES (-111.0, 0.0)) t(lon, lat)", forward_steps(26912),
                   keep=("x", "y"))
    assert duckdb.sql(f"SELECT x, y FROM {fw}").fetchone() == (500000.0, 0.0)


def test_roundtrip_exact_over_utah_grid():
    steps = forward_steps(26912) + inverse_steps(lon="rlon", lat="rlat")
    staged = steps_sql("pts", steps, keep=("rlon", "rlat"))
    q = f"""
    WITH pts AS (
      SELECT -114.0 + 0.1*i AS lon, 37.0 + 0.05*j AS lat
      FROM range(0,30) t1(i), range(0,40) t2(j)
    )
    SELECT max(abs(lon - rlon)) AS dlon, max(abs(lat - rlat)) AS dlat
    FROM {staged}"""
    dlon, dlat = duckdb.sql(q).fetchone()
    # inverse(forward(p)) == p to the rounding precision (1e-6 deg ~ 0.1 m)
    assert dlon == 0.0 and dlat == 0.0


def test_spark_matches_duckdb_formula(spark):
    """The same inverse steps through Catalyst and DuckDB -> same rounded
    values."""
    keep = ("lon", "lat")
    pts = [(425000.0 + 997.0 * i, 4500000.0 + 1471.0 * i) for i in range(200)]
    sdf = (
        with_steps(spark.createDataFrame(pts, "x double, y double"),
                   inverse_steps(), keep)
        .select(*keep)
        .collect()
    )
    vals = ", ".join(f"({x!r}, {y!r})" for x, y in pts)
    staged = steps_sql(f"(VALUES {vals}) t(x, y)", inverse_steps(), keep)
    ddf = duckdb.sql(f"SELECT lon, lat FROM {staged}").fetchall()
    assert [(r["lon"], r["lat"]) for r in sdf] == [tuple(r) for r in ddf]


def test_reproject_result_keeps_failure_sentinel(spark, fixtures_dir):
    from pyspark.sql import functions as F

    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import load_locators

    rows = [("ok", "669 West 200 South", "84101"), ("bad", "xyzzy", "nowhere")]
    df = spark.createDataFrame(rows, "id string, street string, zone string")
    res = geocode(df, pobox=True, spatial_reference=4326,
                  **load_locators(spark, fixtures_dir))
    got = {r["primary_key"]: r for r in res.collect()}
    assert got["bad"]["x"] == 0.0 and got["bad"]["y"] == 0.0
    ok = got["ok"]
    if ok["message"] is None:  # fixture-dependent; when matched, must be lon/lat
        assert -115.0 < ok["x"] < -108.0 and 36.0 < ok["y"] < 43.0


def test_unsupported_wkid_raises(spark, fixtures_dir):
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import load_locators

    df = spark.createDataFrame([("a", "s", "z")], "id string, street string, zone string")
    with pytest.raises(ValueError):
        geocode(df, pobox=True, spatial_reference=999999,
                **load_locators(spark, fixtures_dir)).collect()


def test_utm_params_families():
    from geocode_spark.operators.projection import utm_params

    p12 = utm_params(26912)
    assert p12.lon0_deg == -111.0 and p12.false_northing == 0.0
    p13 = utm_params(26913)
    assert p13.lon0_deg == -105.0
    w12 = utm_params(32612)
    assert w12.lon0_deg == -111.0 and w12.f != p12.f  # WGS84 vs GRS80
    s56 = utm_params(32756)
    assert s56.false_northing == 10_000_000.0
    with pytest.raises(ValueError):
        utm_params(12345)


def test_web_mercator_anchor():
    # equator at lon -111 -> x = R*radians(-111), y = 0
    import math

    wm = steps_sql("(VALUES (-111.0, 0.0)) t(lon, lat)", forward_steps(3857),
                   keep=("x", "y"))
    x, y = duckdb.sql(f"SELECT x, y FROM {wm}").fetchone()
    assert abs(x - 6378137.0 * math.radians(-111.0)) < 1e-3
    assert y == 0.0


def test_reproject_3857_and_neighbor_zone(spark, fixtures_dir):
    """Success rows re-express in web mercator and in UTM zone 13; failure
    rows keep the 0/0 sentinel in every target."""
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import load_locators

    rows = [("ok", "669 West 200 South", "84101"), ("bad", "xyzzy", "nowhere")]
    df = spark.createDataFrame(rows, "id string, street string, zone string")
    locs = load_locators(spark, fixtures_dir)
    for wkid, xr, yr in [
        (3857, (-12_800_000, -12_000_000), (4_300_000, 5_300_000)),
        (26913, (-300_000, 260_000), (4_100_000, 4_800_000)),
    ]:
        res = geocode(df, pobox=True, spatial_reference=wkid, **locs)
        got = {r["primary_key"]: r for r in res.collect()}
        assert got["bad"]["x"] == 0.0 and got["bad"]["y"] == 0.0
        ok = got["ok"]
        if ok["message"] is None:
            assert xr[0] < ok["x"] < xr[1], (wkid, ok["x"])
            assert yr[0] < ok["y"] < yr[1], (wkid, ok["y"])


@pytest.mark.parametrize("op", ["geocode", "reproject_result"])
def test_reprojection_is_one_arrow_stage(spark, fixtures_dir, op):
    """J7 runs inside an Arrow stage: geocode(..., spatial_reference=4326)
    plans its one kernel with the projection fused, and reproject_result
    one stage over (x, y, message). No TM step (`_tm_`/`_tmf_`) is a
    column anywhere in the optimized plan."""
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import load_locators

    if op == "geocode":
        addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
        df = geocode(addr, pobox=True, spatial_reference=4326,
                     **load_locators(spark, fixtures_dir))
    else:
        native = spark.createDataFrame(
            [("a", 425000.0, 4500000.0, None), ("b", 0.0, 0.0, "no match")],
            "primary_key string, x double, y double, message string")
        df = reproject_result(native, 4326)
        assert df.columns == native.columns
    qe = df._jdf.queryExecution()
    assert qe.executedPlan().toString().count("ArrowEvalPython") == 1
    optimized = qe.optimizedPlan().toString()
    assert "_tm_" not in optimized and "_tmf_" not in optimized, optimized


def test_reproject_result_projects_success_rows_only(spark):
    from geocode_spark.operators.projection import _reproject_steps

    rows = [("a", 425000.0, 4500000.0, None), ("b", 425000.0, 4500000.0, "x"),
            ("c", None, 4500000.0, None), ("d", float("nan"), 4500000.0, None)]
    native = spark.createDataFrame(
        rows, "primary_key string, x double, y double, message string")
    got = {r["primary_key"]: (r["x"], r["y"])
           for r in reproject_result(native, 4326).collect()}

    def oracle(x):
        return duckdb.sql(
            "SELECT _fx, _fy FROM "
            + steps_sql(f"(VALUES ({x}::DOUBLE, 4500000.0::DOUBLE)) t(x, y)",
                        _reproject_steps(4326), keep=("_fx", "_fy"))
        ).fetchone()
    # A NaN x/y on a success row leaves the Arrow stage NULL (pandas reads
    # NULL and NaN alike), where the DuckDB oracle keeps NaN.
    assert got == {"a": oracle("425000.0"), "b": (0.0, 0.0),
                   "c": (None, None), "d": (None, None)}
    assert all(math.isnan(v) for v in oracle("'NaN'"))
