"""J7: output spatial reference — arbitrary WKID support.

The reference accepts any Esri WKID for the output coordinates
(``spatialReference`` default 26912, reference geocode.py:25,115,127,204;
UI at `AGRC Geocode Tools.pyt:99-106`) and the remote API does the
projection server-side. Our locators store x/y in 26912 natively; this
module implements the projections from scratch (standard Snyder 1987 series
— public textbook formulas; no pyproj in this environment):

  26901-26923   NAD83 / UTM zone NN north (GRS80 ellipsoid)
  32601-32660   WGS84 / UTM zone NN north
  32701-32760   WGS84 / UTM zone NN south (10,000,000 m false northing)
  4326          WGS84 geographic lon/lat degrees
  3857          WGS84 / spherical web mercator

Any other WKID raises ValueError (the reference would forward it to the API;
we fail fast with the supported list). NAD83 and WGS84 datums differ by <2 m
— treated as coincident here, the standard GIS convention at this accuracy.

Each formula is stated once, as an ordered list of named steps (steps.py):
`inverse_steps` (UTM -> lon/lat) and `forward_steps` (lon/lat -> the
output kind: UTM, 3857 or 4326). Every step is an expression over functions
common to Spark SQL and DuckDB (sin/cos/tan/sqrt/ln/radians/degrees, round
and arithmetic) that reads earlier steps by name, and all three runners of
steps.py evaluate it in the same operation order.

J7 runs inside the Arrow stage that holds the batch: geocode() and
geocode_parsed() apply `reproject_matches` (steps.eval_steps over numpy)
to each batch right after the match, and `reproject_result` is one Arrow
stage over (x, y, message) running the same function. The DuckDB oracle
(`reproject_oracle_sql`) runs the same list as a chain of subqueries, and
the runner reproduces it bit for bit. Outputs are rounded to 6 decimal
degrees (~0.1 m) / 0.001 m, so a last-bit libm difference between the JVM
and the C library flips a value only where it lands within an ulp of a
rounding half. Spark still runs the inverse list as columns where SQL-only
steps follow it (spatial.geohash_encode, spatial.nearest_hub and the
utm_wgs84_roundtrip contract query).
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from ..steps import Steps, eval_steps, steps_sql

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

_K0 = 0.9996
_E0 = 500000.0  # UTM false easting

_F_GRS80 = 1.0 / 298.257222101
_F_WGS84 = 1.0 / 298.257223563
_A_BOTH = 6378137.0  # GRS80 and WGS84 share the semi-major axis

WGS84_DECIMALS = 6  # ~0.11 m at Utah latitudes
UTM_DECIMALS = 3  # 1 mm

NATIVE_WKID = 26912  # locators store x/y in NAD83 / UTM zone 12N


@dataclass(frozen=True)
class TMParams:
    """Transverse-Mercator zone parameters (+ derived series constants)."""

    a: float
    f: float
    lon0_deg: float
    false_northing: float

    @property
    def e2(self) -> float:
        return self.f * (2.0 - self.f)

    @property
    def ep2(self) -> float:
        return self.e2 / (1.0 - self.e2)

    @property
    def e1(self) -> float:
        return (1.0 - math.sqrt(1.0 - self.e2)) / (1.0 + math.sqrt(1.0 - self.e2))

    @property
    def m0(self) -> float:
        # meridional-arc series coefficient: a*(1 - e2/4 - 3e4/64 - 5e6/256)
        e2 = self.e2
        return self.a * (1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0)


def utm_params(wkid: int) -> TMParams:
    """TM parameters for a UTM WKID (269xx NAD83 N / 326xx WGS84 N / 327xx
    WGS84 S). Raises ValueError for anything else."""
    if 26901 <= wkid <= 26923:
        zone, f, fn = wkid - 26900, _F_GRS80, 0.0
    elif 32601 <= wkid <= 32660:
        zone, f, fn = wkid - 32600, _F_WGS84, 0.0
    elif 32701 <= wkid <= 32760:
        zone, f, fn = wkid - 32700, _F_WGS84, 10_000_000.0
    else:
        raise ValueError(
            f"unsupported wkid {wkid}; supported: 26901-26923, 32601-32660,"
            f" 32701-32760 (UTM), 4326 (lon/lat), 3857 (web mercator)"
        )
    return TMParams(a=_A_BOTH, f=f, lon0_deg=-183.0 + 6.0 * zone,
                    false_northing=fn)


_P_NATIVE = utm_params(NATIVE_WKID)


def _lit(v: float) -> str:
    return repr(float(v))


def inverse_steps(x: str = "x", y: str = "y", lon: str = "lon",
                  lat: str = "lat") -> Steps:
    """Steps from native (26912) easting/northing columns to `lon`/`lat`
    (degrees, rounded); the `_tm_` steps are temporaries.

    Snyder (1987) eq. 8-17..8-25: footpoint latitude from the inverse
    meridional arc, then the D-power series.
    """
    p = _P_NATIVE
    e1, e2, ep2, a = p.e1, p.e2, p.ep2, p.a
    t = "_tm_"
    lat_rad = (
        f"({t}phi1 - ({t}n1 * ({t}s1/{t}c1) / {t}r1) * ({t}d2/2.0"
        f" - (5.0 + 3.0*{t}t1 + 10.0*{t}cc1 - 4.0*{t}cc1*{t}cc1"
        f" - {_lit(9 * ep2)}) * {t}d2*{t}d2/24.0"
        f" + (61.0 + 90.0*{t}t1 + 298.0*{t}cc1 + 45.0*{t}t1*{t}t1"
        f" - {_lit(252 * ep2)} - 3.0*{t}cc1*{t}cc1) * {t}d2*{t}d2*{t}d2/720.0))"
    )
    lon_rad = (
        f"(radians({_lit(p.lon0_deg)}) + ({t}d - (1.0 + 2.0*{t}t1 + {t}cc1)"
        f" * {t}d*{t}d2/6.0 + (5.0 - 2.0*{t}cc1 + 28.0*{t}t1"
        f" - 3.0*{t}cc1*{t}cc1 + {_lit(8 * ep2)} + 24.0*{t}t1*{t}t1)"
        f" * {t}d*{t}d2*{t}d2/120.0) / {t}c1)"
    )
    return [
        (f"{t}mu", f"((({y}) - {_lit(p.false_northing)}) / {_lit(_K0 * p.m0)})"),
        (f"{t}phi1",
         f"({t}mu + {_lit(3 * e1 / 2 - 27 * e1**3 / 32)} * sin(2*{t}mu)"
         f" + {_lit(21 * e1**2 / 16 - 55 * e1**4 / 32)} * sin(4*{t}mu)"
         f" + {_lit(151 * e1**3 / 96)} * sin(6*{t}mu)"
         f" + {_lit(1097 * e1**4 / 512)} * sin(8*{t}mu))"),
        (f"{t}s1", f"sin({t}phi1)"),
        (f"{t}c1", f"cos({t}phi1)"),
        (f"{t}t1", f"(({t}s1/{t}c1) * ({t}s1/{t}c1))"),
        (f"{t}cc1", f"({_lit(ep2)} * {t}c1 * {t}c1)"),
        (f"{t}w", f"sqrt(1.0 - {_lit(e2)} * {t}s1 * {t}s1)"),
        (f"{t}n1", f"({_lit(a)} / {t}w)"),
        (f"{t}r1", f"({_lit(a * (1.0 - e2))} / ({t}w*{t}w*{t}w))"),
        (f"{t}d", f"((({x}) - {_lit(_E0)}) / ({t}n1 * {_lit(_K0)}))"),
        (f"{t}d2", f"({t}d*{t}d)"),
        (lon, f"round(degrees({lon_rad}), {WGS84_DECIMALS})"),
        (lat, f"round(degrees({lat_rad}), {WGS84_DECIMALS})"),
    ]


def forward_steps(wkid: int, lon: str = "lon", lat: str = "lat",
                  x: str = "x", y: str = "y") -> Steps:
    """Steps from lon/lat degree columns to `x`/`y` in `wkid` (rounded
    meters; 4326 copies lon/lat through). The `_tmf_` steps are
    temporaries. Raises ValueError for an unsupported wkid.

    UTM: Snyder (1987) eq. 8-9..8-15 (forward transverse Mercator).
    3857: x = R*radians(lon); y = R*ln(tan(pi/4 + radians(lat)/2)), R = a.
    """
    if wkid == 4326:
        return [(x, lon), (y, lat)]
    if wkid == 3857:
        r = _lit(_A_BOTH)
        return [
            (x, f"round({r} * radians({lon}), {UTM_DECIMALS})"),
            (y, f"round({r} * ln(tan({_lit(math.pi / 4.0)}"
                f" + radians({lat}) / 2.0)), {UTM_DECIMALS})"),
        ]
    p = utm_params(wkid)
    e2, ep2, a = p.e2, p.ep2, p.a
    t = "_tmf_"
    return [
        (f"{t}phi", f"radians({lat})"),
        (f"{t}s", f"sin({t}phi)"),
        (f"{t}c", f"cos({t}phi)"),
        (f"{t}t", f"(({t}s/{t}c) * ({t}s/{t}c))"),
        (f"{t}cc", f"({_lit(ep2)} * {t}c * {t}c)"),
        (f"{t}n", f"({_lit(a)} / sqrt(1.0 - {_lit(e2)} * {t}s * {t}s))"),
        (f"{t}a", f"((radians({lon}) - radians({_lit(p.lon0_deg)})) * {t}c)"),
        (f"{t}a2", f"({t}a*{t}a)"),
        (f"{t}m",
         f"({_lit(p.m0)} * {t}phi"
         f" - {_lit(a * (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024))}"
         f" * sin(2*{t}phi)"
         f" + {_lit(a * (15 * e2**2 / 256 + 45 * e2**3 / 1024))} * sin(4*{t}phi)"
         f" - {_lit(a * (35 * e2**3 / 3072))} * sin(6*{t}phi))"),
        (x,
         f"round(({_lit(_K0)} * {t}n * ({t}a + (1.0 - {t}t + {t}cc)"
         f" * {t}a*{t}a2/6.0"
         f" + (5.0 - 18.0*{t}t + {t}t*{t}t + 72.0*{t}cc - {_lit(58 * ep2)})"
         f" * {t}a*{t}a2*{t}a2/120.0) + {_lit(_E0)}), {UTM_DECIMALS})"),
        (y,
         f"round(({_lit(p.false_northing)} + {_lit(_K0)} * ({t}m + {t}n"
         f" * ({t}s/{t}c) * ({t}a2/2.0"
         f" + (5.0 - {t}t + 9.0*{t}cc + 4.0*{t}cc*{t}cc) * {t}a2*{t}a2/24.0"
         f" + (61.0 - 58.0*{t}t + {t}t*{t}t + 600.0*{t}cc - {_lit(330 * ep2)})"
         f" * {t}a2*{t}a2*{t}a2/720.0))), {UTM_DECIMALS})"),
    ]


def _reproject_steps(wkid: int) -> Steps:
    """Native x/y -> the `wkid` coordinates as `_fx`/`_fy`. Raises
    ValueError for an unsupported wkid."""
    return (inverse_steps(lon="_lon", lat="_lat")
            + forward_steps(wkid, "_lon", "_lat", "_fx", "_fy"))


def reproject_matches(frame: pd.DataFrame, steps: Steps) -> pd.DataFrame:
    """`frame` (a batch of geocode results: x, y and message at least) with
    the x/y of its matched rows (message NULL) replaced by the `_fx`/`_fy`
    of `steps` (`_reproject_steps`), in place. Every other row gets the
    reference's literal x=0/y=0 failure sentinel (geocode.py:182)."""
    ok = frame["message"].isna().to_numpy()
    xy = eval_steps({c: frame[c].to_numpy(np.float64)[ok] for c in "xy"},
                    steps, keep=("_fx", "_fy"))
    for col, step in (("x", "_fx"), ("y", "_fy")):
        out = np.zeros(len(frame))
        out[ok] = xy[step].filled(np.nan)
        frame[col] = out
    return frame


def _as_is(frame: pd.DataFrame) -> pd.DataFrame:
    return frame


def reprojector(wkid: int):
    """batch -> batch with its matched x/y in `wkid`, the last step of the
    geocode kernels (identity for the native 26912). Built at plan time, so
    an unsupported wkid raises there; a worker unpickles it by reference."""
    if wkid == NATIVE_WKID:
        return _as_is
    return functools.partial(reproject_matches, steps=_reproject_steps(wkid))


def reproject_result(result: DataFrame, wkid: int = 4326) -> DataFrame:
    """Re-express a geocode result's x/y in any supported `wkid`: one Arrow
    stage over (x, y, message) running `reproject_matches`. Failure rows
    keep the x=0/y=0 sentinel; only success rows are projected.

    NULL and NaN both reach the stage as NaN and leave it as NULL, so a
    success row whose x or y is NaN comes back NULL where the DuckDB
    oracle keeps NaN; a geocode result never carries one (the match
    kernel's NaN already leaves its stage as NULL)."""
    if wkid == NATIVE_WKID:
        return result
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, StructField, StructType

    project = reprojector(wkid)

    def kernel(x: pd.Series, y: pd.Series, message: pd.Series) -> pd.DataFrame:
        return project(pd.DataFrame({"x": x, "y": y, "message": message}))[
            ["x", "y"]]

    xy = StructType([StructField("x", DoubleType()),
                     StructField("y", DoubleType())])
    staged = result.withColumn("_xy", F.pandas_udf(kernel, xy)(
        "x", "y", "message"))
    return staged.select(*(F.col(f"_xy.{c}").alias(c) if c in ("x", "y")
                           else F.col(c) for c in result.columns))


def reproject_oracle_sql(inner_sql: str, wkid: int = 4326) -> str:
    """DuckDB form of reproject_result over `inner_sql` (a geocode result)."""
    if wkid == NATIVE_WKID:
        return inner_sql
    staged = steps_sql(f"({inner_sql})", _reproject_steps(wkid),
                       keep=("_fx", "_fy"))
    return f"""
        SELECT primary_key, input_street, input_zone,
               CASE WHEN message IS NULL THEN _fx ELSE 0.0 END AS x,
               CASE WHEN message IS NULL THEN _fy ELSE 0.0 END AS y,
               score, locator, matchAddress, standardizedAddress, addressGrid,
               message
        FROM {staged}"""
