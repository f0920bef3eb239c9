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

Everything is emitted as ONE SQL expression string built from functions
common to Spark SQL and DuckDB (sin/cos/tan/atan/sqrt/ln/radians/degrees and
arithmetic), evaluated via ``F.expr`` on the Spark side and verbatim by the
DuckDB oracle — so both engines compute the *identical* formula. Outputs are
rounded to 6 decimal degrees (~0.1 m) / 0.001 m so sub-ulp libm differences
between the JVM and DuckDB cannot flip the value hash.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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


def utm_to_wgs84_sql(x: str = "x", y: str = "y",
                     params: TMParams = _P_NATIVE) -> dict[str, str]:
    """SQL expressions {lon, lat} (degrees, rounded) from TM easting/northing.

    Snyder (1987) eq. 8-17..8-25: footpoint latitude from the inverse
    meridional arc, then the D-power series.
    """
    p = params
    e1, e2, ep2, a = p.e1, p.e2, p.ep2, p.a
    mu = f"((({y}) - {_lit(p.false_northing)}) / {_lit(_K0 * p.m0)})"
    phi1 = (
        f"({mu} + {_lit(3 * e1 / 2 - 27 * e1**3 / 32)} * sin(2*{mu})"
        f" + {_lit(21 * e1**2 / 16 - 55 * e1**4 / 32)} * sin(4*{mu})"
        f" + {_lit(151 * e1**3 / 96)} * sin(6*{mu})"
        f" + {_lit(1097 * e1**4 / 512)} * sin(8*{mu}))"
    )
    s1 = f"sin({phi1})"
    c1 = f"cos({phi1})"
    t1 = f"(({s1}/{c1}) * ({s1}/{c1}))"
    cc1 = f"({_lit(ep2)} * {c1} * {c1})"
    w = f"sqrt(1.0 - {_lit(e2)} * {s1} * {s1})"
    n1 = f"({_lit(a)} / {w})"
    r1 = f"({_lit(a * (1.0 - e2))} / ({w}*{w}*{w}))"
    d = f"((({x}) - {_lit(_E0)}) / ({n1} * {_lit(_K0)}))"
    d2 = f"({d}*{d})"
    lat_rad = (
        f"({phi1} - ({n1} * ({s1}/{c1}) / {r1}) * ({d2}/2.0"
        f" - (5.0 + 3.0*{t1} + 10.0*{cc1} - 4.0*{cc1}*{cc1} - {_lit(9 * ep2)})"
        f" * {d2}*{d2}/24.0"
        f" + (61.0 + 90.0*{t1} + 298.0*{cc1} + 45.0*{t1}*{t1}"
        f" - {_lit(252 * ep2)} - 3.0*{cc1}*{cc1}) * {d2}*{d2}*{d2}/720.0))"
    )
    lon_rad = (
        f"(radians({_lit(p.lon0_deg)}) + ({d} - (1.0 + 2.0*{t1} + {cc1})"
        f" * {d}*{d2}/6.0 + (5.0 - 2.0*{cc1} + 28.0*{t1} - 3.0*{cc1}*{cc1}"
        f" + {_lit(8 * ep2)} + 24.0*{t1}*{t1}) * {d}*{d2}*{d2}/120.0) / {c1})"
    )
    return {
        "lon": f"round(degrees({lon_rad}), {WGS84_DECIMALS})",
        "lat": f"round(degrees({lat_rad}), {WGS84_DECIMALS})",
    }


def wgs84_to_utm_sql(lon: str = "lon", lat: str = "lat",
                     params: TMParams = _P_NATIVE) -> dict[str, str]:
    """SQL expressions {x, y} (TM meters, rounded) from lon/lat degrees.

    Snyder (1987) eq. 8-9..8-15 (forward transverse Mercator).
    """
    p = params
    e2, ep2, a = p.e2, p.ep2, p.a
    phi = f"radians({lat})"
    s = f"sin({phi})"
    c = f"cos({phi})"
    t = f"(({s}/{c}) * ({s}/{c}))"
    cc = f"({_lit(ep2)} * {c} * {c})"
    n = f"({_lit(a)} / sqrt(1.0 - {_lit(e2)} * {s} * {s}))"
    a_ = f"((radians({lon}) - radians({_lit(p.lon0_deg)})) * {c})"
    a2 = f"({a_}*{a_})"
    m = (
        f"({_lit(p.m0)} * {phi}"
        f" - {_lit(a * (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024))} * sin(2*{phi})"
        f" + {_lit(a * (15 * e2**2 / 256 + 45 * e2**3 / 1024))} * sin(4*{phi})"
        f" - {_lit(a * (35 * e2**3 / 3072))} * sin(6*{phi}))"
    )
    x = (
        f"({_lit(_K0)} * {n} * ({a_} + (1.0 - {t} + {cc}) * {a_}*{a2}/6.0"
        f" + (5.0 - 18.0*{t} + {t}*{t} + 72.0*{cc} - {_lit(58 * ep2)})"
        f" * {a_}*{a2}*{a2}/120.0) + {_lit(_E0)})"
    )
    y = (
        f"({_lit(p.false_northing)} + {_lit(_K0)} * ({m} + {n} * ({s}/{c}) * ({a2}/2.0"
        f" + (5.0 - {t} + 9.0*{cc} + 4.0*{cc}*{cc}) * {a2}*{a2}/24.0"
        f" + (61.0 - 58.0*{t} + {t}*{t} + 600.0*{cc} - {_lit(330 * ep2)})"
        f" * {a2}*{a2}*{a2}/720.0)))"
    )
    return {
        "x": f"round({x}, {UTM_DECIMALS})",
        "y": f"round({y}, {UTM_DECIMALS})",
    }


def web_mercator_sql(lon: str = "lon", lat: str = "lat") -> dict[str, str]:
    """EPSG:3857 spherical web mercator from lon/lat degrees (rounded mm).

    x = R*radians(lon); y = R*ln(tan(pi/4 + radians(lat)/2)) with R = 6378137.
    """
    r = _lit(_A_BOTH)
    quarter_pi = _lit(math.pi / 4.0)
    return {
        "x": f"round({r} * radians({lon}), {UTM_DECIMALS})",
        "y": f"round({r} * ln(tan({quarter_pi} + radians({lat}) / 2.0)),"
             f" {UTM_DECIMALS})",
    }


def _forward_exprs(wkid: int, lon: str, lat: str) -> dict[str, str]:
    """SQL {x, y} from lon/lat column REFERENCES (not expressions — the
    forward series repeats its latitude operand dozens of times, so textual
    substitution of the full inverse expression explodes to ~1 MB of SQL;
    callers must stage lon/lat as real columns first)."""
    if wkid == 4326:
        return {"x": lon, "y": lat}
    if wkid == 3857:
        return web_mercator_sql(lon, lat)
    return wgs84_to_utm_sql(lon, lat, params=utm_params(wkid))


def stage_utm_to_wgs84(df: DataFrame, x: str = "x", y: str = "y",
                       params: TMParams = _P_NATIVE,
                       lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Add `lon`/`lat` columns via the inverse TM series with every Snyder
    subterm (mu, phi1, sin/cos/tan, N1, R1, D) STAGED as a real column.

    The one-expression form (utm_to_wgs84_sql) textually inlines phi1 — a
    4-term trig series over mu — into every one of its ~20 uses, producing a
    single expression whose generated Java exceeds janino's 64 KB method
    limit; Spark then logs `ERROR CodeGenerator: Failed to compile` and
    silently evaluates the whole stage interpreted (round-3 verdict item
    #2 — correct, but paying interpreted per-row cost at scale). Staging
    each subterm keeps every projection expression small enough that
    whole-stage codegen can split them across methods. The ARITHMETIC per
    output is identical to utm_to_wgs84_sql term for term, so the DuckDB
    oracle (which evaluates the inlined form) still hash-matches after the
    shared rounding.
    """
    p = params
    e1, e2, ep2, a = p.e1, p.e2, p.ep2, p.a
    t = "_tm_"  # staged-column prefix, dropped on exit
    steps: list[tuple[str, str]] = [
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
    ]
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
    out = df
    for name, sql in steps:
        out = out.withColumn(name, F.expr(sql))
    out = out.withColumns(
        {
            lon: F.expr(f"round(degrees({lon_rad}), {WGS84_DECIMALS})"),
            lat: F.expr(f"round(degrees({lat_rad}), {WGS84_DECIMALS})"),
        }
    )
    return out.drop(*[name for name, _ in steps])


def wgs84_to_utm_cols(lon: str = "lon", lat: str = "lat",
                      params: TMParams = _P_NATIVE) -> dict[str, Column]:
    return {k: F.expr(v) for k, v in wgs84_to_utm_sql(lon, lat, params).items()}


def reproject_result(result: DataFrame, wkid: int = 4326) -> DataFrame:
    """Re-express a geocode result's x/y in any supported `wkid`.

    Failure rows keep the reference's literal x=0/y=0 sentinel
    (geocode.py:182) — only success rows are projected.
    """
    if wkid == NATIVE_WKID:
        return result
    if wkid != 4326 and wkid != 3857:
        utm_params(wkid)  # validate early: raises ValueError on unknown wkid
    # lon/lat staged as real columns (the forward series reads each operand
    # many times), and the inverse itself staged subterm-by-subterm so the
    # whole plan stays inside whole-stage codegen (see stage_utm_to_wgs84).
    staged = stage_utm_to_wgs84(result, "x", "y", lon="_lon", lat="_lat")
    t = _forward_exprs(wkid, "_lon", "_lat")
    ok = F.col("message").isNull()
    return staged.withColumns(
        {
            "x": F.when(ok, F.expr(t["x"])).otherwise(F.lit(0.0)),
            "y": F.when(ok, F.expr(t["y"])).otherwise(F.lit(0.0)),
        }
    ).drop("_lon", "_lat")


def reproject_oracle_sql(inner_sql: str, wkid: int = 4326) -> str:
    """DuckDB form of reproject_result over `inner_sql` (a geocode result)."""
    if wkid == NATIVE_WKID:
        return inner_sql
    ll = utm_to_wgs84_sql("x", "y")
    t = _forward_exprs(wkid, "_lon", "_lat")
    return f"""
        SELECT primary_key, input_street, input_zone,
               CASE WHEN message IS NULL THEN {t['x']} ELSE 0.0 END AS x,
               CASE WHEN message IS NULL THEN {t['y']} ELSE 0.0 END AS y,
               score, locator, matchAddress, standardizedAddress, addressGrid,
               message
        FROM (SELECT *, {ll['lon']} AS _lon, {ll['lat']} AS _lat
              FROM ({inner_sql}))"""
