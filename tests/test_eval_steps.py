"""steps.eval_steps (the numpy runner) against steps_sql (DuckDB, the
oracle) bit for bit, and against with_steps (Spark), on the projection lists
of every wkid family and on DuckDB's round at its rounding halves.

Where the engines differ, the runner follows DuckDB, and each difference
with Spark is asserted as the documented one:
- round: Spark rounds the shortest decimal form of v half up, DuckDB
  rounds v * 10^d half away from zero in binary; they differ where
  v * 10^d lands within an ulp of a half, and Spark never returns -0.0.
- DuckDB raises where Spark returns a value (sin/cos/tan of ±inf, ln of
  v <= 0); the runner returns Spark's value there.
"""

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from geocode_spark.operators.projection import _reproject_steps
from geocode_spark.operators.spatial import geohash_steps
from geocode_spark.steps import eval_steps, steps_sql, with_steps

INF, NAN = math.inf, math.nan

# one wkid per family: geographic, web mercator, NAD83 UTM north (native
# and a neighbour zone), WGS84 UTM north, WGS84 UTM south
WKIDS = [4326, 3857, 26912, 26913, 32612, 32712]

# native (26912) x/y: in zone, out of zone, negative, on the false easting
# and the equator, far off the ellipsoid, NULL, NaN and ±inf
EDGES = [
    (500000.0, 0.0), (0.0, 0.0), (-1.0, -1.0), (-500000.0, -1000000.0),
    (1000000.0, 4500000.0), (2000000.0, 9000000.0), (166021.0, 9997964.0),
    (500000.0, 10000000.0), (833978.0, 4000000.0), (1e50, 4500000.0),
    (425000.0, 1e12), (-1e50, -1e50), (5e-324, -5e-324),
    (None, 4500000.0), (425000.0, None), (None, None),
    (NAN, 4500000.0), (425000.0, NAN), (NAN, NAN),
    (INF, 4500000.0), (-INF, 4500000.0), (425000.0, INF),
    (425000.0, -INF), (INF, -INF),
]


def _points(n: int = 20_000) -> list:
    """Seeded Utah-extent points plus the edge cases."""
    rng = np.random.default_rng(20)
    xs = rng.uniform(220_000.0, 650_000.0, n)
    ys = rng.uniform(4_090_000.0, 4_660_000.0, n)
    return list(zip(xs.tolist(), ys.tolist())) + EDGES


def _bits(v) -> str | None:
    """A value's exact identity: NULL, NaN, the sign of zero and every bit."""
    return None if v is None else float(v).hex()


def _runner(cols: dict, steps, keep) -> list[tuple]:
    arrays = {name: np.ma.MaskedArray(
        [0.0 if v is None else v for v in vals],
        mask=[v is None for v in vals]) for name, vals in cols.items()}
    out = eval_steps(arrays, steps, keep)
    return list(zip(*([None if m else _bits(v)
                       for v, m in zip(out[k].data, out[k].mask)]
                      for k in keep)))


def _duckdb(cols: dict, steps, keep) -> list:
    """Per row, the oracle's kept values, or None where DuckDB raises. A
    query that raises is split in halves until the raising rows stand
    alone."""
    con = duckdb.connect()
    sql = steps_sql("t", steps, keep)

    def run(lo: int, hi: int) -> list:
        con.register("t", pa.table(
            {"i": pa.array(range(lo, hi), pa.int64()),
             **{k: pa.array(v[lo:hi], pa.float64()) for k, v in cols.items()}}))
        try:
            rows = con.execute(
                f"SELECT {', '.join(keep)} FROM {sql} ORDER BY i").fetchall()
        except duckdb.Error:
            if hi - lo == 1:
                return [None]
            mid = (lo + hi) // 2
            return run(lo, mid) + run(mid, hi)
        return [tuple(_bits(v) for v in row) for row in rows]

    return run(0, len(next(iter(cols.values()))))


def _spark(spark, cols: dict, steps, keep) -> list[tuple]:
    # rows, not pandas: a pandas column would turn NaN into NULL
    schema = ", ".join(["i bigint"] + [f"{k} double" for k in cols])
    data = [(i, *vals) for i, vals in enumerate(zip(*cols.values()))]
    df = with_steps(spark.createDataFrame(data, schema), steps, keep)
    rows = df.orderBy("i").select(*keep).collect()
    return [tuple(_bits(v) for v in row) for row in rows]


@pytest.fixture(scope="module")
def points():
    pts = _points()
    return {"x": [p[0] for p in pts], "y": [p[1] for p in pts]}


@pytest.mark.parametrize("wkid", WKIDS)
def test_projection_runner_equals_duckdb_and_spark(spark, points, wkid):
    """Bit for bit with DuckDB wherever DuckDB returns a row. DuckDB raises
    on y = ±inf (sin of inf) and, for 3857, on two far-off points (ln of
    a non-positive tan); Spark returns NaN or NULL there, and so does the
    runner. Spark differs otherwise only by the sign of a zero (3857 on the
    equator)."""
    steps, keep = _reproject_steps(wkid), ("_fx", "_fy")
    got = _runner(points, steps, keep)
    oracle = _duckdb(points, steps, keep)
    spark_rows = _spark(spark, points, steps, keep)
    raised = [i for i, row in enumerate(oracle) if row is None]
    # DuckDB raises only on the infinite and far-off inputs
    assert all(i >= len(oracle) - len(EDGES) for i in raised), raised
    for i, (g, o, s) in enumerate(zip(got, oracle, spark_rows)):
        if o is None:
            # the runner returns Spark's value where DuckDB raises
            assert g == s, (wkid, i, points["x"][i], points["y"][i], g, s)
            continue
        assert g == o, (wkid, i, points["x"][i], points["y"][i], g, o)
        assert g == s or _zero_sign_only(g, s), (
            wkid, i, points["x"][i], points["y"][i], g, s)


def _zero_sign_only(a: tuple, b: tuple) -> bool:
    """Equal but for the sign of a zero (Spark's round never gives -0.0)."""
    return all(u == v or {u, v} == {"0x0.0p+0", "-0x0.0p+0"}
               for u, v in zip(a, b))


def _half_up(v: float, d: int) -> float:
    """Spark's round(double, d): the shortest decimal form of v, half up."""
    if not math.isfinite(v):
        return v
    q = Decimal(repr(v)).quantize(Decimal(1).scaleb(-d), ROUND_HALF_UP,
                                  Context(prec=400))
    return float(q) + 0.0  # a Decimal zero has no sign


def _rounding_inputs() -> list:
    """Values on a .5 * 10^-d boundary of the 6- and 3-decimal roundings,
    their neighbours one ulp away, signed, and the non-finite values."""
    out = [None, NAN, INF, -INF, 0.0, -0.0, 1e300, -1e300, 5e-324]
    for d in (3, 6):
        for k in (0, 1, 2, 12, 111, 4_500_000, 2 ** 20):
            for frac in (0.5, 1.5, 2.5, 5.5, 9.5, 499.5):
                v = (k * 10 ** d + frac) / 10 ** d
                for w in (v, np.nextafter(v, INF), np.nextafter(v, -INF)):
                    out += [float(w), -float(w)]
    return out


def test_round_runner_equals_duckdb_and_models_spark(spark):
    vals = _rounding_inputs()
    cols = {"v": vals}
    steps = [("r6", "round(v, 6)"), ("r3", "round(v, 3)"),
             ("r0", "round(v, 0)")]
    keep = ("r6", "r3", "r0")
    got = _runner(cols, steps, keep)
    assert got == _duckdb(cols, steps, keep)
    spark_rows = _spark(spark, cols, steps, keep)
    differ = []
    for v, g, s in zip(vals, got, spark_rows):
        if v is None:
            assert g == s == (None, None, None)
            continue
        # Spark is the decimal half-up model, bit for bit
        assert s == tuple(_bits(_half_up(v, d)) for d in (6, 3, 0)), (v, s)
        if g != s:
            differ.append((g, s))
    # the two rules part ways on these inputs, at a half (20 of the 513
    # values) and on the sign of a zero; the runner is DuckDB's
    assert any(not _zero_sign_only(g, s) for g, s in differ)
    assert any(_zero_sign_only(g, s) for g, s in differ)


def test_runner_nulls_and_domain_edges():
    x = np.ma.MaskedArray([4.0, -4.0, 0.0, 9.0], mask=[False, False, False, True])
    out = eval_steps({"x": x}, [("s", "sqrt(x)"), ("l", "ln(x)"),
                                ("q", "1.0 / x"), ("t", "tan(x * 1e400)"),
                                ("z", "ln(0.0) + 1.0 / 0.0")],
                     keep=("s", "l", "q", "t", "z"))
    assert out["z"].mask.all()
    assert out["s"].mask.tolist() == [False, False, False, True]
    assert out["s"].data[0] == 2.0 and math.isnan(out["s"].data[1])
    # ln of v <= 0 is NULL (Spark; DuckDB raises), and so is x / 0 (DuckDB)
    assert out["l"].mask.tolist() == [False, True, True, True]
    assert out["q"].mask.tolist() == [False, False, True, True]
    assert all(math.isnan(v) for v in out["t"].data[:3])


@pytest.mark.parametrize("expr", [
    "x % 2", "x ** 2", "x // 2", "x ^ 2", "x >> 1", "x & 1", "abs(x)",
    "floor(x)", "CAST(x AS INT)", "CASE WHEN x > 0 THEN 1 ELSE 0 END",
    "x = 1", "x > 1", "'a'", "True", "0x10", "1_000", "1j", "round(x, y)",
    "round(x, -1)", "round(x)", "sin(x, 1)", "SIN(x)", "x.real", "f(x)",
    "greatest(x, 0)", "-x if x else x",
])
def test_runner_rejects_what_it_does_not_evaluate(expr):
    with pytest.raises(ValueError):
        eval_steps({"x": np.array([1.0])}, [("a", expr)], keep=("a",))


def test_runner_rejects_geohash_and_unknown_names():
    lonlat = {"lon": np.array([-111.0]), "lat": np.array([40.0])}
    with pytest.raises(ValueError):
        eval_steps(lonlat, geohash_steps(8), keep=("geohash",))
    with pytest.raises(ValueError):
        eval_steps({"x": np.array([1.0])}, [("a", "x + y")], keep=("a",))
    with pytest.raises(ValueError):
        eval_steps({"x": np.array([1.0])}, [("a", "x")], keep=("b",))


@pytest.mark.parametrize("literal", [
    "16038.508411773239", "0.021800766212621798", "0.39089081105203316",
    "0.9996", "1e-05", "6378137.0", "2",
])
def test_runner_reads_literals_as_duckdb(literal):
    """A literal with a point and no exponent is a DECIMAL in DuckDB, and
    its double is its digits' double over 10^scale: an ulp off Python's
    float() for the first three, which are constants of the TM lists."""
    steps, keep = [("a", f"x * {literal}")], ("a",)
    cols = {"x": [1.0, -3.0]}
    assert _runner(cols, steps, keep) == _duckdb(cols, steps, keep)
