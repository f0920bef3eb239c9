"""knn_cell (one Arrow stage over a shared CellIndex) against its DuckDB
oracle knn_sql, on boundary inputs: rows and dist_sq must be equal exactly.

knn_sql reads its candidates from `<fix>/address_points.parquet`, so each
case writes its own candidates there under a temporary directory."""

import os
import subprocess
import sys

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from geocode_spark.operators.spatial import (
    DEFAULT_BBOX,
    KNN_RES,
    knn_cell,
    knn_sql,
)

X0, Y0, X1, Y1 = DEFAULT_BBOX
N = 1 << KNN_RES
CELL_W = (X1 - X0) / N
CELL_H = (Y1 - Y0) / N
COLS = ["primary_key", "rank", "cand_id", "dist_sq"]


def _center(ix: int, iy: int) -> tuple[float, float]:
    """The centre of grid cell (ix, iy) at the kNN resolution."""
    return X0 + (ix + 0.5) * CELL_W, Y0 + (iy + 0.5) * CELL_H


def _write(path, points, cands):
    """points: [(primary_key, x, y)], cands: [(cand_id, x, y)]; None is
    NULL."""
    os.makedirs(path, exist_ok=True)
    pk, px, py = zip(*points)
    pq.write_table(pa.table({
        "primary_key": pa.array(pk, pa.string()),
        "x": pa.array(px, pa.float64()), "y": pa.array(py, pa.float64()),
    }), f"{path}/points.parquet")
    cid, cx, cy = zip(*cands)
    pq.write_table(pa.table({
        "cand_id": pa.array(cid, pa.int64()),
        "x": pa.array(cx, pa.float64()), "y": pa.array(cy, pa.float64()),
    }), f"{path}/address_points.parquet")


def _rows(table) -> list[tuple]:
    """(primary_key, rank, cand_id, dist_sq) tuples of an Arrow table,
    sorted by (primary_key, rank). dist_sq is float.hex(), so a NULL, a NaN
    and every bit of a distance compare exactly."""
    cols = (table.column(c).to_pylist() for c in COLS)
    return sorted(((pk, rank, cid, None if d is None else d.hex())
                   for pk, rank, cid, d in zip(*cols)),
                  key=lambda row: row[:2])


def _assert_oracle(spark, path, k):
    """knn_cell's rows over `path`'s points and candidates, asserted equal
    to knn_sql's."""
    path = str(path)
    got = knn_cell(spark.read.parquet(f"{path}/points.parquet"),
                   spark.read.parquet(f"{path}/address_points.parquet"),
                   k=k).toArrow()
    con = duckdb.connect()
    want = con.execute(knn_sql(
        path, f"SELECT * FROM read_parquet('{path}/points.parquet')",
        k=k)).arrow()
    got = _rows(got)
    assert got == _rows(want)
    return got


def _by_point(rows) -> dict:
    out = {}
    for pk, _, cid, d in rows:
        out.setdefault(pk, []).append((cid, d))
    return out


def test_equidistant_ties_break_by_cand_id(spark, tmp_path):
    cx, cy = _center(100, 200)
    d = 40.0
    # four candidates at distance d, ids out of coordinate order, and a
    # fifth farther away
    cands = [(9, cx + d, cy), (4, cx, cy - d), (7, cx - d, cy),
             (5, cx, cy + d), (1, cx + 2 * d, cy)]
    _write(tmp_path, [("p", cx, cy)], cands)
    got = _assert_oracle(spark, tmp_path, k=3)
    assert [(rank, cid) for _, rank, cid, _ in got] == [(1, 4), (2, 5), (3, 7)]
    assert {d for *_, d in got} == {(d * d).hex()}


def test_empty_neighbourhood_has_no_rows(spark, tmp_path):
    # the only candidate is two cells away: outside the 3x3 window
    px, py = _center(300, 300)
    qx, qy = _center(302, 300)
    _write(tmp_path, [("far", px, py), ("near", qx, qy)], [(1, qx, qy)])
    got = _assert_oracle(spark, tmp_path, k=3)
    assert [pk for pk, *_ in got] == ["near"]


@pytest.mark.parametrize("k", [1, 3])
def test_fewer_candidates_than_k_and_k1(spark, tmp_path, k):
    cx, cy = _center(50, 60)
    ox, oy = _center(51, 61)  # a diagonal neighbour cell
    _write(tmp_path, [("a", cx, cy), ("b", ox, oy)],
           [(2, cx + 3.0, cy), (8, ox - 1.0, oy + 2.0)])
    got = _assert_oracle(spark, tmp_path, k=k)
    assert len(got) == 2 * min(k, 2)


def test_clamped_points_do_not_alias_the_opposite_edge(spark, tmp_path):
    # Points above and below the bbox clamp to the top (iy = N-1) and
    # bottom (iy = 0) rows of cells. Their neighbour cells iy = N and
    # iy = -1 lie off the grid; a key that wrapped them would read the
    # candidates of the next column's bottom row (cell (ix + 1, 0)) and
    # of the previous column's top row, which hold candidates here. The
    # points clamped left and right have empty neighbourhoods.
    ix = 10  # even: ix << res | N is the key of cell (ix + 1, 0)
    top_x, _ = _center(ix, 0)
    cands = [(1, *_center(ix + 1, 0)), (2, *_center(ix - 1, N - 1)),
             (3, *_center(ix + 2, 0)), (4, *_center(ix, N - 1)),
             (5, *_center(ix, 0))]
    points = [("above", top_x, Y1 + 5e5), ("below", top_x, Y0 - 5e5),
              ("left", X0 - 1e9, Y0 + 0.5 * CELL_H),
              ("right", X1 + 1e9, Y1 - 0.5 * CELL_H)]
    _write(tmp_path, points, cands)
    got = _by_point(_assert_oracle(spark, tmp_path, k=3))
    assert {pk: {cid for cid, _ in v} for pk, v in got.items()} == {
        "above": {2, 4}, "below": {1, 5}}


def test_null_coordinates_on_either_side(spark, tmp_path):
    # A NULL coordinate quantizes to cell 0 on its axis (greatest() skips
    # NULL) and makes dist_sq NULL, which ranks after every distance.
    cx, cy = _center(200, 100)
    ex, ey = _center(0, 100)  # where a NULL x lands
    points = [("ok", cx, cy), ("edge", ex, ey), ("x_null", None, cy),
              ("y_null", cx, None), ("both_null", None, None)]
    cands = [(1, cx + 1.0, cy), (2, None, cy), (3, cx, None),
             (4, cx - 2.0, cy + 2.0), (5, ex + 3.0, ey)]
    _write(tmp_path, points, cands)
    got = _by_point(_assert_oracle(spark, tmp_path, k=3))
    assert {pk: [(cid, d is None) for cid, d in v]
            for pk, v in got.items()} == {
        "ok": [(1, False), (4, False)],
        "edge": [(5, False), (2, True)],
        "x_null": [(2, True), (5, True)],
        "y_null": [(3, True)]}


def test_nan_coordinates_and_null_cand_id(spark, tmp_path):
    # NaN quantizes to the last cell (NaN is the greatest double) and its
    # dist_sq is NaN, which ranks after every number; a NULL cand_id ranks
    # after every id at an equal distance.
    cx, cy = _center(N - 1, 7)
    points = [("p", cx, cy), ("nan_x", float("nan"), cy)]
    cands = [(3, cx + 1.0, cy), (None, cx - 1.0, cy), (1, cx, cy + 1.0),
             (2, float("nan"), cy)]
    _write(tmp_path, points, cands)
    got = _by_point(_assert_oracle(spark, tmp_path, k=4))
    one = (1.0).hex()
    assert got == {"p": [(1, one), (3, one), (None, one), (2, "nan")],
                   "nan_x": [(1, "nan"), (2, "nan"), (3, "nan"),
                             (None, "nan")]}


def test_duplicate_coordinates(spark, tmp_path):
    cx, cy = _center(400, 400)
    cands = [(6, cx + 5.0, cy), (3, cx + 5.0, cy), (11, cx + 5.0, cy),
             (2, cx - 9.0, cy - 9.0)]
    points = [("p1", cx, cy), ("p2", cx, cy), ("p3", cx + 5.0, cy)]
    _write(tmp_path, points, cands)
    got = _by_point(_assert_oracle(spark, tmp_path, k=3))
    assert [cid for cid, _ in got["p1"]] == [3, 6, 11]
    assert got["p2"] == got["p1"]
    assert got["p3"] == [(3, "0x0.0p+0"), (6, "0x0.0p+0"), (11, "0x0.0p+0")]


def test_fixture_points_match_oracle(spark, fixtures_dir, tmp_path):
    """Shifted address points against the fixture's own candidates: dense
    cells, many ties at zero and at equal offsets."""
    ap = pd.read_parquet(f"{fixtures_dir}/address_points.parquet")
    pts = pd.DataFrame({"primary_key": ap["cand_id"].astype(str),
                        "x": ap["x"] + 37.5, "y": ap["y"] - 11.25})
    points = list(pts.itertuples(index=False, name=None))
    cands = list(ap[["cand_id", "x", "y"]].itertuples(index=False, name=None))
    _write(tmp_path, points, cands)
    got = _assert_oracle(spark, tmp_path, k=3)
    assert len(got) > 3 * len(points) // 2  # effect size: most points rank 3


_PARITY_PROBE = r"""
import sys
sys.path[:0] = [%(repo)r]
from geocode_spark.operators.spatial import knn_cell
from geocode_spark.session import get_spark

spark = get_spark("knn-parity", parallelism=%(n)d, shuffle_partitions=%(n)d,
                  small_input=True)
cands = spark.read.parquet(%(fix)r + "/address_points.parquet")
pts = cands.selectExpr("CAST(cand_id AS STRING) AS primary_key",
                       "x + 61.0 AS x", "y - 17.0 AS y")
knn_cell(pts, cands, k=3).write.parquet(%(out)r)
spark.stop()
"""


def test_local1_equals_local4(fixtures_dir, tmp_path):
    """Identical rows on one task slot and on four (each in its own JVM)."""
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
        outs[n] = _rows(pq.read_table(out))
    assert len(outs[1]) > 0
    assert outs[1] == outs[4]
