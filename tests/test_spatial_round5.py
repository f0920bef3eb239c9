"""Round-5 spatial additions: tile pyramid, geohash, great-circle hub.

The geohash test pins the closed-form integer quantization against the
TEXTBOOK per-bit interval-bisection algorithm implemented independently in
pure python below — the two must agree character-for-character, which is
the strongest in-sandbox proof the engine emits real geohashes (no geohash
library exists in this environment to compare against).
"""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geocode_spark.operators.spatial import (
    DEFAULT_HUBS,
    DEFAULT_TILE,
    EARTH_RADIUS_M,
    GEOHASH_PRECISION,
    PYRAMID_ZOOMS,
    geohash_encode,
    nearest_hub,
    tile_pyramid,
)

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_bisect(lon: float, lat: float, precision: int) -> str:
    """Textbook geohash: alternate lon/lat interval halving, 5 bits/char."""
    lo_lon, hi_lon, lo_lat, hi_lat = -180.0, 180.0, -90.0, 90.0
    bits, out, even = 0, [], True
    ch = 0
    for _ in range(precision * 5):
        if even:
            mid = (lo_lon + hi_lon) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lo_lon = mid
            else:
                ch = ch << 1
                hi_lon = mid
        else:
            mid = (lo_lat + hi_lat) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lo_lat = mid
            else:
                ch = ch << 1
                hi_lat = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(_B32[ch])
            bits, ch = 0, 0
    return "".join(out)


def _haversine(lon1, lat1, lon2, lat2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dphi = p2 - p1
    dlmb = math.radians(lon2) - math.radians(lon1)
    a = (math.sin(dphi / 2) ** 2
         + math.cos(p1) * math.cos(p2) * math.sin(dlmb / 2) ** 2)
    return 2 * EARTH_RADIUS_M * math.asin(min(1.0, math.sqrt(a)))


@pytest.fixture(scope="module")
def utah_points(spark):
    """A deterministic lattice of UTM-12N points (same footprint as the
    geocode fixtures) with ids and scores."""
    rows = []
    for i in range(60):
        rows.append(
            {
                "primary_key": f"p{i:03d}",
                "x": 372000.0 + (i % 10) * 6100.0 + (i % 7) * 13.25,
                "y": 4392000.0 + (i // 10) * 9700.0 + (i % 5) * 7.5,
                "score": float(85 + (i % 4) * 5),
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows))


# ------------------------------------------------------------------ geohash
def test_geohash_matches_textbook_bisection(spark, utah_points):
    got = {
        r.primary_key: (r.lon, r.lat, r.geohash)
        for r in geohash_encode(utah_points).collect()
    }
    assert len(got) == 60
    for pk, (lon, lat, gh) in got.items():
        assert gh == _geohash_bisect(lon, lat, GEOHASH_PRECISION), pk
        # Utah sits in geohash macro-cell '9' (SW United States quadrant);
        # the lattice straddles the 9x (north) / 9r (south) boundary.
        assert gh[0] == "9" and gh[1] in "xr", (pk, gh)


def test_geohash_prefix_is_spatial(spark):
    """Two points metres apart share a long prefix; far points diverge
    early — the prefix-joinability property the operator exists for."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "primary_key": ["near1", "near2", "far"],
                "x": [400000.0, 400003.0, 435000.0],
                "y": [4420000.0, 4420002.0, 4455000.0],
                "score": [90.0, 90.0, 90.0],
            }
        )
    )
    gh = {r.primary_key: r.geohash for r in geohash_encode(df).collect()}
    assert gh["near1"][:6] == gh["near2"][:6]
    assert gh["near1"][:4] != gh["far"][:4]


def test_geohash_effect_size(spark, utah_points):
    """The lattice spreads over many distinct hashes (guards against a
    degenerate constant-output formulation)."""
    n = geohash_encode(utah_points).select("geohash").distinct().count()
    assert n == 60


# ------------------------------------------------------------- tile pyramid
def test_tile_pyramid_consistency(spark, utah_points):
    pdf = tile_pyramid(utah_points).toPandas()
    zooms = sorted(pdf["zoom"].unique())
    assert zooms == list(range(PYRAMID_ZOOMS))
    # every zoom partitions the full point set
    for z in zooms:
        assert pdf[pdf.zoom == z].n_points.sum() == 60
        assert pdf[pdf.zoom == z].sum_score.sum() == pdf[pdf.zoom == 0].sum_score.sum()
    # children aggregate exactly to their parent tile
    fine = pdf[pdf.zoom == PYRAMID_ZOOMS - 1].copy()
    fine["px"] = fine.tile_x // 2
    fine["py"] = fine.tile_y // 2
    rolled = (
        fine.groupby(["px", "py"])[["n_points", "sum_score"]].sum().reset_index()
    )
    parent = pdf[pdf.zoom == PYRAMID_ZOOMS - 2]
    merged = rolled.merge(
        parent, left_on=["px", "py"], right_on=["tile_x", "tile_y"]
    )
    assert len(merged) == len(parent) == len(rolled)
    assert (merged.n_points_x == merged.n_points_y).all()
    assert (merged.sum_score_x == merged.sum_score_y).all()


def test_tile_pyramid_single_scan(spark, utah_points):
    """The whole pyramid is ONE scan + ONE Expand — not a scan per zoom."""
    plan = tile_pyramid(utah_points)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") >= 1
    assert plan.count("Scan") <= 1


def test_pyramid_base_matches_assign_tiles(spark, utah_points):
    from geocode_spark.operators.spatial import assign_tiles

    base = (
        assign_tiles(utah_points, DEFAULT_TILE)
        .groupBy("tile_x", "tile_y")
        .count()
        .toPandas()
    )
    finest = tile_pyramid(utah_points).filter(
        F.col("zoom") == PYRAMID_ZOOMS - 1
    ).toPandas()
    assert len(base) == len(finest)
    m = base.merge(finest, on=["tile_x", "tile_y"])
    assert (m["count"] == m["n_points"]).all()


# ------------------------------------------------------------- nearest hub
def test_nearest_hub_matches_bruteforce(spark, utah_points):
    got = {r.primary_key: (r.hub_id, r.dist_m)
           for r in nearest_hub(utah_points).collect()}
    lls = {
        r.primary_key: (r.lon, r.lat)
        for r in geohash_encode(utah_points).collect()
    }
    assert len(got) == 60
    hubs_seen = set()
    for pk, (hub_id, dist_m) in got.items():
        lon, lat = lls[pk]
        best = min(
            (round(_haversine(lon, lat, hlo, hla), 3), h)
            for h, hlo, hla in DEFAULT_HUBS
        )
        assert (dist_m, hub_id) == best, pk
        hubs_seen.add(hub_id)
    # effect size: the assignment is not a constant (the lattice straddles
    # at least the south/west hub boundary)
    assert len(hubs_seen) >= 2


def test_nearest_hub_one_row_per_point(spark, utah_points):
    df = nearest_hub(utah_points)
    assert df.count() == df.select("primary_key").distinct().count() == 60


# -------------------------------------------------------- cover-and-refine
def test_bbox_cover_join_matches_bruteforce(spark, utah_points):
    from geocode_spark.operators.spatial import bbox_cover_join, derive_rects

    pts = utah_points.toPandas()
    rects = pts[pts.primary_key.str.endswith("0")].copy()
    expect = set()
    for _, r in rects.iterrows():
        for _, p in pts.iterrows():
            if (abs(p.x - r.x) <= 400.0) and (abs(p.y - r.y) <= 300.0):
                expect.add((r.primary_key, p.primary_key))
    got = {
        (row.rect_id, row.primary_key)
        for row in bbox_cover_join(utah_points, derive_rects(utah_points)).collect()
    }
    assert got == expect
    # effect size: self-containment guarantees non-empty, and the refine
    # must actually reject candidate cells (lattice spacing < cell size)
    assert len(got) >= len(rects)


def test_bbox_cover_join_boundary_inclusive(spark):
    from geocode_spark.operators.spatial import bbox_cover_join

    import pandas as pd

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "primary_key": ["on_edge", "inside", "outside", "far"],
                "x": [400400.0, 400100.0, 400401.0, 430000.0],
                "y": [4420000.0, 4420000.0, 4420000.0, 4450000.0],
            }
        )
    )
    rects = spark.createDataFrame(
        pd.DataFrame(
            {
                "rect_id": ["r1"],
                "xmin": [399600.0], "ymin": [4419700.0],
                "xmax": [400400.0], "ymax": [4420300.0],
            }
        )
    )
    got = {r.primary_key for r in bbox_cover_join(pts, rects).collect()}
    assert got == {"on_edge", "inside"}


def test_rect_cover_is_bounded(spark):
    from geocode_spark.operators.spatial import COVER_RES, rect_cover_cells

    import pandas as pd

    rects = spark.createDataFrame(
        pd.DataFrame(
            {
                "rect_id": ["r1"],
                "xmin": [400000.0], "ymin": [4420000.0],
                "xmax": [400800.0], "ymax": [4420600.0],
            }
        )
    )
    n = rect_cover_cells(rects, COVER_RES).count()
    # an 800x600 m rect over ~547 m cells covers at most 3x3 cells
    assert 1 <= n <= 9


# ------------------------------------------------------ density diagnostics
def test_cell_density_histogram_mass(spark, utah_points):
    from geocode_spark.operators.spatial import cell_density_histogram

    pdf = cell_density_histogram(utah_points).toPandas()
    assert (pdf.n_points * pdf.n_cells).sum() == 60
    assert (pdf.n_points >= 1).all()


def test_focal_density_hand_case(spark):
    from geocode_spark.operators.spatial import DEFAULT_BBOX, focal_density

    x0, y0 = DEFAULT_BBOX[0], DEFAULT_BBOX[1]
    cell = (DEFAULT_BBOX[2] - DEFAULT_BBOX[0]) / 64  # res 6 cell edge
    # cells (1,1) x2 points, (2,1) x1, (5,5) x1: the (1,1) and (2,1)
    # neighborhoods see each other; (5,5) is isolated.
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "primary_key": ["a", "b", "c", "d"],
                "x": [x0 + 1.5 * cell, x0 + 1.4 * cell, x0 + 2.5 * cell,
                      x0 + 5.5 * cell],
                "y": [y0 + 1.5 * cell, y0 + 1.6 * cell, y0 + 1.5 * cell,
                      y0 + 5.5 * cell],
            }
        )
    )
    got = {(r.ix, r.iy): r.n_focal for r in focal_density(pts).collect()}
    assert got == {(1, 1): 3, (2, 1): 3, (5, 5): 1}


def test_focal_density_bounds(spark, utah_points):
    from geocode_spark.operators.spatial import focal_density

    pdf = focal_density(utah_points).toPandas()
    # focal sum >= own cell count >= 1; never exceeds the whole corpus
    assert (pdf.n_focal >= 1).all()
    assert (pdf.n_focal <= 60).all()


# ------------------------------------------------------------------ Moran's I
def _strip_points(spark, counts):
    """counts[i] points in cell (i, 0) — a 1-row strip of res-6 cells."""
    from geocode_spark.operators.spatial import DEFAULT_BBOX

    x0, y0 = DEFAULT_BBOX[0], DEFAULT_BBOX[1]
    cell = (DEFAULT_BBOX[2] - DEFAULT_BBOX[0]) / 64
    rows = []
    for i, c in enumerate(counts):
        for j in range(c):
            rows.append(
                (f"p{i}-{j}", x0 + (i + 0.5) * cell,
                 y0 + (0.3 + 0.01 * j) * cell)
            )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["primary_key", "x", "y"])
    )


def test_morans_i_perfect_alternation(spark):
    # strip (4,1,4): d = (3,-6,3), num = -72, W = 4, den = 54
    # I = 3*(-72)/(4*54) = -1 exactly — the dispersed extreme
    from geocode_spark.operators.spatial import morans_i

    r = morans_i(_strip_points(spark, [4, 1, 4])).collect()[0]
    assert (r.n_cells, r.w_pairs, r.num, r.den) == (3, 4, -72, 54)
    assert r.i_micro == -1000000


def test_morans_i_clustered_positive(spark):
    # strip (5,5,1,1): d = (8,8,-8,-8), num = 128, W = 6, den = 256
    # I = 4*128/(6*256) = 1/3
    from geocode_spark.operators.spatial import morans_i

    r = morans_i(_strip_points(spark, [5, 5, 1, 1])).collect()[0]
    assert (r.n_cells, r.w_pairs, r.num, r.den) == (4, 6, 128, 256)
    assert r.i_micro == 333333


def test_morans_i_constant_field_null(spark):
    # equal counts everywhere: every deviation is 0, den = 0 -> the
    # statistic is undefined and must surface as NULL, not a /0
    from geocode_spark.operators.spatial import morans_i

    r = morans_i(_strip_points(spark, [2, 2, 2])).collect()[0]
    assert r.den == 0 and r.i_micro is None


def test_morans_i_hotspot_positive(spark):
    # a dense 3x3 hotspot (count 9 per cell) on a sparse 7x7 background
    # (count 1): like-next-to-like dominates -> solidly positive
    from geocode_spark.operators.spatial import DEFAULT_BBOX, morans_i

    x0, y0 = DEFAULT_BBOX[0], DEFAULT_BBOX[1]
    cell = (DEFAULT_BBOX[2] - DEFAULT_BBOX[0]) / 64
    rows = []
    for i in range(7):
        for j in range(7):
            c = 9 if (2 <= i <= 4 and 2 <= j <= 4) else 1
            for k in range(c):
                rows.append(
                    (f"p{i}-{j}-{k}", x0 + (i + 0.5) * cell,
                     y0 + (j + 0.3 + 0.01 * k) * cell)
                )
    pts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["primary_key", "x", "y"])
    )
    r = morans_i(pts).collect()[0]
    assert r.n_cells == 49 and r.w_pairs == 2 * (2 * 7 * 6)
    assert r.i_micro is not None and r.i_micro > 500000


# -------------------------------------------------------- polygon shoelace
def _ring_df(spark, rings):
    """rings: list of (gid, [(x, y), ...]) in milli units."""
    return spark.createDataFrame(
        pd.DataFrame(
            [
                (g, [int(x) for x, _ in vs], [int(y) for _, y in vs])
                for g, vs in rings
            ],
            columns=["gid", "xs", "ys"],
        )
    )


def test_polygon_metrics_unit_square(spark):
    from geocode_spark.operators.spatial import polygon_metrics

    # CCW 2000x1000 rectangle at (5000, 7000): area2 = 2*2000*1000,
    # centroid at (+1000, +500) from the corner
    sq = [(5000, 7000), (7000, 7000), (7000, 8000), (5000, 8000)]
    r = polygon_metrics(_ring_df(spark, [("a", sq)])).collect()[0]
    assert (r.n_vertices, r.area2) == (4, 4000000)
    assert (r.cx_micro, r.cy_micro) == (6000000, 7500000)
    # CW orientation flips the sign of area2, centroid unchanged
    r2 = polygon_metrics(_ring_df(spark, [("b", sq[::-1])])).collect()[0]
    assert r2.area2 == -4000000
    assert (r2.cx_micro, r2.cy_micro) == (6000000, 7500000)


def test_polygon_metrics_translation_invariance(spark):
    # absolute UTM-scale offsets: the in-frame products must not overflow
    # and area/centroid-offset must ride the translation exactly
    from geocode_spark.operators.spatial import polygon_metrics

    tri = [(0, 0), (3000, 0), (0, 3000)]
    big = 440_000_000  # UTM-ish milli
    shifted = [(x + big, y + big) for x, y in tri]
    a = polygon_metrics(_ring_df(spark, [("t", tri)])).collect()[0]
    b = polygon_metrics(_ring_df(spark, [("t", shifted)])).collect()[0]
    assert a.area2 == b.area2 == 9000000
    assert b.cx_micro - a.cx_micro == big * 1000
    assert b.cy_micro - a.cy_micro == big * 1000


def test_polygon_metrics_degenerate_null(spark):
    from geocode_spark.operators.spatial import polygon_metrics

    line = [(0, 0), (5000, 0), (10000, 0)]  # zero-area "ring"
    r = polygon_metrics(_ring_df(spark, [("d", line)])).collect()[0]
    assert r.area2 == 0 and r.cx_micro is None and r.cy_micro is None


def test_star_corpus_rings_are_ccw_and_bounded(spark, utah_points):
    from geocode_spark.operators.spatial import (
        polygon_metrics,
        synthetic_polygon_corpus,
    )

    pdf = polygon_metrics(synthetic_polygon_corpus(utah_points)).toPandas()
    assert len(pdf) > 10
    assert (pdf.n_vertices == 8).all()
    # CCW by construction; radius in [500, 1999] milli bounds area2 by
    # the r=2000 octagon (area2 = 8 * r^2 * sin(45) = 2^1.5 * 4e6 * 2)
    assert (pdf.area2 > 0).all()
    assert (pdf.area2 < 8 * 2000 * 2000 * 0.7072).all()


# -------------------------------------------------------- Douglas-Peucker
def _dp_reference(pts, eps):
    """Independent textbook recursive DP (floats), for parity pinning."""
    def rec(i0, i1, keep):
        if i1 - i0 < 2:
            return
        x0, y0 = pts[i0]
        x1, y1 = pts[i1]
        dx, dy = x1 - x0, y1 - y0
        best, bj = -1.0, None
        for j in range(i0 + 1, i1):
            px, py = pts[j]
            cross = dx * (y0 - py) - dy * (x0 - px)
            d2 = cross * cross / max(dx * dx + dy * dy, 1e-300)
            if d2 > best:
                best, bj = d2, j
        if best > eps * eps and (pts[i1] != pts[i0]):
            keep.add(bj)
            rec(i0, bj, keep)
            rec(bj, i1, keep)

    keep = {0, len(pts) - 1}
    rec(0, len(pts) - 1, keep)
    return sorted(keep)


def _tracks_df(spark, tracks):
    rows = [
        (tid, i, int(x), int(y))
        for tid, pts in tracks
        for i, (x, y) in enumerate(pts)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["track_id", "seq", "x", "y"])
    )


def test_polyline_simplify_matches_textbook(spark):
    from geocode_spark.operators.spatial import polyline_simplify

    # deterministic zigzag with mixed amplitudes around a baseline
    pts = []
    for i in range(40):
        amp = (i * 37) % 11  # 0..10
        pts.append((i * 1000, amp * 300 - 1500))
    eps = 900
    got = sorted(
        r.seq
        for r in polyline_simplify(
            _tracks_df(spark, [("t", pts)]), eps_milli=eps
        ).collect()
    )
    assert got == _dp_reference(pts, float(eps))
    assert 2 < len(got) < 40  # it actually simplified, and kept shape


def test_polyline_simplify_collinear_collapses(spark):
    from geocode_spark.operators.spatial import polyline_simplify

    line = [(i * 500, i * 250) for i in range(20)]
    got = polyline_simplify(
        _tracks_df(spark, [("l", line)]), eps_milli=1
    ).collect()
    assert sorted(r.seq for r in got) == [0, 19]


def test_polyline_simplify_tiny_tracks(spark):
    from geocode_spark.operators.spatial import polyline_simplify

    got = polyline_simplify(
        _tracks_df(
            spark, [("one", [(5, 5)]), ("two", [(0, 0), (9, 9)])]
        ),
        eps_milli=10,
    ).collect()
    by = {}
    for r in got:
        by.setdefault(r.track_id, []).append(r.seq)
    assert sorted(by["one"]) == [0] and sorted(by["two"]) == [0, 1]


def test_synthetic_tracks_chunking(spark, utah_points):
    from geocode_spark.operators.spatial import (
        TRACK_CHUNK,
        synthetic_tracks,
    )

    pdf = synthetic_tracks(utah_points).toPandas()
    assert len(pdf) == 60  # every point lands in exactly one track
    g = pdf.groupby("track_id")["seq"]
    assert (g.max() <= TRACK_CHUNK - 1).all()
    # seq is a clean 0..k prefix within each track
    assert all(sorted(s) == list(range(len(s))) for _, s in g)


# ------------------------------------------------------------- convex hull
def _hull_reference(pts):
    """Independent brute-force hull-vertex check: p is a vertex iff not
    inside/on a closed non-degenerate triangle of others, nor strictly
    between a collinear pair (exact int arithmetic)."""
    from itertools import combinations

    def cr(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    pts = sorted(set(pts))
    out = []
    for p in pts:
        others = [q for q in pts if q != p]
        covered = False
        for q, r, s in combinations(others, 3):
            if cr(q, r, s) == 0:
                continue
            a, b, c = cr(q, r, p), cr(r, s, p), cr(s, q, p)
            if (a >= 0 and b >= 0 and c >= 0) or (
                a <= 0 and b <= 0 and c <= 0
            ):
                covered = True
                break
        if not covered:
            for q, r in combinations(others, 2):
                if (
                    cr(q, r, p) == 0
                    and min(q[0], r[0]) <= p[0] <= max(q[0], r[0])
                    and min(q[1], r[1]) <= p[1] <= max(q[1], r[1])
                ):
                    covered = True
                    break
        if not covered:
            out.append(p)
    return sorted(out)


def _hull_df(spark, tracks):
    rows = [(t, int(x), int(y)) for t, pts in tracks for x, y in pts]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["track_id", "x", "y"])
    )


def test_convex_hull_hand_cases(spark):
    from geocode_spark.operators.spatial import convex_hull

    square = [(0, 0), (10, 0), (10, 10), (0, 10)]
    tracks = [
        ("sq", square + [(5, 5), (5, 0), (10, 5)]),  # interior + edge mids
        ("line", [(0, 0), (3, 3), (7, 7), (9, 9)]),
        ("pt", [(4, 4)]),
        ("dup", [(1, 2), (1, 2), (8, 1)]),
    ]
    got = {}
    for r in convex_hull(_hull_df(spark, tracks)).collect():
        got.setdefault(r.track_id, []).append((r.x, r.y))
    assert sorted(got["sq"]) == sorted(square)
    assert sorted(got["line"]) == [(0, 0), (9, 9)]
    assert got["pt"] == [(4, 4)]
    assert sorted(got["dup"]) == [(1, 2), (8, 1)]


def test_convex_hull_matches_bruteforce(spark):
    from geocode_spark.operators.spatial import convex_hull

    # deterministic pseudo-random cloud (md5-free: quadratic residues)
    pts = [((i * i * 7) % 101, (i * i * i * 5) % 97) for i in range(60)]
    got = sorted(
        (r.x, r.y)
        for r in convex_hull(_hull_df(spark, [("c", pts)])).collect()
    )
    assert got == _hull_reference(pts)
    assert 3 <= len(got) < len(set(pts))  # real reduction


# -------------------------------------------------------- spatial clusters
def _cluster_points(spark, cells):
    """cells: {(ix, iy): n_points} — synthesize n points inside each."""
    from geocode_spark.operators.spatial import DEFAULT_BBOX

    x0, y0 = DEFAULT_BBOX[0], DEFAULT_BBOX[1]
    cw = (DEFAULT_BBOX[2] - DEFAULT_BBOX[0]) / 64
    rows = []
    for (i, j), n in cells.items():
        for k in range(n):
            rows.append(
                (f"p{i}-{j}-{k}", x0 + (i + 0.4) * cw,
                 y0 + (j + 0.3 + 0.01 * k) * cw)
            )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["primary_key", "x", "y"])
    )


def test_spatial_clusters_two_blobs_and_noise(spark):
    from geocode_spark.operators.spatial import spatial_clusters

    cells = {
        # blob A: L-shaped, rook-connected
        (2, 2): 5, (3, 2): 6, (3, 3): 4,
        # blob B: far away
        (9, 9): 7, (9, 10): 4,
        # noise: dense but DIAGONAL to blob A (rook must not connect)
        (4, 4): 5,
        # noise: adjacent to blob A but below min_pts
        (1, 2): 3,
    }
    got = sorted(
        (r.n_cells, r.n_points)
        for r in spatial_clusters(_cluster_points(spark, cells)).collect()
    )
    assert got == [(1, 5), (2, 11), (3, 15)]


def test_spatial_clusters_min_pts_boundary(spark):
    from geocode_spark.operators.spatial import spatial_clusters

    cells = {(5, 5): 4, (5, 6): 3}  # exactly at / just below min_pts=4
    rows = spatial_clusters(_cluster_points(spark, cells)).collect()
    assert [(r.n_cells, r.n_points) for r in rows] == [(1, 4)]


def _cluster_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("points", ["success_points", "two_blobs"])
def test_spatial_clusters_packed_equals_loop(spark, sf_dir, monkeypatch,
                                             points):
    """connected_components runs as driver numpy below the
    SPARK_GRAFT_GRAPH_PACK_ROWS budget and as the distributed loop above
    it; spatial_clusters must return identical rows on both paths."""
    from geocode_spark.operators.spatial import spatial_clusters

    if points == "success_points":
        import __spark_entry__ as entrymod

        pts = entrymod._success_points(spark, sf_dir)
    else:
        pts = _cluster_points(spark, {
            (2, 2): 5, (3, 2): 6, (3, 3): 4, (9, 9): 7, (9, 10): 4,
            (4, 4): 5, (1, 2): 3,
        })
    packed = _cluster_rows(spatial_clusters(pts))
    # budget 0 sends connected_components to the distributed loop
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_PACK_ROWS", "0")
    loop = _cluster_rows(spatial_clusters(pts))
    assert packed == loop
    assert packed  # effect size: the input has dense cells
