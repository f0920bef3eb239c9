"""Spatial layer — J8/J9 (SURVEY §2.3): cell encode, kNN, point-in-polygon, tiles.

The reference delegates all spatial search to the AGRC API's server-side
locators (reference geocode.py:198-208); the north rule mandates a native
reimplementation: "H3/S2 cell encode, point-in-polygon tests, kNN
nearest-candidate search ... raster-to-vector tile assignment".

No geo libraries exist in this environment (h3/s2/shapely verified absent), so
the cell index is a from-scratch Z-order (Morton) curve over a fixed bounding
box — the same quantize-then-interleave idea H3/S2 use, in pure integer
arithmetic that runs identically in Spark SQL and DuckDB:

  ix = clamp(floor((x - x0) / span * 2^res))        quantize
  cell = part1by1(ix) | part1by1(iy) << 1           interleave (magic-number
                                                     bit spread, 4 ops/axis)

Every formula here is generated ONCE as a SQL string that both engines parse
(the shifts are the `<<` / `>>` operators), so the Spark plan and the DuckDB
oracle execute the exact same IEEE-754 / integer operations — results
hash-compare bitwise. kNN's numpy kernel (operators.cellindex) is the one
exception: it restates the quantization and knn_sql's distance in their
operation order, and its differential tests compare it with knn_sql bit for
bit.

Scale notes (100 TB):
 - cell encode / tile assign: pure column arithmetic, whole-stage codegen, no
   shuffle, no Python.
 - kNN: the candidate side is bucketed ONCE per candidate relation into a
   columnar CellIndex (sorted cell keys plus offsets) that every Python
   worker maps read-only (operators.indexfile). Each call is one mapInArrow
   stage over the points: a point scans the candidates of its 3x3 neighbour
   cells and keeps its top-k. The top-k is local to the row, so there is no
   join, no window and no shuffle, and the probe side is never exploded.
 - point-in-polygon: broadcast join against the (tiny) polygon table with a
   convex cross-product containment predicate — no shuffle of the big side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..steps import Steps
from .cellindex import _NEIGHBOR_OFFSETS, CellIndex
from .indexfile import IndexFile

# Bounding box covering the fixture lattice (UTM 12N meters) with margin.
DEFAULT_BBOX = (370000.0, 4390000.0, 440000.0, 4460000.0)  # x0, y0, x1, y1
DEFAULT_RES = 6  # 2^6 = 64 cells/axis -> ~1094 m cells over the 70 km bbox
# kNN probes a 3x3 neighborhood, so its grid must be fine enough that a cell
# holds O(1) candidates — at res 9 (~137 m cells) the candidate fan-in per
# probe stays single-digit for city-density address points, keeping the
# pair count ~9*|points| instead of the ~800x blowup res 6 produced.
KNN_RES = 9
DEFAULT_TILE = 1000.0  # raster tile size in meters

_SPREAD_MASKS = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


# ----------------------------------------------------------- formula builders
def _spread(e: str, masks) -> str:
    """Magic-number bit spread of `e` to even positions, one (shift, mask)
    step at a time."""
    for n, mask in masks:
        e = f"(({e} | ({e} << {n})) & {mask})"
    return e


def part1by1_sql(v: str) -> str:
    """Spread the low 16 bits of `v` into even bit positions (Morton spread)."""
    return _spread(f"(CAST({v} AS BIGINT) & 65535)", _SPREAD_MASKS)


def quantize_sql(c: str, lo: float, span: float, n: int) -> str:
    """Clamped quantization of coordinate `c` into [0, n-1]."""
    return (
        f"CAST(least(greatest(floor((({c}) - {lo!r}) / {span!r} * {n}), 0),"
        f" {n - 1}) AS BIGINT)"
    )


def cell_sql(ix: str, iy: str) -> str:
    """Z-order cell id from quantized integer coordinates."""
    return f"({part1by1_sql(ix)} | ({part1by1_sql(iy)} << 1))"


def quantize_exprs(x: str, y: str, res: int = DEFAULT_RES,
                   bbox=DEFAULT_BBOX) -> tuple[str, str]:
    x0, y0, x1, y1 = bbox
    n = 1 << res
    return quantize_sql(x, x0, x1 - x0, n), quantize_sql(y, y0, y1 - y0, n)


# ------------------------------------------------------------------ cell ops
def cell_encode_cols(x: str = "x", y: str = "y", res: int = DEFAULT_RES,
                     bbox=DEFAULT_BBOX) -> dict[str, Column]:
    """Columns {ix, iy, cell_id} for a DataFrame with coordinate columns x/y."""
    ix, iy = quantize_exprs(x, y, res, bbox)
    return {
        "ix": F.expr(ix),
        "iy": F.expr(iy),
        "cell_id": F.expr(cell_sql(ix, iy)),
    }


def cell_encode_select_sql(x: str = "x", y: str = "y", res: int = DEFAULT_RES,
                           bbox=DEFAULT_BBOX) -> str:
    """DuckDB select-list fragment mirroring cell_encode_cols bit-for-bit."""
    ix, iy = quantize_exprs(x, y, res, bbox)
    return f"{ix} AS ix, {iy} AS iy, {cell_sql(ix, iy)} AS cell_id"


def with_cell(df: DataFrame, x: str = "x", y: str = "y", res: int = DEFAULT_RES,
              bbox=DEFAULT_BBOX) -> DataFrame:
    return df.withColumns(cell_encode_cols(x, y, res, bbox))


# ----------------------------------------------------------------------- kNN
KNN_SCHEMA = "primary_key string, rank bigint, cand_id bigint, dist_sq double"


def cell_index(candidates: DataFrame, res: int = KNN_RES,
               bbox=DEFAULT_BBOX) -> IndexFile:
    """The candidates as a CellIndex, published to the workers as one file:
    collected, built and shipped once per candidate relation and grid
    (memoized, dropped by caching.clear_caches). A call with the very
    candidates DataFrame of an earlier call skips deriving its plan; other
    calls compare plans (DataFrame.sameSemantics), so a re-read of the same
    files hits too."""
    from ..caching import memo_lookup, model_memo

    key = ("cell_index", res, tuple(bbox))
    sources = (candidates,)
    index = memo_lookup(key, sources)
    if index is not None:
        return index
    anchor = candidates.select("cand_id", "x", "y")

    def build():
        cells = CellIndex.from_arrow(anchor.toArrow(), res, bbox)
        return IndexFile.publish(cells, anchor.sparkSession.sparkContext)

    return model_memo(key, anchor, build, sources=sources)


def knn_cell(points: DataFrame, candidates: DataFrame, k: int = 3,
             res: int = KNN_RES, bbox=DEFAULT_BBOX) -> DataFrame:
    """Cell-bucketed kNN: each point's k nearest candidates among those in
    the 3x3 cells around its own, by (dist_sq, cand_id) — knn_sql's rows.

    points: (primary_key, x, y); candidates: (cand_id, x, y), bucketed once
    into a shared CellIndex (cell_index). The plan is one mapInArrow stage
    over the points: a point's top-k is local to its row, so there is no
    join, no window and no exchange."""
    index = cell_index(candidates, res, bbox)

    # the stage pickles this closure, and a worker imports the modules of
    # the names it uses: cellindex and indexfile, not this module
    def kernel(batches):
        cells = index.load()
        for batch in batches:
            yield cells.topk(batch, k)

    return points.select(
        F.col("primary_key").cast("string"),
        F.col("x").cast("double"),
        F.col("y").cast("double"),
    ).mapInArrow(kernel, KNN_SCHEMA)


MAX_CANDIDATE_BROADCAST_ROWS = 2_000_000  # ~48 MB of (id, x, y) doubles


def knn_bruteforce(points: DataFrame, candidates: DataFrame, k: int = 3,
                   max_candidate_rows: int = MAX_CANDIDATE_BROADCAST_ROWS,
                   ) -> DataFrame:
    """Exact kNN baseline: vectorized scan of broadcast candidates.

    O(|points| * |cands|) distance evaluations — exact at any scale where the
    candidate side fits in a broadcast (the locator contract). The collect is
    SIZE-GUARDED (same contract as similarity.ann_topk): past
    `max_candidate_rows` it raises instead of OOMing the driver — use
    knn_cell for large candidate sets. Instead of materializing the
    cross-join as
    |P|*|C| shuffle rows and window-sorting them, each Arrow batch of query
    points computes the full distance matrix in numpy and emits only k rows
    per query — no shuffle at all. dist_sq = dx*dx+dy*dy in IEEE double,
    identical to the SQL expression; ties sort by cand_id via a stable sort
    over candidates pre-ordered by id — the exact (dist_sq, cand_id) order of
    the window/oracle formulation.
    """
    import numpy as np

    # limit(max+1) bounds what can ever reach the driver: if the extra row
    # shows up the table is over-guard and we bail before holding it all.
    cand = (
        candidates.select("cand_id", "x", "y")
        .limit(max_candidate_rows + 1)
        .toPandas()
    )
    if len(cand) > max_candidate_rows:
        raise ValueError(
            f"knn_bruteforce candidate side exceeds the broadcast guard "
            f"({max_candidate_rows} rows); use knn_cell for large "
            f"candidate sets"
        )
    order = np.argsort(cand["cand_id"].to_numpy(), kind="stable")
    bc = points.sparkSession.sparkContext.broadcast(
        (
            cand["cand_id"].to_numpy()[order],
            cand["x"].to_numpy(dtype="float64")[order],
            cand["y"].to_numpy(dtype="float64")[order],
        )
    )
    q = points.select("primary_key", "x", "y")

    def topk_batches(batches):
        import numpy as np
        import pandas as pd

        cid, cx, cy = bc.value
        n = len(cid)
        kk = min(k, n)
        if kk == 0:
            return
        # One candidate-length buffer set, written in place row by row. A
        # row-blocked distance MATRIX would be faster in pure FLOPs, but on
        # this class of VM first-touch page faults on large fresh buffers run
        # ~100x slower than the arithmetic (measured 10-15 MB/s in executors),
        # so the hot path touches only these 4 vectors (~0.6 MB total) once.
        dxb, dyb, db, scratch = (np.empty(n) for _ in range(4))
        ranks = np.arange(1, kk + 1)
        for pdf in batches:
            pks = pdf["primary_key"].to_numpy()
            qx = pdf["x"].to_numpy(dtype="float64")
            qy = pdf["y"].to_numpy(dtype="float64")
            m = len(pdf)
            sel = np.empty((m, kk), dtype=np.int64)
            dist = np.empty((m, kk))
            for i in range(m):
                np.subtract(qx[i], cx, out=dxb)
                np.subtract(qy[i], cy, out=dyb)
                np.multiply(dxb, dxb, out=dxb)
                np.multiply(dyb, dyb, out=dyb)
                np.add(dxb, dyb, out=db)
                # O(n) top-k: kth-smallest boundary value via in-place
                # partition of the scratch copy, then exact (dist_sq, cand_id)
                # ordering resolved only inside the tiny <=boundary set —
                # equivalent to a full stable sort (candidates are pre-sorted
                # by cand_id) at a fraction of the cost of a full argsort.
                scratch[:] = db
                scratch.partition(kk - 1)
                ji = np.flatnonzero(db <= scratch[kk - 1])
                o = ji[np.lexsort((ji, db[ji]))[:kk]]
                if len(o) < kk:
                    # NaN query coords make every distance NaN (no j with
                    # db <= boundary): degrade to the first kk candidates by
                    # id — matching what a NaN-laden ORDER BY would emit —
                    # instead of crashing the stage on a shape mismatch.
                    o = np.concatenate(
                        [o, np.arange(kk - len(o), dtype=np.int64)]
                    )
                sel[i] = o
                dist[i] = db[o]
            yield pd.DataFrame(
                {
                    "primary_key": np.repeat(pks, kk),
                    "rank": np.tile(ranks, m),
                    "cand_id": cid[sel].ravel(),
                    "dist_sq": dist.ravel(),
                }
            )

    return q.mapInPandas(
        topk_batches,
        schema=KNN_SCHEMA,
    )


def knn_sql(fix: str, source_sql: str, k: int = 3, res: int | None = KNN_RES,
            bbox=DEFAULT_BBOX) -> str:
    """DuckDB oracle for knn_cell (res set) or knn_bruteforce (res=None).

    source_sql: relation with (primary_key, x, y). Candidates = the
    address_points fixture."""
    if res is not None:
        # each side projects its cell as plain columns, so the join is an
        # equi-join of columns that DuckDB plans as a hash join (over
        # expressions, its join reordering made it a cross product)
        qix, qiy = quantize_exprs("q.x", "q.y", res, bbox)
        cix, ciy = quantize_exprs("c.x", "c.y", res, bbox)
        offsets = ", ".join(f"({dx}, {dy})" for dx, dy in _NEIGHBOR_OFFSETS)
        join = f"""
  FROM (SELECT q.*, {qix} + o.dx AS _nix, {qiy} + o.dy AS _niy
        FROM ({source_sql}) q
        CROSS JOIN (VALUES {offsets}) AS o(dx, dy)) q
  JOIN (SELECT c.*, {cix} AS _cix, {ciy} AS _ciy
        FROM read_parquet('{fix}/address_points.parquet') c) c
    ON q._nix = c._cix AND q._niy = c._ciy"""
    else:
        join = f"""
  FROM ({source_sql}) q
  CROSS JOIN read_parquet('{fix}/address_points.parquet') c"""
    dist = ("((q.x - c.x) * (q.x - c.x) + (q.y - c.y) * (q.y - c.y))")
    return f"""
SELECT primary_key, rank, cand_id, dist_sq FROM (
  SELECT q.primary_key,
         CAST(row_number() OVER (PARTITION BY q.primary_key
                                 ORDER BY {dist} ASC, c.cand_id ASC) AS BIGINT) AS rank,
         c.cand_id, {dist} AS dist_sq
  {join}
) WHERE rank <= {k}
"""


# --------------------------------------------------------- point-in-polygon
def _inside_quad(px: Column, py: Column) -> Column:
    """CCW convex quad containment: all 4 edge cross products >= 0.

    Polygon columns x1..x4 / y1..y4 must be in scope (grid_polygons schema)."""
    cond = None
    corners = [(1, 2), (2, 3), (3, 4), (4, 1)]
    for a, b in corners:
        ax, ay = F.col(f"x{a}"), F.col(f"y{a}")
        bx, by = F.col(f"x{b}"), F.col(f"y{b}")
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        c = cross >= 0
        cond = c if cond is None else (cond & c)
    return cond


def point_in_polygon(points: DataFrame, polygons: DataFrame,
                     out_col: str = "pip_grid") -> DataFrame:
    """Left-assign each point the convex quad containing it (or null).

    points: (primary_key, x, y); polygons: grid_polygons fixture schema.
    Broadcast nested-loop join against the tiny polygon table; polygons are
    disjoint so at most one match per point (enforced upstream by fixture
    geometry)."""
    p = points.select("primary_key", "x", "y")
    polys = polygons.select(
        F.col("grid").alias(out_col), "x1", "y1", "x2", "y2", "x3", "y3", "x4", "y4"
    )
    joined = p.join(
        F.broadcast(polys), on=_inside_quad(F.col("x"), F.col("y")), how="left"
    )
    return joined.select("primary_key", "x", "y", out_col)


def point_in_polygon_sql(fix: str, source_sql: str, out_col: str = "pip_grid") -> str:
    crosses = []
    for a, b in [(1, 2), (2, 3), (3, 4), (4, 1)]:
        crosses.append(
            f"((g.x{b} - g.x{a}) * (p.y - g.y{a})"
            f" - (g.y{b} - g.y{a}) * (p.x - g.x{a})) >= 0"
        )
    pred = " AND ".join(crosses)
    return f"""
SELECT p.primary_key, p.x, p.y, g.grid AS {out_col}
FROM ({source_sql}) p
LEFT JOIN read_parquet('{fix}/grid_polygons.parquet') g ON {pred}
"""


# ------------------------------------------------------------ tile assignment
def assign_tiles(points: DataFrame, tile_size: float = DEFAULT_TILE) -> DataFrame:
    """J9 raster side: snap each point to its raster tile (integer floor-div)."""
    return points.withColumns(
        {
            "tile_x": F.floor(F.col("x") / tile_size).cast("bigint"),
            "tile_y": F.floor(F.col("y") / tile_size).cast("bigint"),
        }
    )


def tile_rollup(points: DataFrame, tile_size: float = DEFAULT_TILE) -> DataFrame:
    """J9 raster->vector rollup: per-tile point count and score mass.

    One groupBy. Hot grids (SALT LAKE CITY) concentrate points into few
    tiles, but partial aggregation already combines a hot tile map-side, to
    one row per map task, so a salted second phase would only add an
    exchange. The contract query keeps its name, `tile_rollup_salted`, from
    when it ran that salted phase; its oracle is the same groupBy."""
    return (
        assign_tiles(points, tile_size)
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
    )


def tile_rollup_sql(source_sql: str, tile_size: float = DEFAULT_TILE) -> str:
    """DuckDB oracle for tile_rollup.

    source_sql: relation with (x, y, score)."""
    return f"""
SELECT CAST(floor(x / {tile_size!r}) AS BIGINT) AS tile_x,
       CAST(floor(y / {tile_size!r}) AS BIGINT) AS tile_y,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(score) AS BIGINT) AS sum_score
FROM ({source_sql})
GROUP BY 1, 2
"""


# ------------------------------------------------------------- tile pyramid
# Multi-zoom rollup of the J9 raster tiling: the tile-server shape (a map
# client asks for pre-aggregated tiles at EVERY zoom, not one). The naive
# plan scans the point table once per zoom; this operator computes all
# zooms in ONE pass via GROUPING SETS — Catalyst plans a single scan + one
# Expand (3 rows per input) + one keyed hash aggregate, so a 100 TB point
# table is read once instead of `n_zooms` times. Coarser tile indices are
# derived from the BASE integer index by exact halving (floor over a
# <2^53 integer), never by re-flooring x/y at a wider tile size — the two
# are mathematically equal but only the former is float-roundoff-proof.
PYRAMID_ZOOMS = 3  # zoom 2 = base tile_size, zoom 1 = 2x, zoom 0 = 4x


def _pyramid_index_sql(base: str, z_from_finest: int) -> str:
    """Shared-dialect SQL: halve a base tile index `z_from_finest` times."""
    if z_from_finest == 0:
        return base
    return f"CAST(floor(({base}) / {1 << z_from_finest}.0) AS BIGINT)"


def tile_pyramid(points: DataFrame, tile_size: float = DEFAULT_TILE,
                 zooms: int = PYRAMID_ZOOMS) -> DataFrame:
    """(zoom, tile_x, tile_y, n_points, sum_score) at every zoom level in
    one scan. zoom = zooms-1 is the base grid (tile_size), each level down
    doubles the tile edge."""
    finest = zooms - 1
    t = assign_tiles(points, tile_size)
    for z in range(zooms):
        h = finest - z  # halvings from the base grid
        t = t.withColumns(
            {
                f"tx{z}": F.expr(_pyramid_index_sql("tile_x", h)),
                f"ty{z}": F.expr(_pyramid_index_sql("tile_y", h)),
            }
        )
    sets = [[F.col(f"tx{z}"), F.col(f"ty{z}")] for z in range(zooms)]
    flat = [c for pair in sets for c in pair]
    agg = t.groupingSets(sets, *flat).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum("score").cast("bigint").alias("sum_score"),
    )
    # Exactly one (txZ, tyZ) pair is non-null per output row; fixture
    # coordinates are never null, so null-ness IS the set marker.
    zoom = F.lit(None).cast("bigint")
    for z in range(zooms):
        zoom = F.when(F.col(f"tx{z}").isNotNull(), F.lit(z).cast("bigint")).otherwise(zoom)
    tx = F.coalesce(*[F.col(f"tx{z}") for z in range(zooms)])
    ty = F.coalesce(*[F.col(f"ty{z}") for z in range(zooms)])
    return agg.select(
        zoom.alias("zoom"),
        tx.cast("bigint").alias("tile_x"),
        ty.cast("bigint").alias("tile_y"),
        "n_points",
        "sum_score",
    )


def tile_pyramid_sql(source_sql: str, tile_size: float = DEFAULT_TILE,
                     zooms: int = PYRAMID_ZOOMS) -> str:
    """DuckDB oracle: UNION ALL of per-zoom group-bys (the semantic ground
    truth the one-pass Expand plan must reproduce).

    source_sql: relation with (x, y, score)."""
    finest = zooms - 1
    base_x = f"CAST(floor(x / {tile_size!r}) AS BIGINT)"
    base_y = f"CAST(floor(y / {tile_size!r}) AS BIGINT)"
    parts = []
    for z in range(zooms):
        h = finest - z
        parts.append(f"""
SELECT CAST({z} AS BIGINT) AS zoom,
       {_pyramid_index_sql(base_x, h)} AS tile_x,
       {_pyramid_index_sql(base_y, h)} AS tile_y,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(score) AS BIGINT) AS sum_score
FROM ({source_sql})
GROUP BY 2, 3""")
    return " UNION ALL ".join(parts)


# ----------------------------------------------------------------- geohash
# True base-32 geohash of the WGS84 position — the industry-standard
# prefix-joinable spatial key (equal prefixes = nearby cells), complementing
# the repo's Z-order cell id (geohash interleaves lon/lat bits MSB-first and
# renders them in the 32-char alphabet, so a LIKE 'prefix%' range scan IS a
# spatial window). Built from the SAME rounded lon/lat the projection family
# already hash-gates (projection.py WGS84_DECIMALS), then pure integer
# quantize -> 64-bit Morton spread -> base-32 render, identical SQL in both
# dialects. Zero shuffle, zero Python, whole-stage codegen.
GEOHASH_PRECISION = 7  # 35 bits: 18 lon + 17 lat (~76 m x 152 m cells)
_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"
# 64-bit part1by1 masks (18-bit inputs spread to 36 bits, bigint-safe).
_SPREAD64 = (
    (16, 281470681808895),          # 0x0000FFFF0000FFFF
    (8, 71777214294589695),         # 0x00FF00FF00FF00FF
    (4, 1085102592571150095),       # 0x0F0F0F0F0F0F0F0F
    (2, 3689348814741910323),       # 0x3333333333333333
    (1, 6148914691236517205),       # 0x5555555555555555
)


def geohash_steps(precision: int = GEOHASH_PRECISION) -> Steps:
    """Steps from the `lon`/`lat` degree columns to the base-32 `geohash`;
    the `_gh_` steps are temporaries.

    Quantization is the textbook bisection unrolled: bit k (MSB-first) of
    the lon bit-stream is bit k of floor((lon+180)/360 * 2^n_lon) — the
    binary expansion of the normalized coordinate — so this closed form
    equals the per-bit interval-halving algorithm (pinned by the pure-
    python bisection twin in tests/test_spatial_round5.py)."""
    nbits = 5 * precision
    n_lon = (nbits + 1) // 2
    n_lat = nbits // 2
    t = "_gh_"
    # the MSB of the bit-stream is lon's, so lon takes the even positions
    # (from the LSB end) when nbits is odd and the odd ones when it is even
    even, odd = (f"{t}lonq", f"{t}latq") if nbits % 2 else (f"{t}latq", f"{t}lonq")
    chars = ", ".join(
        f"substr('{_GEOHASH32}',"
        f" CAST((({t}combined >> {nbits - 5 * (k + 1)}) & 31) + 1 AS INT), 1)"
        for k in range(precision)
    )
    return [
        (f"{t}lonq", quantize_sql("lon", -180.0, 360.0, 1 << n_lon)),
        (f"{t}latq", quantize_sql("lat", -90.0, 180.0, 1 << n_lat)),
        (f"{t}combined",
         f"({_spread(even, _SPREAD64)} | ({_spread(odd, _SPREAD64)} << 1))"),
        ("geohash", f"concat({chars})"),
    ]


def geohash_encode(points: DataFrame,
                   precision: int = GEOHASH_PRECISION) -> DataFrame:
    """(primary_key, lon, lat, geohash) for UTM points (x, y)."""
    from ..steps import with_steps
    from .projection import inverse_steps

    staged = with_steps(points, inverse_steps() + geohash_steps(precision),
                        keep=("lon", "lat", "geohash"))
    return staged.select("primary_key", "lon", "lat", "geohash")


def geohash_encode_sql(source_sql: str,
                       precision: int = GEOHASH_PRECISION) -> str:
    """DuckDB oracle: the same steps, run staged."""
    from ..steps import steps_sql
    from .projection import inverse_steps

    staged = steps_sql(f"({source_sql})",
                       inverse_steps() + geohash_steps(precision),
                       keep=("lon", "lat", "geohash"))
    return f"SELECT primary_key, lon, lat, geohash FROM {staged}"


# ------------------------------------------------------ great-circle (hub)
# Nearest-hub assignment by true great-circle (haversine) distance — the
# geodesic companion to the planar kNN family: planar UTM distance is fine
# inside one zone, but cross-region rollups (assign every page's geocoded
# point to its serving data-center / metro hub) need the sphere. Hubs are a
# metadata-scale relation (dozens), so the plan is a broadcast nested-loop
# of |points| x |hubs| followed by a per-point argmin window keyed on the
# UNIQUE primary key — no shuffle of the big side, skew-free by
# construction, identical trig in both dialects with the result rounded to
# 1e-3 m (the projection family's double-parity discipline).
EARTH_RADIUS_M = 6371008.8  # IUGG mean radius
DIST_DECIMALS = 3
# Deterministic metro hubs on the fixture lattice's WGS84 footprint.
DEFAULT_HUBS = (
    (0, -112.10, 40.50),
    (1, -111.70, 40.90),
    (2, -111.95, 40.70),
    (3, -112.00, 41.10),
    (4, -111.80, 40.30),
)


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Shared-dialect haversine distance in meters, rounded."""
    p1, p2 = f"radians({lat1})", f"radians({lat2})"
    dphi = f"(radians({lat2}) - radians({lat1}))"
    dlmb = f"(radians({lon2}) - radians({lon1}))"
    a = (f"(sin({dphi}/2.0) * sin({dphi}/2.0)"
         f" + cos({p1}) * cos({p2}) * sin({dlmb}/2.0) * sin({dlmb}/2.0))")
    return (f"round(2.0 * {EARTH_RADIUS_M!r}"
            f" * asin(least(1.0, sqrt({a}))), {DIST_DECIMALS})")


def nearest_hub(points: DataFrame, hubs=DEFAULT_HUBS) -> DataFrame:
    """(primary_key, hub_id, dist_m): the great-circle-nearest hub per
    geocoded point, ties broken by hub_id."""
    from ..steps import with_steps
    from .projection import inverse_steps

    spark = points.sparkSession
    hub_df = spark.createDataFrame(
        list(hubs), "hub_id bigint, hub_lon double, hub_lat double"
    )
    ll = with_steps(points, inverse_steps(), keep=("lon", "lat")).select(
        "primary_key", "lon", "lat"
    )
    paired = ll.join(F.broadcast(hub_df)).withColumn(
        "dist_m",
        F.expr(haversine_sql("lon", "lat", "hub_lon", "hub_lat")),
    )
    w = Window.partitionBy("primary_key").orderBy(
        F.col("dist_m").asc(), F.col("hub_id").asc()
    )
    return (
        paired.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("primary_key", "hub_id", "dist_m")
    )


def nearest_hub_sql(source_sql: str, hubs=DEFAULT_HUBS) -> str:
    """DuckDB oracle: same projection, same haversine, same argmin.

    source_sql: relation with (primary_key, x, y)."""
    from ..steps import steps_sql
    from .projection import inverse_steps

    ll = steps_sql(f"({source_sql})", inverse_steps(), keep=("lon", "lat"))
    hub_rows = " UNION ALL ".join(
        f"SELECT CAST({h} AS BIGINT) AS hub_id, CAST({lo!r} AS DOUBLE)"
        f" AS hub_lon, CAST({la!r} AS DOUBLE) AS hub_lat"
        for h, lo, la in hubs
    )
    d = haversine_sql("lon", "lat", "hub_lon", "hub_lat")
    return f"""
WITH ll AS (SELECT primary_key, lon, lat FROM {ll}),
hubs AS ({hub_rows}),
paired AS (
  SELECT primary_key, hub_id, {d} AS dist_m
  FROM ll CROSS JOIN hubs
),
ranked AS (
  SELECT primary_key, hub_id, dist_m,
         row_number() OVER (PARTITION BY primary_key
                            ORDER BY dist_m ASC, hub_id ASC) AS rn
  FROM paired
)
SELECT primary_key, hub_id, dist_m FROM ranked WHERE rn = 1
"""


# ------------------------------------------------- cover-and-refine join
# The big-big spatial join: when BOTH sides are large (points AND query
# rectangles), neither broadcast (point_in_polygon's plan) nor a cross
# product survives — the standard answer is space-partitioning cover +
# exact refine: each rectangle explodes into its BOUNDED set of covering
# grid cells (≤ (w/cell+2)·(h/cell+2), a constant for bounded-size
# rects), points carry their single cell, the join is a plain keyed
# equi-join on cell_id, and an exact BETWEEN predicate refines the
# candidates. False positives are filtered; false negatives are
# impossible (the clamp is monotone, so a contained point's cell is
# always within the rect's clamped cell range). Each (rect, point) pair
# meets in exactly ONE cell (the point's), so no dedup pass is needed.
COVER_RES = 7  # ~547 m cells over the 70 km bbox


def rect_cover_cells(rects: DataFrame, res: int = COVER_RES,
                     bbox=DEFAULT_BBOX) -> DataFrame:
    """Explode (rect_id, xmin, ymin, xmax, ymax) into covering cells."""
    ix0, iy0 = quantize_exprs("xmin", "ymin", res, bbox)
    ix1, iy1 = quantize_exprs("xmax", "ymax", res, bbox)
    return (
        rects.withColumns(
            {"_ix0": F.expr(ix0), "_ix1": F.expr(ix1),
             "_iy0": F.expr(iy0), "_iy1": F.expr(iy1)}
        )
        .select(
            "*",
            F.explode(F.sequence("_ix0", "_ix1")).alias("ix"),
        )
        .select(
            "*",
            F.explode(F.sequence("_iy0", "_iy1")).alias("iy"),
        )
        .withColumn("cell_id", F.expr(cell_sql("ix", "iy")))
        .drop("_ix0", "_ix1", "_iy0", "_iy1")
    )


def bbox_cover_join(points: DataFrame, rects: DataFrame,
                    res: int = COVER_RES, bbox=DEFAULT_BBOX) -> DataFrame:
    """(rect_id, primary_key) for every point inside every rectangle —
    keyed equi-join on covering cells, exact refine, no broadcast of
    either big side, no cross product."""
    p = with_cell(points, "x", "y", res, bbox).select(
        "primary_key", "x", "y", "cell_id"
    )
    r = rect_cover_cells(rects, res, bbox).select(
        "rect_id", "xmin", "ymin", "xmax", "ymax", "cell_id"
    )
    return (
        p.join(r, "cell_id")
        .filter(
            (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
            & (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax"))
        )
        .select("rect_id", "primary_key")
    )


# Deterministic query-rectangle derivation shared with the oracle: every
# point whose key ends in '0' spawns an 800 m x 600 m rect centred on it.
RECT_W, RECT_H = 400.0, 300.0


def derive_rects(points: DataFrame) -> DataFrame:
    return points.filter(F.col("primary_key").endswith("0")).select(
        F.col("primary_key").alias("rect_id"),
        (F.col("x") - RECT_W).alias("xmin"),
        (F.col("y") - RECT_H).alias("ymin"),
        (F.col("x") + RECT_W).alias("xmax"),
        (F.col("y") + RECT_H).alias("ymax"),
    )


def bbox_cover_join_sql(source_sql: str) -> str:
    """DuckDB oracle: the naive exact theta-join ground truth.

    source_sql: relation with (primary_key, x, y)."""
    return f"""
WITH pts AS ({source_sql}),
rects AS (
  SELECT primary_key AS rect_id,
         x - {RECT_W!r} AS xmin, y - {RECT_H!r} AS ymin,
         x + {RECT_W!r} AS xmax, y + {RECT_H!r} AS ymax
  FROM pts WHERE primary_key LIKE '%0'
)
SELECT r.rect_id, p.primary_key
FROM pts p JOIN rects r
  ON p.x BETWEEN r.xmin AND r.xmax AND p.y BETWEEN r.ymin AND r.ymax
"""


# ---------------------------------------------------- density diagnostics
# cell_density_histogram: the spatial twin of the link graph's
# degree_histogram — how many cells hold how many points. This is the
# FIRST table a spatial job reads at 100 TB: a heavy tail (SALT LAKE CITY
# cells holding 10^6x the median) is exactly the signal that picks the
# salting / two-phase-agg strategy for every downstream cell-keyed op.
# Two keyed groupBys, nothing else.
def cell_density_histogram(points: DataFrame, res: int = DEFAULT_RES,
                           bbox=DEFAULT_BBOX) -> DataFrame:
    """(n_points, n_cells): distribution of per-cell point counts over
    occupied cells."""
    per_cell = (
        with_cell(points, "x", "y", res, bbox)
        .groupBy("cell_id")
        .agg(F.count("*").cast("bigint").alias("n_points"))
    )
    return per_cell.groupBy("n_points").agg(
        F.count("*").cast("bigint").alias("n_cells")
    )


def cell_density_histogram_sql(source_sql: str, res: int = DEFAULT_RES,
                               bbox=DEFAULT_BBOX) -> str:
    ix, iy = quantize_exprs("x", "y", res, bbox)
    cell = cell_sql(ix, iy)
    return f"""
WITH per_cell AS (
  SELECT {cell} AS cell_id, CAST(count(*) AS BIGINT) AS n_points
  FROM ({source_sql}) GROUP BY 1
)
SELECT n_points, CAST(count(*) AS BIGINT) AS n_cells
FROM per_cell GROUP BY n_points
"""


# focal_density: the raster focal-sum (moving-window smoothing) over the
# cell grid — per occupied cell, the point count in its 3x3 neighborhood.
# The classic map-algebra op, done relationally: aggregate per cell FIRST
# (so the explode runs over the |occupied cells| relation, not the corpus),
# then a bounded 9-way offset explode + one keyed groupBy re-aggregates
# neighborhoods. Point volume crosses an exchange exactly once.
def focal_density(points: DataFrame, res: int = DEFAULT_RES,
                  bbox=DEFAULT_BBOX) -> DataFrame:
    """(ix, iy, n_focal): per occupied cell, points within its 3x3
    neighborhood (truncated at the grid boundary by construction —
    out-of-range neighbor offsets simply never match an occupied cell)."""
    per_cell = (
        with_cell(points, "x", "y", res, bbox)
        .groupBy("ix", "iy")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _NEIGHBOR_OFFSETS
        ]
    )
    contrib = per_cell.select(
        F.explode(offsets).alias("o"), "ix", "iy", "n"
    ).select(
        (F.col("ix") + F.col("o.dx")).alias("cx"),
        (F.col("iy") + F.col("o.dy")).alias("cy"),
        "n",
    )
    return (
        per_cell.select("ix", "iy")
        .join(
            contrib,
            (F.col("ix") == F.col("cx")) & (F.col("iy") == F.col("cy")),
        )
        .groupBy("ix", "iy")
        .agg(F.sum("n").cast("bigint").alias("n_focal"))
    )


def focal_density_sql(source_sql: str, res: int = DEFAULT_RES,
                      bbox=DEFAULT_BBOX) -> str:
    """DuckDB twin: per-cell counts, then the independent 9-neighbor
    correlated-sum formulation."""
    ix, iy = quantize_exprs("x", "y", res, bbox)
    return f"""
WITH per_cell AS (
  SELECT {ix} AS ix, {iy} AS iy, CAST(count(*) AS BIGINT) AS n
  FROM ({source_sql}) GROUP BY 1, 2
)
SELECT a.ix, a.iy, CAST(sum(b.n) AS BIGINT) AS n_focal
FROM per_cell a JOIN per_cell b
  ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1
GROUP BY a.ix, a.iy
"""


# Moran's I (Moran 1950): global spatial autocorrelation of the per-cell
# point density — THE screening statistic for "is this point pattern
# clustered, dispersed, or random?", read before choosing a spatial
# partitioning (clustered => hot cells => salting / two-phase agg; the
# cell_density_histogram's heavy tail, reduced to one number). Done
# relationally at metadata scale: the corpus crosses ONE exchange (the
# per-cell count — the same first stage every cell-keyed op here pays);
# everything after runs on the |occupied cells| relation: deviations are
# EXACT integers (d_i = n*x_i - S, the mean cleared by cross-multiplying
# instead of dividing), rook-adjacent pairs come from a bounded 4-offset
# explode + keyed equi-join (never a non-equi theta join), and the only
# float op is the final ratio — identical cast/multiply/divide/round
# sequence in both dialects (IEEE-exact, no libm).
_ROOK_OFFSETS = [(-1, 0), (1, 0), (0, -1), (0, 1)]


def morans_i(points: DataFrame, res: int = DEFAULT_RES,
             bbox=DEFAULT_BBOX) -> DataFrame:
    """One row (n_cells, w_pairs, num, den, i_micro): Moran's I over
    per-cell counts with rook adjacency (binary weights, ordered pairs).
    num = sum_adj d_a*d_b, den = sum d^2 with d_i = n*x_i - S exact
    int64; I = (n/W) * num/den scaled by n^-2 cancelling — i_micro =
    round(1e6 * n * num / (W * den)), NULL when no adjacent pairs."""
    per_cell = (
        with_cell(points, "x", "y", res, bbox)
        .groupBy("ix", "iy")
        .agg(F.count("*").cast("bigint").alias("xv"))
    )
    from ..caching import persist_tracked

    per_cell = persist_tracked(per_cell)
    stats = per_cell.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("xv").cast("bigint").alias("s"),
    )
    dev = per_cell.crossJoin(F.broadcast(stats)).select(
        "ix", "iy",
        (F.col("n_cells") * F.col("xv") - F.col("s"))
        .cast("bigint").alias("d"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _ROOK_OFFSETS
        ]
    )
    shifted = dev.select(
        F.explode(offsets).alias("o"), "ix", "iy", "d"
    ).select(
        (F.col("ix") + F.col("o.dx")).alias("cx"),
        (F.col("iy") + F.col("o.dy")).alias("cy"),
        F.col("d").alias("d_b"),
    )
    pair_agg = (
        dev.join(
            shifted,
            (F.col("ix") == F.col("cx")) & (F.col("iy") == F.col("cy")),
        )
        .agg(
            F.count("*").cast("bigint").alias("w_pairs"),
            F.sum(F.col("d") * F.col("d_b")).cast("bigint").alias("num"),
        )
    )
    den_agg = dev.agg(
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("den")
    )
    return (
        stats.crossJoin(pair_agg).crossJoin(den_agg).select(
            "n_cells", "w_pairs", "num", "den",
            F.when(
                (F.col("w_pairs") > 0) & (F.col("den") > 0),
                F.round(
                    F.col("n_cells").cast("double")
                    * F.col("num").cast("double")
                    * F.lit(1000000.0)
                    / (F.col("w_pairs").cast("double")
                       * F.col("den").cast("double")),
                    0,
                ).cast("bigint"),
            ).alias("i_micro"),
        )
    )


def morans_i_sql(source_sql: str, res: int = DEFAULT_RES,
                 bbox=DEFAULT_BBOX) -> str:
    """DuckDB twin: identical integer deviations; adjacency as the
    independent abs-offset formulation (|dix| + |diy| = 1)."""
    ix, iy = quantize_exprs("x", "y", res, bbox)
    return f"""
WITH per_cell AS (
  SELECT {ix} AS ix, {iy} AS iy, CAST(count(*) AS BIGINT) AS xv
  FROM ({source_sql}) GROUP BY 1, 2
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(xv) AS BIGINT) AS s
  FROM per_cell
), dev AS (
  SELECT ix, iy, CAST(n_cells * xv - s AS BIGINT) AS d
  FROM per_cell CROSS JOIN stats
), pair_agg AS (
  SELECT CAST(count(*) AS BIGINT) AS w_pairs,
         CAST(sum(a.d * b.d) AS BIGINT) AS num
  FROM dev a JOIN dev b
    ON abs(a.ix - b.ix) + abs(a.iy - b.iy) = 1
), den_agg AS (
  SELECT CAST(sum(d * d) AS BIGINT) AS den FROM dev
)
SELECT n_cells, w_pairs, num, den,
       CASE WHEN w_pairs > 0 AND den > 0 THEN
         CAST(round(CAST(n_cells AS DOUBLE) * CAST(num AS DOUBLE)
                    * 1000000.0
                    / (CAST(w_pairs AS DOUBLE) * CAST(den AS DOUBLE)),
                    0) AS BIGINT)
       END AS i_micro
FROM stats CROSS JOIN pair_agg CROSS JOIN den_agg"""


# Vector-geometry layer: ring metrics via the shoelace formula (Gauss).
# Area/centroid of polygon rings is the raster<->vector layer's other
# half (assign_tiles/bbox_cover_join consume rectangles; real cadastral /
# admin-boundary tables carry arbitrary rings). The operator is a pure
# zero-shuffle projection over a (gid, xs, ys) vertex-ARRAY relation —
# the natural 100 TB layout (one row per ring, never an exploded vertex
# table that needs a window to re-order) — using higher-order array
# functions; every term is exact int64 in the ring's OWN frame
# (vertices translated to the first vertex before multiplying: absolute
# UTM-milli products would overflow; translation leaves area and
# centroid-offset invariant), and the only float op is the final
# centroid ratio — identical cast/divide/round sequence both dialects.
#
# Negative-operand integer division: Spark `div` and DuckDB `//` BOTH
# truncate toward zero (probed: (-707*1234)//1000 = -872 in DuckDB,
# -872 via div in Spark), so the star-corpus radius scaling below is
# dialect-exact without sign-factoring.
POLY_VERTS = 8
_STAR_DIRS = [  # CCW unit directions x1000; 707/1000 ~ cos 45
    (1000, 0), (707, 707), (0, 1000), (-707, 707),
    (-1000, 0), (-707, -707), (0, -1000), (707, -707),
]


def _star_ring_exprs(res: int, bbox, dialect: str,
                     radius_scale: int = 1):
    """(gid_sql, xs_sql, ys_sql) building one deterministic 8-vertex CCW
    star ring per cell, given integer columns ix/iy in scope: center at
    the cell center (milli units), per-vertex radius 500..1999 milli
    (times radius_scale — 1 for the polygon_metrics gate corpus, 1000
    for km-scale PIP regions) from md5(gid:v). Pure integer arithmetic
    after the (exact-dyadic) center literal — dialect-split only where
    syntax forces it (md5 prefix -> int, integer div, array
    constructor)."""
    cellw = (bbox[2] - bbox[0]) / (1 << res)
    cellh = (bbox[3] - bbox[1]) / (1 << res)
    if dialect == "spark":
        gid = "concat(cast(ix AS STRING), '_', cast(iy AS STRING))"

        def r(v):
            return (
                f"(CAST(conv(substring(md5(concat(gid, ':{v}')), 1, 4), "
                f"16, 10) AS BIGINT) % 1500 + 500)"
            )

        def idiv(e):
            return f"(({e}) div 1000)"

        arr = "array"
    else:
        gid = "concat(CAST(ix AS VARCHAR), '_', CAST(iy AS VARCHAR))"

        def r(v):
            return (
                f"(('0x' || substr(md5(gid || ':{v}'), 1, 4))::BIGINT "
                f"% 1500 + 500)"
            )

        def idiv(e):
            return f"(({e}) // 1000)"

        arr = "list_value"
    cxm = (
        f"CAST(round(({bbox[0]!r} + (ix + 0.5) * {cellw!r}) * 1000.0, 0) "
        f"AS BIGINT)"
    )
    cym = (
        f"CAST(round(({bbox[1]!r} + (iy + 0.5) * {cellh!r}) * 1000.0, 0) "
        f"AS BIGINT)"
    )
    s = int(radius_scale)
    xs = ", ".join(
        f"{cxm} + {idiv(f'{dx} * {r(v)} * {s}')}"
        for v, (dx, _) in enumerate(_STAR_DIRS)
    )
    ys = ", ".join(
        f"{cym} + {idiv(f'{dy} * {r(v)} * {s}')}"
        for v, (_, dy) in enumerate(_STAR_DIRS)
    )
    return gid, f"{arr}({xs})", f"{arr}({ys})"


def synthetic_polygon_corpus(points: DataFrame, res: int = DEFAULT_RES,
                             bbox=DEFAULT_BBOX) -> DataFrame:
    """(gid, xs, ys): the vertex-array polygon fixture for
    polygon_metrics — one star ring per occupied cell of the point
    relation (both engines derive it identically; see _star_ring_exprs).
    One distinct groupBy of the corpus, then a zero-shuffle projection."""
    gid, xs, ys = _star_ring_exprs(res, bbox, "spark")
    cells = (
        with_cell(points, "x", "y", res, bbox)
        .select("ix", "iy")
        .distinct()
    )
    # xs/ys reference BOTH gid (radius hash) and ix/iy (center): stage
    # gid first, keep ix/iy in scope, project the arrays, then prune
    return cells.select("ix", "iy", F.expr(gid).alias("gid")).select(
        "gid",
        F.expr(xs).alias("xs"),
        F.expr(ys).alias("ys"),
    )


def polygon_metrics(polys: DataFrame) -> DataFrame:
    """(gid, n_vertices, area2, cx_micro, cy_micro) per ring: area2 =
    the signed shoelace sum in sq-milli units (positive = CCW), centroid
    in micro units (NULL for degenerate zero-area rings). Zero-shuffle
    higher-order-function projection over vertex arrays; every product
    is taken in the ring's own frame (vertices translated to vertex 1 —
    absolute UTM-milli products would overflow int64; area and the
    centroid offset are translation-invariant)."""
    n = F.size("xs")
    x1 = F.element_at("xs", 1)
    y1 = F.element_at("ys", 1)

    def _cross(i):
        nx = i % n + 1
        return (
            (F.element_at("xs", i) - x1) * (F.element_at("ys", nx) - y1)
            - (F.element_at("xs", nx) - x1) * (F.element_at("ys", i) - y1)
        )

    idx = F.sequence(F.lit(1), n)
    zero = F.lit(0).cast("bigint")
    area2 = F.aggregate(idx, zero, lambda a, i: a + _cross(i))
    cnum_x = F.aggregate(
        idx, zero,
        lambda a, i: a
        + ((F.element_at("xs", i) - x1)
           + (F.element_at("xs", i % n + 1) - x1)) * _cross(i),
    )
    cnum_y = F.aggregate(
        idx, zero,
        lambda a, i: a
        + ((F.element_at("ys", i) - y1)
           + (F.element_at("ys", i % n + 1) - y1)) * _cross(i),
    )

    def _cent(base_milli, cnum):
        return F.when(
            F.col("area2") != 0,
            base_milli * F.lit(1000)
            + F.round(
                F.lit(1000.0) * cnum.cast("double")
                / (F.lit(3.0) * F.col("area2").cast("double")),
                0,
            ).cast("bigint"),
        )

    staged = polys.select(
        "gid", "xs", "ys",
        n.cast("bigint").alias("n_vertices"),
        area2.alias("area2"),
        cnum_x.alias("cnx"),
        cnum_y.alias("cny"),
    )
    return staged.select(
        "gid", "n_vertices", "area2",
        _cent(F.element_at("xs", 1), F.col("cnx")).alias("cx_micro"),
        _cent(F.element_at("ys", 1), F.col("cny")).alias("cy_micro"),
    )


def polygon_metrics_sql(source_sql: str, res: int = DEFAULT_RES,
                        bbox=DEFAULT_BBOX) -> str:
    """DuckDB twin of polygon_metrics over synthetic_polygon_corpus(
    source): the independent RELATIONAL shoelace (lateral unnest over
    vertex index + GROUP BY, vs the engine's in-array fold), identical
    translation, identical final float ratio."""
    ix, iy = quantize_exprs("x", "y", res, bbox)
    gid, xs, ys = _star_ring_exprs(res, bbox, "duckdb")
    return f"""
WITH cells AS (
  SELECT DISTINCT {ix} AS ix, {iy} AS iy FROM ({source_sql})
), polys AS (
  SELECT {gid} AS gid, {xs} AS xs, {ys} AS ys
  FROM (SELECT ix, iy, {gid} AS gid FROM cells)
), terms AS (
  SELECT gid, len(xs) AS n, i,
         (xs[i] - xs[1]) * (ys[i % len(xs) + 1] - ys[1])
         - (xs[i % len(xs) + 1] - xs[1]) * (ys[i] - ys[1]) AS cr,
         (xs[i] - xs[1]) + (xs[i % len(xs) + 1] - xs[1]) AS sx,
         (ys[i] - ys[1]) + (ys[i % len(xs) + 1] - ys[1]) AS sy,
         xs[1] AS x1, ys[1] AS y1
  FROM polys, unnest(generate_series(1, len(xs))) AS u(i)
)
SELECT gid,
       CAST(max(n) AS BIGINT) AS n_vertices,
       CAST(sum(cr) AS BIGINT) AS area2,
       CASE WHEN sum(cr) != 0 THEN
         max(x1) * 1000 + CAST(round(1000.0 * CAST(sum(sx * cr) AS DOUBLE)
             / (3.0 * CAST(sum(cr) AS DOUBLE)), 0) AS BIGINT)
       END AS cx_micro,
       CASE WHEN sum(cr) != 0 THEN
         max(y1) * 1000 + CAST(round(1000.0 * CAST(sum(sy * cr) AS DOUBLE)
             / (3.0 * CAST(sum(cr) AS DOUBLE)), 0) AS BIGINT)
       END AS cy_micro
FROM terms GROUP BY gid"""


# Polyline simplification (Douglas & Peucker 1973): reduce a vertex chain
# to the subset that keeps every removed point within eps of the
# simplified line — the standard pre-tiling step for trajectory / contour
# / boundary layers (ship a 50-point ring to a z10 tile, not 50,000).
# Spark shape: tracks are assembled once (one exchange: the row_number
# that any ordered-track operator pays), then the kernel is ONE
# applyInPandas stage — per-track state never leaves its group, so the
# operator scales with the number of tracks, not their total length.
# Kernel arithmetic: cross products in numpy int64 (within-track frames
# bound them well under 2^63), and the single split decision per
# interval in arbitrary-precision python ints (cross^2 vs eps^2*seglen2
# would overflow int64) — the DuckDB twin runs the SAME comparison in
# HUGEINT inside a recursive interval CTE whose argmax is expressed via
# NOT EXISTS (no aggregates over the working table), so the gate is
# exact-integer end to end. Argmax ties break to the smallest index in
# both formulations (np.argmax first-hit ⟺ the twin's equal-cross2 AND
# smaller-i refutation clause).
TRACK_RES = 4  # 16x16 coarse cells group the session chunks spatially
TRACK_CHUNK = 24  # bounded "recording sessions": fixture tracks <= 24 pts
DP_EPS_MILLI = 500_000  # 500 m tolerance over ~4.4 km track footprints


def synthetic_tracks(points: DataFrame, res: int = TRACK_RES,
                     bbox=DEFAULT_BBOX,
                     chunk: int = TRACK_CHUNK) -> DataFrame:
    """(track_id, seq, x, y): deterministic GPS-track stand-in — the
    points of each coarse cell ordered by primary_key, split into
    bounded <= chunk-point session tracks (real trajectories arrive as
    bounded recording sessions; the bound also keeps the twin's
    recursive-CTE argmax, which is quadratic per interval, at gate
    scale — zone-clustered cells would otherwise yield 300-point
    tracks). Coordinates in exact milli units. One row_number exchange
    (any ordered-track source pays exactly this)."""
    cells = with_cell(points, "x", "y", res, bbox)
    w = Window.partitionBy("ix", "iy").orderBy("primary_key")
    staged = cells.select(
        "ix", "iy",
        (F.row_number().over(w) - 1).cast("bigint").alias("r"),
        F.round(F.col("x") * 1000.0, 0).cast("bigint").alias("x"),
        F.round(F.col("y") * 1000.0, 0).cast("bigint").alias("y"),
    )
    return staged.select(
        F.concat_ws(
            "_", F.col("ix"), F.col("iy"), F.expr(f"r div {int(chunk)}")
        ).alias("track_id"),
        (F.col("r") % chunk).cast("bigint").alias("seq"),
        "x", "y",
    )


def _per_track_stream(tracks: DataFrame, cols: list, sort_cols: list,
                      process, out_schema: str) -> DataFrame:
    """Group-stream kernel shared by the per-track geometry ops: hash-
    repartition by track_id, sort within partitions so each track's rows
    are contiguous, and walk the partition's Arrow batches with carry-over
    at batch boundaries — `process(pdf)` handles a frame of COMPLETE
    tracks. Replaces per-group applyInPandas, whose fixed per-group
    pandas overhead (~0.6 ms) dominated at ~15k small groups (measured
    9.4 s for convex_hull at the 10x tier, ~0.3 s of actual chain math).
    Same exchange count as the groupBy it replaces (one hash partition by
    track_id); per-track results are partitioning-independent."""
    import pandas as pd

    def stream(batches):
        import numpy as np
        import pandas as pd

        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            n = len(pdf)
            if n == 0:
                continue
            tid = pdf["track_id"].to_numpy(object)
            breaks = np.flatnonzero(tid[:-1] != tid[1:])
            cut = int(breaks[-1]) + 1 if len(breaks) else 0
            carry = pdf.iloc[cut:]
            if cut:
                out = process(pdf.iloc[:cut])
                if out is not None and len(out):
                    yield out
        if carry is not None and len(carry):
            out = process(carry)
            if out is not None and len(out):
                yield out

    return (
        tracks.select(*cols)
        .repartition("track_id")
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(stream, out_schema)
    )


def polyline_simplify(tracks: DataFrame,
                      eps_milli: int = DP_EPS_MILLI) -> DataFrame:
    """(track_id, seq, x, y): the Douglas-Peucker-kept vertices of each
    track (endpoints always survive; interior points survive iff some
    recursion interval splits at them)."""
    import numpy as np
    import pandas as pd

    eps2 = int(eps_milli) * int(eps_milli)

    def _dp_keep(xs, ys):
        """Kept-vertex mask for ONE track (rows pre-sorted by seq)."""
        import numpy as np

        n = len(xs)
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[n - 1] = True
        stack = [(0, n - 1)]
        while stack:
            i0, i1 = stack.pop()
            if i1 - i0 < 2:
                continue
            dx = xs[i1] - xs[i0]
            dy = ys[i1] - ys[i0]
            # |cross| fits int64 (within-track spans); argmax |cross|
            # == argmax cross^2, first-hit tie rule
            cross = dx * (ys[i0] - ys[i0 + 1:i1]) - dy * (
                xs[i0] - xs[i0 + 1:i1]
            )
            j = int(np.argmax(np.abs(cross)))
            c = int(cross[j])
            # exact split test in python ints: cross^2 > eps^2 * |seg|^2
            if c * c > eps2 * (int(dx) * int(dx) + int(dy) * int(dy)):
                split = i0 + 1 + j
                keep[split] = True
                stack.append((i0, split))
                stack.append((split, i1))
        return keep

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["track_id", "seq"], kind="stable").reset_index(
            drop=True
        )
        tid = pdf["track_id"].to_numpy(object)
        xs = pdf["x"].to_numpy(np.int64)
        ys = pdf["y"].to_numpy(np.int64)
        bounds = np.flatnonzero(np.concatenate(
            ([True], tid[:-1] != tid[1:], [True])
        ))
        keep = np.zeros(len(pdf), dtype=bool)
        for k in range(len(bounds) - 1):
            s, e = int(bounds[k]), int(bounds[k + 1])
            if e - s <= 2:
                keep[s:e] = True
            else:
                keep[s:e] = _dp_keep(xs[s:e], ys[s:e])
        return pdf[keep]

    return _per_track_stream(
        tracks, ["track_id", "seq", "x", "y"], ["track_id", "seq"],
        process, "track_id string, seq bigint, x bigint, y bigint",
    )


def polyline_simplify_sql(source_sql: str, eps_milli: int = DP_EPS_MILLI,
                          res: int = TRACK_RES, bbox=DEFAULT_BBOX,
                          chunk: int = TRACK_CHUNK) -> str:
    """DuckDB twin over synthetic_tracks(source): recursive interval CTE
    — an interval (i0, i1) splits at its max-cross^2 interior vertex
    (ties to the smallest index, selected via NOT EXISTS — recursive
    terms cannot aggregate over the working table) iff cross^2 >
    eps^2 * seglen2 in HUGEINT; kept vertices = every interval endpoint
    ever produced, plus single-point tracks."""
    ix, iy = quantize_exprs("x", "y", res, bbox)
    eps2 = int(eps_milli) * int(eps_milli)
    cr = (
        "((b.x - a.x)::HUGEINT * (a.y - {p}.y)::HUGEINT"
        " - (b.y - a.y)::HUGEINT * (a.x - {p}.x)::HUGEINT)"
    )
    crp, crq = cr.format(p="p"), cr.format(p="q")
    return f"""
WITH RECURSIVE staged AS MATERIALIZED (
  SELECT ix, iy,
         CAST(row_number() OVER (PARTITION BY ix, iy ORDER BY primary_key)
              - 1 AS BIGINT) AS r,
         CAST(round(x * 1000.0, 0) AS BIGINT) AS x,
         CAST(round(y * 1000.0, 0) AS BIGINT) AS y
  FROM (SELECT primary_key, x, y, {ix} AS ix, {iy} AS iy
        FROM ({source_sql}))
), pts AS MATERIALIZED (
  SELECT concat(CAST(ix AS VARCHAR), '_', CAST(iy AS VARCHAR), '_',
                CAST(r // {int(chunk)} AS VARCHAR)) AS track_id,
         CAST(r % {int(chunk)} AS BIGINT) AS seq, x, y
  FROM staged
), cnt AS MATERIALIZED (
  SELECT track_id, max(seq) AS last FROM pts GROUP BY track_id
), splits(track_id, i0, i1) AS (
  SELECT track_id, CAST(0 AS BIGINT), last FROM cnt WHERE last >= 1
  UNION ALL
  SELECT s.track_id,
         CASE v.side WHEN 0 THEN s.i0 ELSE p.seq END,
         CASE v.side WHEN 0 THEN p.seq ELSE s.i1 END
  FROM splits s
  JOIN pts a ON a.track_id = s.track_id AND a.seq = s.i0
  JOIN pts b ON b.track_id = s.track_id AND b.seq = s.i1
  JOIN pts p ON p.track_id = s.track_id
            AND p.seq > s.i0 AND p.seq < s.i1
  CROSS JOIN (VALUES (0), (1)) v(side)
  WHERE {crp} * {crp}
        > {eps2}::HUGEINT * ((b.x - a.x)::HUGEINT * (b.x - a.x)::HUGEINT
                             + (b.y - a.y)::HUGEINT * (b.y - a.y)::HUGEINT)
    AND NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.track_id = s.track_id AND q.seq > s.i0 AND q.seq < s.i1
        AND ({crq} * {crq} > {crp} * {crp}
             OR ({crq} * {crq} = {crp} * {crp} AND q.seq < p.seq))
    )
), kept AS (
  SELECT DISTINCT track_id, i AS seq FROM (
    SELECT track_id, i0 AS i FROM splits
    UNION ALL SELECT track_id, i1 FROM splits
    UNION ALL SELECT track_id, 0 FROM cnt WHERE last = 0
  )
)
SELECT p.track_id, p.seq, p.x, p.y
FROM pts p JOIN kept k ON p.track_id = k.track_id AND p.seq = k.seq"""


# Convex hull per track (Andrew's monotone chain, 1979): the minimal
# convex cover of each point group — footprint polygons for tile
# bounds, coverage summaries, and the input polygon_metrics consumes.
# Same execution shape as polyline_simplify: per-group state never
# leaves its applyInPandas group, so cost scales with group count.
# Kernel crosses use within-group DIFFERENCES only (absolute UTM-milli
# products overflow int64; differences are span-bounded). Strict-turn
# pops drop collinear boundary points — matching the twin, which keeps
# exactly the points NOT covered by any other points' closed
# non-degenerate triangle nor strictly inside a collinear pair's
# segment (the independent "covered point" characterization of hull
# VERTICES, evaluated in HUGEINT — no shared code with the chain).
def convex_hull(tracks: DataFrame) -> DataFrame:
    """(track_id, x, y): the convex-hull VERTEX SET of each track's
    distinct points (collinear boundary points excluded; 1- and 2-point
    groups pass through)."""
    import numpy as np
    import pandas as pd

    def _hull_points(pts):
        """Hull vertex set of ONE track's (n, 2) point array."""
        pts = np.unique(pts, axis=0)
        if len(pts) > 2:
            base = pts.min(axis=0)
            q = pts - base  # span-bounded: crosses stay far under 2^63

            def chain(seq):
                out = []
                for p in seq:
                    while len(out) >= 2 and (
                        (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                        - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                    ) <= 0:
                        out.pop()
                    out.append((int(p[0]), int(p[1])))
                return out

            seq = [tuple(r) for r in q]  # np.unique already sorted (x, y)
            lower, upper = chain(seq), chain(seq[::-1])
            hull = np.array(lower[:-1] + upper[:-1], dtype=np.int64)
            pts = hull + base
        return pts

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("track_id", kind="stable").reset_index(
            drop=True
        )
        tid = pdf["track_id"].to_numpy(object)
        xy = pdf[["x", "y"]].to_numpy(np.int64)
        bounds = np.flatnonzero(np.concatenate(
            ([True], tid[:-1] != tid[1:], [True])
        ))
        ids, out_xy = [], []
        for k in range(len(bounds) - 1):
            s, e = int(bounds[k]), int(bounds[k + 1])
            hull = _hull_points(xy[s:e])
            ids.append(np.repeat(tid[s], len(hull)))
            out_xy.append(hull)
        hulls = np.concatenate(out_xy)
        return pd.DataFrame({
            "track_id": np.concatenate(ids),
            "x": hulls[:, 0],
            "y": hulls[:, 1],
        })

    return _per_track_stream(
        tracks, ["track_id", "x", "y"], ["track_id"],
        process, "track_id string, x bigint, y bigint",
    )


def convex_hull_sql(source_sql: str, res: int = TRACK_RES,
                    bbox=DEFAULT_BBOX, chunk: int = TRACK_CHUNK) -> str:
    """DuckDB twin over synthetic_tracks(source): a distinct point is a
    hull vertex iff it is NOT covered — covered = inside-or-on some
    CLOSED non-degenerate triangle of three OTHER points, or strictly
    between a collinear pair (which absorbs the all-collinear groups a
    triangle test cannot). All orientation tests in HUGEINT."""
    ix, iy = quantize_exprs("x", "y", res, bbox)

    def cr(a, b, c):
        return (
            f"(({b}.x - {a}.x)::HUGEINT * ({c}.y - {a}.y)::HUGEINT"
            f" - ({b}.y - {a}.y)::HUGEINT * ({c}.x - {a}.x)::HUGEINT)"
        )

    return f"""
WITH staged AS MATERIALIZED (
  SELECT ix, iy,
         CAST(row_number() OVER (PARTITION BY ix, iy ORDER BY primary_key)
              - 1 AS BIGINT) AS r,
         CAST(round(x * 1000.0, 0) AS BIGINT) AS x,
         CAST(round(y * 1000.0, 0) AS BIGINT) AS y
  FROM (SELECT primary_key, x, y, {ix} AS ix, {iy} AS iy
        FROM ({source_sql}))
), pts AS MATERIALIZED (
  SELECT DISTINCT
         concat(CAST(ix AS VARCHAR), '_', CAST(iy AS VARCHAR), '_',
                CAST(r // {int(chunk)} AS VARCHAR)) AS track_id,
         x, y
  FROM staged
), covered AS (
  SELECT DISTINCT p.track_id, p.x, p.y
  FROM pts p JOIN pts q ON q.track_id = p.track_id
       JOIN pts r ON r.track_id = p.track_id
       JOIN pts s ON s.track_id = p.track_id
  WHERE (q.x, q.y) < (r.x, r.y) AND (r.x, r.y) < (s.x, s.y)
    AND (p.x, p.y) NOT IN ((q.x, q.y), (r.x, r.y), (s.x, s.y))
    AND {cr('q', 'r', 's')} != 0
    AND ((({cr('q', 'r', 'p')} >= 0 AND {cr('r', 's', 'p')} >= 0
           AND {cr('s', 'q', 'p')} >= 0)
       OR ({cr('q', 'r', 'p')} <= 0 AND {cr('r', 's', 'p')} <= 0
           AND {cr('s', 'q', 'p')} <= 0)))
  UNION
  SELECT DISTINCT p.track_id, p.x, p.y
  FROM pts p JOIN pts q ON q.track_id = p.track_id
       JOIN pts r ON r.track_id = p.track_id
  WHERE (q.x, q.y) < (r.x, r.y)
    AND (p.x, p.y) NOT IN ((q.x, q.y), (r.x, r.y))
    AND {cr('q', 'r', 'p')} = 0
    AND p.x BETWEEN least(q.x, r.x) AND greatest(q.x, r.x)
    AND p.y BETWEEN least(q.y, r.y) AND greatest(q.y, r.y)
)
SELECT p.track_id, p.x, p.y
FROM pts p ANTI JOIN covered c
  ON p.track_id = c.track_id AND p.x = c.x AND p.y = c.y"""


# Grid-density clustering (grid DBSCAN; Ester et al. 1996 by way of the
# cell index): hotspot REGIONS, not just hot cells — cells holding >=
# min_pts points are "dense", and maximal rook-connected groups of dense
# cells are the clusters. The 100 TB shape: the corpus crosses ONE
# exchange (the per-cell count every cell-keyed op here shares); density
# filtering and component resolution run on the |dense cells| relation
# (metadata scale) through the generic connected_components operator
# (graph.py — min-label + pointer jumping, O(log diameter) rounds).
# Cell keys pack (ix, iy) into one int64 so the graph layer needs no
# composite keys; adjacency is a 2-positive-offset explode + equi-join
# (each undirected edge generated exactly once, never a theta join).
CLUSTER_MIN_PTS = 4


def spatial_clusters(points: DataFrame, res: int = DEFAULT_RES,
                     bbox=DEFAULT_BBOX,
                     min_pts: int = CLUSTER_MIN_PTS) -> DataFrame:
    """(cluster_id, n_cells, n_points): one row per maximal rook-connected
    group of dense cells (>= min_pts points each); cluster_id = the
    smallest packed cell key in the group, n_points counts only dense
    cells' points (noise cells are outside any cluster, as in DBSCAN)."""
    from .graph import connected_components

    dense = (
        with_cell(points, "x", "y", res, bbox)
        .groupBy("ix", "iy")
        .agg(F.count("*").cast("bigint").alias("n"))
        .filter(F.col("n") >= int(min_pts))
        .select(
            "ix", "iy", "n",
            F.expr("shiftleft(ix, 32) + iy").cast("bigint").alias("key"),
        )
    )
    from ..caching import persist_tracked

    dense = persist_tracked(dense)
    # right + up offsets: each undirected adjacency appears exactly once
    shifted = dense.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("dx"), F.lit(0).alias("dy")),
                F.struct(F.lit(0).alias("dx"), F.lit(1).alias("dy")),
            )
        ).alias("o"),
        "ix", "iy", "key",
    ).select(
        (F.col("ix") + F.col("o.dx")).alias("cx"),
        (F.col("iy") + F.col("o.dy")).alias("cy"),
        F.col("key").alias("src"),
    )
    edges = shifted.join(
        dense.select(F.col("ix").alias("cx"), F.col("iy").alias("cy"),
                     F.col("key").alias("dst")),
        ["cx", "cy"],
    ).select("src", "dst")
    labels = connected_components(
        dense.select(F.col("key").alias("doc_id")), edges
    )
    return (
        dense.join(labels, dense.key == labels.doc_id)
        .groupBy("component_id")
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.sum("n").cast("bigint").alias("n_points"),
        )
        .select(
            F.col("component_id").alias("cluster_id"), "n_cells", "n_points"
        )
    )


def spatial_clusters_sql(source_sql: str, res: int = DEFAULT_RES,
                         bbox=DEFAULT_BBOX,
                         min_pts: int = CLUSTER_MIN_PTS) -> str:
    """DuckDB twin: same dense relation; components via the independent
    recursive min-label reachability (the chain_components twin pattern),
    adjacency as the abs-offset formulation."""
    ix, iy = quantize_exprs("x", "y", res, bbox)
    return f"""
WITH RECURSIVE dense AS MATERIALIZED (
  SELECT ix, iy, CAST(count(*) AS BIGINT) AS n,
         CAST((ix << 32) + iy AS BIGINT) AS key
  FROM (SELECT {ix} AS ix, {iy} AS iy FROM ({source_sql}))
  GROUP BY ix, iy HAVING count(*) >= {int(min_pts)}
), sym AS MATERIALIZED (
  SELECT a.key AS src, b.key AS dst
  FROM dense a JOIN dense b
    ON abs(a.ix - b.ix) + abs(a.iy - b.iy) = 1
), reach(key, lab) AS (
  SELECT key, key FROM dense
  UNION
  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.key
), labels AS (
  SELECT key, min(lab) AS component_id FROM reach GROUP BY key
)
SELECT l.component_id AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(d.n) AS BIGINT) AS n_points
FROM dense d JOIN labels l USING (key)
GROUP BY l.component_id"""


# ------------------------------------------------------- radius self-join
# Fixed-radius pair search ("all points within R meters of each other") —
# the distance-band neighbor primitive under density maps, duplicate-site
# detection, and DBSCAN-style epsilon queries. Scale shape: grid the plane
# into R-sized cells, explode ONE side into its 3x3 cell neighborhood
# (bounded x9 blowup), equi-join on the cell key, verify the exact distance
# — the canonical candidates-then-verify spatial join, never a cartesian
# product. Each qualifying pair (a < b) is produced exactly once: a's probe
# set covers b's unique home cell iff the pair is within one cell offset,
# which an R-sized grid guarantees for any pair within R. The join key's
# skew is bounded by the densest R-cell; at 100 TB a hot cell would need
# salting. All arithmetic is integer millimeters (coordinates are positive
# UTM meters, so truncating `div` equals DuckDB's floor `//`), so the
# oracle hash-compares bitwise.
RADIUS_M = 500.0


# forward half-neighborhood: one offset per unordered adjacent cell pair
# (plus the home cell) — a qualifying pair in distinct cells is generated
# exactly once (by whichever direction is in the set), a same-cell pair
# twice (both probe orders), deduped after the distance filter
_FORWARD_OFFSETS = [(0, 0), (1, 0), (1, 1), (0, 1), (-1, 1)]


def radius_join(points: DataFrame, radius_m: float = RADIUS_M) -> DataFrame:
    """(pk_a, pk_b, dist_sq_mm2): unordered point pairs (pk_a < pk_b)
    within radius_m meters, squared distance in exact integer mm^2.

    Round-6 shape: probes explode over the FORWARD half-neighborhood
    (5 offsets, not 9 — 44% fewer probe rows, cross-cell pairs generated
    once instead of twice) and the probe x home pair blocks are computed
    in chunked numpy — the equi-join's full collision volume never
    materializes as rows, and only pairs that pass d2 <= r^2 leave the
    kernel (canonicalized pk_a < pk_b, deduped for the same-cell double
    order). Cells are BUCKETED into ~4x-parallelism cogroups (hashed cell
    key) and matched inside the kernel by a sorted merge walk: per-cell
    cogrouping paid ~3 ms of Arrow/pandas machinery per cell — 7 s for
    2.3k cells at sf0.1 — for microseconds of block math; one kernel call
    per bucket amortizes it while keeping the identical per-cell block
    arithmetic. Integer mm^2 throughout, identical to the brute-force
    oracle's."""
    from ..caching import model_memo, persist_tracked

    r_mm = int(round(radius_m * 1000))
    # persist the 5-column projection: probes AND home both read it, and
    # without the pin every action recomputes the full upstream (the
    # geocode pipeline at gate scale) twice — guide §5 caching rule
    # (reused + expensive to recompute); ~40 B/point, metadata scale.
    # Memoized per (input, radius), so repeated calls on one input share
    # one tracked relation instead of adding a persist each.
    def project():
        return persist_tracked(points.select(
            F.col("primary_key").alias("pk"),
            F.round(F.col("x") * 1000.0, 0).cast("bigint").alias("xi"),
            F.round(F.col("y") * 1000.0, 0).cast("bigint").alias("yi"),
        ).select(
            "pk", "xi", "yi",
            F.expr(f"xi div {r_mm}").alias("cx"),
            F.expr(f"yi div {r_mm}").alias("cy"),
        ))

    p = model_memo(("radius_join_points", r_mm), points, project)
    probes = p.select(
        "pk", "xi", "yi",
        # is_home marks the (0,0) probe: a same-cell pair appears in the
        # kernel's block in BOTH orders, so the home probe only emits its
        # pk < partner half — cross-cell probes appear once and emit
        # canonicalized. No post-kernel distinct needed.
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("cx"),
                        (F.col("cy") + dy).alias("cy"),
                        F.lit(1 if (dx, dy) == (0, 0) else 0).alias("home"),
                    )
                    for dx, dy in _FORWARD_OFFSETS
                ]
            )
        ).alias("o"),
    ).select("pk", "xi", "yi", F.col("o.cx").alias("cx"),
             F.col("o.cy").alias("cy"), F.col("o.home").alias("is_home"))
    # fresh aliases: probes and home derive from the same relation — the
    # self-cogroup needs distinct attributes (the _ivf_search discipline)
    home = p.select(
        F.col("pk").alias("h_pk"), F.col("xi").alias("h_xi"),
        F.col("yi").alias("h_yi"), F.col("cx").alias("h_cx"),
        F.col("cy").alias("h_cy"),
    )

    import pandas as pd

    r2 = r_mm * r_mm
    n_buckets = max(
        4 * points.sparkSession.sparkContext.defaultParallelism, 16
    )
    probes = probes.withColumn(
        "bucket", F.expr(f"pmod(xxhash64(cx, cy), {n_buckets})")
    )
    home = home.withColumn(
        "bucket", F.expr(f"pmod(xxhash64(h_cx, h_cy), {n_buckets})")
    )

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({
            "pk_a": pd.Series(dtype=object),
            "pk_b": pd.Series(dtype=object),
            "dist_sq_mm2": pd.Series(dtype="int64"),
        })
        if len(left) == 0 or len(right) == 0:
            return empty
        lcx = left["cx"].to_numpy(np.int64)
        lcy = left["cy"].to_numpy(np.int64)
        lo_ord = np.lexsort((lcy, lcx))
        lcx, lcy = lcx[lo_ord], lcy[lo_ord]
        pxa = left["xi"].to_numpy(np.int64)[lo_ord]
        pya = left["yi"].to_numpy(np.int64)[lo_ord]
        pka = left["pk"].to_numpy(object)[lo_ord]
        homa = left["is_home"].to_numpy(np.int64)[lo_ord] == 1
        rcx = right["h_cx"].to_numpy(np.int64)
        rcy = right["h_cy"].to_numpy(np.int64)
        ro_ord = np.lexsort((rcy, rcx))
        rcx, rcy = rcx[ro_ord], rcy[ro_ord]
        pxb = right["h_xi"].to_numpy(np.int64)[ro_ord]
        pyb = right["h_yi"].to_numpy(np.int64)[ro_ord]
        pkb = right["h_pk"].to_numpy(object)[ro_ord]
        lb = np.flatnonzero(
            np.r_[True, (lcx[1:] != lcx[:-1]) | (lcy[1:] != lcy[:-1])]
        )
        lb = np.r_[lb, len(lcx)]
        rb = np.flatnonzero(
            np.r_[True, (rcx[1:] != rcx[:-1]) | (rcy[1:] != rcy[:-1])]
        )
        rb = np.r_[rb, len(rcx)]
        frames = []

        def cell_block(ls, le, rs, re):
            # identical per-cell block math as the per-cell cogroup ran
            for s in range(ls, le, 512):
                e = min(s + 512, le)
                for t in range(rs, re, 8192):
                    u = min(t + 8192, re)
                    ddx = pxa[s:e, None] - pxb[None, t:u]
                    ddy = pya[s:e, None] - pyb[None, t:u]
                    d2 = ddx * ddx + ddy * ddy
                    ii, jj = np.nonzero(d2 <= r2)
                    if len(ii) == 0:
                        continue
                    a = pka[s:e][ii]
                    b = pkb[t:u][jj]
                    ah = homa[s:e][ii]
                    lt = np.less(a, b)
                    # home probe sees its same-cell partner in both
                    # orders: keep only its pk < partner half; a
                    # cross-cell probe's pair exists once — canonicalize
                    keep = np.where(ah, lt, a != b)
                    if not keep.any():
                        continue
                    aa, bb, ll = a[keep], b[keep], lt[keep]
                    lo = np.where(ll, aa, bb)
                    hi = np.where(ll, bb, aa)
                    frames.append(pd.DataFrame({
                        "pk_a": lo,
                        "pk_b": hi,
                        "dist_sq_mm2": d2[ii, jj][keep].astype(np.int64),
                    }))

        i = j = 0
        while i < len(lb) - 1 and j < len(rb) - 1:
            ci = (lcx[lb[i]], lcy[lb[i]])
            cj = (rcx[rb[j]], rcy[rb[j]])
            if ci < cj:
                i += 1
            elif cj < ci:
                j += 1
            else:
                cell_block(lb[i], lb[i + 1], rb[j], rb[j + 1])
                i += 1
                j += 1
        return pd.concat(frames, ignore_index=True) if frames else empty

    id_type = points.schema["primary_key"].dataType.simpleString()
    return (
        probes.groupBy("bucket")
        .cogroup(home.groupBy("bucket"))
        .applyInPandas(
            kernel,
            f"pk_a {id_type}, pk_b {id_type}, dist_sq_mm2 bigint",
        )
    )


def radius_join_sql(source_sql: str, radius_m: float = RADIUS_M) -> str:
    """DuckDB twin: brute-force exact pair filter — O(n^2) but exact, the
    point of an oracle; the engine side must match it through the grid."""
    r_mm = int(round(radius_m * 1000))
    return f"""
WITH p AS (
  SELECT primary_key AS pk,
         CAST(round(x * 1000, 0) AS BIGINT) AS xi,
         CAST(round(y * 1000, 0) AS BIGINT) AS yi
  FROM ({source_sql})
)
SELECT a.pk AS pk_a, b.pk AS pk_b,
       (a.xi - b.xi) * (a.xi - b.xi)
       + (a.yi - b.yi) * (a.yi - b.yi) AS dist_sq_mm2
FROM p a JOIN p b ON a.pk < b.pk
WHERE (a.xi - b.xi) * (a.xi - b.xi)
      + (a.yi - b.yi) * (a.yi - b.yi)
      <= CAST({r_mm} AS BIGINT) * {r_mm}"""


# ------------------------------------------------------ trip segmentation
# GPS-track preprocessing: split each recorded track into trips wherever
# the step to the previous fix exceeds a jump threshold (signal loss,
# teleport, new trip), then roll up per-segment point counts and path
# length. One window exchange keyed by track_id (bounded tracks, skew-free
# by construction) + one groupBy on (track_id, seg_idx) — the same keying,
# so AQE coalesces them. Step lengths are floor(sqrt(int mm^2)): the
# squared step of a <=2 km hop is < 2^53, so the BIGINT->DOUBLE transit is
# exact and IEEE sqrt + floor are bit-identical in both engines.
SEG_GAP_MM = 600_000  # split when a step exceeds 600 m


def track_segments(tracks: DataFrame,
                   gap_mm: int = SEG_GAP_MM) -> DataFrame:
    """(track_id, seg_idx, n_points, len_mm): gap-split trip segments per
    track; len_mm sums intra-segment step lengths (integer mm)."""
    w = Window.partitionBy("track_id").orderBy("seq")
    stepped = tracks.select(
        "track_id", "seq", "x", "y",
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
    ).withColumn(
        "d2",
        (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
        + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py")),
    ).withColumn(
        "new_seg",
        F.when(
            F.col("px").isNull()
            | (F.col("d2") > F.lit(int(gap_mm) * int(gap_mm)).cast("bigint")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    seg = stepped.withColumn(
        "seg_idx",
        F.sum("new_seg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint"),
    ).withColumn(
        "step_mm",
        F.when(F.col("new_seg") == 1, F.lit(0).cast("bigint")).otherwise(
            F.floor(F.sqrt(F.col("d2").cast("double"))).cast("bigint")
        ),
    )
    return seg.groupBy("track_id", "seg_idx").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum("step_mm").cast("bigint").alias("len_mm"),
    )


def track_segments_sql(source_sql: str, gap_mm: int = SEG_GAP_MM) -> str:
    """DuckDB twin of track_segments over the same (track_id, seq, x, y)
    relation — identical window + integer arithmetic."""
    return f"""
WITH stepped AS (
  SELECT track_id, seq, x, y,
         lag(x) OVER w AS px, lag(y) OVER w AS py,
         (x - lag(x) OVER w) * (x - lag(x) OVER w)
         + (y - lag(y) OVER w) * (y - lag(y) OVER w) AS d2
  FROM ({source_sql})
  WINDOW w AS (PARTITION BY track_id ORDER BY seq)
), flagged AS (
  SELECT track_id, seq, d2,
         CASE WHEN px IS NULL
                   OR d2 > CAST({int(gap_mm)} AS BIGINT) * {int(gap_mm)}
              THEN 1 ELSE 0 END AS new_seg
  FROM stepped
), seg AS (
  SELECT track_id, d2, new_seg,
         CAST(sum(new_seg) OVER (PARTITION BY track_id ORDER BY seq
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg_idx
  FROM flagged
)
SELECT track_id, seg_idx,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CASE WHEN new_seg = 1 THEN 0
                     ELSE CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT)
                END) AS BIGINT) AS len_mm
FROM seg GROUP BY track_id, seg_idx"""


def synthetic_tracks_sql(source_sql: str, res: int = TRACK_RES,
                         bbox=DEFAULT_BBOX,
                         chunk: int = TRACK_CHUNK) -> str:
    """Parenthesized DuckDB subquery mirroring synthetic_tracks():
    (track_id, seq, x, y) with exact-milli integer coordinates."""
    ix, iy = quantize_exprs("x", "y", res, bbox)
    return f"""(
WITH staged AS (
  SELECT ix, iy,
         CAST(row_number() OVER (PARTITION BY ix, iy ORDER BY primary_key)
              - 1 AS BIGINT) AS r,
         CAST(round(x * 1000.0, 0) AS BIGINT) AS x,
         CAST(round(y * 1000.0, 0) AS BIGINT) AS y
  FROM (SELECT primary_key, x, y, {ix} AS ix, {iy} AS iy
        FROM ({source_sql}))
)
SELECT concat(CAST(ix AS VARCHAR), '_', CAST(iy AS VARCHAR), '_',
              CAST(r // {int(chunk)} AS VARCHAR)) AS track_id,
       CAST(r % {int(chunk)} AS BIGINT) AS seq, x, y
FROM staged)"""


# --------------------------------------------------------- map-match snap
# GPS-point -> road-segment snapping (the first stage of every
# map-matching pipeline): for each point, the nearest centerline segment
# within SNAP_RADIUS_M, by exact point-to-segment distance. Scale shape:
# segments index into R-sized grid cells covering their bounding box
# dilated by one cell (bounded explode: (len/R + 3)^2 cells per segment);
# points join on their SINGLE home cell — the small side is exploded, the
# big side is not. Correctness of the pruning: a segment within R of p has
# its closest point q on the segment with |p-q| <= R, so q's cell is in
# the segment's bbox cover and within one cell of p's home cell; the +1
# dilation therefore guarantees the candidate pair survives. Distance is
# the piecewise projection formula evaluated on exact integer-mm inputs,
# with ONE shared SQL string rendered into both engines, so the
# double-precision ops are bit-identical. Top-1 per point is a window over
# the unique point key (skew-free).
SNAP_RADIUS_M = 1000.0


def _mm(expr: str) -> str:
    return f"CAST(round(({expr}) * 1000, 0) AS BIGINT)"


def seg_dist2_sql(px: str, py: str, ax: str, ay: str,
                  bx: str, by: str) -> str:
    """Squared point-to-segment distance (DOUBLE mm^2) over integer-mm
    operands — dialect-neutral SQL (CASE/CAST only), rendered identically
    into Spark and DuckDB so IEEE results hash-compare bitwise."""
    dx, dy = f"({bx} - {ax})", f"({by} - {ay})"
    pax, pay = f"({px} - {ax})", f"({py} - {ay})"
    pbx, pby = f"({px} - {bx})", f"({py} - {by})"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    dot = f"({pax} * {dx} + {pay} * {dy})"
    pa2 = f"({pax} * {pax} + {pay} * {pay})"
    pb2 = f"({pbx} * {pbx} + {pby} * {pby})"
    # the perpendicular branch clamps at 0: when the point lies (near-)
    # exactly on the segment's line, pa2 - dot^2/len2 can round to a tiny
    # NEGATIVE double — DuckDB's sqrt then throws (observed at sf0.1) and
    # Spark's returns NaN. greatest(…, 0e0) is identical in both dialects.
    return (
        f"(CASE WHEN {len2} = 0 THEN CAST({pa2} AS DOUBLE)"
        f" WHEN {dot} <= 0 THEN CAST({pa2} AS DOUBLE)"
        f" WHEN {dot} >= {len2} THEN CAST({pb2} AS DOUBLE)"
        f" ELSE greatest(CAST({pa2} AS DOUBLE)"
        f" - CAST({dot} AS DOUBLE) * CAST({dot} AS DOUBLE)"
        f" / CAST({len2} AS DOUBLE), CAST(0 AS DOUBLE)) END)"
    )


def _map_match_cell_kernel(points: DataFrame, pts: DataFrame,
                           segs: DataFrame, r_mm: int) -> DataFrame:
    """Per-cell top-1 snap: cogroup (points by home cell) with (segment
    cell cover), compute the exact d2 CASE in chunked numpy, emit each
    point's (d2 asc, cand_id asc) winner directly. Arithmetic is
    term-for-term the staged-CASE plan's: int64 dx/dot/pa2/pb2 products
    (span-bounded, same overflow envelope as the bigint staging), the
    interior projection in double, floor(sqrt) for the distance — every
    comparison bit-identical to the oracle's.

    Cells are bucketed into ~4x-parallelism cogroups (hashed cell key,
    the radius_join discipline) and matched inside the kernel by a
    sorted merge walk: per-cell cogrouping paid ~3 ms of Arrow/pandas
    machinery per cell for microseconds of block math."""
    import pandas as pd

    id_type = points.schema["primary_key"].dataType.simpleString()
    out_schema = f"primary_key {id_type}, cand_id bigint, dist_mm bigint"
    r2 = float(r_mm) * float(r_mm)
    n_buckets = max(
        4 * points.sparkSession.sparkContext.defaultParallelism, 16
    )
    pts = pts.withColumn(
        "bucket", F.expr(f"pmod(xxhash64(cx, cy), {n_buckets})")
    )
    segs = segs.withColumn(
        "bucket", F.expr(f"pmod(xxhash64(cx, cy), {n_buckets})")
    )

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({
            "primary_key": pd.Series(dtype=object),
            "cand_id": pd.Series(dtype="int64"),
            "dist_mm": pd.Series(dtype="int64"),
        })
        if len(left) == 0 or len(right) == 0:
            return empty
        lcx = left["cx"].to_numpy(np.int64)
        lcy = left["cy"].to_numpy(np.int64)
        lo_ord = np.lexsort((lcy, lcx))
        lcx, lcy = lcx[lo_ord], lcy[lo_ord]
        px = left["px"].to_numpy(np.int64)[lo_ord]
        py = left["py"].to_numpy(np.int64)[lo_ord]
        pks = left["primary_key"].to_numpy(object)[lo_ord]
        rcx = right["cx"].to_numpy(np.int64)
        rcy = right["cy"].to_numpy(np.int64)
        # cand_id as the innermost sort key: within a cell the segment
        # list stays ascending by cand_id, so argmin's first-hit rule
        # breaks d2 ties toward the smallest cand_id (the contract order)
        ro_ord = np.lexsort((right["cand_id"].to_numpy(np.int64), rcy, rcx))
        rcx, rcy = rcx[ro_ord], rcy[ro_ord]
        ax = right["ax"].to_numpy(np.int64)[ro_ord]
        ay = right["ay"].to_numpy(np.int64)[ro_ord]
        bx = right["bx"].to_numpy(np.int64)[ro_ord]
        by = right["by"].to_numpy(np.int64)[ro_ord]
        cid = right["cand_id"].to_numpy(np.int64)[ro_ord]
        dx = bx - ax
        dy = by - ay
        len2 = dx * dx + dy * dy
        lb = np.flatnonzero(
            np.r_[True, (lcx[1:] != lcx[:-1]) | (lcy[1:] != lcy[:-1])]
        )
        lb = np.r_[lb, len(lcx)]
        rb = np.flatnonzero(
            np.r_[True, (rcx[1:] != rcx[:-1]) | (rcy[1:] != rcy[:-1])]
        )
        rb = np.r_[rb, len(rcx)]
        frames = []

        def cell_block(ls, le, rs, re):
            # identical per-cell chunked math as the per-cell cogroup ran
            for s in range(ls, le, 256):
                e = min(s + 256, le)
                best_d2 = np.full(e - s, np.inf)
                best_cid = np.full(e - s, np.int64(1) << 62, dtype=np.int64)
                for t in range(rs, re, 4096):
                    u = min(t + 4096, re)
                    pax = px[s:e, None] - ax[None, t:u]
                    pay = py[s:e, None] - ay[None, t:u]
                    pbx = px[s:e, None] - bx[None, t:u]
                    pby = py[s:e, None] - by[None, t:u]
                    pa2 = (pax * pax + pay * pay).astype(np.float64)
                    pb2 = (pbx * pbx + pby * pby).astype(np.float64)
                    dot = pax * dx[None, t:u] + pay * dy[None, t:u]
                    l2 = len2[t:u]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        interior = np.maximum(
                            pa2
                            - dot.astype(np.float64) * dot.astype(np.float64)
                            / l2.astype(np.float64),
                            0.0,
                        )
                    d2 = np.where(
                        (l2[None, :] == 0) | (dot <= 0), pa2,
                        np.where(dot >= l2[None, :], pb2, interior),
                    )
                    d2 = np.where(d2 <= r2, d2, np.inf)
                    j = np.argmin(d2, axis=1)  # first min = lowest cand_id
                    rows = np.arange(e - s)
                    cd2 = d2[rows, j]
                    ccid = cid[t + j]
                    better = (cd2 < best_d2) | (
                        (cd2 == best_d2) & (ccid < best_cid)
                    )
                    best_d2 = np.where(better, cd2, best_d2)
                    best_cid = np.where(better, ccid, best_cid)
                hit = np.isfinite(best_d2)
                if not hit.any():
                    continue
                frames.append(pd.DataFrame({
                    "primary_key": pks[s:e][hit],
                    "cand_id": best_cid[hit],
                    "dist_mm": np.floor(
                        np.sqrt(best_d2[hit])
                    ).astype(np.int64),
                }))

        i = j = 0
        while i < len(lb) - 1 and j < len(rb) - 1:
            ci = (lcx[lb[i]], lcy[lb[i]])
            cj = (rcx[rb[j]], rcy[rb[j]])
            if ci < cj:
                i += 1
            elif cj < ci:
                j += 1
            else:
                cell_block(lb[i], lb[i + 1], rb[j], rb[j + 1])
                i += 1
                j += 1
        return pd.concat(frames, ignore_index=True) if frames else empty

    return (
        pts.groupBy("bucket")
        .cogroup(segs.groupBy("bucket"))
        .applyInPandas(kernel, out_schema)
    )


def map_match(points: DataFrame, segments: DataFrame,
              radius_m: float = SNAP_RADIUS_M,
              broadcast_points: bool = True) -> DataFrame:
    """(primary_key, cand_id, dist_mm): nearest centerline segment within
    radius_m of each point (ties broken by cand_id); unmatched points are
    omitted. segments needs (cand_id, x0, y0, x1, y1) in meters.

    Join-side choice: the POINTS side is the preferred broadcast build —
    it is the un-exploded side (one row per point vs ~(len/R+3)^2 cell
    replicas per segment), so the broadcast hash relation is both smaller
    and cache-resident; letting Catalyst pick the exploded-segments build
    measured 30.4 s vs 8.5 s at sf0.1 (11.1M candidate pairs, local[16]).
    When the point relation is too large to broadcast (a ping-stream-scale
    run), pass broadcast_points=False: the plan degrades to a shuffle
    equi-join on the cell keys, which is the correct strategy when BOTH
    sides are huge — the cells pre-partition the work, nothing is
    replicated beyond the bounded segment cell cover."""
    r_mm = int(round(radius_m * 1000))
    segs = segments.select(
        "cand_id",
        F.expr(_mm("x0")).alias("ax"), F.expr(_mm("y0")).alias("ay"),
        F.expr(_mm("x1")).alias("bx"), F.expr(_mm("y1")).alias("by"),
    ).select(
        "cand_id", "ax", "ay", "bx", "by",
        F.explode(
            F.expr(
                f"sequence(least(ax, bx) div {r_mm} - 1,"
                f" greatest(ax, bx) div {r_mm} + 1)"
            )
        ).alias("cx"),
    ).select(
        "cand_id", "ax", "ay", "bx", "by", "cx",
        F.explode(
            F.expr(
                f"sequence(least(ay, by) div {r_mm} - 1,"
                f" greatest(ay, by) div {r_mm} + 1)"
            )
        ).alias("cy"),
    )
    pts = points.select(
        "primary_key",
        F.expr(_mm("x")).alias("px"), F.expr(_mm("y")).alias("py"),
    ).select(
        "primary_key", "px", "py",
        F.expr(f"px div {r_mm}").alias("cx"),
        F.expr(f"py div {r_mm}").alias("cy"),
    )
    if broadcast_points:
        # round-6 kernel path: a point's home cell holds its COMPLETE
        # candidate set (the segment side covers bbox ± 1 cell at r-sized
        # cells), so the per-point top-1 closes inside one (cx, cy)
        # cogroup — the equi-join's ~10^8 emitted candidate rows (8.4 s
        # of the 20.5 s candidate stage at the 10x tier, before any
        # distance math) never materialize; the quadratic work runs as
        # chunked numpy with the CASE's exact arithmetic (int64 staging,
        # double only for the interior projection — bit-identical d2).
        # Both sides exchange by cell key only, so this is also the
        # at-scale shape; the shuffle equi-join below remains as the
        # no-kernel fallback (broadcast_points=False), pinned equal by
        # the wave-7 brute-force test.
        return _map_match_cell_kernel(points, pts, segs, r_mm)
    # The bbox band is IMPLIED by d2 <= r^2 (the segment's closest point q
    # has |p-q| <= r and q lies inside the segment bbox), so adding it
    # never changes the result — it is a cheap comparison-only prefilter
    # the join can evaluate before the piecewise-projection CASE. The CASE
    # itself is kept OUT of the join condition as staged subterm columns
    # (the projection.py:215 lesson): inlined into the join condition its
    # generated Java grows past janino's method limit once combined with
    # the bbox terms, and the whole stage silently falls back to
    # interpreted evaluation (measured 8.4 s -> 30.4 s at sf0.1).
    joined = pts.join(segs, ["cx", "cy"]).filter(
        F.expr(
            f"px BETWEEN least(ax, bx) - {r_mm} AND greatest(ax, bx) + {r_mm}"
            f" AND py BETWEEN least(ay, by) - {r_mm}"
            f" AND greatest(ay, by) + {r_mm}"
        )
    )
    stage = [
        ("_mmdx", "(bx - ax)"), ("_mmdy", "(by - ay)"),
        ("_mmpax", "(px - ax)"), ("_mmpay", "(py - ay)"),
        ("_mmpbx", "(px - bx)"), ("_mmpby", "(py - by)"),
        ("_mmlen2", "(_mmdx*_mmdx + _mmdy*_mmdy)"),
        ("_mmdot", "(_mmpax*_mmdx + _mmpay*_mmdy)"),
        ("_mmpa2", "(_mmpax*_mmpax + _mmpay*_mmpay)"),
        ("_mmpb2", "(_mmpbx*_mmpbx + _mmpby*_mmpby)"),
    ]
    for name, sql in stage:
        joined = joined.withColumn(name, F.expr(sql))
    # branch structure and arithmetic identical to seg_dist2_sql term for
    # term (the oracle evaluates the inlined form; IEEE ops bit-match)
    d2 = F.expr(
        "(CASE WHEN _mmlen2 = 0 THEN CAST(_mmpa2 AS DOUBLE)"
        " WHEN _mmdot <= 0 THEN CAST(_mmpa2 AS DOUBLE)"
        " WHEN _mmdot >= _mmlen2 THEN CAST(_mmpb2 AS DOUBLE)"
        " ELSE greatest(CAST(_mmpa2 AS DOUBLE)"
        " - CAST(_mmdot AS DOUBLE) * CAST(_mmdot AS DOUBLE)"
        " / CAST(_mmlen2 AS DOUBLE), CAST(0 AS DOUBLE)) END)"
    )
    cand = (
        joined.withColumn("d2", d2)
        .drop(*[name for name, _ in stage])
        .filter(F.col("d2") <= F.lit(float(r_mm) * float(r_mm)))
    )
    # top-1 as a struct-min AGGREGATE, not a row_number window: the
    # candidate relation is ~|points| x (segments per 3x3 cell block) —
    # a groupBy min partial-aggregates map-side, so only |points| rows
    # cross the exchange, where a window would sort the full candidate
    # volume (measured 46.7 s -> window vs aggregate at sf0.1's 60k
    # segments). struct ordering = (d2 asc, cand_id asc), exactly the
    # deterministic tie-break.
    best = cand.groupBy("primary_key").agg(
        F.min(F.struct("d2", "cand_id")).alias("best")
    )
    return best.select(
        "primary_key",
        F.col("best.cand_id").alias("cand_id"),
        F.floor(F.sqrt(F.col("best.d2"))).cast("bigint").alias("dist_mm"),
    )


def map_match_sql(fix_dir: str, source_sql: str,
                  radius_m: float = SNAP_RADIUS_M) -> str:
    """DuckDB twin: brute-force min over ALL segments (no grid pruning) —
    the engine's pruned search must agree exactly."""
    r_mm = int(round(radius_m * 1000))
    d2 = seg_dist2_sql("p.px", "p.py", "s.ax", "s.ay", "s.bx", "s.by")
    return f"""
WITH p AS (
  SELECT primary_key, {_mm('x')} AS px, {_mm('y')} AS py
  FROM ({source_sql})
), s AS (
  SELECT cand_id, {_mm('x0')} AS ax, {_mm('y0')} AS ay,
         {_mm('x1')} AS bx, {_mm('y1')} AS by
  FROM read_parquet('{fix_dir}/road_centerlines.parquet')
), cand AS (
  SELECT p.primary_key, s.cand_id, {d2} AS d2
  FROM p CROSS JOIN s
), ranked AS (
  SELECT primary_key, cand_id, d2,
         row_number() OVER (PARTITION BY primary_key
                            ORDER BY d2, cand_id) AS rn
  FROM cand WHERE d2 <= {float(r_mm) * float(r_mm)!r}
)
SELECT primary_key, cand_id,
       CAST(floor(sqrt(d2)) AS BIGINT) AS dist_mm
FROM ranked WHERE rn = 1"""


# -------------------------------------------------- origin-destination
# Trip OD matrix: for every gap-split trip segment (track_segments), the
# 1 km grid cell of its first fix -> cell of its last fix, counted. The
# mobility-analytics staple (flow maps, demand matrices). Scale shape:
# the segmentation window (keyed by bounded track_id) + min_by/max_by in
# ONE groupBy pass per (track, segment), then a metadata-sized rollup on
# the cell pair. Pure integer arithmetic end to end.
OD_CELL_MM = 1_000_000  # 1 km cells


def od_matrix(tracks: DataFrame, gap_mm: int = SEG_GAP_MM,
              cell_mm: int = OD_CELL_MM) -> DataFrame:
    """(o_cx, o_cy, d_cx, d_cy, n_trips): per-trip origin/destination 1 km
    cells over gap-split segments of (track_id, seq, x, y) tracks."""
    w = Window.partitionBy("track_id").orderBy("seq")
    stepped = tracks.select(
        "track_id", "seq", "x", "y",
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
    ).withColumn(
        "new_seg",
        F.when(
            F.col("px").isNull()
            | (
                (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
                + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py"))
                > F.lit(int(gap_mm) * int(gap_mm)).cast("bigint")
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "seg_idx",
        F.sum("new_seg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint"),
    )
    trips = stepped.groupBy("track_id", "seg_idx").agg(
        F.min_by("x", "seq").alias("ox"), F.min_by("y", "seq").alias("oy"),
        F.max_by("x", "seq").alias("dx"), F.max_by("y", "seq").alias("dy"),
    )
    c = int(cell_mm)
    return trips.groupBy(
        F.expr(f"ox div {c}").alias("o_cx"),
        F.expr(f"oy div {c}").alias("o_cy"),
        F.expr(f"dx div {c}").alias("d_cx"),
        F.expr(f"dy div {c}").alias("d_cy"),
    ).agg(F.count("*").cast("bigint").alias("n_trips"))


def od_matrix_sql(source_sql: str, gap_mm: int = SEG_GAP_MM,
                  cell_mm: int = OD_CELL_MM) -> str:
    """DuckDB twin of od_matrix over the same (track_id, seq, x, y)
    relation (arg_min/arg_max mirror min_by/max_by; seq is unique per
    track, so both are deterministic)."""
    c = int(cell_mm)
    return f"""
WITH stepped AS (
  SELECT track_id, seq, x, y,
         CASE WHEN lag(x) OVER w IS NULL
                   OR (x - lag(x) OVER w) * (x - lag(x) OVER w)
                      + (y - lag(y) OVER w) * (y - lag(y) OVER w)
                      > CAST({int(gap_mm)} AS BIGINT) * {int(gap_mm)}
              THEN 1 ELSE 0 END AS new_seg
  FROM ({source_sql})
  WINDOW w AS (PARTITION BY track_id ORDER BY seq)
), seg AS (
  SELECT track_id, x, y, seq,
         sum(new_seg) OVER (PARTITION BY track_id ORDER BY seq
                            ROWS UNBOUNDED PRECEDING) AS seg_idx
  FROM stepped
), trips AS (
  SELECT track_id, seg_idx,
         arg_min(x, seq) AS ox, arg_min(y, seq) AS oy,
         arg_max(x, seq) AS dx, arg_max(y, seq) AS dy
  FROM seg GROUP BY track_id, seg_idx
)
SELECT ox // {c} AS o_cx, oy // {c} AS o_cy,
       dx // {c} AS d_cx, dy // {c} AS d_cy,
       CAST(count(*) AS BIGINT) AS n_trips
FROM trips GROUP BY 1, 2, 3, 4"""


# ------------------------------------------------------------ dwell runs
# Stay-point detection, step-gated form: a dwell is a maximal run of
# consecutive fixes whose every step is under DWELL_STEP_MM, kept when it
# holds >= DWELL_MIN_PTS points — the trajectory-mining primitive behind
# visit extraction and stop/move segmentation. Scale shape: one window
# pass keyed by (bounded) track_id, a gaps-and-islands grouping, one
# rollup; all integer arithmetic.
DWELL_STEP_MM = 150_000   # "staying" = consecutive steps under 150 m
DWELL_MIN_PTS = 3


def dwell_runs(tracks: DataFrame, step_mm: int = DWELL_STEP_MM,
               min_pts: int = DWELL_MIN_PTS) -> DataFrame:
    """(track_id, dwell_idx, n_points, span_mm): maximal small-step runs
    of >= min_pts fixes per track; dwell_idx is 1-based in seq order;
    span_mm sums the run's step lengths (floor(sqrt) exact, as in
    track_segments)."""
    w = Window.partitionBy("track_id").orderBy("seq")
    s2 = int(step_mm) * int(step_mm)
    stepped = tracks.select(
        "track_id", "seq", "x", "y",
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
    ).withColumn(
        "d2",
        (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
        + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py")),
    ).withColumn(
        "small",
        F.when(
            F.col("px").isNotNull() & (F.col("d2") <= F.lit(s2)), 1
        ).otherwise(0),
    )
    # a small-step row joins its predecessor's run; islands over the
    # small rows only (seq - row_number over smalls is run-constant)
    smalls = stepped.filter(F.col("small") == 1).withColumn(
        "grp", F.col("seq") - F.row_number().over(w)
    )
    runs = smalls.groupBy("track_id", "grp").agg(
        (F.count("*") + 1).cast("bigint").alias("n_points"),
        F.sum(
            F.floor(F.sqrt(F.col("d2").cast("double"))).cast("bigint")
        ).cast("bigint").alias("span_mm"),
        F.min("seq").alias("seq0"),
    ).filter(F.col("n_points") >= int(min_pts))
    wi = Window.partitionBy("track_id").orderBy("seq0")
    return runs.select(
        "track_id",
        F.row_number().over(wi).cast("bigint").alias("dwell_idx"),
        "n_points", "span_mm",
    )


def dwell_runs_sql(source_sql: str, step_mm: int = DWELL_STEP_MM,
                   min_pts: int = DWELL_MIN_PTS) -> str:
    """DuckDB twin of dwell_runs over the same (track_id, seq, x, y)
    relation."""
    s2 = int(step_mm) * int(step_mm)
    return f"""
WITH stepped AS (
  SELECT track_id, seq,
         (x - lag(x) OVER w) * (x - lag(x) OVER w)
         + (y - lag(y) OVER w) * (y - lag(y) OVER w) AS d2,
         CASE WHEN lag(x) OVER w IS NOT NULL
                   AND (x - lag(x) OVER w) * (x - lag(x) OVER w)
                       + (y - lag(y) OVER w) * (y - lag(y) OVER w)
                       <= {s2}
              THEN 1 ELSE 0 END AS small
  FROM ({source_sql})
  WINDOW w AS (PARTITION BY track_id ORDER BY seq)
), smalls AS (
  SELECT track_id, seq, d2,
         seq - row_number() OVER (PARTITION BY track_id ORDER BY seq)
           AS grp
  FROM stepped WHERE small = 1
), runs AS (
  SELECT track_id, grp,
         CAST(count(*) + 1 AS BIGINT) AS n_points,
         CAST(sum(CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS span_mm,
         min(seq) AS seq0
  FROM smalls GROUP BY track_id, grp
  HAVING count(*) + 1 >= {int(min_pts)}
)
SELECT track_id,
       CAST(row_number() OVER (PARTITION BY track_id ORDER BY seq0)
            AS BIGINT) AS dwell_idx,
       n_points, span_mm
FROM runs"""


# -------------------------------------------------------- bearing octants
# Heading histogram in exact integer arithmetic: each step classifies into
# one of 8 compass octants by sign/magnitude comparisons of (dx, dy) alone
# — no atan2, so no float-boundary parity risk at all. Octant o counts
# headings in [o*45°, (o+1)*45°), numbered counterclockwise from East;
# zero-length steps are excluded. Zero-shuffle until the 8-row rollup.


def bearing_histogram(tracks: DataFrame) -> DataFrame:
    """(octant, n_steps) over all track steps. Octant by exact integer
    tests: 0=[E,NE) 1=[NE,N) 2=[N,NW) 3=[NW,W) 4=[W,SW) 5=[SW,S)
    6=[S,SE) 7=[SE,E)."""
    w = Window.partitionBy("track_id").orderBy("seq")
    d = tracks.select(
        (F.col("x") - F.lag("x").over(w)).alias("dx"),
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
    ).filter(
        F.col("dx").isNotNull() & ((F.col("dx") != 0) | (F.col("dy") != 0))
    )
    octant = F.expr(
        "CASE"
        " WHEN dy >= 0 AND dx > 0 AND dy < dx THEN 0"
        " WHEN dy > 0 AND dx > 0 AND dy >= dx THEN 1"
        " WHEN dy > 0 AND dx <= 0 AND -dx < dy THEN 2"
        " WHEN dy > 0 AND dx < 0 AND -dx >= dy THEN 3"
        " WHEN dy <= 0 AND dx < 0 AND -dy < -dx THEN 4"
        " WHEN dy < 0 AND dx < 0 AND -dy >= -dx THEN 5"
        " WHEN dy < 0 AND dx >= 0 AND dx < -dy THEN 6"
        " ELSE 7 END"
    ).cast("bigint")
    return d.groupBy(octant.alias("octant")).agg(
        F.count("*").cast("bigint").alias("n_steps")
    )


def bearing_histogram_sql(source_sql: str) -> str:
    return f"""
WITH d AS (
  SELECT x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy
  FROM ({source_sql})
  WINDOW w AS (PARTITION BY track_id ORDER BY seq)
)
SELECT CAST(CASE
  WHEN dy >= 0 AND dx > 0 AND dy < dx THEN 0
  WHEN dy > 0 AND dx > 0 AND dy >= dx THEN 1
  WHEN dy > 0 AND dx <= 0 AND -dx < dy THEN 2
  WHEN dy > 0 AND dx < 0 AND -dx >= dy THEN 3
  WHEN dy <= 0 AND dx < 0 AND -dy < -dx THEN 4
  WHEN dy < 0 AND dx < 0 AND -dy >= -dx THEN 5
  WHEN dy < 0 AND dx >= 0 AND dx < -dy THEN 6
  ELSE 7 END AS BIGINT) AS octant,
  CAST(count(*) AS BIGINT) AS n_steps
FROM d
WHERE dx IS NOT NULL AND (dx <> 0 OR dy <> 0)
GROUP BY 1"""


# ---------------------------------------------------- Z-order bbox ranges
# Spatial range query the way a 100 TB table actually serves it: the query
# bbox decomposes (driver-side, pure integer quadtree — O(perimeter)
# ranges) into a handful of CONTIGUOUS Z-order intervals; the scan then
# filters on `cell_id BETWEEN lo AND hi` — a sargable predicate that prunes
# files/row-groups when the table is sorted or bucketed by cell_id (the
# standard Z-order clustering layout) — followed by the exact coordinate
# re-verify on the (cell-granular, hence superset) candidates. The oracle
# is the plain bbox filter: the range decomposition is provably a cover,
# so results must be identical.
QUERY_BBOX = (392000.0, 4405000.0, 411500.0, 4421000.0)


def _morton(ix: int, iy: int) -> int:
    z = 0
    for b in range(16):
        z |= ((ix >> b) & 1) << (2 * b) | ((iy >> b) & 1) << (2 * b + 1)
    return z


def zorder_ranges(ix0: int, iy0: int, ix1: int, iy1: int,
                  res: int = DEFAULT_RES) -> list[tuple[int, int]]:
    """Merged, sorted Z-value intervals exactly covering the inclusive
    integer cell box [ix0..ix1] x [iy0..iy1] at 2^res cells/axis."""
    out: list[tuple[int, int]] = []

    def rec(x0: int, y0: int, size: int) -> None:
        if x0 > ix1 or y0 > iy1 or x0 + size <= ix0 or y0 + size <= iy0:
            return
        if (x0 >= ix0 and y0 >= iy0
                and x0 + size - 1 <= ix1 and y0 + size - 1 <= iy1):
            z = _morton(x0, y0)  # aligned block = contiguous z interval
            out.append((z, z + size * size - 1))
            return
        h = size // 2
        for qx, qy in ((x0, y0), (x0 + h, y0), (x0, y0 + h),
                       (x0 + h, y0 + h)):
            rec(qx, qy, h)

    rec(0, 0, 1 << res)
    out.sort()
    merged: list[tuple[int, int]] = []
    for lo, hi in out:
        if merged and lo == merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], hi)
        else:
            merged.append((lo, hi))
    return merged


def _bbox_cells(qbbox, res: int, bbox) -> tuple[int, int, int, int]:
    x0, y0, x1, y1 = bbox
    n = 1 << res
    qx0, qy0, qx1, qy1 = qbbox

    def q(c, lo, span):
        import math

        return min(max(int(math.floor((c - lo) / span * n)), 0), n - 1)

    return (q(qx0, x0, x1 - x0), q(qy0, y0, y1 - y0),
            q(qx1, x0, x1 - x0), q(qy1, y0, y1 - y0))


def bbox_zrange_query(points: DataFrame, qbbox=QUERY_BBOX,
                      res: int = DEFAULT_RES,
                      bbox=DEFAULT_BBOX) -> DataFrame:
    """(primary_key, x, y): points inside qbbox, found by Z-interval
    candidate pruning + exact re-verify.

    The interval set is applied as a broadcast theta-join against the
    metadata-scale range relation, NOT as an OR-of-BETWEEN literal
    predicate: with 28 disjuncts the optimizer inlines the full Morton
    spread expression into every comparison and the generated
    processNext() blows janino's 64 KB method limit (Code grows beyond
    64 KB -> interpreted fallback; observed fatal under a long-lived
    session). As a join input, cell_id is a bound column evaluated once
    per row. Ranges are disjoint (merged), so no point matches twice and
    no dedup pass is needed."""
    ranges = zorder_ranges(*_bbox_cells(qbbox, res, bbox), res=res)
    spark = points.sparkSession
    rdf = spark.createDataFrame(ranges, "z_lo bigint, z_hi bigint")
    cells = with_cell(points, "x", "y", res, bbox)
    qx0, qy0, qx1, qy1 = qbbox
    exact = (
        (F.col("x") >= qx0) & (F.col("x") <= qx1)
        & (F.col("y") >= qy0) & (F.col("y") <= qy1)
    )
    return (
        cells.join(
            F.broadcast(rdf),
            (F.col("cell_id") >= F.col("z_lo"))
            & (F.col("cell_id") <= F.col("z_hi")),
        )
        .filter(exact)
        .select("primary_key", "x", "y")
    )


def bbox_zrange_query_sql(source_sql: str, qbbox=QUERY_BBOX) -> str:
    """DuckDB twin: the plain exact bbox filter — the Z-range cover must
    not change the result set."""
    qx0, qy0, qx1, qy1 = qbbox
    return f"""
SELECT primary_key, x, y FROM ({source_sql})
WHERE x >= {qx0!r} AND x <= {qx1!r} AND y >= {qy0!r} AND y <= {qy1!r}"""


# -------------------------------------------------- concave PIP (ray cast)
# Point-in-polygon for ARBITRARY simple rings — the broadcast convex test
# of point_in_polygon covers convex dims only; concave footprints (the
# star regions here) need the even-odd ray cast. The crossing test uses
# the half-open vertex rule ((yi > py) != (yj > py)) with the
# x-intersection comparison CROSS-MULTIPLIED into exact int64 — no
# division, no float, so both engines agree bit-for-bit. Scale shape: the
# region relation is grid-bounded (<= 4^res rows, broadcast); points meet
# regions through a bounded bbox-cover cell equi-join (regions, the small
# side, explode their covering cells; points carry one home cell); the
# crossing count is a zero-shuffle higher-order fold over the vertex
# arrays. Products stay within int64: point-vertex deltas are bbox-local
# (<= ~8e6 milli), so cross terms are <= ~6e13.
REGION_RES = 4  # 16x16 region cells over the bbox (~4.4 x 4.4 km each)
REGION_RADIUS_SCALE = 1000  # star radii 0.5..2.0 km


def synthetic_regions(points: DataFrame, res: int = REGION_RES,
                      bbox=DEFAULT_BBOX) -> DataFrame:
    """(gid, xs, ys): km-scale concave star regions, one per occupied
    res-cell of the point relation; vertex arrays in exact milli units
    (the region-scale sibling of synthetic_polygon_corpus)."""
    gid, xs, ys = _star_ring_exprs(res, bbox, "spark",
                                   radius_scale=REGION_RADIUS_SCALE)
    cells = (
        with_cell(points, "x", "y", res, bbox).select("ix", "iy").distinct()
    )
    return cells.select("ix", "iy", F.expr(gid).alias("gid")).select(
        "gid", F.expr(xs).alias("xs"), F.expr(ys).alias("ys"),
    )


def synthetic_regions_sql(source_sql: str, res: int = REGION_RES,
                          bbox=DEFAULT_BBOX) -> str:
    """Parenthesized DuckDB subquery mirroring synthetic_regions()."""
    gid, xs, ys = _star_ring_exprs(res, bbox, "duckdb",
                                   radius_scale=REGION_RADIUS_SCALE)
    ix, iy = quantize_exprs("x", "y", res, bbox)
    return f"""(
SELECT {gid} AS gid, {xs} AS xs, {ys} AS ys
FROM (SELECT DISTINCT {ix} AS ix, {iy} AS iy FROM ({source_sql})))"""


PIP_CELL_MM = 1_094_000  # candidate grid ~ the DEFAULT_RES cell size


def pip_raycast(points: DataFrame, regions: DataFrame,
                cell_mm: int = PIP_CELL_MM) -> DataFrame:
    """(primary_key, gid): point-in-region pairs by exact integer even-odd
    ray casting. points carry meter doubles (x, y); regions carry milli
    vertex arrays (xs, ys).

    Both inputs persist for the call: points is typically the geocode
    pipeline's output and feeds the candidate side AND (via
    synthetic_regions) the region sizing count + pack collect — without
    the persist each of those actions re-ran the whole upstream pipeline
    (measured 4 runs ≈ +8 s at the 10x tier)."""
    from ..caching import persist_tracked

    points = persist_tracked(points)
    regions = persist_tracked(regions)
    c = int(cell_mm)
    regs = regions.select(
        "gid", "xs", "ys",
        F.expr("array_min(xs)").alias("bx0"),
        F.expr("array_max(xs)").alias("bx1"),
        F.expr("array_min(ys)").alias("by0"),
        F.expr("array_max(ys)").alias("by1"),
    ).select(
        "gid", "xs", "ys", "bx0", "bx1", "by0", "by1",
        F.explode(
            F.expr(f"sequence(bx0 div {c}, bx1 div {c})")
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.expr(f"sequence(by0 div {c}, by1 div {c})")
        ).alias("cy"),
    )
    pts = points.select(
        "primary_key",
        F.expr(_mm("x")).alias("px"), F.expr(_mm("y")).alias("py"),
    ).select(
        "primary_key", "px", "py",
        F.expr(f"px div {c}").alias("cx"),
        F.expr(f"py div {c}").alias("cy"),
    )
    cand = pts.join(F.broadcast(regs), ["cx", "cy"]).filter(
        (F.col("px") >= F.col("bx0")) & (F.col("px") <= F.col("bx1"))
        & (F.col("py") >= F.col("by0")) & (F.col("py") <= F.col("by1"))
    )

    # round-6: the region table is metadata-scale (one ring per occupied
    # res-cell), so the even-odd count runs as a numpy kernel against a
    # broadcast (gid -> vertex arrays) pack instead of the interpreted
    # per-edge HOF aggregate (8 element_at calls per edge per candidate —
    # the measured cost at the 10x tier). Same exact int64 comparisons,
    # candidates carry 3 scalar columns across the boundary. Falls back
    # to the HOF fold when the region table exceeds the pack budget.
    import os as _os

    n_regs = regions.count()  # metadata-scale sizing action
    if n_regs <= int(_os.environ.get("SPARK_GRAFT_REGION_PACK_ROWS",
                                     "1000000")):
        import numpy as np
        import pandas as pd

        rpdf = regions.select("gid", "xs", "ys").limit(n_regs + 1).toPandas()
        if len(rpdf) > n_regs:
            raise AssertionError(
                f"region table grew past its counted size {n_regs}"
            )
        pack = {
            row["gid"]: (
                np.asarray(row["xs"], dtype=np.int64),
                np.asarray(row["ys"], dtype=np.int64),
            )
            for _, row in rpdf.iterrows()
        }
        bc = points.sparkSession.sparkContext.broadcast(pack)
        id_type = points.schema["primary_key"].dataType.simpleString()
        gid_type = regions.schema["gid"].dataType.simpleString()

        def kernel(batches):
            import numpy as np
            import pandas as pd

            rp = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out_pk, out_gid = [], []
                for gid, grp in pdf.groupby("gid", sort=False):
                    xs, ys = rp[gid]
                    xj = np.roll(xs, -1)
                    yj = np.roll(ys, -1)
                    px = grp["px"].to_numpy(np.int64)
                    py = grp["py"].to_numpy(np.int64)
                    cross = np.zeros(len(px), dtype=np.int64)
                    for e_i in range(len(xs)):
                        xi, yi = xs[e_i], ys[e_i]
                        xe, ye = xj[e_i], yj[e_i]
                        spans = (yi > py) != (ye > py)
                        lhs = (px - xi) * (ye - yi)
                        rhs = (py - yi) * (xe - xi)
                        inc = np.where(ye > yi, lhs < rhs, lhs > rhs)
                        cross += spans & inc
                    keep = (cross % 2) == 1
                    if keep.any():
                        out_pk.append(
                            grp["primary_key"].to_numpy(object)[keep]
                        )
                        out_gid.append(np.repeat(gid, int(keep.sum())))
                if out_pk:
                    yield pd.DataFrame({
                        "primary_key": np.concatenate(out_pk),
                        "gid": np.concatenate(out_gid),
                    })

        return cand.select("primary_key", "px", "py", "gid").mapInPandas(
            kernel, f"primary_key {id_type}, gid {gid_type}"
        )

    # even-odd fold: for edge i -> j (wrap), a crossing iff the edge spans
    # py's horizontal line (half-open) AND the ray to +x passes left of
    # the intersection — cross-multiplied, sign-corrected by the edge's
    # y direction.
    crossings = F.expr(
        "aggregate(sequence(1, size(xs)), 0L, (acc, i) -> acc + ("
        " CASE WHEN ((element_at(ys, i) > py)"
        "        != (element_at(ys, i % size(xs) + 1) > py))"
        "      AND ("
        "        CASE WHEN element_at(ys, i % size(xs) + 1)"
        "                  > element_at(ys, i)"
        "        THEN (px - element_at(xs, i))"
        "             * (element_at(ys, i % size(xs) + 1)"
        "                - element_at(ys, i))"
        "             < (py - element_at(ys, i))"
        "             * (element_at(xs, i % size(xs) + 1)"
        "                - element_at(xs, i))"
        "        ELSE (px - element_at(xs, i))"
        "             * (element_at(ys, i % size(xs) + 1)"
        "                - element_at(ys, i))"
        "             > (py - element_at(ys, i))"
        "             * (element_at(xs, i % size(xs) + 1)"
        "                - element_at(xs, i))"
        "        END)"
        " THEN 1 ELSE 0 END))"
    )
    return (
        cand.withColumn("_cr", crossings)
        .filter(F.col("_cr") % 2 == 1)
        .select("primary_key", "gid")
    )


def pip_raycast_sql(source_sql: str, regions_sql: str) -> str:
    """DuckDB twin: relational even-odd — vertices unnested with index,
    edges formed by the modular self-join, crossings counted per
    (point, region) with the SAME cross-multiplied comparison; no grid
    pruning (brute force over bbox-qualified candidates)."""
    return f"""
WITH regions AS (SELECT * FROM {regions_sql}),
p AS (
  SELECT primary_key, {_mm('x')} AS px, {_mm('y')} AS py
  FROM ({source_sql})
),
verts AS (
  SELECT gid, unnest(xs) AS vx, unnest(ys) AS vy,
         unnest(range(1, len(xs) + 1)) AS i, len(xs) AS n
  FROM regions
),
edges AS (
  SELECT a.gid, a.vx AS xi, a.vy AS yi, b.vx AS xj, b.vy AS yj
  FROM verts a JOIN verts b
    ON b.gid = a.gid AND b.i = a.i % a.n + 1
),
bbox AS (
  SELECT gid, min(vx) AS bx0, max(vx) AS bx1,
         min(vy) AS by0, max(vy) AS by1
  FROM verts GROUP BY gid
),
cand AS (
  SELECT p.primary_key, p.px, p.py, b.gid
  FROM p JOIN bbox b
    ON p.px >= b.bx0 AND p.px <= b.bx1
   AND p.py >= b.by0 AND p.py <= b.by1
),
cr AS (
  SELECT c.primary_key, c.gid,
         sum(CASE WHEN ((e.yi > c.py) <> (e.yj > c.py))
                  AND (CASE WHEN e.yj > e.yi
                       THEN (c.px - e.xi) * (e.yj - e.yi)
                            < (c.py - e.yi) * (e.xj - e.xi)
                       ELSE (c.px - e.xi) * (e.yj - e.yi)
                            > (c.py - e.yi) * (e.xj - e.xi)
                       END)
             THEN 1 ELSE 0 END) AS n_cross
  FROM cand c JOIN edges e ON e.gid = c.gid
  GROUP BY c.primary_key, c.gid
)
SELECT primary_key, gid FROM cr WHERE n_cross % 2 = 1"""


# ------------------------------------------------- segment crossing join
# Proper line-segment intersections within the centerline network — the
# topology-validation / planarization primitive (a road network's proper
# crossings are its missing intersection nodes). Two segments properly
# cross iff each straddles the other's supporting line: orient(a,b,c) and
# orient(a,b,d) have strictly opposite signs AND orient(c,d,a) /
# orient(c,d,b) do too. Touching / collinear-overlap contacts (any zero
# orientation) are EXCLUDED by design — they are shared endpoints in a
# well-noded network, not errors. Signs are compared (never multiplied:
# the product of two ~6e13 orientations would overflow int64). Scale
# shape: both sides explode their bounded bbox cell cover, equi-join on
# the cell, dedupe the (multi-cell) pair via distinct on (id_a < id_b),
# then the O(1) exact predicate — candidates-then-verify, no theta join.
CROSS_CELL_MM = 1_000_000  # 1 km candidate grid
CROSS_SEG_MOD = 3  # deterministic subset keeping the oracle's O(n^2) sane


def segment_crossings(segments: DataFrame,
                      cell_mm: int = CROSS_CELL_MM) -> DataFrame:
    """(cand_a, cand_b): unordered pairs (cand_a < cand_b) of properly
    crossing segments. segments carries (cand_id, x0, y0, x1, y1) in
    meters."""
    c = int(cell_mm)
    s = segments.select(
        "cand_id",
        F.expr(_mm("x0")).alias("ax"), F.expr(_mm("y0")).alias("ay"),
        F.expr(_mm("x1")).alias("bx"), F.expr(_mm("y1")).alias("by"),
    )
    covered = s.select(
        "*",
        F.explode(
            F.expr(f"sequence(least(ax, bx) div {c},"
                   f" greatest(ax, bx) div {c})")
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.expr(f"sequence(least(ay, by) div {c},"
                   f" greatest(ay, by) div {c})")
        ).alias("cy"),
    )
    left = covered.select(
        F.col("cand_id").alias("cand_a"), F.col("ax").alias("ax1"),
        F.col("ay").alias("ay1"), F.col("bx").alias("bx1"),
        F.col("by").alias("by1"), "cx", "cy",
    )
    right = covered.select(
        F.col("cand_id").alias("cand_b"), F.col("ax").alias("ax2"),
        F.col("ay").alias("ay2"), F.col("bx").alias("bx2"),
        F.col("by").alias("by2"), "cx", "cy",
    )
    cand = (
        left.join(right, ["cx", "cy"])
        .filter(F.col("cand_a") < F.col("cand_b"))
        .select("cand_a", "ax1", "ay1", "bx1", "by1",
                "cand_b", "ax2", "ay2", "bx2", "by2")
        .distinct()
    )

    def orient(ax, ay, bx, by, cx_, cy_):
        return (
            (F.col(bx) - F.col(ax)) * (F.col(cy_) - F.col(ay))
            - (F.col(by) - F.col(ay)) * (F.col(cx_) - F.col(ax))
        )

    o1 = orient("ax1", "ay1", "bx1", "by1", "ax2", "ay2")
    o2 = orient("ax1", "ay1", "bx1", "by1", "bx2", "by2")
    o3 = orient("ax2", "ay2", "bx2", "by2", "ax1", "ay1")
    o4 = orient("ax2", "ay2", "bx2", "by2", "bx1", "by1")
    straddle = (
        (((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0)))
        & (((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0)))
    )
    return cand.filter(straddle).select("cand_a", "cand_b")


def segment_crossings_sql(fix_dir: str, seg_mod: int = CROSS_SEG_MOD) -> str:
    """DuckDB twin: brute-force O(n^2) pair test with the identical
    sign-compared orientation predicate."""

    def orient(px, py, qx, qy, rx, ry):
        return (
            f"(({qx} - {px}) * ({ry} - {py})"
            f" - ({qy} - {py}) * ({rx} - {px}))"
        )

    o1 = orient("ax1", "ay1", "bx1", "by1", "ax2", "ay2")
    o2 = orient("ax1", "ay1", "bx1", "by1", "bx2", "by2")
    o3 = orient("ax2", "ay2", "bx2", "by2", "ax1", "ay1")
    o4 = orient("ax2", "ay2", "bx2", "by2", "bx1", "by1")
    return f"""
WITH s AS (
  SELECT cand_id, {_mm('x0')} AS ax, {_mm('y0')} AS ay,
         {_mm('x1')} AS bx, {_mm('y1')} AS by
  FROM read_parquet('{fix_dir}/road_centerlines.parquet')
  WHERE cand_id % {int(seg_mod)} = 0
),
pairs AS (
  SELECT a.cand_id AS cand_a, a.ax AS ax1, a.ay AS ay1,
         a.bx AS bx1, a.by AS by1,
         b.cand_id AS cand_b, b.ax AS ax2, b.ay AS ay2,
         b.bx AS bx2, b.by AS by2
  FROM s a JOIN s b ON a.cand_id < b.cand_id
),
o AS (
  SELECT cand_a, cand_b,
         {o1} AS o1, {o2} AS o2, {o3} AS o3, {o4} AS o4
  FROM pairs
)
SELECT cand_a, cand_b FROM o
WHERE ((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0))
  AND ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0))"""
