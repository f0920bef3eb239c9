"""The house-block locator pack: candidate arrays keyed on
(zone_key, join_name, house div 100).

- A differential test (hypothesis) against the DuckDB oracle, which joins
  the locator tables directly and does not depend on the pack key, on
  boundary inputs: houses at block edges, ranges crossing 1-5 block edges,
  degenerate, reversed, NULL-bounded and very wide ranges, PO boxes at a
  block edge, and invalid, missing-zone and F5 error rows.
- A hot-zone pin on the test fixtures: the longest candidate array and the
  candidates a parsed probe row scans stay small constants.
"""

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geocode_spark.operators.geocode import (
    PACK_KEY,
    cleanse_input,
    geocode,
    pack_locators,
    parse_input,
    probe_keys,
)
from geocode_spark.oracle import geocode_oracle_sql
from geocode_spark.plans.pipeline import load_locators

from compare_util import assert_frames_match, duck_to_pdf

ZIP, GRID = "84101", "SALT LAKE CITY"
STREETS = ["MAIN", "STATE"]
DIRS = ["", "N", "S"]
TYPES = ["", "ST", "AVE"]
BOUNDARY_HOUSES = [0, 99, 100, 101, 199, 200]

_SCHEMAS = {
    "address_points": pa.schema([
        ("cand_id", pa.int64()), ("grid", pa.string()),
        ("house_number", pa.int64()), ("predir", pa.string()),
        ("street_name", pa.string()), ("stype", pa.string()),
        ("sufdir", pa.string()), ("zip5", pa.string()),
        ("x", pa.float64()), ("y", pa.float64()),
    ]),
    "road_centerlines": pa.schema([
        ("cand_id", pa.int64()), ("grid", pa.string()),
        ("predir", pa.string()), ("street_name", pa.string()),
        ("stype", pa.string()), ("sufdir", pa.string()),
        ("zip5", pa.string()), ("from_addr", pa.int64()),
        ("to_addr", pa.int64()), ("x0", pa.float64()), ("y0", pa.float64()),
        ("x1", pa.float64()), ("y1", pa.float64()),
    ]),
    "pobox_points": pa.schema([
        ("cand_id", pa.int64()), ("grid", pa.string()), ("zip5", pa.string()),
        ("box_number", pa.int64()), ("x", pa.float64()), ("y", pa.float64()),
    ]),
    "addresses": pa.schema([
        ("id", pa.string()), ("street", pa.string()), ("zone", pa.string()),
    ]),
}

_ATTRS = st.tuples(st.sampled_from(STREETS), st.sampled_from(DIRS),
                   st.sampled_from(TYPES), st.sampled_from(DIRS))


def _crossing(t):
    start, edges, end_in_block = t
    # from `start`, cross exactly `edges` block edges
    return start, (start // 100 + edges) * 100 + end_in_block


RANGES = st.one_of(
    st.tuples(st.integers(0, 900), st.integers(1, 5),
              st.integers(0, 99)).map(_crossing),
    st.integers(0, 1000).map(lambda h: (h, h - h % 100 + 99)),  # one block
    st.integers(0, 1000).map(lambda h: (h, h)),  # degenerate
    st.tuples(st.integers(1, 1000), st.integers(1, 150)).map(
        lambda t: (t[0], max(t[0] - t[1], 0))),  # from > to
    st.sampled_from([(None, 150), (150, None), (None, None)]),
)
# every example also carries one range of each kind, on MAIN with no
# direction or type, ahead of the drawn ones: lower cand_ids win ties, so
# the degenerate ranges win houses 100 and 199 and the wide one house 0
FIXED_RANGES = [(100, 100), (199, 199), (50, 250), (150, 120), (None, 150),
                (0, 99_999)]

CENTERLINES = st.lists(st.tuples(RANGES, _ATTRS), min_size=1, max_size=8)
POINTS = st.lists(
    st.tuples(st.one_of(st.sampled_from(BOUNDARY_HOUSES), st.integers(0, 1200)),
              _ATTRS),
    max_size=8,
)
PROBES = st.lists(
    st.tuples(st.one_of(st.sampled_from(BOUNDARY_HOUSES), st.integers(0, 1200)),
              _ATTRS, st.sampled_from([ZIP, "Salt Lake City"])),
    min_size=1, max_size=12,
)


def _street(house, attrs):
    name, pre, typ, suf = attrs
    return " ".join(str(p) for p in (house, pre, name, typ, suf) if p != "")


def _write(d, name, rows):
    cols = _SCHEMAS[name].names
    table = pa.Table.from_pylist([dict(zip(cols, r)) for r in rows],
                                 schema=_SCHEMAS[name])
    pq.write_table(table, f"{d}/{name}.parquet")


def _tables(centerlines, points, probes):
    """Locator and address rows: the drawn ones plus fixed boundary rows
    every example carries."""
    ids = itertools.count(1)
    rc = [(1_000_000 + next(ids), GRID, pre, name, typ, suf, ZIP, lo, hi,
           400_000.0 + i, 4_500_000.0 + i, 400_500.5 + i, 4_500_250.25 + i)
          for i, ((lo, hi), (name, pre, typ, suf))
          in enumerate([(r, ("MAIN", "", "", "")) for r in FIXED_RANGES]
                       + centerlines)]
    ap = [(next(ids), GRID, h, pre, name, typ, suf, ZIP,
           410_000.0 + 3 * i, 4_510_000.0 + 7 * i)
          for i, (h, (name, pre, typ, suf)) in enumerate(points)]
    pb = [(2_000_000 + b, GRID, ZIP, b, 420_000.0 + b, 4_520_000.0 + b)
          for b in (99, 100, 101, 250)]
    addr = [_street(h, a) for h, a, _ in probes]
    zones = [z for _, _, z in probes]
    for h in BOUNDARY_HOUSES:
        addr.append(f"{h} MAIN")
        zones.append(ZIP)
    for b in (99, 100, 101, 102):
        addr.append(f"PO Box {b}")
        zones.append(ZIP)
    fixed = [("fasf", ZIP),                      # INVALID parse
             ("100 MAIN", ""),                   # missing zone
             ("100 MAIN " + "X" * 600, ZIP)]     # F5 error (street too long)
    addr += [s for s, _ in fixed]
    zones += [z for _, z in fixed]
    rows = [(f"r{i:03d}", s, z) for i, (s, z) in enumerate(zip(addr, zones))]
    return {"road_centerlines": rc, "address_points": ap,
            "pobox_points": pb, "addresses": rows}


_EXAMPLE = itertools.count()


@given(CENTERLINES, POINTS, PROBES)
@settings(max_examples=4, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_block_pack_matches_oracle(spark, tmp_path, centerlines, points, probes):
    d = tmp_path / f"ex{next(_EXAMPLE)}"
    d.mkdir()
    for name, rows in _tables(centerlines, points, probes).items():
        _write(d, name, rows)

    locs = load_locators(spark, str(d))
    addr = spark.read.parquet(f"{d}/addresses.parquet")
    try:
        got = geocode(addr, pobox=True, **locs).toPandas()
    finally:
        pack_locators(**locs, pobox=True).unpersist()
    want = duck_to_pdf(geocode_oracle_sql(str(d), pobox=True))
    assert_frames_match(got, want, label="block_pack")


def test_hot_zone_candidates_per_probe_row(spark, fixtures_dir):
    """Measured on the fixtures: 38,688 keys holding 65,160 candidates,
    the longest array 15 (427 when arrays were keyed per street), and 2.27
    candidates per parsed probe row (128 per street)."""
    locs = load_locators(spark, fixtures_dir)
    pack = pack_locators(**locs, pobox=True)
    longest = pack.agg(F.max(F.size("cands"))).first()[0]
    assert longest <= 15

    parsed = probe_keys(parse_input(cleanse_input(
        spark.read.parquet(f"{fixtures_dir}/addresses.parquet"))))
    sizes = pack.select(*PACK_KEY, F.size("cands").alias("n"))
    r = parsed.filter(F.col("addr_type") != "INVALID").join(
        sizes, list(PACK_KEY), "left"
    ).agg(F.count("*").alias("rows"),
          F.sum(F.coalesce("n", F.lit(0))).alias("scanned")).first()
    assert r["rows"] > 100  # effect size: the fixture probes the pack
    assert r["scanned"] / r["rows"] <= 3
