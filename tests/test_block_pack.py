"""The house-block locator pack — candidate arrays keyed on
(zone_key, join_name, house div 100) — and the columnar index the match
kernel probes.

- A differential test (hypothesis) against the DuckDB oracle, which joins
  the locator tables directly and does not depend on the pack key, on
  boundary inputs: houses at block edges, ranges crossing 1-5 block edges,
  degenerate, reversed, NULL-bounded and very wide ranges, NULL locator
  predir/stype/grid, PO boxes at a block edge, and invalid, missing-zone
  and F5 error rows; under every `locators=` value, at accept scores 70
  and 90. Empty and all-INVALID inputs are checked the same way.
- The index round-trips the pack: each key's span holds its `cands`, in
  order.
- A hot-zone pin on the test fixtures: the longest candidate array and the
  candidates a parsed probe row scans stay small constants.
"""

import itertools
import pickle

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geocode_spark.operators.geocode import (
    _POBOX_NAME,
    cleanse_input,
    geocode,
    geocode_parsed,
    locator_index,
    pack_locators,
    parse_input,
)
from geocode_spark.operators.match import MATCH_COLUMNS, _codes, match
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
# locator attributes may also be NULL: SQL NULL never equals the input and
# is never '' (penalty 5 for an empty input, else the "different" penalty)
_LOC_ATTRS = st.tuples(st.sampled_from(STREETS),
                       st.sampled_from(DIRS + [None]),
                       st.sampled_from(TYPES + [None]),
                       st.sampled_from(DIRS + [None]))
LOCATORS = ("all", "addressPoints", "roadCenterlines")


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

CENTERLINES = st.lists(st.tuples(RANGES, _LOC_ATTRS), min_size=1, max_size=8)
POINTS = st.lists(
    st.tuples(st.one_of(st.sampled_from(BOUNDARY_HOUSES), st.integers(0, 1200)),
              _LOC_ATTRS),
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
    every example carries, among them a centerline and an address point
    whose grid is NULL (they join on their zip only, and their
    matchAddress is NULL) and address points whose predir or stype is
    NULL."""
    ids = itertools.count(1)
    rc = [(1_000_000 + next(ids), grid, pre, name, typ, suf, ZIP, lo, hi,
           400_000.0 + i, 4_500_000.0 + i, 400_500.5 + i, 4_500_250.25 + i)
          for i, ((lo, hi), (name, pre, typ, suf), grid)
          in enumerate([(r, ("MAIN", "", "", ""), GRID) for r in FIXED_RANGES]
                       + [((300, 399), ("STATE", "", "ST", ""), None)]
                       + [(r, a, GRID) for r, a in centerlines])]
    ap = [(next(ids), grid, h, pre, name, typ, suf, ZIP,
           410_000.0 + 3 * i, 4_510_000.0 + 7 * i)
          for i, (h, (name, pre, typ, suf), grid)
          in enumerate([(350, ("STATE", "N", "", ""), None),
                        (550, ("ELM", None, "", ""), GRID),
                        (551, ("ELM", "", None, ""), GRID)]
                       + [(h, a, GRID) for h, a in points])]
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
    # the NULL-grid locators, and NULL predir / stype against a set input
    # (SQL: "different", 25 and 15, never "locator empty", 15 and 10)
    for street in ("350 STATE ST", "350 N STATE", "550 N ELM", "551 ELM ST"):
        addr.append(street)
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


def _assert_matches_oracle(spark, d, label, configs):
    locs = load_locators(spark, str(d))
    addr = spark.read.parquet(f"{d}/addresses.parquet")
    try:
        for locators, score in configs:
            kw = dict(locators=locators, pobox=True, accept_score=score)
            got = geocode(addr, **locs, **kw).toPandas()
            want = duck_to_pdf(geocode_oracle_sql(str(d), **kw))
            assert_frames_match(got, want, label=f"{label}/{locators}/{score}")
    finally:
        for locators, _ in configs:
            pack_locators(**locs, locators=locators, pobox=True).unpersist()


@given(CENTERLINES, POINTS, PROBES)
@settings(max_examples=4, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_block_pack_matches_oracle(spark, tmp_path, centerlines, points, probes):
    d = tmp_path / f"ex{next(_EXAMPLE)}"
    d.mkdir()
    for name, rows in _tables(centerlines, points, probes).items():
        _write(d, name, rows)
    # every locators= value; the accept score alternates between the
    # default and a stricter one from example to example
    score = (70, 90)[int(d.name[2:]) % 2]
    _assert_matches_oracle(spark, d, "block_pack",
                           [(loc, score) for loc in LOCATORS])


def test_empty_and_all_invalid_inputs_match_oracle(spark, tmp_path):
    """No input row at all, and a batch in which no row parses: the fixed
    locator rows of every example, each input against the oracle."""
    tables = _tables([], [], [])
    inputs = {
        "empty": [],
        "invalid": [(f"i{k}", s, z) for k, (s, z) in enumerate(
            [("fasf", ZIP), ("MAIN", ZIP), ("", ZIP), (None, ZIP),
             ("1234567 MAIN", ZIP), ("PO Box", ZIP)])],
    }
    for label, rows in inputs.items():
        d = tmp_path / label
        d.mkdir()
        for name, table_rows in {**tables, "addresses": rows}.items():
            _write(d, name, table_rows)
        _assert_matches_oracle(spark, d, label, [("all", 70)])


def test_vocabulary_codes():
    """NULL is -1; a value the vocabulary lacks is -2, also one wider
    than its widest entry (an F5 street of 600 characters)."""
    vocab = np.array(["", "N", "NORTH", "S"])
    got = _codes(vocab, ["N", None, "", "X" * 600, "NORTHX", "S"])
    assert got.tolist() == [1, -1, 0, -2, -2, 3]
    assert _codes(np.array([], dtype=str), ["N", None]).tolist() == [-2, -1]


def test_match_kernel_on_empty_batch(spark, fixtures_dir):
    """An empty Arrow batch yields an empty frame of the 8 result columns."""
    locs = load_locators(spark, fixtures_dir)
    index = locator_index(pack_locators(**locs, pobox=True)).load()
    empty = pd.DataFrame({c: pd.Series([], dtype=object) for c in (
        "cleansed_street", "cleansed_zone", "zone_key", "addr_type", "house",
        "predir", "street_name", "stype", "sufdir", "error")})
    out = match(empty, index, 70)
    assert list(out.columns) == MATCH_COLUMNS and len(out) == 0


def _tail(predir, name, stype, sufdir):
    """Reference for the index's `tail` column: concat_ws(' ',
    nullif(predir, ''), name, nullif(stype, ''), nullif(sufdir, ''))."""
    parts = [v for v in (predir or None, name, stype or None, sufdir or None)
             if v is not None]
    return " ".join(parts) if parts else None


def test_index_round_trips_pack(spark, fixtures_dir):
    """Each pack row's key finds exactly its `cands`, in order, in the
    published index file (mapped the way a worker maps it)."""
    locs = load_locators(spark, fixtures_dir)
    pack = pack_locators(**locs, pobox=True)
    index = pickle.loads(pickle.dumps(locator_index(pack))).load()
    assert isinstance(index.keys, np.ndarray) and not index.keys.flags.writeable
    rows = pack.collect()
    assert len(index.keys) == len(rows)
    rr, starts, stops = index.spans(
        [r["zone_key"] for r in rows], [r["join_name"] for r in rows],
        (np.array([r["block"] * 100 for r in rows]), np.ones(len(rows), bool)))
    assert list(rr) == list(range(len(rows)))

    def text(codes):
        return [None if c < 0 else str(index.strings[c]) for c in codes]

    for r, a, b in zip(rows, starts, stops):
        cands = r["cands"]
        assert b - a == len(cands)
        sl = slice(a, b)
        got = list(zip(
            index.pri[sl], index.base_score[sl], index.cand_id[sl],
            index.from_addr[sl], index.to_addr[sl], index.x0[sl],
            index.y0[sl], index.x1[sl], index.y1[sl], text(index.grid[sl]),
            text(index.tail[sl]), text(index.l_predir[sl]),
            text(index.l_stype[sl]), text(index.l_sufdir[sl]),
            index.src[sl]))
        want = [(c["pri"], c["base_score"], c["cand_id"], c["from_addr"],
                 c["to_addr"], c["x0"], c["y0"], c["x1"], c["y1"], c["grid"],
                 _tail(c["l_predir"], c["l_street_name"], c["l_stype"],
                       c["l_sufdir"]),
                 c["l_predir"], c["l_stype"], c["l_sufdir"],
                 {"usps": 0, "ap": 1}.get(c["src"], 2)) for c in cands]
        assert got == want, (r["zone_key"], r["join_name"], r["block"])


def test_geocode_parsed_equals_geocode(spark, fixtures_dir):
    """The match-only stage over staged parsed rows equals the fused
    cleanse+parse+match stage, row for row (F5 error rows included)."""
    locs = load_locators(spark, fixtures_dir)
    addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
    fused = geocode(addr, pobox=True, **locs).toPandas()
    staged = geocode_parsed(parse_input(cleanse_input(addr)), pobox=True,
                            **locs).toPandas()
    key = "primary_key"
    pd.testing.assert_frame_equal(
        fused.sort_values(key, ignore_index=True),
        staged.sort_values(key, ignore_index=True))


def test_geocode_pages_equals_geocode_parsed(spark, fixtures_dir):
    """The fused page stage (extract+cleanse+parse+match) equals the match
    over the staged extract_and_parse rows, row for row, the fixture's
    poison pages (F5 street-length error rows) included."""
    from geocode_spark.extraction import extract_and_parse
    from geocode_spark.plans.pipeline import geocode_pages

    locs = load_locators(spark, fixtures_dir)
    pages = spark.read.parquet(f"{fixtures_dir}/pages.parquet")
    fused = geocode_pages(pages, locs).toPandas()
    staged = geocode_parsed(extract_and_parse(pages), pobox=True,
                            **locs).toPandas()
    assert fused["message"].str.startswith("street too long").any()
    key = "primary_key"
    pd.testing.assert_frame_equal(
        fused.sort_values(key, ignore_index=True),
        staged.sort_values(key, ignore_index=True))


def test_hot_zone_candidates_per_probe_row(spark, fixtures_dir):
    """Measured on the fixtures: 38,688 keys holding 65,160 candidates,
    the longest array 15 (427 when arrays were keyed per street), and 2.27
    candidates scored per parsed probe row (128 per street)."""
    locs = load_locators(spark, fixtures_dir)
    pack = pack_locators(**locs, pobox=True)
    longest = pack.agg(F.max(F.size("cands"))).first()[0]
    assert longest <= 15

    parsed = parse_input(cleanse_input(
        spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
    )).filter(F.col("addr_type") != "INVALID").toPandas()
    index = locator_index(pack).load()
    join_name = np.where(parsed["addr_type"] == "POBOX", _POBOX_NAME,
                         parsed["street_name"])
    house = parsed["house"].astype("Int64")
    _, starts, stops = index.spans(
        parsed["zone_key"], join_name,
        (house.to_numpy(dtype=np.int64, na_value=0), house.notna().to_numpy()))
    assert len(parsed) > 100  # effect size: the fixture probes the pack
    assert (stops - starts).sum() / len(parsed) <= 3
