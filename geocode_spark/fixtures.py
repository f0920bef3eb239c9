"""Deterministic synthetic fixtures (SURVEY.md §5 / FIXTURES.md).

Generates, for a given scale factor, the engine's input + locator tables:

  pages            (url, warc_ts, html, text, lang)        — Common-Crawl-style
  addresses        (id, street, zone)                      — reference input relation
  addresses_failfast (id, street, zone)                    — 25 leading failures + 5 good
  address_points   (cand_id, grid, house_number, predir, street_name, stype,
                    sufdir, zip5, x, y)                    — locator
  road_centerlines (cand_id, grid, predir, street_name, stype, sufdir, zip5,
                    from_addr, to_addr, x0, y0, x1, y1)    — locator
  pobox_points     (cand_id, zip5, box_number, x, y)       — locator
  grid_polygons    (grid, x1..x4, y1..y4, ring)            — convex CCW quads

Everything is a pure function of (seed=42, sf). Files are written with
pyarrow (single file, fixed row order) so the Spark engine and the DuckDB
oracle read byte-identical data. Zones are drawn with a hot-key distribution
(SALT LAKE CITY ≈ 55%) to exercise skew (north-rule skew mandate).

Reference evidence for shapes: input schema `id,street,zone`
(reference tests/normal.csv:1), garbage rows `'0 north 0 east','null island'`
(tests/fail-fast.csv:2-26), zone-as-int + ZIP+4 (tests/test_geocode.py:29-31).
"""

from __future__ import annotations

import os
import struct
import tempfile
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .cleansing import py_cleanse_street, py_cleanse_zone

SEED = 42
FIXTURE_ROOT = Path(os.environ.get("GEOCODE_SPARK_FIXTURES", "/root/repo/.fixtures"))
# Bump whenever generation changes: the cache dir is keyed on this, so a
# stale .fixtures tree from an older generator can never leak into a run.
FIXTURE_VERSION = 2

# Poison cadences (F5 per-row error capture): every POISON_STREET_MOD-th page
# embeds an address whose street exceeds extraction.MAX_STREET_LEN (an error
# row, not a task failure); every POISON_IMAGE_MOD-th page carries a payload
# that is not a valid FIMG container.
POISON_STREET_MOD = 601
POISON_IMAGE_MOD = 449

TILE_SIZE = 1000.0

# name, weight, lattice slot, zips
GRIDS = [
    ("SALT LAKE CITY", 0.55, ["84101", "84102", "84111", "84124"]),
    ("PROVO", 0.10, ["84601", "84604"]),
    ("OGDEN", 0.08, ["84401", "84403"]),
    ("WEST VALLEY CITY", 0.05, ["84119", "84120"]),
    ("SANDY", 0.04, ["84070", "84094"]),
    ("OREM", 0.04, ["84057", "84058"]),
    ("DELTA", 0.03, ["84624"]),
    ("LOGAN", 0.03, ["84321"]),
    ("MOAB", 0.03, ["84532"]),
    ("KEARNS", 0.02, ["84118"]),
    ("MAGNA", 0.02, ["84044"]),
    ("TOOELE", 0.01, ["84074"]),
]
GRID_SIZE = 8000.0
GRID_SPACING = 15000.0
GRID_X0 = 380000.0
GRID_Y0 = 4400000.0

STREET_NAMES = [
    "MAIN", "STATE", "CENTER", "UNIVERSITY", "TEMPLE", "REDWOOD", "HIGHLAND",
    "FOOTHILL", "CANYON", "WASATCH", "BANGERTER", "JORDAN", "EMIGRATION",
    "COTTONWOOD", "MILLCREEK", "HOLLADAY", "FORT UNION", "VAN WINKLE",
    "WEST TEMPLE", "SR 6", "US 89", "100", "200", "300", "400", "500", "600",
    "700", "800", "900", "1300", "2100", "3300", "4500", "5400", "7000", "9000",
]
TYPE_POOL = ["ST", "AVE", "RD", "BLVD", "DR", "LN", "WAY", "CT", "PL", "CIR", ""]
TYPE_FULL = {
    "ST": "STREET", "AVE": "AVENUE", "RD": "ROAD", "BLVD": "BOULEVARD",
    "DR": "DRIVE", "LN": "LANE", "WAY": "WAY", "CT": "COURT", "PL": "PLACE",
    "CIR": "CIRCLE",
}
DIR_POOL = ["N", "S", "E", "W", ""]
DIR_FULL = {"N": "NORTH", "S": "SOUTH", "E": "EAST", "W": "WEST"}

WORDS_EN = (
    "the quick brown fox jumps over a lazy dog while data flows through wide "
    "tables and narrow streams of text pages crawl across the web with links "
    "and markup stripped away leaving plain words for analysis"
).split()
WORDS_ES = "el rapido zorro salta sobre un perro mientras los datos fluyen".split()
WORDS_DE = "der schnelle fuchs springt uber einen hund wahrend daten fliessen".split()
WORDS_FR = "le renard rapide saute sur un chien pendant que les donnees coulent".split()

N_ADDRESS_POINTS = 20000
N_CENTERLINES = 6000
N_POBOX = 1500


def grid_origin(i: int) -> tuple[float, float]:
    return (GRID_X0 + (i % 4) * GRID_SPACING, GRID_Y0 + (i // 4) * GRID_SPACING)


def sf_from_dir(sf_dir: str) -> float:
    base = Path(sf_dir).name
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.01


def fixture_dir(sf_dir: str) -> Path:
    return FIXTURE_ROOT / f"{Path(sf_dir).name}-v{FIXTURE_VERSION}"


def n_addresses(sf: float) -> int:
    return max(240, int(200_000 * sf))


def n_pages(sf: float) -> int:
    return max(500, int(2_000_000 * sf))


# --------------------------------------------------------------- locator gen
def _gen_locators(rng: np.random.Generator):
    gw = np.array([g[1] for g in GRIDS])
    gw = gw / gw.sum()

    def pick_grid(n):
        return rng.choice(len(GRIDS), size=n, p=gw)

    # address points
    gi = pick_grid(N_ADDRESS_POINTS)
    names = rng.choice(len(STREET_NAMES), size=N_ADDRESS_POINTS)
    stypes = rng.choice(len(TYPE_POOL), size=N_ADDRESS_POINTS)
    predirs = rng.choice(len(DIR_POOL), size=N_ADDRESS_POINTS)
    sufdirs = rng.choice(len(DIR_POOL), size=N_ADDRESS_POINTS)
    houses = rng.integers(1, 9999, size=N_ADDRESS_POINTS)
    fx = rng.random(N_ADDRESS_POINTS)
    fy = rng.random(N_ADDRESS_POINTS)
    zix = rng.integers(0, 4, size=N_ADDRESS_POINTS)
    ap = pd.DataFrame(
        {
            "cand_id": np.arange(N_ADDRESS_POINTS, dtype=np.int64),
            "grid": [GRIDS[i][0] for i in gi],
            "house_number": houses.astype(np.int64),
            "predir": [DIR_POOL[i] for i in predirs],
            "street_name": [STREET_NAMES[i] for i in names],
            "stype": [TYPE_POOL[i] for i in stypes],
            "sufdir": [DIR_POOL[i] for i in sufdirs],
            "zip5": [GRIDS[g][2][z % len(GRIDS[g][2])] for g, z in zip(gi, zix)],
            "x": [grid_origin(g)[0] + f * GRID_SIZE for g, f in zip(gi, fx)],
            "y": [grid_origin(g)[1] + f * GRID_SIZE for g, f in zip(gi, fy)],
        }
    )
    # de-dup exact key collisions (grid, name, house, dirs, type): keep first
    ap = ap.drop_duplicates(
        subset=["grid", "street_name", "house_number"], keep="first"
    ).reset_index(drop=True)

    # road centerlines
    gi = pick_grid(N_CENTERLINES)
    names = rng.choice(len(STREET_NAMES), size=N_CENTERLINES)
    stypes = rng.choice(len(TYPE_POOL), size=N_CENTERLINES)
    predirs = rng.choice(len(DIR_POOL), size=N_CENTERLINES)
    sufdirs = rng.choice(len(DIR_POOL), size=N_CENTERLINES)
    froms = rng.integers(1, 9800, size=N_CENTERLINES)
    spans = rng.integers(2, 198, size=N_CENTERLINES)
    f0 = rng.random((N_CENTERLINES, 4))
    zix = rng.integers(0, 4, size=N_CENTERLINES)
    rc = pd.DataFrame(
        {
            "cand_id": 1_000_000 + np.arange(N_CENTERLINES, dtype=np.int64),
            "grid": [GRIDS[i][0] for i in gi],
            "predir": [DIR_POOL[i] for i in predirs],
            "street_name": [STREET_NAMES[i] for i in names],
            "stype": [TYPE_POOL[i] for i in stypes],
            "sufdir": [DIR_POOL[i] for i in sufdirs],
            "zip5": [GRIDS[g][2][z % len(GRIDS[g][2])] for g, z in zip(gi, zix)],
            "from_addr": froms.astype(np.int64),
            "to_addr": (froms + spans).astype(np.int64),
            "x0": [grid_origin(g)[0] + f * GRID_SIZE for g, f in zip(gi, f0[:, 0])],
            "y0": [grid_origin(g)[1] + f * GRID_SIZE for g, f in zip(gi, f0[:, 1])],
            "x1": [grid_origin(g)[0] + f * GRID_SIZE for g, f in zip(gi, f0[:, 2])],
            "y1": [grid_origin(g)[1] + f * GRID_SIZE for g, f in zip(gi, f0[:, 3])],
        }
    )

    # pobox points: one synthetic post office per zip, boxes numbered
    zips = [z for g in GRIDS for z in g[2]]
    zi = rng.integers(0, len(zips), size=N_POBOX)
    boxes = rng.integers(1, 5000, size=N_POBOX)
    grid_of_zip = {z: i for i, g in enumerate(GRIDS) for z in g[2]}
    pb = pd.DataFrame(
        {
            "cand_id": 2_000_000 + np.arange(N_POBOX, dtype=np.int64),
            "grid": [GRIDS[grid_of_zip[zips[i]]][0] for i in zi],
            "zip5": [zips[i] for i in zi],
            "box_number": boxes.astype(np.int64),
            "x": [grid_origin(grid_of_zip[zips[i]])[0] + 123.0 for i in zi],
            "y": [grid_origin(grid_of_zip[zips[i]])[1] + 456.0 for i in zi],
        }
    )
    pb = pb.drop_duplicates(subset=["zip5", "box_number"], keep="first").reset_index(
        drop=True
    )

    # grid polygons: convex CCW quads containing each grid box
    jit = rng.random((len(GRIDS), 8)) * 400.0
    rows = []
    for i, (gname, _, _) in enumerate(GRIDS):
        ox, oy = grid_origin(i)
        s = GRID_SIZE
        c = [
            (ox - jit[i, 0], oy - jit[i, 1]),
            (ox + s + jit[i, 2], oy - jit[i, 3]),
            (ox + s + jit[i, 4], oy + s + jit[i, 5]),
            (ox - jit[i, 6], oy + s + jit[i, 7]),
        ]
        rows.append(
            {
                "grid": gname,
                "x1": c[0][0], "y1": c[0][1], "x2": c[1][0], "y2": c[1][1],
                "x3": c[2][0], "y3": c[2][1], "x4": c[3][0], "y4": c[3][1],
                "ring": [{"x": px, "y": py} for px, py in c],
            }
        )
    gp = pd.DataFrame(rows)
    return ap, rc, pb, gp


# -------------------------------------------------------------- address text
def _street_text(rng: np.random.Generator, house, predir, name, stype, sufdir,
                 wrong_dirs=False):
    """Render one input street string with realistic variation."""
    pre, suf, typ = predir, sufdir, stype
    if wrong_dirs:
        flip = {"N": "S", "S": "N", "E": "W", "W": "E", "": "N"}
        pre, suf = flip[predir], flip[sufdir]
    parts = [str(house)]
    if pre:
        style = rng.integers(0, 10)
        if style < 1:
            pass  # drop
        elif style < 3:
            parts.append(DIR_FULL[pre])
        else:
            parts.append(pre)
    parts.append(name)
    if typ:
        style = rng.integers(0, 10)
        if style < 2:
            pass
        elif style < 5:
            parts.append(TYPE_FULL[typ])
        else:
            parts.append(typ)
    if suf:
        if rng.integers(0, 10) < 7:
            parts.append(suf)
    s = " ".join(parts)
    j = rng.integers(0, 10)
    if j < 2:
        s = s.replace(" ", "  ", 1) + "."
    elif j < 3:
        s = " " + s.replace(str(house), str(house) + ",", 1)
    if rng.integers(0, 10) < 3:
        s = s.title() if rng.integers(0, 2) else s.lower()
    return s


def _zone_text(rng: np.random.Generator, grid: str, zip5: str) -> str:
    r = rng.integers(0, 100)
    if r < 55:
        return zip5
    if r < 62:
        return f"{zip5}-{rng.integers(1000, 9999)}"
    if r < 80:
        return grid.title()
    if r < 90:
        return grid.lower()
    return grid


def _gen_addresses(rng, sf, ap: pd.DataFrame, rc: pd.DataFrame, pb: pd.DataFrame):
    n = n_addresses(sf)
    kinds = rng.choice(
        ["ap", "rc", "pobox", "garbage", "empty_zone", "nomatch", "lowscore"],
        size=n,
        p=[0.48, 0.15, 0.05, 0.10, 0.05, 0.10, 0.07],
    )
    ap_idx = rng.integers(0, len(ap), size=n)
    rc_idx = rng.integers(0, len(rc), size=n)
    pb_idx = rng.integers(0, len(pb), size=n)
    garbage = ["fasf", "null island", "0 north 0 east", "???", "lorem ipsum",
               "12", "", "& & &"]
    rows = []
    for i in range(n):
        k = kinds[i]
        if k == "ap":
            r = ap.iloc[ap_idx[i]]
            street = _street_text(rng, r.house_number, r.predir, r.street_name,
                                  r.stype, r.sufdir)
            zone = _zone_text(rng, r.grid, r.zip5)
        elif k == "rc":
            r = rc.iloc[rc_idx[i]]
            h = int(rng.integers(r.from_addr, r.to_addr + 1))
            street = _street_text(rng, h, r.predir, r.street_name, r.stype, r.sufdir)
            zone = _zone_text(rng, r.grid, r.zip5)
        elif k == "pobox":
            r = pb.iloc[pb_idx[i]]
            style = ["P.O. Box {}", "PO Box {}", "po box {}", "P O BOX {}"][
                rng.integers(0, 4)
            ]
            street = style.format(r.box_number)
            zone = r.zip5
        elif k == "garbage":
            street = garbage[rng.integers(0, len(garbage))]
            r = ap.iloc[ap_idx[i]]
            zone = _zone_text(rng, r.grid, r.zip5)
        elif k == "empty_zone":
            r = ap.iloc[ap_idx[i]]
            street = _street_text(rng, r.house_number, r.predir, r.street_name,
                                  r.stype, r.sufdir)
            zone = ["", "   ", "--", "!!"][rng.integers(0, 4)]
        elif k == "nomatch":
            r = ap.iloc[ap_idx[i]]
            # house number offset far outside any locator entry for that street
            street = _street_text(rng, 100000 + int(r.house_number), r.predir,
                                  r.street_name, r.stype, r.sufdir)
            zone = _zone_text(rng, r.grid, r.zip5)
        else:  # lowscore: both directions wrong -> 100-25-25 = 50 < 70
            r = ap.iloc[ap_idx[i]]
            street = _street_text(rng, r.house_number, r.predir, r.street_name,
                                  r.stype, r.sufdir, wrong_dirs=True)
            zone = _zone_text(rng, r.grid, r.zip5)
        rows.append((f"r{i:07d}", street, zone))
    df = pd.DataFrame(rows, columns=["id", "street", "zone"])
    # zone occasionally arrives as an int in the reference (test_geocode.py:29);
    # parquet needs one type — keep strings, int-cast behavior unit-tested.
    return df


def _gen_failfast():
    rows = [(f"f{i:03d}", "0 north 0 east", "null island") for i in range(25)]
    rows += [(f"f{i:03d}", "123 S MAIN ST", "84101") for i in range(25, 30)]
    return pd.DataFrame(rows, columns=["id", "street", "zone"])


def _gen_pages(rng, sf, addresses: pd.DataFrame):
    n = n_pages(sf)
    langs = rng.choice(["en", "es", "de", "fr"], size=n, p=[0.9, 0.04, 0.03, 0.03])
    kind = rng.choice(["addr", "none", "two"], size=n, p=[0.80, 0.15, 0.05])
    a_idx = rng.integers(0, len(addresses), size=n)
    b_idx = rng.integers(0, len(addresses), size=n)
    nw1 = rng.integers(3, 30, size=n)
    nw2 = rng.integers(3, 30, size=n)
    wordlists = {"en": WORDS_EN, "es": WORDS_ES, "de": WORDS_DE, "fr": WORDS_FR}
    word_pick = rng.integers(0, 1 << 30, size=(n, 2))

    def salad(lang, nwords, seed_val):
        wl = wordlists[lang]
        return " ".join(wl[(seed_val + 7 * j) % len(wl)] for j in range(nwords))

    def embed(idx):
        a = addresses.iloc[idx]
        cs = py_cleanse_street(a.street).upper()
        cz = py_cleanse_zone(a.zone).upper()
        if not cs or not cz:
            return None
        return f"{cs}, {cz}."

    urls, texts, htmls, tss = [], [], [], []
    base_ts = pd.Timestamp("2024-06-01T00:00:00")
    for i in range(n):
        pre = salad(langs[i], nw1[i], word_pick[i, 0])
        post = salad(langs[i], nw2[i], word_pick[i, 1])
        frags = [pre]
        if i % POISON_STREET_MOD == 0:
            # leftmost match wins -> this page becomes an F5 error row
            frags.append("1 " + "A" * 600 + ", SALT LAKE CITY.")
        if kind[i] in ("addr", "two"):
            e = embed(a_idx[i])
            if e:
                frags.append(e)
        if kind[i] == "two":
            e2 = embed(b_idx[i])
            if e2:
                frags.append(e2)
        frags.append(post)
        text = " ".join(frags)
        w = 320 + (i % 8) * 160
        h = 240 + (i % 5) * 120
        if i % POISON_IMAGE_MOD == 0:  # not a valid FIMG container
            html = b"JK"
        else:
            html = b"FIMG" + struct.pack(">HH", w, h) + text[:32].encode("utf-8")
        urls.append(f"https://example-{i % 997}.test/page/{i}")
        texts.append(text)
        htmls.append(html)
        tss.append(base_ts + pd.Timedelta(seconds=int(i)))
    return pd.DataFrame(
        {"url": urls, "warc_ts": tss, "html": htmls, "text": texts, "lang": langs}
    )


# ------------------------------------------------------------------- writing
def _write(df: pd.DataFrame, path: Path):
    table = pa.Table.from_pandas(df, preserve_index=False)
    tmp = Path(tempfile.mktemp(dir=str(path.parent), suffix=".parquet"))
    # Spark rejects TIMESTAMP(NANOS) parquet — write microseconds.
    # Small row groups (4096 rows) give Spark's FileSourceScan many split
    # points, standing in for the many-file layout a production-scale table
    # has — without them a single-file fixture scans as ONE partition and the
    # extraction stage runs on one core regardless of cluster size.
    pq.write_table(
        table, tmp, row_group_size=4096, coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    os.replace(tmp, path)


TABLES = (
    "pages", "addresses", "addresses_failfast", "address_points",
    "road_centerlines", "pobox_points", "grid_polygons",
)


def ensure_fixtures(sf_dir: str) -> Path:
    """Idempotently materialize all fixture tables for a scale-factor dir.

    Returns the fixture directory. Safe to call from queries(); generation is
    a pure function of (SEED, sf) so re-generation is byte-stable.
    """
    out = fixture_dir(sf_dir)
    out.mkdir(parents=True, exist_ok=True)
    if all((out / f"{t}.parquet").exists() for t in TABLES):
        return out
    sf = sf_from_dir(sf_dir)
    rng = np.random.default_rng(SEED)
    ap, rc, pb, gp = _gen_locators(rng)
    addr = _gen_addresses(np.random.default_rng(SEED + 1), sf, ap, rc, pb)
    pages = _gen_pages(np.random.default_rng(SEED + 2), sf, addr)
    _write(pages, out / "pages.parquet")
    _write(addr, out / "addresses.parquet")
    _write(_gen_failfast(), out / "addresses_failfast.parquet")
    _write(ap, out / "address_points.parquet")
    _write(rc, out / "road_centerlines.parquet")
    _write(pb, out / "pobox_points.parquet")
    _write(gp, out / "grid_polygons.parquet")
    return out
