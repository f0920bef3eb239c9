"""Seeded benchmark inputs, cached by (seed, size).

Every table is a pure function of the seed, and both workloads read the
same set. Locators, address rows and pages come from the engine's own
fixture generators (``geocode_spark.fixtures``), driven by
``numpy.random.default_rng`` streams derived from the seed instead of the
fixed fixture seed. The point table for the spatial phase is generated
here, with the fixture's grid weights (SALT LAKE CITY ~55%).

Inputs are written as several parquet files per table, so that the scan
yields at least one partition per task slot without tuning split sizes. A
finished input set is renamed into place, so an interrupted generation never
leaves a half-written cache entry behind.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

from geocode_spark import fixtures as fx

LOCATOR_TABLES = ("address_points", "road_centerlines", "pobox_points",
                  "grid_polygons")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write_split(df: pd.DataFrame, out_dir: Path, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet files of contiguous row ranges."""
    out_dir.mkdir(parents=True)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for i in range(n_files):
        fx._write(df.iloc[bounds[i]:bounds[i + 1]],
                  out_dir / f"part-{i:05d}.parquet")


def _write_locators(seed: int, out: Path):
    ap, rc, pb, gp = fx._gen_locators(_rng(seed, 0))
    for name, table in zip(LOCATOR_TABLES, (ap, rc, pb, gp)):
        fx._write(table, out / f"{name}.parquet")
    return ap, rc, pb


def _addresses(seed: int, n: int, ap, rc, pb) -> pd.DataFrame:
    # n_addresses(sf) = int(200_000 * sf) rows (floor 240); the half row
    # keeps the float product from truncating to n - 1
    return fx._gen_addresses(_rng(seed, 1), (n + 0.5) / 200_000, ap, rc, pb)


def _pages(seed: int, n: int, addresses: pd.DataFrame) -> pd.DataFrame:
    # n_pages(sf) = int(2_000_000 * sf) pages (floor 500); poison rows (every
    # fx.POISON_STREET_MOD-th page) are kept — their error rows are part of
    # the oracle's output
    return fx._gen_pages(_rng(seed, 2), (n + 0.5) / 2_000_000, addresses)


def points(seed: int, n: int) -> pd.DataFrame:
    """Hot-skewed point table (primary_key, x, y, score) in UTM 12N metres.

    Grids are drawn with the fixture weights (SALT LAKE CITY ~55%), and each
    point falls uniformly inside its grid's box, like the address points it
    is joined against."""
    rng = _rng(seed, 3)
    w = np.array([g[1] for g in fx.GRIDS])
    gi = rng.choice(len(fx.GRIDS), size=n, p=w / w.sum())
    origin = np.array([fx.grid_origin(i) for i in range(len(fx.GRIDS))])
    xy = origin[gi] + rng.random((n, 2)) * fx.GRID_SIZE
    return pd.DataFrame({
        "primary_key": [f"p{seed}-{i:07d}" for i in range(n)],
        "x": xy[:, 0],
        "y": xy[:, 1],
        "score": rng.integers(70, 101, size=n).astype(np.int64),
    })


def _generate(seed: int, size: dict, nfiles: int, out: Path):
    ap, rc, pb = _write_locators(seed, out)
    # the address table; pages quote addresses drawn from it
    addr = _addresses(seed, size["addresses"], ap, rc, pb)
    _write_split(addr, out / "addresses", nfiles)
    n, per, n_files = size["pages"], size["file_pages"], size["files"]
    pages = _pages(seed, n + per * (n_files + 1), addr)
    _write_split(pages.iloc[:n], out / "pages", nfiles)
    # stream phase: one warm-up micro-batch file, then the files that
    # arrive on the open-loop schedule
    stream = pages.iloc[n:]
    _write_split(stream.iloc[:per], out / "stream_warm", 1)
    _write_split(stream.iloc[per:], out / "arrivals", n_files)
    _write_split(points(seed, size["points"]), out / "points", nfiles)


def ensure_inputs(cache_root: Path, seed: int, size_name: str, size: dict,
                  nfiles: int) -> Path:
    """Return the input directory for (seed, size), generating it
    on first use. Its layout matches the fixture directory the engine's
    DuckDB oracles read (locator tables as single files), with each input
    table as a directory of parquet parts."""
    # the key holds the sizes themselves, so a changed size never reuses
    # an input set generated for the old one
    key = hashlib.sha1(json.dumps(size, sort_keys=True).encode()).hexdigest()
    out = cache_root / f"s{seed}-{size_name}-{key[:8]}-f{nfiles}"
    if out.is_dir():
        return out
    tmp = cache_root / f".tmp-{out.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        _generate(seed, size, nfiles, tmp)
        os.replace(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
