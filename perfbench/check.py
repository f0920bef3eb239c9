"""Output checks against the engine's DuckDB oracles.

Each phase's expected output is the DuckDB oracle the repository already
ships for that operator (``geocode_spark.oracle``,
``operators.projection.reproject_oracle_sql``, ``operators.spatial``'s
``knn_sql`` / ``point_in_polygon_sql`` / ``tile_rollup_sql``), evaluated over
the generated input directory. Oracle results are computed once per input
set and cached beside the inputs, outside any timed window. A run's output is
then diffed row by row on the output's key columns: oracle rows missing from
the output, output rows absent from the oracle, duplicated keys and rows with
any differing value all count as failed rows.
"""

from __future__ import annotations

import os
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.dataset as ds

from geocode_spark.oracle import geocode_oracle_sql, geocode_pages_oracle_sql
from geocode_spark.operators.projection import reproject_oracle_sql
from geocode_spark.operators.spatial import (
    knn_sql,
    point_in_polygon_sql,
    tile_rollup_sql,
)

GEOCODE_KEYS = ["primary_key"]
PAGE_TABLES = ["pages", "stream_warm", "arrivals"]


def _parts(fix: str, table: str) -> str:
    return f"'{fix}/{table}/*.parquet'"


def _pages_oracle(fix: str, tables: list[str]) -> str:
    # the engine's oracle reads a single pages.parquet; the benchmark's
    # pages are directories of parts
    globs = ", ".join(_parts(fix, t) for t in tables)
    return geocode_pages_oracle_sql(fix, pobox=True).replace(
        f"read_parquet('{fix}/pages.parquet')", f"read_parquet([{globs}])"
    )


# DuckDB's join reordering turns knn_sql's neighbour-cell equi-join into a
# cross product plus filter (minutes at the benchmark's size); the query as
# written, probes x offsets joined to the candidates, is a hash join
_SETTINGS = {"knn": ["SET disabled_optimizers = 'join_order'"]}


def oracle_queries(fix: str) -> dict[str, tuple[str, list]]:
    """name -> (oracle SQL, key columns) for every output a run checks.

    ``pages`` is one oracle over every page, batch and stream alike;
    ``expected`` splits it by input."""
    addresses = f"read_parquet({_parts(fix, 'addresses')})"
    points = f"SELECT * FROM read_parquet({_parts(fix, 'points')})"
    native = geocode_oracle_sql(fix, pobox=True, source_sql=addresses)
    return {
        "pages": (_pages_oracle(fix, PAGE_TABLES), GEOCODE_KEYS),
        "address": (reproject_oracle_sql(native, wkid=4326), GEOCODE_KEYS),
        "knn": (knn_sql(fix, points, k=3), ["primary_key", "rank"]),
        "pip": (point_in_polygon_sql(fix, points), ["primary_key"]),
        "tiles": (tile_rollup_sql(points), ["tile_x", "tile_y"]),
    }


def _urls(fix: Path, tables: list[str]) -> list[str]:
    return [u for t in tables for u in ds.dataset(
        str(fix / t), format="parquet").to_table(columns=["url"])
        .column("url").to_pylist()]


def expected(fix: Path, names) -> dict[str, tuple[pd.DataFrame, list]]:
    """name -> (oracle result, key columns) for the oracles ``names``,
    each computed on first use.

    The page oracle is split into ``pages`` (the batch job's pages) and
    ``stream`` (the stream phase's pages)."""
    out = {}
    for name, (sql, keys) in oracle_queries(str(fix)).items():
        if name not in names:
            continue
        path = fix / f"oracle-{name}.parquet"
        if not path.exists():
            tmp = fix / f".oracle-{name}-{os.getpid()}.parquet"
            con = duckdb.connect()
            try:
                for setting in _SETTINGS.get(name, []):
                    con.sql(setting)
                con.sql(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
            finally:
                con.close()
            os.replace(tmp, path)
        out[name] = (pd.read_parquet(path), keys)
    if "pages" in out:
        rows, keys = out["pages"]
        batch = rows["primary_key"].isin(_urls(fix, ["pages"]))
        out["pages"], out["stream"] = (rows[batch], keys), (rows[~batch], keys)
    return out


def read_output(path: Path, drop=("_pid", "batch_id", "stream_batch")) -> pd.DataFrame:
    """Read a Spark parquet output directory (hive partitions included)."""
    df = ds.dataset(str(path), format="parquet",
                    partitioning="hive").to_table().to_pandas()
    return df.drop(columns=[c for c in drop if c in df.columns])


def diff(got: pd.DataFrame, want: pd.DataFrame, keys: list) -> tuple[int, int]:
    """Row-by-row comparison; returns (rows attempted, rows failed)."""
    if sorted(got.columns) != sorted(want.columns):
        return len(want), max(len(want), len(got))
    dups = int(got.duplicated(keys).sum())
    got = got.drop_duplicates(keys)
    m = want.merge(got, on=keys, how="outer", suffixes=("_w", "_g"),
                   indicator=True)
    failed = dups + int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    bad = pd.Series(False, index=both.index)
    for c in want.columns:
        if c in keys:
            continue
        a, b = both[f"{c}_w"], both[f"{c}_g"]
        bad |= ~((a == b) | (a.isna() & b.isna()))
    return len(want), failed + int(bad.sum())
