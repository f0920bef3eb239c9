"""Order-insensitive DataFrame comparison mimicking the driver's oracle check
(row count + schema + value hash over name-sorted columns)."""

import hashlib
import math

import duckdb
import pandas as pd


def spark_to_pdf(df) -> pd.DataFrame:
    return df.toPandas()


DRIVER_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck_to_pdf(sql: str, sf_dir: str = "/root/testdata/sf0.01") -> pd.DataFrame:
    """Run oracle SQL with the driver's pre-registered table views in scope."""
    import os

    con = duckdb.connect()
    try:
        for t in DRIVER_TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        return con.sql(sql).df()
    finally:
        con.close()


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[sorted(pdf.columns)].copy()
    out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return float(v)
    if isinstance(v, (pd.Timestamp,)):
        return v.isoformat()
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict, bytes, str)):
        try:
            return v.item()
        except Exception:
            return v
    return v


def vhash(pdf: pd.DataFrame) -> str:
    """Canonical value hash of a frame (sorted columns/rows via canonicalize,
    sha256 over repr of normalized cells). The ONE definition of the
    value-hash convention -- driver_sim and scale_ladder both gate on it, so
    it must not fork."""
    c = canonicalize(pdf)
    h = hashlib.sha256()
    for col in c.columns:
        for v in c[col].tolist():
            h.update(repr(_norm_cell(v)).encode())
    return h.hexdigest()


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame,
                        float_tol: float = 0.0, label: str = ""):
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{label}: column mismatch {sorted(spark_pdf.columns)}"
        f" vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{label}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a = canonicalize(spark_pdf)
    b = canonicalize(oracle_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            x, y = _norm_cell(x), _norm_cell(y)
            if isinstance(x, float) and isinstance(y, float) and float_tol:
                assert abs(x - y) <= float_tol * max(1.0, abs(x)), (
                    f"{label}: {col}[{i}] {x} != {y}"
                )
            else:
                assert x == y, f"{label}: {col}[{i}] {x!r} != {y!r}"


def staged_rows(spark, streets, zones=None, zone_type="string") -> list:
    """(street, zone) pairs through the engine's cleanse/parse stage,
    parse_input(cleanse_input(df)), as one dict per input row, in input
    order. Rows are collected, not converted with toPandas, so a 64-bit
    house stays an exact int. `zones` defaults to the streets. The input
    goes through Arrow, not a Python RDD, and in one partition: a handful
    of strings needs one Python task."""
    from geocode_spark.operators.geocode import cleanse_input, parse_input

    zones = list(streets) if zones is None else list(zones)
    pdf = pd.DataFrame({
        "id": [f"{i:06d}" for i in range(len(streets))],
        "street": pd.array(list(streets), dtype="string"),
        "zone": pd.Series(zones, dtype=object),
    })
    df = spark.createDataFrame(
        pdf, f"id string, street string, zone {zone_type}").coalesce(1)
    rows = parse_input(cleanse_input(df)).collect()
    return sorted((r.asDict() for r in rows), key=lambda r: r["primary_key"])
