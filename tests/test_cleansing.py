"""Byte-identical cleansing parity (reference tests/test_geocode.py:18-33 +
cross-fuzz of the two reference forms and the engine's cleanse/parse
stage)."""

import random
import string

import pandas as pd
import pytest

import duckdb

from compare_util import staged_rows
from geocode_spark.cleansing import (
    cleanse_street_sql,
    cleanse_zone_sql,
    pd_cleanse_street,
    pd_cleanse_zone,
    py_cleanse_street,
    py_cleanse_zone,
)

# The reference's own unit cases, executed against the actual reference code
# to pin expectations (reference tests/test_geocode.py:18-33).
STREET_CASES = {
    "main & state": "main and state",
    "  123 main street": "123 main street",
    "123      main street": "123 main street",
    "123 main street    ": "123 main street",
    "123 main$%# street": "123 main street",
    "": "",
    "P.O. Box 12": "P O Box 12",
    "ünïcödé road": "n c d road",
    "tab\tand\nnewline": "tab and newline",
}
ZONE_CASES = {
    84124: "84124",
    "84124   ": "84124",
    "   84124": "84124",
    "84124-1234": "84124",
    "salt & lake city": "salt lake city",
    "84 124": "84 12",
    "8412": "8412",
    "   9 0210": "9 0210",
    "": "",
    "Delta": "Delta",
}


def test_py_street_cases():
    for raw, want in STREET_CASES.items():
        assert py_cleanse_street(raw) == want, raw


def test_py_zone_cases():
    for raw, want in ZONE_CASES.items():
        assert py_cleanse_zone(raw) == want, repr(raw)


def _fuzz_strings(n=300, seed=7):
    rng = random.Random(seed)
    alphabet = string.ascii_letters + string.digits + " &$#.-_,\t\nüé"
    out = []
    for _ in range(n):
        k = rng.randint(0, 30)
        out.append("".join(rng.choice(alphabet) for _ in range(k)))
    out += list(STREET_CASES) + [str(z) for z in ZONE_CASES]
    return out

def test_pandas_matches_py():
    vals = _fuzz_strings()
    got_s = pd_cleanse_street(pd.Series(vals)).tolist()
    got_z = pd_cleanse_zone(pd.Series(vals)).tolist()
    for v, gs, gz in zip(vals, got_s, got_z):
        assert gs == py_cleanse_street(v), repr(v)
        assert gz == py_cleanse_zone(v), repr(v)


def test_spark_col_matches_py(spark):
    """The engine's Arrow cleanse/parse stage cleanses like the oracle."""
    vals = _fuzz_strings()
    rows = staged_rows(spark, vals)
    assert len(rows) == len(vals)
    for v, r in zip(vals, rows):
        assert r["input_street"] == v
        assert r["cleansed_street"] == py_cleanse_street(v), repr(v)
        assert r["cleansed_zone"] == py_cleanse_zone(v), repr(v)


def test_duckdb_sql_matches_py():
    vals = _fuzz_strings()
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"s": vals}))
    rows = con.sql(
        f"SELECT s, {cleanse_street_sql('s')} AS cs, {cleanse_zone_sql('s')} AS cz FROM t"
    ).fetchall()
    for s, cs, cz in rows:
        assert cs == py_cleanse_street(s), repr(s)
        assert cz == py_cleanse_zone(s), repr(s)


def test_zone_accepts_int(spark):
    """An integer zone column is cast to string before the stage cleanses
    it (the reference's str(data))."""
    (row,) = staged_rows(spark, ["1 MAIN"], [84124], zone_type="int")
    assert row["input_zone"] == "84124"
    assert row["cleansed_zone"] == "84124" and row["zone_key"] == "84124"
