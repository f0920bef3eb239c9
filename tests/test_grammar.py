"""Cross-implementation parity of the Utah address grammar (grammar.py)."""

import pandas as pd
import pytest

import duckdb

from compare_util import staged_rows
from geocode_spark.cleansing import py_cleanse_street
from geocode_spark.grammar import (
    PARSE_FIELDS,
    parse_street_duckdb_sql,
    parse_street_py,
)

CASES = {
    # street -> (addr_type, house, predir, name, stype, sufdir)
    "123 S MAIN": ("STREET", 123, "S", "MAIN", "", ""),
    "123 S MAIN ST": ("STREET", 123, "S", "MAIN", "ST", ""),
    "259 W MAIN": ("STREET", 259, "W", "MAIN", "", ""),
    "39 N SR 6": ("STREET", 39, "N", "SR 6", "", ""),
    "39 N 500 E": ("STREET", 39, "N", "500", "", "E"),
    "39 NORTH 500 EAST": ("STREET", 39, "N", "500", "", "E"),
    "100 S WEST TEMPLE": ("STREET", 100, "S", "WEST TEMPLE", "", ""),
    "1234 FORT UNION BLVD": ("STREET", 1234, "", "FORT UNION", "BLVD", ""),
    "55 MAIN STREET": ("STREET", 55, "", "MAIN", "ST", ""),
    "55 MAIN STREET S": ("STREET", 55, "", "MAIN", "ST", "S"),
    "7 E CENTER CIRCLE W": ("STREET", 7, "E", "CENTER", "CIR", "W"),
    "12 N": ("STREET", 12, "", "N", "", ""),  # too short to pop direction
    "12 ST": ("STREET", 12, "", "ST", "", ""),  # too short to pop type
    "P O BOX 123": ("POBOX", 123, "", "", "", ""),
    "PO BOX 9": ("POBOX", 9, "", "", "", ""),
    "fasf": ("INVALID", None, "", "", "", ""),
    "": ("INVALID", None, "", "", "", ""),
    "0 north 0 east": ("STREET", 0, "N", "0", "", "E"),
    "1234567 MAIN": ("INVALID", None, "", "", "", ""),  # 7-digit house
    # box numbers: at most 18 digits, so every one fits in int64
    "PO BOX 999999999999999999": ("POBOX", 999_999_999_999_999_999,
                                  "", "", "", ""),
    "PO BOX 9999999999999999999": ("INVALID", None, "", "", "", ""),
    "P O BOX 99999999999999999999": ("INVALID", None, "", "", "", ""),
}


def test_python_parse_cases():
    for street, want in CASES.items():
        got = parse_street_py(py_cleanse_street(street))
        assert (
            got["addr_type"], got["house"], got["predir"], got["street_name"],
            got["stype"], got["sufdir"],
        ) == want, street


def _inputs():
    vals = list(CASES)
    vals += [
        "84 W 100 N", "9000 S 700 E ST", "1 MAIN CT N", "2 2 2 2 2",
        "10 SOUTH STATE STREET", "55 W UNIVERSITY PKWY S", "3 HIGHWAY",
        "P O BOX", "PO BOX X", "6 N E", "8 E W N", "77 N N N",
    ]
    return [py_cleanse_street(v) for v in vals]


def test_spark_parse_matches_py(spark):
    """The engine's Arrow cleanse/parse stage parses like the oracle."""
    vals = _inputs()
    rows = staged_rows(spark, vals, ["84101"] * len(vals))
    assert len(rows) == len(vals)
    for cs, r in zip(vals, rows):
        want = parse_street_py(cs)
        for f in PARSE_FIELDS:
            assert r[f] == want[f], (cs, f, want)


def test_duckdb_parse_matches_py():
    vals = _inputs()
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"cs": vals}))
    rows = con.sql(
        f"SELECT cs, {', '.join(PARSE_FIELDS)}"
        f" FROM {parse_street_duckdb_sql('t', 'cs')}"
    ).fetchall()
    for cs, *fields in rows:
        want = parse_street_py(cs)
        got = dict(zip(PARSE_FIELDS, fields))
        assert got == {k: want[k] for k in PARSE_FIELDS}, cs
