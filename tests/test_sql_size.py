"""Size pins on the SQL the staged formulas generate.

Each formula is one step list, and every use of a subterm reads its step by
name, so the SQL grows with the number of steps, not with the number of
uses. An inlined form substitutes whole subterms into every use: the TM
inverse fed into the forward series came to ~1.9 MB, one use of the
grammar to ~10.7 KB, and a precision-8 geohash to ~78 KB (its Morton
interleave repeated once per character). These pins fail if a formula goes
back to inlining.
"""

from geocode_spark.grammar import parse_street_duckdb_sql
from geocode_spark.operators.projection import forward_steps, inverse_steps
from geocode_spark.operators.spatial import geohash_steps
from geocode_spark.steps import steps_sql

LIMIT = 8 * 1024

SUPPORTED_WKIDS = (
    [*range(26901, 26924), *range(32601, 32661), *range(32701, 32761)]
    + [4326, 3857]
)


def test_staged_projection_sql_is_small():
    for wkid in SUPPORTED_WKIDS:
        steps = inverse_steps() + forward_steps(wkid, x="fx", y="fy")
        sql = steps_sql("t", steps, keep=("lon", "lat", "fx", "fy"))
        assert len(sql) < LIMIT, (wkid, len(sql))


def test_staged_grammar_sql_is_small():
    sql = parse_street_duckdb_sql("t", "cleansed_street")
    assert len(sql) < LIMIT, len(sql)


def test_staged_geohash_sql_is_small():
    for precision in range(1, 13):
        sql = steps_sql("t", geohash_steps(precision), keep=("geohash",))
        assert len(sql) < LIMIT, (precision, len(sql))
