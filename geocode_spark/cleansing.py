"""Street/zone cleansing — the byte-identical invariant (P1/P2 in SURVEY.md §2.2).

Reference semantics (reference geocode.py:40-62, verified by execution):

_cleanse_street (geocode.py:40-50):
  1. '&' (chr 38) -> literal 'and'                      (geocode.py:46)
  2. every char not in [a-zA-Z0-9] -> one space (ASCII)  (geocode.py:30,47)
  3. runs of ' +' -> single space                        (geocode.py:29,48)
  4. strip                                               (geocode.py:50)

_cleanse_zone (geocode.py:53-62):
  1. str(data) — accepts non-strings                     (geocode.py:56)
  2. non-alnum -> space, collapse spaces, strip          (geocode.py:56-57)
  3. iff result non-empty and starts with '8': first 5 chars (geocode.py:59-61)
     (NO '&'->'and' on the zone path — pinned by tests/test_geocode.py:33)

Three implementations, all asserted equal in tests/test_cleansing.py:
  * py_*        — pure-Python oracle (re-derived from the spec above)
  * *_col       — native Catalyst column expressions (JVM hot path; Java regex
                  and Python re agree on the ASCII classes used here)
  * pd_*        — Arrow-vectorized pandas twins (pd.Series.str ops, Python `re`
                  engine), run inside extraction's fused kernel
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_SPACES = re.compile(" +")
_ALLOWABLE = re.compile("[^a-zA-Z0-9]")


# ---------------------------------------------------------------- pure python
def py_cleanse_street(data: str) -> str:
    street = data.replace(chr(38), "and")
    street = _ALLOWABLE.sub(" ", street)
    street = _SPACES.sub(" ", street)
    return street.strip()


def py_cleanse_zone(data) -> str:
    zone = _ALLOWABLE.sub(" ", str(data))
    zone = _SPACES.sub(" ", zone).strip()
    if len(zone) > 0 and zone[0] == "8":
        zone = zone.strip()[:5]
    return zone


# ------------------------------------------------------- catalyst expressions
def cleanse_street_col(col: Column) -> Column:
    """Native-JVM cleansing; stays inside WholeStageCodegen."""
    c = F.replace(col, F.lit("&"), F.lit("and"))
    c = F.regexp_replace(c, "[^a-zA-Z0-9]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def cleanse_zone_col(col: Column) -> Column:
    """Native-JVM zone cleansing; accepts any input type (cast to string)."""
    z = F.regexp_replace(col.cast("string"), "[^a-zA-Z0-9]", " ")
    z = F.trim(F.regexp_replace(z, " +", " "))
    return F.when(F.substring(z, 1, 1) == "8", F.substring(z, 1, 5)).otherwise(z)


# ------------------------------------------------------------------ SQL text
def cleanse_street_sql(expr: str) -> str:
    """ANSI SQL fragment (DuckDB + Spark SQL) computing _cleanse_street.

    DuckDB regexp_replace needs the 'g' flag for replace-all; Spark SQL's
    replaces all by default and rejects a 4th arg — so this emits the DuckDB
    form. Use cleanse_street_spark_sql for Spark SQL strings.
    """
    return (
        f"trim(regexp_replace(regexp_replace(replace({expr}, '&', 'and'),"
        f" '[^a-zA-Z0-9]', ' ', 'g'), ' +', ' ', 'g'))"
    )


def cleanse_zone_sql(expr: str) -> str:
    inner = (
        f"trim(regexp_replace(regexp_replace(CAST({expr} AS VARCHAR),"
        f" '[^a-zA-Z0-9]', ' ', 'g'), ' +', ' ', 'g'))"
    )
    return (
        f"CASE WHEN substring({inner}, 1, 1) = '8'"
        f" THEN substring({inner}, 1, 5) ELSE {inner} END"
    )


# ------------------------------------------------------------- pandas (Arrow)
def pd_cleanse_street(s: pd.Series) -> pd.Series:
    out = s.astype("string").str.replace("&", "and", regex=False)
    out = out.str.replace(_ALLOWABLE, " ", regex=True)
    out = out.str.replace(_SPACES, " ", regex=True)
    return out.str.strip()


def pd_cleanse_zone(s: pd.Series) -> pd.Series:
    z = s.astype("string").str.replace(_ALLOWABLE, " ", regex=True)
    z = z.str.replace(_SPACES, " ", regex=True).str.strip()
    trunc = z.str.len().gt(0) & z.str.startswith("8")
    return z.where(~trunc, z.str.slice(0, 5))
