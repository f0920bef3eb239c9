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

Two reference forms and one engine kernel, all asserted equal in
tests/test_cleansing.py and tests/test_fuzz_parity.py:
  * py_*        — pure-Python oracle (re-derived from the spec above)
  * *_sql       — DuckDB SQL text (RE2), used by the oracle queries
  * pd_*        — Arrow-vectorized pandas twins (pd.Series.str ops, Python `re`
                  engine): the engine's only cleansing, run inside
                  extraction's cleanse/parse kernel (extraction._cleanse_parse)
"""

from __future__ import annotations

import re

import pandas as pd

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


# ------------------------------------------------------------------ SQL text
def cleanse_street_sql(expr: str) -> str:
    """DuckDB SQL fragment computing _cleanse_street (regexp_replace needs
    the 'g' flag to replace all)."""
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
