"""Utah address-grammar parsing (SURVEY.md §2.7 `parse_address`).

The reference delegates parsing to the AGRC Web API (geocode.py:198-208), so
the grammar here is OUR frozen spec, shaped by the reference's own test inputs
('259 W MAIN', '39 N SR 6' zone 'Delta' — tests/normal.csv:2-4; '123 S MAIN'
zone '84114' — tests/test_geocode.py:85; standardized form '123 south main' —
tests/test_geocode.py:116) and Utah's grid-address style ('39 N 500 E').

Parse spec (applied to an already-cleansed street, uppercased):
  tokens = split on single space
  PO-box: if upper street matches ^P ?O BOX [0-9]+$ -> addr_type 'POBOX',
          house = box number, everything else empty.
  else:
    valid iff >= 2 tokens and tokens[0] is 1-6 digits
    house   = int(tokens[0])
    predir  = tokens[1] normalized iff it is a direction AND >= 3 tokens
    sufdir  = last remaining token iff direction AND >= 2 tokens remain
    stype   = (new) last remaining token iff street type AND >= 2 tokens remain
    name    = join of what is left (never empty by construction)

Three synchronized implementations (tests cross-check them):
  parse_street_py (oracle) / parse_street_cols (Catalyst) / parse_street_duckdb_sql
All are generated from the same DIRECTIONS / STREET_TYPES tables below.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

# token -> canonical single letter
DIRECTIONS: dict[str, str] = {
    "N": "N",
    "S": "S",
    "E": "E",
    "W": "W",
    "NORTH": "N",
    "SOUTH": "S",
    "EAST": "E",
    "WEST": "W",
}

DIRECTION_WORDS: dict[str, str] = {"N": "north", "S": "south", "E": "east", "W": "west"}

# token -> canonical abbreviation
STREET_TYPES: dict[str, str] = {
    "ST": "ST",
    "STREET": "ST",
    "AVE": "AVE",
    "AV": "AVE",
    "AVENUE": "AVE",
    "RD": "RD",
    "ROAD": "RD",
    "BLVD": "BLVD",
    "BOULEVARD": "BLVD",
    "DR": "DR",
    "DRIVE": "DR",
    "LN": "LN",
    "LANE": "LN",
    "WAY": "WAY",
    "CT": "CT",
    "COURT": "CT",
    "PL": "PL",
    "PLACE": "PL",
    "CIR": "CIR",
    "CIRCLE": "CIR",
    "HWY": "HWY",
    "HIGHWAY": "HWY",
    "PKWY": "PKWY",
    "PARKWAY": "PKWY",
}

# \Z (Python) / \z (Java, RE2): true end-of-text in all three dialects.
# $ would also match before a trailing newline in Python and Java but not
# in RE2 — unreachable on cleansed input, but the three implementations
# must agree on ANY input (the canonical_url lesson).
_POBOX_RE = re.compile(r"^P ?O BOX ([0-9]+)\Z")
_HOUSE_RE = re.compile(r"^[0-9]{1,6}\Z")

PARSE_FIELDS = ("addr_type", "house", "predir", "street_name", "stype", "sufdir")


# ---------------------------------------------------------------- pure python
def parse_street_py(cleansed: str) -> dict:
    """Oracle implementation. Input must already be cleansed (P1)."""
    up = (cleansed or "").upper()
    out = {
        "addr_type": "INVALID",
        "house": None,
        "predir": "",
        "street_name": "",
        "stype": "",
        "sufdir": "",
    }
    m = _POBOX_RE.match(up)
    if m:
        out["addr_type"] = "POBOX"
        out["house"] = int(m.group(1))
        return out
    toks = up.split(" ") if up else []
    if len(toks) < 2 or not _HOUSE_RE.match(toks[0]):
        return out
    out["house"] = int(toks[0])
    rest = toks[1:]
    if len(rest) >= 2 and rest[0] in DIRECTIONS:
        out["predir"] = DIRECTIONS[rest[0]]
        rest = rest[1:]
    if len(rest) >= 2 and rest[-1] in DIRECTIONS:
        out["sufdir"] = DIRECTIONS[rest[-1]]
        rest = rest[:-1]
    if len(rest) >= 2 and rest[-1] in STREET_TYPES:
        out["stype"] = STREET_TYPES[rest[-1]]
        rest = rest[:-1]
    out["street_name"] = " ".join(rest)
    out["addr_type"] = "STREET"
    return out


# ------------------------------------------------------- catalyst expressions
def _dir_norm_col(tok: Column) -> Column:
    c = F.lit("")
    expr = None
    for k, v in DIRECTIONS.items():
        cond = tok == k
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return expr.otherwise(c)


def _type_norm_col(tok: Column) -> Column:
    expr = None
    for k, v in STREET_TYPES.items():
        cond = tok == k
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return expr.otherwise(F.lit(""))


def parse_street_cols(cleansed: Column) -> dict[str, Column]:
    """Catalyst (JVM, codegen-friendly) parse of a cleansed street column.

    Pure arithmetic over the token array — start/end indices are computed as
    int columns, so no data-dependent control flow leaves codegen.
    """
    up = F.upper(F.coalesce(cleansed, F.lit("")))
    # \z, not $: Java's $ also matches before a trailing newline while
    # RE2's (the DuckDB twin) does not. Unreachable on CLEANSED input
    # (cleansing normalizes all whitespace), but the anchors must agree on
    # any input or the twin diverges (the canonical_url lesson).
    pobox_no = F.regexp_extract(up, r"^P ?O BOX ([0-9]+)\z", 1)
    is_pobox = pobox_no != ""

    toks = F.split(up, " ")
    n = F.size(toks)
    first = F.element_at(toks, 1)
    valid = (n >= 2) & first.rlike("^[0-9]{1,6}\\z")

    dirs = list(DIRECTIONS.keys())
    types = list(STREET_TYPES.keys())

    has_pre = valid & (n >= 3) & F.element_at(toks, 2).isin(dirs)
    start = F.when(has_pre, F.lit(2)).otherwise(F.lit(1))  # 0-based start of rest
    last0 = n - 1  # 0-based last index
    rest_len0 = last0 - start + 1
    has_suf = valid & (rest_len0 >= 2) & F.element_at(toks, last0 + 1).isin(dirs)
    last1 = F.when(has_suf, last0 - 1).otherwise(last0)
    rest_len1 = last1 - start + 1
    has_type = valid & (rest_len1 >= 2) & F.element_at(toks, last1 + 1).isin(types)
    last2 = F.when(has_type, last1 - 1).otherwise(last1)

    name = F.array_join(F.slice(toks, start + 1, last2 - start + 1), " ")

    house = (
        F.when(is_pobox, pobox_no.cast("bigint"))
        .when(valid, first.cast("bigint"))
        .otherwise(F.lit(None).cast("bigint"))
    )
    return {
        "addr_type": F.when(is_pobox, F.lit("POBOX"))
        .when(valid, F.lit("STREET"))
        .otherwise(F.lit("INVALID")),
        "house": house,
        "predir": F.when(has_pre, _dir_norm_col(F.element_at(toks, 2))).otherwise(
            F.lit("")
        ),
        "street_name": F.when(valid & ~is_pobox, name).otherwise(F.lit("")),
        "stype": F.when(has_type, _type_norm_col(F.element_at(toks, last1 + 1))).otherwise(
            F.lit("")
        ),
        "sufdir": F.when(has_suf, _dir_norm_col(F.element_at(toks, last0 + 1))).otherwise(
            F.lit("")
        ),
    }


def with_parsed_street(df, cleansed_col: str = "cleansed_street"):
    """Attach the six parse columns to df."""
    cols = parse_street_cols(F.col(cleansed_col))
    return df.withColumns(cols)


# ------------------------------------------------------------ pandas (Arrow)
_PARSE_TYPE = StructType(
    [
        StructField("addr_type", StringType()),
        StructField("house", LongType()),
        StructField("predir", StringType()),
        StructField("street_name", StringType()),
        StructField("stype", StringType()),
        StructField("sufdir", StringType()),
    ]
)


def _parse_batch(s: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        [parse_street_py(v) for v in s.fillna("")], columns=list(PARSE_FIELDS)
    )


# Deterministic: the parse is a pure function of the cleansed street, so
# filters on source columns (a resume's batch-key predicate) are pushed
# below it to the scan. No plan filters on its output, and Catalyst keeps a
# projection that references it several times uncollapsed, so the Arrow
# stage runs once; tests/test_plans.py pins exactly one ArrowEvalPython.
parse_street_udf = F.pandas_udf(_parse_batch, _PARSE_TYPE)


def parse_street_struct(cleansed: Column) -> Column:
    """Arrow-vectorized parse: one struct column with the six parse fields.

    The hot-path variant used by the geocode operator (the Catalyst
    expression form above is exact but its token-index CASE trees re-inline
    the whole `split()` pyramid at every reference — fine evaluated once,
    pathological when join keys / filters force re-derivation)."""
    return parse_street_udf(cleansed)


# ------------------------------------------------------------------ DuckDB SQL
def _case_map_sql(tok_expr: str, mapping: dict[str, str]) -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in mapping.items())
    return f"(CASE {tok_expr} {whens} ELSE '' END)"


def _in_list_sql(tok_expr: str, keys) -> str:
    lst = ", ".join(f"'{k}'" for k in keys)
    return f"({tok_expr} IN ({lst}))"


def parse_street_duckdb_sql(cleansed_expr: str) -> str:
    """DuckDB SELECT-fragment: emits a subquery-ready struct of parse columns.

    Returns a string of comma-separated column expressions computing
    addr_type, house, predir, street_name, stype, sufdir from `cleansed_expr`.
    Generated from the SAME DIRECTIONS/STREET_TYPES tables as the Spark and
    Python implementations. DuckDB lists are 1-indexed; list_slice is
    inclusive on both ends.
    """
    up = f"upper(coalesce({cleansed_expr}, ''))"
    toks = f"str_split({up}, ' ')"
    # Use macros via a LATERAL-free approach: repeat expressions (DuckDB CSE's them).
    n = f"len({toks})"
    first = f"{toks}[1]"
    pobox = f"regexp_extract({up}, '^P ?O BOX ([0-9]+)\\z', 1)"
    is_pobox = f"({pobox} <> '')"
    valid = f"({n} >= 2 AND regexp_matches({first}, '^[0-9]{{1,6}}\\z'))"
    dirs = list(DIRECTIONS.keys())
    types = list(STREET_TYPES.keys())
    has_pre = f"({valid} AND {n} >= 3 AND {_in_list_sql(f'{toks}[2]', dirs)})"
    start = f"(CASE WHEN {has_pre} THEN 2 ELSE 1 END)"  # 0-based
    last0 = f"({n} - 1)"
    has_suf = (
        f"({valid} AND ({last0} - {start} + 1) >= 2"
        f" AND {_in_list_sql(f'{toks}[{last0} + 1]', dirs)})"
    )
    last1 = f"(CASE WHEN {has_suf} THEN {last0} - 1 ELSE {last0} END)"
    has_type = (
        f"({valid} AND ({last1} - {start} + 1) >= 2"
        f" AND {_in_list_sql(f'{toks}[{last1} + 1]', types)})"
    )
    last2 = f"(CASE WHEN {has_type} THEN {last1} - 1 ELSE {last1} END)"
    name = f"array_to_string(list_slice({toks}, {start} + 1, {last2} + 1), ' ')"

    addr_type = (
        f"CASE WHEN {is_pobox} THEN 'POBOX' WHEN {valid} THEN 'STREET'"
        f" ELSE 'INVALID' END"
    )
    house = (
        f"CASE WHEN {is_pobox} THEN CAST({pobox} AS BIGINT)"
        f" WHEN {valid} THEN CAST({first} AS BIGINT) ELSE NULL END"
    )
    predir = (
        f"CASE WHEN {has_pre} THEN {_case_map_sql(f'{toks}[2]', DIRECTIONS)}"
        f" ELSE '' END"
    )
    street_name = f"CASE WHEN {valid} AND NOT {is_pobox} THEN {name} ELSE '' END"
    stype = (
        f"CASE WHEN {has_type} THEN"
        f" {_case_map_sql(f'{toks}[{last1} + 1]', STREET_TYPES)} ELSE '' END"
    )
    sufdir = (
        f"CASE WHEN {has_suf} THEN"
        f" {_case_map_sql(f'{toks}[{last0} + 1]', DIRECTIONS)} ELSE '' END"
    )
    return (
        f"{addr_type} AS addr_type, {house} AS house, {predir} AS predir,"
        f" {street_name} AS street_name, {stype} AS stype, {sufdir} AS sufdir"
    )
