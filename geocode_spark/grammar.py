"""Utah address-grammar parsing (SURVEY.md §2.7 `parse_address`).

The reference delegates parsing to the AGRC Web API (geocode.py:198-208), so
the grammar here is OUR frozen spec, shaped by the reference's own test inputs
('259 W MAIN', '39 N SR 6' zone 'Delta' — tests/normal.csv:2-4; '123 S MAIN'
zone '84114' — tests/test_geocode.py:85; standardized form '123 south main' —
tests/test_geocode.py:116) and Utah's grid-address style ('39 N 500 E').

Parse spec (applied to an already-cleansed street, uppercased):
  tokens = split on single space
  PO-box: if upper street matches ^P ?O BOX [0-9]{1,18}$ -> addr_type
          'POBOX', house = box number, everything else empty. A longer
          box number would not fit in int64 and parses INVALID.
  else:
    valid iff >= 2 tokens and tokens[0] is 1-6 digits
    house   = int(tokens[0])
    predir  = tokens[1] normalized iff it is a direction AND >= 3 tokens
    sufdir  = last remaining token iff direction AND >= 2 tokens remain
    stype   = (new) last remaining token iff street type AND >= 2 tokens remain
    name    = join of what is left (never empty by construction)

Two reference forms, both generated from the DIRECTIONS / STREET_TYPES
tables below: parse_street_py (the Python oracle) and parse_street_duckdb_sql
(the DuckDB oracle). The engine kernel, extraction._cleanse_parse, calls
parse_street_py on every row of an Arrow batch; tests/test_grammar.py and
tests/test_fuzz_parity.py check that kernel against the DuckDB form.
"""

from __future__ import annotations

import re

from .steps import steps_sql

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

# \Z (Python) / \z (RE2): true end-of-text in both dialects. $ would
# also match before a trailing newline in Python but not in RE2 —
# unreachable on cleansed input, but the two forms must agree on ANY input
# (the canonical_url lesson). At most 18 digits: every such box number
# fits in int64 (the LongType `house` column and DuckDB's BIGINT).
_POBOX_RE = re.compile(r"^P ?O BOX ([0-9]{1,18})\Z")
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


# ------------------------------------------------------------------ DuckDB SQL
def _case_map_sql(tok_expr: str, mapping: dict[str, str]) -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in mapping.items())
    return f"(CASE {tok_expr} {whens} ELSE '' END)"


def _in_list_sql(tok_expr: str, keys) -> str:
    lst = ", ".join(f"'{k}'" for k in keys)
    return f"({tok_expr} IN ({lst}))"


def parse_street_duckdb_sql(relation: str, cleansed: str) -> str:
    """DuckDB relation: `relation` (a table name or a parenthesized query)
    plus the PARSE_FIELDS columns parsed from its `cleansed` column.

    Staged (steps.py): each token expression is one named step, read by
    name wherever it is used, and the `_g_` steps are dropped at the end.
    Generated from the SAME DIRECTIONS/STREET_TYPES tables as the Python
    implementation. DuckDB lists are 1-indexed; list_slice is inclusive on
    both ends; `start` and the `last` bounds are 0-based token positions.
    """
    g = "_g_"
    dirs = list(DIRECTIONS.keys())
    types = list(STREET_TYPES.keys())
    steps = [
        (f"{g}up", f"upper(coalesce({cleansed}, ''))"),
        (f"{g}toks", f"str_split({g}up, ' ')"),
        (f"{g}n", f"len({g}toks)"),
        (f"{g}pobox",
         f"regexp_extract({g}up, '^P ?O BOX ([0-9]{{1,18}})\\z', 1)"),
        (f"{g}is_pobox", f"({g}pobox <> '')"),
        (f"{g}valid",
         f"({g}n >= 2 AND regexp_matches({g}toks[1], '^[0-9]{{1,6}}\\z'))"),
        (f"{g}has_pre",
         f"({g}valid AND {g}n >= 3 AND {_in_list_sql(f'{g}toks[2]', dirs)})"),
        (f"{g}start", f"(CASE WHEN {g}has_pre THEN 2 ELSE 1 END)"),
        (f"{g}last0", f"({g}n - 1)"),
        (f"{g}has_suf",
         f"({g}valid AND ({g}last0 - {g}start + 1) >= 2"
         f" AND {_in_list_sql(f'{g}toks[{g}last0 + 1]', dirs)})"),
        (f"{g}last1",
         f"(CASE WHEN {g}has_suf THEN {g}last0 - 1 ELSE {g}last0 END)"),
        (f"{g}has_type",
         f"({g}valid AND ({g}last1 - {g}start + 1) >= 2"
         f" AND {_in_list_sql(f'{g}toks[{g}last1 + 1]', types)})"),
        (f"{g}last2",
         f"(CASE WHEN {g}has_type THEN {g}last1 - 1 ELSE {g}last1 END)"),
        ("addr_type",
         f"CASE WHEN {g}is_pobox THEN 'POBOX' WHEN {g}valid THEN 'STREET'"
         f" ELSE 'INVALID' END"),
        ("house",
         f"CASE WHEN {g}is_pobox THEN CAST({g}pobox AS BIGINT)"
         f" WHEN {g}valid THEN CAST({g}toks[1] AS BIGINT) ELSE NULL END"),
        ("predir",
         f"CASE WHEN {g}has_pre THEN"
         f" {_case_map_sql(f'{g}toks[2]', DIRECTIONS)} ELSE '' END"),
        ("street_name",
         f"CASE WHEN {g}valid AND NOT {g}is_pobox THEN array_to_string("
         f"list_slice({g}toks, {g}start + 1, {g}last2 + 1), ' ') ELSE '' END"),
        ("stype",
         f"CASE WHEN {g}has_type THEN"
         f" {_case_map_sql(f'{g}toks[{g}last1 + 1]', STREET_TYPES)} ELSE '' END"),
        ("sufdir",
         f"CASE WHEN {g}has_suf THEN"
         f" {_case_map_sql(f'{g}toks[{g}last0 + 1]', DIRECTIONS)} ELSE '' END"),
    ]
    return steps_sql(relation, steps, keep=PARSE_FIELDS)
