"""DuckDB oracle SQL for the geocode pipeline.

Generates, from the SAME constant tables as the Spark implementation
(grammar.DIRECTIONS/STREET_TYPES, operators.geocode penalty schedule), an
independent ANSI-SQL implementation of cleansing -> parse -> broadcast-style
locator joins -> scoring -> top-1 -> 11-column contract. The driver runs this
side-by-side with the Spark plan and hash-compares results; tests/test_oracle
replicates that comparison locally.

The SQL reads the deterministic fixture parquet files directly via
read_parquet() so both engines see byte-identical inputs.
"""

from __future__ import annotations

from . import DEFAULT_ACCEPT_SCORE
from .cleansing import cleanse_street_sql, cleanse_zone_sql
from .grammar import DIRECTION_WORDS, parse_street_duckdb_sql
from .operators.geocode import (
    BASE_SCORE_AP,
    BASE_SCORE_RC,
    BASE_SCORE_USPS,
    HOST,
    LOCATOR_AP,
    LOCATOR_RC,
    LOCATOR_USPS,
    MSG_NO_CANDIDATES,
    PRIORITY,
)


def _dir_penalty_sql(i: str, l: str) -> str:
    return (
        f"(CASE WHEN {i} = {l} THEN 0 WHEN {i} = '' THEN 5"
        f" WHEN {l} = '' THEN 15 ELSE 25 END)"
    )


def _type_penalty_sql(i: str, l: str) -> str:
    return (
        f"(CASE WHEN {i} = {l} THEN 0 WHEN {i} = '' THEN 5"
        f" WHEN {l} = '' THEN 10 ELSE 15 END)"
    )


def _expand_dir_sql(c: str) -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in DIRECTION_WORDS.items())
    return f"(CASE {c} {whens} ELSE NULL END)"


def _match_address_sql(house: str, predir: str, name: str, stype: str,
                       sufdir: str, grid: str) -> str:
    # `||`, not concat(): DuckDB's concat() skips a NULL argument, while the
    # engine's matchAddress is NULL when the locator's grid is NULL
    return (
        f"(concat_ws(' ', CAST({house} AS VARCHAR), nullif({predir}, ''),"
        f" {name}, nullif({stype}, ''), nullif({sufdir}, '')) || ', ' || {grid})"
    )


def _standardized_sql(house: str, predir: str, name: str, stype: str,
                      sufdir: str) -> str:
    return (
        f"lower(concat_ws(' ', CAST({house} AS VARCHAR),"
        f" {_expand_dir_sql(predir)}, nullif({name}, ''), nullif({stype}, ''),"
        f" {_expand_dir_sql(sufdir)}))"
    )


def parsed_input_cte(source_sql: str) -> str:
    """CTE text for: cleansed + parsed input relation (named `parsed`).

    source_sql: any relation expression with columns (id, street, zone).
    The `error` column is the oracle twin of the F5 per-row capture's
    deterministic street-length guard (extraction.MAX_STREET_LEN).
    """
    from .extraction import MAX_STREET_LEN

    return f"""
input AS (
  SELECT CAST(id AS VARCHAR) AS primary_key,
         CAST(street AS VARCHAR) AS input_street,
         CAST(zone AS VARCHAR) AS input_zone,
         coalesce({cleanse_street_sql('street')}, '') AS cleansed_street,
         coalesce({cleanse_zone_sql('zone')}, '') AS cleansed_zone,
         CASE WHEN length(CAST(street AS VARCHAR)) > {MAX_STREET_LEN}
              THEN concat('street too long: ',
                          CAST(length(CAST(street AS VARCHAR)) AS VARCHAR),
                          ' characters') END AS error
  FROM {source_sql}
),
parsed AS (
  SELECT *, upper(cleansed_zone) AS zone_key
  FROM {parse_street_duckdb_sql('input', 'cleansed_street')}
)"""


def candidates_sql(fix: str, locators: str = "all", pobox: bool = False,
                   accept_score: int = DEFAULT_ACCEPT_SCORE) -> str:
    """CTE text for scored candidates (named `cands`). `fix` = fixture dir."""
    parts = []
    if locators in ("all", "addressPoints"):
        parts.append(f"""
  SELECT p.primary_key, l.x, l.y,
         CAST({BASE_SCORE_AP}
              - {_dir_penalty_sql('p.predir', 'l.predir')}
              - {_dir_penalty_sql('p.sufdir', 'l.sufdir')}
              - {_type_penalty_sql('p.stype', 'l.stype')} AS BIGINT) AS score,
         '{LOCATOR_AP}' AS locator,
         {_match_address_sql('l.house_number', 'l.predir', 'l.street_name', 'l.stype', 'l.sufdir', 'l.grid')} AS matchAddress,
         {_standardized_sql('p.house', 'p.predir', 'p.street_name', 'p.stype', 'p.sufdir')} AS standardizedAddress,
         l.grid AS addressGrid,
         {PRIORITY['ap']} AS priority, l.cand_id
  FROM parsed p
  JOIN (SELECT zip5 AS zone_key, * FROM read_parquet('{fix}/address_points.parquet')
        UNION ALL
        SELECT upper(grid) AS zone_key, * FROM read_parquet('{fix}/address_points.parquet')) l
    ON p.addr_type = 'STREET' AND p.zone_key = l.zone_key
   AND p.street_name = l.street_name AND p.house = l.house_number""")
    if locators in ("all", "roadCenterlines"):
        # a degenerate range (from = to) sits at its start point, t = 0
        # (the engine's interpolation), not at a division by zero
        t = ("(CASE WHEN l.to_addr > l.from_addr THEN"
             " CAST(p.house - l.from_addr AS DOUBLE)"
             " / CAST(l.to_addr - l.from_addr AS DOUBLE) ELSE 0.0 END)")
        interp_x = f"(l.x0 + {t} * (l.x1 - l.x0))"
        interp_y = f"(l.y0 + {t} * (l.y1 - l.y0))"
        parts.append(f"""
  SELECT p.primary_key, {interp_x} AS x, {interp_y} AS y,
         CAST({BASE_SCORE_RC}
              - {_dir_penalty_sql('p.predir', 'l.predir')}
              - {_dir_penalty_sql('p.sufdir', 'l.sufdir')}
              - {_type_penalty_sql('p.stype', 'l.stype')} AS BIGINT) AS score,
         '{LOCATOR_RC}' AS locator,
         {_match_address_sql('p.house', 'l.predir', 'l.street_name', 'l.stype', 'l.sufdir', 'l.grid')} AS matchAddress,
         {_standardized_sql('p.house', 'p.predir', 'p.street_name', 'p.stype', 'p.sufdir')} AS standardizedAddress,
         l.grid AS addressGrid,
         {PRIORITY['rc']} AS priority, l.cand_id
  FROM parsed p
  JOIN (SELECT zip5 AS zone_key, * FROM read_parquet('{fix}/road_centerlines.parquet')
        UNION ALL
        SELECT upper(grid) AS zone_key, * FROM read_parquet('{fix}/road_centerlines.parquet')) l
    ON p.addr_type = 'STREET' AND p.zone_key = l.zone_key
   AND p.street_name = l.street_name
  WHERE p.house BETWEEN l.from_addr AND l.to_addr""")
    if pobox:
        parts.append(f"""
  SELECT p.primary_key, l.x, l.y,
         CAST({BASE_SCORE_USPS} AS BIGINT) AS score,
         '{LOCATOR_USPS}' AS locator,
         concat('P.O. BOX ', CAST(l.box_number AS VARCHAR), ', ', l.zip5) AS matchAddress,
         lower(concat('po box ', CAST(p.house AS VARCHAR))) AS standardizedAddress,
         l.grid AS addressGrid,
         {PRIORITY['usps']} AS priority, l.cand_id
  FROM parsed p
  JOIN read_parquet('{fix}/pobox_points.parquet') l
    ON p.addr_type = 'POBOX' AND p.zone_key = l.zip5 AND p.house = l.box_number""")
    union = "\n  UNION ALL\n".join(parts)
    return f"""
cands AS (
  SELECT *,
         ((CAST(score AS BIGINT) * 10 + (9 - priority)) * 100000000 + (99999999 - cand_id)) AS rank_key
  FROM ({union})
  WHERE score >= {accept_score}
)"""


def geocode_oracle_sql(fixture_dir: str, locators: str = "all",
                       pobox: bool = False,
                       accept_score: int = DEFAULT_ACCEPT_SCORE,
                       source_sql: str | None = None) -> str:
    """Full-pipeline oracle: the 11-column contract.

    source_sql defaults to the addresses fixture; pass a subquery producing
    (id, street, zone) — e.g. the extraction oracle — for the pages pipeline.
    """
    fix = fixture_dir.rstrip("/")
    source = source_sql or f"read_parquet('{fix}/addresses.parquet')"
    msg404 = MSG_NO_CANDIDATES.format(score=accept_score).replace("'", "''")
    return f"""
WITH {parsed_input_cte(source)},
{candidates_sql(fix, locators, pobox, accept_score)},
top1 AS (
  SELECT primary_key,
         max_by(x, rank_key) AS x, max_by(y, rank_key) AS y,
         max_by(score, rank_key) AS score,
         max_by(locator, rank_key) AS locator,
         max_by(matchAddress, rank_key) AS matchAddress,
         max_by(standardizedAddress, rank_key) AS standardizedAddress,
         max_by(addressGrid, rank_key) AS addressGrid
  FROM cands GROUP BY primary_key
)
SELECT i.primary_key, i.input_street, i.input_zone,
       CASE WHEN i.error IS NOT NULL THEN 0.0 ELSE coalesce(t.x, 0.0) END AS x,
       CASE WHEN i.error IS NOT NULL THEN 0.0 ELSE coalesce(t.y, 0.0) END AS y,
       CASE WHEN i.error IS NOT NULL THEN 0 ELSE coalesce(t.score, 0) END AS score,
       CASE WHEN i.error IS NULL THEN t.locator END AS locator,
       CASE WHEN i.error IS NULL THEN t.matchAddress END AS matchAddress,
       CASE WHEN i.error IS NULL THEN t.standardizedAddress END AS standardizedAddress,
       CASE WHEN i.error IS NULL THEN t.addressGrid END AS addressGrid,
       CASE WHEN i.error IS NOT NULL THEN i.error
            WHEN t.score IS NULL THEN
         CASE WHEN i.cleansed_street = '' OR i.cleansed_zone = ''
              THEN concat('Missing required parameters for URL: https://{HOST}/api/v1/geocode/',
                          i.cleansed_street, '/', i.cleansed_zone)
              ELSE '{msg404}' END
       ELSE NULL END AS message
FROM input i LEFT JOIN top1 t USING (primary_key)
"""


def pages_source_sql(fixture_dir: str) -> str:
    """(id, street, zone) subquery = extraction over the pages fixture."""
    from .extraction import ADDRESS_PATTERN

    fix = fixture_dir.rstrip("/")
    return f"""(
  SELECT url AS id,
         nullif(regexp_extract(text, '{ADDRESS_PATTERN}', 1), '') AS street,
         nullif(regexp_extract(text, '{ADDRESS_PATTERN}', 2), '') AS zone
  FROM read_parquet('{fix}/pages.parquet')
)"""


def geocode_pages_oracle_sql(fixture_dir: str, **kw) -> str:
    """Flagship oracle: extract from pages -> geocode -> 11-column contract."""
    return geocode_oracle_sql(
        fixture_dir, source_sql=pages_source_sql(fixture_dir), **kw
    )


def metrics_oracle_sql(fixture_dir: str, **kw) -> str:
    """A1-A3 oracle over the geocode result (reference geocode.py:150-158).

    Rounding: floor(x + 0.5) — half-up, chosen for exact Spark/DuckDB
    agreement (the reference uses Python round(), i.e. banker's; divergence
    is confined to exact .5 fractions and documented here)."""
    inner = geocode_oracle_sql(fixture_dir, **kw)
    return f"""
SELECT CAST(count(*) AS BIGINT) AS total,
       CAST(sum(CASE WHEN message IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS fail,
       CAST(sum(CASE WHEN message IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS success,
       CAST(CASE WHEN count(*) > 0 THEN floor(100.0 * sum(CASE WHEN message IS NOT NULL THEN 1 ELSE 0 END) / count(*) + 0.5) ELSE 100 END AS BIGINT) AS failure_rate,
       CAST(floor(avg(CASE WHEN message IS NULL THEN score END) + 0.5) AS BIGINT) AS average_score
FROM ({inner})
"""


def metrics_by_grid_oracle_sql(fixture_dir: str, **kw) -> str:
    """Per-grid success metrics — oracle for geocode_metrics_by_grid."""
    inner = geocode_oracle_sql(fixture_dir, **kw)
    return f"""
SELECT addressGrid AS addressGrid,
       CAST(count(*) AS BIGINT) AS n_success,
       CAST(sum(score) AS BIGINT) AS sum_score
FROM ({inner})
WHERE message IS NULL
GROUP BY addressGrid
"""
