"""Vectorized address extraction from web-page text (SURVEY §2.7).

The engine's true source is a Common-Crawl-style pages table
(url, warc_ts, html, text, lang — BASELINE.json input_hint); `url` plays the
reference's `primary_key` (geocode.py:125). Extraction is an Arrow-batched
pandas UDF (no per-row Python) and a pure per-row function of `text`, so the
result is byte-identical per url across runs and parallelism levels.

The pattern recognizes the fixture embedding convention: an uppercase postal
address `STREET, ZONE.` inside otherwise lowercase text — house-number streets
and PO boxes. Leftmost match wins (first address per page). The same pattern
string runs under Python `re` (engine) and DuckDB RE2 (oracle); it uses only
ASCII classes and non-capturing groups, which behave identically in both.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

ADDRESS_PATTERN = r"((?:[0-9]|PO BOX |P O BOX )[0-9A-Z ]*), ([0-9A-Z][0-9A-Z ]*)\."

# F5/P5 per-row error capture (reference geocode.py:253-254, pinned by its
# tests/test_geocode.py:158-177): any per-row failure becomes an ERROR ROW
# with message str(ex)[:500] and the job continues. The deterministic,
# oracle-mirrorable failure is the street-length guard below; the generic
# per-row try/except in _extract_parse_batch catches everything else.
MAX_STREET_LEN = 512
MSG_TRUNCATE = 500  # reference geocode.py:254


def street_too_long_msg(n: int) -> str:
    return f"street too long: {n} characters"


def _extract_batch(text: pd.Series) -> pd.DataFrame:
    ex = text.astype("string").str.extract(ADDRESS_PATTERN, expand=True)
    ex.columns = ["street", "zone"]
    return ex


# the staged parsed relation: what _cleanse_parse returns for each row
_STAGED_TYPE = StructType(
    [
        StructField("cleansed_street", StringType()),
        StructField("cleansed_zone", StringType()),
        StructField("zone_key", StringType()),
        StructField("addr_type", StringType()),
        StructField("house", LongType()),
        StructField("predir", StringType()),
        StructField("street_name", StringType()),
        StructField("stype", StringType()),
        StructField("sufdir", StringType()),
        StructField("error", StringType()),
    ]
)
_FULL_TYPE = StructType(
    [StructField("street", StringType()), StructField("zone", StringType())]
    + _STAGED_TYPE.fields
)


def capture_per_row(kernel, error_row, *frames) -> pd.DataFrame:
    """kernel(*frames) -> DataFrame, with the F5/P5 per-row error capture.

    If the batch call raises, the kernel re-runs row at a time over
    one-row slices of `frames` (the same code, so a healthy row's values
    are identical), and a row that still raises becomes error_row(
    str(ex)[:500]) (reference geocode.py:253-254) instead of failing the
    task: one poisoned row in a trillion must not kill a job. The rows are
    reassembled as objects, so an integer column beside an error row's
    NULL stays exact instead of widening to float64."""
    try:
        return kernel(*frames)
    except Exception:
        rows = []
        for i in range(len(frames[0])):
            try:
                rows += kernel(*(f.iloc[i:i + 1] for f in frames)).to_dict(
                    "records")
            except Exception as ex:  # the reference's per-row capture
                rows.append(error_row(str(ex)[:MSG_TRUNCATE]))
        return pd.DataFrame(rows, columns=list(error_row("")), dtype=object)


def _cleanse_parse(street: pd.Series, zone: pd.Series) -> pd.DataFrame:
    from .cleansing import pd_cleanse_street, pd_cleanse_zone
    from .grammar import PARSE_FIELDS, parse_street_py

    street = street.reset_index(drop=True)
    cs = pd_cleanse_street(street).fillna("")
    # a missing street or zone cleanses to '' (the oracle coalesces too)
    cz = pd_cleanse_zone(zone.reset_index(drop=True).fillna("")).fillna("")
    rows = [parse_street_py(v) for v in cs]
    parsed = pd.DataFrame(rows, columns=list(PARSE_FIELDS))
    # nullable, so a house beside an INVALID row's NULL stays exact
    parsed["house"] = pd.array([r["house"] for r in rows], dtype="Int64")
    err = pd.Series(
        [street_too_long_msg(int(n)) if pd.notna(n) and n > MAX_STREET_LEN
         else None for n in street.str.len()],
        dtype="object",
    )
    return pd.concat([cs.rename("cleansed_street"),
                      cz.rename("cleansed_zone"),
                      cz.str.upper().rename("zone_key"), parsed,
                      err.rename("error")], axis=1)


def _parse_error_row(message: str) -> dict:
    from .grammar import PARSE_FIELDS

    row = {"street": None, "zone": None,
           "cleansed_street": "", "cleansed_zone": "", "zone_key": ""}
    row.update({f: None for f in PARSE_FIELDS})
    row["error"] = message
    return row


def cleanse_parse_batch(street: pd.Series, zone: pd.Series) -> pd.DataFrame:
    """The engine's cleanse and parse (operators.geocode.parse_input, and
    geocode() before its match): cleansed_street, cleansed_zone, zone_key,
    the six parse fields and the F5 street-length guard `error`, for string
    columns (street, zone), with the per-row error capture
    (capture_per_row)."""
    return capture_per_row(
        _cleanse_parse,
        lambda m: {k: v for k, v in _parse_error_row(m).items()
                   if k not in ("street", "zone")},
        street.astype("string"), zone.astype("string"),
    )


def _extract_parse(text: pd.Series) -> pd.DataFrame:
    out = _extract_batch(text).reset_index(drop=True)
    return pd.concat([out, _cleanse_parse(out["street"], out["zone"])],
                     axis=1)


def _extract_parse_batch(text: pd.Series) -> pd.DataFrame:
    """Fused extract + cleanse + parse — ONE Python round trip per batch:
    the extraction regex, then the same _cleanse_parse kernel as
    cleanse_parse_batch.

    Error capture (F5/P5): the vectorized path computes the deterministic
    street-length guard as a column; anything else that throws goes
    through capture_per_row, and a row that still throws becomes an error
    row with NULL street/zone carrying str(ex)[:500].
    """
    return capture_per_row(_extract_parse, _parse_error_row, text)


def extract_and_parse(pages: DataFrame, progress_acc=None) -> DataFrame:
    """pages -> the geocode_parsed() input schema, in one Arrow stage.

    Produces what operators.geocode.parse_input(cleanse_input(
    extract_addresses(pages), "url")) produces, with one Python boundary
    instead of two.

    progress_acc (A4, reference geocode.py:256-258): an optional Spark
    accumulator receiving each Arrow batch's row count — the row-cadence
    source for progress.ProgressReporter. It must be captured in the UDF
    closure (counting_pandas_udf): forked Python workers re-import this
    module, so a driver-set global would be None worker-side.
    """
    # imported here: a worker imports this module, and needs no progress
    from .progress import counting_pandas_udf

    a = pages.select(
        F.col("url").cast("string").alias("primary_key"),
        counting_pandas_udf(_extract_parse_batch, _FULL_TYPE, progress_acc)(
            F.col("text")).alias("a"),
    )
    return a.select(
        "primary_key",
        F.col("a.street").alias("input_street"),
        F.col("a.zone").alias("input_zone"),
        *(f"a.{f}" for f in ("cleansed_street", "cleansed_zone", "addr_type",
                             "house", "predir", "street_name", "stype",
                             "sufdir", "zone_key", "error")),
    )


def extract_addresses(pages: DataFrame) -> DataFrame:
    """pages(url, text, ...) -> (url, street, zone): the extraction columns
    of extract_and_parse.

    Keeps pages without an address (street/zone NULL) so the downstream
    geocode preserves one-output-row-per-input-row accounting (reference
    geocode.py:171-250). Column pruning: only url+text are read.
    """
    return extract_and_parse(pages).select(
        F.col("primary_key").alias("url"),
        F.col("input_street").alias("street"),
        F.col("input_zone").alias("zone"),
    )
