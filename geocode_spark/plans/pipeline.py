"""Pipeline assembly: pages -> extract -> geocode (SURVEY §3.4 lifecycle).

spark.read (Parquet/Iceberg scan, column-pruned to url+text)
  -> ONE Arrow-vectorized stage per batch: extract + cleanse + parse
     (extraction._extract_parse_batch), then the match against the
     session's shared locator index (operators.match.match)
  -> 11-column contract

No join and no shuffle: every page is processed independently, so the plan
scales with executors and no key skew can concentrate load. The locator
pack is grouped, collected and shipped to the workers once per locator set
(operators.geocode.locator_index), not once per query, matching what
.explain shows: one ArrowEvalPython over the page scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .. import DEFAULT_ACCEPT_SCORE
from ..extraction import _extract_parse_batch
from ..operators.geocode import locator_index, pack_locators
from ..operators.match import MATCH_FIELDS, match
from ..progress import counting_pandas_udf

_PAGES_TYPE = StructType(
    [StructField("input_street", StringType()),
     StructField("input_zone", StringType())] + MATCH_FIELDS
)


def load_locators(spark: SparkSession, fixtures_dir: str) -> dict:
    """Load the three locator tables, failing fast with the reference's
    auth-failure exception type when a table is missing or unreadable.

    F2 parity: the reference raises InvalidAPIKeyException on the API's
    HTTP-400 config rejection (geocode.py:217-219,299-308); this engine has
    no API key, so its config-validation failure — unreadable locators — is
    the path that raises it, with the same message format."""
    from ..flowcontrol import InvalidAPIKeyException

    out = {}
    for name in ("address_points", "road_centerlines", "pobox_points"):
        path = f"{fixtures_dir}/{name}.parquet"
        try:
            out[name] = spark.read.parquet(path)
        except Exception as ex:
            raise InvalidAPIKeyException(
                0, None, f"locator table missing or unreadable: {path} ({ex})"
            ) from ex
    return out


def geocode_pages(
    pages: DataFrame,
    locator_tables: dict,
    locators: str = "all",
    pobox: bool = True,
    accept_score: int = DEFAULT_ACCEPT_SCORE,
    progress_acc=None,
) -> DataFrame:
    """Flagship pipeline: web pages in, 11-column geocode results out.

    One output row per page (reference row-accounting, geocode.py:171-250);
    pages with no extractable address surface the F4 'Missing required
    parameters' failure (geocode.py:210-215). Extraction, cleansing,
    grammar parsing and the match run fused in ONE Arrow stage, equal row
    for row to geocode_parsed(extract_and_parse(pages)).
    progress_acc: optional row-count accumulator for A4 progress reporting
    (see extraction.extract_and_parse / progress.ProgressReporter)."""
    index = locator_index(pack_locators(**locator_tables, locators=locators,
                                        pobox=pobox))

    # one Arrow batch of page texts -> input_street, input_zone and the 8
    # match columns; a worker imports extraction and match to run it
    def kernel(text: pd.Series) -> pd.DataFrame:
        parsed = _extract_parse_batch(text)
        return pd.concat(
            [parsed[["street", "zone"]].set_axis(
                ["input_street", "input_zone"], axis=1),
             match(parsed, index.load(), accept_score)],
            axis=1,
        )

    udf = counting_pandas_udf(kernel, _PAGES_TYPE, progress_acc)
    return pages.select(
        F.col("url").cast("string").alias("primary_key"),
        udf(F.col("text")).alias("a"),
    ).select("primary_key", "a.*")
