"""geocode_spark — a brand-new PySpark-native geocoding + spatial-join engine.

Re-expresses the observable query semantics of the (deprecated) UGRC/AGRC
geocoding toolbox (reference: /root/reference, ~700 LoC per-row HTTP client,
`src/agrcgeocoding/geocode.py`) as pure, declarative Spark data logic:

- byte-identical street/zone cleansing        (cleansing.py  ~ geocode.py:40-62)
- Utah address-grammar parsing                 (grammar.py)
- vectorized address extraction from web text  (extraction.py)
- locator index match: scoring + top-1        (operators/match.py ~ geocode.py:198-250)
- spatial layer: Z-order cells, kNN, PIP, tiles (operators/spatial.py)
- flow control: health probe, batch ledger      (plans/ ~ geocode.py:37,190-191,168-174)
- 11-column result contract                     (geocode.py:33-36)

Everything is DataFrame-first: the geocode hot path is one Arrow-vectorized
pandas UDF stage (extraction, the one cleanse/parse kernel and the match, in
one Python round trip per batch), Catalyst column expressions elsewhere, no
row-at-a-time Python UDF, no RDDs.
"""

__version__ = "0.2.0"

ENGINE_NAME = "geocode-spark"

# S7 local version metadata (reference geocode.py:22-24,265-287): the version
# file name + key, and a walk-up reader with the reference's 3-level limit.
VERSION_JSON_FILE = "tool-version.json"
VERSION_KEY = "PRO_VERSION_NUMBER"


def get_local_version(temp_dir=None):
    """Read the tool version from `tool-version.json`, walking up at most 3
    parent directories from `temp_dir` (default: this file) — behavior-
    identical to reference geocode.py:265-287 and its tests
    (tests/test_geocode.py:36-71): found at the starting sibling or within 3
    walk-ups -> the version string; otherwise None."""
    import json
    from pathlib import Path

    if temp_dir is None:
        temp_dir = Path(__file__).resolve()
    levels = 3
    i = 0
    parent_folder = Path(temp_dir).parent
    tool_version = parent_folder / VERSION_JSON_FILE
    while not tool_version.exists() and i < levels:
        parent_folder = parent_folder.parent
        tool_version = parent_folder / VERSION_JSON_FILE
        i += 1
    if not tool_version.exists():
        return None
    with open(tool_version) as version_file:
        return json.load(version_file)[VERSION_KEY]

# Output contract: HEADER at reference geocode.py:33-36.
RESULT_COLUMNS = (
    "primary_key",
    "input_street",
    "input_zone",
    "x",
    "y",
    "score",
    "locator",
    "matchAddress",
    "standardizedAddress",
    "addressGrid",
    "message",
)

# Defaults mirrored from reference geocode.py:25-28.
DEFAULT_SPATIAL_REFERENCE = 26912
DEFAULT_LOCATOR_NAME = "all"
DEFAULT_POBOX = False
DEFAULT_ACCEPT_SCORE = 70
HEALTH_PROBE_COUNT = 25  # geocode.py:37
