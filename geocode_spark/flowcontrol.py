"""Flow control: health probe, exceptions, progress formatting (SURVEY §2.5).

The reference aborts the whole job when the *first 25 rows all fail*
(HEALTH_PROBE_COUNT at reference geocode.py:37; trigger at geocode.py:190-191:
``total == 25 and sequential_fails == 25``, reset-on-success at
geocode.py:242, disabled by ``ignore_failures`` at geocode.py:120,130).
Row order is meaningless in a distributed plan, so the Spark-native analog is
a **driver-side probe**: run the pipeline on ``limit(probe_count)`` rows
first; if every probe row fails, raise before launching the full job. The
probe is cheap (25 rows through the one Arrow match stage, against the
shared locator index) and the exception type + message match the reference
(geocode.py:311-317).

Also here: the reference's custom exceptions (geocode.py:299-317) and its
human-friendly elapsed-time formatter (P4, geocode.py:65-81) — driver-side
log formatting only, reproduced behavior-for-behavior with its 30 s / 90 s /
90 min thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import HEALTH_PROBE_COUNT


class ContinuousFailThresholdExceeded(Exception):
    """All probe rows failed — abort before burning cluster time.

    Message parity: reference geocode.py:311-317.
    """

    def __init__(self):
        self.message = "Continuous fail threshold reached. Failing entire job."
        super().__init__(self.message)


class InvalidAPIKeyException(Exception):
    """Config-validation failure carrying rows-processed context.

    The reference raises this on HTTP 400 (geocode.py:217-219,299-308). Our
    engine has no API key, but the exception type + message format are kept
    for CLI parity; raised when locator tables are missing/unreadable.
    """

    def __init__(self, total, primary_key, message):
        self.total = total
        self.primary_key = primary_key
        self.message = (
            f"\n\nError returned for primary_key: {primary_key} \n"
            f"API response message: {message} \nTotal rows processed: {total}"
        )
        super().__init__(self.message)


def format_time(seconds: float) -> str:
    """P4: seconds -> 'N ms' / 'N seconds' / 'N minutes' / 'N hours'.

    Thresholds 30 s / 90 s / 90 min, two-decimal rounding — behavior-identical
    to reference geocode.py:65-81 (verified by the parametrized tests).
    """
    minute = 60.0
    if seconds < 30:
        return f"{int(seconds * 1000)} ms"
    if seconds < 90:
        return f"{round(seconds, 2)} seconds"
    if seconds < 90 * minute:
        return f"{round(seconds / minute, 2)} minutes"
    return f"{round(seconds / (60.0 * minute), 2)} hours"


def health_probe(
    result_df: DataFrame,
    probe_count: int = HEALTH_PROBE_COUNT,
    ignore_failures: bool = False,
) -> dict:
    """F1: evaluate the pipeline on `probe_count` rows before the real run.

    result_df is the assembled 11-column geocode plan (NOT yet executed);
    failure = non-null `message` (the reference's error-row shape,
    geocode.py:182). Raises ContinuousFailThresholdExceeded iff every probed
    row failed — mirroring `total == 25 and sequential_fails == 25` at
    geocode.py:190-191. `ignore_failures` skips the raise (geocode.py:120).

    Returns {'probed': n, 'failed': k} so callers can log it.
    """
    probe = (
        result_df.limit(probe_count)
        .agg(
            F.count("*").alias("probed"),
            F.sum(F.when(F.col("message").isNotNull(), 1).otherwise(0)).alias(
                "failed"
            ),
        )
        .collect()[0]
    )
    stats = {"probed": probe["probed"], "failed": int(probe["failed"] or 0)}
    if (
        not ignore_failures
        and stats["probed"] >= probe_count
        and stats["failed"] == stats["probed"]
    ):
        raise ContinuousFailThresholdExceeded()
    return stats
