"""F5/P5 per-row error capture: any per-row failure becomes an error row
with message str(ex)[:500] and the job continues — never a dead task
(reference geocode.py:253-254, pinned by its tests/test_geocode.py:158-177).
"""

import pandas as pd
import pytest

from geocode_spark.extraction import (
    MAX_STREET_LEN,
    MSG_TRUNCATE,
    _extract_parse_batch,
    street_too_long_msg,
)


def test_long_street_becomes_error_column():
    long_street = "1 " + "A" * 600
    text = pd.Series([f"filler words {long_street}, SALT LAKE CITY. more"])
    out = _extract_parse_batch(text)
    assert out.loc[0, "error"] == street_too_long_msg(len(long_street))
    assert len(long_street) > MAX_STREET_LEN


def test_healthy_rows_have_null_error():
    out = _extract_parse_batch(pd.Series(["a 123 S MAIN ST, 84101. b", "no addr"]))
    assert out["error"].isna().all()


def test_generic_exception_captured_per_row(monkeypatch):
    """A throwing parse poisons ONE row, not the batch: the batch falls back
    to row-at-a-time and the bad row carries str(ex)[:500]."""
    import geocode_spark.grammar as grammar

    orig = grammar.parse_street_py
    boom = "this is a poison " * 60  # > 500 chars once prefixed

    def poisoned(cleansed):
        if "7777" in (cleansed or ""):
            raise RuntimeError(boom)
        return orig(cleansed)

    monkeypatch.setattr(grammar, "parse_street_py", poisoned)
    text = pd.Series(
        ["x 123 S MAIN ST, 84101. y", "x 7777 KABOOM RD, 84101. y"]
    )
    out = _extract_parse_batch(text)
    assert out.loc[0, "error"] is None or pd.isna(out.loc[0, "error"])
    assert out.loc[0, "street_name"] == "MAIN"
    msg = out.loc[1, "error"]
    assert msg == str(RuntimeError(boom))[:MSG_TRUNCATE]
    assert len(msg) == MSG_TRUNCATE  # the reference's 500-char truncation
    # healthy row values identical to the vectorized path
    clean = _extract_parse_batch(pd.Series(["x 123 S MAIN ST, 84101. y"]))
    for col in clean.columns:
        a, b = clean.loc[0, col], out.loc[0, col]
        assert (pd.isna(a) and pd.isna(b)) or a == b, col


def test_error_row_shape_through_geocode(spark, fixtures_dir):
    """End-to-end: a too-long street yields the reference's error-row shape
    (x=0, y=0, score=0, no locator, message=error) and the job continues."""
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import load_locators

    long_street = "1 " + "A" * 600
    rows = [("good", "669 West 200 South", "84101"), ("bad", long_street, "84101")]
    df = spark.createDataFrame(rows, "id string, street string, zone string")
    res = geocode(df, pobox=True, **load_locators(spark, fixtures_dir))
    got = {r["primary_key"]: r for r in res.collect()}
    bad = got["bad"]
    assert bad["message"] == street_too_long_msg(len(long_street))
    assert bad["x"] == 0.0 and bad["y"] == 0.0 and bad["score"] == 0
    assert bad["locator"] is None
    assert len(got) == 2  # one output row per input row, job completed


def test_invalid_image_container_is_error_row(spark, fixtures_dir):
    """A malformed binary payload yields an image_meta error row; the
    poisoned fixture pages exercise this in the oracle gate too."""
    from geocode_spark.textops.multimodal import image_meta

    pages = spark.createDataFrame(
        [("u1", bytearray(b"FIMG\x00\x10\x00\x10payload")), ("u2", bytearray(b"JK"))],
        "url string, html binary",
    )
    out = {r["url"]: r for r in image_meta(pages).collect()}
    assert out["u1"]["format"] == "FIMG" and out["u1"]["error"] is None
    assert out["u2"]["format"] is None
    assert out["u2"]["error"] == "invalid image container: 2 bytes"


def test_match_poison_row_becomes_error_row(spark, fixtures_dir, monkeypatch):
    """A row the match step throws on becomes an error row carrying
    str(ex)[:500]; every other row of the batch keeps its match."""
    import geocode_spark.operators.match as m
    from geocode_spark.extraction import cleanse_parse_batch
    from geocode_spark.operators.geocode import locator_index, pack_locators
    from geocode_spark.plans.pipeline import load_locators

    index = locator_index(
        pack_locators(**load_locators(spark, fixtures_dir), pobox=True)
    ).load()
    addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet").toPandas()
    parsed = cleanse_parse_batch(addr["street"], addr["zone"])
    parsed["zone_key"] = parsed["cleansed_zone"].str.upper()
    clean = m.match(parsed, index, 70)

    boom = "poisoned direction " * 40
    orig = m._expand

    def poisoned(d):
        if d == "E":
            raise RuntimeError(boom)
        return orig(d)

    monkeypatch.setattr(m, "_expand", poisoned)
    out = m.match(parsed, index, 70)
    hit = (clean["message"].isna() & (clean["locator"] != m.LOCATOR_USPS)
           & ((parsed["predir"] == "E") | (parsed["sufdir"] == "E"))).to_numpy()
    assert 0 < hit.sum() < len(parsed)  # effect size: some rows, not all
    bad = out[hit]
    assert (bad["message"] == str(RuntimeError(boom))[:MSG_TRUNCATE]).all()
    assert (bad["x"] == 0.0).all() and (bad["score"] == 0).all()
    assert bad["locator"].isna().all()
    pd.testing.assert_frame_equal(
        out[~hit].reset_index(drop=True), clean[~hit].reset_index(drop=True),
        check_dtype=False)
