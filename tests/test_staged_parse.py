"""The engine's one cleanse/parse kernel, staged: parse_input(cleanse_input(df))
runs extraction.cleanse_parse_batch, the kernel geocode() fuses with its
match.

- A differential test against the DuckDB oracle's parsed relation
  (oracle.parsed_input_cte), row for row, on boundary rows: NULL street and
  zone, an integer zone, '&' runs, non-ASCII text, streets at and past the
  512-character guard, houses at and past 6 digits, PO boxes at and past
  18 digits.
  Its plan is one Arrow stage.
- A poison corpus through all five input shapes — geocode(),
  geocode_pages, geocode_parsed over parse_input(cleanse_input(..)) and over
  extract_and_parse(..), and stream_geocode — equals its oracle, and no
  task fails.
"""

import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from compare_util import assert_frames_match, duck_to_pdf
from geocode_spark.extraction import extract_and_parse
from geocode_spark.operators.geocode import (
    cleanse_input,
    geocode,
    geocode_parsed,
    parse_input,
)
from geocode_spark.oracle import (
    geocode_oracle_sql,
    pages_source_sql,
    parsed_input_cte,
)
from geocode_spark.plans.pipeline import geocode_pages, load_locators
from geocode_spark.streaming.stream import read_stream_results, stream_geocode

BOX_18, BOX_19, BOX_20 = "9" * 18, "1" + "0" * 18, "9" * 20
STREET_512 = "1 " + "A" * 510
STREET_513 = "1 " + "A" * 511

BOUNDARY = [
    (None, "84101"),                      # NULL street
    ("123 S MAIN ST", None),              # NULL zone
    ("main && state &&& 5th", "84101"),   # '&' runs
    ("12 ünïcödé road", "Sält Läke Çity"),  # non-ASCII text
    ("7 Ørsted Way", "84 124"),
    (STREET_512, "84101"),                # at the F5 street-length guard
    (STREET_513, "84101"),                # one past it
    ("123456 N MAIN", "84101"),           # 6-digit house
    ("1234567 N MAIN", "84101"),          # 7-digit house
    (f"PO BOX {BOX_18}", "84101"),        # 18 digits: the longest box
    (f"P.O. Box {BOX_19}", "84101"),      # 19 digits: INVALID
    (f"PO BOX {BOX_20}", "84101"),
    ("", ""),
]

_ADDRESSES = pa.schema([("id", pa.string()), ("street", pa.string()),
                        ("zone", pa.string())])
_INT_ZONE = pa.schema([("id", pa.string()), ("street", pa.string()),
                       ("zone", pa.int64())])


def _write_addresses(path, rows, schema=_ADDRESSES):
    ids = [f"r{i:03d}" for i in range(len(rows))]
    pq.write_table(pa.table({"id": ids, "street": [s for s, _ in rows],
                             "zone": [z for _, z in rows]}, schema=schema),
                   path)


STAGED = ("primary_key", "input_street", "input_zone", "cleansed_street",
          "cleansed_zone", "error", "addr_type", "house", "predir",
          "street_name", "stype", "sufdir", "zone_key")


def _oracle_parsed(path):
    con = duckdb.connect()
    try:
        return con.sql(
            f"WITH {parsed_input_cte(f'read_parquet({path!r})')}"
            f" SELECT {', '.join(STAGED)} FROM parsed ORDER BY primary_key"
        ).fetchall()
    finally:
        con.close()


def test_staged_parse_matches_oracle(spark, tmp_path):
    """parse_input(cleanse_input(df)) equals the oracle's parsed relation,
    row for row, with the 13-column staged schema in its order; a 64-bit
    house is compared as an exact int (rows are collected). Its plan is
    one ArrowEvalPython over the scan: no join, no exchange."""
    cases = {
        "strings": (BOUNDARY, _ADDRESSES),
        "int_zone": ([("123 S MAIN ST", 84101), ("PO BOX 9", 84124),
                      ("1 MAIN", None), ("1 MAIN", 8412345)], _INT_ZONE),
    }
    kinds = {}
    for label, (rows, schema) in cases.items():
        path = str(tmp_path / f"{label}.parquet")
        _write_addresses(path, rows, schema)
        staged = parse_input(cleanse_input(spark.read.parquet(path)))
        assert tuple(staged.columns) == STAGED
        plan = staged._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        assert not re.search(r"Join|Exchange", plan), plan
        got = [tuple(r) for r in staged.orderBy("primary_key").collect()]
        want = _oracle_parsed(path)
        assert len(got) == len(want) == len(rows), label
        for g, w in zip(got, want):
            assert g == w, (label, g, w)
        kinds[label] = {r[STAGED.index("addr_type")] for r in got}
    # effect size: the boundary rows reach every parse outcome
    assert kinds["strings"] == {"STREET", "POBOX", "INVALID"}


# ------------------------------------------------------------ poison corpus
POISON = [
    f"PO BOX {BOX_19}",
    f"PO BOX {BOX_20}",
    f"P O BOX {BOX_20}",
    f"PO BOX {BOX_18}",
    STREET_513,
    "1234567 MAIN ST",
]
_EXTRACTABLE = re.compile(r"[0-9][0-9A-Z ]*")


def _corpus(spark, fixtures_dir):
    """The poison streets plus healthy fixture rows whose street and zone
    the extraction pattern can recover from page text, all in zone-bearing
    (id, street, zone) form."""
    healthy = [
        (r["street"], r["zone"]) for r in spark.read.parquet(
            f"{fixtures_dir}/addresses.parquet").orderBy("id").collect()
        if r["street"] and r["zone"] and _EXTRACTABLE.fullmatch(r["street"])
        and re.fullmatch(r"[0-9A-Z][0-9A-Z ]*", r["zone"])
    ][:20]
    assert len(healthy) >= 10
    return [(s, "84101") for s in POISON] + healthy


def _write_pages(path, rows):
    """Pages in the stream source's schema, one address in each text."""
    n = len(rows)
    pq.write_table(pa.table({
        "url": [f"r{i:03d}" for i in range(n)],
        "warc_ts": pa.array([0] * n, pa.timestamp("us")),
        "html": pa.array([b""] * n, pa.binary()),
        "text": [f"lorem ipsum {s}, {z}. dolor" for s, z in rows],
        "lang": ["en"] * n,
    }), path)


def test_poison_corpus_all_shapes_match_oracle(spark, fixtures_dir, tmp_path):
    """19- and 20-digit boxes, a 513-character street and a 7-digit house,
    beside healthy rows, in every input shape: each result equals its
    oracle (a failed task would fail the job)."""
    rows = _corpus(spark, fixtures_dir)
    addr_path = str(tmp_path / "addresses.parquet")
    _write_addresses(addr_path, rows)
    # the stream source directory holds one file, the pages oracle's input
    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    _write_pages(str(pages_dir / "pages.parquet"), rows)

    locs = load_locators(spark, fixtures_dir)
    addr = spark.read.parquet(addr_path)
    pages = spark.read.parquet(str(pages_dir))
    want_addr = duck_to_pdf(geocode_oracle_sql(
        fixtures_dir, pobox=True, source_sql=f"read_parquet('{addr_path}')"))
    want_pages = duck_to_pdf(geocode_oracle_sql(
        fixtures_dir, pobox=True, source_sql=pages_source_sql(str(pages_dir))))
    # effect size: the poison rows are in the result, and some rows match
    assert want_addr["message"].str.startswith("street too long").sum() == 1
    assert want_addr["message"].isna().sum() >= 5

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream_geocode(spark, str(pages_dir), locs, out, ckpt).awaitTermination(300)
    shapes = {
        "geocode": (geocode(addr, pobox=True, **locs), want_addr),
        "geocode_pages": (geocode_pages(pages, locs), want_pages),
        "staged_addresses": (geocode_parsed(
            parse_input(cleanse_input(addr)), pobox=True, **locs), want_addr),
        "staged_pages": (geocode_parsed(
            extract_and_parse(pages), pobox=True, **locs), want_pages),
        "stream_geocode": (read_stream_results(spark, out), want_pages),
    }
    for label, (got, want) in shapes.items():
        assert_frames_match(got.toPandas(), want, label=label)
