"""The geocode match kernel and the locator index it probes (SURVEY §2.3).

The reference scores each row with one HTTP GET against a server-side
locator (reference geocode.py:198-208). Here the locator is data: the
candidate arrays of operators.geocode.pack_locators, laid out as one
columnar, read-only LocatorIndex, and `match` scores a whole Arrow batch of
parsed rows against it inside the Python stage that parsed them.

  J2/J3/J6  one probe per row on the pack key (zone_key, join_name,
            house div 100); address points, centerline ranges and PO boxes
            are all candidates of that key (exact matchers are degenerate
            ranges), so every source is scanned at once
  J4        deterministic penalty scoring, filter score >= accept_score
  J5        top-1 per row by a total-order rank key (score desc, source
            priority, cand_id asc; ranks are unique), first candidate on
            an exact tie, as the former array fold kept it
  F5        a row carrying a per-row error never matches: it becomes the
            error row (x=0, y=0, score=0, message=error)

Scoring spec (frozen: the reference's scorer is server-side and
unobservable, so this is OUR contract, checked against the DuckDB oracle):

  base: 100 address point / 100 USPS pobox / 90 road centerline
  direction penalty (prefix and suffix, each):
      equal (incl. both empty) -> 0
      input empty, locator set -> 5
      input set, locator empty -> 15
      both set, different      -> 25
  street-type penalty: equal -> 0 | input empty -> 5 | locator empty -> 10
      | different -> 15
  A NULL locator field compares like SQL: never equal, never empty.

Index layout (LocatorIndex.ARRAYS):

  zones, names   sorted vocabularies (numpy unicode) of the pack's zone_key
                 and join_name
  keys, offsets  each pack row's key (zone code, name code, block) packed
                 into one sorted int64; the candidates of keys[i] are rows
                 offsets[i]:offsets[i + 1] of the candidate columns, in the
                 order of that row's `cands` array
  candidate columns  src, pri, base_score, cand_id, valid, from_addr,
                 to_addr, x0, y0, x1, y1 (numeric); grid, tail, l_predir,
                 l_stype, l_sufdir (codes into `strings`, -1 for NULL);
                 `tail` is the locator part of matchAddress
  strings        sorted vocabulary of the candidate string columns

Sharing: a LocatorIndex is an index class of operators.indexfile (it
names its arrays in ARRAYS and its key widths in `meta`), so
IndexFile.publish writes it to ONE file that each Python worker maps
read-only (IndexFile.load returns the LocatorIndex); kNN's cell index
ships the same way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..grammar import DIRECTION_WORDS

HOST = "api.mapserv.utah.gov"  # reference geocode.py:32
LOCATOR_AP = "AddressPoints.AddressGrid"
LOCATOR_RC = "Centerlines.StatewideRoads"
LOCATOR_USPS = "USPS Delivery Points"  # pinned at tests/test_geocode.py:112

BASE_SCORE_AP = 100
BASE_SCORE_RC = 90
BASE_SCORE_USPS = 100
PRIORITY = {"usps": 0, "ap": 1, "rc": 2}

# message parity: reference geocode.py:213 (F4) and tests/test_geocode.py:89 (404)
MSG_MISSING_TMPL = "Missing required parameters for URL: https://{host}/api/v1/geocode/{street}/{zone}"
MSG_NO_CANDIDATES = "No address candidates found with a score of {score} or better."

# PO-box rows join under this synthetic street name; parsed street rows can
# never produce it (cleansing removes nothing that would create '#').
_POBOX_NAME = "#POBOX"

# House numbers per pack block: candidate arrays are keyed on
# (zone_key, join_name, house div BLOCK).
BLOCK = 100

# src codes 0 'usps', 1 'ap', else 2: a candidate whose src is neither is a
# centerline, as the locator name and match address rules read it
_SRC_RC = 2
_LOCATOR_BY_SRC = np.array([LOCATOR_USPS, LOCATOR_AP, LOCATOR_RC], dtype=object)

MATCH_FIELDS = [
    StructField("x", DoubleType()),
    StructField("y", DoubleType()),
    StructField("score", LongType()),
    StructField("locator", StringType()),
    StructField("matchAddress", StringType()),
    StructField("standardizedAddress", StringType()),
    StructField("addressGrid", StringType()),
    StructField("message", StringType()),
]
MATCH_TYPE = StructType(MATCH_FIELDS)
MATCH_COLUMNS = [f.name for f in MATCH_FIELDS]


def error_result(message: str) -> dict:
    """The 8 result columns of a row whose processing raised (F5)."""
    return {"x": 0.0, "y": 0.0, "score": 0, "locator": None,
            "matchAddress": None, "standardizedAddress": None,
            "addressGrid": None, "message": message}


# ------------------------------------------------------------------ helpers
def _codes(vocab: np.ndarray, values) -> np.ndarray:
    """Positions of `values` in the sorted vocabulary: -1 for NULL, -2 for
    a value the vocabulary lacks."""
    s = pd.Series(values, dtype=object, copy=False)
    null = s.isna().to_numpy()
    v = s.where(~null, "").to_numpy(dtype=str)
    codes = np.full(len(v), -2, dtype=np.int64)
    # a value wider than the vocabulary's entries is not in it; probing at
    # the vocabulary's own width keeps numpy from widening (copying) the
    # whole vocabulary to the batch's longest string
    fits = np.char.str_len(v) <= vocab.dtype.itemsize // 4
    if len(vocab) and fits.any():
        v = v[fits].astype(vocab.dtype)
        pos = np.minimum(np.searchsorted(vocab, v), len(vocab) - 1)
        codes[fits] = np.where(vocab[pos] == v, pos, -2)
    codes[null] = -1
    return codes


def _decode(vocab: np.ndarray, codes: np.ndarray) -> np.ndarray:
    out = np.full(len(codes), None, dtype=object)
    has = codes >= 0
    out[has] = vocab[codes[has]].astype(object)
    return out


def _ints(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(int64 values with NULL as 0, not-NULL mask) of an integer column in
    any of the dtypes a batch carries it in (int64, float64 with NaN,
    object with None, nullable Int64)."""
    a = pd.array(s, dtype="Int64")
    return a.to_numpy(dtype=np.int64, na_value=0), ~a.isna()


def _is(s: pd.Series, value: str) -> np.ndarray:
    """s == value, with NULL comparing false (SQL WHEN semantics)."""
    return s.eq(value).fillna(False).to_numpy(dtype=bool)


def _strs(s: pd.Series) -> np.ndarray:
    """A string column as an object array, every NULL as None."""
    return s.to_numpy(dtype=object, na_value=None)


def _penalty(i: np.ndarray, l: np.ndarray, l_empty: int,
             differ: int) -> np.ndarray:
    """CASE WHEN i = l THEN 0 WHEN i = '' THEN 5 WHEN l = '' THEN l_empty
    ELSE differ, over `strings` codes: code 0 is '' (the vocabulary always
    holds it and it sorts first); negative codes are NULL or absent and
    equal nothing."""
    return np.where((i == l) & (i >= 0), 0,
                    np.where(i == 0, 5, np.where(l == 0, l_empty, differ)))


def _bits(n: int) -> int:
    return max(1, int(n - 1).bit_length())


def _narrow(a: np.ndarray) -> np.ndarray:
    """`a` in the narrowest signed integer type holding its values: the
    index's pages are what every worker maps."""
    if len(a) == 0:
        return a
    lo, hi = int(a.min()), int(a.max())
    for t in (np.int8, np.int16, np.int32):
        if np.iinfo(t).min <= lo and hi <= np.iinfo(t).max:
            return a.astype(t)
    return a


def _vocabulary(col) -> tuple[np.ndarray, np.ndarray]:
    """(sorted unique non-NULL values as a numpy unicode array, each
    value's position in it) of a pyarrow string column."""
    import pyarrow as pa
    import pyarrow.compute as pc

    vocab = np.asarray(sorted(pc.drop_null(pc.unique(col)).to_pylist()),
                       dtype=str)
    pos = pc.index_in(col, value_set=pa.array(vocab.tolist(), pa.string()))
    return vocab, pc.fill_null(pos, -1).to_numpy(zero_copy_only=False)


# ---------------------------------------------------------------- the index
class LocatorIndex:
    """Columnar, read-only view of a locator pack (layout in the module
    docstring). Build it with from_pack; share it with
    indexfile.IndexFile."""

    ARRAYS = ("zones", "names", "keys", "offsets", "src", "pri",
              "base_score", "cand_id", "valid", "from_addr", "to_addr",
              "x0", "y0", "x1", "y1", "grid", "tail", "l_predir",
              "l_stype", "l_sufdir", "strings")

    def __init__(self, arrays: dict, name_bits: int, block_bits: int,
                 block_min: int):
        for name in self.ARRAYS:
            setattr(self, name, arrays[name])
        self.name_bits = name_bits
        self.block_bits = block_bits
        self.block_min = block_min

    @property
    def meta(self) -> dict:
        return {"name_bits": self.name_bits, "block_bits": self.block_bits,
                "block_min": self.block_min}

    @classmethod
    def from_pack(cls, table) -> LocatorIndex:
        """Build from a collected pack (pyarrow Table with zone_key,
        join_name, block, cands). Rows with a NULL key part are dropped:
        an equi-join never matches them."""
        import pyarrow as pa
        import pyarrow.compute as pc

        keep = pc.and_(pc.and_(pc.is_valid(table["zone_key"]),
                               pc.is_valid(table["join_name"])),
                       pc.is_valid(table["block"]))
        table = table.filter(keep)
        zones, zc = _vocabulary(table["zone_key"])
        names, nc = _vocabulary(table["join_name"])
        block = table["block"].to_numpy().astype(np.int64)
        block_min = int(block.min()) if len(block) else 0
        block_bits = _bits(int(block.max()) - block_min + 1) if len(block) else 1
        name_bits = _bits(len(names))
        if _bits(len(zones)) + name_bits + block_bits > 62:
            raise ValueError("locator pack too wide for a 64-bit pack key")
        key = ((zc.astype(np.int64) << (name_bits + block_bits))
               | (nc.astype(np.int64) << block_bits) | (block - block_min))
        order = np.argsort(key, kind="stable")

        lists = table["cands"].combine_chunks()
        lens = lists.value_lengths().to_numpy(zero_copy_only=False)
        starts = np.asarray(lists.offsets)[:-1] - np.asarray(lists.offsets)[0]
        lens, starts = lens[order].astype(np.int64), starts[order]
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
        gather = (np.repeat(starts - offsets[:-1], lens)
                  + np.arange(offsets[-1], dtype=np.int64))
        cands = lists.flatten().take(gather)
        field = cands.field

        arrays = {"zones": zones, "names": names, "keys": key[order],
                  "offsets": _narrow(offsets)}
        valid = np.ones(len(cands), dtype=bool)
        for f in ("pri", "base_score", "cand_id", "from_addr", "to_addr"):
            arrays[f] = _narrow(pc.fill_null(field(f), 0).to_numpy(
                zero_copy_only=False).astype(np.int64))
            valid &= pc.is_valid(field(f)).to_numpy(zero_copy_only=False)
        arrays["valid"] = valid
        for f in ("x0", "y0", "x1", "y1"):
            arrays[f] = pc.fill_null(field(f).cast(pa.float64()),
                                     np.nan).to_numpy(zero_copy_only=False)
        arrays["src"] = pc.fill_null(
            pc.index_in(field("src"), value_set=pa.array(["usps", "ap"])),
            _SRC_RC).to_numpy(zero_copy_only=False).astype(np.int8)

        # matchAddress's locator part: concat_ws(' ', nullif(l_predir, ''),
        # l_street_name, nullif(l_stype, ''), nullif(l_sufdir, ''))
        null = pa.scalar(None, pa.string())
        parts = [pc.if_else(pc.equal(field(f), ""), null, field(f))
                 for f in ("l_predir", "l_stype", "l_sufdir")]
        parts.insert(1, field("l_street_name"))
        tail = pc.if_else(
            pc.and_(pc.and_(pc.is_null(parts[0]), pc.is_null(parts[1])),
                    pc.and_(pc.is_null(parts[2]), pc.is_null(parts[3]))),
            null, pc.binary_join_element_wise(*parts, " ",
                                              null_handling="skip"))
        cols = {"grid": field("grid"), "tail": tail,
                "l_predir": field("l_predir"), "l_stype": field("l_stype"),
                "l_sufdir": field("l_sufdir")}
        strings, _ = _vocabulary(pa.chunked_array(
            [pa.array([""], pa.string()), *cols.values()]))
        value_set = pa.array(strings.tolist(), pa.string())
        for f, col in cols.items():
            arrays[f] = _narrow(pc.fill_null(
                pc.index_in(col, value_set=value_set), -1).to_numpy(
                    zero_copy_only=False).astype(np.int64))
        arrays["strings"] = strings
        return cls(arrays, name_bits, block_bits, block_min)

    def spans(self, zone_key, join_name, house) -> tuple[np.ndarray, ...]:
        """(rows, starts, stops): for each row whose pack key is in the
        index, its candidate span. `house` is (values, not-NULL mask);
        the block is house div 100, truncating like SQL `div`."""
        h, has = house
        zc = _codes(self.zones, zone_key)
        nc = _codes(self.names, join_name)
        block = np.where(h >= 0, h // BLOCK, -((-h) // BLOCK)) - self.block_min
        ok = (has & (zc >= 0) & (nc >= 0) & (block >= 0)
              & (block < (1 << self.block_bits)))
        rows = np.flatnonzero(ok)
        key = ((zc[rows] << (self.name_bits + self.block_bits))
               | (nc[rows] << self.block_bits) | block[rows])
        pos = np.searchsorted(self.keys, key)
        hit = pos < len(self.keys)
        hit[hit] = self.keys[pos[hit]] == key[hit]
        rows, pos = rows[hit], pos[hit]
        return rows, self.offsets[pos], self.offsets[pos + 1]


# ---------------------------------------------------------------- the match
def match(parsed: pd.DataFrame, index: LocatorIndex,
          accept_score: int) -> pd.DataFrame:
    """The 8 result columns (MATCH_COLUMNS) for a batch of parsed rows.

    `parsed` holds the staged columns that extraction's cleanse/parse
    kernel produces (cleanse_parse_batch, which parse_input and geocode()
    run) and the match reads: cleansed_street, cleansed_zone, zone_key,
    addr_type, house, predir, street_name, stype, sufdir and error. If the vectorized match
    raises, the batch re-runs row at a time and a row that still raises
    becomes an error row carrying str(ex)[:500] (F5)."""
    from ..extraction import capture_per_row

    return capture_per_row(lambda p: _match(p, index, accept_score),
                           error_result, parsed)


def _match(p: pd.DataFrame, index: LocatorIndex,
           accept_score: int) -> pd.DataFrame:
    n = len(p)
    house, has_house = _ints(p["house"])
    error = _strs(p["error"])
    has_err = p["error"].notna().to_numpy()
    street_name = _strs(p["street_name"])
    zone_key = _strs(p["zone_key"])
    join_name = np.where(_is(p["addr_type"], "POBOX"), _POBOX_NAME,
                         street_name)

    # probe: a row with a captured error never matches (F5 precedence)
    rows, starts, stops = index.spans(zone_key, join_name,
                                      (house, has_house & ~has_err))
    lens = stops - starts
    row = np.repeat(rows, lens)
    c = (np.repeat(starts - (np.cumsum(lens) - lens), lens)
         + np.arange(lens.sum(), dtype=np.int64))

    # J4: score every candidate of the row's block
    strings = index.strings
    ip, isuf, ist = (_codes(strings, p[f])[row]
                     for f in ("predir", "sufdir", "stype"))
    # the index stores integers in their narrowest type: widen them
    base, pri, cand_id, lo, hi = (
        getattr(index, f)[c].astype(np.int64)
        for f in ("base_score", "pri", "cand_id", "from_addr", "to_addr"))
    score = (base
             - _penalty(ip, index.l_predir[c], 15, 25)
             - _penalty(isuf, index.l_sufdir[c], 15, 25)
             - _penalty(ist, index.l_stype[c], 10, 15))
    h = house[row]
    rank = (score * 10 + (9 - pri)) * 100_000_000 + (99_999_999 - cand_id)
    ok = np.flatnonzero(index.valid[c] & (h >= lo) & (h <= hi)
                        & (score >= accept_score) & (rank > -1))
    # J5: per row, the highest rank; the first such candidate on a tie
    ok = ok[np.lexsort((ok, -rank[ok], row[ok]))]
    first = np.ones(len(ok), dtype=bool)
    first[1:] = row[ok[1:]] != row[ok[:-1]]
    win = ok[first]
    wr, wc, hw = row[win], c[win], h[win]

    x, y = np.zeros(n), np.zeros(n)
    out_score = np.zeros(n, dtype=np.int64)
    locator, match_addr, std_addr, grid = (
        np.full(n, None, dtype=object) for _ in range(4))
    # position along the winning segment; exact matchers are degenerate
    # segments (from = to -> t = 0 -> x0 bit-exact)
    lo, hi = lo[win], hi[win]
    seg = hi > lo
    t = np.zeros(len(wc))
    t[seg] = (hw[seg] - lo[seg]).astype(np.float64) / (
        hi[seg] - lo[seg]).astype(np.float64)
    x[wr] = index.x0[wc] + t * (index.x1[wc] - index.x0[wc])
    y[wr] = index.y0[wc] + t * (index.y1[wc] - index.y0[wc])
    # the winner's score is the leading digits of its rank key
    out_score[wr] = rank[win] // 1_000_000_000
    src = index.src[wc]
    locator[wr] = _LOCATOR_BY_SRC[src]
    grids = _decode(strings, index.grid[wc])
    grid[wr] = grids
    tails = _decode(strings, index.tail[wc])
    pre, name, stype, suf = (_strs(p[f])[wr] for f in
                             ("predir", "street_name", "stype", "sufdir"))
    for i, r in enumerate(wr):
        hs = str(hw[i])
        if src[i] == 0:
            zk = zone_key[r]
            match_addr[r] = None if zk is None else f"P.O. BOX {hs}, {zk}"
            std_addr[r] = f"po box {hs}"
            continue
        if grids[i] is not None:
            head = hs if tails[i] is None else f"{hs} {tails[i]}"
            match_addr[r] = f"{head}, {grids[i]}"
        parts = (hs, _expand(pre[i]), name[i] or None, stype[i] or None,
                 _expand(suf[i]))
        std_addr[r] = " ".join(v for v in parts if v is not None).lower()

    message = np.full(n, None, dtype=object)
    unmatched = np.ones(n, dtype=bool)
    unmatched[wr] = False
    missing = _is(p["cleansed_street"], "") | _is(p["cleansed_zone"], "")
    cs, cz = _strs(p["cleansed_street"]), _strs(p["cleansed_zone"])
    no_candidates = MSG_NO_CANDIDATES.format(score=accept_score)
    for r in np.flatnonzero(unmatched):
        if has_err[r]:
            message[r] = error[r]
        elif not missing[r]:
            message[r] = no_candidates
        elif cs[r] is not None and cz[r] is not None:
            message[r] = MSG_MISSING_TMPL.format(host=HOST, street=cs[r],
                                                 zone=cz[r])
    return pd.DataFrame({
        "x": x, "y": y, "score": out_score, "locator": locator,
        "matchAddress": match_addr, "standardizedAddress": std_addr,
        "addressGrid": grid, "message": message,
    })


def _expand(d):
    """N/S/E/W -> north/south/east/west; anything else is NULL."""
    return None if d is None else DIRECTION_WORDS.get(d)
