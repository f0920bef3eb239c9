"""kNN's cell index and its top-k kernel (operators.spatial.knn_cell).

The candidates of a kNN search are bucketed once by grid cell into a
columnar, read-only CellIndex, shared with the Python workers through
indexfile.IndexFile. CellIndex.topk takes an Arrow batch of points to
knn_sql's rows: per point, the k nearest candidates of the 3x3 cells around
its own. The quantization and the distance are knn_sql's (quantize_exprs
and its dist_sq), restated in numpy in their operation order, so the rows
equal the DuckDB oracle's bit for bit.

This module is what a worker imports to run the kernel; it stays apart from
operators.spatial, whose import would cost each worker ~6 MB.
"""

from __future__ import annotations

import numpy as np

_NEIGHBOR_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def _cells(x, y, res: int, bbox):
    """(ix, iy) of Arrow float64 columns, as knn_sql's quantize_exprs
    computes them in DuckDB: a NULL quantizes to 0, since greatest() skips
    it, and NaN to 2^res - 1, since NaN is the greatest double."""
    x0, y0, x1, y1 = bbox
    n = 1 << res
    out = []
    for col, lo, span in ((x, x0, x1 - x0), (y, y0, y1 - y0)):
        q = np.floor((col.to_numpy(zero_copy_only=False) - lo) / span * n)
        q = np.where(np.isnan(q), n - 1, np.clip(q, 0, n - 1))
        q[_nulls(col)] = 0
        out.append(q.astype(np.int64))
    return out


def _nulls(col) -> np.ndarray:
    return col.is_null().to_numpy(zero_copy_only=False)


class CellIndex:
    """The candidates of a kNN search bucketed by grid cell: a columnar,
    read-only index, shared with indexfile.IndexFile.

    `keys` holds each occupied cell's key, ix << res | iy, sorted; the
    candidates of keys[i] are rows offsets[i]:offsets[i + 1] of cand_id,
    x and y, and the rows are sorted by (key, cand_id). `xy_null` marks a
    candidate with a NULL coordinate (x and y hold NaN there) and
    `id_null` one with a NULL cand_id (cand_id holds 0)."""

    ARRAYS = ("keys", "offsets", "cand_id", "x", "y", "xy_null", "id_null")

    def __init__(self, arrays: dict, res: int, bbox):
        for name in self.ARRAYS:
            setattr(self, name, arrays[name])
        self.res = res
        self.bbox = tuple(bbox)

    @property
    def meta(self) -> dict:
        return {"res": self.res, "bbox": self.bbox}

    @classmethod
    def from_arrow(cls, table, res: int, bbox) -> CellIndex:
        """Build from a (cand_id, x, y) Arrow table."""
        import pyarrow as pa

        cand_id = table["cand_id"].cast(pa.int64()).combine_chunks()
        x = table["x"].cast(pa.float64()).combine_chunks()
        y = table["y"].cast(pa.float64()).combine_chunks()
        ix, iy = _cells(x, y, res, bbox)
        key = (ix << res) | iy
        id_null = _nulls(cand_id)
        ids = cand_id.fill_null(0).to_numpy()
        order = np.lexsort((ids, key))
        key = key[order]
        first = np.ones(len(key), dtype=bool)
        first[1:] = key[1:] != key[:-1]
        cells = np.flatnonzero(first)
        arrays = {"keys": key[cells],
                  "offsets": np.r_[cells, len(key)].astype(np.int64),
                  "cand_id": ids[order],
                  "x": x.to_numpy(zero_copy_only=False)[order],
                  "y": y.to_numpy(zero_copy_only=False)[order],
                  "xy_null": (_nulls(x) | _nulls(y))[order],
                  "id_null": id_null[order]}
        return cls(arrays, res, bbox)

    def topk(self, batch, k: int):
        """knn_sql's rows for an Arrow batch of (primary_key, x, y) points:
        per point, its k nearest candidates of the 3x3 cells around its
        own, ordered by (dist_sq, cand_id) with NULLs last and ranked from
        1. dist_sq is NULL where either side has a NULL coordinate."""
        import pyarrow as pa

        px, py = batch.column(1), batch.column(2)
        ix, iy = _cells(px, py, self.res, self.bbox)
        # every point's 9 neighbour cells; one off the grid matches nothing
        n = 1 << self.res
        jx = (ix[:, None] + [dx for dx, _ in _NEIGHBOR_OFFSETS]).ravel()
        jy = (iy[:, None] + [dy for _, dy in _NEIGHBOR_OFFSETS]).ravel()
        probe = np.flatnonzero((jx >= 0) & (jx < n) & (jy >= 0) & (jy < n))
        key = (jx[probe] << self.res) | jy[probe]
        pos = np.searchsorted(self.keys, key)
        hit = pos < len(self.keys)
        hit[hit] = self.keys[pos[hit]] == key[hit]
        probe, pos = probe[hit], pos[hit]
        starts = self.offsets[pos]
        lens = self.offsets[pos + 1] - starts
        # one (point, candidate) pair per candidate of each hit cell
        r = np.repeat(probe // len(_NEIGHBOR_OFFSETS), lens)
        c = (np.repeat(starts - (np.cumsum(lens) - lens), lens)
             + np.arange(lens.sum(), dtype=np.int64))
        # knn_sql's dist_sq, in its operation order
        qx = px.to_numpy(zero_copy_only=False)[r]
        qy = py.to_numpy(zero_copy_only=False)[r]
        dx, dy = qx - self.x[c], qy - self.y[c]
        dist = dx * dx + dy * dy
        cand_id, id_null = self.cand_id[c], self.id_null[c]
        null = (_nulls(px) | _nulls(py))[r] | self.xy_null[c]
        # NULLs rank last: a NULL dist_sq after every distance (NaN
        # included), a NULL cand_id after every id
        order = np.lexsort((cand_id, id_null, np.where(null, 0.0, dist),
                            null, r))
        r = r[order]
        counts = np.bincount(r, minlength=len(batch))
        rank = (np.arange(len(r)) + 1
                - np.repeat(np.cumsum(counts) - counts, counts))
        top = np.flatnonzero(rank <= k)
        pick = order[top]
        return pa.RecordBatch.from_arrays(
            [batch.column(0).take(pa.array(r[top])),
             pa.array(rank[top], pa.int64()),
             pa.array(cand_id[pick], pa.int64(), mask=id_null[pick]),
             pa.array(dist[pick], pa.float64(), mask=null[pick])],
            names=["primary_key", "rank", "cand_id", "dist_sq"])
