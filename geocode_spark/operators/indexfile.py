"""One read-only columnar index, shared by every Python worker as one file.

An index class names its numpy arrays in `ARRAYS`, reports the scalars it
needs besides them in `meta`, and is rebuilt by `cls(arrays, **meta)`.
The match kernel's LocatorIndex (operators.match) and kNN's CellIndex
(operators.cellindex) are two such classes.

IndexFile.publish writes the arrays to ONE file and ships it with
SparkContext.addFile; each Python worker maps that file read-only
(IndexFile.load), so the index's pages sit once in the page cache however
many workers probe it, and no worker builds a private copy.
"""

from __future__ import annotations

import atexit
import mmap
import os
import shutil
import tempfile
import uuid

import numpy as np

_SCRATCH: list[str] = []


def _scratch_dir() -> str:
    if not _SCRATCH:
        d = tempfile.mkdtemp(prefix="geocode-index-")
        atexit.register(shutil.rmtree, d, True)
        _SCRATCH.append(d)
    return _SCRATCH[0]


# the indexes this process has mapped, by file name: a Python worker serves
# many tasks, and each task unpickles its own IndexFile
_MAPPED: dict = {}
_MAPPED_MAX = 8


class IndexFile:
    """A published index: the picklable handle a UDF closure carries (file
    name, index class, array layout, meta), never the arrays themselves."""

    def __init__(self, name: str, kind: type, layout: dict, meta: dict):
        self.name = name
        self.kind = kind
        self.layout = layout
        self.meta = meta

    @classmethod
    def publish(cls, index, sc) -> IndexFile:
        """Write the index to one file and add it to the SparkContext."""
        kind = type(index)
        path = os.path.join(_scratch_dir(),
                            f"{kind.__name__.lower()}-{uuid.uuid4().hex}.bin")
        layout, offset = {}, 0
        with open(path, "wb") as f:
            for name in kind.ARRAYS:
                a = np.ascontiguousarray(getattr(index, name))
                pad = -offset % 64
                f.write(b"\0" * pad)
                offset += pad
                layout[name] = (a.dtype.str, len(a), offset)
                f.write(a.tobytes())
                offset += a.nbytes
        sc.addFile(path)
        return cls(os.path.basename(path), kind, layout, index.meta)

    def load(self):
        """The index, as this process's read-only mapping of the published
        file (mapped once per process)."""
        index = _MAPPED.get(self.name)
        if index is None:
            from pyspark import SparkFiles

            index = self._map(SparkFiles.get(self.name))
            if len(_MAPPED) >= _MAPPED_MAX:
                _MAPPED.pop(next(iter(_MAPPED)))
            _MAPPED[self.name] = index
        return index

    def _map(self, path: str):
        with open(path, "rb") as f:
            buf = (mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
                   if os.fstat(f.fileno()).st_size else b"")
        arrays = {
            name: (np.frombuffer(buf, dtype=np.dtype(dt), count=n,
                                 offset=offset)
                   if n else np.empty(0, dtype=np.dtype(dt)))
            for name, (dt, n, offset) in self.layout.items()
        }
        return self.kind(arrays, **self.meta)
