"""The one UDF helper behind every sketch-reading and key-hashing Column
and SQL function: ``pyspark.sql.functions.arrow_udf`` (scalar, one
``pa.Array`` per argument in, one ``pa.Array`` out), in three shapes:

* :func:`row_udf` — per row: each sketch argument loads through
  ``get_kind(kind).load``, plain arguments (quantile lists, ``q``, key
  arrays) pass through as Python values, and ``fn``'s result lands in an
  Arrow array of the declared type (tuples for structs).
* :func:`probe_udf` — a sketch column and an int64 key column: each distinct
  blob in the batch loads once and answers the keys it owns with one
  vectorized call (the common shape is one broadcast sketch against many
  keys; a per-row probe would be per-row Python).
* :func:`key_udf` — vectorized over integer columns (hashes, buckets).

Integer columns are read as Arrow ``int64`` with their validity mask kept,
so a NULL never promotes a batch to float64 (which rounds keys above 2^53).
In every shape a NULL in any argument gives a NULL result.

UDFs are built lazily, when a :class:`Udf` is called or registered:
arrow_udf parses its DDL type through the active session, so module import
stays session-free.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.sketch_build import get_kind


class Udf:
    """``batch(out_type, *arrays) -> pa.Array`` with a DDL return type;
    calling it on columns (or names) builds the arrow_udf and applies it,
    :meth:`udf` builds it for ``spark.udf.register``."""

    def __init__(self, ddl: str, batch: Callable):
        self.ddl = ddl
        self.batch = batch

    def udf(self):
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import DataType

        dtype = DataType.fromDDL(self.ddl)
        out, batch = to_arrow_type(dtype), self.batch

        def run(*arrays):
            return batch(out, *arrays)

        return arrow_udf(run, dtype)

    def __call__(self, *cols: "Column | str") -> Column:
        return self.udf()(*(F.col(c) if isinstance(c, str) else c
                            for c in cols))


def _valid(arrays) -> np.ndarray:
    """Rows where no argument is NULL."""
    ok = np.ones(len(arrays[0]), dtype=bool)
    for a in arrays:
        if a.null_count:
            ok &= a.is_valid().to_numpy(zero_copy_only=False)
    return ok


def _values(a: pa.Array) -> np.ndarray:
    """Exact int64 values of an integer column; NULL slots read as 0."""
    if a.type != pa.int64():
        a = a.cast(pa.int64())
    return (pc.fill_null(a, 0) if a.null_count else a).to_numpy(
        zero_copy_only=False)


def _masked(values: np.ndarray, ok: np.ndarray, out: pa.DataType):
    return pa.array(values, mask=None if ok.all() else ~ok, type=out)


def row_udf(ddl: str, fn: Callable, *kinds: "str | None") -> Udf:
    """Per-row ``fn``: argument i is loaded as a ``kinds[i]`` sketch, or
    passed as its Python value where ``kinds[i]`` is None."""

    def batch(out, *arrays):
        loads = [get_kind(k).load if k else None for k in kinds]
        res = []
        for row in zip(*(a.to_pylist() for a in arrays)):
            res.append(None if any(v is None for v in row) else fn(
                *(ld(v) if ld else v for ld, v in zip(loads, row))))
        return pa.array(res, type=out)

    return Udf(ddl, batch)


def probe_udf(ddl: str, kind: str, method: str) -> Udf:
    """``load(blob).<method>(keys)`` over (sketch, int64 key) rows, one
    vectorized call per distinct blob; keys reach it as uint64 bits."""

    def batch(out, blobs, keys):
        ok = _valid((blobs, keys))
        ks = _values(keys).view(np.uint64)
        enc = pc.dictionary_encode(blobs)
        codes = _values(enc.indices)
        res = np.zeros(len(ok), dtype=out.to_pandas_dtype())
        load = get_kind(kind).load
        for c, b in enumerate(enc.dictionary.to_pylist()):
            m = ok & (codes == c)
            if m.any():
                res[m] = getattr(load(b), method)(ks[m])
        return _masked(res, ok, out)

    return Udf(ddl, batch)


def key_udf(ddl: str, fn: Callable) -> Udf:
    """Vectorized ``fn`` over integer columns: it gets each column's
    numpy values on the rows where none is NULL."""

    def batch(out, *arrays):
        ok = _valid(arrays)
        res = np.zeros(len(ok), dtype=out.to_pandas_dtype())
        res[ok] = fn(*(_values(a)[ok] for a in arrays))
        return _masked(res, ok, out)

    return Udf(ddl, batch)
