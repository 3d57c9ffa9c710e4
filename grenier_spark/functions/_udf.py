"""The one UDF helper behind every sketch-reading and key-hashing Column
and SQL function: ``pyspark.sql.functions.arrow_udf`` (scalar, one
``pa.Array`` per argument in, one ``pa.Array`` out), in four shapes:

* :func:`row_udf` — per row: each sketch argument loads through
  ``get_kind(kind).load``, plain arguments (quantile lists, ``q``, key
  arrays) pass through as Python values, and ``fn``'s result lands in an
  Arrow array of the declared type (tuples for structs).
* :func:`probe_udf` — a sketch column and an int64 key column: each distinct
  blob in the batch loads once and answers the keys it owns with one
  vectorized call (the common shape is one broadcast sketch against many
  keys; a per-row probe would be per-row Python).
* :func:`broadcast_probe_udf` — one sketch shipped as a broadcast variable
  against an int64 key column or an ``array<bigint>`` key column: the
  result has the key column's shape. The sketch loads once per Python
  worker, memoized on the broadcast object itself, so no batch re-reads
  or hashes the blob. The dedup, decontamination and join prefilters
  probe through it.
* :func:`key_udf` — vectorized over integer columns (hashes, buckets).

Integer columns are read as Arrow ``int64`` with their validity mask kept,
so a NULL never promotes a batch to float64 (which rounds keys above 2^53).
In every shape a NULL in any argument gives a NULL result; in an
``array<bigint>`` key column a NULL element gives a NULL element.

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

    def __init__(self, ddl: str, batch: Callable, deterministic: bool = True):
        self.ddl = ddl
        self.batch = batch
        self.deterministic = deterministic

    def udf(self):
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import DataType

        dtype = DataType.fromDDL(self.ddl)
        out, batch = to_arrow_type(dtype), self.batch

        def run(*arrays):
            return batch(out, *arrays)

        f = arrow_udf(run, dtype)
        return f if self.deterministic else f.asNondeterministic()

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


_LOADED: dict = {}   # broadcast -> its loaded sketch, per Python worker


def _broadcast_sketch(kind: str, bc):
    """``bc``'s sketch, loaded once per Python worker. A worker keeps one
    broadcast object per broadcast id, so the memo keys on that object
    (holding it keeps the identity from being reused); at most four stay
    loaded."""
    sk = _LOADED.get(bc)
    if sk is None:
        if len(_LOADED) >= 4:
            _LOADED.clear()
        sk = _LOADED[bc] = get_kind(kind).load(bc.value)
    return sk


def broadcast_probe_udf(ddl: str, kind: str, method: str, bc,
                        deterministic: bool = True) -> Udf:
    """``load(bc.value).<method>(keys)`` over an int64 key column, or over
    every element of an ``array<bigint>`` key column (``ddl`` is then an
    array type), one vectorized call per batch; keys reach it as uint64
    bits. ``bc`` is a ``SparkContext.broadcast`` of the sketch bytes."""

    def batch(out, keys):
        probe = getattr(_broadcast_sketch(kind, bc), method)
        if not pa.types.is_list(keys.type):
            return _masked(probe(_values(keys).view(np.uint64)),
                           _valid((keys,)), out)
        flat = keys.flatten()   # a NULL cell holds no element
        res = _masked(probe(_values(flat).view(np.uint64)), _valid((flat,)),
                      out.value_type)
        lens = pc.fill_null(pc.list_value_length(keys), 0).to_numpy()
        offsets = np.zeros(len(keys) + 1, dtype=np.int32)
        np.cumsum(lens, out=offsets[1:])
        return pa.ListArray.from_arrays(
            offsets, res, type=out,
            mask=keys.is_null() if keys.null_count else None)

    return Udf(ddl, batch, deterministic)


def key_udf(ddl: str, fn: Callable) -> Udf:
    """Vectorized ``fn`` over integer columns: it gets each column's
    numpy values on the rows where none is NULL."""

    def batch(out, *arrays):
        ok = _valid(arrays)
        res = np.zeros(len(ok), dtype=out.to_pandas_dtype())
        res[ok] = fn(*(_values(a)[ok] for a in arrays))
        return _masked(res, ok, out)

    return Udf(ddl, batch)
