"""The one UDF helper behind every sketch-reading, key-hashing and
embedding Column and SQL function: ``pyspark.sql.functions.arrow_udf``
(scalar, one ``pa.Array`` per argument in, one ``pa.Array`` out), in five
shapes:

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
* :func:`vector_udf` — an ``array<float|double>`` embedding column as one
  ``(rows, dim)`` float64 matrix; the result is written back to a scalar,
  (nested) ``array`` or struct type. Lists are read by
  :func:`list_values` and written by :func:`list_array`, in every shape.

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


def list_values(a: pa.Array) -> "tuple[pa.Array, np.ndarray]":
    """A list column's elements (a NULL row holds none) and each row's
    length (0 for a NULL row)."""
    return a.flatten(), pc.fill_null(pc.list_value_length(a), 0).to_numpy()


def list_array(values: pa.Array, lens: np.ndarray, mask, out: pa.DataType):
    """The ``out``-typed list whose row i holds the next ``lens[i]`` of
    ``values``; ``mask`` (boolean Arrow array or None) marks NULL rows."""
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    return pa.ListArray.from_arrays(offsets, values, type=out, mask=mask)


def read_vectors(a: pa.Array, name: str, dim: "int | None" = None
                 ) -> np.ndarray:
    """A NULL-free list column of vectors as one ``(rows, dim)`` float64
    matrix by one flatten and one reshape (a NULL element reads as NaN).
    Vectors of unequal lengths, or not of length ``dim`` when given, raise
    a ValueError naming the column ``name`` and the lengths found."""
    flat, lens = list_values(a)
    if dim is None:
        dim = int(lens[0]) if len(lens) else 0
    if (lens != dim).any():
        raise ValueError(
            f"vector column {name!r} holds vectors of lengths "
            f"{np.unique(lens)[:8].tolist()}; every vector needs length "
            f"{dim}")
    return flat.cast(pa.float64()).to_numpy(
        zero_copy_only=False).reshape(len(lens), dim)


def write(res, ok: np.ndarray, out: pa.DataType) -> pa.Array:
    """``res``, a result on the rows where ``ok`` holds, as an ``out``-typed
    array over all rows (NULL elsewhere): a struct takes a tuple of field
    results, a list an array of rows (2-D, or 3-D for a nested list) or a
    ``(flat values, lengths)`` pair, any other type a 1-D array."""
    mask = None if ok.all() else pa.array(~ok)
    if pa.types.is_struct(out):
        return pa.StructArray.from_arrays(
            [write(r, ok, f.type) for r, f in zip(res, out)],
            fields=list(out), mask=mask)
    if not pa.types.is_list(out):
        full = np.zeros(len(ok), dtype=out.to_pandas_dtype())
        full[ok] = res
        return _masked(full, ok, out)
    values, lens = res if isinstance(res, tuple) else (
        res.reshape(-1, *res.shape[2:]), res.shape[1])
    full = np.zeros(len(ok), dtype=np.int64)
    full[ok] = lens   # a NULL row holds nothing
    return list_array(write(values, np.ones(len(values), dtype=bool),
                            out.value_type), full, mask, out)


def vector_udf(ddl: str, fn: Callable, name: str, dim: int) -> Udf:
    """``fn(X, *extra)`` over the vector column ``name``: ``X`` is the
    ``(rows, dim)`` matrix (:func:`read_vectors`) of the rows where no
    argument is NULL, and extra argument columns arrive as numpy arrays
    on those rows. A NULL in any argument gives NULL (:func:`write`); a
    batch without a non-NULL row never calls ``fn``."""

    def batch(out, *arrays):
        ok = _valid(arrays)
        if not ok.any():
            return pa.nulls(len(ok), out)
        if not ok.all():
            arrays = [a.filter(pa.array(ok)) for a in arrays]
        return write(fn(read_vectors(arrays[0], name, dim),
                        *(a.to_numpy(zero_copy_only=False)
                          for a in arrays[1:])), ok, out)

    return Udf(ddl, batch)


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
        flat, lens = list_values(keys)
        res = _masked(probe(_values(flat).view(np.uint64)), _valid((flat,)),
                      out.value_type)
        return list_array(res, lens,
                          keys.is_null() if keys.null_count else None, out)

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
