"""Grouped-aggregate (UDAF-style) sketch builders for the DataFrame and
``spark.sql`` surfaces::

    from grenier_spark.functions.aggregates import hll_agg_col
    docs.groupBy("source").agg(hll_agg_col("tokens", p=12).alias("sketch"))

    register_sql_aggregates(spark)          # then, in plain SQL:
    SELECT source, hll_card(hll_agg(tokens)) AS est
    FROM docs GROUP BY source

Each aggregate returns the sketch's serialized public wire bytes
(``core.hll.to_bytes`` dense format, grenier ``[p, reg_1..reg_m]``
hll/hll.ml:161-172 layout for HLL), so the result column composes with the
scalar estimator functions (``hll_card``, ``bloom_cardinality``,
``kll_quantile``, ...) from :mod:`grenier_spark.functions.register` and
with :func:`grenier_spark.functions.hll_merge_col` for sketch algebra.

Token hashing is the canonical chain (``wang64`` of the int64-widened
token, reference hll/test.ml:7) via the SAME kind-table update the
distributed build uses: each aggregate is an Arrow GROUPED_AGG UDF
(``pa.Array -> bytes``) reading its group with the build's own reader
(``sketch_build._read``), so for the exact-merge kinds (hll / cms /
bloom / ...) the emitted bytes are BIT-IDENTICAL to
``operators.sketch_build.build_sketches`` over the same rows
(tests/test_spark_pipeline.py::test_grouped_agg_udaf_byte_parity).

Scale caveat (why :func:`operators.sketch_build.build_sketches` remains
the 100-TB path): Spark executes GROUPED_AGG UDFs as *complete*
aggregates — every raw row shuffles to its group's reducer before the UDF
runs; there is no partial-aggregation/combine step. That is the right
trade for interactive SQL over modest groups, and exactly the wrong one at
10^12 sequences, where ``build_sketches``' mapInArrow partials + two-level
sketch-row merge keeps token-scale data out of the shuffle entirely.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from ..operators.sketch_build import _read, get_kind


def _make_agg_udf(kind: str, params: dict):
    """The one GROUPED_AGG UDF builder both surfaces share (a fix to the
    kernel sequence must reach the DataFrame and SQL paths together).
    Created lazily per call: arrow_udf parses its return type through the
    active session."""
    get_kind(kind)

    @arrow_udf("binary")
    def _agg(xs: pa.Array) -> bytes:
        k = get_kind(kind)
        state = k.new(params)
        # one update per group: the same histogram/chunk kernel as the
        # distributed partial builder => byte parity for the exact-merge
        # kinds; kll/tdigest/ddsum are deterministic for a given value
        # order, but that order is the group's row order.
        values, _ = _read(xs, np.array([0, len(xs)]))
        k.update(state, values)
        return state.to_bytes()

    return _agg


def sketch_agg_col(kind: str, col: "Column | str", **params) -> Column:
    """A grouped-aggregate Column building one ``kind`` sketch per group.

    ``kind`` and ``params`` are those of
    :class:`operators.sketch_build.SketchSpec` (the kind table
    ``operators.sketch_build.KINDS``); an unknown kind raises ValueError.
    """
    c = F.col(col) if isinstance(col, str) else col
    return _make_agg_udf(kind, params)(c)


def hll_agg_col(col: "Column | str", p: int = 12) -> Column:
    return sketch_agg_col("hll", col, p=p)


def cms_agg_col(col: "Column | str", depth: int = 5, width: int = 256,
                seed: int = 0) -> Column:
    return sketch_agg_col("cms", col, depth=depth, width=width, seed=seed)


def bloom_agg_col(col: "Column | str", m: int = 4096, k: int = 5,
                  seed: int = 0) -> Column:
    return sketch_agg_col("bloom", col, m=m, k=k, seed=seed)


def csk_agg_col(col: "Column | str", depth: int = 5, width: int = 256,
                seed: int = 0) -> Column:
    return sketch_agg_col("csk", col, depth=depth, width=width, seed=seed)


def kmv_agg_col(col: "Column | str", k: int = 256) -> Column:
    return sketch_agg_col("kmv", col, k=k)


def mg_agg_col(col: "Column | str", k: int = 256) -> Column:
    return sketch_agg_col("mg", col, k=k)


def kll_agg_col(col: "Column | str", k: int = 200, seed: int = 42) -> Column:
    return sketch_agg_col("kll", col, k=k, seed=seed)


def tdigest_agg_col(col: "Column | str", delta: int = 200) -> Column:
    return sketch_agg_col("tdigest", col, delta=delta)


def fd_agg_col(col: "Column | str", ell: int = 16, *, dim: int) -> Column:
    """Frequent Directions over an array<float*> vector column (one input
    vector per row, fixed ``dim``); see core/freqdirs.py. Rows flatten and
    the kernel reshapes by ``dim``, so ragged vectors fail loudly."""
    return sketch_agg_col("fd", col, ell=ell, dim=dim)


def req_agg_col(col: "Column | str", k: int = 32,
                seed: int = 42) -> Column:
    """REQ (PODS'21 relative-error quantiles) over a scalar double column
    — tail-accurate rank estimates; order-sensitive like kll (deterministic
    for a given group row order)."""
    return sketch_agg_col("req", col, k=k, seed=seed)


def dd_agg_col(col: "Column | str", alpha: float = 0.01) -> Column:
    """DDSketch over a scalar double column (core/ddsketch.py) — the
    order-insensitive quantile aggregate: byte parity with the distributed
    build like hll/cms, not just determinism."""
    return sketch_agg_col("dd", col, alpha=alpha)


def ddsum_agg_col(col: "Column | str") -> Column:
    return sketch_agg_col("ddsum", col)


def mom_agg_col(col: "Column | str") -> Column:
    return sketch_agg_col("mom", col)


def register_sql_aggregates(spark, hll_p: int = 12, cms_depth: int = 5,
                            cms_width: int = 256, bloom_m: int = 4096,
                            bloom_k: int = 5, kmv_k: int = 256,
                            mg_k: int = 256, kll_k: int = 200,
                            tdigest_delta: int = 200,
                            dd_alpha: float = 0.01,
                            req_k: int = 32) -> None:
    """Register the aggregates for ``spark.sql`` string queries
    (``hll_agg``, ``cms_agg``, ``bloom_agg``, ``kmv_agg``, ``mg_agg``,
    ``kll_agg``, ``tdigest_agg``, ``ddsum_agg``). SQL cannot pass constructor params,
    so sizes are fixed at registration time — re-register to change them.
    Composes with the scalar estimators from
    :func:`register.register_sql_functions`.
    """
    regs = {
        "hll_agg": ("hll", {"p": hll_p}),
        "cms_agg": ("cms", {"depth": cms_depth, "width": cms_width,
                            "seed": 0}),
        "bloom_agg": ("bloom", {"m": bloom_m, "k": bloom_k, "seed": 0}),
        "kmv_agg": ("kmv", {"k": kmv_k}),
        "mg_agg": ("mg", {"k": mg_k}),
        "csk_agg": ("csk", {"depth": cms_depth, "width": cms_width,
                            "seed": 0}),
        "kll_agg": ("kll", {"k": kll_k, "seed": 42}),
        "tdigest_agg": ("tdigest", {"delta": tdigest_delta}),
        "dd_agg": ("dd", {"alpha": dd_alpha}),
        "req_agg": ("req", {"k": req_k, "seed": 42}),
        "ddsum_agg": ("ddsum", {}),
        "mom_agg": ("mom", {}),
    }
    for name, (kind, params) in regs.items():
        spark.udf.register(name, _make_agg_udf(kind, params))
