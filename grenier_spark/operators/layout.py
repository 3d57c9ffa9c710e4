"""Z-order (Morton) data layout clustering for scan pruning.

At 100 TB the cheapest query is the one that never reads the file: parquet
footers carry per-file min/max column statistics, and engines (Spark,
Trino, DuckDB, Iceberg/Delta data skipping) prune files whose ranges miss
the predicate. Range stats are only selective if the LAYOUT clusters the
data — sorting by one column makes its stats tight and every other
column's useless. Z-ordering interleaves the bits of k columns so files
are tight on ALL of them at once: bit i of column j lands at position
``i*k + j`` of the z-value, sorting by which walks the k-dimensional
Morton curve.

Everything here is exact integer arithmetic in unrolled JVM column
expressions (shift/and/or — whole-stage codegen, no UDF, no shuffle for
the key itself), with a textual SQL twin (:func:`zorder_sql`) so the
chain is oracle-checkable bit for bit. ``zorder_layout`` then
``repartitionByRange`` on the key — one range shuffle, Spark's range
sampler picks balanced boundaries — and sorts within partitions, which is
exactly the write pattern that makes every output file a small
hyperrectangle of the key space.

Columns are masked to ``bits`` low bits first (both engines), so negative
or oversized values wrap identically instead of corrupting the
interleave. For value domains wider than 2^bits, pre-bucket (e.g.
``F.floor(col / width)``) — layout needs locality, not full precision.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key", "zorder_sql", "zorder_layout"]


def zorder_key(cols: Sequence[str], bits: int = 16) -> Column:
    """The Morton interleave of ``cols`` (masked to ``bits`` low bits
    each) as one BIGINT column; ``len(cols) * bits`` must fit in 63."""
    cols = list(cols)
    k = len(cols)
    if k < 1:
        raise ValueError("zorder_key needs at least one column")
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a signed long")
    mask = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        v = F.col(c).cast("long").bitwiseAND(F.lit(mask))
        for i in range(bits):
            bit = F.shiftright(v, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


def zorder_sql(exprs: Sequence[str], bits: int = 16) -> str:
    """DuckDB/ANSI twin of :func:`zorder_key` over SQL expressions —
    the identical unrolled shift/mask chain, BIGINT throughout."""
    exprs = list(exprs)
    k = len(exprs)
    mask = (1 << bits) - 1
    terms = []
    for j, e in enumerate(exprs):
        v = f"(({e})::BIGINT & {mask})"
        for i in range(bits):
            terms.append(f"((({v} >> {i}) & 1) << {i * k + j})")
    return "(" + " | ".join(terms) + ")"


def zorder_layout(df: DataFrame, cols: Sequence[str], n_files: int,
                  bits: int = 16) -> DataFrame:
    """Cluster ``df`` for writing: range-partition into ``n_files``
    z-contiguous slices and sort within each — every output file covers a
    contiguous Morton range, so its per-column min/max stats are tight on
    ALL layout columns. Write the result with ``.write.parquet(...)``."""
    z = zorder_key(cols, bits)
    return (df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z"))


def kll_range_buckets(df: DataFrame, col: str, n_buckets: int,
                      k: int = 200, seed: int = 42):
    """Sketch-driven balanced range bucketing: ONE mergeable KLL pass over
    ``col`` (core/kll.py — the library's own quantile sketch, KB of state)
    yields the ``n_buckets - 1`` boundary quantiles, and every row gets the
    bucket ``searchsorted(boundaries, value)`` from a broadcast boundary
    array (vectorized Arrow batches, no per-row Python). Returns
    ``(df + '_range_bucket' column, boundaries ndarray)``.

    Versus ``repartitionByRange`` on the raw column — which launches a
    SEPARATE reservoir-sampling job over the full input every time it
    plans — the KLL boundaries ride a one-pass build that can share the
    corpus scan with every other sketch (build_sketches multi-spec) or
    come from checkpointed sketch state (plans/checkpoint.py) with no
    rescan at all; at 10^12 rows that is the difference between a free
    layout decision and an extra full-table pass. The KLL rank guarantee
    makes the balance quantitative: each bucket holds ``n/n_buckets ±
    2·eps·n`` rows (eps ~ 0.04 at k=200, the gate-checked bound), modulo
    heavy atoms — a single value more frequent than ``n/n_buckets``
    cannot be split by ANY range layout and lands in one bucket (pair
    with the salted/jump paths when the key is that degenerate).

    NULL (and NaN) values sort after every boundary and land in the LAST
    bucket — keep or pre-filter them to taste. Boundaries are
    deterministic per input partitioning (the KLL compaction coin is
    seeded); the bucket column stays in the output as the stable range
    key, same contract as ``_jump_bucket``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F811 (local for clarity)

    from .sketch_build import SketchSpec, build_sketches, get_kind

    if n_buckets < 1:
        raise ValueError("kll_range_buckets needs n_buckets >= 1")
    vals = (df.select(F.col(col).cast("double").alias("v"))
            .where(F.col("v").isNotNull()))
    row = (build_sketches(vals, [SketchSpec.of("q", "kll", "v",
                                               k=k, seed=seed)])
           .select("sketch").first())
    if row is None or n_buckets == 1:
        bounds = np.empty(0, dtype=np.float64)
    else:
        sk = get_kind("kll").load(bytes(row.sketch))
        qs = np.arange(1, n_buckets) / float(n_buckets)
        bounds = np.asarray(sk.quantiles(qs), dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast(bounds.tobytes())

    @F.pandas_udf("int")
    def _bucket(values):
        b = np.frombuffer(bc.value, dtype=np.float64)
        v = values.to_numpy(dtype=np.float64, na_value=np.nan)
        out = np.searchsorted(b, v, side="right")
        # NaN compares false everywhere: searchsorted already yields
        # len(b) (the last bucket) for NaN, so no special-casing needed
        return pd.Series(out.astype(np.int32))

    out = df.withColumn("_range_bucket",
                        _bucket(F.col(col).cast("double")))
    return out, bounds


def kll_range_repartition(df: DataFrame, col: str, n_partitions: int,
                          k: int = 200, seed: int = 42) -> DataFrame:
    """Physically repartition ``df`` into ``n_partitions`` balanced value
    ranges of ``col`` using :func:`kll_range_buckets` boundaries: one
    range exchange on the bucket id (uniform 0..n-1 by the quantile
    construction — the same balls-in-bins argument as
    ``repartition_by_jump``, range not hash, so buckets map ~1:1 onto
    partitions). The ``_range_bucket`` column stays in the output as the
    stable downstream grouping key."""
    out, _ = kll_range_buckets(df, col, n_partitions, k=k, seed=seed)
    return out.repartitionByRange(n_partitions, "_range_bucket")
