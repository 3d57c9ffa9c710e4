"""Sketch CUBE: every GROUPING SET of a dimension list from ONE build.

The whole-cube-from-one-scan pattern for approximate distinct counts
(and any other byte-exact-mergeable sketch kind): the token/key scan
happens once at the leaf grouping, and every coarser cell — all 2^d
grouping sets down to the grand total — is a register-max/+/OR merge of
KB leaf blobs (``merge_partials``). At 10^12 rows the raw scan is the
only data-scale stage; the lattice is sketch algebra over sketch-count
rows. Rolled-up dimensions are labeled ``'ALL'`` (dimension columns are
cast to string in the output; caller guarantees the real dimension
values never collide with the label, same contract as SQL's
COALESCE-on-ROLLUP idiom).

Exactness: merges are associative and byte-exact for order-insensitive
kinds (hll max / cms + / bloom OR / kmv bottom-k union), so every cell
equals a direct build at that grouping — the property the
``hll_cube_tokens`` driver gate checks against DuckDB's per-grouping-set
0-ULP estimator replay.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sketch_build import (KINDS, SketchSpec, build_sketches, get_kind,
                           merge_partials)


def sketch_cube(df: DataFrame, dims: "list[str]", specs: "list[SketchSpec]",
                all_label: str = "ALL", fanout: int = 32) -> DataFrame:
    """One row per (grouping set x spec): ``dims`` columns (strings;
    rolled-up ones = ``all_label``), sketch_name, sketch, n_rows,
    n_values — the same row shape as :func:`build_sketches`, so every
    downstream estimate helper applies unchanged.

    ONE leaf build pass at the finest grouping, then ONE lattice merge:
    each leaf row explodes to its 2^d grouping-set label tuples and a
    single ``merge_partials`` reduces them — two bounded-fan-in shuffle
    waves total, independent of d (not 2^d separate merge stages). Leaf
    cells ride the same pass (a one-blob merge is the identity).
    """
    if not dims:
        raise ValueError("sketch_cube: need at least one dimension")
    # only exact-merge kinds: the others compact or decrement
    # order-dependently, so cells would not equal direct builds
    bad = [s.kind for s in specs if not get_kind(s.kind).exact_merge]
    if bad:
        exact = sorted(k for k, v in KINDS.items() if v.exact_merge)
        raise ValueError(
            f"sketch_cube: order-sensitive kinds {bad} cannot cube "
            f"(their merges are not byte-exact at arbitrary grouping); "
            f"supported: {exact}")
    kind_of = {s.name: s.kind for s in specs}
    # output dims are uniformly string so 'ALL' labels union with leaf
    # values for dimension columns of ANY input type
    src = df
    for dcol in dims:
        src = src.withColumn(dcol, F.col(dcol).cast("string"))
    leaf = build_sketches(src, specs, group_cols=dims,
                          fanout=fanout).localCheckpoint()
    # every grouping set as one label struct per subset of kept dims
    labelings = F.array(*[
        F.struct(*[(F.col(d) if d in keep else F.lit(all_label)).alias(d)
                   for d in dims])
        for r in range(len(dims) + 1) for keep in combinations(dims, r)])
    rest = [f.name for f in leaf.schema.fields if f.name not in dims]
    exploded = (leaf
                # leaf rows carry part_id = -1 (already merged); re-stamp
                # the REAL partition id so merge_partials' first reduce
                # wave spreads a coarse cell's blobs over `fanout` tasks
                # instead of funneling a million-leaf dimension into one
                .withColumn("part_id", F.spark_partition_id().cast("int"))
                .withColumn("_gs", F.explode(labelings))
                .select(*[F.col(f"_gs.{d}").alias(d) for d in dims], *rest))
    return merge_partials(exploded, kind_of, dims, fanout=fanout)
