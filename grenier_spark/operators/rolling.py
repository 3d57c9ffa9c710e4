"""Trailing-window sketch rollup: rolling distinct counts (and any other
mergeable-sketch statistic) by sketch algebra over KB-scale per-period
rows — never rescanning the raw data.

The dashboard query at 10^12 sequences: "distinct users / tokens over the
trailing W days, for every day". The naive formulation rescans W days of
raw data per anchor day (W x corpus cost); the mergeable formulation
builds ONE sketch row per (group, period) — a single corpus pass,
shareable with every other spec in the same ``build_sketches`` call —
and computes every trailing window as a union of <= W KB-sized blobs.

Because the order-insensitive kinds' updates commute and merge is an
idempotent associative max/or/+ (reference hll/hll.ml merge, Q6
semantics — the same algebra plans/checkpoint.py's merge-tree time
travel rides), the rolled-up sketch is BYTE-IDENTICAL to a scratch build
over the window's raw rows (tested), so estimates and published error
bounds carry over unchanged.

Shuffle shape: each sketch row explodes onto the ``window`` anchor
periods it contributes to (KB x W rows) and one hash aggregate merges
per anchor — a pure equi-exchange over sketch rows; no range join, no
BroadcastNestedLoopJoin, and the token-scale data never moves at all.
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                               StructField, StructType)

from .sketch_build import KINDS, get_kind

__all__ = ["rolling_sketch_union", "rolling_sketch_merge_ordered"]


def _kinds(exact: bool) -> "list[str]":
    return sorted(k for k, v in KINDS.items() if v.exact_merge == exact)


def rolling_sketch_union(sketches: DataFrame, period_col: str, window: int,
                         kind: str, group_cols: Sequence[str] = (),
                         sketch_col: str = "sketch") -> DataFrame:
    """For every (group, period) present in ``sketches``, the union of the
    trailing ``window`` periods' sketch blobs (periods with no row simply
    contribute nothing). Returns one row per input (group, period):
    ``group_cols + [period_col (long), sketch (binary), n_periods (int)]``
    where ``n_periods`` counts the distinct periods actually merged.

    ``period_col`` must be integer-like (day number, month index, hour
    bucket): the window is by VALUE — ``period - window + 1 .. period`` —
    so gaps in the data narrow the union rather than stretching it.

    ``kind`` must be an order-insensitive sketch (the kind table's
    ``exact_merge`` flag: hll/cms/bloom/kmv/mh/dd, ...): only for those is
    the trailing union byte-identical to a scratch build over the
    window's raw rows.
    Order-sensitive kinds (kll, tdigest) still merge associatively but
    not byte-stably — reject them here rather than hand back a weaker
    guarantee under the same name.
    """
    if not get_kind(kind).exact_merge:
        raise ValueError(
            f"rolling_sketch_union supports order-insensitive kinds "
            f"{_kinds(True)}, got {kind!r} — a kll/tdigest "
            f"trailing union is not byte-stable; use "
            f"rolling_sketch_merge_ordered for those")
    return _rolling_merge(sketches, period_col, window, kind, group_cols,
                          sketch_col, sort_by_period=False)


def rolling_sketch_merge_ordered(sketches: DataFrame, period_col: str,
                                 window: int, kind: str,
                                 group_cols: Sequence[str] = (),
                                 sketch_col: str = "sketch") -> DataFrame:
    """Trailing-window merge for ORDER-SENSITIVE kinds (kll, tdigest, mom,
    ddsum, mg, fd): per-period blobs are merged in ascending ``period_col``
    order, so the rolled-up sketch is DETERMINISTIC given the per-period
    blobs — the same contract the deterministic single-stream build gives.

    Unlike :func:`rolling_sketch_union`, the result is NOT byte-identical
    to a scratch build over the window's raw rows (compaction schedules
    differ), but the published guarantees survive mergeability — KLL's
    rank error eps ~ C/k and t-digest's quantile error hold for any merge
    tree (Karnin-Lang-Liberty FOCS'16 Thm 1; Dunning-Ertl 2019 §3) — so
    rank-bound gates apply to every trailing-window estimate unchanged.

    Same output shape and shuffle story as rolling_sketch_union: each
    KB-sized per-period sketch row explodes onto <= ``window`` anchor
    periods, one hash aggregate merges per anchor; raw data never moves.
    """
    if get_kind(kind).exact_merge:
        raise ValueError(
            f"rolling_sketch_merge_ordered is for order-sensitive kinds "
            f"{_kinds(False)}, got {kind!r} — use "
            f"rolling_sketch_union for byte-stable unions")
    return _rolling_merge(sketches, period_col, window, kind, group_cols,
                          sketch_col, sort_by_period=True)


def _rolling_merge(sketches: DataFrame, period_col: str, window: int,
                   kind: str, group_cols: Sequence[str], sketch_col: str,
                   sort_by_period: bool) -> DataFrame:
    if window < 1:
        raise ValueError("rolling merge needs window >= 1")

    g = list(group_cols)
    base = sketches.select(
        *g, F.col(period_col).cast("long").alias("_src_p"),
        F.col(sketch_col).alias("_sk"))
    # each source period contributes to anchors src_p .. src_p + W - 1;
    # keep only anchors that exist in the input (no ghost trailing rows)
    ex = base.withColumn(
        period_col,
        F.explode(F.sequence(F.col("_src_p"),
                             F.col("_src_p") + F.lit(window - 1))))
    anchors = (sketches
               .select(*g, F.col(period_col).cast("long").alias(period_col))
               .distinct())
    ex = ex.join(anchors, g + [period_col], "semi")

    in_fields = {f.name: f for f in sketches.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in g]
        + [StructField(period_col, LongType()),
           StructField("sketch", BinaryType()),
           StructField("n_periods", IntegerType())])
    arrow_schema = to_arrow_schema(out_schema)

    def merge_group(tbl: pa.Table) -> pa.Table:
        if sort_by_period:
            tbl = tbl.sort_by("_src_p")   # Arrow's sort is stable
        head = tbl.slice(0, 1)
        cols = {c: head[c] for c in g + [period_col]}
        cols["sketch"] = [get_kind(kind).merge(tbl["_sk"].to_pylist())]
        cols["n_periods"] = [pc.count_distinct(tbl["_src_p"]).as_py()]
        return pa.Table.from_pydict(
            {f.name: cols[f.name] for f in arrow_schema}).cast(arrow_schema)

    return ex.groupBy(*g, period_col).applyInArrow(merge_group, out_schema)
