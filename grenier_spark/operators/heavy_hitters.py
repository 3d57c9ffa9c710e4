"""Distributed heavy hitters = per-partition lossy counting + merge.

Reference semantics: countish/lossy.ml (Manku-Motwani lossy counting; see
core/countish.py for the kept quirks). Distribution pattern (SURVEY.md §2.2
C1-C4): each input partition runs the reference's single-stream algorithm
over its token stream inside ``mapInArrow`` (vectorized chunk updates), then
candidate rows (key, f, delta, n) shuffle — a few thousand rows, never
token-scale — and merge by summing f and delta (error bounds add: the merged
delta is a valid over-approximation, so the Manku-Motwani guarantee "no true
heavy hitter is missed; none below support - k*eps reported" still holds
with k = number of partitions, asserted in tests/test_heavy_hitters.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                               StructField, StructType)

from ..core.countish import LossyCounter
from .sketch_build import _grouped_reads


def heavy_hitter_tokens(df: DataFrame, token_col: str, support: float,
                        error_tolerance: float,
                        group_cols: "list[str] | None" = None) -> DataFrame:
    """Tokens with estimated relative frequency >= support, per group.

    Returns DataFrame[group..., token long, est_freq double, f long,
    n long] where ``est_freq = (f + delta + k + absent_mass) / n`` is a
    TRUE upper bound on the relative frequency (k = number of partition
    summaries containing the token; see the merge comment below for why
    the reference's float-bucket delta quirk makes the +k term necessary).
    """
    group_cols = list(group_cols or [])
    src = df.select(*group_cols, token_col)

    cand_schema = StructType(
        [src.schema[c] for c in group_cols] + [
            StructField("token", LongType(), False),
            StructField("f", DoubleType(), False),
            StructField("delta", DoubleType(), False),
            StructField("n", LongType(), False),
            # marker for per-(partition, group) total rows — a boolean
            # column, NOT a magic token value, so the real token id -1
            # cannot collide with it
            StructField("is_total", BooleanType(), False),
        ])

    def partial(batches):
        counters: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            # the build's grouping: each group's tokens in batch order
            # (lossy counting is order-sensitive), NULLs dropped at the
            # Arrow level so |id| > 2^53 stays exact
            gkeys, _, reads = _grouped_reads(batch, group_cols, [token_col])
            values, vbounds = reads[token_col]
            for g, gkey in enumerate(gkeys):
                lc = counters.get(gkey)
                if lc is None:
                    lc = counters.setdefault(
                        gkey, LossyCounter(support, error_tolerance))
                lc.observe_batch(
                    values[vbounds[g]:vbounds[g + 1]].astype(np.int64))
        out = {f.name: [] for f in cand_schema.fields}
        for gkey, lc in counters.items():
            for token, fv in lc.f.items():
                for c, v in zip(group_cols, gkey):
                    out[c].append(v)
                out["token"].append(int(token))
                out["f"].append(float(fv))
                out["delta"].append(float(lc.delta[token]))
                out["n"].append(lc.n)
                out["is_total"].append(False)
        # n is per-counter, identical for every candidate of a group; a
        # marked total row lets the merge recover each partial's n even for
        # empty-candidate groups
        for gkey, lc in counters.items():
            for c, v in zip(group_cols, gkey):
                out[c].append(v)
            out["token"].append(0)
            out["f"].append(0.0)
            out["delta"].append(0.0)
            out["n"].append(lc.n)
            out["is_total"].append(True)
        if len(out["token"]):
            from pyspark.sql.pandas.types import to_arrow_schema

            yield pa.RecordBatch.from_pydict(
                out, schema=to_arrow_schema(cand_schema))

    import math

    # persist: totals and cands are two DIFFERENT aggregations of the same
    # mapInArrow output, and without a cache Spark re-executes the token
    # scan + lossy counting (the dominant stage) once per branch. The
    # cached rows are candidate summaries — KB-scale by the counter's
    # prune guarantee. OWNERSHIP: the cache entry lives until the session
    # drops it; call .unpersist() on the result's source if calling in a
    # tight loop (one-shot analysis queries — the normal use — don't care).
    partials = src.mapInArrow(partial, cand_schema).persist()
    tkeys = [f"_total_{c}" for c in group_cols]
    totals = (partials.where("is_total")
              .groupBy(*group_cols).agg(F.sum("n").alias("n_total"))
              .toDF(*tkeys, "n_total"))
    cands = (partials.where(~F.col("is_total"))
             .groupBy(*group_cols, "token")
             .agg(F.sum("f").alias("f"), F.sum("delta").alias("delta"),
                  F.sum("n").alias("n_seen"),
                  F.count(F.lit(1)).alias("n_parts")))
    # null-safe on the group: a NULL group is a real group, as in the
    # partials. Ungrouped totals is ONE row — broadcast explicitly so the
    # plan is a BroadcastNestedLoopJoin by construction, not by AQE's grace
    if group_cols:
        joined = cands.join(totals, [F.col(c).eqNullSafe(F.col(t))
                                     for c, t in zip(group_cols, tkeys)])
        joined = joined.drop(*tkeys)
    else:
        joined = cands.crossJoin(F.broadcast(totals))
    # COMPLETE upper bound, two terms beyond f + delta:
    #
    # * absent mass — partitions whose summaries do not contain the token
    #   can still have held up to n_partial / w occurrences of it
    #   (Manku-Motwani absent-key bound); n_total - n_seen is exactly the
    #   item mass of those partitions;
    # * +k (= n_parts, one per summary CONTAINING the token) — the
    #   reference's float-bucket quirk records delta = n_ins/w - 1.0 at
    #   insert (lossy.ml:47), which is NEGATIVE for n_ins < w, i.e. up to
    #   ~1 BELOW the paper's ceil(n_ins/w) - 1; since
    #   paper_delta < float_delta + 1, the per-partition invariant is
    #   true_c_i <= f_i + delta_i + 1, so the merged bound needs one unit
    #   per contributing summary. Without it, est_freq undercuts the exact
    #   frequency by up to k/n (observed on every gate token at sf0.01).
    #
    # With both, est_freq >= true relative frequency ALWAYS (gate-checked
    # per token in __spark_entry__.q_heavy_hitter_tokens), so thresholding
    # at `support` keeps the no-false-negative guarantee.
    w = float(math.ceil(1.0 / error_tolerance))
    absent = (F.col("n_total") - F.col("n_seen")) / w
    return (joined
            .withColumn("est_freq",
                        (F.col("f") + F.col("delta") + F.col("n_parts")
                         + absent)
                        / F.col("n_total"))
            .where(F.col("est_freq") >= support)
            .select(*group_cols, "token", "est_freq",
                    F.col("f").cast("long").alias("f"),
                    F.col("n_total").alias("n")))
