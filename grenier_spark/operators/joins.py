"""Temporal join operators: as-of join and interval-overlap join.

Two join classes the reference lacks (grenier has no relational layer) but
that any event-time analytics / training-data pipeline needs; both are
expressed so Catalyst plans a single bounded shuffle and no cartesian
product.

``asof_join`` — for every left row, the closest right row at-or-before
(``backward``) or at-or-after (``forward``) its timestamp, per key.  The
classic scalable formulation: tag both sides, union, one window ordered by
(ts, side, tie) per key partition, ``last(payload, ignorenulls)`` carries
the most recent right payload onto each left row.  ONE hash shuffle on the
key + one sort — no join node at all, so there is nothing to go quadratic:
cost is O(n log n) per key partition regardless of match density.

At 100 TB: the shuffle partitions by the key (user/entity — naturally high
cardinality, even spread); a skewed hot key inflates one partition's sort
only, same profile (and same AQE/pre-bucketing mitigation) as
sessionization (operators/sessions.py).

``interval_overlap_join`` — all pairs (l, r) whose intervals overlap,
via time-binning: each interval explodes onto the fixed-width bins it
covers, pairs meet through a bin equi-join, and the true overlap predicate
filters bin-collisions.  Each overlapping pair is emitted EXACTLY once —
at the canonical bin containing ``max(l.start, r.start)`` (both intervals
cover that instant, hence that bin) — so no distinct/dedup exchange is
ever needed.  Cost is sum over bins of |L_bin|x|R_bin|: choose ``bin_us``
near the typical interval length so per-bin occupancy stays O(density),
never O(N).  A ``raise_error`` guard (distributed, no driver action) fails
fast if an interval would explode into more than ``max_bins`` bins instead
of silently generating a huge fan-out.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["asof_join", "interval_overlap_join", "salted_join"]


def _is_timestamp(df: DataFrame, col: str) -> bool:
    t = dict(df.dtypes)[col]
    return t.startswith("timestamp")


def asof_join(left: DataFrame, right: DataFrame,
              on: Union[str, Sequence[str]],
              left_ts: str = "ts", right_ts: str = "ts",
              right_cols: Optional[Sequence[str]] = None,
              tie_col: Optional[str] = None,
              direction: str = "backward",
              tolerance_us: Optional[int] = None,
              prefix: str = "asof_") -> DataFrame:
    """For each left row, attach the closest right row per key.

    ``backward``: greatest ``right_ts`` <= ``left_ts`` (inclusive);
    ``forward``: least ``right_ts`` >= ``left_ts``.  Ties on ``right_ts``
    break deterministically by ``tie_col`` (max for backward, min for
    forward).  ``tolerance_us`` (microseconds) nulls the match when the
    gap exceeds it.  Unmatched left rows keep NULL right columns (left
    join semantics).

    Output: every left column, then ``{prefix}{right_ts}`` and
    ``{prefix}{c}`` for each carried right column.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward/forward: {direction}")
    keys = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns
                      if c not in keys and c != right_ts]
    pay_fields = [F.col(right_ts).alias("__rts")] + [
        F.col(c).alias(c) for c in right_cols]

    tie = F.col(tie_col) if tie_col is not None else F.lit(0)
    r_side = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        tie.alias("__tie"),
        F.lit(0).alias("__side"),
        F.struct(*pay_fields).alias("__pay"),
        F.lit(None).cast(StructType(left.schema.fields)).alias("__lrow"),
    )
    l_side = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(None).cast(r_side.schema["__tie"].dataType).alias("__tie"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r_side.schema["__pay"].dataType).alias("__pay"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
    )
    both = r_side.unionByName(l_side)

    if direction == "backward":
        # right rows (side 0) sort before left rows at equal ts so an
        # exactly-equal right ts matches; ascending tie => last() = max tie
        order = [F.col("__ts").asc(), F.col("__side").asc(),
                 F.col("__tie").asc()]
    else:
        # descending ts: the running frame holds all rows with ts >= left
        # ts and last() is the SMALLEST such ts; tie desc => last() = min
        order = [F.col("__ts").desc(), F.col("__side").asc(),
                 F.col("__tie").desc()]
    w = (Window.partitionBy(*keys).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (both
               .withColumn("__m", F.last("__pay", ignorenulls=True).over(w))
               .where(F.col("__side") == 1))

    m = F.col("__m")
    if tolerance_us is not None:
        gap = ((F.col("__ts") - m["__rts"]) if direction == "backward"
               else (m["__rts"] - F.col("__ts")))
        if _is_timestamp(left, left_ts):
            ok = gap <= F.expr(f"INTERVAL {int(tolerance_us)} MICROSECOND")
        else:
            ok = gap <= F.lit(int(tolerance_us))
        matched = matched.withColumn(
            "__m", F.when(m.isNotNull() & ok, m))
        m = F.col("__m")

    out = [F.col(f"__lrow.`{c}`").alias(c) for c in left.columns]
    out.append(m["__rts"].alias(f"{prefix}{right_ts}"))
    out += [m[c].alias(f"{prefix}{c}") for c in right_cols]
    return matched.select(*out)


def salted_join(left: DataFrame, right: DataFrame,
                on: Union[str, Sequence[str]],
                n_salts: int = 16,
                how: str = "inner",
                salt_on: Optional[Sequence[str]] = None) -> DataFrame:
    """Equi-join with explicit key salting for skewed LEFT keys.

    A hot join key (one user with 10% of a 100 TB fact table, the empty
    string, a boilerplate URL) pins its entire hash partition onto a
    single reducer — the one shape no cluster size fixes.  AQE's skew-join
    split handles sort-merge inner joins, but not every plan (it cannot
    split when the skewed side feeds a window/bucketed requirement, and it
    is reactive — the straggler must first materialize).  This operator is
    the deterministic, plan-time mitigation: the LEFT (large, skewed) side
    gets a salt in [0, n_salts) hashed from ``salt_on`` (default: all left
    columns, so the salt is deterministic for a given row — retries and
    both sides of a self-join agree); the RIGHT (smaller, per-key-unique)
    side is replicated onto all n_salts salts via one narrow
    explode(sequence(...)).  The join condition becomes
    (keys..., salt) — the hot key's rows now spread over n_salts reducers.

    Cost model at 100 TB: right side shuffles n_salts copies (choose
    n_salts ~ hot-partition-size / target-partition-size — 16-64 tames a
    10%-hot key on thousands of reducers while multiplying the SMALL side
    only); left side shuffles once, exactly as unsalted.  Result is
    row-identical to the plain join for ``inner``, ``left`` and
    ``left_semi``, because each left row carries exactly one salt and the
    right side carries every salt exactly once per row.  ``right``/
    ``full``/``left_anti`` are rejected: right-row multiplicity would be
    n_salts, not 1.

    Use with operators/profile.py::key_skew_profile — its top-N skewed
    keys tell you whether n_salts=1 (no skew) suffices.
    """
    if how not in ("inner", "left", "left_outer", "left_semi"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi, got: {how}")
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1: {n_salts}")
    keys = [on] if isinstance(on, str) else list(on)
    salt_cols = list(salt_on) if salt_on is not None else list(left.columns)

    l = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]),
               F.lit(n_salts)).cast("int"))
    # one narrow explode — no shuffle to replicate; the copies fan out in
    # the right side's ONE exchange on (keys, salt).  Right keys are
    # renamed so a fact-joined-to-aggregate-of-itself shape never hits
    # self-join attribute ambiguity.
    r = (right
         .withColumnsRenamed({k: f"__rk_{k}" for k in keys})
         .withColumn("__salt",
                     F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
         .withColumn("__salt", F.col("__salt").cast("int")))
    cond = [F.col(k) == F.col(f"__rk_{k}") for k in keys]
    cond.append(l["__salt"] == r["__salt"])
    j = l.join(r, cond, how)
    if how == "left_semi":
        return j.drop("__salt")
    keep_right = [c for c in right.columns if c not in keys]
    return j.select(*[l[c].alias(c) for c in left.columns],
                    *[r[c].alias(c) for c in keep_right])


def _to_us(df: DataFrame, col: str):
    # cast covers TIMESTAMP_NTZ (unix_micros only takes TIMESTAMP); the
    # session-tz offset this introduces is constant, so overlap predicates
    # and differences are unaffected
    return (F.unix_micros(F.col(col).cast("timestamp"))
            if _is_timestamp(df, col) else F.col(col).cast("long"))


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          left_start: str = "start", left_end: str = "end",
                          right_start: str = "start", right_end: str = "end",
                          on: Optional[Union[str, Sequence[str]]] = None,
                          bin_us: int = 3_600_000_000,
                          max_bins: int = 4096,
                          l_prefix: str = "l_", r_prefix: str = "r_"
                          ) -> DataFrame:
    """Inner join of overlapping closed intervals, inclusive at endpoints
    (``l.start <= r.end AND r.start <= l.end``), optionally also equal on
    key columns ``on``.

    Timestamp columns convert to epoch microseconds internally; numeric
    columns are used as-is (treated as microseconds for ``bin_us``).

    Output: ``{l_prefix}{c}`` for every left column, ``{r_prefix}{c}`` for
    every right column, plus ``overlap_us = min(ends) - max(starts)``
    (>= 0; 0 means the intervals touch).

    Each qualifying pair appears exactly once (canonical-bin trick — see
    module docstring); no distinct pass, no cartesian product.
    """
    keys = ([on] if isinstance(on, str) else list(on)) if on else []

    def binned(df, start, end, pref):
        s, e = _to_us(df, start), _to_us(df, end)
        nb = F.floor(e / bin_us) - F.floor(s / bin_us) + 1
        # guard rides INSIDE the start column so column pruning can't
        # eliminate it: an oversize interval fails the job, never fans out
        s_guarded = F.when(
            nb > max_bins,
            F.raise_error(F.concat(
                F.lit(f"interval spans more than max_bins={max_bins} "
                      f"bins of {bin_us} us: "), nb.cast("string"),
                F.lit(" — raise bin_us or max_bins"))).cast("long")
        ).otherwise(s)
        cols = ([F.col(k).alias(f"__k_{k}") for k in keys]
                + [F.col(c).alias(f"{pref}{c}") for c in df.columns]
                + [s_guarded.alias(f"{pref}__s"), e.alias(f"{pref}__e")])
        return (df.select(*cols)
                .withColumn("__bin", F.explode(F.sequence(
                    F.floor(F.col(f"{pref}__s") / bin_us),
                    F.floor(F.col(f"{pref}__e") / bin_us)))))

    lb = binned(left, left_start, left_end, l_prefix)
    rb = binned(right, right_start, right_end, r_prefix)
    if keys:
        rb = rb.withColumnsRenamed(
            {f"__k_{k}": f"__rk_{k}" for k in keys})

    ls, le = F.col(f"{l_prefix}__s"), F.col(f"{l_prefix}__e")
    rs, re_ = F.col(f"{r_prefix}__s"), F.col(f"{r_prefix}__e")
    cond = (lb["__bin"] == rb["__bin"]) & (ls <= re_) & (rs <= le)
    # canonical bin: the one containing max(start_l, start_r) — both
    # intervals cover that instant, so exactly one joined copy survives
    cond = cond & (lb["__bin"] == F.floor(F.greatest(ls, rs) / bin_us))
    for k in keys:
        cond = cond & (F.col(f"__k_{k}") == F.col(f"__rk_{k}"))

    j = lb.join(rb, cond, "inner")
    out = ([F.col(f"{l_prefix}{c}") for c in left.columns]
           + [F.col(f"{r_prefix}{c}") for c in right.columns]
           + [(F.least(le, re_) - F.greatest(ls, rs)).alias("overlap_us")])
    return j.select(*out)


def bloom_pruned_join(fact: DataFrame, dim: DataFrame,
                      on: Union[str, Sequence[str]], how: str = "inner",
                      expected_keys: int = 1_000_000, fpr: float = 0.01,
                      seed: int = 41) -> DataFrame:
    """Equi-join with a broadcast grenier-Bloom prune of the fact side:
    one pass over ``dim`` builds a Bloom filter (core/bloom.py — the same
    wire format the membership gate checks bit-exactly) over the join
    keys, the KB–MB blob is broadcast, and an Arrow-batched probe drops
    fact rows in the SCAN stage so only probable matches ever reach the
    shuffle join.  Output is IDENTICAL to ``fact.join(dim, on, how)``:
    a Bloom has no false negatives (same ``xxhash64`` key expression on
    both sides), and every false positive dies in the real join that
    still runs on the survivors.

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling only the matching fraction + fpr noise: when the
    dim side is too big for a broadcast-hash join as ROWS (say 10^9
    keys ≈ tens of GB of rows) its Bloom at fpr=1% is ~9.6 bits/key
    (~1.2 GB — chunky but broadcastable, and ``expected_keys``/``fpr``
    tune it down), so the prune rides where Spark's own runtime
    ``spark.sql.optimizer.runtime.bloomFilter`` row-filter would apply,
    but explicitly, engine-independently, and with the library's own
    mergeable one-pass build (two-level, no key-scale shuffle).

    Only ``inner`` and ``semi`` joins are supported — the two shapes
    where a pruned fact row is provably absent from the output (NULL
    keys never equi-match, so fact rows with any NULL key are dropped
    up front; dim NULL keys contribute nothing to the filter).

    xxhash64 is fine here precisely because the HASH never reaches the
    output — the gate oracles the JOIN RESULT, which is hash-independent
    (CLAUDE.md: xxhash64 for fast paths only, never in an oracle-gated
    value chain).
    """
    from ..core.bloom import Bloom, params_for
    from ..functions._udf import broadcast_probe_udf
    from .sketch_build import SketchSpec, build_sketches

    if how not in ("inner", "semi", "leftsemi", "left_semi"):
        raise ValueError(
            f"bloom_pruned_join supports inner/semi joins only, got {how!r}"
            " — an outer join must keep pruned rows, so pruning is wrong")
    cols = [on] if isinstance(on, str) else list(on)
    if not cols:
        raise ValueError("bloom_pruned_join needs at least one join column")
    nn_fact = F.lit(True)
    nn_dim = F.lit(True)
    for c in cols:
        nn_fact = nn_fact & F.col(c).isNotNull()
        nn_dim = nn_dim & F.col(c).isNotNull()
    key = F.xxhash64(*[F.col(c) for c in cols])

    m, kh = params_for(max(1, expected_keys), fpr)
    row = (build_sketches(dim.where(nn_dim).select(key.alias("k")),
                          [SketchSpec.of("dk", "bloom", "k",
                                         m=m, k=kh, seed=seed)])
           .select("sketch").first())
    blob = (bytes(row.sketch) if row is not None
            else Bloom(m, kh, seed=seed).to_bytes())
    bc = fact.sparkSession.sparkContext.broadcast(blob)
    probe = broadcast_probe_udf("boolean", "bloom", "contains", bc,
                                deterministic=False)

    pruned = fact.where(nn_fact).where(probe(key))
    return pruned.join(dim, cols, how)
