"""Distribution-drift detection: two-sample Kolmogorov-Smirnov over KLL
quantile sketches.

The pipeline question is "did this column's distribution move between two
slices" (corpus versions, time windows, A/B sides, sources) at a scale
where sorting both slices is off the table. The sketch path builds one
KLL per (group, side) — KB state through the standard two-level
mergeable-sketch pipeline, values never shuffle — and evaluates the KS
statistic between the two sketch ECDFs. Each sketch rank is within its
eps of the true ECDF (KLL rank guarantee), so

    |KS_sketch - KS_exact| <= eps_a + eps_b

— a drift verdict with an explicit error budget, the same
guarantee-boolean gating discipline as the quantile kinds.

:func:`ks_exact` is the exact twin (per-value counts + one window
cumsum — a distinct-values-scale shuffle) used by oracles and for
moderate data; the sketch path is the 10^12-row regime.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions._udf import row_udf
from .sketch_build import get_kind


def kll_ks(blob_a: bytes, blob_b: bytes) -> float:
    """KS statistic between two serialized KLL sketches: the maximum
    |rank_a(x) - rank_b(x)| over the union of both sketches' retained
    items. Both sketch ECDFs are step functions whose steps sit at
    retained items, so the union grid attains the exact supremum OF THE
    SKETCH ECDFs; the distance to the true KS is bounded by the two rank
    guarantees."""
    load = get_kind("kll").load
    return _kll_ks_decoded(load(bytes(blob_a)), load(bytes(blob_b)))


def _kll_ks_decoded(a, b) -> float:
    va, _ = a._weighted_items()
    vb, _ = b._weighted_items()
    if not len(va) or not len(vb):
        return float("nan")
    grid = np.unique(np.concatenate([va, vb]))
    return float(np.max(np.abs(a.rank(grid) - b.rank(grid))))


def dd_psi_terms(sa, sb, smooth: float = 0.5):
    """Per-bin PSI decomposition between two decoded DDSketch
    histograms: rows ``(bin, is_zero_bin, c_a, c_b, term)`` over the
    union of occupied log-buckets plus one zero-value bin (below every
    real bucket, present iff either side saw zeros), add-``smooth``
    smoothing, ``term = (p - q) * ln(p / q)``. The single place the
    PSI arithmetic lives — the scalar score, the streaming monitor and
    the attribution report all consume these rows."""
    import math

    if sa.alpha != sb.alpha:
        raise ValueError(
            f"dd_psi_terms: alpha mismatch ({sa.alpha} vs {sb.alpha}) — "
            f"bucket indices from different gammas are not comparable")
    ca = dict(zip(sa.idx.tolist(), sa.counts.tolist()))
    cb = dict(zip(sb.idx.tolist(), sb.counts.tolist()))
    zbin = None
    if sa.zero_count or sb.zero_count:
        zbin = min(list(ca) + list(cb), default=0) - 1
        ca[zbin] = int(sa.zero_count)
        cb[zbin] = int(sb.zero_count)
    bins = sorted(set(ca) | set(cb))
    da = float(sa.n) + smooth * len(bins)
    db = float(sb.n) + smooth * len(bins)
    out = []
    for i in bins:
        p = (ca.get(i, 0) + smooth) / da
        q = (cb.get(i, 0) + smooth) / db
        out.append((i, i == zbin, ca.get(i, 0), cb.get(i, 0),
                    (p - q) * math.log(p / q)))
    return out


def dd_psi_pair(sa, sb, smooth: float = 0.5) -> "tuple[int, float]":
    """(n_bins, PSI): fsum over the :func:`dd_psi_terms` rows."""
    import math

    rows = dd_psi_terms(sa, sb, smooth)
    return len(rows), float(math.fsum(t for *_, t in rows))


def dd_ks_pair(sa, sb) -> "tuple[int, float]":
    """(n_bins, KS) between two decoded DDSketch histograms: the
    two-sample Kolmogorov-Smirnov statistic of the ALPHA-QUANTIZED
    distributions — max |CDF_a - CDF_b| over the union of occupied
    log-buckets plus the zero bin. Quantizing both samples with the same
    bin map can only merge mass that straddles a sup-distance point, so
    this is a DETERMINISTIC LOWER BOUND of the true KS, exact for the
    binning (|true - binned| <= the larger single-bin mass near the
    argmax; at PSI-grade alpha the bins are coarse — use the KLL path
    for a two-sided band on the TRUE KS). Unlike the KLL estimate, every
    arithmetic step here (integer cumsums, per-bin divisions, max) is
    SQL-reproducible bit-for-bit (sql_oracles.dd_ks_sql) — and weighted
    histograms (build_dd_weighted) give the weighted KS for free. Raises
    on empty sides (no distribution to compare) and alpha mismatch."""
    if sa.alpha != sb.alpha:
        raise ValueError(
            f"dd_ks_pair: alpha mismatch ({sa.alpha} vs {sb.alpha}) — "
            f"bucket indices from different gammas are not comparable")
    if sa.n == 0 or sb.n == 0:
        raise ValueError("dd_ks_pair: empty side")
    ca = dict(zip(sa.idx.tolist(), sa.counts.tolist()))
    cb = dict(zip(sb.idx.tolist(), sb.counts.tolist()))
    if sa.zero_count or sb.zero_count:
        zbin = min(list(ca) + list(cb), default=0) - 1
        ca[zbin] = int(sa.zero_count)
        cb[zbin] = int(sb.zero_count)
    bins = sorted(set(ca) | set(cb))
    na, nb = float(sa.n), float(sb.n)
    cum_a = cum_b = 0
    ks = 0.0
    for i in bins:
        cum_a += ca.get(i, 0)
        cum_b += cb.get(i, 0)
        d = abs(cum_a / na - cum_b / nb)
        if d > ks:
            ks = d
    return len(bins), ks


def dd_ks_report(df: DataFrame, value_col: str, side_col: str,
                 group_cols: "list[str] | None" = None,
                 alpha: float = 0.25,
                 weight_col: "str | None" = None) -> DataFrame:
    """Per-group two-sample KS of the alpha-quantized distributions from
    DDSketch histograms — the VALUE-EXACT member of the KS family
    (:func:`ks_sketch_report` bounds the TRUE KS via KLL rank error;
    this one computes the binned KS exactly, cross-engine, and takes
    ``weight_col`` for the token-weighted view). Same one-build-per-
    (group, side) scaffold and side contract as :func:`psi_sketch_report`.
    Returns (group..., side_a, side_b, n_a, n_b, n_bins, ks)."""
    j, group_cols = _dd_two_sides(df, value_col, side_col, group_cols,
                                  alpha, weight_col)
    _ks = row_udf("struct<n_a:bigint,n_b:bigint,n_bins:bigint,ks:double>",
                  lambda sa, sb: (int(sa.n), int(sb.n), *dd_ks_pair(sa, sb)),
                  "dd", "dd")

    return (j.select(*group_cols, "side_a", "side_b",
                     _ks("_ska", "_skb").alias("r"))
            .select(*group_cols, "side_a", "side_b",
                    F.col("r.n_a").alias("n_a"),
                    F.col("r.n_b").alias("n_b"),
                    F.col("r.n_bins").alias("n_bins"),
                    F.col("r.ks").alias("ks")))


def ks_sketch_report(df: DataFrame, value_col: str, side_col: str,
                     group_cols: "list[str] | None" = None,
                     k: int = 200) -> DataFrame:
    """Per group: (side_a, side_b, n_a, n_b, ks_sketch) from one
    ``build_sketches`` pass over (group, side) — the drift scan for
    tables too large to sort. ``side_col`` must take exactly two values
    per group (a group seen on only one side is dropped — there is no
    pair to compare); side_a is the smaller label. NULL values are
    excluded (KLL skips NaN; a NULL side would silently form a third
    side, so it raises)."""
    from .sketch_build import SketchSpec, build_sketches

    group_cols = list(group_cols or [])
    if df.where(F.col(side_col).isNull()).limit(1).count():
        raise ValueError(f"{side_col} must be non-null (two sides only)")
    src = df.where(F.col(value_col).isNotNull())
    res = build_sketches(src, [SketchSpec.of("d", "kll", value_col, k=k)],
                         group_cols=group_cols + [side_col])

    _ks = row_udf("double", _kll_ks_decoded, "kll", "kll")
    w = Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()
    sides = (res.select(*group_cols, side_col, "sketch", "n_values")
             .withColumn("_rk", F.row_number().over(
                 w.orderBy(F.col(side_col).cast("string")))))
    a = (sides.where("_rk = 1")
         .select(*group_cols, F.col(side_col).alias("side_a"),
                 F.col("sketch").alias("_ska"),
                 F.col("n_values").alias("n_a")))
    b = (sides.where("_rk = 2")
         .select(*group_cols, F.col(side_col).alias("side_b"),
                 F.col("sketch").alias("_skb"),
                 F.col("n_values").alias("n_b")))
    extra = sides.where("_rk = 3").limit(1)
    if extra.count():
        bad = extra.collect()[0][side_col]
        raise ValueError(
            f"{side_col} must take exactly two values per group "
            f"(saw a third: {bad!r})")
    j = a.join(b, group_cols) if group_cols else a.crossJoin(b)
    return (j.select(*group_cols, "side_a", "side_b", "n_a", "n_b",
                     _ks("_ska", "_skb").alias("ks_sketch")))


def ks_window_shift_report(df: DataFrame, value_col: str, period_col: str,
                           window: int, k: int = 200) -> DataFrame:
    """Period-over-period drift monitor: for every anchor period ``t``,
    the KS statistic between the trailing ``window`` periods ending at
    ``t`` (side b: ``t-window+1 .. t``) and the ``window`` periods
    immediately before (side a: ``t-2*window+1 .. t-window``) — "did this
    week's distribution move off last week's", per anchor, at a scale
    where sorting any window is off the table.

    ONE per-period KLL build over the raw values (values never shuffle);
    both windows come from the same trailing merge
    (``rolling_sketch_merge_ordered``): the previous window's sketch is
    the trailing union ending at ``t - window``, so each anchor costs
    <= 2*window KB-blob merges and the anchors are joined KB-row to
    KB-row. An anchor emits iff both ``t`` and ``t - window`` are present
    periods (a sparse-period series narrows windows by value, same
    contract as the rolling quantile surfaces).

    Returns (period, n_a, n_b, ks_sketch); n_a/n_b are EXACT window row
    counts (KLL tracks n exactly), ks_sketch carries the merged-sketch
    rank-guarantee budget |ks_sketch - ks_exact| <= eps_a + eps_b
    (KLL's eps survives any merge tree, FOCS'16 Thm 1)."""
    from .rolling import rolling_sketch_merge_ordered
    from .sketch_build import SketchSpec, build_sketches

    src = df.where(F.col(value_col).isNotNull())
    per = build_sketches(src, [SketchSpec.of("d", "kll", value_col, k=k)],
                         group_cols=[period_col])
    rolled = rolling_sketch_merge_ordered(per, period_col, window, "kll")

    _ks = row_udf("struct<n_a:bigint,n_b:bigint,ks:double>",
                  lambda sa, sb: (int(sa.n), int(sb.n),
                                  _kll_ks_decoded(sa, sb)),
                  "kll", "kll")

    prev = rolled.select(
        (F.col(period_col) + window).alias(period_col),
        F.col("sketch").alias("_ska"))
    cur = rolled.select(period_col, F.col("sketch").alias("_skb"))
    j = cur.join(prev, period_col)
    return (j.select(period_col, _ks("_ska", "_skb").alias("r"))
            .select(period_col, F.col("r.n_a").alias("n_a"),
                    F.col("r.n_b").alias("n_b"),
                    F.col("r.ks").alias("ks_sketch")))


def ks_exact(df: DataFrame, value_col: str, side_col: str,
             group_cols: "list[str] | None" = None) -> DataFrame:
    """Exact two-sample KS per group: per-(group, value) side counts,
    one window cumsum in value order, max |ECDF_a - ECDF_b|. The shuffle
    is distinct-values scale (the count groupBy is map-side combined);
    the window runs inside the same group partitioning. side_a is the
    smaller side label, mirroring :func:`ks_sketch_report`."""
    group_cols = list(group_cols or [])
    src = df.where(F.col(value_col).isNotNull())
    lo = F.min(F.col(side_col).cast("string")).over(
        Window.partitionBy(*group_cols) if group_cols
        else Window.partitionBy())
    cnt = (src.withColumn("_lo", lo)
           .groupBy(*group_cols, "_lo", value_col)
           .agg(F.sum(F.when(F.col(side_col).cast("string") == F.col("_lo"),
                             1).otherwise(0)).alias("_ca"),
                F.sum(F.when(F.col(side_col).cast("string") != F.col("_lo"),
                             1).otherwise(0)).alias("_cb")))
    w = (Window.partitionBy(*group_cols) if group_cols
         else Window.partitionBy())
    wv = w.orderBy(value_col).rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    tot = w.rowsBetween(Window.unboundedPreceding,
                        Window.unboundedFollowing)
    ecdf = (cnt
            .withColumn("_cuma", F.sum("_ca").over(wv))
            .withColumn("_cumb", F.sum("_cb").over(wv))
            .withColumn("_na", F.sum("_ca").over(tot))
            .withColumn("_nb", F.sum("_cb").over(tot)))
    d = F.abs(F.col("_cuma") / F.col("_na")
              - F.col("_cumb") / F.col("_nb"))
    return (ecdf.groupBy(*group_cols)
            .agg(F.max(d).alias("ks"),
                 F.max("_na").cast("long").alias("n_a"),
                 F.max("_nb").cast("long").alias("n_b")))


def ks_exact_sql(table_sql: str, value_col: str, side_col: str,
                 group_cols: "list[str] | None" = None) -> str:
    """DuckDB twin of :func:`ks_exact`: identical count pivot, cumsum
    window and double-division chain (BIGINT/BIGINT is double division
    on both engines), so round-6 KS values match bit-for-bit."""
    group_cols = list(group_cols or [])
    g = ", ".join(group_cols)
    gp = f"{g}, " if g else ""
    part = f"PARTITION BY {g}" if g else ""
    return f"""
SELECT {gp}MAX(abs(cuma / na - cumb / nb)) AS ks,
       MAX(na)::BIGINT AS n_a, MAX(nb)::BIGINT AS n_b
FROM (
  SELECT {gp}
         SUM(ca) OVER ({part} ORDER BY {value_col}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cuma,
         SUM(cb) OVER ({part} ORDER BY {value_col}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumb,
         SUM(ca) OVER ({part}) AS na,
         SUM(cb) OVER ({part}) AS nb
  FROM (
    SELECT {gp}{value_col},
           SUM(CASE WHEN {side_col}::VARCHAR = lo THEN 1 ELSE 0 END) AS ca,
           SUM(CASE WHEN {side_col}::VARCHAR <> lo THEN 1 ELSE 0 END) AS cb
    FROM (SELECT t.*, MIN({side_col}::VARCHAR) OVER ({part}) AS lo
          FROM ({table_sql}) t
          WHERE {value_col} IS NOT NULL)
    GROUP BY {gp}lo, {value_col}))
{("GROUP BY " + g) if g else ""}"""


def psi_sketch_report(df: DataFrame, value_col: str, side_col: str,
                      group_cols: "list[str] | None" = None,
                      alpha: float = 0.25,
                      smooth: float = 0.5,
                      weight_col: "str | None" = None) -> DataFrame:
    """Population Stability Index per group between two slices, from
    DDSketch bucket histograms — the standard model-monitoring drift
    score, at a scale where neither slice can be sorted or binned by
    hand. PSI = sum_i (p_i - q_i) * ln(p_i / q_i) over the UNION of
    occupied log-buckets (plus a zero-value bin), with add-``smooth``
    smoothing so one-sided bins stay finite.

    One ``build_sketches`` pass per (group, side); DDSketch buckets are
    integer-exact counts and merge byte-identically, so the PSI here is
    not an approximation of a sketch — it IS the PSI of the
    alpha-relative log-binning, SQL-reproducible (``dd_psi_sql``): exact
    integer bucket counts, IEEE double division, libm ln — every TERM
    bit-equal cross-engine; the final compensated sum carries the
    suite's standard round-6 contract (DuckDB's fsum is Kahan —
    order-dependent in the last ULP, like every fsum surface here). Same side semantics as
    :func:`ks_sketch_report` (exactly two non-null sides per group;
    side_a = smaller label; NULL values excluded; one-sided groups
    drop). ``alpha`` here is a BINNING width, not an accuracy target:
    PSI convention wants coarse bins (the 0.25 default gives ~10-20
    occupied buckets on decade-spread data; a quantile-grade alpha like
    0.01 makes hundreds of micro-bins whose sampling noise inflates PSI
    even with smoothing — the industry 0.1 / 0.25 verdict thresholds
    assume coarse binning). Returns (group..., side_a, side_b, n_a,
    n_b, n_bins, psi)."""
    j, group_cols = _dd_two_sides(df, value_col, side_col, group_cols,
                                  alpha, weight_col)
    _psi = row_udf("struct<n_a:bigint,n_b:bigint,n_bins:bigint,psi:double>",
                   lambda sa, sb: (int(sa.n), int(sb.n),
                                   *dd_psi_pair(sa, sb, smooth)),
                   "dd", "dd")

    return (j.select(*group_cols, "side_a", "side_b",
                     _psi("_ska", "_skb").alias("r"))
            .select(*group_cols, "side_a", "side_b",
                    F.col("r.n_a").alias("n_a"),
                    F.col("r.n_b").alias("n_b"),
                    F.col("r.n_bins").alias("n_bins"),
                    F.col("r.psi").alias("psi")))


def _dd_two_sides(df, value_col, side_col, group_cols, alpha,
                  weight_col=None):
    """Shared PSI scaffold: one dd build per (group, side), the two side
    blobs joined per group as (_ska, _skb) with side_a/side_b labels —
    same side contract as ks_sketch_report. ``weight_col`` (integer
    >= 0) switches to the WEIGHTED build (build_dd_weighted): every
    bucket count becomes a weight sum, so downstream PSI/attribution
    read token-weighted (or any-unit-weighted) distribution shift; NULL
    weights drop with their rows, matching the SQL twin's contract."""
    from .sketch_build import SketchSpec, build_dd_weighted, build_sketches

    group_cols = list(group_cols or [])
    if df.where(F.col(side_col).isNull()).limit(1).count():
        raise ValueError(f"{side_col} must be non-null (two sides only)")
    src = df.where(F.col(value_col).isNotNull())
    if weight_col is None:
        res = build_sketches(src, [SketchSpec.of("d", "dd", value_col,
                                                 alpha=alpha)],
                             group_cols=group_cols + [side_col])
    else:
        res = build_dd_weighted(
            src.where(F.col(weight_col).isNotNull()), value_col,
            weight_col, group_cols + [side_col], alpha=alpha)
    w = (Window.partitionBy(*group_cols) if group_cols
         else Window.partitionBy())
    sides = (res.select(*group_cols, side_col, "sketch")
             .withColumn("_rk", F.row_number().over(
                 w.orderBy(F.col(side_col).cast("string")))))
    a = (sides.where("_rk = 1")
         .select(*group_cols, F.col(side_col).alias("side_a"),
                 F.col("sketch").alias("_ska")))
    b = (sides.where("_rk = 2")
         .select(*group_cols, F.col(side_col).alias("side_b"),
                 F.col("sketch").alias("_skb")))
    extra = sides.where("_rk = 3").limit(1)
    if extra.count():
        bad = extra.collect()[0][side_col]
        raise ValueError(
            f"{side_col} must take exactly two values per group "
            f"(saw a third: {bad!r})")
    j = a.join(b, group_cols) if group_cols else a.crossJoin(b)
    return j, group_cols


def psi_attribution_report(df: DataFrame, value_col: str, side_col: str,
                           group_cols: "list[str] | None" = None,
                           alpha: float = 0.25, smooth: float = 0.5,
                           k: int = 3,
                           weight_col: "str | None" = None) -> DataFrame:
    """WHICH value bands drove the drift: per group, the top-``k`` PSI
    bins by |term| (ties to the lower bin id) with the bin's
    representative value (the dd estimator point ``2*gamma^b/(gamma+1)``,
    0.0 for the zero bin), both sides' exact counts, and the signed
    term — "the p95+ latency band gained mass" instead of a bare score.
    Same one-pass build and side contract as :func:`psi_sketch_report`;
    terms are bit-equal cross-engine, so the ranking (and everything
    emitted) is value-exact in SQL (``dd_psi_attr_sql``). Returns
    (group..., rank, bin, rep_value, c_a, c_b, term)."""
    gamma = (1.0 + alpha) / (1.0 - alpha)
    j, group_cols = _dd_two_sides(df, value_col, side_col, group_cols,
                                  alpha, weight_col)

    def top_terms(sa, sb):
        terms = sorted(dd_psi_terms(sa, sb, smooth),
                       key=lambda r: (-abs(r[4]), r[0]))
        return [(int(i), 0.0 if zb else 2.0 * gamma ** int(i) / (gamma + 1.0),
                 int(ca), int(cb), float(t))
                for i, zb, ca, cb, t in terms[:k]]

    _attr = row_udf("array<struct<bin:bigint,rep_value:double,c_a:bigint,"
                    "c_b:bigint,term:double>>", top_terms, "dd", "dd")

    return (j.select(*group_cols, "side_a", "side_b",
                     F.posexplode(_attr("_ska", "_skb")).alias("i", "r"))
            .select(*group_cols, "side_a", "side_b",
                    (F.col("i") + 1).cast("long").alias("rank"),
                    F.col("r.bin").alias("bin"),
                    F.col("r.rep_value").alias("rep_value"),
                    F.col("r.c_a").alias("c_a"),
                    F.col("r.c_b").alias("c_b"),
                    F.col("r.term").alias("term")))
