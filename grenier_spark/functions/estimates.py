"""Estimate-extraction Columns over serialized sketch states (BinaryType).

Sketch states are KB-sized, so these UDFs touch a handful of rows — never
the token-scale data. Each is one call of the UDF helper
(``functions._udf``): the helper loads every sketch argument through the
kind table (``get_kind(kind).load``, the wire format produced by
operators.sketch_build) and the body here evaluates the estimator kernel.
NULL in, NULL out: a NULL sketch (say, a group a left join found no sketch
for), a NULL key or a NULL plain argument gives a NULL estimate.

The estimators also exposed to SQL (functions/register.py) are the
module-level bodies below, so each has one body for both surfaces.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column

from ..core import hll
from ._udf import probe_udf, row_udf

_hll_card = row_udf("double", lambda s: hll.card(s.t), "hll")
_hll_card_orig = row_udf("double", lambda s: hll.card_hll(s.t), "hll")
_bloom_card = row_udf("double", lambda s: s.cardinality(), "bloom")
_ddsum_value = row_udf("double", lambda s: s.value(), "ddsum")
_kmv_est = row_udf("double", lambda s: s.estimate(), "kmv")
_csk_f2 = row_udf("long", lambda s: s.f2(), "csk")


def hll_card_col(col: "Column | str") -> Column:
    """HLL++ cardinality estimate of a serialized HLL state (hll.ml:142-155)."""
    return _hll_card(col)


def hll_merge_col(a: "Column | str", b: "Column | str") -> Column:
    """Pairwise HLL merge of two serialized states (element-wise register
    max, hll.ml:58-65) -> the serialized UNION sketch. The sketch-algebra
    primitive behind set-overlap queries: union cardinality comes from the
    merged state, intersection from inclusion-exclusion — all on KB-sized
    states, never rescanning data. Raises on mismatched precision
    (merge precondition Q6)."""
    def merge(u, v):
        u.merge(v)
        return u.to_bytes()

    return row_udf("binary", merge, "hll", "hll")(a, b)


def hll_fold_col(col: "Column | str", p_new: int) -> Column:
    """Fold a column of serialized HLL states down to precision ``p_new``
    (EXACT — bit-identical to direct p_new builds, core/hll.py
    fold_precision). The production face of cross-precision merging: fold
    a p=14 pipeline's sketch table to match a p=10 archive, then merge —
    KB blobs in, KB blobs out, no rescan of the data that built them."""
    return row_udf("binary",
                   lambda s: hll.to_bytes(hll.fold_precision(s.t, p_new)),
                   "hll")(col)


def hll_card_orig_col(col: "Column | str") -> Column:
    """Original-paper 32-bit-range HLL estimate (``core.hll.card_hll``,
    hll.ml:97-112) of a serialized HLL state — kept alongside
    :func:`hll_card_col` for parity with the reference's dual estimator
    surface."""
    return _hll_card_orig(col)


def cms_query_col(sketch: "Column | str", key: "Column | str") -> Column:
    """Count-min point estimate for a (sketch, hashed-key) pair."""
    return probe_udf("long", "cms", "query")(sketch, key)


def bloom_contains_col(sketch: "Column | str", key: "Column | str") -> Column:
    return probe_udf("boolean", "bloom", "contains")(sketch, key)


def cuckoo_contains_col(sketch: "Column | str",
                        key: "Column | str") -> Column:
    """Membership probe of a serialized cuckoo filter (core/cuckoo.py):
    TRUE is 'maybe present' at the structural fpr ~ 8/2^fp_bits, FALSE is
    'definitely absent'; inserted-and-not-deleted keys are guaranteed
    TRUE (no false negatives — core/cuckoo.py module contract)."""
    return probe_udf("boolean", "ckf", "contains")(sketch, key)


def cuckoo_delete_col(sketch: "Column | str",
                      keys_array: "Column | str") -> Column:
    """Functional deletion: returns a NEW serialized filter with one
    stored copy of each key in the array column removed (delete only what
    you inserted — core/cuckoo.py contract). The state is KB-sized, so
    rebuilding the blob per row is the cheap path; per-key removal flags
    come from re-probing."""
    def delete(f, ks):
        f.delete_batch(np.asarray(ks, dtype=np.int64).view(np.uint64))
        return f.to_bytes()

    return row_udf("binary", delete, "ckf", None)(sketch, keys_array)


def cuckoo_stats_col(col: "Column | str") -> Column:
    """(n_items, slots_used, load_factor, fpr_bound) of a serialized
    cuckoo filter as a struct column."""
    return row_udf("struct<n_items:long,slots_used:long,"
                   "load_factor:double,fpr_bound:double>",
                   lambda f: (f.n_items, int(np.count_nonzero(f.table)),
                              f.load_factor(), f.fpr()), "ckf")(col)


def bloom_cardinality_col(col: "Column | str") -> Column:
    return _bloom_card(col)


def kll_quantiles_col(sketch: "Column | str", qs: "list[float]") -> Column:
    return row_udf("array<double>", lambda s: s.quantiles(qs).tolist(),
                   "kll")(sketch)


def kll_histogram_col(sketch: "Column | str", n_buckets: int) -> Column:
    """Equi-depth histogram read off ONE serialized KLL state: ``n_buckets``
    struct rows ``(bucket, lo, hi, est_count)`` where the boundaries are the
    sketch's quantiles at i/B and ``est_count`` is the rank-mass the sketch
    assigns to (lo, hi] scaled by the true item count (``n`` is tracked
    exactly). Every bucket's est_count is within ~2*eps*n of n/B (two rank
    evaluations, each within the KLL eps rank guarantee of the boundary's
    true rank, which itself is within eps of i/B) — the optimizer-stats /
    data-viz surface at 10^12 rows: one sketch pass, no sort, no second
    scan. Duplicate-heavy columns can yield lo == hi (an honest point
    bucket)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    bs = np.linspace(0.0, 1.0, n_buckets + 1)

    def one(s):
        if not s.n:
            return []
        edges = s.quantiles(bs)
        r = s.rank(edges)
        r[0], r[-1] = 0.0, 1.0  # full mass inside the outer edges
        return [(i + 1, float(edges[i]), float(edges[i + 1]),
                 float((r[i + 1] - r[i]) * s.n))
                for i in range(n_buckets)]

    return row_udf("array<struct<bucket:long,lo:double,hi:double,"
                   "est_count:double>>", one, "kll")(sketch)


def tdigest_quantiles_col(sketch: "Column | str", qs: "list[float]") -> Column:
    return row_udf("array<double>", lambda s: s.quantiles(qs).tolist(),
                   "tdigest")(sketch)


def req_quantiles_col(sketch: "Column | str", qs: "list[float]") -> Column:
    """REQ quantile estimates (core/req.py, PODS'21): rank error shrinks
    multiplicatively toward the upper tail — the p99/p999 surface."""
    return row_udf("array<double>", lambda s: s.quantiles(qs).tolist(),
                   "req")(sketch)


def dd_quantiles_col(sketch: "Column | str", qs: "list[float]") -> Column:
    """DDSketch quantile estimates (core/ddsketch.py): each within
    relative error alpha of the exact rank element — and, uniquely among
    the quantile kinds, reproducible value-exactly in SQL
    (sql_oracles.dd_quantile_sql)."""
    return row_udf("array<double>", lambda s: s.quantiles(qs), "dd")(sketch)


def dd_buckets_col(sketch: "Column | str") -> Column:
    """Serialized DDSketch state as (bucket, cnt) struct rows — the raw
    log-histogram, byte-level surface for the cross-engine gate (DuckDB
    recomputes each bucket as ceil(ln(x)/ln(gamma)))."""
    return row_udf("array<struct<bucket: int, cnt: long>>",
                   lambda s: list(zip(s.idx.tolist(), s.counts.tolist())),
                   "dd")(sketch)


def dd_stats_col(sketch: "Column | str") -> Column:
    """DDSketch state summary: total count, zero-bucket count, number of
    log buckets."""
    return row_udf("struct<n: long, zero_count: long, n_buckets: long>",
                   lambda s: (s.n, s.zero_count, len(s.idx)), "dd")(sketch)


def ddsum_col(col: "Column | str") -> Column:
    """hi + lo of a serialized DDSum state: the ~106-bit-accurate sum
    collapsed to its correctly-rounded float64."""
    return _ddsum_value(col)


def moments_col(col: "Column | str") -> Column:
    """Descriptive statistics of a serialized Moments state:
    (n, sum_x, sum_x2, sum_x3, sum_x4, mean, variance, skew, kurtosis) —
    the dd power sums collapsed to doubles plus the fixed derived chain
    (core/doubledouble.py ``Moments.stats``)."""
    def stats(m):
        n, mean, var, skew, kurt = m.stats()
        return (n, *m.sums(), mean, var, skew, kurt)

    return row_udf("struct<n: long, sum_x: double, sum_x2: double, "
                   "sum_x3: double, sum_x4: double, mean: double, "
                   "variance: double, skew: double, kurtosis: double>",
                   stats, "mom")(col)


def kmv_est_col(col: "Column | str") -> Column:
    """Distinct-count estimate of a serialized KMV state (exact below k,
    unbiased (k-1)/U_(k) above — core/kmv.py)."""
    return _kmv_est(col)


def kmv_stats_col(col: "Column | str") -> Column:
    """(n_kept, kth_hash) of a serialized KMV state as a struct — the
    engine-independent surface the SQL oracle recomputes exactly:
    kth_hash is the largest kept hash (signed int64 view of the uint64,
    the suite's cross-engine convention), or NULL while under-full."""
    def stats(s):
        full = len(s.values) == s.k
        return (len(s.values),
                int(np.int64(np.uint64(s.values[-1]))) if full else None)

    return row_udf("struct<n_kept: long, kth_hash: long>", stats, "kmv")(col)


def kmv_jaccard_col(a: "Column | str", b: "Column | str") -> Column:
    """Theta-sketch set operation over two serialized KMV states:
    (jaccard_est, intersection_est, n_matched) — core/kmv.py
    ``KMV.jaccard``."""
    return row_udf("struct<jaccard_est: double, intersection_est: double, "
                   "n_matched: long>", lambda x, y: x.jaccard(y),
                   "kmv", "kmv")(a, b)


def kmv_a_not_b_col(a: "Column | str", b: "Column | str") -> Column:
    """Theta-sketch set DIFFERENCE over two serialized KMV states:
    (diff_frac, difference_est, n_only_a) — core/kmv.py ``KMV.a_not_b``
    (|A \\ B| estimated over the bottom-k' of the union)."""
    return row_udf("struct<diff_frac: double, difference_est: double, "
                   "n_only_a: long>", lambda x, y: x.a_not_b(y),
                   "kmv", "kmv")(a, b)


def minhash_sig_col(col: "Column | str") -> Column:
    """The k signature components of a serialized MinHashSig as
    array<bigint> (signed int64 view of the uint64 mins — the suite's
    cross-engine convention, so DuckDB recomputes every component exactly
    via the wang64/splitmix64 UHUGEINT twin). Never-updated components
    surface as the sentinel -1 (signed view of 2^64-1)."""
    return row_udf("array<long>", lambda s: s.values.view(np.int64).tolist(),
                   "mh")(col)


def csk_f2_col(col: "Column | str") -> Column:
    """AMS second-moment estimate of a serialized CountSketch: median
    over rows of sum_j cell^2 — exact int64 (core/countsketch.py)."""
    return _csk_f2(col)


def csk_inner_col(a: "Column | str", b: "Column | str") -> Column:
    """Join-size / inner-product estimate between two serialized
    CountSketch states with identical (depth, width, seed): median over
    rows of the row dot product — exact int64."""
    return row_udf("long", lambda x, y: x.inner(y), "csk", "csk")(a, b)


def fd_guarantees_col(small: "Column | str",
                      exact: "Column | str") -> Column:
    """Verification surface for a Frequent Directions state (Liberty KDD'13
    / GLPW SICOMP'16, core/freqdirs.py): given the production sketch
    (``small``, ell << dim) and its lossless twin (``exact``, ell >= dim —
    in that regime FD never evicts a direction, so its gram IS A.T@A up to
    fp re-expression; tests/test_freqdirs.py::test_low_rank_input_exact_
    recovery), evaluate the deterministic guarantees:

    * psd_ok      — A.T@A - B.T@B is PSD (never overestimates energy)
    * spectral_ok — ||A.T@A - B.T@B||_2 <= delta
    * mass_ok     — ell * delta <= fnorm2 - ||B||_F^2
    * fnorm2_ok   — both sketches saw the same input mass and row count,
                    and the twin really is lossless (delta ~ 0)

    Sketch rows only (one per group) — never the vector-scale data.
    """
    def guarantees(s, e):
        evals = np.linalg.eigvalsh(e.gram() - s.gram())
        tol = 1e-8 * max(s.fnorm2, 1.0)
        return (s.n,
                bool(evals.min() >= -tol),
                bool(evals.max() <= s.delta + tol),
                bool(s.ell * s.delta <= s.fnorm2 - s.stored_fnorm2() + tol),
                bool(s.n == e.n
                     and abs(s.fnorm2 - e.fnorm2) <= 1e-9 * max(e.fnorm2, 1.0)
                     and e.delta <= 1e-12 * max(e.fnorm2, 1.0)))

    return row_udf("struct<fd_n: long, psd_ok: boolean, spectral_ok: boolean, "
                   "mass_ok: boolean, fnorm2_ok: boolean>",
                   guarantees, "fd", "fd")(small, exact)


def ps_items_col(sketch: "Column | str") -> Column:
    """Sampled (id, weight, w_hat) triples of a serialized PrioritySample
    (core/prioritysample.py) — w_hat = max(w, tau) is the DLT adjusted
    weight whose subset sums are unbiased estimates; priority-descending,
    ties by id."""
    return row_udf("array<struct<id: long, w: long, w_hat: double>>",
                   lambda s: s.items(), "ps")(sketch)


def ps_tau_col(sketch: "Column | str") -> Column:
    """The (k+1)-th-largest-priority threshold of a serialized
    PrioritySample — 0.0 while the population fits in k (estimates
    exact)."""
    return row_udf("double", lambda s: s.tau, "ps")(sketch)