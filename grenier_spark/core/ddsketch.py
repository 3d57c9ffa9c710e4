"""DDSketch — relative-error quantile sketch (Masson, Rim & Lee,
VLDB 2019): bucket every positive value x into index
``ceil(ln(x) / ln(gamma))`` with ``gamma = (1 + alpha) / (1 - alpha)``,
count per bucket, and answer quantile queries from the cumulative bucket
histogram with the bucket midpoint-in-log-space
``2 * gamma^i / (gamma + 1)``. Every returned quantile is within
relative error ``alpha`` of a value whose RANK is exactly the requested
rank (paper Thm. 1 — this build never collapses buckets, so the
guarantee is unconditional).

North-rule extension operator in the same family as X3/X4 (SURVEY.md
§2.3): grenier itself has no quantile sketch, and KLL/t-digest — the
two already in the suite — are ORDER-SENSITIVE (compaction schedules
depend on the update sequence), which is why their gates are rank-bound
booleans. DDSketch is the missing third point in the design space: a
quantile sketch whose state is a pure bucket HISTOGRAM, so merge is
bucket-wise count addition — associative, commutative, and
order-insensitive. The distributed two-level build is therefore
BYTE-IDENTICAL to a single-stream build under ANY partitioning (same
class as hll/cms/bloom/kmv/mh), and — unlike any other quantile sketch
— the ENTIRE estimator is reproducible value-exactly in SQL: bucket
index, cumulative rank walk, and the gamma-power estimate are all plain
double arithmetic DuckDB evaluates with the same libm
(``sql_oracles.dd_quantile_sql``).

Contract: values are finite and >= 0 (x == 0 goes to a dedicated zero
counter; negative or NaN input raises — mirror two sketches if you need
signed data). Bucket count is bounded by ``log_gamma(max/min)`` — about
1400 buckets across the full positive-double range at alpha = 0.01 —
so the state stays KB-sized no matter how many values it absorbs.

Cross-engine note: the bucket map divides two logs. numpy's vectorized
``np.log`` (SIMD polynomial) and DuckDB's libm ``ln`` agree on every
value fuzzed across 24 decades EXCEPT within ~1 ULP of an exact gamma
power, where the two roundings can land on opposite sides of the
integer and shift the bucket by exactly one — a measure-zero knife
edge absent from the fixture grid the oracles gate on, and harmless to
the contract either way: a boundary value's estimate from the adjacent
bucket midpoint errs by exactly alpha (2*gamma/(gamma+1) = 1+alpha),
still inside the bound (asserted in test_ddsketch.py::
test_cross_engine_bucket_parity_extreme_magnitudes).

Wire format: ``<4sdqI`` (magic b"DDS1", alpha, zero_count, n_buckets) +
sorted int32 LE bucket indices + int64 LE counts.
"""

from __future__ import annotations

import math
import struct

import numpy as np

_MAGIC = b"DDS1"
_HDR = struct.Struct("<4sdqI")

_I64_MAX = np.iinfo(np.int64).max


def _exact_total(w: np.ndarray) -> int:
    """Exact Python-int sum of a non-negative int64 array, immune to
    int64 partial-sum wrap: hi/lo 32-bit split per 2^30-element chunk
    (hi terms <= 2^31, lo terms <= 2^32-1, so each chunk's partial sums
    stay <= 2^62), chunks accumulated in arbitrary-precision ints."""
    total = 0
    for lo in range(0, len(w), 1 << 30):
        c = w[lo:lo + (1 << 30)]
        total += ((int((c >> np.int64(32)).sum()) << 32)
                  + int((c & np.int64(0xFFFFFFFF)).sum()))
    return total


class DDSketch:
    __slots__ = ("alpha", "gamma", "_lg", "zero_count", "idx", "counts")

    def __init__(self, alpha: float = 0.01,
                 zero_count: int = 0,
                 idx: "np.ndarray | None" = None,
                 counts: "np.ndarray | None" = None):
        if not (0.0 < alpha < 1.0):
            raise ValueError("alpha must be in (0, 1)")
        self.alpha = float(alpha)
        self.gamma = (1.0 + self.alpha) / (1.0 - self.alpha)
        self._lg = math.log(self.gamma)
        self.zero_count = int(zero_count)
        self.idx = (np.empty(0, dtype=np.int32) if idx is None else idx)
        self.counts = (np.empty(0, dtype=np.int64) if counts is None
                       else counts)

    # -- update ----------------------------------------------------------

    def update_batch(self, values: np.ndarray,
                     weights: "np.ndarray | None" = None) -> None:
        """Fold a batch of finite non-negative float64 values. Vectorized
        (one log pass + one unique pass per batch); raises on negative or
        non-finite input rather than silently mis-bucketing. With
        ``weights``: :meth:`update_batch_weighted`."""
        if weights is not None:
            return self.update_batch_weighted(values, weights)
        values = np.asarray(values, dtype=np.float64)
        if not len(values):
            return
        if not np.all(np.isfinite(values)) or np.any(values < 0):
            raise ValueError("ddsketch: values must be finite and >= 0 "
                             "(mirror two sketches for signed data)")
        pos = values[values > 0]
        self.zero_count += int(len(values) - len(pos))
        if not len(pos):
            return
        i = np.ceil(np.log(pos) / self._lg).astype(np.int64)
        # the wire format stores int32 buckets: at sane alphas the full
        # positive-double range spans ~±3.5e4 buckets, but a pathological
        # alpha (1e-8) with extreme values would overflow — fail loudly
        # instead of letting astype(int32) wrap to a wrong bucket
        if len(i) and (i.min() < np.iinfo(np.int32).min
                       or i.max() > np.iinfo(np.int32).max):
            raise ValueError(
                "ddsketch: bucket index exceeds int32 range (alpha too "
                "small for this value range)")
        new_idx, inv = np.unique(i, return_inverse=True)
        new_counts = np.bincount(inv, minlength=len(new_idx))
        self._absorb(new_idx.astype(np.int32), new_counts.astype(np.int64))

    def update_batch_weighted(self, values: np.ndarray,
                              weights: np.ndarray) -> None:
        """Fold a batch of (value, integer weight >= 0) pairs — each value
        counts ``weight`` times. State transitions are IDENTICAL to
        ``update_batch(np.repeat(values, weights))`` (asserted in
        test_ddsketch.py), so the sketch answers WEIGHTED quantiles: the
        estimate is within relative error alpha of the value at weighted
        rank floor(q * (W - 1)) where W is the total weight — e.g. "the
        doc length a random TOKEN lives in" with weight = token count.
        Zero-weight pairs are dropped (no state change); negative or
        non-integral weights raise. Same finite/non-negative value
        contract as :meth:`update_batch`."""
        values = np.asarray(values, dtype=np.float64)
        w = np.asarray(weights)
        if w.dtype.kind == "f":
            raise ValueError("ddsketch: weights must be integers "
                             "(counts), not floats")
        w = w.astype(np.int64, copy=False)
        if len(w) != len(values):
            raise ValueError(f"ddsketch: {len(values)} values vs "
                             f"{len(w)} weights")
        if not len(values):
            return
        if np.any(w < 0):
            raise ValueError("ddsketch: weights must be >= 0")
        # int64-overflow guard (mirrors the loud int32 bucket-index guard):
        # per-bucket np.add.at accumulation and zero_count += would wrap
        # silently on adversarially large weights. Exact batch total in
        # Python ints, then bounded against what the sketch already holds.
        batch_total = _exact_total(w)
        if self.n + batch_total > np.iinfo(np.int64).max:
            raise ValueError(
                "ddsketch: total weight would overflow int64 counts "
                f"(held {self.n} + batch {batch_total})")
        if not np.all(np.isfinite(values)) or np.any(values < 0):
            raise ValueError("ddsketch: values must be finite and >= 0 "
                             "(mirror two sketches for signed data)")
        keep = w > 0
        values, w = values[keep], w[keep]
        pos = values > 0
        self.zero_count += int(w[~pos].sum())
        values, w = values[pos], w[pos]
        if not len(values):
            return
        i = np.ceil(np.log(values) / self._lg).astype(np.int64)
        if len(i) and (i.min() < np.iinfo(np.int32).min
                       or i.max() > np.iinfo(np.int32).max):
            raise ValueError(
                "ddsketch: bucket index exceeds int32 range (alpha too "
                "small for this value range)")
        new_idx, inv = np.unique(i, return_inverse=True)
        new_counts = np.zeros(len(new_idx), dtype=np.int64)
        np.add.at(new_counts, inv, w)
        self._absorb(new_idx.astype(np.int32), new_counts)

    def _absorb(self, idx: np.ndarray, counts: np.ndarray) -> None:
        if not len(self.idx):
            self.idx, self.counts = idx, counts
            return
        merged = np.concatenate([self.idx, idx])
        add = np.concatenate([self.counts, counts])
        uniq, inv = np.unique(merged, return_inverse=True)
        summed = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(summed, inv, add)
        self.idx, self.counts = uniq.astype(np.int32), summed

    # -- merge / query ----------------------------------------------------

    def merge(self, other: "DDSketch") -> "DDSketch":
        if self.alpha != other.alpha:
            raise ValueError(f"cannot merge DDSketch alpha={self.alpha} "
                             f"with alpha={other.alpha}")
        # same loud int64 bound as update_batch_weighted: two partials
        # that each passed the update-path guard can still overflow when
        # COMBINED, and the distributed two-level build combines partials
        # exactly here — without this check _absorb's np.add.at wraps
        # silently and quantile() walks negative cumulative counts
        if self.n + other.n > _I64_MAX:
            raise ValueError(
                "ddsketch: merged total weight would overflow int64 "
                f"counts ({self.n} + {other.n})")
        self.zero_count += other.zero_count
        self._absorb(other.idx, other.counts)
        return self

    @property
    def n(self) -> int:
        return self.zero_count + int(self.counts.sum())

    def quantile(self, q: float) -> float:
        """Value within relative error ``alpha`` of the element at rank
        ``floor(q * (n - 1))`` (0-indexed ascending). Raises on an empty
        sketch."""
        n = self.n
        if n == 0:
            raise ValueError("quantile of an empty ddsketch")
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile q must be in [0, 1], got {q!r}")
        rank = int(math.floor(q * (n - 1)))
        if rank < self.zero_count:
            return 0.0
        cum = self.zero_count + np.cumsum(self.counts)
        b = int(self.idx[np.searchsorted(cum, rank + 1)])
        return 2.0 * self.gamma ** b / (self.gamma + 1.0)

    def quantiles(self, qs: "list[float]") -> "list[float]":
        return [self.quantile(q) for q in qs]

    # -- serde ------------------------------------------------------------

    def to_bytes(self) -> bytes:
        return (_HDR.pack(_MAGIC, self.alpha, self.zero_count,
                          len(self.idx))
                + self.idx.astype("<i4").tobytes()
                + self.counts.astype("<i8").tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "DDSketch":
        magic, alpha, zero_count, nb = _HDR.unpack_from(blob)
        if magic != _MAGIC:
            raise ValueError("not a DDSketch blob")
        off = _HDR.size
        idx = np.frombuffer(blob, dtype="<i4", offset=off,
                            count=nb).astype(np.int32)
        counts = np.frombuffer(blob, dtype="<i8", offset=off + 4 * nb,
                               count=nb).astype(np.int64)
        if len(idx) > 1 and not np.all(idx[:-1] < idx[1:]):
            raise ValueError("corrupt DDSketch blob: buckets not sorted "
                             "unique")
        if np.any(counts <= 0) or zero_count < 0:
            raise ValueError("corrupt DDSketch blob: non-positive counts")
        return cls(alpha, zero_count, idx, counts)
