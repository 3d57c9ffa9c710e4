"""KMV / bottom-k theta sketch (Bar-Yossef et al. 2002; Beyer et al.
SIGMOD 2007): keep the ``k`` smallest DISTINCT wang64 hash values of the
keys seen. Mergeable (union + truncate — associative, commutative,
idempotent, so the distributed two-level build is byte-identical to a
single-stream build for ANY partitioning), and unlike HLL it supports
SET OPERATIONS: intersection / Jaccard estimates between sketches via
the bottom-k of the union (the theta-sketch trick).

North-rule extension operator in the spirit of SURVEY.md §2.3 (same
family as X1-X5; grenier itself stops at HLL for distinct counting —
reference hll/hll.mli:15-60 — so KMV is the natural "what HLL cannot
do" companion: distinct counts AND intersections from the same state).

Estimator: with U_(k) the k-th smallest of n i.i.d. uniforms,
E[(k-1)/U_(k)] = n (Beyer et al. 2007, unbiased). Hashes normalize as
u = (h + 1.0)/2^64 computed in float64 — the +1.0 is applied AFTER the
uint64 -> double conversion, so it is absorbed identically on both
engines for h > 2^53 and avoids u = 0 at h = 0. Below k distinct keys
the sketch is EXACT (it holds every distinct hash). Relative error
~ 1/sqrt(k-2) at n >> k.

Everything here is plain sorted-integer arithmetic on the same wang64
chain every other sketch rides (UHUGEINT twin in DuckDB), so the WHOLE
estimator — kept set, k-th hash, estimate, pairwise Jaccard — is
reproduced value-exactly in SQL (``sql_oracles.kmv_by_source_sql``).

Wire format: ``<4sII`` (magic b"KMV1", k, n_kept) + sorted uint64 LE
values.
"""

from __future__ import annotations

import struct

import numpy as np

from .bits import U64, wang64

_MAGIC = b"KMV1"
_HDR = struct.Struct("<4sII")

_TWO64 = float(1 << 64)


class KMV:
    __slots__ = ("k", "values")

    def __init__(self, k: int, values: "np.ndarray | None" = None):
        if k < 2:
            # (k-1)/U_(k) needs k >= 2; k = 1 would always estimate 0
            raise ValueError("k must be >= 2")
        self.k = k
        self.values = (np.empty(0, dtype=U64) if values is None
                       else values)

    def update_batch(self, keys: np.ndarray,
                     weights: "np.ndarray | None" = None) -> None:
        """Fold a batch of integer keys (hashed internally with wang64 —
        the suite's canonical token hash). Duplicate-safe: the kept set
        is the k smallest DISTINCT hashes, so the batch is deduplicated
        before truncation (a plain k-smallest pass would let heavy
        duplicates evict genuine members); ``weights`` is ignored."""
        keys = np.asarray(keys)
        if not len(keys):
            return
        h = np.unique(wang64(keys.astype(np.int64, copy=False).view(U64)))
        self.values = np.union1d(self.values, h[:self.k])[:self.k]

    def merge(self, other: "KMV") -> "KMV":
        if self.k != other.k:
            raise ValueError(f"cannot merge KMV k={self.k} with "
                             f"k={other.k}")
        self.values = np.union1d(self.values, other.values)[:self.k]
        return self

    def fold(self, k_new: int) -> "KMV":
        """EXACT shrink to k_new <= k: the kept set is the k smallest
        distinct hashes, so its first k_new entries ARE the k_new
        smallest — identical to a direct k_new build over the same
        stream. Makes mixed-k theta fleets mergeable/comparable at the
        coarsest k without rescans (jaccard/a_not_b require equal k)."""
        k2 = int(k_new)
        if not (2 <= k2 <= self.k):
            raise ValueError(f"fold: need 2 <= k_new <= k={self.k}")
        return KMV(k2, values=self.values[:k2].copy())

    def estimate(self) -> float:
        """Distinct-count estimate: exact while fewer than k distinct
        hashes were kept, else the unbiased (k-1)/U_(k)."""
        n_kept = len(self.values)
        if n_kept < self.k:
            return float(n_kept)
        u = (float(self.values[-1]) + 1.0) / _TWO64
        return (self.k - 1) / u

    def jaccard(self, other: "KMV") -> tuple[float, float, int]:
        """Theta-sketch set operation (Beyer et al. 2007 §4): over the
        ``k' = min(k_a, k_b)`` smallest hashes L of the UNION of both
        kept sets, the fraction also present in BOTH sketches estimates
        the Jaccard similarity; scaling by the union estimate over L
        gives the intersection size. Returns (jaccard_est,
        intersection_est, n_matched); (0.0, 0.0, 0) when both empty."""
        kp = min(self.k, other.k)
        union = np.union1d(self.values, other.values)[:kp]
        if not len(union):
            return 0.0, 0.0, 0
        matched = int(np.sum(np.isin(union, self.values)
                             & np.isin(union, other.values)))
        jacc = matched / len(union)
        if len(union) < kp:
            union_est = float(len(union))
        else:
            union_est = (kp - 1) / ((float(union[-1]) + 1.0) / _TWO64)
        return jacc, jacc * union_est, matched

    def a_not_b(self, other: "KMV") -> tuple[float, float, int]:
        """Theta-sketch set DIFFERENCE (the third classic theta op next to
        union and intersection): over the same ``k' = min(k_a, k_b)``
        smallest hashes L of the union as :meth:`jaccard`, the fraction
        present in ``self`` but NOT in ``other`` estimates
        |A \\ B| / |A ∪ B|; scaled by the union estimate over L it gives
        the difference size. Exact while the union holds fewer than k'
        distinct hashes. Returns (diff_frac, difference_est, n_only_a);
        (0.0, 0.0, 0) when both sketches are empty."""
        kp = min(self.k, other.k)
        union = np.union1d(self.values, other.values)[:kp]
        if not len(union):
            return 0.0, 0.0, 0
        only = int(np.sum(np.isin(union, self.values)
                          & ~np.isin(union, other.values)))
        frac = only / len(union)
        if len(union) < kp:
            union_est = float(len(union))
        else:
            union_est = (kp - 1) / ((float(union[-1]) + 1.0) / _TWO64)
        return frac, frac * union_est, only

    def to_bytes(self) -> bytes:
        return (_HDR.pack(_MAGIC, self.k, len(self.values))
                + self.values.astype("<u8").tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "KMV":
        magic, k, n = _HDR.unpack_from(blob)
        if magic != _MAGIC:
            raise ValueError("not a KMV blob")
        vals = np.frombuffer(blob, dtype="<u8", offset=_HDR.size).astype(U64)
        if len(vals) != n or n > k:
            raise ValueError(f"corrupt KMV blob: {len(vals)} values, "
                             f"header says {n} (k={k})")
        if n > 1 and not np.all(vals[:-1] < vals[1:]):
            raise ValueError("corrupt KMV blob: values not sorted unique")
        return cls(k, vals)
