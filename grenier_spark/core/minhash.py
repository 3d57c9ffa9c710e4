"""Mergeable MinHash signature sketch (Broder 1997; Cohen 1997): ``k``
independent permutations of the key universe, each component keeping the
MINIMUM hash seen — Pr[sig_a[i] == sig_b[i]] = Jaccard(A, B), so the
fraction of equal components is an unbiased Jaccard estimator with
std-error sqrt(J(1-J)/k).

North-rule extension operator in the same family as core/kmv.py: where
KMV estimates set operations through ONE hash order (bottom-k of the
union), the MinHash signature carries k independent orders, giving a
component-aligned similarity surface that composes with LSH banding
(operators/dedup.py uses per-DOCUMENT signatures; this kind is the
per-GROUP mergeable variant for source-level similarity matrices).

Component hash family is the suite's canonical construction (core/bits.py,
mirrors count-min's rows): ``h_i(key) = wang64(key XOR splitmix64(seed +
i + 1))`` — every value is therefore reproduced EXACTLY in DuckDB SQL
(``sql_oracles.minhash_sig_pairs_sql``), no error-bound gating needed.

Merge is the component-wise minimum — associative, commutative,
idempotent — so the distributed two-level build is byte-identical to a
single-stream build for ANY partitioning (the same contract as
hll/cms/bloom/kmv), and trailing-window rollups of per-period signatures
equal scratch builds over the window's rows.

Wire format: ``<4sII`` (magic b"MHS1", k, seed) + k uint64 LE components
(2^64 - 1 = never-updated sentinel: the identity of min).
"""

from __future__ import annotations

import struct

import numpy as np

from .bits import U64, splitmix64, wang64

_MAGIC = b"MHS1"
_HDR = struct.Struct("<4sII")

EMPTY64 = np.uint64(0xFFFFFFFFFFFFFFFF)


class MinHashSig:
    __slots__ = ("k", "seed", "values", "_salts")

    def __init__(self, k: int = 64, seed: int = 7,
                 values: "np.ndarray | None" = None):
        if k < 1:
            raise ValueError("k must be >= 1")
        if not 0 <= seed < (1 << 32):  # wire header stores seed as uint32
            raise ValueError("seed must fit in uint32")
        self.k = k
        self.seed = seed
        self.values = (np.full(k, EMPTY64, dtype=U64) if values is None
                       else values)
        self._salts = splitmix64(np.arange(1, k + 1, dtype=U64) + U64(seed))

    def update_batch(self, keys: np.ndarray,
                     weights: "np.ndarray | None" = None) -> None:
        """Fold a batch of integer keys. Duplicate-insensitive by
        construction (min over a multiset == min over its support), so the
        histogram fast path feeding distinct keys is byte-exact and
        ``weights`` is ignored."""
        keys = np.asarray(keys)
        if not len(keys):
            return
        u = np.unique(keys.astype(np.int64, copy=False).view(U64))
        # one wang64 pass per component over the batch's DISTINCT keys;
        # duplicates are already collapsed so the k x distinct cost is the
        # floor for an exact k-permutation signature
        for i in range(self.k):
            h = wang64(u ^ self._salts[i])
            m = h.min()
            if m < self.values[i]:
                self.values[i] = m

    def merge(self, other: "MinHashSig") -> "MinHashSig":
        if self.k != other.k or self.seed != other.seed:
            raise ValueError(
                f"cannot merge MinHashSig(k={self.k}, seed={self.seed}) "
                f"with (k={other.k}, seed={other.seed})")
        np.minimum(self.values, other.values, out=self.values)
        return self

    def n_equal(self, other: "MinHashSig") -> int:
        """Count of equal components. Components never updated on BOTH
        sides compare equal (both sentinel) — semantically correct: two
        empty sets are identical."""
        if self.k != other.k or self.seed != other.seed:
            raise ValueError("incompatible MinHashSig parameters")
        return int(np.sum(self.values == other.values))

    def jaccard(self, other: "MinHashSig") -> float:
        """Unbiased Jaccard estimate: fraction of equal components."""
        return self.n_equal(other) / self.k

    def to_bytes(self) -> bytes:
        return (_HDR.pack(_MAGIC, self.k, self.seed)
                + self.values.astype("<u8").tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "MinHashSig":
        magic, k, seed = _HDR.unpack_from(blob)
        if magic != _MAGIC:
            raise ValueError("not a MinHashSig blob")
        vals = np.frombuffer(blob, dtype="<u8", offset=_HDR.size).astype(U64)
        if len(vals) != k:
            raise ValueError(f"corrupt MinHashSig blob: {len(vals)} "
                             f"components, header says k={k}")
        return cls(k, seed, vals)
