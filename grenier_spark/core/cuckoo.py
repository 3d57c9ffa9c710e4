"""Cuckoo filter (Fan, Andersen, Kaminsky & Mitzenmacher, CoNEXT 2014).

North-rule extension operator: the membership-family member Bloom cannot
be — it supports DELETION (remove a key you know you inserted) and beats
Bloom's space below ~3% fpr, at the cost of a fallible insert (a full
filter rejects loudly instead of silently degrading).

Layout: ``n_buckets`` (power of two) buckets x 4 slots of ``fp_bits``-bit
fingerprints (0 = empty slot; fingerprints are drawn from [1, 2^f - 1]).
Partial-key cuckoo hashing: a key's two candidate buckets are

    i1 = wang64(key XOR splitmix64(seed+2)) & (n_buckets - 1)
    i2 = i1 XOR (wang64(fp XOR splitmix64(seed+3)) & (n_buckets - 1))

the XOR making the pair an involution — from EITHER bucket and the
stored fingerprint alone the other bucket is recomputable, which is what
makes eviction (and deletion) possible without the original key.

Semantics: multiset — inserting a key twice occupies two slots and takes
two deletes to fully remove. No false negatives EVER for inserted (and
not deleted) keys: an insert either lands every displaced fingerprint or
raises, so membership of what you put in is a hard guarantee, not a
probability. Deleting a key that was never inserted can remove another
key's colliding fingerprint — the caller contract is delete-only-what-
you-inserted (Fan et al. §3.2).

Hot-path shape: ``contains`` is fully vectorized numpy (the probe path —
the one that runs at token scale, e.g. scan-stage routing through
``functions._udf.broadcast_probe_udf``). ``update_batch``/``delete_batch``
vectorize the hash computations but place keys one at a time (eviction
chains mutate state sequentially) — builds are for moderate-cardinality key SETS (dim
keys, eval shingles, corpus ids), not token streams; token-scale
insert-only membership stays Bloom.

Merge re-inserts the other filter's fingerprints through the same
involution (no raw keys needed) and raises if capacity is exceeded —
order-sensitive like kll/tdigest: deterministic per partitioning, not
byte-stable across them.

Wire format: header ``<4sQIII`` (magic b"CKF1", n_buckets, fp_bits, seed,
n_items) + the uint16 slot table (little-endian).
"""

from __future__ import annotations

import struct

import numpy as np

from .bits import U64, splitmix64_scalar, wang64

_MAGIC = b"CKF1"
_HDR = struct.Struct("<4sQIII")
SLOTS = 4
MAX_KICKS = 500


def params_for(n_items: int, load: float = 0.84) -> int:
    """Bucket count (power of two) sized so ``n_items`` fits at the target
    load factor (0.84 is the b=4 practical ceiling, Fan et al. §5.1)."""
    need = max(1, int(np.ceil(n_items / (SLOTS * load))))
    return 1 << int(np.ceil(np.log2(need)))


class Cuckoo:
    __slots__ = ("n_buckets", "fp_bits", "seed", "table", "n_items",
                 "_kick_ctr")

    def __init__(self, n_buckets: int, fp_bits: int = 16, seed: int = 0,
                 table: "np.ndarray | None" = None, n_items: int = 0):
        if n_buckets <= 0 or (n_buckets & (n_buckets - 1)) != 0:
            raise ValueError("n_buckets must be a positive power of two")
        if not 1 <= fp_bits <= 16:
            raise ValueError("fp_bits must be in 1..16 (uint16 slots)")
        if not 0 <= seed < (1 << 32):
            raise ValueError("seed must fit an unsigned 32-bit int")
        self.n_buckets = n_buckets
        self.fp_bits = fp_bits
        self.seed = seed
        self.table = (np.zeros((n_buckets, SLOTS), dtype=np.uint16)
                      if table is None else table)
        self.n_items = n_items
        # deterministic eviction choices: a counter-seeded splitmix
        # stream, so identical insertion order -> identical state
        self._kick_ctr = 0

    # ---- hashing ----

    def _fp(self, keys: np.ndarray) -> np.ndarray:
        h = wang64(keys ^ U64(splitmix64_scalar(self.seed + 1)))
        mod = U64((1 << self.fp_bits) - 1)
        return (h % mod + U64(1)).astype(np.uint16)

    def _i1(self, keys: np.ndarray) -> np.ndarray:
        h = wang64(keys ^ U64(splitmix64_scalar(self.seed + 2)))
        return (h & U64(self.n_buckets - 1)).astype(np.int64)

    def _alt(self, idx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        h = wang64(fps.astype(U64) ^ U64(splitmix64_scalar(self.seed + 3)))
        return (idx.astype(np.int64)
                ^ (h & U64(self.n_buckets - 1)).astype(np.int64))

    # ---- updates (sequential placement; vectorized hashing) ----

    def _place(self, i: int, fp: int) -> bool:
        row = self.table[i]
        free = np.flatnonzero(row == 0)
        if free.size:
            row[free[0]] = fp
            return True
        return False

    def update_batch(self, keys: np.ndarray) -> None:
        keys = np.asarray(keys).astype(U64, copy=False)
        if keys.size == 0:
            return
        fps = self._fp(keys)
        i1s = self._i1(keys)
        i2s = self._alt(i1s, fps)
        for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
            if self._place(i1, fp) or self._place(i2, fp):
                self.n_items += 1
                continue
            # evict: deterministic pseudo-random walk
            i = i1 if (splitmix64_scalar(self._kick_ctr ^ (self.seed + 5))
                       & 1) else i2
            self._kick_ctr += 1
            cur = fp
            placed = False
            for _ in range(MAX_KICKS):
                s = splitmix64_scalar(self._kick_ctr ^ (self.seed + 6)) \
                    % SLOTS
                self._kick_ctr += 1
                cur, self.table[i, s] = int(self.table[i, s]), cur
                i = int(self._alt(np.asarray([i]),
                                  np.asarray([cur], dtype=np.uint16))[0])
                if self._place(i, cur):
                    placed = True
                    break
            if not placed:
                raise RuntimeError(
                    f"cuckoo filter full after {MAX_KICKS} kicks "
                    f"(load {self.load_factor():.3f}) — size with "
                    f"params_for(n_items) before building")
            self.n_items += 1

    def delete_batch(self, keys: np.ndarray) -> np.ndarray:
        """Remove ONE stored copy of each key's fingerprint; returns a
        boolean array (True = a copy was found and removed). Only delete
        keys you inserted — see the module contract."""
        keys = np.asarray(keys).astype(U64, copy=False)
        out = np.zeros(keys.size, dtype=bool)
        if keys.size == 0:
            return out
        fps = self._fp(keys)
        i1s = self._i1(keys)
        i2s = self._alt(i1s, fps)
        for n, (fp, i1, i2) in enumerate(zip(fps.tolist(), i1s.tolist(),
                                             i2s.tolist())):
            for i in (i1, i2):
                hit = np.flatnonzero(self.table[i] == fp)
                if hit.size:
                    self.table[i, hit[0]] = 0
                    self.n_items -= 1
                    out[n] = True
                    break
        return out

    # ---- probes (fully vectorized) ----

    def contains(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys).astype(U64, copy=False)
        if keys.size == 0:
            return np.zeros(0, dtype=bool)
        fps = self._fp(keys)
        i1s = self._i1(keys)
        i2s = self._alt(i1s, fps)
        col = fps[:, None]
        return ((self.table[i1s] == col).any(axis=1)
                | (self.table[i2s] == col).any(axis=1))

    # ---- algebra / stats ----

    def merge(self, other: "Cuckoo") -> None:
        """Re-insert ``other``'s fingerprints via the index involution (no
        raw keys needed). Raises when the union exceeds capacity —
        mergeable-with-a-loud-failure, never silently lossy."""
        if (self.n_buckets, self.fp_bits, self.seed) != \
                (other.n_buckets, other.fp_bits, other.seed):
            raise ValueError("merge: cuckoo configs must be identical")
        occ = np.argwhere(other.table != 0)
        for i, s in occ:
            fp = int(other.table[i, s])
            i = int(i)
            alt = int(self._alt(np.asarray([i]),
                                np.asarray([fp], dtype=np.uint16))[0])
            if self._place(i, fp) or self._place(alt, fp):
                self.n_items += 1
                continue
            # reuse the eviction walk by treating (i, fp) as a fresh
            # placement: temporarily install via the kick loop
            cur, j = fp, i
            placed = False
            for _ in range(MAX_KICKS):
                s2 = splitmix64_scalar(self._kick_ctr ^ (self.seed + 6)) \
                    % SLOTS
                self._kick_ctr += 1
                cur, self.table[j, s2] = int(self.table[j, s2]), cur
                j = int(self._alt(np.asarray([j]),
                                  np.asarray([cur], dtype=np.uint16))[0])
                if self._place(j, cur):
                    placed = True
                    break
            if not placed:
                raise RuntimeError("cuckoo merge exceeded capacity — "
                                   "size both sides with params_for(n_union)")
            self.n_items += 1

    def load_factor(self) -> float:
        return float(np.count_nonzero(self.table)) / (self.n_buckets * SLOTS)

    def fpr(self) -> float:
        """Upper bound on the false-positive rate at the current load:
        1 - (1 - 1/(2^f - 1))^(2*SLOTS) ~ 2*SLOTS / 2^f (Fan et al. §3.1),
        scaled by the fill ratio actually occupied."""
        per_slot = 1.0 / ((1 << self.fp_bits) - 1)
        return 1.0 - (1.0 - per_slot) ** (2 * SLOTS * self.load_factor())

    # ---- serde ----

    def to_bytes(self) -> bytes:
        return (_HDR.pack(_MAGIC, self.n_buckets, self.fp_bits, self.seed,
                          self.n_items)
                + self.table.astype("<u2", copy=False).tobytes())

    @classmethod
    def from_bytes(cls, b: bytes) -> "Cuckoo":
        magic, n_buckets, fp_bits, seed, n_items = _HDR.unpack_from(b)
        if magic != _MAGIC:
            raise ValueError("Cuckoo.from_bytes: bad magic")
        want = _HDR.size + n_buckets * SLOTS * 2
        if len(b) != want:
            raise ValueError("Cuckoo.from_bytes: truncated payload")
        table = (np.frombuffer(b, dtype="<u2", offset=_HDR.size)
                 .reshape(n_buckets, SLOTS).copy())
        return cls(n_buckets, fp_bits, seed, table, n_items)
