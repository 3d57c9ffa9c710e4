"""Hash / bucket Column functions (vectorized Arrow UDFs, ``functions._udf``).

The hot path stays JVM-side wherever Spark has an equivalent builtin
(``F.xxhash64`` for generic row hashing); these UDFs exist for the two
operations Spark lacks with the required bit-exact semantics:

* ``wang64_col`` — Thomas Wang 64-bit mix (reference hll/hll.ml:159-172),
  the canonical sketch input hash.
* ``jump_bucket_col`` — jump consistent hash (reference jmphash/jmphash.ml),
  minimal-relocation bucket assignment used for skew-controlled
  ``df.repartition(n, bucket)`` (SURVEY.md §4.3).

Keys are read as Arrow int64 with their validity mask, so every key keeps
its 64 bits next to a NULL, and a NULL key gives a NULL hash or bucket.
The SQL ``wang64`` / ``jump_bucket`` (functions/register.py) run the same
bodies.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..core.bits import U64, wang64
from ..core.jmphash import jump_bucket
from ..core.rendezvous import hrw_bucket_among
from ._udf import key_udf

_wang64 = key_udf("long", lambda k: wang64(k.view(U64)).view(np.int64))


def _jump(ks: np.ndarray, n: np.ndarray) -> np.ndarray:
    """jump_bucket per row's bucket count: one call per distinct n."""
    out = np.empty(len(ks), dtype=np.int64)
    for nv in np.unique(n):
        m = n == nv
        out[m] = jump_bucket(ks[m].view(U64), int(nv))
    return out


def wang64_col(col: "Column | str") -> Column:
    """wang64(key) as a signed-long column (bit pattern of the uint64 hash)."""
    return _wang64(col)


def jump_bucket_col(col: "Column | str", n_buckets: int) -> Column:
    """Jump-consistent bucket in [0, n_buckets) of a long column."""
    return key_udf("int", _jump)(col, F.lit(n_buckets))


def repartition_by_jump(df, key_col: str, n_buckets: int):
    """Repartition with jump-consistent placement: ``bucket =
    jump_hash(wang64(xxhash64(key)), n)`` then hash-exchange on the bucket.

    Versus Spark's default Murmur3-pmod exchange, re-running with a different
    ``n_buckets`` relocates only ``(m-n)/m`` of the keys — the reference's
    stated key property (jmphash/jmphash.mli:9-11) — which keeps
    checkpointed per-bucket sketch state mostly valid when the bucket count
    is re-tuned (plans/checkpoint.py). The ``_jump_bucket`` column stays in
    the output on purpose: it is the stable state key downstream grouping
    should use.

    Placement uses a RANGE exchange on the bucket id, not hash: hashing
    the n bucket values into n partitions is balls-in-bins (~1/e of
    partitions empty, fullest holds 3-4 buckets — a 3-4x skew from the
    very operator meant to control skew), while range boundaries over the
    uniform bucket ids land ~one bucket per partition.
    """
    bucket = jump_bucket_col(wang64_col(F.xxhash64(F.col(key_col))), n_buckets)
    return (df.withColumn("_jump_bucket", bucket)
            .repartitionByRange(n_buckets, "_jump_bucket"))


def hrw_bucket_col(col: "Column | str", n_nodes: int = None,
                   nodes=None) -> Column:
    """Rendezvous (HRW) owner node of a long column (core/rendezvous.py —
    survives removal of an ARBITRARY node with exactly that node's keys
    moving, where jump hash only handles the highest-numbered one).
    Pass ``n_nodes`` for the full set 0..n-1 or ``nodes`` for a live
    subset."""
    live = tuple(range(n_nodes)) if nodes is None else tuple(nodes)
    return key_udf("int", lambda k: hrw_bucket_among(k.view(U64), live))(col)


def md5_low64_col(col: "Column | str") -> Column:
    """THE cross-engine string hash: signed 64-bit value of the first 16
    hex chars of md5 (pure JVM expression). DuckDB twin:
    ``sql_oracles.md5_low64_expr`` — same bits, unsigned. Use this (never
    xxhash64) anywhere a DuckDB oracle must recompute the hash."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 16), 16, -10).cast("long")


def md5_tokens_col(text_col: "Column | str") -> Column:
    """array<long> of md5-low64 word ids for a whitespace-tokenized text
    column (includes empty tokens from repeated separators, matching
    DuckDB ``string_split``)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.transform(F.split(c, " "), md5_low64_col)
