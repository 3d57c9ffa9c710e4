"""grenier_spark — a from-scratch PySpark-native distributed sketch /
approximate-aggregation library with the capabilities of the sketch-relevant
parts of let-def/grenier (HyperLogLog++, jump consistent hashing, heavy
hitters), extended per the north rule with count-min, Bloom, KLL and t-digest
mergeable sketches, built over token-sequence tables.

Layout:

* ``core/``      — pure numpy spec kernels (no Spark dependency); the same
                   kernels run in pytest golden tests and inside Arrow UDFs.
* ``functions/`` — Spark Column-level helpers (hash/bucket expressions,
                   estimate extraction over BinaryType sketch states).
* ``operators/`` — distributed operators: two-level sketch build
                   (mapInArrow partial -> grouped merge -> tree merge),
                   dedup (exact / MinHash-LSH / SimHash / Bloom-gated
                   incremental ingest), similarity/ANN, text stats,
                   sequence packing, splits & source mixture
                   (+ temperature curricula), training-order shuffle /
                   stride interleaving / sharded manifest writer.
* ``sources/``   — TableIO seam (parquet + JSON snapshot manifest standing in
                   for an Iceberg catalog) and deterministic fixture synthesis.
* ``plans/``     — checkpoint / lineage / resume logic + merge-tree
                   history (estimates as-of every snapshot).
* ``streaming/`` — Structured Streaming incremental sketch maintenance,
                   stateful sketches, streaming dedup (within-stream +
                   vs-corpus ingest).
"""

__version__ = "0.1.0"

from grenier_spark import _worker

_worker.install()
