"""Streaming exact deduplication: first-occurrence-wins on content hash.

The streaming complement of ``operators.dedup.exact_dup_members``: a
document stream (crawl ingest) where every byte-identical re-crawl must be
dropped at ingest time rather than in a later batch pass.

Two regimes, both pure engine machinery (the state store does the work —
no custom stateful UDF needed, so the operator inherits exactly-once and
checkpoint/restart semantics from Structured Streaming itself):

* **watermarked** (the 100 TB path): ``withWatermark(ts, delay)`` +
  ``dropDuplicatesWithinWatermark([content_hash])``. A re-crawl arriving
  within ``delay`` of the original's event time is dropped; state for a
  hash is PURGED once the watermark passes it, so state size is bounded by
  the duplicate-arrival horizon (docs per ``delay`` window), not by stream
  length. A re-occurrence after purge re-emits — the standard
  bounded-state trade (an offline :func:`..operators.dedup.exact_dup_members`
  pass over the sink catches the long tail).
* **global** (calibration / bounded streams): ``dropDuplicates`` keyed on
  the hash — exact forever, state grows with distinct hashes (16-byte key
  + row marker per distinct doc; fine at test scale, document before using
  on an unbounded crawl).

State is keyed on md5(text) only — 16 bytes per distinct doc regardless of
document size, and the shuffle that routes rows to state partitions moves
(hash, id, ts) projections, never token-scale payloads, when the caller
selects output columns downstream of the dedup (Catalyst prunes through
dropDuplicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream(stream_df: DataFrame, text_col: str = "text",
                 ts_col: "str | None" = None,
                 delay: str = "10 minutes") -> DataFrame:
    """First document per md5 content hash passes; later identical bytes
    are dropped. ``ts_col`` selects the watermarked bounded-state regime
    (see module docstring); ``None`` the exact global one."""
    out = stream_df.withColumn("content_hash", F.md5(F.col(text_col)))
    if ts_col is None:
        return out.dropDuplicates(["content_hash"])
    return (out.withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(["content_hash"]))


def ingest_dedup_stream(stream_df: DataFrame, corpus_hashes: DataFrame,
                        bloom_bytes: bytes, text_col: str = "text",
                        hash_col: str = "content_hash") -> DataFrame:
    """Streaming vs-CORPUS dedup: flag each arriving doc against the
    already-ingested corpus (the streaming shape of
    ``operators.dedup.incremental_ingest_dedup``; compose with
    :func:`dedup_stream` upstream for within-stream re-crawls).

    The Bloom filter routes in the scan stage: a probe MISS is definitely
    new and **bypasses the join entirely** — at a 1% false-positive rate
    ~99% of genuinely-new docs never touch the corpus index, so the
    stream-static join only carries true dups + the fpr tail. Candidates
    verify exactly against ``corpus_hashes`` — the persistent dedup INDEX
    table (already distinct md5 hex, 16 bytes/doc; the thing an ingest
    pipeline maintains anyway) — via a per-microbatch stream-static left
    join. Output = input + ``content_hash`` + exact ``is_new``.

    COVERAGE CONTRACT: ``bloom_bytes`` must cover every hash in
    ``corpus_hashes`` — build it from the index itself with
    ``operators.dedup.bloom_of_hash_index(corpus_hashes)`` (same 64
    probe bits as ``bloom_of_corpus`` over the raw text; a naive re-hash
    of the hex strings would miss every true dup). The broadcast filter
    is FROZEN at stream start, so corpus rows added while the stream runs
    are only visible to probe *hits*: a doc whose key the stale filter
    misses bypasses the join and reads is_new=true even if another writer
    inserted it mid-stream. Within-stream re-crawls are the common case
    and are caught by composing :func:`dedup_stream` upstream; for
    external writers, restart the stream with a refreshed filter (or run
    the batch ``incremental_ingest_dedup`` against a current filter in a
    reconciliation pass).

    State: none (stateless filter + join), so restart/exactly-once come
    from the sink's checkpoint alone. The index is re-resolved per
    micro-batch (stream-static semantics), which keeps the growing corpus
    visible to the VERIFY side between batches."""
    from ..functions._udf import broadcast_probe_udf
    from ..operators.dedup import _md5_low64_signed

    bc = stream_df.sparkSession.sparkContext.broadcast(bytes(bloom_bytes))
    probe = broadcast_probe_udf("boolean", "bloom", "contains", bc,
                                deterministic=False)
    keyed = (stream_df
             .withColumn("content_hash", F.md5(F.col(text_col)))
             # a NULL text has a NULL key, in no filter: it is new
             .withColumn("_maybe",
                         F.coalesce(probe(_md5_low64_signed(text_col)),
                                    F.lit(False))))
    clean = keyed.where(~F.col("_maybe")).withColumn("is_new", F.lit(True))
    hits = (corpus_hashes
            .select(F.col(hash_col).alias("content_hash"))
            .withColumn("_hit", F.lit(True)))
    verified = (keyed.where(F.col("_maybe"))
                .join(hits, "content_hash", "left")
                .withColumn("is_new", F.col("_hit").isNull())
                .drop("_hit"))
    return clean.unionByName(verified).drop("_maybe")
