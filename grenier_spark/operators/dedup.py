"""Deduplication operators for training-data pipelines.

Four tiers, all deterministic under fixed seeds:

* exact            — hash-groupBy on content (``md5(text)``), pure Spark SQL.
* minhash + LSH    — word w-shingles -> minhash signature -> banded LSH
                     buckets -> candidate pairs verified by signature
                     similarity. The scale path: candidates come from a
                     bucket self-join (shuffle on band hash, small rows),
                     never an all-pairs product.
* simhash          — 64-bit weighted bit-vote fingerprint; near-dups =
                     fingerprints at small Hamming distance, found via
                     banded exact-match on 16-bit quarters (Charikar 2002 /
                     Manku et al. 2007 style).
* n-gram Jaccard   — exact Jaccard on shingle sets for candidate PAIRS only
                     (the verify stage after LSH).

Hash chain: words -> ``xxhash64`` (JVM-side) -> shingles via ordered window
-> ``wang64`` mixes with splitmix64-derived per-permutation salts (the same
kernels as the sketches, core/bits.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.bits import U64, splitmix64_scalar, wang64
from ..functions._udf import Udf, broadcast_probe_udf, list_values, write


def _content_key(text_col: str, id_col: str):
    """md5 content hash with a per-id surrogate for NULL text. NULL text
    hashes to NULL, and both window partitioning and groupBy treat NULLs as
    EQUAL — 1000 failed-fetch rows would collapse into one "duplicate"
    cluster and a keep-first pass would silently discard 999 distinct docs.
    The surrogate makes each NULL-text row its own singleton group
    (n_copies=1: never reported as a dup, always kept — the NULL-keep
    contract the ingest-dedup paths already follow)."""
    return F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("null:"), F.col(id_col).cast("string"))
    ).alias("content_hash")


def _dup_members_by_key(keyed: DataFrame, key: str, id_col: str) -> DataFrame:
    """Row-per-member duplicate report over a pre-keyed frame, WITHOUT a
    window: groupBy(key) min/count (map-side combined — the shuffle carries
    per-task partials, not rows) + an inner join back. A degenerate
    million-copy cluster is a skewed JOIN key, which AQE splits across
    tasks; the row_number window it replaces pins the whole cluster to ONE
    task (window partitions cannot be split). ``is_keep`` = lowest id of
    the group (ids are unique by the corpus contract)."""
    g = (keyed.groupBy(key)
         .agg(F.min(id_col).alias("_keep_id"),
              F.count(F.lit(1)).alias("_n_copies"))
         .where("_n_copies > 1"))
    return (keyed.join(g, key)
            .withColumn("is_keep", F.col(id_col) == F.col("_keep_id"))
            .drop("_keep_id", "_n_copies"))


def _keep_first_by_key(df: DataFrame, key_expr, id_col: str) -> DataFrame:
    """Every column of ``df``, one row per distinct key, survivor = lowest
    ``id_col`` — as min-aggregate + join rather than a row_number window,
    so a degenerate dup cluster parallelizes (see _dup_members_by_key).
    The winners side is one KB-scale row per distinct key."""
    w = (df.select(key_expr.alias("_k"), F.col(id_col))
         .groupBy("_k").agg(F.min(id_col).alias("_keep_id")))
    return (df.withColumn("_k", key_expr).join(w, "_k")
            .where(F.col(id_col) == F.col("_keep_id"))
            .drop("_k", "_keep_id"))


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", max_ids: int = 100,
                     n_salts: int = 64) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_copies, keep_id,
    all_ids). Pure JVM plan, two-stage SALT-SPLIT aggregation (no window):
    stage 1 groups by (hash, pmod(xxhash64(id), n_salts)) and reduces each
    salt's slice to (min-``max_ids`` sorted ids, exact count, min id);
    stage 2 merges the per-salt summaries — counts add, arrays flatten →
    sort → slice. So a degenerate dup cluster (empty strings, boilerplate
    pages — millions of copies at web scale) spreads over ``n_salts``
    reducers instead of pinning one task, and stage 2 never buffers more
    than ``n_salts * max_ids`` ids per group. ``n_copies`` is exact;
    ``all_ids`` = the ``max_ids`` smallest ids (same set the old rank-cap
    form produced). Stage-1 reducers buffer their salt's slice
    (cluster/n_salts rows, spillable) before the cap — raise ``n_salts``
    for pathological skew. Row-level membership without any array lives
    in :func:`exact_dup_members`.
    """
    keyed = df.select(
        _content_key(text_col, id_col), F.col(id_col),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).alias("_salt"))
    s1 = (keyed.groupBy("content_hash", "_salt")
          .agg(F.slice(F.sort_array(F.collect_list(id_col)), 1, max_ids)
               .alias("_ids"),
               F.count(F.lit(1)).alias("_c"),
               F.min(id_col).alias("_min")))
    return (s1.groupBy("content_hash")
            .agg(F.sum("_c").alias("n_copies"),
                 F.min("_min").alias("keep_id"),
                 F.slice(F.sort_array(F.flatten(F.collect_list("_ids"))),
                         1, max_ids).alias("all_ids"))
            .where("n_copies > 1"))


def exact_dup_members(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Row-per-member exact-dup output: (content_hash, doc id, is_keep).
    The unbounded-cluster-safe form of :func:`exact_dup_groups` — no
    per-group array anywhere, so a million-copy boilerplate cluster is a
    million ordinary rows, and no per-group window task either: the keep
    rule is a min-aggregate + AQE-splittable join (_dup_members_by_key).
    ``is_keep`` marks the lowest id of each group (the survivor a dedup
    pass retains)."""
    keyed = df.select(_content_key(text_col, id_col), F.col(id_col))
    return (_dup_members_by_key(keyed, "content_hash", id_col)
            .select("content_hash", id_col, "is_keep"))


def dedup_keep_first(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """The deduplicated corpus itself: every column of ``df``, one row per
    distinct content (md5 of ``text_col``), survivor = lowest ``id_col``
    — the same keep rule as :func:`exact_dup_members`, realized as
    min-aggregate + join (_keep_first_by_key): the payload crosses one
    join Exchange, the winners side is KB-scale partials, and a degenerate
    dup cluster splits across tasks instead of pinning one window task.
    NULL-text rows are all kept (per-id surrogate key)."""
    return _keep_first_by_key(df, _content_key(text_col, id_col), id_col)


def _token_seq_key(tokens_col: str, id_col: str):
    """Cross-engine content key for a pre-tokenized sequence: md5 of the
    comma-joined decimal rendering of the token ids. Token-array EQUALITY is
    the per-row invariant of the tokenized training table (doc_id, tokens,
    n_tok, source), so this is the canonical dedup key for that payload —
    two rows collide iff their token sequences are identical element for
    element. DuckDB twin: ``md5(array_to_string(tokens, ','))`` (BIGINTs
    render as the same signed decimals on both engines). NULL token arrays
    get a per-id surrogate (singleton groups, always kept — same contract
    as :func:`_ranked_by_content_hash`)."""
    ser = F.concat_ws(",", F.transform(F.col(tokens_col),
                                       lambda t: t.cast("string")))
    return F.when(F.col(tokens_col).isNull(),
                  F.concat(F.lit("null:"), F.col(id_col).cast("string"))
                  ).otherwise(F.md5(ser)).alias("seq_hash")


def token_seq_dup_members(df: DataFrame, tokens_col: str = "tokens",
                          id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate TOKEN SEQUENCES, row per member: (seq_hash, id,
    n_tok, is_keep) for every row whose token array appears more than once;
    ``is_keep`` marks the lowest id (the survivor a dedup pass retains).

    Scale shape: the token arrays are reduced to a 32-hex key + length in
    the scan stage and are NEVER shuffled — the Exchanges move
    (seq_hash, id, n_tok) rows only, so a 10^12-sequence table shuffles
    ~50 B/row regardless of sequence length. Row-per-member output (no
    per-group array) and no per-group window task (min-aggregate +
    AQE-splittable join), so a degenerate million-copy cluster is a
    million ordinary rows split across tasks — same contract as
    :func:`exact_dup_members`."""
    keyed = df.select(_token_seq_key(tokens_col, id_col), F.col(id_col),
                      F.coalesce(F.size(tokens_col), F.lit(0))
                      .cast("long").alias("n_tok"))
    return (_dup_members_by_key(keyed, "seq_hash", id_col)
            .select("seq_hash", id_col, "n_tok", "is_keep"))


def token_seq_dedup_keep_first(df: DataFrame, tokens_col: str = "tokens",
                               id_col: str = "doc_id") -> DataFrame:
    """The deduplicated tokenized corpus: every column of ``df``, one row
    per distinct token sequence, survivor = lowest ``id_col`` (same keep
    rule as :func:`token_seq_dup_members`). Because the full rows (token
    arrays included) are the OUTPUT, this variant inherently moves the
    payload once through the join Exchange (_keep_first_by_key) — when
    only the drop/report side is needed, use :func:`token_seq_dup_members`
    (key-only shuffle) instead."""
    return _keep_first_by_key(df, _token_seq_key(tokens_col, id_col), id_col)


def _shingle_hashes(df: DataFrame, text_col: str, w: int) -> DataFrame:
    """(id cols..., shingle bigint) — hash of each w-word window.

    Stays JVM-side: split -> transform(xxhash64) -> sliding windows via
    zip_with over array slices.
    """
    words = F.split(F.col(text_col), " ")
    wh = F.transform(words, lambda t: F.xxhash64(t))
    # shingle i = xxhash64 over the STRUCT of w consecutive word hashes;
    # docs with fewer than w words yield NO shingles (same contract as the
    # md5 path and the SQL oracle — the old greatest(n-w, 0) emitted one
    # null-padded ghost shingle for short docs)
    n = F.size(wh)
    shingles = F.when(
        n >= w,
        F.transform(F.sequence(F.lit(0), n - w),
                    lambda i: F.xxhash64(*[F.element_at(wh, i + k + 1)
                                           for k in range(w)]))
    ).otherwise(F.array().cast("array<bigint>"))
    return df.withColumn("shingle", F.explode(shingles)).drop(text_col)


def _md5_word_hash_col(text_col: str):
    """array<long>: low 64 bits of md5 per whitespace word (JVM-side) —
    the cross-engine word hash (DuckDB twin: sql_oracles.md5_low64_expr)."""
    from ..functions.hashing import md5_tokens_col

    return md5_tokens_col(text_col)


def _fold_shingle_rows(src: DataFrame, id_col: str, id_type: str,
                       w: int) -> DataFrame:
    """(id, shingle) rows from pre-hashed ``(id, wh array<long>)`` rows:
    each w-window folds with ``acc = wang64(acc ^ next)`` (numpy; identical
    wang64 stages run in the DuckDB oracles). Rows with NULL ``wh`` or
    fewer than ``w`` elements yield no shingles. Shared by the md5 text
    chain and the pre-tokenized payload chain — one fold, one oracle twin."""

    def gen(it):
        for pdf in it:
            ids, shs = [], []
            for did, whl in zip(pdf[id_col], pdf["wh"]):
                if whl is None:
                    # NULL text -> null word-hash array; drop the row, the
                    # same contract as the xxhash64 path's explode
                    continue
                v = np.asarray(whl, dtype=np.int64).view(U64)
                nwin = len(v) - w + 1
                if nwin <= 0:
                    continue
                acc = v[:nwin].copy()
                for k in range(1, w):
                    acc = wang64(acc ^ v[k:nwin + k])
                ids.extend([did] * nwin)
                shs.append(acc.astype(np.int64))
            yield pd.DataFrame({
                id_col: ids,
                "shingle": (np.concatenate(shs) if shs
                            else np.array([], dtype=np.int64))})

    return src.mapInPandas(gen, f"{id_col} {id_type}, shingle long")


def _md5_shingle_rows(df: DataFrame, text_col: str, id_col: str,
                      w: int = 3) -> DataFrame:
    """(id, shingle) rows via the SQL-expressible chain: md5-low64 word
    hashes folded per window (:func:`_fold_shingle_rows`). Docs with fewer
    than ``w`` words yield no shingles (same as the oracle's range())."""
    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(id_col, _md5_word_hash_col(text_col).alias("wh"))
    return _fold_shingle_rows(src, id_col, id_type, w)


def token_shingle_rows(df: DataFrame, tokens_col: str = "tokens",
                       id_col: str = "doc_id", w: int = 3) -> DataFrame:
    """(id, shingle) rows over a PRE-TOKENIZED payload (the north-rule
    input shape: ``tokens array<int32|int64>``): the token ids ARE the
    element hashes, so the chain is just the shared w-window wang64 fold —
    no text stage, no Python string handling, and every stage reproducible
    in DuckDB (sql_oracles.token_minhash_neardup_sql). int32 token ids
    widen to int64 (non-negative ids keep their bit pattern in the U64
    view, matching the oracle's ``::UHUGEINT``)."""
    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(id_col,
                    F.col(tokens_col).cast("array<bigint>").alias("wh"))
    return _fold_shingle_rows(src, id_col, id_type, w)


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, w: int,
                  word_hash: str) -> DataFrame:
    if word_hash == "md5":
        return _md5_shingle_rows(df.select(id_col, text_col), text_col,
                                 id_col, w)
    return _shingle_hashes(df.select(id_col, text_col), text_col, w)


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", w: int = 3,
                       n_hashes: int = 64, seed: int = 42,
                       word_hash: str = "xxhash64") -> DataFrame:
    """(id, sig array<bigint>) minhash signature over w-shingles.

    sig[i] = min over shingles of wang64(shingle XOR splitmix64(seed+i+1)):
    one aggregation per permutation, computed vectorized in a single grouped
    pandas pass over (id, shingle) rows.

    ``word_hash``: "xxhash64" (default; fastest, JVM) or "md5" (low-64-bit
    md5 word hashes + wang64 shingle folds — every stage reproducible in
    DuckDB SQL, used by the value-gated oracle).
    """
    sh = _shingle_rows(df, text_col, id_col, w, word_hash)
    id_type = df.schema[id_col].dataType.simpleString()
    return _sign_shingle_rows(sh, id_col, id_type, n_hashes, seed)


def _sign_shingle_rows(sh: DataFrame, id_col: str, id_type: str,
                       n_hashes: int, seed: int) -> DataFrame:
    """(id, sig) signatures from (id, shingle) rows — the signing stage
    shared by the text chain and the pre-tokenized payload chain."""
    salts = np.array([splitmix64_scalar(seed + i + 1) for i in range(n_hashes)],
                     dtype=U64)

    def sign(pdf: pd.DataFrame) -> pd.DataFrame:
        # all docs of the bucket at once: group-sort the shingles, then per
        # salt one wang64 pass over the WHOLE bucket + a segment-min
        # (minimum.reduceat) — no per-doc loop, n_hashes vectorized passes
        pdf = pdf.drop(columns="_b")
        codes, uniques = pd.factorize(pdf[id_col], sort=False)
        order = np.argsort(codes, kind="stable")
        s = pdf["shingle"].to_numpy(dtype=np.int64).view(U64)[order]
        starts = np.searchsorted(codes[order], np.arange(len(uniques)))
        sigs = np.empty((len(uniques), n_hashes), dtype=U64)
        for i in range(n_hashes):
            sigs[:, i] = np.minimum.reduceat(wang64(s ^ salts[i]), starts)
        out = sigs.view(np.int64)
        return pd.DataFrame({id_col: uniques,
                             "sig": [r.tolist() for r in out]})

    # bucket docs (not one pandas group per doc: per-group overhead would
    # dominate); shuffle volume is identical — shingle rows keyed by doc
    return (sh.withColumn("_b", F.pmod(F.xxhash64(F.col(id_col)),
                                       F.lit(256)))
            .groupBy("_b")
            .applyInPandas(sign, f"{id_col} {id_type}, sig array<bigint>"))


def est_jaccard_col(sig_a, sig_b):
    """Fraction of matching signature positions — the LSH Jaccard
    estimate. Shared by the self-join near-dup pipeline and the
    cross-table decontamination pipeline (and mirrored position-for-
    position by their DuckDB oracles): both MUST use this one expression
    or the estimate-filter stages drift."""
    return (F.size(F.filter(F.zip_with(sig_a, sig_b,
                                       lambda a, b: a == b), lambda x: x))
            / F.size(sig_a))


def set_jaccard_col(sh_a, sh_b):
    """Exact Jaccard of two DISTINCT-element shingle arrays
    (collect_set output) — the verify-stage expression shared by the
    self-join and cross-table pipelines."""
    return (F.size(F.array_intersect(sh_a, sh_b))
            / F.size(F.array_union(sh_a, sh_b))).cast("double")


def banded_signatures(sig_df: DataFrame, id_col: str = "doc_id",
                      bands: int = 16, hash_buckets: bool = True,
                      sig_len: "int | None" = None) -> DataFrame:
    """(id, sig, band, bucket) rows — one per (doc, band) — the shared LSH
    banding stage of the self-join near-dup pipeline
    (:func:`lsh_candidate_pairs`) and the cross-table decontamination
    pipeline (``decontam.fuzzy_contamination``); both tables MUST band with
    identical parameters or candidates silently vanish.

    Pass ``sig_len`` (= n_hashes of the signing stage) when known to skip
    the one-row driver probe job.

    ``bands`` must divide the signature length: width 0 (bands > n_hashes)
    would make EVERY band slice empty — identical buckets for all docs,
    i.e. the N^2 all-pairs join this module exists to avoid — and a
    non-divisible width silently ignores trailing signature positions.
    """
    if sig_len is None:
        sig_len = sig_df.select(F.size("sig")).first()[0]
    if sig_len is None or bands > sig_len or sig_len % bands:
        raise ValueError(
            f"bands={bands} must divide the signature length ({sig_len}); "
            f"bands > n_hashes degenerates to an all-pairs join")
    width = sig_len // bands
    if hash_buckets:
        bucket_of = lambda b: F.xxhash64(F.slice("sig", b * width + 1,
                                                 width), b)
    else:
        bucket_of = lambda b: F.slice("sig", b * width + 1, width)
    return sig_df.select(
        id_col, "sig",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            bucket_of)).alias("band", "bucket"))


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str = "doc_id",
                        bands: int = 16, min_est_jaccard: float = 0.5,
                        hash_buckets: bool = True,
                        sig_len: "int | None" = None) -> DataFrame:
    """Candidate near-dup pairs from banded LSH + signature-estimated Jaccard.

    Pairs (a, b), a < b, sharing >= 1 band bucket; est_jaccard = fraction of
    matching signature positions. Shuffles only (band_hash, id, sig) rows.

    ``hash_buckets=True`` (default) hashes each band slice to a 64-bit
    bucket (smaller shuffle rows at scale, vanishing collision rate);
    ``False`` joins on the raw sub-signature arrays — identical candidates
    minus hash collisions, and exactly reproducible in SQL (the oracle path).

    Banding + validation live in :func:`banded_signatures`.
    """
    banded = banded_signatures(sig_df, id_col, bands, hash_buckets, sig_len)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (left.join(right, (F.col("l.band") == F.col("r.band"))
                       & (F.col("l.bucket") == F.col("r.bucket"))
                       & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"),
                     F.col("l.sig").alias("sig_a"), F.col("r.sig").alias("sig_b"))
             .dropDuplicates(["id_a", "id_b"]))
    return (pairs.withColumn("est_jaccard", est_jaccard_col("sig_a", "sig_b"))
            .where(F.col("est_jaccard") >= min_est_jaccard)
            .select("id_a", "id_b", "est_jaccard"))


def exact_jaccard_for_pairs(df: DataFrame, pairs: DataFrame,
                            text_col: str = "text", id_col: str = "doc_id",
                            w: int = 3,
                            word_hash: str = "xxhash64") -> DataFrame:
    """Verify stage: exact shingle-set Jaccard for candidate pairs only."""
    sh = (_shingle_rows(df, text_col, id_col, w, word_hash)
          .groupBy(id_col).agg(F.collect_set("shingle").alias("sh")))
    a = sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a")
    b = sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b")
    return (pairs.join(a, "id_a").join(b, "id_b")
            .withColumn("jaccard", set_jaccard_col("sh_a", "sh_b"))
            .select("id_a", "id_b", "est_jaccard", "jaccard"))


def token_minhash_neardup(df: DataFrame, tokens_col: str = "tokens",
                          id_col: str = "doc_id", w: int = 3,
                          n_hashes: int = 64, seed: int = 42,
                          bands: int = 16, min_est_jaccard: float = 0.5,
                          tau: float = 0.7) -> DataFrame:
    """MinHash+LSH near-dup detection over a PRE-TOKENIZED corpus — the
    north-rule input shape (``doc_id, tokens array<int32>``): token
    w-gram shingles (shared wang64 fold), per-salt min signatures, banded
    raw-sub-signature candidates, matching-position estimate filter, exact
    distinct-shingle Jaccard >= ``tau`` verify. Every stage is the same
    kernel the text chain uses, so the whole pipeline carries a value-exact
    DuckDB oracle (sql_oracles.token_minhash_neardup_sql).

    Scale shape identical to the text pipeline: token arrays are consumed
    in the scan stage (the fold emits (id, shingle) longs); the only
    exchanges carry shingle/signature rows, candidates come from the
    banded bucket self-join — never all-pairs. Returns
    (id_a, id_b, est_jaccard, jaccard) for verified pairs."""
    id_type = df.schema[id_col].dataType.simpleString()
    sh = token_shingle_rows(df, tokens_col, id_col, w)
    sigs = _sign_shingle_rows(sh, id_col, id_type, n_hashes, seed)
    pairs = lsh_candidate_pairs(sigs, id_col, bands, min_est_jaccard,
                                hash_buckets=False, sig_len=n_hashes)
    sets_ = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("sh"))
    a = (sets_.withColumnRenamed(id_col, "id_a")
         .withColumnRenamed("sh", "sh_a"))
    b = (sets_.withColumnRenamed(id_col, "id_b")
         .withColumnRenamed("sh", "sh_b"))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .withColumn("jaccard", set_jaccard_col("sh_a", "sh_b"))
            .where(F.col("jaccard") >= tau)
            .select("id_a", "id_b", "est_jaccard", "jaccard"))


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """(id, simhash bigint): 64-bit weighted bit-vote over word hashes
    (Charikar 2002).

    Word hashing is the md5-low64 JVM column chain (``md5_low64_col`` —
    whole-stage codegen, no Python string loop); the Arrow UDF reads the
    pre-hashed ``array<long>`` as flat values plus lengths and does only
    vectorized numpy: one wang64 mix over the flattened batch, one
    bit-unpack, per-doc vote sums via ``add.reduceat``. A NULL or wordless
    text gets a NULL simhash, which no :func:`simhash_candidates` join
    pairs.
    """
    from ..functions.hashing import md5_low64_col

    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    src = df.select(id_col, F.transform(words, md5_low64_col).alias("wh"))

    def fingerprints(out, whs):
        flat, lens = list_values(whs)   # a NULL row holds no word
        ok = lens > 0
        n = lens[ok]
        shifts = np.arange(64, dtype=U64)
        hs = wang64(flat.to_numpy(zero_copy_only=False).view(U64))
        bits = ((hs[:, None] >> shifts[None, :]) & U64(1)).astype(np.int64)
        votes = 2 * np.add.reduceat(bits, np.cumsum(n) - n, axis=0) \
            - n[:, None]
        fps = (((votes > 0).astype(U64)) << shifts[None, :]).sum(
            axis=1, dtype=U64)
        return write(fps.view(np.int64), ok, out)

    return src.select(id_col, Udf("long", fingerprints)(F.col("wh"))
                      .alias("simhash"))


def _simhash_block_layout(n_blocks: int) -> "list[tuple[int, int]]":
    """(shift, width) per block, LSB-first, widths summing to 64 and as
    equal as possible (n_blocks need not divide 64)."""
    base, extra = divmod(64, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    shifts = [sum(widths[:i]) for i in range(n_blocks)]
    return list(zip(shifts, widths))


def simhash_blocks_for(n_docs: int, max_hamming: int = 3,
                       target_occupancy: float = 4.0,
                       max_blocks: int = 16) -> int:
    """Smallest block count whose anchor width bounds EXPECTED bucket
    occupancy by ``target_occupancy`` instead of by N: with B blocks and
    Hamming radius k, every table keys on (B-k) blocks ~ (B-k)*64/B anchor
    bits, so expected occupancy of a table bucket is N / 2^anchor. The
    candidate-join output per table grows ~ N * occupancy — O(N) iff
    occupancy is O(1). (Manku, Jindal, Das Sarma & Sarma, WWW 2007 §3.)
    """
    for b in range(max_hamming + 1, max_blocks + 1):
        anchor = (b - max_hamming) * 64 // b
        if anchor >= 63 or n_docs / float(1 << anchor) <= target_occupancy:
            return b
    return max_blocks


def simhash_candidates(fp_df: DataFrame, id_col: str = "doc_id",
                       max_hamming: int = 3, n_blocks: int = 4) -> DataFrame:
    """Near-dup pairs at Hamming distance <= ``max_hamming``, verified by
    exact popcount of the XOR.

    Candidate generation is the block-permutation scheme of Manku, Jindal,
    Das Sarma & Sarma (WWW 2007): split the 64 fingerprint bits into
    ``n_blocks`` blocks; a pair within distance k must agree on some
    (n_blocks - k) blocks (pigeonhole), so build C(n_blocks, n_blocks-k)
    tables, each keyed on one such block combination concatenated into an
    anchor key. Per doc that is C(B, B-k) (table, key) rows and ONE
    self-equi-join on (table, key) — shuffle on the anchor only, never
    all-pairs.

    Completeness holds for ANY valid n_blocks (> max_hamming), so the
    final verified output is banding-invariant; n_blocks only controls the
    candidate volume. The default 4 (4 tables x 16-bit anchors, 65k
    buckets/table) is the oracle-checkable small-N layout; at N docs pick
    ``n_blocks`` = :func:`simhash_blocks_for` (N) so anchors carry
    >= log2(N) bits and expected bucket occupancy — hence candidate output
    per doc — stays O(1) in N (e.g. B=8, k=3 -> C(8,5)=56 tables keyed on
    40-bit anchors: O(1) occupancy up to ~10^12 docs).
    """
    cands = simhash_candidate_pairs(fp_df, id_col, max_hamming, n_blocks)
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (cands
            .withColumn("hamming", ham)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def simhash_candidate_pairs(fp_df: DataFrame, id_col: str = "doc_id",
                            max_hamming: int = 3,
                            n_blocks: int = 4) -> DataFrame:
    """Candidate stage of :func:`simhash_candidates` (pre-verification):
    distinct (id_a, id_b, fp_a, fp_b) pairs sharing at least one table's
    anchor key. Exposed so tests can assert the O(N) candidate-volume
    bound the block layout is chosen for."""
    import itertools

    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} must exceed max_hamming={max_hamming} "
            f"(pigeonhole needs at least one agreeing block)")
    layout = _simhash_block_layout(n_blocks)
    keys = []
    for combo in itertools.combinations(range(n_blocks),
                                        n_blocks - max_hamming):
        acc = None
        for bi in combo:
            sh, w = layout[bi]
            # w == 64 (max_hamming=0, n_blocks=1: exact-match keying):
            # (1 << 64) - 1 overflows a long literal into DecimalType and
            # the AND fails to analyze; -1 is the same all-ones mask in
            # two's complement
            mask = F.lit(-1 if w == 64 else (1 << w) - 1)
            block = F.shiftrightunsigned("simhash", sh).bitwiseAND(mask)
            acc = block if acc is None else \
                F.shiftleft(acc, w).bitwiseOR(block)
        keys.append(acc)
    rows = fp_df.select(F.col(id_col), F.col("simhash"),
                        F.posexplode(F.array(*keys)).alias("tbl", "key"))
    l, r = rows.alias("l"), rows.alias("r")
    return (l.join(r, (F.col("l.tbl") == F.col("r.tbl"))
                   & (F.col("l.key") == F.col("r.key"))
                   & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"),
                    F.col("l.simhash").alias("fp_a"),
                    F.col("r.simhash").alias("fp_b"))
            .dropDuplicates(["id_a", "id_b"]))


def _ngram_inverted_index(df: DataFrame, id_col: str, text_col: str,
                          n: int):
    """Shared machinery of the word-n-gram pair operators: returns
    ``(inter, sizes)`` — per-pair intersection counts from the
    inverted-index shingle self-join (cost ``sum_s c_s^2`` over shingle
    doc-frequencies, never ``n_docs^2``) and per-doc DISTINCT shingle
    counts. Docs with fewer than ``n`` words yield no shingles. The
    caller's id type is preserved (casting to long would silently null
    non-numeric ids and return zero pairs). Single-sourced so the Jaccard
    and containment scorers can never drift."""
    w = F.split(F.col(text_col), " ")
    grams = F.when(
        F.size(w) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1)
                                         for j in range(n)])))
    ).otherwise(F.array().cast("array<string>"))
    sh = df.select(F.col(id_col).alias("id"), F.explode(grams).alias("s"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    return inter, sizes


def ngram_word_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", n: int = 3,
                             tau: float = 0.8) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs via an inverted-index join.

    Candidate pairs come from docs SHARING at least one shingle (explode ->
    self-join on the shingle -> group by pair), so the cost is
    ``sum_s c_s^2`` over shingle frequencies, not ``n_docs^2``; Jaccard is
    then exact: ``|A&B| / (|A| + |B| - |A&B|)``. At 100 TB run
    :func:`lsh_candidate_pairs` first and feed survivors here — this
    operator doubles as the exactness oracle for that path (its SQL twin
    lives in ``__spark_entry__.oracle_sql()['ngram_jaccard_pairs']``).

    Returns (id_a, id_b, inter, union_sz, jaccard) with ``jaccard >= tau``,
    ``id_a < id_b``.
    """
    inter, sizes = _ngram_inverted_index(df, id_col, text_col, n)
    ja = (inter
          .join(sizes.select(F.col("id").alias("id_a"),
                             F.col("n_sh").alias("na")), "id_a")
          .join(sizes.select(F.col("id").alias("id_b"),
                             F.col("n_sh").alias("nb")), "id_b")
          .withColumn("union_sz", F.col("na") + F.col("nb") - F.col("inter"))
          .withColumn("jaccard", F.round(F.col("inter") / F.col("union_sz"), 6))
          .where(F.col("jaccard") >= tau))
    return ja.select("id_a", "id_b", "inter", "union_sz", "jaccard")


def ngram_containment_pairs(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            tau: float = 0.8) -> DataFrame:
    """Exact word-n-gram CONTAINMENT near-dup pairs: ``inter / min(|A|,|B|)``.

    Jaccard misses asymmetric duplication — a doc that quotes or truncates
    another shares almost all of the smaller doc's shingles but few of the
    larger one's, so ``inter/union`` stays low while containment is ~1.
    This is the Broder (1997) containment coefficient, the standard signal
    for quote/boilerplate/subset dedup in web-corpus pipelines.

    Same inverted-index join as :func:`ngram_word_jaccard_pairs` (cost
    ``sum_s c_s^2`` over shingle doc-frequencies, never ``n_docs^2``); at
    100 TB feed LSH candidates instead of the full corpus. Returns
    ``(id_a, id_b, inter, n_a, n_b, containment)`` with
    ``containment >= tau``, ``id_a < id_b``.
    """
    inter, sizes = _ngram_inverted_index(df, id_col, text_col, n)
    cont = (inter
            .join(sizes.select(F.col("id").alias("id_a"),
                               F.col("n_sh").alias("n_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"),
                               F.col("n_sh").alias("n_b")), "id_b")
            .withColumn("containment",
                        F.round(F.col("inter")
                                / F.least("n_a", "n_b"), 6))
            .where(F.col("containment") >= tau))
    return cont.select("id_a", "id_b", "inter", "n_a", "n_b", "containment")


def connected_components(pairs: DataFrame, nodes: "DataFrame | None" = None,
                         id_a: str = "id_a", id_b: str = "id_b",
                         id_col: str = "id",
                         max_iter: int = 20) -> DataFrame:
    """Transitive closure of pairwise near-dup edges: (id, component_id)
    with ``component_id`` = the minimum node id reachable from ``id`` —
    the canonical survivor a transitive dedup pass keeps.

    Near-dup relations are NOT transitive (A~B and B~C do not imply A~C
    above the same threshold), but dedup policy usually IS — a chain of
    near-copies is one cluster. This closes the gap between the pairwise
    operators (:func:`simhash_candidates`, :func:`ngram_word_jaccard_pairs`,
    :func:`lsh_candidate_pairs`) and per-document keep/drop decisions.

    Algorithm: min-label propagation. Each iteration sends every node's
    current label across its (symmetrized) edges and takes the min —
    one equi-join + one groupBy per iteration, shuffles keyed on node id
    only; converges in O(cluster diameter) iterations, and near-dup
    clusters are shallow (a chain of k successive edits has diameter k).
    The loop stops early via a per-iteration changed-label count (an
    AGGREGATE, not a collect of labels). For web-scale graphs with deep
    components use :func:`connected_components_star` (same output
    contract): the alternating large-star/small-star rounds halve
    diameter per round, so a 10^6-deep chain needs ~20 rounds instead of
    10^6 iterations.

    ``nodes`` (one column ``id_col``) adds isolated documents as singleton
    components; omitted, only nodes present in ``pairs`` appear.

    OWNERSHIP: the returned DataFrame is persisted (it was materialized by
    the convergence check, and unpersisting would make every downstream
    read replay the whole iteration lineage). Call ``.unpersist()`` on the
    RESULT when done with it — repeated calls that drop the handle leak
    one cached (id, component_id) frame each into the SQL cache manager.
    """
    # persist: every label-propagation iteration joins against edges —
    # without the cache the (expensive) upstream candidate-pair pipeline
    # replays once per iteration; released before return
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(pairs.select(F.col(id_b).alias("src"),
                                       F.col(id_a).alias("dst")))
             .distinct().persist())
    members = edges.select(F.col("src").alias("id")).distinct()
    if nodes is not None:
        members = (members.unionByName(
            nodes.select(F.col(id_col).alias("id"))).distinct())
    labels = members.select("id", F.col("id").alias("component_id"))
    changed = -1  # "unknown" if max_iter == 0
    for _ in range(max_iter):
        # labels reachable in one hop, min-combined with the current label
        prop = (edges.join(labels.withColumnRenamed("id", "dst")
                           .withColumnRenamed("component_id", "nbr_label"),
                           "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("nbr_label").alias("nbr_min")))
        new_labels = (labels.join(prop, "id", "left")
                      .select("id",
                              F.least("component_id",
                                      F.coalesce("nbr_min", "component_id"))
                              .alias("component_id")))
        # localCheckpoint, not persist: persist caches DATA but keeps the
        # full logical plan, so analysis cost compounds per iteration and
        # deep runs OOM the driver on plan trees; the checkpoint truncates
        # lineage and is the iteration barrier (eager)
        new_labels = new_labels.localCheckpoint()
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.component_id") != F.col("o.component_id"))
                   .count())
        labels.unpersist()  # no-op on the unpersisted first iterate
        labels = new_labels
        if changed == 0:
            edges.unpersist()
            break
    else:
        # silent truncation would return WRONG component ids for any
        # cluster whose diameter exceeds max_iter — fail loudly instead
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing): a component "
            f"has diameter > {max_iter}; raise max_iter or pre-contract "
            f"with the large-star/small-star rounds described above")
    return labels


def connected_components_star(pairs: DataFrame,
                              nodes: "DataFrame | None" = None,
                              id_a: str = "id_a", id_b: str = "id_b",
                              id_col: str = "id",
                              max_rounds: int = 30) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
    Components in MapReduce and Beyond", SoCC 2014): the deep-component
    drop-in :func:`connected_components`'s docstring promises.

    Same contract as :func:`connected_components` — (id, component_id)
    with ``component_id`` the minimum reachable id — but each round at
    least HALVES component diameter, so a path of 10^6 near-identical
    shards resolves in ~20 rounds where min-label propagation needs 10^6
    iterations. Per round: one symmetrize + per-node min (one shuffle
    each for large-star and small-star), edge count never grows beyond
    the input edge count (theorem 1 of the paper) — no frontier blow-up.

    large-star(u): every neighbor v > u re-points to
    m = min(N(u) + {u}); small-star(u), over downward edges only: every
    neighbor (all <= u) and u itself point to m. At the fixed point every
    component is a star centered on its minimum; convergence is detected
    by edge-set stability (two exceptAll counts on the canonicalized
    edge frames — aggregates, never a collect).

    OWNERSHIP: the returned labels frame is persisted (the star edges it
    derives from are unpersisted on exit) — call ``.unpersist()`` on the
    result when done."""
    hi, lo = F.col("__hi"), F.col("__lo")
    # canonical downward direction (hi -> lo), self-loops dropped
    dir_edges = (pairs.select(
        F.greatest(F.col(id_a), F.col(id_b)).alias("__hi"),
        F.least(F.col(id_a), F.col(id_b)).alias("__lo"))
        .where(hi != lo).distinct().persist())

    for _ in range(max_rounds):
        sym = dir_edges.unionByName(
            dir_edges.select(lo.alias("__hi"), hi.alias("__lo")))
        # m(u) = min over N(u) + {u}; __hi plays "u", __lo plays "v"
        m_of = (sym.groupBy("__hi")
                .agg(F.least(F.min("__lo"), F.first("__hi")).alias("__m"))
                .withColumnRenamed("__hi", "__u"))
        # large-star: (v, m(u)) for v > u
        ls = (sym.where(lo > hi)
              .join(m_of, sym["__hi"] == m_of["__u"])
              .select(F.col("__lo").alias("__hi"),
                      F.col("__m").alias("__lo"))
              .where(F.col("__hi") != F.col("__lo")).distinct()
              .persist())  # consumed by sym2, m2 and both ss branches
        sym2 = ls.unionByName(ls.select(lo.alias("__hi"), hi.alias("__lo")))
        m2 = (sym2.groupBy("__hi")
              .agg(F.least(F.min("__lo"), F.first("__hi")).alias("__m"))
              .withColumnRenamed("__hi", "__u"))
        # small-star over downward edges: (v, m(u)) for every v <= u, and
        # (u, m(u)) itself — emitted from the directed view
        dl = ls.where(lo <= hi)  # already canonical hi -> lo
        ss = (dl.join(m2, dl["__hi"] == m2["__u"])
              .select(F.col("__lo").alias("__n"), F.col("__m"))
              .unionByName(
                  dl.join(m2, dl["__hi"] == m2["__u"])
                  .select(F.col("__hi").alias("__n"), F.col("__m")))
              .where(F.col("__n") != F.col("__m"))
              .select(F.col("__n").alias("__hi"),
                      F.col("__m").alias("__lo"))
              .distinct())
        # localCheckpoint TRUNCATES the logical plan (persist alone does
        # not): without it each round's analysis re-walks the whole
        # history and round cost grows exponentially — measured 7 s ->
        # 14 s -> OOM on a 120-node graph. Eager, so it also serves as
        # the round barrier.
        new_dir = ss.localCheckpoint()
        changed = (new_dir.exceptAll(dir_edges).limit(1).count()
                   + dir_edges.exceptAll(new_dir).limit(1).count())
        ls.unpersist()
        dir_edges.unpersist()
        dir_edges = new_dir
        if changed == 0:
            break
    else:
        dir_edges.unpersist()
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            f"rounds — at diameter halving this needs a graph deeper than "
            f"2^{max_rounds} nodes; raise max_rounds")

    centers = (dir_edges.select(lo.alias("id")).distinct()
               .join(dir_edges.select(hi.alias("id")).distinct(),
                     "id", "left_anti"))
    labels = (dir_edges.select(hi.alias("id"), lo.alias("component_id"))
              .unionByName(centers.select(
                  "id", F.col("id").alias("component_id"))))
    if nodes is not None:
        singletons = (nodes.select(F.col(id_col).alias("id")).distinct()
                      .join(labels.select("id"), "id", "left_anti")
                      .select("id", F.col("id").alias("component_id")))
        labels = labels.unionByName(singletons)
    labels = labels.persist()
    labels.count()  # materialize before releasing the star edges
    dir_edges.unpersist()
    return labels


# -- incremental ingest dedup (Bloom-gated) ---------------------------------

def _md5_low64_signed(text_col: str):
    """LOW half (hex chars 17-32) of md5(text) as a signed long (JVM-side)
    — the scalar content key the Bloom filter hashes internally (salted
    wang64, core/bloom.py). Deliberately the OTHER half of the digest than
    ``functions.hashing.md5_low64_col`` / ``sql_oracles.md5_low64_expr``
    (chars 1-16), so the Bloom key stream is independent of the word-id
    chain; never pair this with those oracle expressions."""
    return F.conv(F.substring(F.md5(F.col(text_col)), 17, 16),
                  16, -10).cast("long")


def bloom_of_corpus(existing: DataFrame, text_col: str = "text",
                    expected_docs: int = 1_000_000,
                    fpr: float = 0.01, seed: int = 9) -> bytes:
    """One Bloom filter over the whole corpus's content keys, built with
    the standard two-level sketch pipeline (partition partials -> bounded
    fan-in OR-merge) and collected to the driver: ``~9.6 bits/doc`` packed
    at fpr=1% = **1.2 GB for 10^9 docs** on the wire (and 8x that — one
    byte per bit — once deserialized for probing), so broadcast works to
    ~10^8-10^9 docs on big-memory executors; shard the filter by key
    range beyond that. Reference analog: countish's calibrated-sketch
    discipline (grenier countish/lossy.ml:14-20), sized by
    :func:`grenier_spark.core.bloom.params_for`. An EMPTY corpus yields a
    valid all-zero filter (everything probes new)."""
    from ..core.bloom import Bloom, params_for
    from .sketch_build import SketchSpec, build_sketches

    m, k = params_for(max(1, expected_docs), fpr)
    keys = existing.select(_md5_low64_signed(text_col).alias("content_key"))
    row = build_sketches(
        keys, [SketchSpec.of("seen", "bloom", "content_key",
                             m=m, k=k, seed=seed)]).select("sketch").first()
    if row is None:  # zero input rows -> no partials -> empty filter
        return Bloom(m, k, seed=seed).to_bytes()
    return bytes(row.sketch)


def bloom_of_hash_index(corpus_hashes: DataFrame,
                        hash_col: str = "content_hash",
                        expected_docs: int = 1_000_000,
                        fpr: float = 0.01, seed: int = 9) -> bytes:
    """:func:`bloom_of_corpus` built from the persistent md5-hex INDEX
    table instead of document text — the input an ingest pipeline actually
    keeps. The probe key is the SAME 64 bits :func:`_md5_low64_signed`
    extracts from md5(text) (hex chars 17-32 of the digest), so filters
    from either builder are interchangeable against the same probe chain;
    building from the index with a re-hash of the hex string would yield a
    filter that misses EVERY true duplicate."""
    from ..core.bloom import Bloom, params_for
    from .sketch_build import SketchSpec, build_sketches

    m, k = params_for(max(1, expected_docs), fpr)
    keys = corpus_hashes.select(
        F.conv(F.substring(F.col(hash_col), 17, 16), 16, -10)
        .cast("long").alias("content_key"))
    row = build_sketches(
        keys, [SketchSpec.of("seen", "bloom", "content_key",
                             m=m, k=k, seed=seed)]).select("sketch").first()
    if row is None:
        return Bloom(m, k, seed=seed).to_bytes()
    return bytes(row.sketch)


def incremental_ingest_dedup(existing: DataFrame, new: DataFrame,
                             bloom_bytes: bytes, text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """EXACT "is this new doc already in the corpus" at ingest time,
    without ever shuffling the corpus: the broadcast Bloom filter
    (``bloom_of_corpus``) prunes in the scan stage — a no-hit is
    DEFINITELY new (no false negatives) — and only the surviving
    candidates (true dups + the fpr-bounded false positives, a tiny
    fraction of the batch) are verified exactly against the corpus with
    two broadcast semi-joins, so the 100 TB side is only ever scanned and
    filtered, never exchanged. Returns ``new`` plus boolean ``is_new``;
    the output is exact (the filter only routes, never decides), so the
    operator carries a plain anti-join oracle.

    CONTRACT: ``bloom_bytes`` must cover every content key of ``existing``
    — a doc whose key the filter misses is declared new WITHOUT
    verification (that miss-is-new shortcut is the whole speedup). Blooms
    OR-merge (core/bloom.py), so maintain coverage incrementally: build a
    partial over each appended batch and merge, never probe a stale
    filter against a newer corpus.

    Vectorized probe: the broadcast form of the UDF helper
    (``functions._udf.broadcast_probe_udf``) — ``Bloom.contains`` on the
    whole Arrow batch at once, not the per-row blob-column probe of
    ``functions.bloom_contains_col``. The blob ships via
    ``SparkContext.broadcast`` (fetched once per executor, not serialized
    into every task), and the loaded filter (unpackbits is an 8x
    allocation) is memoized per Python worker on the broadcast itself —
    paid once per worker, not once per Arrow batch. A NULL text has a
    NULL key and a NULL probe, so it is no candidate: is_new = true, the
    NULL-keep of batch dedup.
    Marked nondeterministic ON PURPOSE: the probe is a pure function of
    the join key, so Catalyst's constraint inference would otherwise copy
    the predicate across the semi-join onto the CORPUS scan — a
    semantically harmless but Python-UDF-per-corpus-row pessimization.
    """
    bc = new.sparkSession.sparkContext.broadcast(bytes(bloom_bytes))
    probe = broadcast_probe_udf("boolean", "bloom", "contains", bc,
                                deterministic=False)
    keyed = new.withColumn("_chash", F.md5(F.col(text_col)))
    probed = keyed.withColumn("_maybe", probe(_md5_low64_signed(text_col)))
    # verification equality is the FULL 128-bit md5 (the same content
    # identity as exact_dup_*); only the Bloom routing key is 64-bit
    cand_keys = probed.where("_maybe").select("_chash").distinct()
    # corpus side: scan + filter against the (small) candidate key set,
    # emit only the keys that truly exist — KB-scale output
    confirmed = (existing.select(F.md5(F.col(text_col)).alias("_chash"))
                 .join(F.broadcast(cand_keys), "_chash", "left_semi")
                 .distinct())
    return (probed
            .join(F.broadcast(confirmed.withColumn("_hit", F.lit(True))),
                  "_chash", "left")
            .withColumn("is_new", F.col("_hit").isNull())
            .drop("_chash", "_maybe", "_hit"))


# -- exact substring-span dedup (Lee et al. 2022) ----------------------------

def positional_shingle_rows(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """(id, n_words, n_windows, pos, sh): md5 hex of EVERY k-word window at
    1-based word position ``pos`` — the positional variant of
    :func:`decontam.word_shingle_hashes` (no ``array_distinct``: positions
    and within-doc repeats are the point). Docs with fewer than ``k``
    words (or NULL text) emit no rows. Pure JVM array expressions in the
    scan stage."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    base = (df.select(id_col, words.alias("_w"))
            .where(F.size("_w") >= k))
    n_sh = F.size("_w") - k + 1
    sh = F.transform(F.sequence(F.lit(1), n_sh),
                     lambda i: F.md5(F.concat_ws(" ", F.slice("_w", i, k))))
    return (base.select(id_col,
                        F.size("_w").cast("long").alias("n_words"),
                        n_sh.cast("long").alias("n_windows"),
                        F.posexplode(sh).alias("_p", "sh"))
            .select(id_col, "n_words", "n_windows",
                    (F.col("_p") + 1).cast("long").alias("pos"), "sh"))


def _merged_window_spans(rows: DataFrame, id_col: str, k: int,
                         carry: "list[str]") -> DataFrame:
    """Merge duplicated k-word window positions into maximal spans: windows
    at p < p' coalesce iff p' <= p + k (overlap or exact adjacency). Input
    rows are (id, pos, *carry); output one row per span —
    (id, *carry, _win_in_island, _s, _e). Doc-local: one Exchange on id,
    shared by the lag and running-sum window specs."""
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.lag("pos").over(w_doc).isNull()
                 | (F.col("pos") - F.lag("pos").over(w_doc) > k),
                 F.lit(1)).otherwise(F.lit(0))
    islands = (rows.withColumn("_brk", brk)
               .withColumn("_island",
                           F.sum("_brk").over(
                               w_doc.rowsBetween(Window.unboundedPreceding,
                                                 Window.currentRow))))
    return (islands.groupBy(id_col, *carry, "_island")
            .agg(F.count(F.lit(1)).alias("_win_in_island"),
                 F.min("pos").alias("_s"),
                 (F.max("pos") + F.lit(k - 1)).alias("_e")))


def duplicated_span_stats(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 8,
                          min_count: int = 2) -> DataFrame:
    """Exact substring-span dedup report (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", the ExactSubstr family at
    word granularity): per doc, the maximal word spans covered by k-word
    windows that occur >= ``min_count`` times ANYWHERE in the corpus
    (across docs or within one doc — both are duplication).

    Returns one row per doc that has at least one duplicated window:
    (id, n_words, n_windows, n_dup_windows, n_spans, dup_words,
    dup_word_frac) where ``dup_words`` is the total word count of the
    merged spans (windows at positions p < p' merge iff p' <= p + k —
    overlapping or exactly adjacent duplicated text is one span) and
    ``dup_word_frac = dup_words / n_words`` (round 6). Feed a removal pass
    by joining span boundaries back, or filter docs on ``dup_word_frac``.

    Scale shape at 100 TB: the reference method builds a single-machine
    suffix array; the distributed shape is (1) positional window hashes as
    scan-stage JVM expressions, (2) the window-count groupBy — a
    shingle-scale exchange that map-side combine reduces to one row per
    distinct window hash per partition; this is the inherent cost of EXACT
    substring dedup, the same class as the corpus word-count — (3) an
    inner join of occurrence rows against the ``>= min_count`` hash set
    (usually a tiny fraction of distinct windows: duplicated text is the
    exception, which is why the join side is counts-filtered FIRST), and
    (4) doc-local window/island aggregation (one Exchange on id, both
    window specs share it). No driver-side state at any size.
    """
    occ = positional_shingle_rows(df, text_col, id_col, k)
    return _span_stats_from_occ(occ, id_col, k, min_count)


def _span_stats_from_occ(occ: DataFrame, id_col: str, k: int,
                         min_count: int) -> DataFrame:
    """The exact tail of :func:`duplicated_span_stats` from (id, n_words,
    n_windows, pos, sh) occurrence rows: global window-count filter ->
    island merge -> per-doc aggregate. ``occ`` may be the full occurrence
    frame OR any superset-preserving subset (every occurrence of every
    >= min_count window must be present — the CMS prefilter guarantees
    this), and the output is identical either way."""
    dup = (occ.groupBy("sh").agg(F.count(F.lit(1)).alias("_c"))
           .where(F.col("_c") >= min_count)
           .select("sh"))
    rows = occ.join(dup, "sh")  # inner: only duplicated windows survive
    spans = _merged_window_spans(rows, id_col, k,
                                 carry=["n_words", "n_windows"])
    return (spans.groupBy(id_col, "n_words", "n_windows")
            .agg(F.sum("_win_in_island").cast("long")
                 .alias("n_dup_windows"),
                 F.count(F.lit(1)).cast("long").alias("n_spans"),
                 F.sum(F.col("_e") - F.col("_s") + 1).cast("long")
                 .alias("dup_words"))
            .withColumn("dup_word_frac",
                        F.round(F.col("dup_words") / F.col("n_words"), 6)))


def duplicated_span_stats_sql(table_sql: str, text_col: str = "text",
                              id_col: str = "doc_id", k: int = 8,
                              min_count: int = 2) -> str:
    """DuckDB twin of :func:`duplicated_span_stats`: same filtered word
    split, same md5-of-joined-window hashes (identical strings => identical
    hex), same >= min_count window set, same lag/sum island merge with the
    p' <= p + k rule, same BIGINT counts and round-6 fraction."""
    return f"""
WITH w AS (
  SELECT {id_col} AS id,
         list_filter(string_split({text_col}, ' '), x -> x <> '') AS words
  FROM ({table_sql})),
occ AS (
  SELECT id, len(words)::BIGINT AS n_words,
         (len(words) - {k} + 1)::BIGINT AS n_windows,
         pos::BIGINT AS pos,
         md5(array_to_string(list_slice(words, pos, pos + {k} - 1), ' '))
           AS sh
  FROM (SELECT id, words,
               unnest(range(1, len(words) - {k} + 2)) AS pos
        FROM w WHERE len(words) >= {k})),
dup AS (
  SELECT sh FROM (SELECT sh, COUNT(*)::BIGINT AS c FROM occ GROUP BY 1)
  WHERE c >= {min_count}),
rows_ AS (SELECT occ.* FROM occ JOIN dup USING (sh)),
isl AS (
  SELECT id, n_words, n_windows, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {k} THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM (SELECT *, lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
        FROM rows_)),
sp AS (
  SELECT id, n_words, n_windows, island,
         COUNT(*)::BIGINT AS win_in_island,
         MIN(pos) AS s, MAX(pos) + {k} - 1 AS e
  FROM isl GROUP BY 1, 2, 3, 4)
SELECT id AS {id_col}, n_words, n_windows,
       SUM(win_in_island)::BIGINT AS n_dup_windows,
       COUNT(*)::BIGINT AS n_spans,
       SUM(e - s + 1)::BIGINT AS dup_words,
       round(SUM(e - s + 1) / n_words, 6) AS dup_word_frac
FROM sp GROUP BY 1, 2, 3"""


def remove_dup_spans(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 8,
                     min_count: int = 2,
                     prefilter_width: "int | None" = None,
                     prefilter_depth: int = 4,
                     prefilter_seed: int = 21) -> DataFrame:
    """The removal half of exact substring-span dedup (Lee et al. 2022
    §3.2: "remove all but one occurrence"): for every k-word window
    duplicated >= ``min_count`` times corpus-wide, the occurrence with the
    LOWEST (id, pos) is canonical and survives; every other occurrence is
    redundant. Redundant windows merge into maximal spans (the
    p' <= p + k rule of :func:`duplicated_span_stats`), and the span's
    words are deleted from the doc.

    Returns ONLY the modified docs: (id, n_words, n_removed_words,
    cleaned) where ``cleaned`` is the surviving words re-joined with
    single spaces (the same whitespace-normalizing reassembly contract as
    ``boilerplate.remove_boilerplate``). Docs with no redundant span are
    absent — the caller left-joins and coalesces to the original text, so
    untouched docs keep their exact bytes. A doc that is one wall-to-wall
    redundant span comes back with ``cleaned = ''``.

    Word-granular caveat (documented, matches the reference's own
    imperfect-boundary stance): a redundant span may share words with a
    canonical occurrence of a DIFFERENT window in the same doc; the span
    is removed whole. Canonical-occurrence ranking orders by (id, pos) —
    ids should be numeric or ASCII (a non-BMP string id would rank
    differently under Spark's UTF-16 vs DuckDB's UTF-8 collation).

    Scale shape: the window-rank pass is ONE Exchange on the window hash
    (two window specs — rank and per-hash count — share it); only
    redundant rows (the duplication tail) reach the doc-local island
    merge; reassembly joins span arrays back to the doc frame at doc
    scale. The corpus text never shuffles — the only text-bearing join is
    broadcast-free but doc-keyed, and Catalyst prunes it to (id, words).

    ``prefilter_width`` (the 100-TB path) routes the rank Exchange through
    the count-min prefilter of :func:`duplicated_span_stats_prefiltered`:
    only windows whose CMS estimate is >= ``min_count`` shuffle. Output
    is IDENTICAL — all occurrences of any >= min_count window are
    candidates together, so the per-hash rank and count over candidates
    equal the plain path's, and collision-inflated singletons fail the
    same ``_c >= min_count`` filter (tested identical down to width=16).
    """
    if prefilter_width is not None:
        occ = _prefiltered_occ(df, text_col, id_col, k, min_count,
                               prefilter_depth, prefilter_width,
                               prefilter_seed)
    else:
        occ = None
    if occ is None:
        occ = positional_shingle_rows(df, text_col, id_col, k)
    w_sh = Window.partitionBy("sh").orderBy(id_col, "pos")
    w_sh_all = Window.partitionBy("sh")
    redundant = (occ
                 .withColumn("_rn", F.row_number().over(w_sh))
                 .withColumn("_c", F.count(F.lit(1)).over(w_sh_all))
                 .where((F.col("_c") >= min_count) & (F.col("_rn") >= 2))
                 .select(id_col, "n_words", "pos"))
    spans = _merged_window_spans(redundant, id_col, k, carry=["n_words"])
    per_doc = (spans.groupBy(id_col, "n_words")
               .agg(F.collect_list(F.struct("_s", "_e")).alias("_spans"),
                    F.sum(F.col("_e") - F.col("_s") + 1).cast("long")
                    .alias("n_removed_words")))
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    docs = df.select(id_col, words.alias("_w"))
    # merged islands are disjoint by construction (next span starts at
    # >= prev end + 2), so the flattened position lists never overlap —
    # no distinct pass needed
    covered = F.flatten(F.transform(
        "_spans", lambda sp: F.sequence(sp["_s"], sp["_e"])))
    joined = per_doc.join(docs, id_col)  # doc-scale inner join
    return (joined
            .withColumn("_cov", covered)
            .select(id_col,
                    F.col("n_words").cast("long").alias("n_words"),
                    "n_removed_words",
                    F.concat_ws(" ", F.filter(
                        "_w",
                        lambda w, i: ~F.array_contains(
                            "_cov", (i + 1).cast("long"))))
                    .alias("cleaned")))


def remove_dup_spans_sql(table_sql: str, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 8,
                         min_count: int = 2) -> str:
    """DuckDB twin of :func:`remove_dup_spans`: same window hashes, same
    (id, pos) canonical rank, same island merge, same covered-position
    list and single-space reassembly."""
    return f"""
WITH w AS (
  SELECT {id_col} AS id,
         list_filter(string_split({text_col}, ' '), x -> x <> '') AS words
  FROM ({table_sql})),
occ AS (
  SELECT id, n_words, pos,
         md5(array_to_string(list_slice(words, pos, pos + {k} - 1), ' '))
           AS sh
  FROM (SELECT id, words, len(words)::BIGINT AS n_words,
               unnest(range(1, len(words) - {k} + 2))::BIGINT AS pos
        FROM w WHERE len(words) >= {k})),
red AS (
  SELECT id, n_words, pos FROM (
    SELECT *, row_number() OVER (PARTITION BY sh ORDER BY id, pos) AS rn,
           COUNT(*) OVER (PARTITION BY sh) AS c
    FROM occ)
  WHERE c >= {min_count} AND rn >= 2),
isl AS (
  SELECT id, n_words, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {k} THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM (SELECT *, lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
        FROM red)),
sp AS (
  SELECT id, n_words, island, MIN(pos) AS s, MAX(pos) + {k} - 1 AS e
  FROM isl GROUP BY 1, 2, 3),
per_doc AS (
  SELECT id, n_words,
         flatten(list(range(s, e + 1))) AS cov,
         SUM(e - s + 1)::BIGINT AS n_removed_words
  FROM sp GROUP BY 1, 2)
SELECT p.id AS {id_col}, p.n_words, p.n_removed_words,
       -- array_to_string([]) is NULL on DuckDB but concat_ws([]) is ''
       -- on Spark: a wall-to-wall span must clean to '' on both
       COALESCE(array_to_string(
         list_transform(
           list_filter(range(1, len(w.words) + 1),
                       i -> NOT list_contains(p.cov, i)),
           i -> w.words[i]), ' '), '') AS cleaned
FROM per_doc p JOIN w ON p.id = w.id"""


# -- CMS-prefiltered substring-span dedup ------------------------------------

def _window_key_col(text_col: str, k: int):
    """array<long>: per-doc low-64 md5 keys of each k-word window, in
    position order — the JVM expression twin of the k64 slice of
    :func:`positional_shingle_rows`'s hex ``sh`` (chars 1-16 of the SAME
    digest, so prefilter key and verify hash can never disagree about
    which window they describe). Windows always contain a space (k >= 2),
    so this key stream cannot alias the single-word md5-low64 chain."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    n_sh = F.size(words) - k + 1
    return F.when(
        n_sh >= 1,
        F.transform(F.sequence(F.lit(1), n_sh),
                    lambda i: F.conv(F.substring(
                        F.md5(F.concat_ws(" ", F.slice(words, i, k))),
                        1, 16), 16, -10).cast("long"))
    ).otherwise(F.array().cast("array<long>"))


def duplicated_span_stats_prefiltered(df: DataFrame, text_col: str = "text",
                                      id_col: str = "doc_id", k: int = 8,
                                      min_count: int = 2, depth: int = 4,
                                      width: int = 1 << 20,
                                      seed: int = 21) -> DataFrame:
    """:func:`duplicated_span_stats` with a count-min prefilter — the
    sketch suite accelerating the pipeline operator. Output is IDENTICAL
    (tested row-for-row); what changes is the 100 TB plan: the plain
    version shuffles EVERY window occurrence into the count groupBy
    (token-scale exchange), while this one

    1. builds a CMS over the per-doc window-key arrays through the
       standard sketch pipeline (scan-stage partials, KB merge — no
       token-scale shuffle, the build discipline of sketch_build),
    2. broadcasts the merged matrix (depth x width int64; 32 MB at the
       4 x 2^20 default) and probes each doc's windows in the scan stage
       through the broadcast form of the UDF helper
       (``functions._udf.broadcast_probe_udf``: one vectorized query per
       Arrow batch, one estimate per window key, the matrix loaded once
       per Python worker); ``posexplode`` plus a filter keep the
       positions whose estimate is >= min_count,
    3. shuffles ONLY those candidate positions — at web scale the
       duplication tail, typically a few percent of windows — and
       computes the hex verify hash for those rows alone,
    4. runs the exact count -> island -> span tail unchanged.

    Exactness: CMS never undercounts, so every occurrence of a truly
    duplicated window is a candidate (its estimate >= true count >=
    min_count) — the exact groupBy over candidates therefore sees ALL
    occurrences of every reported window, and false-positive candidates
    (collision-inflated singletons) die at the same >= min_count filter.
    An undersized ``width`` only grows the candidate set, never changes
    the answer (tested with width=16). The oracle gate reuses the plain
    duplicated_span_stats_sql verbatim.
    """
    cand = _prefiltered_occ(df, text_col, id_col, k, min_count,
                            depth, width, seed)
    if cand is None:  # no docs at all
        cand = positional_shingle_rows(df, text_col, id_col, k)
    return _span_stats_from_occ(cand, id_col, k, min_count)


def _prefiltered_occ(df: DataFrame, text_col: str, id_col: str, k: int,
                     min_count: int, depth: int, width: int,
                     seed: int) -> "DataFrame | None":
    """The CMS-candidate occurrence frame shared by the prefiltered stats
    and removal paths: (id, n_words, n_windows, pos, sh) for exactly the
    window positions whose CMS estimate is >= ``min_count``. Returns None
    on a zero-doc input (no sketch partials to broadcast).

    The frame is PERSISTED before return: both consumers reference it
    twice (the window-count groupBy AND the occurrence join / rank
    window), and unpersisted each reference would replay the corpus scan,
    the Arrow probe and the per-window md5 — the diamond-re-execution
    class the LM queries also persist against. It is candidate-scale
    (the duplication tail, a few percent of windows), so caching it is
    MB-scale where re-probing would be corpus-scale."""
    from .sketch_build import SketchSpec, build_sketches

    keys = df.select(_window_key_col(text_col, k).alias("wk"))
    row = (build_sketches(keys,
                          [SketchSpec.of("w", "cms", "wk",
                                         depth=depth, width=width,
                                         seed=seed)])
           .select("sketch").first())
    if row is None:
        return None
    bc = df.sparkSession.sparkContext.broadcast(bytes(row.sketch))
    est = broadcast_probe_udf("array<bigint>", "cms", "query", bc)
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    base = (df.select(id_col, words.alias("_w"),
                      _window_key_col(text_col, k).alias("_wk"))
            .where(F.size("_w") >= k))
    return (base.select(id_col,
                        F.size("_w").cast("long").alias("n_words"),
                        (F.size("_w") - k + 1).cast("long")
                        .alias("n_windows"),
                        "_w",
                        F.posexplode(est(F.col("_wk"))).alias("_p", "_est"))
            .where(F.col("_est") >= min_count)
            .select(id_col, "n_words", "n_windows",
                    (F.col("_p") + 1).cast("long").alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice(
                        "_w", F.col("_p") + 1, k))).alias("sh"))
            .persist())


# -- exact substring dedup at SUFFIX granularity -----------------------------


def suffix_match_lengths(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", min_len: int = 8,
                         ext_cap: "int | None" = None) -> DataFrame:
    """Per word position, the length of the LONGEST exact word-sequence
    match starting there that occurs anywhere else in the corpus (another
    doc OR another position of the same doc) — the suffix-array primitive
    of ExactSubstr dedup (Lee et al. 2022 §3: the paper builds one
    single-machine suffix array; this is the distributed equivalent).
    Returns (id, n_words, pos, matchlen) for every position whose longest
    match is >= ``min_len`` — UNLIKE the k-word-window family above, the
    reported length is the TRUE maximal match length at word granularity
    (capped at ``ext_cap``), not a union of fixed-k windows.

    Method — anchor-bucketed generalized suffix sorting:

    1. Per doc, the word array is hashed once to fixed-width 16-hex word
       ids (scan stage). A match of length >= ``min_len`` starting at p
       must agree on its first ``min_len`` words, so the md5 of that
       prefix slice is an exact routing key (the ANCHOR): suffixes with
       different anchors can never realize a qualifying match.
    2. Anchor occurrence counting (one key-only Exchange, map-side
       combined) keeps only positions whose anchor occurs >= 2 times —
       duplicated text is the exception, so the expensive stage below
       runs at candidate scale, the same prefilter-first discipline as
       the CMS span path.
    3. Candidate positions rejoin their doc's hash array and slice out a
       bounded SUFFIX EXTENSION of ``ext_cap`` words (fixed-width hex, so
       lexicographic string order == word-wise order). One Exchange on
       anchor + a partition-local sort gives the generalized suffix-array
       order within each anchor bucket; by the classic suffix-array
       property, each suffix's best match is an ADJACENT row, so one
       streaming pass (mapInPandas, vectorized numpy byte-prefix compare,
       zero per-row Python) yields max(LCP with prev, LCP with next).

    ``matchlen`` is exact for matches up to ``ext_cap`` words (default
    ``4 * min_len``) and clamps at the cap beyond it; the cap never
    affects COVERAGE (a longer duplicate's every position still reports
    >= min(cap, remaining), so :func:`exact_substr_spans` unions to the
    exact boundaries regardless — only the per-position length saturates).

    Scale: suffix extensions are ``16 * ext_cap`` bytes and ship ONLY for
    candidate positions; raw text never shuffles. A pathological anchor
    (a corpus-wide boilerplate k-gram) concentrates its bucket in one
    task: the sort is partition-local over ALL anchors hashed there, so
    skew means a large sorted run, not a window over one key — and the
    LCP pass is O(rows * ext_cap) streaming. Positions with fewer than
    ``min_len`` words remaining start no suffix (they cannot begin a
    qualifying match; they are still COVERED via earlier positions in
    span assembly).
    """
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    cap = ext_cap if ext_cap is not None else 4 * min_len
    if cap < min_len:
        raise ValueError("ext_cap must be >= min_len")

    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    hashes = F.transform(words, lambda w: F.substring(F.md5(w), 1, 16))
    # persisted: consumed by BOTH the anchor explode below and the ext
    # slicing join — without the cache the corpus-wide split+md5 scan
    # (the most expensive stage) would run twice; same discipline as
    # _prefiltered_occ. Doc-scale rows (id + hash array).
    docs = (df.select(F.col(id_col).alias("_id"), hashes.alias("_h"))
            .where(F.size("_h") >= min_len)
            .persist())
    n_pos = F.size("_h") - min_len + 1
    anchors = F.transform(
        F.sequence(F.lit(1), n_pos),
        lambda i: F.md5(F.concat_ws("", F.slice("_h", i, min_len))))
    # persisted: feeds the count aggregate AND the candidate join; the
    # per-position anchor md5 is token-scale work that must run once.
    # Position-scale rows (~60 B each, MEMORY_AND_DISK spills at scale).
    occ = (docs.select("_id", F.size("_h").cast("long").alias("n_words"),
                       F.posexplode(anchors).alias("_p", "anchor"))
           .select("_id", "n_words",
                   (F.col("_p") + 1).cast("long").alias("pos"), "anchor")
           .persist())
    dup = (occ.groupBy("anchor").agg(F.count(F.lit(1)).alias("_c"))
           .where(F.col("_c") >= 2).select("anchor"))
    cand = occ.join(dup, "anchor")
    ext = F.concat_ws("", F.slice(
        "_h", F.col("pos").cast("int"), cap))
    cand_ext = (cand.join(docs, "_id")
                .select("_id", "n_words", "pos", "anchor",
                        ext.alias("_ext")))

    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = (f"`{id_col}` {id_t}, n_words long, pos long, "
                  f"matchlen long")
    w16 = 16 * cap

    def lcp_pass(batches):
        import numpy as np
        import pandas as pd

        # one pending row waits for its RIGHT neighbor's LCP
        pend = None  # (id, n_words, pos, lcp_with_prev)
        prev_anchor = None
        prev_ext = None

        def scalar_lcp(a: str, b: str) -> int:
            m = min(len(a), len(b))
            i = 0
            while i < m and a[i] == b[i]:
                i += 1
            return i // 16

        for pdf in batches:
            if len(pdf) == 0:
                continue
            exts = pdf["_ext"].to_numpy(dtype=object)
            anch = pdf["anchor"].to_numpy(dtype=object)
            lens = np.fromiter((len(e) for e in exts), dtype=np.int64,
                               count=len(exts)) // 16
            # numpy 'S' dtype zero-pads; pads mismatch real hex chars so
            # prefix equality never extends past either true end
            m = np.frombuffer(
                np.array(exts, dtype=f"S{w16}").tobytes(),
                dtype=np.uint8).reshape(len(exts), w16)
            neq = m[1:] != m[:-1]
            any_neq = neq.any(axis=1)
            lcp_chars = np.where(any_neq, neq.argmax(axis=1), w16)
            lcp = np.minimum(lcp_chars // 16,
                             np.minimum(lens[1:], lens[:-1]))
            lcp = np.where(anch[1:] == anch[:-1], lcp, 0)

            ids = pdf["_id"].to_numpy(dtype=object)
            nw = pdf["n_words"].to_numpy(dtype=np.int64)
            poss = pdf["pos"].to_numpy(dtype=np.int64)

            # carry LCP between the previous batch's last row and this
            # batch's first row
            # left[i] = LCP(row i, its LEFT neighbor); row i's matchlen =
            # max(left[i], left[i+1]) — emitted once its right LCP exists
            left = np.empty(len(exts), dtype=np.int64)
            left[1:] = lcp
            if pend is not None:
                left[0] = (scalar_lcp(prev_ext, exts[0])
                           if prev_anchor == anch[0] else 0)
                out_ids = np.concatenate(([pend[0]], ids[:-1]))
                out_nw = np.concatenate(([pend[1]], nw[:-1]))
                out_pos = np.concatenate(([pend[2]], poss[:-1]))
                out_ml = np.concatenate(
                    ([max(pend[3], left[0])],
                     np.maximum(left[:-1], left[1:])))
            else:
                left[0] = 0
                out_ids, out_nw, out_pos = ids[:-1], nw[:-1], poss[:-1]
                out_ml = np.maximum(left[:-1], left[1:])
            pend = (ids[-1], int(nw[-1]), int(poss[-1]), int(left[-1]))
            prev_anchor = anch[-1]
            prev_ext = exts[-1]
            if len(out_ids):
                yield pd.DataFrame({id_col: out_ids, "n_words": out_nw,
                                    "pos": out_pos, "matchlen": out_ml})
        if pend is not None:
            yield pd.DataFrame({id_col: [pend[0]], "n_words": [pend[1]],
                                "pos": [pend[2]], "matchlen": [pend[3]]})

    sorted_cand = (cand_ext.repartition("anchor")
                   .sortWithinPartitions("anchor", "_ext", "_id", "pos"))
    ml = sorted_cand.mapInPandas(lcp_pass, out_schema)
    return ml.where(F.col("matchlen") >= min_len)


def exact_substr_spans(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", min_len: int = 8,
                       ext_cap: "int | None" = None) -> DataFrame:
    """Maximal duplicated word spans at SUFFIX granularity: per doc, the
    maximal contiguous word ranges covered by some exact duplicate of
    length >= ``min_len`` (Lee et al. 2022 ExactSubstr semantics). A
    planted duplicate of length ``min_len + 3`` at an arbitrary offset
    comes back as ONE span of length exactly ``min_len + 3`` — no fixed-k
    window quantization (contrast :func:`duplicated_span_stats`, whose
    island-merge adjacency rule ``p' <= p + k`` can fuse abutting distinct
    spans and whose window family reports window counts, not true match
    lengths).

    Built on :func:`suffix_match_lengths`: each qualifying position
    contributes the interval ``[pos, pos + matchlen - 1]``; intervals
    union by the running-max-end rule (a new span starts when ``pos >
    max_end_so_far + 1``). Because every position inside a duplicate of
    ANY length reports at least ``min(ext_cap, remaining)``, the union is
    exact even past the extension cap. One doc-keyed Exchange for the
    interval merge. Returns (id, n_words, span_start, span_end,
    span_len) rows, one per maximal span."""
    ml = suffix_match_lengths(df, text_col, id_col, min_len, ext_cap)
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    end = (F.col("pos") + F.col("matchlen") - 1).alias("_e")
    rows = ml.select(id_col, "n_words", "pos", end)
    prev_max = F.max("_e").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(prev_max.isNull() | (F.col("pos") > prev_max + 1),
                 F.lit(1)).otherwise(F.lit(0))
    islands = (rows.withColumn("_brk", brk)
               .withColumn("_island", F.sum("_brk").over(
                   w_doc.rowsBetween(Window.unboundedPreceding,
                                     Window.currentRow))))
    return (islands.groupBy(id_col, "n_words", "_island")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 F.max("_e").cast("long").alias("span_end"))
            .select(id_col, "n_words", "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + 1)
                    .alias("span_len")))


def exact_substr_spans_sql(table_sql: str, text_col: str = "text",
                           id_col: str = "doc_id", min_len: int = 8,
                           ext_cap: "int | None" = None) -> str:
    """DuckDB twin of :func:`exact_substr_spans` — deliberately the BRUTE
    formulation (all pairs within an anchor bucket, max LCP per position)
    so the oracle proves the adjacent-in-suffix-order shortcut equals the
    all-pairs maximum: same 16-hex word ids, same md5 anchor, same capped
    extension, prefix-equality LCP, same running-max-end interval union."""
    cap = ext_cap if ext_cap is not None else 4 * min_len
    return f"""
WITH w AS (
  SELECT {id_col} AS id,
         list_transform(list_filter(string_split({text_col}, ' '),
                                    x -> x <> ''),
                        x -> substr(md5(x), 1, 16)) AS h
  FROM ({table_sql})),
occ AS (
  SELECT id, len(h)::BIGINT AS n_words, pos::BIGINT AS pos,
         md5(array_to_string(h[pos:pos + {min_len} - 1], '')) AS anchor,
         array_to_string(h[pos:pos + {cap} - 1], '') AS ext
  FROM (SELECT id, h, unnest(range(1, len(h) - {min_len} + 2)) AS pos
        FROM w WHERE len(h) >= {min_len})),
ml AS (
  SELECT a.id, a.n_words, a.pos,
         MAX(len(list_filter(
             range(1, (least(length(a.ext), length(b.ext)) // 16)::BIGINT
                      + 1),
             i -> substr(a.ext, 1, (i * 16)::INT)
                  = substr(b.ext, 1, (i * 16)::INT))))::BIGINT AS matchlen
  FROM occ a JOIN occ b USING (anchor)
  WHERE a.id <> b.id OR a.pos <> b.pos
  GROUP BY 1, 2, 3
  HAVING MAX(len(list_filter(
             range(1, (least(length(a.ext), length(b.ext)) // 16)::BIGINT
                      + 1),
             i -> substr(a.ext, 1, (i * 16)::INT)
                  = substr(b.ext, 1, (i * 16)::INT)))) >= {min_len}),
isl AS (
  SELECT id, n_words, pos, pos + matchlen - 1 AS e,
         SUM(CASE WHEN pm IS NULL OR pos > pm + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM (SELECT *,
               MAX(pos + matchlen - 1) OVER (
                 PARTITION BY id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM ml))
SELECT id AS {id_col}, n_words,
       MIN(pos)::BIGINT AS span_start, MAX(e)::BIGINT AS span_end,
       (MAX(e) - MIN(pos) + 1)::BIGINT AS span_len
FROM isl GROUP BY id, n_words, island"""
