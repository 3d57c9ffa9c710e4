"""Benchmark decontamination: n-gram overlap between a training corpus and
an evaluation/benchmark set.

The standard LLM-training hygiene pass (GPT-3 appendix C / PaLM §C: flag a
training document when any of its word n-grams appears in an eval set).
Scale posture at 100 TB: the eval side is benchmark-sized (KB-MB), so its
distinct shingle set is collected into a broadcast hash relation; training
shingles are generated by pure JVM array expressions IN THE SCAN STAGE and
probed via a broadcast join — the corpus is never shuffled, and the only
exchange aggregates (doc_id, hit) pairs already reduced map-side. Every
stage (word split, shingle join, md5) has an exact DuckDB twin, so the
whole pipeline is value-gated cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _window_strings(text_col: "Column | str", n: int) -> Column:
    """array<string> of every n-word window of the whitespace-split text
    (positions kept, duplicates kept); fewer than ``n`` words -> empty
    array. THE single definition of the shingle tokenization — both the
    hash chain and the totals count derive from it, so they cannot
    drift."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.filter(F.split(c, " "), lambda w: w != "")
    n_sh = F.size(words) - n + 1
    return F.when(
        n_sh >= 1,
        F.transform(F.sequence(F.lit(1), n_sh),
                    lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    ).otherwise(F.array().cast("array<string>"))


def word_shingle_hashes(text_col: "Column | str", n: int = 4) -> Column:
    """DISTINCT md5-hex hashes of every n-word shingle of the
    whitespace-split text — array<string>; docs with fewer than ``n``
    words yield an empty array. JVM higher-order functions only."""
    return F.array_distinct(
        F.transform(_window_strings(text_col, n), F.md5))


def contamination_report(train: DataFrame, eval_set: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 4) -> DataFrame:
    """Per contaminated training doc: how many of its distinct n-gram
    shingles appear anywhere in the eval set.

    Returns (id_col, n_shingles, n_hit, hit_frac) for docs with
    ``n_hit >= 1`` — the rows a decontamination filter would drop or
    down-weight. ``eval_set`` is broadcast (benchmarks are small by
    construction); pre-aggregate it if it is not.
    """
    ev = (eval_set
          .select(F.explode(word_shingle_hashes(text_col, n)).alias("sh"))
          .distinct())
    tr = (train
          .select(id_col,
                  F.explode(word_shingle_hashes(text_col, n)).alias("sh")))
    # ONE pass over the corpus: totals and hits both derive from the same
    # exploded frame (the shingles are already distinct per doc), so the
    # dominant cost — corpus scan + per-shingle md5 — is not paid twice.
    # The aggregate runs per doc-local key; the output is inner-join
    # equivalent to a separate totals scan because zero-shingle docs can
    # have no hits and the report keeps only n_hit >= 1.
    per_doc = (tr.join(F.broadcast(ev.withColumn("_hit", F.lit(True))),
                       "sh", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.sum(F.when(F.col("_hit"), 1).otherwise(0))
                    .alias("n_hit")))
    return (per_doc.where(F.col("n_hit") >= 1)
            .select(id_col,
                    F.col("n_shingles").cast("long").alias("n_shingles"),
                    F.col("n_hit").cast("long").alias("n_hit"),
                    F.round(F.col("n_hit") / F.col("n_shingles"), 6)
                    .alias("hit_frac")))


def fuzzy_contamination(train: DataFrame, eval_set: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        eval_id_col: str = "eval_id", w: int = 3,
                        n_hashes: int = 64, seed: int = 42,
                        bands: int = 16, min_est: float = 0.5,
                        tau: float = 0.7, word_hash: str = "xxhash64",
                        hash_buckets: bool = True) -> DataFrame:
    """Fuzzy (near-duplicate) benchmark decontamination: training docs whose
    w-shingle Jaccard against ANY eval doc is >= ``tau``, found via
    cross-table MinHash+LSH instead of the exact n-gram hit test of
    :func:`contamination_report` — catches paraphrased/lightly-edited eval
    leakage that exact shingle matching misses.

    Returns (id_col, eval_id_col, est_jaccard, jaccard), one row per
    contaminated (train doc, eval doc) pair, Jaccards rounded to 6 dp.

    Pipeline (every stage is the near-dup path's own code — signing
    ``dedup.minhash_signatures``, banding ``dedup.banded_signatures``,
    estimate ``dedup.est_jaccard_col``, verify ``dedup.set_jaccard_col`` —
    so the two pipelines cannot drift): candidates from a train x eval
    band equi-join, matching-position estimate filter >= ``min_est``,
    exact distinct-shingle Jaccard >= ``tau`` computed for candidate
    train docs only.

    OWNERSHIP: the filtered candidate set is persisted (it feeds both the
    verify semi-join and the output join; unpersisted, Spark would replay
    the corpus signing stage once per consumer). It is candidate-scale
    (bounded by eval size x bucket occupancy); release it with
    ``spark.catalog.clearCache()`` if the session is long-lived.

    Scale posture at 100 TB: the eval side is benchmark-sized, so its
    banded rows and shingle sets ride broadcast joins — the corpus is
    scanned twice (sign pass; candidate-only verify pass behind a broadcast
    semi-join) and its only shuffle is the doc-bucketed signing aggregate.
    Candidate volume is bounded by eval size x bucket occupancy, never by
    corpus pair count.

    ``word_hash="md5"`` + ``hash_buckets=False`` is the oracle-exact
    variant (:func:`..functions.sql_oracles.fuzzy_contamination_sql`).
    """
    from .dedup import (banded_signatures, est_jaccard_col,
                        minhash_signatures, set_jaccard_col, _shingle_rows)

    t_sig = minhash_signatures(train, text_col, id_col, w, n_hashes, seed,
                               word_hash)
    e_sig = minhash_signatures(eval_set, text_col, eval_id_col, w,
                               n_hashes, seed, word_hash)
    tb = banded_signatures(t_sig, id_col, bands, hash_buckets,
                           sig_len=n_hashes).alias("t")
    eb = banded_signatures(e_sig, eval_id_col, bands, hash_buckets,
                           sig_len=n_hashes).alias("e")
    cands = (tb.join(F.broadcast(eb),
                     (F.col("t.band") == F.col("e.band"))
                     & (F.col("t.bucket") == F.col("e.bucket")))
             .select(F.col(f"t.{id_col}").alias(id_col),
                     F.col(f"e.{eval_id_col}").alias(eval_id_col),
                     F.col("t.sig").alias("sig_t"),
                     F.col("e.sig").alias("sig_e"))
             .dropDuplicates([id_col, eval_id_col]))
    good = (cands.withColumn("est_jaccard",
                             est_jaccard_col("sig_t", "sig_e"))
            .where(F.col("est_jaccard") >= min_est)
            # materialize the (tiny, candidate-scale) frame ONCE: it feeds
            # both the verify semi-join and the final output join, and an
            # unpersisted diamond would re-run the whole corpus SIGNING
            # stage — the dominant cost — once per consumer
            .persist())
    good.count()
    # verify stage: shingle ONLY candidate train docs (broadcast semi-join
    # keeps the second corpus scan shuffle-free) + the whole (small) eval set
    cand_train = train.join(
        F.broadcast(good.select(id_col).distinct()), id_col, "semi")
    tsh = (_shingle_rows(cand_train, text_col, id_col, w, word_hash)
           .groupBy(id_col).agg(F.collect_set("shingle").alias("sh_t")))
    esh = (_shingle_rows(eval_set, text_col, eval_id_col, w, word_hash)
           .groupBy(eval_id_col)
           .agg(F.collect_set("shingle").alias("sh_e")))
    return (good.join(tsh, id_col).join(F.broadcast(esh), eval_id_col)
            .withColumn("jaccard", set_jaccard_col("sh_t", "sh_e"))
            .where(F.col("jaccard") >= tau)
            .select(id_col, eval_id_col,
                    F.round("est_jaccard", 6).alias("est_jaccard"),
                    F.round("jaccard", 6).alias("jaccard")))


def _shingle_rows_sql(table_sql: str, text_col: str, id_col: str,
                      n: int) -> str:
    """DuckDB: (id, md5 shingle hash) rows, distinct PER INPUT ROW — the
    exact twin of exploding :func:`word_shingle_hashes` (per-row
    ``array_distinct``): two rows sharing an ``id_col`` each contribute
    their own distinct set, so cross-row repeats stay as separate rows
    exactly like the Spark explode (a global DISTINCT over (id, sh) would
    collapse them and diverge on duplicate-id inputs). 1-based inclusive
    list slice; ``array_to_string`` == Spark's ``concat_ws``."""
    return f"""
SELECT {id_col},
       unnest(list_distinct(list_transform(
           range(1, greatest(len(words) - {n - 1}, 0) + 1),
           i -> md5(array_to_string(words[i:i + {n - 1}], ' '))))) AS sh
FROM (SELECT {id_col},
             list_filter(string_split({text_col}, ' '), x -> x <> '')
               AS words
      FROM ({table_sql}))"""


def contamination_report_sql(train_sql: str, eval_sql: str,
                             text_col: str = "text", id_col: str = "doc_id",
                             n: int = 4) -> str:
    """DuckDB twin of :func:`contamination_report`."""
    tr = _shingle_rows_sql(train_sql, text_col, id_col, n)
    ev = _shingle_rows_sql(eval_sql, text_col, id_col, n)
    return f"""
WITH tr AS ({tr}),
ev AS (SELECT DISTINCT sh FROM ({ev})),
hits AS (SELECT {id_col}, COUNT(*)::BIGINT AS n_hit
         FROM tr JOIN ev USING (sh) GROUP BY 1),
totals AS (SELECT {id_col}, COUNT(*)::BIGINT AS n_shingles
           FROM tr GROUP BY 1)
SELECT {id_col}, n_shingles, n_hit,
       round(n_hit / n_shingles, 6) AS hit_frac
FROM totals JOIN hits USING ({id_col})"""


def contamination_report_prefiltered(train: DataFrame, eval_set: DataFrame,
                                     text_col: str = "text",
                                     id_col: str = "doc_id", n: int = 4,
                                     expected_shingles: int = 1_000_000,
                                     fpr: float = 0.01,
                                     seed: int = 33) -> DataFrame:
    """:func:`contamination_report` for eval suites too large to broadcast
    as exact rows: a Bloom filter over the eval shingle set routes train
    shingles in the scan stage, and only probe HITS (true overlaps + fpr
    noise) reach the exact verify join. Output is IDENTICAL to the plain
    operator — a Bloom miss is definitely-not-contaminating, and every
    candidate is verified against the real eval shingle set, so false
    positives die before the report (tested under an undersized
    high-fpr filter; the ingest-dedup exactness discipline).

    Scale: the filter is ~9.6 bits per distinct eval shingle at fpr=1%
    (120 MB at 10^8 shingles — broadcastable where 10^8 exact join rows
    are not); the probe key is md5-hex chars 17-32 of the shingle hash
    (the Bloom half of the digest, disjoint from the chars-1-16 join/CMS
    domains). Probe misses die in the scan; the verify join carries
    candidate-scale rows against the eval shingle relation. Per-doc
    shingle totals come from a SECOND, md5-free scan (distinct window
    STRINGS counted scan-stage, doc-scale aggregate — summing across
    duplicate ``id_col`` rows exactly like the plain operator): two
    node-local scans beat one corpus-wide shingle shuffle at scale, and
    the totals scan skips the per-window md5 that dominates the probe
    scan's cost.
    """
    from ..core.bloom import Bloom, params_for
    from ..functions._udf import broadcast_probe_udf
    from .sketch_build import SketchSpec, build_sketches

    m, kh = params_for(max(1, expected_shingles), fpr)
    probe_key = F.conv(F.substring(F.col("sh"), 17, 16), 16, -10) \
        .cast("long")
    ev_keys = (eval_set
               .select(F.explode(word_shingle_hashes(text_col, n))
                       .alias("sh"))
               .select(probe_key.alias("k")))
    row = (build_sketches(ev_keys,
                          [SketchSpec.of("ev", "bloom", "k",
                                         m=m, k=kh, seed=seed)])
           .select("sketch").first())
    blob = (bytes(row.sketch) if row is not None
            else Bloom(m, kh, seed=seed).to_bytes())
    bc = train.sparkSession.sparkContext.broadcast(blob)
    probe = broadcast_probe_udf("boolean", "bloom", "contains", bc,
                                deterministic=False)

    tr = (train
          .select(id_col,
                  F.explode(word_shingle_hashes(text_col, n)).alias("sh"))
          .withColumn("_maybe", probe(probe_key)))
    ev = (eval_set
          .select(F.explode(word_shingle_hashes(text_col, n)).alias("sh"))
          .distinct())
    hits = (tr.where("_maybe").join(ev, "sh", "semi")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    # md5-free totals: distinct window COUNT needs no hashing (same
    # _window_strings tokenization as the hash chain — can't drift), and
    # the per-id sum matches the plain operator on duplicate-id inputs
    row_distinct = F.size(F.array_distinct(_window_strings(text_col, n)))
    totals = (train
              .select(id_col, row_distinct.cast("long").alias("_ns"))
              .groupBy(id_col)
              .agg(F.sum("_ns").cast("long").alias("n_shingles")))
    return (totals.join(hits, id_col)
            .where(F.col("n_hit") >= 1)
            .select(id_col, "n_shingles", "n_hit",
                    F.round(F.col("n_hit") / F.col("n_shingles"), 6)
                    .alias("hit_frac")))
