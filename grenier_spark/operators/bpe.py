"""Byte-pair-encoding vocabulary learning (Sennrich et al., ACL 2016)
over a distributed corpus — the tokenizer-training step of an LLM data
pipeline, as the classic word-histogram algorithm:

1. ONE corpus pass builds the (word, count) histogram — the inherent
   vocab-scale exchange, map-side combined (identical shape to
   ``textstats.unigram_lm_scores``' count stage).
2. Words symbolize to characters + a terminal ``</w>`` marker; each of
   ``n_merges`` rounds counts adjacent symbol pairs weighted by word
   count (every adjacent position, overlapping included — Sennrich's
   ``get_stats``), picks the most frequent pair (ties by (left, right)
   ascending — deterministic), and merges its leftmost non-overlapping
   occurrences in every word (``re.sub`` semantics of the reference
   implementation).
3. The learned merges induce a final word -> symbols segmentation;
   applying it corpus-wide is a BROADCAST JOIN of the bounded
   (word, n_syms) table against exploded words — zero Python in the
   corpus scan.

Scale posture at 100 TB: the corpus is touched exactly twice (histogram
build, apply join); the merge loop runs on the BOUNDED histogram — by
Zipf, ``max_words`` top words (by count desc, word asc — deterministic)
cover the mass, which is how production BPE trainers operate. The
histogram rides the driver like ``unigram_lm_scores``' top-K vocab
(documented bounded-driver pattern); a fully-distributed merge loop
(per-round pair-count groupBy over a histogram DataFrame) is the
drop-in for histograms too large even pruned, at j extra small jobs.

Cross-engine contract (DuckDB twin :func:`bpe_sql`): character split ==
``string_split(word, '')`` (codepoints; UTF-8 byte order == codepoint
order, so tie-breaks agree); pair counts are exact integers; the merge
application is replayed in SQL as a fixpoint of boundary-guarded
``replace(' l r ' -> ' lr ')`` over the space-joined symbol string,
which equals leftmost non-overlapping regex substitution (each pass
merges occurrences whose delimiters survived the previous pass; merged
symbols are never re-split).
"""

from __future__ import annotations

import warnings
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over whitespace words (empties dropped, NULL text
    contributes nothing) — the one vocab-scale shuffle."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    return (docs.select(F.explode(words).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))


def _merge_word(syms: tuple, left: str, right: str) -> tuple:
    """Leftmost non-overlapping merge of (left, right) -> left+right."""
    out = []
    i = 0
    n = len(syms)
    while i < n:
        if i < n - 1 and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


DEFAULT_MAX_WORDS = 1_000_000
"""Default driver-side word-histogram bound for :func:`bpe_learn`.

At 100-TB corpus scale the full word histogram is unbounded (new-URL /
typo tail); an unbounded default would mean a caller who forgets
``max_words`` gets a driver OOM instead of a deterministic top-K. The
1M bound keeps every word any realistic merge could touch (BPE merges
are driven by high-count pairs; a rank-10^6 word contributes ~nothing)
while capping driver transfer at ~tens of MB. Pass ``max_words=None``
to explicitly opt in to the unbounded, exactly-oracle-matching setting
on corpora known to be small."""


def bpe_learn(docs: DataFrame, n_merges: int, text_col: str = "text",
              max_words: "int | None" = DEFAULT_MAX_WORDS
              ) -> "tuple[list[dict], dict]":
    """Learn ``n_merges`` BPE merges from the corpus word histogram.

    Returns (merges, segmentation): ``merges`` is a list of
    {step, left, right, pair_count}; ``segmentation`` maps every
    histogram word to its final symbol tuple. ``max_words`` bounds the
    histogram through the driver (top words by count desc, word asc;
    default :data:`DEFAULT_MAX_WORDS` — a deliberate driver-OOM guard),
    and a histogram cut at that bound issues a UserWarning; ``None``
    explicitly opts in to keeping every word (the oracle-checkable
    setting for bounded corpora).
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    hist = word_histogram(docs, text_col)
    if max_words is not None:
        # one row past the cap tells a truncated histogram from a full
        # one in the same job
        hist = hist.orderBy(F.desc("cnt"), F.asc("word")).limit(max_words + 1)
    rows = hist.collect()
    if max_words is not None and len(rows) > max_words:
        rows = rows[:max_words]
        warnings.warn(
            f"bpe_learn: the corpus has more than max_words={max_words} "
            f"distinct words; merges are learned from the top {max_words} "
            f"only. Pass max_words=None for exact merges.", UserWarning,
            stacklevel=2)
    seg = {r["word"]: tuple(r["word"]) + (END,) for r in rows}
    cnt = {r["word"]: int(r["cnt"]) for r in rows}

    merges: "list[dict]" = []
    for step in range(n_merges):
        stats: Counter = Counter()
        for w, syms in seg.items():
            c = cnt[w]
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += c
        if not stats:
            break
        (left, right), pc = min(stats.items(),
                                key=lambda kv: (-kv[1], kv[0]))
        merges.append({"step": step, "left": left, "right": right,
                       "pair_count": int(pc)})
        seg = {w: _merge_word(s, left, right) for w, s in seg.items()}
    return merges, seg


def bpe_token_counts(docs: DataFrame, segmentation: dict,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Apply a learned segmentation corpus-wide: (``id_col``, n_words,
    n_bpe_tokens) per document — exploded words broadcast-join the
    bounded (word, n_syms) table, doc-level sums absorb the fan-out
    map-side; the corpus text never shuffles. Zero-word / NULL-text docs
    produce no row (same drop as ``selection.dsir_logweights``). Words
    outside the segmentation (pruned histogram) are dropped by the inner
    join — pass an unpruned segmentation for full coverage."""
    spark = docs.sparkSession
    seg_df = F.broadcast(spark.createDataFrame(
        [(w, len(s)) for w, s in segmentation.items()],
        "word string, n_syms int"))
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    return (docs.select(F.col(id_col), F.explode(words).alias("word"))
            .join(seg_df, "word")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("n_syms").cast("long").alias("n_bpe_tokens")))


def bpe_sql(docs_sql: str, n_merges: int, text_col: str = "text",
            id_col: str = "doc_id", out: str = "merges") -> str:
    """DuckDB twin replaying the WHOLE learning chain value-for-value:
    the same word histogram, j chained merge stages (pair counts from
    every adjacent position, best pair by (count desc, left, right),
    recursive-CTE fixpoint of the boundary-guarded replace — one merge
    per word per pass, iterated until unchanged, == leftmost
    non-overlapping substitution).

    ``out='merges'`` -> (step, left_sym, right_sym, pair_count);
    ``out='doc_tokens'`` -> (``id_col``, n_words, n_bpe_tokens) via the
    final segmentation joined back to the corpus words."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if out not in ("merges", "doc_tokens"):
        raise ValueError(f"unknown out {out!r}")

    words = (f"SELECT unnest(list_filter(string_split({text_col}, ' '), "
             f"x -> x <> '')) AS word FROM ({docs_sql})")
    # every non-recursive CTE is MATERIALIZED: under plain inlining each
    # stage would re-evaluate the whole prefix chain (p/b/f each reference
    # the previous stage, b twice inside f) — ~4^j blowup by stage j
    ctes = [
        f"w AS MATERIALIZED (SELECT word, COUNT(*)::BIGINT AS cnt "
        f"FROM ({words}) GROUP BY word)",
        "s0 AS MATERIALIZED (SELECT word, cnt, ' ' || array_to_string("
        f"string_split(word, ''), ' ') || ' {END} ' AS sym FROM w)",
    ]
    for t in range(n_merges):
        nxt = t + 1
        # adjacent pairs (1-based list, i in 1..len-1), weighted by cnt
        ctes.append(f"""p{t} AS MATERIALIZED (
  SELECT sy[i] AS l, sy[i + 1] AS r, SUM(cnt)::BIGINT AS c
  FROM (SELECT cnt, sy, unnest(range(1, len(sy)))::INT AS i
        FROM (SELECT cnt, string_split(trim(sym), ' ') AS sy FROM s{t}))
  GROUP BY 1, 2)""")
        ctes.append(f"b{t} AS MATERIALIZED (SELECT l, r, c FROM p{t} "
                    f"ORDER BY c DESC, l ASC, r ASC LIMIT 1)")
        rep = (f"replace(f.sym, ' ' || b.l || ' ' || b.r || ' ', "
               f"' ' || b.l || b.r || ' ')")
        ctes.append(f"""f{t} AS (
  SELECT word, cnt, sym, 0 AS it FROM s{t}
  UNION ALL
  SELECT f.word, f.cnt, {rep} AS sym, f.it + 1
  FROM f{t} f, b{t} b WHERE {rep} <> f.sym)""")
        ctes.append(f"""s{nxt} AS MATERIALIZED (
  SELECT word, cnt, sym FROM (
    SELECT word, cnt, sym, row_number() OVER (
             PARTITION BY word ORDER BY it DESC) AS rn FROM f{t})
  WHERE rn = 1)""")
    body = ",\n".join(ctes)
    if out == "merges":
        steps = "\nUNION ALL\n".join(
            f"SELECT {t} AS step, l, r, c FROM b{t}"
            for t in range(n_merges))
        return (f"WITH RECURSIVE\n{body}\n"
                f"SELECT step::BIGINT AS step, l AS left_sym, "
                f"r AS right_sym, c AS pair_count FROM ({steps}) "
                f"ORDER BY step")
    final = (f"seg AS MATERIALIZED (SELECT word, "
             f"len(string_split(trim(sym), ' '))"
             f"::INT AS n_syms FROM s{n_merges})")
    dwords = (f"SELECT {id_col}, unnest(list_filter("
              f"string_split({text_col}, ' '), x -> x <> '')) AS word "
              f"FROM ({docs_sql})")
    return (f"WITH RECURSIVE\n{body},\n{final}\n"
            f"SELECT d.{id_col}, COUNT(*)::BIGINT AS n_words, "
            f"SUM(seg.n_syms)::BIGINT AS n_bpe_tokens "
            f"FROM ({dwords}) d JOIN seg ON d.word = seg.word "
            f"GROUP BY d.{id_col}")
