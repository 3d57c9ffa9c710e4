"""Differential fuzz: Spark vs DuckDB on ADVERSARIAL texts.

The oracle gate (test_entry_oracles.py) proves cross-engine parity on the
fixture corpus; these tests lock the same contracts on the text shapes web
corpora actually contain — empty strings, repeated separators, leading/
trailing spaces, unicode (combining marks, CJK, emoji), quotes/backslashes,
very long repetition — where split/md5/fold semantics could silently
diverge between engines. One Spark job + one DuckDB query per contract,
whole-frame compare (no per-case jobs).
"""

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

ADVERSARIAL = [
    "",                                   # empty text -> [''] word list
    "one",                                # below shingle width
    "one two",                            # still below w=3
    "one two three",                      # exactly one shingle
    "a  b c d",                           # double space -> empty token
    " leading space start of doc here",   # leading separator
    "trailing space at end of doc ",      # trailing separator
    "tab\tinside token stays one word x", # non-space whitespace NOT split
    "café naïve résumé words here",   # accents
    "café combining mark form here now",            # NFD form
    "日本語 中文 한국어 words mix here",
    "emoji \U0001f600 \U0001f680 tokens in text here",
    "quote ' and \" and \\ backslash words",
    "semi; colon, comma. dot words here",
    ("repeat " * 50).strip(),             # long repetition, 50 words
    "UPPER lower MiXeD case WORDS here",
    "0 1 2 3 4 5 6 7 8 9 ten",
    "    ",                               # only separators -> ['','','','','']
]


@pytest.fixture(scope="module")
def corpus():
    rows = [(i, t) for i, t in enumerate(ADVERSARIAL)]
    rows.append((len(rows), None))  # NULL text
    return pd.DataFrame(rows, columns=["doc_id", "text"])


@pytest.fixture(scope="module")
def duck(corpus):
    con = duckdb.connect()
    con.register("docs", corpus)
    return con


def test_minhash_signature_rows_match_duckdb(spark, corpus, duck):
    """The FULL md5-low64 -> wang64 window fold -> salted-min chain agrees
    row for row on adversarial texts (word-split semantics included:
    repeated separators yield empty tokens on BOTH engines; docs with < w
    words and NULL text yield no rows on both)."""
    from grenier_spark.functions.sql_oracles import _minhash_chain_sql
    from grenier_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    sigs = (minhash_signatures(df, w=3, n_hashes=8, seed=7, word_hash="md5")
            .select("doc_id", F.posexplode("sig").alias("perm", "sigv"))
            .toPandas().sort_values(["doc_id", "perm"])
            .reset_index(drop=True))
    _, sigrows = _minhash_chain_sql("SELECT doc_id, text FROM docs",
                                    "doc_id", "text", w=3, n_hashes=8,
                                    seed=7)
    to_signed = ("(CASE WHEN u >= 9223372036854775808::UHUGEINT "
                 "THEN u::HUGEINT - 18446744073709551616::HUGEINT "
                 "ELSE u::HUGEINT END)::BIGINT")
    exp = duck.execute(
        f"SELECT id AS doc_id, perm::BIGINT AS perm, {to_signed} AS sigv "
        f"FROM (SELECT id, perm, MIN(h) AS u FROM ({sigrows}) "
        f"GROUP BY 1, 2) ORDER BY 1, 2").df()
    pd.testing.assert_frame_equal(sigs, exp, check_dtype=False)
    # sanity on the fuzz itself: the corpus must exercise real signatures
    assert sigs.doc_id.nunique() >= 12


def test_simhash_fps_match_duckdb(spark, corpus, duck):
    """The 64-bit simhash fingerprint chain (md5-low64 word ids -> wang64
    -> count-weighted bit votes) agrees per doc on adversarial texts.
    Empty/NULL/separator-only texts get a NULL fp on BOTH engines."""
    from grenier_spark.functions.sql_oracles import simhash_fps_sql
    from grenier_spark.operators.dedup import simhash64

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = (simhash64(df, id_col="doc_id").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    to_signed = ("(CASE WHEN fp >= 9223372036854775808::UHUGEINT "
                 "THEN fp::HUGEINT - 18446744073709551616::HUGEINT "
                 "ELSE fp::HUGEINT END)::BIGINT")
    exp = duck.execute(
        "SELECT id AS doc_id, " + to_signed + " AS simhash FROM ("
        + simhash_fps_sql("SELECT doc_id, text FROM docs", "doc_id")
        + ") ORDER BY 1").df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # empty-ish docs (ids 0 and 17) and NULL text have no fingerprint
    assert set(got.loc[got.simhash.isna(), "doc_id"]) == \
        {0, 17, len(ADVERSARIAL)}
    assert got.simhash.nunique() >= 12  # the rest are real fingerprints


def test_repetition_stats_match_duckdb(spark, corpus, duck):
    """Gopher-style repetition signals (distinct ratio, top word/bigram
    fracs) agree on adversarial texts, including 1-word docs (no bigrams
    -> left-join/greatest guard) and the 50x repeat doc (fracs = 1.0)."""
    from grenier_spark.operators.textstats import (repetition_stats,
                                                   repetition_stats_sql)

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = (repetition_stats(df).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    exp = duck.execute(
        "SELECT * FROM (" + repetition_stats_sql(
            "SELECT doc_id, text FROM docs") + ") ORDER BY doc_id").df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    rep = got[got.doc_id == 14].iloc[0]  # the ('repeat ' * 50) doc
    assert rep.top_word_frac == 1.0 and rep.top_bigram_frac == 1.0
    assert (got[got.doc_id == 1].top_bigram_frac == 0.0).all()  # 1-word doc


PII_ADVERSARIAL = [
    "mail a@b.co end",                          # minimal email
    "a.b-c_d%e+f@sub.domain.org tail",          # full local-part class
    "ip 1.2.3.4 mid",                           # minimal IP
    "999.999.999.999 out-of-range still hits",  # \\d{1,3} is not value-aware
    "1.2.3.4.5 five groups",                    # overlapping-boundary shape
    "edge 10.0.0.255",                          # IP at end of string
    "call 555-123-4567 now",                    # dash phone
    "call 555.123.4567 now",                    # dot phone
    "call 555 123 4567 now",                    # space phone
    "x@y.com 1.2.3.4 555-123-4567",             # all three, chain order
    "v1.2.3 semver is not an ip",               # 3 groups: must NOT match
    "a@@b.com double at",                       # malformed email
    "email@domain@again.com chained ats",
    "(555)-123-4567 parens break \\b? no: inner still matches",
    "digits 12345678901234567890 long run",
    "unicode café@naïve.com around pii 1.2.3.4",
]


def test_redact_pii_match_duckdb(spark, duck):
    """The EMAIL -> IP -> PHONE regexp_replace chain and the per-category
    counts are byte-identical across Java regex and RE2 on boundary-shaped
    PII (minimal forms, out-of-range octets, overlapping digit groups,
    malformed emails, all-three-in-one ordering)."""
    from grenier_spark.operators.redact import redact_pii, redact_pii_sql

    rows = [(i, t) for i, t in enumerate(PII_ADVERSARIAL)]
    rows.append((len(rows), None))
    pii = pd.DataFrame(rows, columns=["doc_id", "text"])
    duck.register("pii_docs", pii)
    df = spark.createDataFrame(pii, "doc_id long, text string")
    got = (redact_pii(df).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    exp = duck.execute(
        "SELECT * FROM (" + redact_pii_sql(
            "SELECT doc_id, text FROM pii_docs") + ") ORDER BY doc_id").df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # the fuzz must exercise every category and the not-an-ip negatives
    assert got.n_email.fillna(0).sum() >= 4
    assert got.n_ip.fillna(0).sum() >= 4
    assert got.n_phone.fillna(0).sum() >= 4
    assert (got.loc[got.doc_id == 10, "n_ip"] == 0).all()  # semver row


ADVERSARIAL_IDS = [
    "",                # empty id
    " ",               # whitespace id
    "0", "00", "1", "01",  # numeric lookalikes — distinct strings
    "a:b",             # the domain-separator glyph inside an id
    "a:b:0",           # id that LOOKS like an (id, rep) composite
    "héllo",           # accents (2-byte UTF-8)
    "日本語id",         # CJK (3-byte UTF-8)
    "emoji\U0001f642id",  # astral plane (4-byte UTF-8 / surrogate pair)
    "x" * 500,         # long id
    "UPPER", "upper",  # case-distinct
    "a'b\"c\\d",       # quotes/backslash travel as DATA, not literals
    "tab\tid",
]


@pytest.fixture(scope="module")
def idcorpus():
    rows = [(i_, "s0" if i % 2 == 0 else "s1", (i % 5) + 1)
            for i, i_ in enumerate(ADVERSARIAL_IDS)]
    return pd.DataFrame(rows, columns=["doc_id", "source", "w"])


@pytest.fixture(scope="module")
def iduck(idcorpus):
    con = duckdb.connect()
    con.register("iddocs", idcorpus)
    return con


def _cmp(got, exp, keys):
    got = got.sort_values(keys).reset_index(drop=True)
    exp = exp[got.columns].sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_split_and_sample_chains_match_duckdb(spark, idcorpus, iduck):
    """assign_split / stratified_sample md5-hex chains agree on adversarial
    STRING ids (empty, colons, unicode incl. astral plane, 500-char):
    both engines hash the same UTF-8 bytes and the same domain tags."""
    from grenier_spark.operators.splits import (
        assign_split, assign_split_sql, stratified_sample,
        stratified_sample_sql_pred)

    W = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.createDataFrame(idcorpus,
                               "doc_id string, source string, w long")
    got = assign_split(df, W, seed=3).select("doc_id", "split").toPandas()
    exp = iduck.execute(
        f"SELECT doc_id, {assign_split_sql('doc_id', W, seed=3)} AS split "
        "FROM iddocs").df()
    _cmp(got, exp, ["doc_id"])
    assert got.split.nunique() >= 2  # the fuzz must hit >= 2 splits

    kept = (stratified_sample(df, 0.5, seed=9).select("doc_id").toPandas())
    kexp = iduck.execute(
        "SELECT doc_id FROM iddocs WHERE "
        + stratified_sample_sql_pred("doc_id", 0.5, seed=9)).df()
    _cmp(kept, kexp, ["doc_id"])
    assert 0 < len(kept) < len(ADVERSARIAL_IDS)


def test_priority_and_order_chains_match_duckdb(spark, idcorpus, iduck):
    """priority_sample's 52-bit exact-double priorities and shuffle_order's
    (order_key, shard) top-32-bit arithmetic agree on adversarial ids."""
    from grenier_spark.operators.ordering import (shuffle_order,
                                                  shuffle_order_sql)
    from grenier_spark.operators.splits import (priority_sample,
                                                priority_sample_sql)

    df = spark.createDataFrame(idcorpus,
                               "doc_id string, source string, w long")
    got = (priority_sample(df, k=4, weight_col="w", seed=5)
           .select("doc_id", "source", "sample_rank").toPandas())
    exp = iduck.execute(priority_sample_sql(
        "SELECT doc_id, source, w FROM iddocs", k=4, weight_col="w",
        seed=5, cols="doc_id, source, sample_rank")).df()
    _cmp(got, exp, ["source", "sample_rank"])
    assert set(got.groupby("source").size()) == {4}

    ogot = (shuffle_order(df, n_shards=7, seed=11)
            .select("doc_id", "order_key", "shard").toPandas())
    okey, oshard = shuffle_order_sql("doc_id", n_shards=7, seed=11)
    oexp = iduck.execute(
        f"SELECT doc_id, {okey} AS order_key, ({oshard})::BIGINT AS shard "
        "FROM iddocs").df()
    _cmp(ogot, oexp, ["doc_id"])
    assert ogot.shard.nunique() >= 3  # ids spread over the 7 shards


def test_mixture_and_stride_chains_match_duckdb(spark, idcorpus, iduck):
    """mixture_resample replica/keep chain and stride_interleave positions
    agree row-for-row on adversarial ids, including the colon-bearing id
    whose (id, rep) concat must not alias another id's chain."""
    from grenier_spark.operators.ordering import (stride_interleave,
                                                  stride_interleave_sql)
    from grenier_spark.operators.splits import (mixture_resample,
                                                mixture_resample_sql)

    W = {"s0": 1.5, "s1": 0.5}
    df = spark.createDataFrame(idcorpus,
                               "doc_id string, source string, w long")
    got = (mixture_resample(df, W, seed=7)
           .select("doc_id", "rep").toPandas())
    exp = iduck.execute(mixture_resample_sql(
        "SELECT doc_id, source FROM iddocs", W, seed=7,
        cols="doc_id, rep")).df()
    _cmp(got, exp, ["doc_id", "rep"])
    n0 = len(idcorpus[idcorpus.source == "s0"])
    assert len(got[got.rep == 0]) >= n0  # every s0 doc keeps replica 0

    SW = {"s0": 1.0, "s1": 2.5}
    sgot = (stride_interleave(df, SW, seed=13)
            .select("doc_id", "pos").toPandas())
    sexp = iduck.execute(stride_interleave_sql(
        "SELECT doc_id, source FROM iddocs", SW, seed=13,
        cols="doc_id")).df()
    _cmp(sgot, sexp, ["doc_id"])
    assert sgot.pos.is_unique


def test_segment_rows_match_duckdb(spark, corpus, duck):
    """Boilerplate segmentation (8-word windows, ragged tail) agrees on
    adversarial texts; NULL text yields no rows on both engines."""
    from grenier_spark.operators import boilerplate as B

    df = (spark.createDataFrame(corpus, "doc_id long, text string")
          .withColumn("source", F.lit("g")))
    got = (B.segment_rows(df, width=8)
           .select("id", "seg_idx", "seg").toPandas()
           .sort_values(["id", "seg_idx"]).reset_index(drop=True))
    sql = ("WITH " + B.segment_rows_sql(
        "SELECT doc_id, 'g' AS source, text FROM docs", "text", "doc_id",
        "source", 8)
        + " SELECT id, seg_idx::BIGINT AS seg_idx, seg FROM segs "
          "ORDER BY 1, 2")
    exp = duck.execute(sql).df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert got.id.nunique() == len(ADVERSARIAL)  # every non-NULL doc segments


def test_duplicated_spans_match_duckdb_adversarial(spark, corpus, duck):
    """The substring-span chain (positional window md5, >= 2 count set,
    island merge) agrees on adversarial texts — the 50x 'repeat' doc is
    one wall-to-wall span on both engines; empty/NULL/short docs vanish."""
    from grenier_spark.operators.dedup import (duplicated_span_stats,
                                               duplicated_span_stats_sql)

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = (duplicated_span_stats(df, k=2).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    exp = duck.execute(
        "SELECT * FROM (" + duplicated_span_stats_sql(
            "SELECT doc_id, text FROM docs", k=2) + ") ORDER BY doc_id").df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    rep = got[got.doc_id == 14]
    assert len(rep) == 1 and rep.dup_word_frac.iloc[0] == 1.0


def test_unigram_lm_scores_match_duckdb_adversarial(spark, corpus, duck):
    """The unigram-LM chain (top-K vocab by (count DESC, md5 ASC), numpy
    ln p vs DuckDB ln p, OOV floor, round-6 doc mean) agrees on
    adversarial texts — including a vocab_k small enough that the md5
    tie-break decides which singleton words enter the vocabulary."""
    from grenier_spark.operators.textstats import (unigram_lm_scores,
                                                   unigram_lm_scores_sql)

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = (unigram_lm_scores(df, vocab_k=7).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    exp = duck.execute(
        "SELECT * FROM (" + unigram_lm_scores_sql(
            "SELECT doc_id, text FROM docs", vocab_k=7)
        + ") ORDER BY doc_id").df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert got.doc_id.nunique() >= 14  # empty/NULL/space-only drop out


def test_winnow_fingerprints_match_duckdb_adversarial(spark, corpus, duck):
    """The winnowing chain (k-CHAR grams -> md5-low64 -> window minima ->
    distinct+sort) agrees on adversarial texts — in particular CHARACTER
    indexing: Spark's UTF8String substr/length and DuckDB's substr/length
    must both count CODE POINTS (not UTF-16 units or bytes) or emoji/CJK
    docs shear the gram frames apart. Whole fingerprint ARRAYS compared,
    not just extremes."""
    from grenier_spark.functions.sql_oracles import md5_low64_signed_expr
    from grenier_spark.operators.textstats import winnow_fingerprints

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = (df.select("doc_id", F.posexplode(
               winnow_fingerprints("text", k=4, window=3))
               .alias("i", "fp"))
           .toPandas().sort_values(["doc_id", "i"])
           .reset_index(drop=True))
    exp = duck.execute(f"""
WITH g AS (SELECT doc_id,
             CASE WHEN length(text) >= 4
                  THEN list_transform(range(1, length(text) - 2),
                       i -> {md5_low64_signed_expr('substr(text, i, 4)')})
                  ELSE []::BIGINT[] END AS grams
           FROM docs),
w AS (SELECT doc_id,
             CASE WHEN len(grams) >= 3
                  THEN list_transform(range(1, len(grams) - 1),
                       j -> list_min(grams[j:j+2]))
                  ELSE []::BIGINT[] END AS wins
      FROM g),
f AS (SELECT doc_id, unnest(list_sort(list_distinct(wins))) AS fp,
             generate_subscripts(list_sort(list_distinct(wins)), 1) - 1
               AS i
      FROM w)
SELECT doc_id, i::BIGINT AS i, fp FROM f ORDER BY doc_id, i""").df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # the unicode docs must actually produce fingerprints
    uni = set(got.doc_id) & {8, 9, 10, 11}
    assert len(uni) == 4


def test_contamination_report_match_duckdb_adversarial(spark, corpus, duck):
    """Exact n-gram decontamination agrees on adversarial texts: eval =
    every 3rd doc, train = the rest PLUS one doc quoting an eval 4-gram
    verbatim (so at least one real cross-doc hit exists beyond
    self-shingle noise)."""
    from grenier_spark.operators.decontam import (contamination_report,
                                                  contamination_report_sql)

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    ev = df.where(F.col("doc_id") % 3 == 0)
    # 999 appears TWICE (duplicate-id input): totals must sum across its
    # rows on BOTH engines (per-row distinct, no cross-row collapse)
    quote = spark.createDataFrame(
        [(999, "prefix UPPER lower MiXeD case suffix"),
         (999, "second row UPPER lower MiXeD case again here")],
        "doc_id long, text string")  # both quote eval doc 15's 4-gram
    tr = df.where(F.col("doc_id") % 3 != 0).unionByName(quote)
    got = (contamination_report(tr, ev, n=4).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    tr_sql = ("SELECT doc_id, text FROM docs WHERE doc_id % 3 <> 0 "
              "UNION ALL SELECT 999, "
              "'prefix UPPER lower MiXeD case suffix' "
              "UNION ALL SELECT 999, "
              "'second row UPPER lower MiXeD case again here'")
    exp = duck.execute(
        "SELECT * FROM (" + contamination_report_sql(
            tr_sql, "SELECT doc_id, text FROM docs WHERE doc_id % 3 = 0",
            n=4) + ") ORDER BY doc_id").df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert 999 in set(got.doc_id)  # the planted quote is flagged


def test_boilerplate_removal_match_duckdb_adversarial(spark, corpus, duck):
    """Boilerplate removal reassembles BYTE-IDENTICAL cleaned text across
    engines on adversarial texts plus a banner planted into 4 docs
    (min_df=3): ragged-tail segments, empty-string segments from
    separator-only docs, unicode, and the all-boilerplate -> '' doc."""
    from grenier_spark.operators import boilerplate as B

    banner = "get the newsletter now"
    extra = [(100 + j, banner + f" body b{j} c{j} d{j} e{j}")
             for j in range(3)]
    extra.append((104, banner))  # 100% boilerplate -> clean_text = ''
    pdf = pd.concat([pd.DataFrame([(i, t) for i, t in extra],
                                  columns=["doc_id", "text"]),
                     duck.execute("SELECT * FROM docs").df()])
    duck.register("bdocs", pdf)
    df = (spark.createDataFrame(pdf, "doc_id long, text string")
          .withColumn("source", F.lit("g")))
    boiler = B.boilerplate_segments(df, width=4, min_df=3).persist()
    got = (B.remove_boilerplate(df, boiler, width=4)
           .select(F.col("id").alias("doc_id"), "n_segs", "n_boiler",
                   "clean_text")
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    sql = f"""
WITH {B.segment_rows_sql("SELECT doc_id, 'g' AS source, text FROM bdocs",
                         'text', 'doc_id', 'source', 4)},
bo AS (SELECT grp, seg FROM segs GROUP BY grp, seg
       HAVING COUNT(DISTINCT id) >= 3),
m AS (SELECT s.id, s.seg_idx, s.seg, b.seg AS bseg
      FROM segs s LEFT JOIN bo b
        ON s.grp IS NOT DISTINCT FROM b.grp AND s.seg = b.seg)
SELECT id AS doc_id, COUNT(*)::BIGINT AS n_segs,
       COUNT(bseg)::BIGINT AS n_boiler,
       coalesce(string_agg(CASE WHEN bseg IS NULL THEN seg END,
                           ' ' ORDER BY seg_idx), '') AS clean_text
FROM m GROUP BY id ORDER BY doc_id"""
    exp = duck.execute(sql).df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    row104 = got[got.doc_id == 104].iloc[0]
    assert row104.clean_text == "" and row104.n_boiler == row104.n_segs
    assert (got[got.doc_id.between(100, 103)].n_boiler >= 1).all()


def test_bigram_lm_scores_match_duckdb_adversarial(spark, corpus, duck):
    """The bigram stupid-backoff chain (two md5-tie-broken top-K tables,
    full-count denominators, ln(alpha) backoff, OOV floor) agrees on
    adversarial texts with BOTH tables truncated small enough that the
    tie-breaks and the backoff path both fire."""
    from grenier_spark.operators.textstats import (bigram_lm_scores,
                                                   bigram_lm_scores_sql)

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = (bigram_lm_scores(df, vocab_k=7, bigram_k=5).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    exp = duck.execute(
        "SELECT * FROM (" + bigram_lm_scores_sql(
            "SELECT doc_id, text FROM docs", vocab_k=7, bigram_k=5)
        + ") ORDER BY doc_id").df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert got.doc_id.nunique() >= 14


def test_bigram_lm_hypothesis_random_corpora(spark):
    """Hypothesis-randomized corpora (tiny vocab -> heavy count ties at
    BOTH top-K boundaries) keep the bigram chain engine-identical: the
    md5 tie-breaks, backoff routing and denominator lookups must agree
    for every tie pattern, not just the fixed-seed corpora."""
    from hypothesis import given, settings, strategies as st

    from grenier_spark.operators.textstats import (bigram_lm_scores,
                                                   bigram_lm_scores_sql)

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=0, max_size=12).map(" ".join)

    @settings(max_examples=4, deadline=None)
    @given(st.lists(doc, min_size=3, max_size=12))
    def check(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = (bigram_lm_scores(df, vocab_k=2, bigram_k=3).toPandas()
               .sort_values("doc_id").reset_index(drop=True))
        con = duckdb.connect()
        con.register("hdocs", pd.DataFrame(rows,
                                           columns=["doc_id", "text"]))
        exp = con.execute(
            "SELECT * FROM (" + bigram_lm_scores_sql(
                "SELECT doc_id, text FROM hdocs", vocab_k=2, bigram_k=3)
            + ") ORDER BY doc_id").df()
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    check()


def test_pack_fixed_chunks_match_duckdb_adversarial(spark):
    """Chunk arithmetic agrees on boundary token counts: zeros (incl. at
    stream position 0), exact-budget fits, budget+-1, an oversize doc and
    a 2^40 giant — the greatest() pin and // vs floor semantics must
    coincide on every shape."""
    from grenier_spark.operators.packing import pack_fixed_chunks

    B = 100
    ns = [0, 1, 99, 100, 101, 0, 250, 100, 1, 0, 1 << 40, 5]
    rows = [("g", i, n) for i, n in enumerate(ns)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tok long")
    got = (pack_fixed_chunks(df, B).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("pdocs", pd.DataFrame(rows,
                                       columns=["source", "doc_id",
                                                "n_tok"]))
    exp = con.execute(f"""
WITH c AS (
  SELECT source, doc_id, n_tok,
         (SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
          - n_tok)::BIGINT AS tok_start
  FROM pdocs)
SELECT source, doc_id, n_tok, tok_start,
       (tok_start // {B})::BIGINT AS batch_id,
       greatest(tok_start // {B},
                (tok_start + n_tok - 1) // {B})::BIGINT AS end_batch_id,
       greatest(tok_start // {B}, (tok_start + n_tok - 1) // {B})
         > (tok_start // {B}) AS straddles
FROM c ORDER BY doc_id""").df()
    pd.testing.assert_frame_equal(got[exp.columns], exp, check_dtype=False)
    assert got.end_batch_id.max() > (1 << 40) // B - 2  # the giant counted


def test_sessionize_match_duckdb_adversarial(spark):
    """Session splits agree at the boundaries: gap EXACTLY 6 h (same
    session — strict >), 6 h + 1 us (new session), tied timestamps
    (event_id tie-break), single-event users, and epoch-adjacent stamps."""
    from datetime import datetime, timedelta

    from grenier_spark.operators.sessions import session_stats

    t0 = datetime(2024, 3, 10, 0, 0, 0)
    six_h = timedelta(hours=6)
    us = timedelta(microseconds=1)
    rows = [
        ("u1", t0, 1), ("u1", t0 + six_h, 2),          # exact 6h: same
        ("u1", t0 + six_h + six_h + us, 3),            # 6h + 1us: new
        ("u2", t0, 1), ("u2", t0, 2), ("u2", t0, 3),   # all tied: one sess
        ("u3", datetime(1970, 1, 1, 0, 0, 0), 1),      # epoch
        ("u3", datetime(1970, 1, 1, 6, 0, 0), 2),      # exactly 6h later
        ("u4", t0, 7),                                 # singleton
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, "
                                     "event_id long")
    got = (session_stats(df).toPandas()
           .sort_values("user_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("ev", pd.DataFrame(rows,
                                    columns=["user_id", "ts", "event_id"]))
    exp = con.execute("""
WITH s AS (
  SELECT user_id,
         SUM(CASE WHEN prev IS NULL
                    OR epoch_us(ts) - prev > 21600000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (SELECT user_id, ts, event_id,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
        FROM ev)
), per_sess AS (
  SELECT user_id, session_id, COUNT(*)::BIGINT AS sess_events
  FROM s GROUP BY 1, 2)
SELECT user_id, MAX(session_id)::BIGINT AS n_sessions,
       SUM(sess_events)::BIGINT AS n_events,
       MAX(sess_events)::BIGINT AS max_session_events
FROM per_sess GROUP BY user_id ORDER BY user_id""").df()
    pd.testing.assert_frame_equal(got[exp.columns], exp, check_dtype=False)
    g = got.set_index("user_id")
    assert int(g.loc["u1", "n_sessions"]) == 2   # strict > at exactly 6h
    assert int(g.loc["u2", "n_sessions"]) == 1   # ties share one session
    assert int(g.loc["u3", "n_sessions"]) == 1


def test_pack_greedy_match_duckdb_adversarial(spark):
    """The greedy whole-doc packer and its recursive-CTE twin agree on
    the shapes the gate corpus lacks: oversize docs (> budget, own
    batch), exact fits, size-1 runs, zero-token docs, and an oversize
    FIRST doc."""
    from grenier_spark.operators.packing import pack_greedy_contiguous

    B = 100
    shapes = {
        "a": [250, 1, 99, 100, 1, 0, 100, 101, 50, 50, 1],  # oversize 1st
        "b": [1, 1, 1, 97, 250, 250, 3],
        "c": [100, 100, 100],                                # exact fits
    }
    rows = [(g, i, n) for g, ns in shapes.items()
            for i, n in enumerate(ns)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tok long")
    got = (pack_greedy_contiguous(df, B).toPandas()
           .sort_values(["source", "doc_id"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("gdocs", pd.DataFrame(rows,
                                       columns=["source", "doc_id",
                                                "n_tok"]))
    exp = con.execute(f"""
WITH RECURSIVE d AS (
  SELECT source, doc_id, n_tok,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM gdocs
), g AS (
  SELECT source, doc_id, n_tok, rn, 0::BIGINT AS batch_id,
         n_tok AS fill_after
  FROM d WHERE rn = 1
  UNION ALL
  SELECT nx.source, nx.doc_id, nx.n_tok, nx.rn,
         CASE WHEN g.fill_after + nx.n_tok <= {B} THEN g.batch_id
              ELSE g.batch_id + 1 END,
         CASE WHEN g.fill_after + nx.n_tok <= {B}
              THEN g.fill_after + nx.n_tok ELSE nx.n_tok END
  FROM g JOIN d nx ON nx.source = g.source AND nx.rn = g.rn + 1
)
SELECT source, doc_id, n_tok, batch_id, fill_after FROM g
ORDER BY source, doc_id""").df()
    pd.testing.assert_frame_equal(got[exp.columns], exp, check_dtype=False)
    a = got[got.source == "a"].sort_values("doc_id")
    assert a.batch_id.iloc[0] == 0 and a.batch_id.iloc[1] == 1  # oversize alone


def test_dsir_chain_match_duckdb_adversarial(spark, corpus, duck):
    """DSIR importance weights: md5-low64 % B buckets, add-smoothing ln
    ratios, round-6 doc sums and the top-k rule agree on adversarial
    text (empty/NULL docs drop on both engines)."""
    from grenier_spark.operators.selection import (dsir_logweights,
                                                   dsir_select_topk,
                                                   dsir_sql)

    sdf = spark.createDataFrame(corpus)
    target = sdf.where(F.col("doc_id") % 2 == 1)
    got = (dsir_select_topk(
               dsir_logweights(sdf, target, n_buckets=64, smoothing=0.5),
               k=5)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    sql = dsir_sql("SELECT doc_id, text FROM docs",
                   "SELECT doc_id, text FROM docs WHERE doc_id % 2 = 1",
                   n_buckets=64, smoothing=0.5, k=5)
    exp = duck.execute(sql).df().sort_values("doc_id").reset_index(drop=True)
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  rtol=0, atol=0)


def test_bpe_chain_match_duckdb_adversarial(spark, corpus, duck):
    """BPE learning + application: codepoint char split (NFD combining
    marks, astral emoji), weighted overlapping pair counts, UTF-8
    tie-break order and the fixpoint merge replay agree end-to-end."""
    from grenier_spark.operators.bpe import (bpe_learn, bpe_sql,
                                             bpe_token_counts)

    sdf = spark.createDataFrame(corpus)
    merges, seg = bpe_learn(sdf, n_merges=8)
    got_m = [(m["step"], m["left"], m["right"], m["pair_count"])
             for m in merges]
    exp_m = [tuple(r) for r in duck.execute(
        bpe_sql("SELECT doc_id, text FROM docs", n_merges=8)).fetchall()]
    assert got_m == exp_m
    got_t = (bpe_token_counts(sdf, seg).toPandas()
             .sort_values("doc_id").reset_index(drop=True))
    exp_t = (duck.execute(bpe_sql("SELECT doc_id, text FROM docs",
                                  n_merges=8, out="doc_tokens")).df()
             .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got_t[sorted(got_t.columns)],
                                  exp_t[sorted(exp_t.columns)],
                                  check_dtype=False)


def test_kmv_chain_match_duckdb_adversarial(spark, corpus, duck):
    """KMV over md5 word tokens of adversarial text: kept set, k-th hash
    and estimate agree (the wang64-over-md5 chain on unicode tokens)."""
    from grenier_spark.functions import kmv_est_col, kmv_stats_col
    from grenier_spark.functions.hashing import md5_tokens_col
    from grenier_spark.functions.sql_oracles import (kmv_by_source_sql,
                                                     md5_low64_expr)
    from grenier_spark.operators.sketch_build import (SketchSpec,
                                                      build_sketches)

    sdf = (spark.createDataFrame(corpus)
           .withColumn("grp", (F.col("doc_id") % 3).cast("int"))
           .withColumn("tokens", md5_tokens_col("text")))
    res = build_sketches(sdf, [SketchSpec.of("k", "kmv", "tokens", k=16)],
                         group_cols=["grp"])
    got = (res.withColumn("_s", kmv_stats_col("sketch"))
           .select("grp", F.col("_s.n_kept").alias("n_kept"),
                   F.col("_s.kth_hash").alias("kth_hash"),
                   F.round(kmv_est_col("sketch"), 6).alias("est_distinct"))
           .toPandas().sort_values("grp").reset_index(drop=True))
    sql = kmv_by_source_sql(
        "SELECT grp, " + md5_low64_expr("w") + " AS tk FROM ("
        "SELECT doc_id % 3 AS grp, unnest(string_split(text, ' ')) AS w "
        "FROM docs WHERE text IS NOT NULL)",
        "tk", 16, group_cols=["grp"])
    exp = (duck.execute(sql).df().rename(columns={})
           .sort_values("grp").reset_index(drop=True))
    got["grp"] = got.grp.astype("int64")
    pd.testing.assert_frame_equal(got[sorted(got.columns)],
                                  exp[sorted(exp.columns)],
                                  check_dtype=False)


def test_pmi_collocations_match_duckdb_adversarial(spark, corpus, duck):
    """The PMI chain (exact bigram/unigram counts, the left-associated
    likelihood-ratio double chain that decides the top-k cut, md5 hex
    tie-breaks, numpy-vs-DuckDB ln round-6) agrees on adversarial texts —
    with top_k small enough that the tie-breaks decide the boundary and
    min_count=1 so singleton bigrams (ratio ties galore) are in play."""
    from grenier_spark.operators.textstats import (pmi_collocations,
                                                   pmi_collocations_sql)

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = (pmi_collocations(df, min_count=1, top_k=9).toPandas()
           .sort_values(["w1", "w2"]).reset_index(drop=True))
    exp = (duck.execute(pmi_collocations_sql(
        "SELECT text FROM docs", min_count=1, top_k=9)).df()
        .sort_values(["w1", "w2"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert len(got) == 9


def test_pmi_hypothesis_random_corpora(spark):
    """Hypothesis-randomized tiny-vocab corpora (heavy ratio ties at the
    top-k boundary) keep the PMI chain engine-identical for every tie
    pattern, not just the fixed corpora."""
    from hypothesis import given, settings, strategies as st

    from grenier_spark.operators.textstats import (pmi_collocations,
                                                   pmi_collocations_sql)

    word = st.sampled_from(["aa", "bb", "cc"])
    doc = st.lists(word, min_size=0, max_size=10).map(" ".join)

    @settings(max_examples=4, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=10))
    def check(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = (pmi_collocations(df, min_count=1, top_k=4).toPandas()
               .sort_values(["w1", "w2"]).reset_index(drop=True))
        con = duckdb.connect()
        con.register("hdocs", pd.DataFrame(rows,
                                           columns=["doc_id", "text"]))
        exp = (con.execute(pmi_collocations_sql(
            "SELECT text FROM hdocs", min_count=1, top_k=4)).df()
            .sort_values(["w1", "w2"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    check()


def test_entropy_and_kl_match_duckdb_adversarial(spark, corpus, duck):
    """The entropy (ln N − ddsum(c·ln c)/N == fsum twin) and KL
    (smoothed dense-support ratio ln, both directed ddsums) chains agree
    on adversarial texts — unicode words, empty tokens from repeated
    separators, singleton-heavy vocabularies."""
    from grenier_spark.operators.textstats import (token_entropy_stats,
                                                   token_entropy_stats_sql,
                                                   token_kl_matrix,
                                                   token_kl_matrix_sql)

    # two synthetic groups over the adversarial texts: doc parity
    df = (spark.createDataFrame(corpus, "doc_id long, text string")
          .withColumn("source", F.concat(F.lit("g"),
                                         (F.col("doc_id") % 2))))
    tbl = ("SELECT doc_id % 2 AS par, 'g' || (doc_id % 2)::VARCHAR "
           "AS source, text FROM docs")
    got = (token_entropy_stats(df).toPandas()
           .sort_values("source").reset_index(drop=True))
    exp = duck.execute(
        "SELECT * FROM (" + token_entropy_stats_sql(tbl)
        + ") ORDER BY source").df()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    gotk = (token_kl_matrix(df).toPandas()
            .sort_values(["group_a", "group_b"]).reset_index(drop=True))
    expk = (duck.execute(token_kl_matrix_sql(tbl)).df()
            .sort_values(["group_a", "group_b"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(gotk, expk, check_dtype=False)
    assert len(gotk) == 1 and gotk.kl_ab.iloc[0] > 0


def test_psi_chain_extreme_magnitudes(spark):
    """The PSI chain (dd log-bucketing -> union bins -> smoothed terms)
    on values spanning the full double range — denormal-adjacent
    1e-300 through 1e300, exact powers of 10, zeros, and a planted
    magnitude shift: Spark (numpy log) and DuckDB (libm ln) must agree
    on every gated column at round-6, and n/n_bins exactly."""
    import duckdb

    import numpy as np

    from grenier_spark.functions.sql_oracles import dd_psi_sql
    from grenier_spark.operators.drift import psi_sketch_report

    rng = np.random.default_rng(29)
    # headroom: max |v| = 1e250 * e^|noise| * shift must stay finite
    mags = np.array([1e-300, 1e-30, 1e-6, 1.0, 1e6, 1e30, 1e250])
    rows = []
    for g, shift in (("flat", 1.0), ("shifted", 1e12)):
        for s in ("a", "b"):
            v = (mags[rng.integers(0, len(mags), 400)]
                 * np.exp(np.clip(rng.normal(0, 2, 400), -8, 8)))
            if s == "b":
                v = v * shift
            v[:5] = 0.0
            rows.append(pd.DataFrame({"g": g, "s": s, "v": v}))
    pdf = pd.concat(rows, ignore_index=True)
    rep = (psi_sketch_report(spark.createDataFrame(pdf).repartition(6),
                             "v", "s", ["g"], alpha=0.25)
           .toPandas().sort_values("g").reset_index(drop=True))
    con = duckdb.connect()
    con.register("src", pdf)
    got = (con.execute("SELECT * FROM ("
                       + dd_psi_sql("SELECT g, s, v FROM src", "v", "s",
                                    0.25, ["g"]) + ") ORDER BY g").df())
    for c in ("g", "side_a", "side_b", "n_a", "n_b", "n_bins"):
        assert list(got[c]) == list(rep[c]), c
    assert [round(x, 6) for x in got.psi] == \
        [round(x, 6) for x in rep.psi]
    f = rep.set_index("g")
    # signal quality on a 600-decade spread is bin-noise-limited (the
    # documented coarse-binning guidance); parity above is the target —
    # here just require the planted shift to dominate the noise floor
    assert f.loc["shifted"].psi > 2 * f.loc["flat"].psi > 0


def test_priority_estimate_chain_match_duckdb(spark):
    """The DLT estimator chain (md5 priorities -> (k+1)-th-order tau ->
    greatest(w, tau)) on adversarial STRING ids and near-2^52 weights:
    tau and every w_hat must agree bit-for-bit (the operands stay exactly
    representable by the documented 52-bit construction)."""
    from grenier_spark.operators.splits import (
        priority_sample_estimate, priority_sample_estimate_sql)

    big = [1, 2, (1 << 51) + 1, (1 << 52) - 1, 5, 977, 10 ** 15, 3, 7,
           123456789, 2, (1 << 40) + 7, 11, 13]
    rows = [(i_, "s0" if i % 2 == 0 else "s1", big[i % len(big)])
            for i, i_ in enumerate(ADVERSARIAL_IDS)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "w"])
    df = spark.createDataFrame(pdf, "doc_id string, source string, w long")
    got = (priority_sample_estimate(df, k=3, weight_col="w", seed=2)
           .select("doc_id", "source", "sample_rank", "tau", "w_hat")
           .toPandas())
    con = duckdb.connect()
    con.register("iddocs2", pdf)
    exp = con.execute(priority_sample_estimate_sql(
        "SELECT doc_id, source, w FROM iddocs2", k=3, weight_col="w",
        seed=2, cols="doc_id, source, sample_rank")).df()
    _cmp(got, exp, ["source", "sample_rank"])
    # k=3 over 7-id groups: tau must be live (not the exact-path zero)
    assert (got.tau > 0).all()
    # w_hat clamps at least one light item up to tau somewhere
    assert (got.w_hat > got.set_index("doc_id").w_hat.index.map(
        pdf.set_index("doc_id").w).astype(float).values).any()


def test_weighted_dd_chain_extreme_magnitudes():
    """The WEIGHTED dd estimator across a 600-decade value spread with
    weights up to 1e9: numpy's log-bucket map + int64 weighted histogram
    vs DuckDB's ln + SUM(w) must land on identical estimates and total
    weights (same random-multiplier posture as the PSI extreme fuzz —
    knife-edge gamma-power values are measure-zero and excluded by
    construction)."""
    import numpy as np

    from grenier_spark.core.ddsketch import DDSketch
    from grenier_spark.functions.sql_oracles import dd_quantile_sql

    rng = np.random.default_rng(31)
    mags = np.array([1e-300, 1e-30, 1e-6, 1.0, 1e6, 1e30, 1e250])
    v = (mags[rng.integers(0, len(mags), 600)]
         * np.exp(np.clip(rng.normal(0, 2, 600), -8, 8)))
    v[:7] = 0.0  # zero counter under weights
    w = rng.integers(1, 10 ** 9, 600)
    pdf = pd.DataFrame({"g": np.where(np.arange(600) % 2 == 0,
                                      "ga", "gb"), "v": v, "w": w})
    sk = {}
    for g, gg in pdf.groupby("g"):
        s = DDSketch(0.01)
        s.update_batch_weighted(gg.v.to_numpy(), gg.w.to_numpy("int64"))
        sk[g] = s
    con = duckdb.connect()
    con.register("wv", pdf)
    qs = [0.01, 0.5, 0.99]
    out = con.execute(dd_quantile_sql("SELECT g, v, w FROM wv", "v",
                                      0.01, qs, ["g"],
                                      weight_col="w")).fetchall()
    assert len(out) == 6
    for g, q, est, n in out:
        assert n == sk[g].n
        assert est == sk[g].quantile(q), (g, q)
