"""BPE vocabulary learning (operators/bpe.py): the classic Sennrich
corpus known-answer, merge-application semantics, partitioning
invariance, application-join counts, histogram pruning determinism, and
the DuckDB twin on adversarial words (unicode, within-word repeats)."""

import duckdb
import pytest

from grenier_spark.operators.bpe import (END, _merge_word, bpe_learn,
                                         bpe_sql, bpe_token_counts,
                                         word_histogram)

TEXTS = [(0, "low low low low low"),
         (1, "lower lower newest newest"),
         (2, "newest newest newest newest"),
         (3, "widest widest widest"),
         (4, "low lower"),
         (5, None),
         (6, ""),
         (7, "  spaced   out  ")]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def test_merge_word_leftmost_nonoverlapping():
    assert _merge_word(("a", "a", "a"), "a", "a") == ("aa", "a")
    assert _merge_word(("a", "a", "a", "a"), "a", "a") == ("aa", "aa")
    assert _merge_word(("x", "a", "b", "a", "b"), "a", "b") == \
        ("x", "ab", "ab")
    assert _merge_word(("a", "b"), "b", "a") == ("a", "b")


def test_sennrich_known_answer(corpus):
    """First merges on the classic low/lower/newest/widest corpus:
    t+</w> dominates (10 occurrences), then es, est</w>, lo, low."""
    merges, seg = bpe_learn(corpus, n_merges=5)
    got = [(m["left"], m["right"], m["pair_count"]) for m in merges]
    assert got == [("t", END, 10), ("e", "s", 9), ("es", "t" + END, 9),
                   ("l", "o", 9), ("lo", "w", 9)]
    assert seg["newest"] == ("n", "e", "w", "est" + END)
    assert seg["low"] == ("low", END)


def test_learning_is_partitioning_invariant(spark, corpus):
    a, _ = bpe_learn(corpus, n_merges=6)
    b, _ = bpe_learn(corpus.repartition(7), n_merges=6)
    assert a == b


def test_token_counts_match_segmentation(spark, corpus):
    _, seg = bpe_learn(corpus, n_merges=5)
    got = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
           for r in bpe_token_counts(corpus, seg).collect()}
    # docs 5 (NULL) and 6 (empty) produce no rows
    assert set(got) == {0, 1, 2, 3, 4, 7}
    assert got[0] == (5, 5 * len(seg["low"]))
    assert got[1] == (4, 2 * len(seg["lower"]) + 2 * len(seg["newest"]))
    assert got[7] == (2, len(seg["spaced"]) + len(seg["out"]))


def test_max_words_pruning_is_deterministic(spark, corpus):
    """Pruned histogram keeps top words by (cnt desc, word asc); learning
    still runs and merge counts only reflect kept words."""
    m_full, _ = bpe_learn(corpus, n_merges=3)
    m_top, seg_top = bpe_learn(corpus, n_merges=3, max_words=2)
    assert set(seg_top) == {"low", "newest"}   # 6 and 6 beat 3/3/2
    assert m_top != m_full
    again, _ = bpe_learn(corpus.repartition(5), n_merges=3, max_words=2)
    assert m_top == again


def test_default_max_words_is_bounded(spark, corpus):
    """Driver-OOM guard: the DEFAULT histogram bound is finite (a 100-TB
    caller who forgets max_words gets a deterministic top-1M, not an
    unbounded collect); None is the explicit unbounded opt-in; and at
    small scale (vocab << bound) the default equals the unbounded
    oracle-checkable result exactly."""
    import inspect

    from grenier_spark.operators.bpe import DEFAULT_MAX_WORDS

    default = inspect.signature(bpe_learn).parameters["max_words"].default
    assert default == DEFAULT_MAX_WORDS == 1_000_000
    m_default, seg_default = bpe_learn(corpus, n_merges=3)
    m_none, seg_none = bpe_learn(corpus, n_merges=3, max_words=None)
    assert m_default == m_none and seg_default == seg_none


def test_max_words_cap_warns_when_it_truncates(spark):
    """A histogram cut at max_words says so with one UserWarning naming
    the cap and the exact opt-out; a cap the corpus fits under is
    silent."""
    import warnings

    five = spark.createDataFrame([(0, "a bb ccc dddd eeeee a bb a")],
                                 "doc_id long, text string")
    with pytest.warns(UserWarning, match="max_words=3.*max_words=None"):
        _, seg = bpe_learn(five, n_merges=2, max_words=3)
    assert set(seg) == {"a", "bb", "ccc"}
    for cap in (5, None):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            _, seg = bpe_learn(five, n_merges=2, max_words=cap)
        assert not [w for w in caught if "max_words" in str(w.message)]
        assert len(seg) == 5


def test_validation_errors(spark, corpus):
    with pytest.raises(ValueError, match="n_merges"):
        bpe_learn(corpus, n_merges=0)
    with pytest.raises(ValueError, match="n_merges"):
        bpe_sql("SELECT 1", n_merges=0)
    with pytest.raises(ValueError, match="unknown out"):
        bpe_sql("SELECT 1", n_merges=1, out="nope")


def test_duckdb_twin_adversarial(spark):
    """Twin agreement on within-word repeats (overlap semantics), unicode
    (codepoint split + UTF-8 tie order) and single-char words."""
    rows = [(0, "aaa aaaa aa a"),
            (1, "ééé déjà déjà vu"),
            (2, "ab ab ab ba"),
            (3, "x x x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges, seg = bpe_learn(df, n_merges=6)
    tok = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
           for r in bpe_token_counts(df, seg).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got_m = con.execute(bpe_sql(
        "SELECT doc_id, text FROM documents", n_merges=6)).fetchall()
    assert [(s, l, r, c) for s, l, r, c in got_m] == \
        [(m["step"], m["left"], m["right"], m["pair_count"])
         for m in merges]
    got_t = {r[0]: (r[1], r[2]) for r in con.execute(bpe_sql(
        "SELECT doc_id, text FROM documents", n_merges=6,
        out="doc_tokens")).fetchall()}
    assert got_t == tok


def test_word_histogram_drops_empties_and_null(spark, corpus):
    h = {r["word"]: r["cnt"] for r in word_histogram(corpus).collect()}
    assert "" not in h
    assert h["low"] == 6 and h["newest"] == 6 and h["spaced"] == 1
