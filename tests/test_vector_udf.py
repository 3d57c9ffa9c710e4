"""The embedding UDFs on one Arrow vector reader (``_udf.vector_udf``):
NULL embedding in gives NULL out for every ported operator, ragged vectors
and NULL quantizer samples fail naming the column, wordless SimHash
documents get no fingerprint, and a source guard keeps per-row pandas
bodies out of the ported modules."""

import inspect
import re

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from grenier_spark.functions._udf import read_vectors, vector_udf, write
from grenier_spark.operators import dedup, projection, similarity
from test_dedup_similarity import SF   # the sf0.01 fixture tables

NULL_ID = 1_000_000   # above every fixture id: never in a lowest-id sample


# --- the reader and writer, Spark-free ------------------------------------

def test_read_vectors_one_matrix_and_ragged_error():
    a = pa.array([[1.0, 2.0], [3.0, None]], pa.list_(pa.float32()))
    X = read_vectors(a, "emb")
    assert X.dtype == np.float64 and X.shape == (2, 2)
    assert X[0].tolist() == [1.0, 2.0] and np.isnan(X[1, 1])
    assert read_vectors(pa.array([], pa.list_(pa.float64())), "e").shape \
        == (0, 0)
    with pytest.raises(ValueError, match=r"'emb'.*\[1, 3\].*length 1"):
        read_vectors(pa.array([[1.0], [1.0, 2.0, 3.0]]), "emb")
    with pytest.raises(ValueError, match=r"'emb'.*\[2\].*length 3"):
        read_vectors(a, "emb", 3)


def test_vector_udf_writes_every_declared_shape_with_null_rows():
    a = pa.array([[1.0, 2.0], None, [3.0, 4.0]], pa.list_(pa.float32()))

    def run(out, fn, *extra):
        return vector_udf("unused", fn, "emb", 2).batch(out, a, *extra) \
            .to_pylist()

    assert run(pa.float64(), lambda X: X.sum(axis=1)) == [3.0, None, 7.0]
    assert run(pa.list_(pa.int32()), lambda X: X.astype(int)) == \
        [[1, 2], None, [3, 4]]
    assert run(pa.list_(pa.list_(pa.float64())),
               lambda X: np.stack([X, -X], axis=1)) == \
        [[[1.0, 2.0], [-1.0, -2.0]], None, [[3.0, 4.0], [-3.0, -4.0]]]
    st = pa.struct([("c", pa.list_(pa.float64())), ("n", pa.int64())])
    got = run(st, lambda X, g: ((X[:, 0], np.ones(len(X), int)), g),
              pa.array([5, 6, None], pa.int64()))
    # extra columns arrive on the valid rows; a NULL in any argument
    # gives a NULL row (row 2 has a NULL group)
    assert got == [{"c": [1.0], "n": 5}, None, None]
    none = vector_udf("x", lambda X: 1 / 0, "emb", 2).batch(
        pa.float64(), pa.array([None], a.type))
    assert none.to_pylist() == [None]   # no valid row: fn is not called
    assert write(np.zeros((0, 3)), np.zeros(0, bool),
                 pa.list_(pa.float64())).to_pylist() == []


# --- operators over the fixture plus one NULL embedding -------------------

@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_null(spark, emb):
    return emb.unionByName(
        spark.createDataFrame([(NULL_ID, None, 0)], emb.schema))


def _queries(df):
    return (df.where(F.col("vec_id").isin(0, 1, 2, NULL_ID))
            .select(F.col("vec_id").alias("query_id"), "embedding"))


def _topk(fn):
    def run(v):
        return fn(v, _queries(v))
    return run


OPERATORS = {
    "lsh_topk": _topk(lambda v, q: similarity.lsh_topk(
        v, q, k=5, bands=16, band_bits=4)),
    "lsh_topk_rademacher": _topk(lambda v, q: similarity.lsh_topk_rademacher(
        v, q, k=5, bands=16, band_bits=4, dim=64)),
    "ivf_topk": _topk(lambda v, q: similarity.ivf_topk(
        v, q, k=5, n_centroids=8, n_probe=2)),
    "pq_topk_adc": _topk(lambda v, q: similarity.pq_topk(
        v, q, k=5, m=4, ksub=16, dim=64)),
    "pq_topk_shortlist": _topk(lambda v, q: similarity.pq_topk(
        v, q, k=5, m=4, ksub=16, shortlist=50, dim=64)),
    "ivfpq_topk": _topk(lambda v, q: similarity.ivfpq_topk(
        v, q, k=5, n_centroids=8, n_probe=4, m=4, ksub=16, shortlist=50,
        dim=64)),
    "semdedup": lambda v: similarity.semdedup(v, tau=0.9, n_centroids=8),
    "fd_project": lambda v: projection.fd_project(v, r=4, ell=8, dim=64),
    "fd_project_grouped": lambda v: projection.fd_project(
        v, r=4, ell=8, dim=64, group_col="label"),
}


@pytest.mark.parametrize("name", list(OPERATORS))
def test_null_embedding_gives_null_and_leaves_other_rows(emb, emb_null,
                                                         name):
    """One NULL embedding among the fixture's: it is nobody's neighbour and
    gets no neighbours (top-k), NULL cell (semdedup) or NULL coordinates
    (fd_project), and every other row's output equals the run without it.
    Before the Arrow reader it raised numpy's inhomogeneous-shape error."""
    run = OPERATORS[name]
    got = run(emb_null).toPandas()
    want = run(emb).toPandas()
    idc = "query_id" if "query_id" in got else "vec_id"
    mine = (got[idc] == NULL_ID) | (got["vec_id"] == NULL_ID)
    if name == "semdedup":
        row = got[mine].iloc[0]
        assert len(got[mine]) == 1 and row.kept and np.isnan(row.cell)
    elif name.startswith("fd_project"):
        row = got[mine].iloc[0]
        assert len(got[mine]) == 1 and row.coords is None
        assert np.isnan(row.norm2) and np.isnan(row.resid)
    else:
        assert not mine.any()
    rest = got[~mine]
    key = [c for c in ("query_id", "rank", "vec_id") if c in got]
    rest = rest.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    if name.startswith("fd_project"):
        assert np.array_equal(np.vstack(rest.coords), np.vstack(want.coords))
        rest, want = rest.drop(columns="coords"), want.drop(columns="coords")
    assert rest.astype(want.dtypes).equals(want), (rest, want)


def test_ragged_vectors_and_null_samples_name_the_column(spark):
    ragged = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0, 0.5])], "vec_id long, emb "
        "array<float>")
    q = ragged.select(F.col("vec_id").alias("query_id"), "emb")
    with pytest.raises(ValueError, match=r"'emb'.*\[2, 3\]"):
        similarity.ivf_topk(ragged, q, n_centroids=2, vec_col="emb")
    with pytest.raises(Exception, match=r"vector column 'emb'"):
        similarity.lsh_topk(ragged, q, bands=2, band_bits=2, dim=2,
                            vec_col="emb").collect()
    nulls = spark.createDataFrame(
        [(0, None), (1, [0.0, 1.0]), (2, [1.0, 0.0])],
        "vec_id long, emb array<float>")
    with pytest.raises(ValueError, match=r"'emb' has a NULL"):
        similarity.ivf_refine_centroids(nulls, n_centroids=2, vec_col="emb")


def test_dim_of_reads_first_non_null_vector(spark):
    df = spark.createDataFrame([(0, None), (1, [1.0, 2.0, 3.0])],
                               "vec_id long, emb array<float>")
    assert similarity._dim_of(df, "emb", None) == 3
    assert similarity._dim_of(df, "emb", 7) == 7
    for empty in (df.where("vec_id = 0"), df.limit(0)):
        with pytest.raises(ValueError, match="'emb'"):
            similarity._dim_of(empty, "emb", None)


# --- SimHash of a document with no words ----------------------------------

def test_wordless_documents_get_no_fingerprint_and_no_pairs(spark):
    """NULL, empty and separator-only texts have no fingerprint: before,
    they all got fingerprint 0 and paired with each other (4 of them
    gave 6 pairs at Hamming distance 0)."""
    real = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, real), (2, real), (3, "an unrelated text about spark"),
            (10, ""), (11, "   "), (12, None), (13, " ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.simhash64(df)
    pairs = {(r.id_a, r.id_b) for r in
             dedup.simhash_candidates(fps).collect()}
    assert pairs == {(1, 2)}
    fps = fps.toPandas().set_index("doc_id").simhash
    assert fps.loc[[10, 11, 12, 13]].isna().all()
    assert fps.loc[[1, 2, 3]].notna().all()


# --- source guard ---------------------------------------------------------

ROW_LOOP = re.compile(r"for \w+ in (vs\b|pdf\[)|\.iloc\b")


@pytest.mark.parametrize("src", ["similarity", "projection", "simhash64"])
def test_vector_bodies_read_arrow_not_rows(src):
    """The embedding and SimHash bodies read Arrow through the one vector
    reader: no pandas UDF, no mapInPandas, and no array built by a
    comprehension over a pandas batch's rows."""
    code = inspect.getsource({"similarity": similarity,
                              "projection": projection,
                              "simhash64": dedup.simhash64}[src])
    for banned in ("pandas_udf", "mapInPandas", "import pandas"):
        assert banned not in code, f"{src} uses {banned}"
    hit = ROW_LOOP.search(code)
    assert hit is None, f"{src} loops over rows: {hit.group(0)!r}"
