"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force baseline: broadcast the query vectors,
  fold dot products JVM-side (zip_with + aggregate, whole-stage codegen),
  salt-split bounded top-k per query. Exact; O(n_queries * n_vectors) but fully
  distributed and shuffle-light (only top-k rows move).
* ``lsh_topk`` — the scale path: random-hyperplane LSH (Charikar 2002).
  Deterministic seeded hyperplanes -> sign-bit signature -> multi-probe via
  B independent band tables -> candidates = bucket-join (shuffle on bucket
  id only) -> exact cosine re-rank of candidates. Recall tuned by
  (n_planes, bands); asserted >= 0.9 vs brute force in tests.
* ``lsh_topk_rademacher`` (over ``rademacher_planes``), ``ivf_topk`` (+
  ``ivf_refine_centroids``), ``pq_codebooks`` / ``pq_encode`` / ``pq_topk``
  and ``ivfpq_topk`` — the other ANN paths; ``cosine_neardup_pairs``,
  ``semdedup`` and ``label_centroid_confusion`` — near-dups and eval.

Every Python body reads vectors through ``functions._udf.read_vectors``
(the UDFs are ``vector_udf``): a NULL embedding gives NULL out, so it
joins nothing and is nobody's neighbour.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions._udf import read_vectors, vector_udf, write


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y:
                                  x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _cos(a, b):
    """Cosine similarity, NULL when either operand has zero norm: 0/0
    would be NaN, which Spark ranks ABOVE every real score under desc()
    — a single all-zero embedding (failed encoder, padding doc) would
    otherwise surface as the rank-1 neighbor of every query and pass any
    ``>= tau`` filter. NULLs sort last under desc() and fail ``>=``, so
    zero vectors simply never match (the guard ivf_topk's numpy path
    already had)."""
    na, nb = _dot(a, a), _dot(b, b)
    return F.when((na > 0) & (nb > 0),
                  _dot(a, b) / (F.sqrt(na) * F.sqrt(nb)))


def _rerank_topk(cands, k: int, qid_col: str, id_col: str,
                 round6: bool = False, cos=None):
    """Shared exact re-rank tail: per-query top-k by cosine desc (NULLs
    excluded), ties by id. ``round6`` ranks by the round-6 cosine
    (cross-engine contract of the rademacher/IVF paths); ``cos`` replaces
    :func:`_cos` of ``_v`` and ``_qv`` (IVF's zero-norm guard). The ranking is
    the salt-split bounded min-K (:func:`_bounded_topk`) on the NEGATED
    cosine — an exact sign flip, so the ordering rule is identical to the
    row_number window it replaces, but one query's candidate set (the
    whole corpus, in the brute-force baseline) never lands in one task."""
    cos = _cos("_v", "_qv") if cos is None else cos
    cos = F.round(cos, 6) if round6 else cos
    scored = (cands.select(qid_col, id_col, cos.alias("cos_sim"))
              .where(F.col("cos_sim").isNotNull())
              .select(qid_col, id_col, (-F.col("cos_sim")).alias("_nc")))
    top = _bounded_topk(scored, qid_col, id_col, "_nc", k)
    return top.select(qid_col, id_col,
                      (-F.col("_nc")).alias("cos_sim"), "rank")


def _lsh_topk(vectors, queries, planes: np.ndarray, bands: int,
              band_bits: int, round6: bool, k: int, id_col: str,
              vec_col: str, qid_col: str):
    """The LSH path: ALL band buckets of a vector in one Arrow pass (one
    matmul, ``(band << 32) | packed sign bits``), then candidate pairs
    sharing any bucket WITHOUT moving vector payloads: both sides
    bucketize to narrow (id, bucket) rows, so the join shuffles 16-byte
    pairs, not embeddings (~6 GB instead of ~200 GB at 1M x 768-d).
    ``round6`` rounds the projections before the > 0 test and ranks by
    the round-6 cosine (:func:`lsh_topk_rademacher`'s contract)."""
    weights = np.int64(1) << np.arange(band_bits, dtype=np.int64)
    tags = np.arange(bands, dtype=np.int64) << 32

    def buckets(X):
        acc = X @ planes.T
        bits = (np.round(acc, 6) if round6 else acc) > 0
        return (bits.reshape(len(X), bands, band_bits) @ weights) | tags

    bucket = vector_udf("array<long>", buckets, vec_col, planes.shape[1])
    v_b = vectors.select(
        F.col(id_col), F.explode(bucket(F.col(vec_col))).alias("bucket"))
    q_b = queries.select(
        F.col(qid_col), F.explode(bucket(F.col(vec_col))).alias("bucket"))
    pairs = (v_b.join(F.broadcast(q_b), "bucket")
             .select(qid_col, id_col)
             .dropDuplicates([qid_col, id_col]))
    return _rerank_pairs(pairs, vectors, queries, k, id_col, vec_col,
                         qid_col, round6)


def _rerank_pairs(pairs, vectors, queries, k: int, id_col: str,
                  vec_col: str, qid_col: str, round6: bool):
    """:func:`_rerank_topk` of candidate (query, vector) id pairs, their
    vector payloads joined back exactly once."""
    cands = (pairs
             .join(vectors.select(F.col(id_col),
                                  F.col(vec_col).alias("_v")), id_col)
             .join(F.broadcast(queries.select(F.col(qid_col),
                                              F.col(vec_col).alias("_qv"))),
                   qid_col))
    return _rerank_topk(cands, k, qid_col, id_col, round6)


def _dim_of(df: DataFrame, vec_col: str, dim: "int | None") -> int:
    """Embedding dimensionality without a driver job: honor an explicit
    ``dim=``, else read the fixed element count parquet statistics can't
    express from the first non-NULL vector (the probe is the documented
    fallback, not the default path — pass ``dim`` in hot loops)."""
    if dim is not None:
        return dim
    row = df.where(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
    if row is None:
        raise ValueError(f"vector column {vec_col!r} holds no non-NULL "
                         f"vector to read the dim from; pass dim=")
    return row[0]


def _norms1(X: np.ndarray) -> np.ndarray:
    """Row L2 norms, a zero norm read as 1 (the SQL twins' CASE WHEN
    norm = 0 THEN 1): an all-zero row then has cosine 0.0, not NaN."""
    n = np.sqrt((X * X).sum(axis=1))
    return np.where(n == 0, 1.0, n)


def _cos6(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Round-6 cosines of every row of ``X`` to every centroid of ``C``:
    the one cell-assignment score of IVF, SemDeDup and the Lloyd step."""
    return np.round((X @ C.T) / (_norms1(X)[:, None] * _norms1(C)[None, :]),
                    6)


def _lowest_ids(vectors: DataFrame, n: int, id_col: str,
                vec_col: str) -> np.ndarray:
    """The ``n`` lowest-id vectors as an ``(n', dim)`` float64 matrix, the
    sample every quantizer here starts from (the DuckDB oracles replay
    it). A NULL vector cannot train a centroid: it raises."""
    col = (vectors.orderBy(id_col).limit(n).select(vec_col).toArrow()
           .column(0).combine_chunks())
    if col.null_count:
        raise ValueError(f"vector column {vec_col!r} has a NULL among the "
                         f"{n} lowest-{id_col} rows that sample a quantizer")
    return read_vectors(col, vec_col)


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "query_id") -> DataFrame:
    """Exact top-k by cosine for every query row. Queries must be small
    enough to broadcast (they are, by construction of the problem)."""
    q = queries.select(F.col(qid_col), F.col(vec_col).alias("_qv"))
    j = (vectors.select(F.col(id_col), F.col(vec_col).alias("_v"))
         .crossJoin(F.broadcast(q)))
    return _rerank_topk(j, k, qid_col, id_col)


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "query_id", bands: int = 8, band_bits: int = 8,
             seed: int = 42, dim: "int | None" = None) -> DataFrame:
    """Approximate top-k: candidates from any shared (band, bucket), exact
    cosine re-rank of candidates only."""
    dim = _dim_of(vectors, vec_col, dim)
    planes = np.random.Generator(np.random.PCG64(seed)).standard_normal(
        (bands * band_bits, dim))
    return _lsh_topk(vectors, queries, planes, bands, band_bits, False, k,
                     id_col, vec_col, qid_col)


def cosine_neardup_pairs(vectors: DataFrame, tau: float = 0.9,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         allow_all_pairs: bool = False,
                         max_rows: int = 100_000) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (``id_a < id_b``,
    ``cos_sim >= tau``).

    All-pairs product — the EXACT baseline / verify stage. At scale,
    generate candidates with :func:`lsh_topk`'s bucket join (or any ANN
    blocking) and verify survivors with this same fold; the all-pairs form
    here is what the DuckDB oracle can mirror value-for-value. Dot products
    fold sequentially in float64 on both engines, so doubles agree
    bit-for-bit.

    GUARDED against accidental corpus-wide calls: inputs above ``max_rows``
    raise unless ``allow_all_pairs=True`` — a 10^8-row corpus here is a
    10^16-pair cartesian no cluster survives; :func:`semdedup` /
    :func:`lsh_topk` are the scale paths. The guard counts a
    ``limit(max_rows + 1)`` slice, so its work is bounded at max_rows+1
    rows even when the input is the very corpus it exists to refuse (a
    plain count() would fully materialize an expensive upstream lineage
    before raising).

    The caller's id type is preserved (casting to long would silently null
    non-numeric ids and return zero pairs — the pitfall
    :func:`..dedup.ngram_word_jaccard_pairs` documents).
    """
    if not allow_all_pairs:
        n = vectors.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"cosine_neardup_pairs is an ALL-PAIRS exact verify stage "
                f"(> {max_rows} rows -> >~{max_rows**2 // 2:.2g} pairs); "
                f"pass allow_all_pairs=True to override, or block "
                f"candidates first with lsh_topk/semdedup")
    dv = vectors.select(F.col(id_col).alias("id"),
                        F.transform(vec_col,
                                    lambda x: x.cast("double")).alias("v"))
    a = dv.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = dv.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    j = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = _cos("va", "vb")  # NULL for zero-norm rows -> fails >= tau
    return (j.select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
            .where(F.col("cos_sim") >= tau))


def _coarse_C(vectors: DataFrame, n_centroids: int,
              centroids: "np.ndarray | None", id_col: str,
              vec_col: str) -> np.ndarray:
    """The IVF coarse-quantizer matrix: the caller's ``centroids`` (e.g.
    from :func:`ivf_refine_centroids`), else the SAMPLED default — the
    ``n_centroids`` lowest-id vectors, deterministic and exactly
    reproducible in the DuckDB oracle (``sql_oracles.ann_ivf_sql``)."""
    if centroids is not None:
        return np.asarray(centroids, dtype=np.float64)
    return _lowest_ids(vectors, n_centroids, id_col, vec_col)


def _cell_udfs(C: np.ndarray, n_probe: int, vec_col: str):
    """(cell_of, probe_cells) UDFs over the coarse quantizer ``C``:
    round-6 cosine assignment (:func:`_cos6`; np.argmax takes the first
    maximum, so ties go to the lowest cell id) and the per-query n_probe
    nearest cells (stable argsort — equal rounded cosines keep ascending
    cell-id order), the oracle's ORDER BY cos6 DESC, cid ASC twins.
    The zero-norm guard keeps NaN cosines, whose ordering differs between
    numpy argsort and DuckDB, out of both."""
    dim = C.shape[1]
    cell_of = vector_udf(
        "int", lambda X: np.argmax(_cos6(X, C), axis=1), vec_col, dim)
    probe_cells = vector_udf(
        "array<int>",
        lambda X: np.argsort(-_cos6(X, C), axis=1, kind="stable")[:, :n_probe],
        vec_col, dim)
    return cell_of, probe_cells


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "query_id",
             centroids: "np.ndarray | None" = None) -> DataFrame:
    """IVF-flat approximate top-k (inverted-file ANN — the second scale
    path alongside :func:`lsh_topk`): vectors are assigned to the cell of
    their nearest coarse centroid, queries probe their ``n_probe`` nearest
    cells, and only those cells' members are exactly re-ranked. Candidate
    generation is a cell-id equi-join — shuffle on the cell id only, never
    an all-pairs product.

    The default coarse quantizer is SAMPLED centroids: the ``n_centroids``
    lowest-id vectors (deterministic, and — unlike k-means iterates —
    exactly reproducible in the DuckDB oracle, ``sql_oracles.ann_ivf_sql``).
    Pass ``centroids`` (e.g. from :func:`ivf_refine_centroids`) to swap in
    a refined quantizer — the assignment/probe/re-rank plan is identical,
    only the broadcast matrix changes; recall at fixed n_probe improves
    when the data is clustered (asserted in
    tests/test_dedup_similarity.py::test_ivf_kmeans_refinement_beats_sampling).
    Cross-engine determinism is by round-6 quantization of assignment
    cosines (ties -> lowest cell id) and of the re-rank ordering, same
    contract as :func:`lsh_topk_rademacher`.
    """
    C = _coarse_C(vectors, n_centroids, centroids, id_col, vec_col)
    _cell_of, _probe_cells = _cell_udfs(C, n_probe, vec_col)

    v_cells = vectors.select(id_col, F.col(vec_col).alias("_v"),
                             _cell_of(F.col(vec_col)).alias("cell"))
    q_cells = (queries.select(qid_col, F.col(vec_col).alias("_qv"),
                              F.explode(_probe_cells(F.col(vec_col)))
                              .alias("cell")))
    cands = (v_cells.join(q_cells, "cell")
             .dropDuplicates([qid_col, id_col]))

    def _norm1(c):  # same zero-norm-to-1 guard as the numpy assignment path
        n = F.sqrt(_dot(c, c))
        return F.when(n == 0.0, F.lit(1.0)).otherwise(n)

    cos = _dot("_v", "_qv") / (_norm1("_v") * _norm1("_qv"))
    return _rerank_topk(cands, k, qid_col, id_col, round6=True, cos=cos)


def ivf_refine_centroids(vectors: DataFrame, n_centroids: int = 16,
                         n_iter: int = 5, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> np.ndarray:
    """Lloyd-refined IVF centroids (spherical k-means): start from the
    same deterministic sample :func:`ivf_topk` uses (the ``n_centroids``
    lowest-id vectors), then ``n_iter`` iterations of assign-to-nearest
    (max cosine) + recompute-as-mean.

    Distribution shape: each iteration is ONE pass over the vectors —
    ``mapInArrow`` emits per-batch partial (cell, count, per-dim sums)
    rows (n_centroids x (dim+1) doubles per batch, KB-sized), and the
    driver reduces the partials in numpy. No token/vector-scale shuffle;
    only sketch-sized partials move — the same two-level discipline as
    ``operators.sketch_build``. Empty cells keep their previous centroid,
    and NULL vectors are in no cell.

    The result is a drop-in for ``ivf_topk(centroids=...)``: same
    assignment semantics (round-6 cosine, argmax ties to lowest cell).
    """
    C = _lowest_ids(vectors, n_centroids, id_col, vec_col)
    schema = "cell int, cnt long, sums array<double>"
    vecs = vectors.select(vec_col).where(F.col(vec_col).isNotNull())

    def partials(batches, C):
        for b in batches:
            X = read_vectors(b.column(0), vec_col, C.shape[1])
            if not len(X):
                continue
            cells = np.argmax(_cos6(X, C), axis=1)
            cs = np.unique(cells)
            sums = np.stack([X[cells == c].sum(axis=0) for c in cs])
            yield pa.RecordBatch.from_arrays(
                [pa.array(cs, pa.int32()),
                 pa.array(np.bincount(cells)[cs], pa.int64()),
                 write(sums, np.ones(len(cs), dtype=bool),
                       pa.list_(pa.float64()))], ["cell", "cnt", "sums"])

    for _ in range(n_iter):
        agg = vecs.mapInArrow(lambda it, C=C: partials(it, C),
                              schema).toArrow()
        cells = agg.column("cell").to_numpy()
        cnt = agg.column("cnt").to_numpy()
        sums = read_vectors(agg.column("sums").combine_chunks(), "sums")
        newC = C.copy()
        for c in np.unique(cells):
            m = cells == c
            newC[c] = sums[m].sum(axis=0) / cnt[m].sum()
        C = newC
    return C


def rademacher_planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic ±1 hyperplanes from splitmix64 bit 0 — sign-random
    projections (Achlioptas 2003) with no RNG state, so the identical
    planes are reproducible as SQL literals."""
    from ..core.bits import splitmix64

    idx = np.arange(n_planes * dim, dtype=np.uint64)
    bits = splitmix64(np.uint64(seed) * np.uint64(1_000_003) + idx)
    return ((bits & np.uint64(1)).astype(np.int8) * 2 - 1).reshape(
        n_planes, dim)


def lsh_topk_rademacher(vectors: DataFrame, queries: DataFrame, k: int = 10,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        qid_col: str = "query_id", bands: int = 32,
                        band_bits: int = 4, seed: int = 42,
                        dim: "int | None" = None) -> DataFrame:
    """``lsh_topk`` with Rademacher (±1) hyperplanes whose entire path
    carries a SQL oracle (``sql_oracles.ann_rademacher_sql``).

    Cross-engine determinism is by QUANTIZATION, not summation order
    (DuckDB's ``list_inner_product`` does not reproduce a sequential fold
    bit-for-bit): sign bits come from projections ROUNDED to 6 dp before
    the > 0 test, and the re-rank orders by the round-6 cosine — so both
    engines agree unless a value sits within float-noise of a 1e-6 grid
    boundary (measure-zero in practice; the ULP-level discrepancies that DO
    occur between engines cannot flip a rounded comparison). One residual
    caveat for diagnosing a future oracle mismatch: numpy ``round`` is
    round-half-even (banker's) while DuckDB ``round()`` is
    half-away-from-zero, so a projection or cosine landing EXACTLY on a
    0.5e-6 tie rounds differently across engines and could flip a sign bit
    or rank — accepted as measure-zero. Plan shape
    matches lsh_topk: per-band buckets, bucket equi-join (shuffle on
    bucket only), exact cosine re-rank of candidates."""
    dim = _dim_of(vectors, vec_col, dim)
    planes = rademacher_planes(dim, bands * band_bits, seed).astype(
        np.float64)
    # quantize the sign test and the rank: engines may differ in the last
    # ulps of a sum, but not across a 1e-6 rounding boundary
    return _lsh_topk(vectors, queries, planes, bands, band_bits, True, k,
                     id_col, vec_col, qid_col)


def _l2_normalize(mat: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm (zero-norm rows unchanged — norm
    coerced to 1, the suite's standard guard), so squared L2 becomes
    2 - 2*cos and ADC ranks approximate the cosine ranking every other
    ANN path in this module uses."""
    return mat / _norms1(mat)[:, None]


def pq_codebooks(vectors: DataFrame, m: int = 4, ksub: int = 16,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: "int | None" = None) -> np.ndarray:
    """Product-quantization codebooks, shape ``(m, ksub, dim/m)``: the
    vector space is split into ``m`` contiguous subspaces and each gets
    ``ksub`` centroids. The default is SAMPLED codebooks — subspace j's
    centroids are the sub-chunks of the ``ksub`` lowest-id vectors,
    L2-NORMALIZED first (deterministic and exactly reproducible in the
    DuckDB oracle, ``sql_oracles.ann_pq_sql`` — the same sampled-quantizer
    discipline as :func:`ivf_topk`). Per-subspace Lloyd refinement is a
    drop-in replacement for the returned array (see
    :func:`ivf_refine_centroids` for the one-pass-per-iteration partials
    pattern)."""
    dim = _dim_of(vectors, vec_col, dim)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    S = _l2_normalize(_lowest_ids(vectors, ksub, id_col, vec_col))
    if len(S) < ksub:
        raise ValueError(f"need >= {ksub} vectors to sample codebooks, "
                         f"got {len(S)}")
    return np.stack([S[:, j * dsub:(j + 1) * dsub] for j in range(m)])


def pq_encode(vectors: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """PQ encoding: (``id_col``, codes array<int> of length m) — each
    L2-normalized subspace chunk mapped to its nearest codebook centroid
    by round-6 squared-L2 argmin (ties to the lowest code, np.argmin
    first-min == the oracle's ORDER BY d6 ASC, code ASC). Normalization
    makes squared L2 monotone in cosine, the ranking the rest of the
    suite uses; zero-norm vectors pass through unscaled.

    This is the 100-TB memory lever: m codes (m bytes at ksub<=256)
    replace 4*dim bytes per vector — 64x compression at dim=64/m=4 —
    so the search structure fits in RAM at corpus sizes where raw
    embeddings cannot."""
    return vectors.select(F.col(id_col),
                          _pq_udf(codebooks, vec_col, True)(F.col(vec_col))
                          .alias("codes"))


def _pq_udf(C: np.ndarray, vec_col: str, codes: bool):
    """PQ UDF over a vector's L2-normalized subspace chunks: per chunk j,
    the round-6 squared L2 distances to every centroid of codebook
    ``C[j]`` via the |x|^2 + |c|^2 - 2 x.c decomposition — the identical
    formula the SQL twin computes with list_inner_product, so engines
    agree to float noise and the round-6 grid absorbs it (the
    quantization contract of :func:`lsh_topk_rademacher`). The result is
    the m x ksub ADC lookup table (array<array<double>>) or, with
    ``codes``, each chunk's nearest code (array<int>; np.argmin first-min
    == the oracle's ORDER BY d6 ASC, code ASC)."""
    mm, _ksub, dsub = C.shape

    def d6(X):
        Xn = _l2_normalize(X)
        tabs = []
        for j in range(mm):
            sub = Xn[:, j * dsub:(j + 1) * dsub]
            xn, cn = (sub * sub).sum(axis=1), (C[j] * C[j]).sum(axis=1)
            tabs.append(np.round(
                xn[:, None] + cn[None, :] - 2.0 * (sub @ C[j].T), 6))
        tabs = np.stack(tabs, axis=1)   # (n, m, ksub)
        return np.argmin(tabs, axis=2) if codes else tabs

    return vector_udf("array<int>" if codes else "array<array<double>>",
                      d6, vec_col, mm * dsub)


def pq_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
            m: int = 4, ksub: int = 16, id_col: str = "vec_id",
            vec_col: str = "embedding", qid_col: str = "query_id",
            codebooks: "np.ndarray | None" = None,
            shortlist: int = 0, dim: "int | None" = None) -> DataFrame:
    """Product-quantization ANN top-k by asymmetric distance computation
    (ADC, Jegou et al. TPAMI 2011): vectors are PQ-encoded once (over
    L2-normalized chunks, so squared L2 == 2 - 2*cos and ADC approximates
    the cosine ranking); each query precomputes an m x ksub table of
    round-6 subspace distances to every centroid; a vector's approximate
    distance is the sum of m table lookups selected by its codes — no
    vector payload is read in the scan.

    ``shortlist=0`` returns the raw ADC ranking (``qid_col``, rank,
    ``id_col``, adc_dist). ``shortlist=r > 0`` is the production IVFADC
    shape: the ADC top-r per query is exactly re-ranked by round-6 cosine
    (ties by id; zero-norm vectors drop — NULL cosine), returning
    (``qid_col``, rank, ``id_col``, cos_sim); recall is then set by r,
    not by quantization error (>=0.9 asserted in tests on worst-case
    isotropic vectors at m=8, ksub=16, r=100).

    Plan shape: the encoded (id, codes) frame — m smallints per vector —
    cross-joins the BROADCAST queries (each carrying its distance table),
    the lookup-sum folds JVM-side (zip_with + element_at + aggregate,
    whole-stage codegen, no Python in the scan), and only narrow
    (qid, id, adc) rows reach the per-query top-k, which is the
    salt-split two-stage min-K (``_bounded_topk`` — no per-query window
    task, so one query scanning the whole corpus still parallelizes); the
    re-rank
    joins vector payloads back for shortlist rows only. At 100 TB the
    codes frame is the only corpus-scale input, ~m bytes/vector — the
    memory lever that lets the search structure live in RAM when raw
    embeddings cannot. Rank rule (round-6 asc, id asc) is deterministic
    cross-engine; full value oracle ``sql_oracles.ann_pq_sql`` covers
    BOTH modes. IVF cell routing (:func:`ivf_topk`) composes in front
    for IVF-PQ."""
    C = (pq_codebooks(vectors, m, ksub, id_col, vec_col, dim)
         if codebooks is None else np.asarray(codebooks, dtype=np.float64))
    enc = pq_encode(vectors, C, id_col, vec_col)
    q = queries.select(
        F.col(qid_col),
        _pq_udf(C, vec_col, False)(F.col(vec_col)).alias("_qtab"))
    return _adc_topk(enc.crossJoin(F.broadcast(q)), vectors, queries, k,
                     shortlist, id_col, vec_col, qid_col)


def _adc_topk(joined: DataFrame, vectors: DataFrame, queries: DataFrame,
              k: int, shortlist: int, id_col: str, vec_col: str,
              qid_col: str) -> DataFrame:
    """The ADC tail of :func:`pq_topk` and :func:`ivfpq_topk` over rows
    carrying ``codes`` and ``_qtab``: the ADC top-``k``, or the exact
    re-rank of the ADC top-``shortlist`` when ``shortlist > 0``. A NULL
    embedding's distance is NULL, which would sort first: it drops."""
    scores = (joined.select(qid_col, id_col, _adc_col().alias("adc_dist"))
              .where(F.col("adc_dist").isNotNull()))
    if shortlist <= 0:
        return _bounded_topk(scores, qid_col, id_col, "adc_dist", k)
    top = _bounded_topk(scores, qid_col, id_col, "adc_dist", shortlist)
    return _rerank_pairs(top.select(qid_col, id_col), vectors, queries, k,
                         id_col, vec_col, qid_col, True)


def _bounded_topk(rows: DataFrame, qid_col: str, id_col: str,
                  key_col: str, k: int, n_salts: int = 64) -> DataFrame:
    """Per-query top-``k`` by (``key_col`` asc, ``id_col`` asc) WITHOUT a
    per-query window: salt-split two-stage min-K (the exact_dup_groups
    shape). A row_number window puts ALL of one query's candidate rows in
    ONE task — for an ADC scan that is the whole corpus per query, which
    no cluster size fixes. Here stage 1 reduces each (query, salt) slice
    to its k smallest (key, id) structs, stage 2 merges the <=
    n_salts*k survivors per query, and ranks come from the final sorted
    array's positions — identical output ordering rule to the window it
    replaces (struct comparison is lexicographic). Buffer honesty:
    collect_list slices only AFTER aggregating, so a stage-1 task still
    buffers its (query, salt) slice ~N_cands/n_salts rows (spillable) —
    the salt bounds the per-task buffer and parallelizes the reduction
    n_salts-ways, it does not shrink the shuffled volume; raise
    ``n_salts`` for extreme candidate counts."""
    sk = F.struct(F.col(key_col), F.col(id_col))
    s1 = (rows.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)),
                                          F.lit(n_salts)))
          .groupBy(qid_col, "_salt")
          .agg(F.slice(F.sort_array(F.collect_list(sk)), 1, k)
               .alias("_a")))
    s2 = (s1.groupBy(qid_col)
          .agg(F.slice(F.sort_array(F.flatten(F.collect_list("_a"))),
                       1, k).alias("_a")))
    ex = s2.select(qid_col, F.posexplode("_a").alias("_pos", "_s"))
    return ex.select(qid_col,
                     F.col(f"_s.{id_col}").alias(id_col),
                     F.col(f"_s.{key_col}").alias(key_col),
                     (F.col("_pos") + 1).alias("rank"))


def _adc_col():
    """The ADC lookup-sum over (codes, _qtab): round-6 of the sum of m
    table entries selected by the vector's codes — pure JVM (zip_with +
    element_at + aggregate, whole-stage codegen)."""
    return F.round(F.aggregate(
        F.zip_with("codes", "_qtab",
                   lambda c, t: F.element_at(t, c + F.lit(1))),
        F.lit(0.0), lambda acc, x: acc + x), 6)


def ivfpq_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
               n_centroids: int = 16, n_probe: int = 4, m: int = 4,
               ksub: int = 16, shortlist: int = 50,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id",
               centroids: "np.ndarray | None" = None,
               codebooks: "np.ndarray | None" = None,
               dim: "int | None" = None) -> DataFrame:
    """IVF-PQ / IVFADC (Jegou et al. TPAMI 2011 §V): the composition of
    :func:`ivf_topk`'s coarse cell routing with :func:`pq_topk`'s ADC —
    the production shape at 10^9+ vectors, where BOTH levers are needed:
    the inverted file cuts the scanned fraction to ~n_probe/n_centroids,
    and the PQ codes cut the per-vector footprint to (4 + m) bytes
    (cell int + m codes), so the whole search structure lives in RAM
    while raw embeddings cannot.

    Plan shape: ONE pass over the vectors emits (id, cell, codes) — the
    payload never enters the index; queries broadcast with their probe
    cells and ADC tables; candidates come from a cell EQUI-join (a
    vector lives in exactly one cell, so no dedup is needed and never a
    cross-join); the ADC lookup-sum folds JVM-side; only the per-query
    ADC top-``shortlist`` rows join the vector payload back for the
    exact round-6 cosine re-rank (ties by id), so recall is set by
    (n_probe, shortlist), not quantization error. Both quantizers default
    to the SAMPLED (lowest-id) discipline; pass ``centroids`` /
    ``codebooks`` (e.g. :func:`ivf_refine_centroids`) for refined ones —
    the plan is identical, only the broadcast matrices change.

    Recall accounting vs :func:`pq_topk` ``shortlist`` mode: the IVF stage
    additionally excludes any true neighbor whose home cell is not probed
    — the standard IVFADC trade (gate query ann_ivfpq_topk asserts
    recall@10 against exact brute force)."""
    Cc = _coarse_C(vectors, n_centroids, centroids, id_col, vec_col)
    cell_of, probe_cells = _cell_udfs(Cc, n_probe, vec_col)
    CB = (pq_codebooks(vectors, m, ksub, id_col, vec_col, dim)
          if codebooks is None else np.asarray(codebooks, dtype=np.float64))
    v = vectors.select(
        F.col(id_col), cell_of(F.col(vec_col)).alias("cell"),
        _pq_udf(CB, vec_col, True)(F.col(vec_col)).alias("codes"))
    q = queries.select(
        F.col(qid_col),
        _pq_udf(CB, vec_col, False)(F.col(vec_col)).alias("_qtab"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"))
    return _adc_topk(v.join(F.broadcast(q), "cell"), vectors, queries, k,
                     shortlist, id_col, vec_col, qid_col)


def label_centroid_confusion(vectors: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             label_col: str = "label") -> DataFrame:
    """Embedding-space quality eval: nearest-label-centroid confusion
    matrix — (label, pred_label, n) where pred_label is the label whose
    centroid has the highest cosine to the vector (round-6, ties to the
    lowest label). The diagonal mass measures how well the embedding
    clusters by label (encoder regression check for a training-data
    pipeline).

    Cross-engine agreement is two-layered: the centroid INPUTS are exact —
    per-(label, dim) means from the double-double sum riding
    ``build_sketches`` (reference grenier doubledouble/doubledouble.ml:1-120
    semantics; equal to DuckDB ``fsum`` to the last ulp) — and the argmax
    compares cosines QUANTIZED to 6 dp (ties to the lowest label), the same
    round-6 contract as :func:`lsh_topk_rademacher`, whose docstring
    records why quantization (not summation order — DuckDB's
    ``list_inner_product`` is not a bit-exact sequential fold) is the
    mechanism and what the measure-zero grid-boundary caveat is.

    Scale posture at 100 TB: the exploded (label, dim, value) stream is
    map-side combined into n_labels x dim double-double cells (KB-sized;
    the same two-level merge as every sketch build — vectors themselves
    never shuffle), centroids broadcast back, and the per-vector argmax is
    one max(struct) aggregate exchanging a single narrow row per vector.
    """
    from ..functions import ddsum_col
    from .sketch_build import SketchSpec, build_sketches

    cells = (vectors.select(
        F.col(label_col).cast("long").alias("clabel"),
        F.posexplode(F.transform(vec_col, lambda x: x.cast("double")))
        .alias("dim", "val")))
    cent_cells = build_sketches(cells, [SketchSpec.of("c", "ddsum", "val")],
                                group_cols=["clabel", "dim"])
    cents = (cent_cells
             .select("clabel", "dim",
                     (ddsum_col("sketch") / F.col("n_values")).alias("m"))
             .groupBy("clabel")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("dim", "m"))),
                 lambda s: s.getField("m")).alias("cv")))
    asg = (vectors.select(F.col(id_col).alias("id"),
                          F.col(label_col).cast("long").alias("label"),
                          F.transform(vec_col, lambda x: x.cast("double"))
                          .alias("v"))
           .crossJoin(F.broadcast(cents)))
    cos6 = F.round(_cos("v", "cv"), 6)
    # argmax by (cos6 desc, clabel asc) as one map-side-combinable
    # max(struct): lexicographic max of (cos6, -clabel) — no per-id window
    best = (asg.select("id", "label",
                       F.struct(cos6.alias("c"),
                                (-F.col("clabel")).alias("neg")).alias("s"))
            .where(F.col("s.c").isNotNull())  # zero-norm vectors: no vote
            .groupBy("id", "label").agg(F.max("s").alias("b")))
    return (best.select("label", (-F.col("b.neg")).alias("pred_label"))
            .groupBy("label", "pred_label")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("label", "pred_label", F.col("n").cast("long").alias("n")))


def semdedup(vectors: DataFrame, tau: float = 0.9, n_centroids: int = 16,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: "np.ndarray | None" = None,
             max_iter: int = 20) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication
    by coarse clustering + WITHIN-cluster cosine near-dup grouping — the
    embedding-space analog of MinHash LSH banding. Every vector is
    assigned to the cell of its nearest coarse centroid (exactly
    :func:`ivf_topk`'s quantizer: round-6 cosine argmax, ties to the
    lowest cell id); near-dup edges are exact round-6 cosines >= ``tau``
    computed ONLY between same-cell pairs; edges close transitively into
    clusters via :func:`..dedup.connected_components`, and the lowest id
    of each cluster is the kept representative.

    Cross-cell near-dups are invisible by design — that is SemDeDup's
    approximation (the paper prunes within k-means clusters only) and
    what makes it scale: the pairwise stage is a cell-id equi-self-join,
    cost sum over cells of |cell|^2 instead of N^2. At 100 TB the
    centroids come from :func:`ivf_refine_centroids` with
    ``n_centroids ~ N / target_cell_size``, keeping every cell's
    quadratic stage bounded; the default SAMPLED centroids (lowest-id
    vectors) are what the DuckDB oracle (``sql_oracles.semdedup_sql``)
    can reproduce value-for-value.

    Zero-norm vectors: cell assignment treats their cosine as exactly 0.0
    (norm coerced to 1, :func:`ivf_topk`'s guard); the near-dup cosine is
    NULL for them (:func:`_cos`), so they never edge — each survives as
    its own singleton. Both mirrored in the SQL twin.

    Returns (``id_col``, cell INT, component_id, kept BOOL), one row per
    input vector. OWNERSHIP: the result is persisted (the component loop
    materialized it); ``.unpersist()`` it when done.
    """
    from .dedup import connected_components

    C = _coarse_C(vectors, n_centroids, centroids, id_col, vec_col)
    _cell_of, _ = _cell_udfs(C, 1, vec_col)

    # persisted: feeds both sides of the self-join, the node list and the
    # final output join — without the cache the assignment UDF re-runs 4x
    v_cells = (vectors.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        _cell_of(F.col(vec_col)).alias("cell"))).persist()
    a = v_cells.select("cell", F.col("id").alias("id_a"),
                       F.col("v").alias("va"))
    b = v_cells.select("cell", F.col("id").alias("id_b"),
                       F.col("v").alias("vb"))
    pairs = (a.join(b, "cell")
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.round(_cos("va", "vb"), 6).alias("cos_sim"))
             .where(F.col("cos_sim") >= tau))
    cc = connected_components(pairs.select("id_a", "id_b"),
                              nodes=v_cells.select("id"),
                              max_iter=max_iter)
    out = (v_cells.select("id", "cell")
           .join(cc, "id")
           .select(F.col("id").alias(id_col),
                   F.col("cell").cast("int").alias("cell"),
                   "component_id",
                   (F.col("id") == F.col("component_id")).alias("kept"))
           .persist())
    out.count()  # materialize before releasing the inputs it was built on
    v_cells.unpersist()
    cc.unpersist()
    return out
