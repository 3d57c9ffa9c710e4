"""Low-rank projection of embedding columns via the Frequent Directions
sketch (streaming PCA for the training-data pipeline: compress/whiten an
``array<float>`` embedding column to ``r`` coordinates before ANN,
clustering or storage).

Shape at 100 TB: ONE pass over the vectors builds the per-group FD sketch
(``operators.sketch_build.build_sketches`` — mapInArrow partials,
vector-scale data never shuffles); the sketch rows (KB per group) come to
the driver, an SVD of each B yields the top-``r`` orthonormal directions,
and the projection itself is a broadcast matmul inside an Arrow vector
UDF (``functions._udf.vector_udf``) — again no vector shuffle, no
iteration. Contrast with
iterative PCA (many passes) or a gram-matrix build (dim² shuffle).

Quality is NOT heuristic: Frequent Directions carries deterministic
projection guarantees (Ghashami-Liberty-Phillips-Woodruff, SICOMP 2016,
Thm 1.1; same kernel as core/freqdirs.py). With ``delta`` the accumulated
shrinkage, ``tail_r = ||A - A_r||_F^2`` the exact optimal rank-``r``
residual, and ``resid = ||A - pi_{B,r}(A)||_F^2`` the realized one:

* resid <= tail_r + r * delta          (eigenvalue-interlacing form)
* resid <= tail_r * ell / (ell - r)    (via (ell - r) * delta <= tail_r)

Both are asserted per group by the ``fd_projection_quality`` gate query
against the exact ``tail_r`` from the lossless ``ell = dim`` twin sketch.

Reference analog: the mergeable-summary discipline of countish
(lossy.ml:14-54) applied to the second-moment payload; no direct
reference operator (grenier has no matrix sketch) — this is the
LLM-pipeline extension axis.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions._udf import vector_udf
from .sketch_build import SketchSpec, build_sketches, get_kind


def fd_directions(blob: bytes, r: int) -> "tuple[np.ndarray, np.ndarray]":
    """Top-``r`` orthonormal directions (rows of V_r, shape (r', dim)) and
    their energies (squared singular values of B) from a serialized FD
    state. r' = min(r, rows(B)) — a group with fewer observed directions
    yields fewer; deterministic given the sketch bytes."""
    fd = get_kind("fd").load(blob)
    if not len(fd.B):
        return (np.empty((0, fd.dim)), np.empty(0))
    _u, s, vt = np.linalg.svd(fd.B, full_matrices=False)
    r_eff = min(r, vt.shape[0])
    return vt[:r_eff], s[:r_eff] ** 2


def fd_project(vectors: DataFrame, r: int = 8, ell: int = 32,
               dim: int = 64, group_col: "str | None" = None,
               id_col: str = "vec_id", vec_col: str = "embedding",
               sketches: "dict | None" = None) -> DataFrame:
    """Project each vector onto the top-``r`` FD directions of its group
    (global when ``group_col`` is None).

    Returns ``id_col [, group_col], coords array<double>, norm2 double,
    resid double`` with ``norm2 = ||x||^2`` and
    ``resid = ||x||^2 - ||coords||^2 >= 0`` (V_r is orthonormal, so the
    coordinate energy never exceeds the vector's). A group with no
    directions gets empty ``coords``; a NULL vector (or group) gets a NULL
    ``coords``, ``norm2`` and ``resid``.

    Pass ``sketches`` ({group_key: fd_bytes}, group_key () when global)
    to reuse an existing build; otherwise one build pass runs here.
    """
    gcols = [group_col] if group_col else []
    if sketches is None:
        built = build_sketches(
            vectors, [SketchSpec.of("fd", "fd", vec_col, ell=ell, dim=dim)],
            group_cols=gcols)
        sketches = {
            (tuple(row[c] for c in gcols) if gcols else ()):
            bytes(row["sketch"]) for row in built.collect()}  # KB rows
    dirs = {k: fd_directions(b, r)[0] for k, b in sketches.items()}
    empty = np.empty((0, dim))

    def project(X, *g):
        # the global case is the grouped one with the single key (); each
        # group's coordinates come from one matmul and land in place in
        # the flat coords buffer (row i's run ends at ends[i])
        if g:
            keys, inv = np.unique(g[0], return_inverse=True)
            keys = [(k,) for k in keys.tolist()]
        else:
            keys, inv = [()], np.zeros(len(X), dtype=np.int64)
        V = [dirs.get(k, empty) for k in keys]
        lens = np.array([len(v) for v in V], dtype=np.int64)[inv]
        ends = np.cumsum(lens)
        flat = np.empty(ends[-1] if len(ends) else 0)
        cap = np.zeros(len(X))
        for c, Vc in enumerate(V):
            m = inv == c
            Cg = X[m] @ Vc.T
            flat[(ends[m] - len(Vc))[:, None] + np.arange(len(Vc))] = Cg
            cap[m] = (Cg * Cg).sum(axis=1)
        n2 = (X * X).sum(axis=1)
        return (flat, lens), n2, n2 - cap

    proj = vector_udf("struct<coords: array<double>, norm2: double, "
                      "resid: double>", project, vec_col, dim)
    out = vectors.select(id_col, *gcols,
                         proj(vec_col, *gcols).alias("p"))
    return out.select(id_col, *gcols, "p.coords", "p.norm2", "p.resid")


def fd_projection_quality(vectors: DataFrame, r: int = 8, ell: int = 32,
                          dim: int = 64, group_col: str = "label",
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Per-group projection-quality report riding the GLPW16 deterministic
    bounds (module docstring) — the verification surface for
    :func:`fd_project`.

    One build pass produces BOTH the production sketch (``ell``) and its
    lossless twin (``ell = dim`` — never evicts, so its eigenvalues are
    the exact squared singular values of A and ``tail_r`` is exact); the
    projection pass then aggregates realized residual energy per group.

    Emits per group: exact ``n_vecs`` (engine-independent), ``r_dims``,
    and booleans computed from the REAL distributed state:

    * ``energy_ok``      — sum ||x||^2 == sketch fnorm2 (mass bookkeeping)
    * ``resid_nonneg_ok``— no row's coordinate energy exceeds its norm
    * ``interlace_ok``   — resid <= tail_r + r * delta
    * ``oblivious_ok``   — resid <= tail_r * ell / (ell - r)
    """
    if not (0 < r < ell <= dim):
        raise ValueError(f"need 0 < r < ell <= dim, got {(r, ell, dim)}")
    built = build_sketches(
        vectors,
        [SketchSpec.of("fd", "fd", vec_col, ell=ell, dim=dim),
         SketchSpec.of("fdx", "fd", vec_col, ell=dim, dim=dim)],
        group_cols=[group_col])
    rows = built.collect()  # 2 KB-sized rows per group
    sk = {(row[group_col],): bytes(row["sketch"]) for row in rows
          if row["sketch_name"] == "fd"}
    bounds = []
    for row in rows:
        if row["sketch_name"] != "fdx":
            continue
        g = row[group_col]
        twin = get_kind("fd").load(bytes(row["sketch"]))
        evals = np.sort(np.linalg.eigvalsh(twin.gram()))[::-1]
        tail = float(evals[r:].sum())  # exact ||A - A_r||_F^2
        prod = get_kind("fd").load(sk[(g,)])
        bounds.append((g, tail, float(prod.delta), float(prod.fnorm2)))
    bdf = vectors.sparkSession.createDataFrame(
        bounds, [group_col, "tail_r", "delta", "fnorm2"])

    proj = fd_project(vectors, r=r, ell=ell, dim=dim, group_col=group_col,
                      id_col=id_col, vec_col=vec_col, sketches=sk)
    agg = (proj.groupBy(group_col)
           .agg(F.count(F.lit(1)).alias("n_vecs"),
                F.sum("resid").alias("resid_f2"),
                F.sum("norm2").alias("norm2_f2"),
                F.min(F.col("resid") + F.lit(1e-9) * F.col("norm2"))
                .alias("min_resid_slack"),
                F.max(F.size("coords")).alias("r_dims")))
    tol = F.lit(1e-8) * F.col("fnorm2")
    return (agg.join(F.broadcast(bdf), group_col)
            .select(F.col(group_col).cast("long").alias(group_col),
                    F.col("n_vecs").cast("long").alias("n_vecs"),
                    F.col("r_dims").cast("long").alias("r_dims"),
                    (F.abs(F.col("norm2_f2") - F.col("fnorm2")) <= tol)
                    .alias("energy_ok"),
                    (F.col("min_resid_slack") >= 0).alias("resid_nonneg_ok"),
                    (F.col("resid_f2")
                     <= F.col("tail_r") + r * F.col("delta") + tol)
                    .alias("interlace_ok"),
                    (F.col("resid_f2")
                     <= F.col("tail_r") * (ell / (ell - r)) + tol)
                    .alias("oblivious_ok"))
            .orderBy(group_col))
