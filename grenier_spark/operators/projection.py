"""Low-rank projection of embedding columns via the Frequent Directions
sketch (streaming PCA for the training-data pipeline: compress/whiten an
``array<float>`` embedding column to ``r`` coordinates before ANN,
clustering or storage).

Shape at 100 TB: ONE pass over the vectors builds the per-group FD sketch
(``operators.sketch_build.build_sketches`` — mapInArrow partials,
vector-scale data never shuffles); the sketch rows (KB per group) come to
the driver, an SVD of each B yields the top-``r`` orthonormal directions,
and the projection itself is a broadcast matmul inside a vectorized
pandas UDF — again no vector shuffle, no iteration. Contrast with
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
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

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
    coordinate energy never exceeds the vector's).

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

    if group_col is None:
        V = dirs.get((), np.empty((0, dim)))

        @pandas_udf("struct<coords: array<double>, norm2: double, "
                    "resid: double>")
        def _proj(vs: pd.Series) -> pd.DataFrame:
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
            if X.size == 0:
                X = X.reshape(0, dim)
            C = X @ V.T
            n2 = (X * X).sum(axis=1)
            return pd.DataFrame({"coords": list(C),
                                 "norm2": n2,
                                 "resid": n2 - (C * C).sum(axis=1)})

        out = vectors.select(id_col, _proj(F.col(vec_col)).alias("p"))
        return out.select(id_col, "p.coords", "p.norm2", "p.resid")

    @pandas_udf("struct<coords: array<double>, norm2: double, "
                "resid: double>")
    def _proj_g(gs: pd.Series, vs: pd.Series) -> pd.DataFrame:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        if X.size == 0:
            X = X.reshape(0, dim)
        n2 = (X * X).sum(axis=1) if len(X) else np.empty(0)
        coords = [None] * len(X)
        cap = np.zeros(len(X))
        garr = gs.to_numpy()
        # vectorize per distinct group in the batch: one matmul per group
        for g in pd.unique(garr):
            m = garr == g
            Vg = dirs.get((g,))
            if Vg is None or not len(Vg):
                for i in np.flatnonzero(m):
                    coords[i] = np.empty(0)
                continue
            Cg = X[m] @ Vg.T
            for i, row in zip(np.flatnonzero(m), Cg):
                coords[i] = row
            cap[m] = (Cg * Cg).sum(axis=1)
        return pd.DataFrame({"coords": coords, "norm2": n2,
                             "resid": n2 - cap})

    out = vectors.select(id_col, group_col,
                         _proj_g(F.col(group_col), F.col(vec_col))
                         .alias("p"))
    return out.select(id_col, group_col, "p.coords", "p.norm2", "p.resid")


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
        bounds.append((g, tail, prod.delta, prod.fnorm2))
    spark = vectors.sparkSession
    bdf = spark.createDataFrame(
        pd.DataFrame(bounds,
                     columns=[group_col, "tail_r", "delta", "fnorm2"]))

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
