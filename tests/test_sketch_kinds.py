"""The sketch-kind table (operators/sketch_build.KINDS): every registered
kind builds, serializes, loads and merges through its table row alone, and
the grouped-aggregate surface accepts exactly the registered kinds."""

import warnings

import numpy as np
import pytest

from grenier_spark.operators.sketch_build import (KINDS, ROWS, SketchSpec,
                                                  get_kind)

# small sizes; kinds without an entry take the table defaults
PARAMS = {"hll": {"p": 10}, "cms": {"depth": 3, "width": 256},
          "csk": {"depth": 3, "width": 256}, "bloom": {"m": 4096, "k": 3},
          "kmv": {"k": 32}, "mh": {"k": 16}, "mg": {"k": 16},
          "ckf": {"n_buckets": 1024}, "kll": {"k": 32},
          "tdigest": {"delta": 50}, "req": {"k": 8}, "dd": {"alpha": 0.02},
          "fd": {"ell": 3, "dim": 4}, "dw": {"alpha": 0.02}, "ps": {"k": 5}}


def _stream(kind, rng, n=3000):
    """A small input of the kind's input class, as its update takes it."""
    inp = KINDS[kind].input
    if inp is ROWS:
        w = rng.integers(1, 50, n)
        if kind == "dw":
            return np.rec.fromarrays([rng.gamma(2.0, 10.0, n), w])
        ids = rng.permutation(10 * n)[:n]
        return np.rec.fromarrays([ids, w, w / rng.uniform(1e-9, 1.0, n)])
    if inp.dtype is np.int64:
        return rng.integers(0, 1 << 20, n).astype(np.int64)
    if kind == "fd":
        return rng.normal(size=n * PARAMS["fd"]["dim"])
    return rng.gamma(2.0, 10.0, n)


def test_every_kind_builds_serializes_loads_and_merges():
    rng = np.random.default_rng(11)
    for name, kind in KINDS.items():
        params = PARAMS.get(name, {})
        x = _stream(name, rng)
        cut = len(x) // 2
        if name == "fd":
            cut -= cut % params["dim"]
        parts = []
        for piece in (x[:cut], x[cut:]):
            st = kind.new(params)
            kind.update(st, piece)
            blob = getattr(st, "to_partial_bytes", st.to_bytes)()
            assert kind.load(blob).to_bytes() == st.to_bytes(), name
            parts.append(blob)
        merged = kind.merge(parts)
        assert kind.load(merged).to_bytes() == merged, name
        if kind.exact_merge:
            whole = kind.new(params)
            kind.update(whole, x)
            assert merged == whole.to_bytes(), name


def test_unknown_kind_is_rejected():
    with pytest.raises(ValueError, match="unknown sketch kind"):
        get_kind("nope")
    with pytest.raises(ValueError, match="unknown sketch kind"):
        SketchSpec.of("s", "nope", "v")


def test_sketch_agg_col_accepts_every_kind_without_warnings(spark):
    """Every registered kind builds an aggregate column (and an unknown one
    raises), with no UserWarning: Spark 4 warns on the deprecated
    PandasUDFType.GROUPED_AGG form, at each column and each SQL
    registration."""
    from grenier_spark.functions.aggregates import (register_sql_aggregates,
                                                    sketch_agg_col)

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        for name in KINDS:
            sketch_agg_col(name, "v", **PARAMS.get(name, {}))
        register_sql_aggregates(spark)
    with pytest.raises(ValueError, match="unknown sketch kind"):
        sketch_agg_col("nope", "v")


def test_weighted_rows_aggregates_match_direct_builds(spark):
    """The weighted-rows kinds aggregate a struct column; a row with a NULL
    field drops, and the bytes equal a direct build over the kept rows."""
    from pyspark.sql import functions as F

    from grenier_spark.functions.aggregates import sketch_agg_col

    rows = [("a", 1, 3.5, 2, 7.0), ("a", 2, 1.25, 5, 3.0),
            ("a", 3, None, 4, 2.0), ("b", 4, 9.0, 1, 0.5),
            ("b", 5, 2.0, 3, 8.0), ("b", 6, 4.0, 6, None)]
    df = spark.createDataFrame(
        rows, "g string, id long, v double, w long, prio double")
    got = {r.g: r for r in df.groupBy("g").agg(
        sketch_agg_col("dw", F.struct("v", "w"), alpha=0.02).alias("dw"),
        sketch_agg_col("ps", F.struct("id", "w", "prio"), k=1).alias("ps"),
    ).collect()}
    for g in ("a", "b"):
        mine = [r for r in rows if r[0] == g]
        for name, cols, params in (("dw", (2, 3), {"alpha": 0.02}),
                                   ("ps", (1, 3, 4), {"k": 1})):
            kept = [r for r in mine if all(r[c] is not None for c in cols)]
            want = KINDS[name].new(params)
            KINDS[name].update(want, np.rec.fromarrays(
                [np.array([r[c] for r in kept]) for c in cols]))
            assert bytes(got[g][name]) == want.to_bytes(), (g, name)
