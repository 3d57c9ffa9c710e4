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


def test_sketch_bytes_load_only_through_the_kind_table():
    """Outside ``core/`` (the sketches themselves), the only readers of
    sketch bytes are the loaders in the KINDS rows: every other module
    loads through ``get_kind(kind).load``, so no executor or driver path
    carries its own loader."""
    import pathlib
    import re

    import grenier_spark

    root = pathlib.Path(grenier_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] == "core":
            continue
        src = path.read_text()
        if rel == pathlib.Path("operators", "sketch_build.py"):
            start = src.index("\nKINDS = {")
            src = src[:start] + src[src.index("\n}\n", start):]
        hits += [f"{rel}:{src.count(chr(10), 0, m.start()) + 1}"
                 for m in re.finditer(r"\.from_bytes\b", src)]
    assert not hits, hits


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


def test_pandas_values_follows_the_batch_contract():
    """The pandas value reader (what the UDAFs and streams read): NULL
    cells drop; array cells concatenate and their NULL/NaN elements drop;
    int64 keys pass one exactness guard — int64 passes through untouched,
    float64 from pandas NULL promotion only below 2^53 (where int->float
    is injective: a >= 2^53 value may have lost low bits upstream and the
    mangled float round-trips cleanly, so magnitude is the only sound
    guard) and only when integral, uint64 only below 2^63 (a bare astype
    would wrap negative); struct rows with a NULL or NaN field drop."""
    import pandas as pd

    from grenier_spark.operators.sketch_build import _pandas_values

    def read(cells, dtype=np.int64):
        return _pandas_values(cells, dtype, "t")

    # scalar cells; a NULL cell drops
    assert read(pd.Series([7, None, 9], name="id")).tolist() == [7, 9]
    # array cells: a NULL element reaches pandas as NaN in float64 arrays
    cells = pd.Series([np.array([1.0, np.nan, 3.0]), None,
                       np.array([4.0, 5.0])], name="tokens")
    out = read(cells)
    assert out.dtype == np.int64 and out.tolist() == [1, 3, 4, 5]
    assert read(pd.Series([[1, None, 3]])).tolist() == [1, 3]
    assert read(cells, np.float64).tolist() == [1.0, 3.0, 4.0, 5.0]

    ints = pd.Series(np.int64([1, 2, (1 << 62) + 3]))
    out = read(ints)
    assert out.dtype == np.int64 and out.tolist() == ints.tolist()
    assert read(pd.Series(np.int64([1 << 53]))).tolist() == [1 << 53]
    # float64 holding exactly-representable sub-2^53 values: converts
    ok = pd.Series(np.float64([3.0, float((1 << 53) - 1)]))
    assert read(ok).tolist() == [3, (1 << 53) - 1]
    # 2^53+1 promotes to float64(2^53) and round-trips cleanly — the
    # corruption is upstream and undetectable, so magnitude must raise
    bad = pd.Series(np.float64([float(2**53 + 1)]), name="id")
    with pytest.raises(ValueError, match="'id'.*2\\^53"):
        read(bad)
    with pytest.raises(ValueError, match="2\\^53"):
        read(pd.Series([np.array([float(1 << 53), np.nan])]))
    with pytest.raises(ValueError, match="non-integral"):
        read(pd.Series(np.float64([3.5])))
    # uint64 representable as int64: converts; >= 2^63: raises
    oku = pd.Series(np.uint64([1, (1 << 63) - 1]))
    assert read(oku).tolist() == [1, (1 << 63) - 1]
    with pytest.raises(ValueError, match="2\\^63"):
        read(pd.Series(np.uint64([1 << 63])))

    # struct rows, as dict cells (a UDAF) or a frame of fields (a stream):
    # an int field NULL-promoted to float converts back exactly
    dw = get_kind("dw").dtype
    rows = read(pd.Series([{"v": 1.5, "w": 2.0}, {"v": None, "w": 3.0},
                           None, {"v": 2.5, "w": None},
                           {"v": float("nan"), "w": 1.0},
                           {"v": 4.0, "w": 5.0}]), dw)
    assert rows[rows.dtype.names[0]].tolist() == [1.5, 4.0]
    assert rows[rows.dtype.names[1]].dtype == np.int64
    assert rows[rows.dtype.names[1]].tolist() == [2, 5]
    frame = pd.DataFrame({"id": [1.0, 2.0, None], "w": [3.0, None, 1.0],
                          "prio": [0.5, 0.25, 0.125]})
    ps = read(frame, get_kind("ps").dtype)
    assert len(ps) == 1 and ps[0].tolist() == (1, 3, 0.5)
    with pytest.raises(ValueError, match="'w'.*non-integral"):
        read(pd.DataFrame({"id": [1], "w": [0.5], "prio": [1.0]}),
             get_kind("ps").dtype)


def _merge_stages(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("FlatMapGroupsInArrow")


def test_one_and_two_stage_merges_agree_for_every_kind(spark):
    """Over 3 input partitions, fanout=32 merges in one stage and fanout=2
    forces the salted two-stage tree (salts {0, 2} and {1}). Every
    exact-merge kind gives the same bytes in both shapes, equal to a
    single-stream build of the group; kll, tdigest and req keep their
    estimate-level contract in both."""
    import pandas as pd
    from pyspark.sql import functions as F

    from grenier_spark.operators.sketch_build import build_sketches

    rng = np.random.default_rng(5)
    n = 4000
    pdf = pd.DataFrame({
        "g": rng.choice(["a", "b"], n), "k": rng.integers(0, 1 << 20, n),
        "x": rng.gamma(2.0, 10.0, n), "w": rng.integers(1, 50, n),
        "id": rng.permutation(10 * n)[:n].astype(np.int64)})
    pdf["prio"] = pdf.w / rng.uniform(1e-9, 1.0, n)
    df = spark.createDataFrame(pdf).select(
        "g", "k", "x", F.struct("x", "w").alias("dw"),
        F.struct("id", "w", "prio").alias("ps")).repartition(3)
    column = {"dw": "dw", "ps": "ps"}
    exact = [k for k, v in KINDS.items() if v.exact_merge]
    quantile = ["kll", "tdigest", "req"]
    params = {**PARAMS, "kll": {"k": 200}, "tdigest": {"delta": 100},
              "req": {"k": 32}}
    specs = [SketchSpec.of(k, k, column.get(k, "x" if KINDS[k].input.dtype
                                            is np.float64 else "k"),
                           **params.get(k, {}))
             for k in exact + quantile]
    one = build_sketches(df, specs, ["g"], fanout=32)
    two = build_sketches(df, specs, ["g"], fanout=2)
    assert (_merge_stages(one), _merge_stages(two)) == (1, 2)
    got = [{(r.g, r.sketch_name): (bytes(r.sketch), r.n_values)
            for r in res.collect()} for res in (one, two)]

    for g, rows in pdf.groupby("g"):
        stream = {"k": rows.k.to_numpy(), "x": rows.x.to_numpy(),
                  "dw": np.rec.fromarrays([rows.x.to_numpy(),
                                           rows.w.to_numpy()]),
                  "ps": np.rec.fromarrays([rows.id.to_numpy(),
                                           rows.w.to_numpy(),
                                           rows.prio.to_numpy()])}
        for spec in specs:
            kind = KINDS[spec.kind]
            blobs = [shape[(g, spec.name)][0] for shape in got]
            assert got[0][(g, spec.name)][1] == got[1][(g, spec.name)][1] \
                == len(rows), spec.name
            if kind.exact_merge:
                whole = kind.new(spec.p)
                kind.update(whole, stream[spec.column])
                assert blobs[0] == blobs[1] == whole.to_bytes(), \
                    (g, spec.name)
                continue
            x = np.sort(rows.x.to_numpy())
            for blob in blobs:
                est = kind.load(blob).quantiles([0.1, 0.5, 0.9])
                for q, v in zip((0.1, 0.5, 0.9), est):
                    assert abs(np.searchsorted(x, v, side="right") / len(x)
                               - q) < 0.05, (g, spec.name, q)
