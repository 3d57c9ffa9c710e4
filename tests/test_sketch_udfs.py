"""The sketch and hash UDFs at the Arrow boundary: int64 keys keep their
bits next to a NULL, a NULL argument gives a NULL result, and every SQL
function equals its Column twin."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from grenier_spark.core.bits import wang64
from grenier_spark.core.jmphash import jump_bucket
from grenier_spark.functions import (bloom_cardinality_col,
                                     bloom_contains_col, cms_query_col,
                                     csk_f2_col, cuckoo_contains_col,
                                     dd_quantiles_col, dd_stats_col,
                                     ddsum_col, hll_card_col,
                                     hll_card_orig_col, jump_bucket_col,
                                     kll_quantiles_col, kmv_est_col,
                                     moments_col, req_quantiles_col,
                                     tdigest_quantiles_col, wang64_col)
from grenier_spark.functions._udf import broadcast_probe_udf
from grenier_spark.functions.register import register_sql_functions
from grenier_spark.operators.sketch_build import (SketchSpec, build_sketches,
                                                  get_kind)

BIG = 2**60 + 1  # above 2^53: a float64 round trip changes it


def _sketch(kind, values, **params):
    s = get_kind(kind).new(params)
    get_kind(kind).update(s, np.asarray(values))
    return s.to_bytes()


def _by_k(rows, col):
    return {r["k"]: r[col] for r in rows}


def test_hash_keys_keep_bits_next_to_null(spark):
    register_sql_functions(spark)
    df = spark.createDataFrame([(BIG,), (None,)], "k long").coalesce(1)
    df.createOrReplaceTempView("udf_big_keys")
    ks = np.array([BIG], dtype=np.uint64)
    want_w = int(wang64(ks).view(np.int64)[0])
    want_j = int(jump_bucket(ks, 1000)[0])
    col = df.select("k", wang64_col("k").alias("w"),
                    jump_bucket_col("k", 1000).alias("j")).collect()
    sql = spark.sql("SELECT k, wang64(k) AS w, jump_bucket(k, 1000) AS j "
                    "FROM udf_big_keys").collect()
    for got in (col, sql):
        assert _by_k(got, "w") == {BIG: want_w, None: None}
        assert _by_k(got, "j") == {BIG: want_j, None: None}


def test_probes_keep_key_bits_next_to_null(spark):
    toks = [1, 2, BIG, BIG]
    cms, bloom = _sketch("cms", toks), _sketch("bloom", toks)
    ckf = _sketch("ckf", toks, n_buckets=64)
    df = spark.createDataFrame(
        [(cms, bloom, ckf, BIG), (cms, bloom, ckf, None)],
        "cms binary, bloom binary, ckf binary, k long").coalesce(1)
    got = df.select("k", cms_query_col("cms", "k").alias("c"),
                    bloom_contains_col("bloom", "k").alias("b"),
                    cuckoo_contains_col("ckf", "k").alias("f")).collect()
    assert _by_k(got, "c") == {BIG: 2, None: None}
    assert _by_k(got, "b") == {BIG: True, None: None}
    assert _by_k(got, "f") == {BIG: True, None: None}


def test_broadcast_probe_gives_null_for_null_key(spark):
    """The broadcast probe of the Bloom prefilters: a NULL key gives a
    NULL result, and a key above 2^53 next to it keeps its bits."""
    bloom = _sketch("bloom", [1, BIG])
    bc = spark.sparkContext.broadcast(bloom)
    probe = broadcast_probe_udf("boolean", "bloom", "contains", bc,
                                deterministic=False)
    df = spark.createDataFrame([(BIG,), (BIG + 2,), (None,)],
                               "k long").coalesce(1)
    got = df.select("k", probe(F.col("k")).alias("b")).collect()
    assert _by_k(got, "b") == {BIG: True, BIG + 2: False, None: None}


def test_broadcast_probe_over_key_arrays(spark):
    """``array<bigint>`` keys: one estimate per element, a NULL element
    gives a NULL element, a NULL cell a NULL cell and an empty array an
    empty array — per element equal to ``CountMin.query``."""
    toks = [1, 2, 2, BIG, BIG, BIG]
    blob = _sketch("cms", toks, depth=3, width=64)
    cm = get_kind("cms").load(blob)
    bc = spark.sparkContext.broadcast(blob)
    est = broadcast_probe_udf("array<bigint>", "cms", "query", bc)
    cells = [[1, None, BIG], None, [], [2, 7], [None]]
    df = spark.createDataFrame(list(enumerate(cells)),
                               "i int, ks array<bigint>").coalesce(1)
    got = {r.i: r.e for r in df.select(
        "i", est(F.col("ks")).alias("e")).collect()}

    def query(k):
        return int(cm.query(np.array([k], dtype=np.int64).view(
            np.uint64))[0])

    assert got == {i: None if c is None else
                   [None if k is None else query(k) for k in c]
                   for i, c in enumerate(cells)}
    assert got[0][2] == 3 and got[3][0] == 2


def test_broadcast_probe_loads_once_per_broadcast(monkeypatch):
    """Spark-free: the sketch loads once per broadcast, however many
    batches probe it, and a second broadcast loads its own."""
    import dataclasses

    import pyarrow as pa

    from grenier_spark.functions import _udf
    from grenier_spark.operators import sketch_build

    loads = []
    kind = sketch_build.KINDS["cms"]

    def counted(blob):
        loads.append(blob)
        return kind.load(blob)

    monkeypatch.setitem(sketch_build.KINDS, "cms",
                        dataclasses.replace(kind, load=counted))
    monkeypatch.setattr(_udf, "_LOADED", {})

    class Bc:   # what a worker sees of a broadcast: its value
        def __init__(self, value):
            self.value = value

    one = Bc(_sketch("cms", [5, 5, 6], depth=3, width=64))
    two = Bc(_sketch("cms", [5], depth=3, width=64))
    keys = pa.array([5, 6, None], pa.int64())
    for bc, want in ((one, [2, 1, None]), (one, [2, 1, None]),
                     (two, [1, 0, None]), (one, [2, 1, None])):
        probe = broadcast_probe_udf("bigint", "cms", "query", bc)
        assert probe.batch(pa.int64(), keys).to_pylist() == want
    assert loads == [one.value, two.value]


def test_null_sketch_gives_null_estimate(spark):
    register_sql_functions(spark)
    src = spark.createDataFrame([("a", [1, 2, 3], 1.5), ("a", [4], 2.5)],
                                "g string, tokens array<long>, v double")
    res = build_sketches(src, [SketchSpec.of("h", "hll", "tokens", p=10),
                               SketchSpec.of("d", "dd", "v")],
                         group_cols=["g"])
    groups = spark.createDataFrame([("a",), ("none",)], "g string")

    def joined(name):
        return groups.join(res.where(F.col("sketch_name") == name)
                           .select("g", "sketch"), "g", "left")

    card = {r.g: r.c for r in joined("h").select(
        "g", hll_card_col("sketch").alias("c")).collect()}
    assert card["none"] is None and card["a"] > 0
    stats = {r.g: r.s for r in joined("d").select(
        "g", dd_stats_col("sketch").alias("s")).collect()}
    assert stats["none"] is None and stats["a"]["n"] == 2
    joined("h").createOrReplaceTempView("udf_null_sketch")
    sql = {r.g: r.c for r in spark.sql(
        "SELECT g, hll_card(sketch) AS c FROM udf_null_sketch").collect()}
    assert sql == card


# SQL name -> (SQL expression, its Column twin) over the table below
TWINS = {
    "hll_card": ("hll_card(hll)", lambda: hll_card_col("hll")),
    "hll_card_original": ("hll_card_original(hll)",
                          lambda: hll_card_orig_col("hll")),
    "bloom_cardinality": ("bloom_cardinality(bloom)",
                          lambda: bloom_cardinality_col("bloom")),
    "kmv_card": ("kmv_card(kmv)", lambda: kmv_est_col("kmv")),
    "csk_f2": ("csk_f2(csk)", lambda: csk_f2_col("csk")),
    "ddsum_value": ("ddsum_value(ddsum)", lambda: ddsum_col("ddsum")),
    "mom_mean": ("mom_mean(mom)", lambda: moments_col("mom")["mean"]),
    "mom_variance": ("mom_variance(mom)",
                     lambda: moments_col("mom")["variance"]),
    "kll_quantile": ("kll_quantile(kll, 0.5)",
                     lambda: kll_quantiles_col("kll", [0.5])[0]),
    "tdigest_quantile": ("tdigest_quantile(tdigest, 0.5)",
                         lambda: tdigest_quantiles_col("tdigest", [0.5])[0]),
    "req_quantile": ("req_quantile(req, 0.5)",
                     lambda: req_quantiles_col("req", [0.5])[0]),
    "dd_quantile": ("dd_quantile(dd, 0.5)",
                    lambda: dd_quantiles_col("dd", [0.5])[0]),
    "wang64": ("wang64(k)", lambda: wang64_col("k")),
    "jump_bucket": ("jump_bucket(k, 37)",
                    lambda: jump_bucket_col("k", 37).cast("long")),
}


@pytest.fixture(scope="module")
def twin_table(spark):
    rng = np.random.default_rng(11)
    rows = []
    for i, k in enumerate([BIG, -5]):
        keys = rng.integers(-2**62, 2**62, 500)
        vals = rng.lognormal(0.0, 1.0, 500)
        rows.append((i, k, *(_sketch(kind, keys) for kind in
                             ("hll", "bloom", "kmv", "csk")),
                     *(_sketch(kind, vals) for kind in
                       ("ddsum", "mom", "kll", "tdigest", "req", "dd"))))
    rows.append((2, None) + (None,) * 10)
    cols = ["hll", "bloom", "kmv", "csk", "ddsum", "mom", "kll", "tdigest",
            "req", "dd"]
    df = spark.createDataFrame(
        rows, "i int, k long, " + ", ".join(f"{c} binary" for c in cols))
    df.coalesce(1).createOrReplaceTempView("udf_twins")
    register_sql_functions(spark)
    return spark.table("udf_twins")


def test_twins_cover_every_registered_function(spark):
    class Recorder:
        def __init__(self):
            self.names = []
            self.udf = self

        def register(self, name, fn):
            self.names.append(name)

    rec = Recorder()
    register_sql_functions(rec)
    assert sorted(rec.names) == sorted(TWINS)


@pytest.mark.parametrize("name", sorted(TWINS))
def test_sql_function_equals_column_twin(spark, twin_table, name):
    sql_expr, column = TWINS[name]
    sql = spark.sql(f"SELECT i, {sql_expr} AS v FROM udf_twins").collect()
    col = twin_table.select("i", column().alias("v")).collect()
    got = {r.i: r.v for r in sql}
    assert got == {r.i: r.v for r in col}
    assert got[2] is None and got[0] is not None and got[1] is not None
