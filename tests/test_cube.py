"""sketch_cube: every grouping-set cell equals a direct build; the
lattice never rescans the source (operators/cube.py)."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from grenier_spark.operators.cube import sketch_cube
from grenier_spark.operators.sketch_build import SketchSpec, build_sketches


@pytest.fixture(scope="module")
def ev(spark):
    rng = np.random.default_rng(7)
    n = 4000
    pdf = pd.DataFrame({
        "a": rng.choice(["x", "y", "z"], n),
        "b": rng.choice(["p", "q"], n),
        "c": rng.choice(["s", "t"], n),
        "k": rng.integers(0, 700, n).astype(np.int64),
    })
    return spark.createDataFrame(pdf), pdf


SPEC = [SketchSpec.of("h", "hll", "k", p=10),
        SketchSpec.of("v", "kmv", "k", k=64),
        SketchSpec.of("m", "mh", "k", k=32)]


def test_every_cell_equals_direct_build(spark, ev):
    df, pdf = ev
    cells = sketch_cube(df, ["a", "b"], SPEC).toPandas()
    # 3*2 leaves + 3 + 2 + 1 = 12 groups x 3 specs
    assert len(cells) == 36
    for r in cells.itertuples():
        sub = df
        if r.a != "ALL":
            sub = sub.where(F.col("a") == r.a)
        if r.b != "ALL":
            sub = sub.where(F.col("b") == r.b)
        direct = build_sketches(sub, SPEC).toPandas()
        want = {d.sketch_name: bytes(d.sketch) for d in direct.itertuples()}
        assert bytes(r.sketch) == want[r.sketch_name], (r.a, r.b,
                                                        r.sketch_name)
        mask = np.ones(len(pdf), dtype=bool)
        if r.a != "ALL":
            mask &= (pdf.a == r.a).to_numpy()
        if r.b != "ALL":
            mask &= (pdf.b == r.b).to_numpy()
        assert r.n_rows == int(mask.sum())


def test_three_dims_full_lattice(spark, ev):
    df, pdf = ev
    cells = sketch_cube(df, ["a", "b", "c"],
                        [SketchSpec.of("h", "hll", "k", p=9)]).toPandas()
    # 12 leaves + 6 (ab) + 6 (ac) + 4 (bc) + 3 (a) + 2 (b) + 2 (c) + 1
    assert len(cells) == 36
    total = cells[(cells.a == "ALL") & (cells.b == "ALL")
                  & (cells.c == "ALL")]
    assert len(total) == 1 and total.n_rows.iloc[0] == len(pdf)
    direct = build_sketches(df, [SketchSpec.of("h", "hll", "k", p=9)])
    assert bytes(total.sketch.iloc[0]) == bytes(direct.collect()[0].sketch)


def test_lattice_never_rescans_source(spark, ev, tmp_path):
    """Beyond the leaf build, coarser cells must be sketch algebra: the
    cube frame's physical plan reads the checkpointed leaf rows, not the
    parquet source."""
    df, pdf = ev
    p = str(tmp_path / "src.parquet")
    df.write.mode("overwrite").parquet(p)
    src = spark.read.parquet(p)
    cube = sketch_cube(src, ["a", "b"], [SketchSpec.of("h", "hll", "k",
                                                       p=9)])
    plan = cube._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "FileScan" not in plan, plan


def test_validation(spark, ev):
    df, _ = ev
    with pytest.raises(ValueError, match="at least one dimension"):
        sketch_cube(df, [], SPEC)
    with pytest.raises(ValueError, match="order-sensitive"):
        sketch_cube(df, ["a"], [SketchSpec.of("q", "kll", "k", k=200)])


def test_non_string_dims_cast_to_string(spark, ev):
    """Dimension columns of any type cube fine: output dims are strings,
    'ALL' labels union with cast leaf values."""
    df, pdf = ev
    df2 = df.withColumn("n", (F.length("a") + F.when(F.col("b") == "p", 7)
                              .otherwise(9)).cast("long"))
    cells = sketch_cube(df2, ["n"], [SketchSpec.of("h", "hll", "k",
                                                   p=9)]).toPandas()
    assert set(cells.n) == {"8", "10", "ALL"}
    tot = cells[cells.n == "ALL"]
    assert len(tot) == 1 and tot.n_rows.iloc[0] == len(pdf)
