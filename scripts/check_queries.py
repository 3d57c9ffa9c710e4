"""Run the driver's correctness-gate compare for a subset of queries()
entries: `python scripts/check_queries.py name [name ...]` (defaults to
sf0.01; set SF_DIR to override). Mirrors tests/test_entry_oracles.py."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod

SF = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = pd.to_numeric(df[c]).astype("int64")
        else:
            df[c] = pd.to_numeric(df[c]).astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: check_queries.py name [name ...]")
        return 2
    from pyspark.sql import SparkSession
    # one worker thread and one shuffle partition per usable core
    cores = len(os.sched_getaffinity(0))
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false")
             .appName("check-queries").getOrCreate())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    failed = []
    for name in names:
        got = normalize(qs[name](spark, SF).toPandas())
        exp = normalize(con.execute(osql[name]).df())
        try:
            assert list(got.columns) == list(exp.columns), \
                (list(got.columns), list(exp.columns))
            assert len(got) == len(exp), (len(got), len(exp))
            pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                          check_exact=False, rtol=1e-12,
                                          atol=0)
            print(f"PASS {name}: {len(got)} rows")
        except AssertionError as e:
            failed.append(name)
            print(f"FAIL {name}: {e}")
            print("spark:", got.head(8).to_string())
            print("duck :", exp.head(8).to_string())
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
