"""Simulates the driver's correctness gate: runs every queries() entry at
sf0.01 and compares row counts, schemas, and values against oracle_sql()
via DuckDB on the same parquet tables."""

import json
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    result = entrymod.entry(spark)
    rows = result.collect()
    assert len(rows) >= 0
    assert set(result.columns) == {"token", "est"}


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_vs_oracle(spark, duck, name):
    query = entrymod.queries()[name]
    result = query(spark, SF_DIR).toPandas()
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        # rows-only check
        assert len(result) >= 0
        return
    expected = duck.execute(oracle).df()
    assert sorted(result.columns) == sorted(expected.columns), name
    assert len(result) == len(expected), name
    got, want = _normalize(result), _normalize(expected)
    for col in got.columns:
        assert got[col].astype(str).tolist() == want[col].astype(str).tolist(), (
            f"{name}: column {col} mismatch"
        )


def test_bench_extra_reports_quartiles_and_jobs(spark, sf_dir, monkeypatch, capsys):
    """bench_extra.py times a declared query in-process and prints one
    JSON row per query: median and quartiles of the samples, the sample
    count and the Spark jobs the query launched."""
    import bench_extra

    monkeypatch.setattr(bench_extra, "SF_DIR", sf_dir)
    monkeypatch.setattr(bench_extra, "CPUS", spark.sparkContext.defaultParallelism)
    saved = {key: spark.conf.get(key) for key in bench_extra.SPLIT_CONF}
    try:
        bench_extra.main(["hll_distinct_user_id", "--repeats", "2"])
    finally:  # the session is shared with the other tests
        for key, value in saved.items():
            spark.conf.set(key, value)
    row = json.loads(capsys.readouterr().out.splitlines()[0])["hll_distinct_user_id"]
    assert row["n"] == 2 and row["jobs"] >= 1
    assert row["q1_s"] <= row["median_s"] <= row["q3_s"]
